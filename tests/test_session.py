"""Session defaults that must hold on any host."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROBE = "from world_vaccination_coverage_etl_spark.session import DEFAULT_CPUS; print(DEFAULT_CPUS)"


def _default_cpus(env_value: str | None) -> int:
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    if env_value is not None:
        env["SPARK_GRAFT_CPUS"] = env_value
    out = subprocess.run(
        [sys.executable, "-c", PROBE],
        cwd=ROOT, env=env, capture_output=True, text=True, check=True,
    )
    return int(out.stdout.strip())


def test_cpus_default_to_this_hosts_affinity_when_env_unset():
    assert _default_cpus(None) == len(os.sched_getaffinity(0))


def test_cpus_env_overrides_the_detected_count():
    assert _default_cpus("3") == 3
