"""Paper-flow benchmark: one run of one workload.

Usage, from the repository root::

    python3 perfbench/run.py --workload etl_refresh --seed 1 --seconds 10 --trace 0

Workloads: ``etl_refresh``, ``dashboard_requests``, ``registry_mix``
(see README.md).  The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``, with the end-to-end
metrics of BENCHMARK.json when ``--trace 0`` and its per-layer metrics
when ``--trace 1``.  The line before it records the host (``cpus``), the
seed and the workload's figures under their own names.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from common import PeakMemory, Run, host_cpus, pin_host, remove_tree  # noqa: E402

PACKAGE = "world_vaccination_coverage_etl_spark"
WORKLOADS = ("etl_refresh", "dashboard_requests", "registry_mix")


def _stop_spark() -> None:
    """Stop any live session and the JVM behind it, and wait for it."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — any failure to exit ends in a kill
            proc.kill()
            proc.wait(timeout=30)


def _result(r: Run, spec: dict, peak_mb: float) -> dict:
    key = "per_layer" if r.trace else "end_to_end"
    if not r.trace:
        r.metrics["peak_pss_mb"] = peak_mb
    metrics = {}
    for m in spec[key]:
        value = r.metrics.get(m["name"])
        if value is None:
            if not r.trace:
                raise KeyError(f"workload {r.workload} did not measure {m['name']}")
            value = 0.0  # a layer this workload does not run
        metrics[m["name"]] = {"value": float(value), "unit": m["unit"]}
    return {
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": metrics,
    }


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # on SIGTERM, unwind so the session, the JVM and the run directory go too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    missing = [
        path for path in (
            os.path.join(ROOT, PACKAGE, "__init__.py"),
            os.path.join(ROOT, "tools", "check_correctness.py"),
            os.path.join(ROOT, "BENCHMARK.json"),
        )
        if not os.path.isfile(path)
    ]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)

    cpus = host_cpus()
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    pin_host(ROOT, run_dir, cpus)
    sys.path.insert(1, ROOT)
    r = Run(
        root=ROOT, run_dir=run_dir, workload=args.workload, seed=args.seed,
        seconds=args.seconds, trace=bool(args.trace), cpus=cpus, t_start=T_START,
    )
    try:
        with PeakMemory() as mem:
            importlib.import_module(args.workload).run(r)
        result = _result(r, spec, mem.peak_mb)
    finally:
        try:
            _stop_spark()
        finally:
            remove_tree(run_dir)
    info = {"workload": r.workload, "seed": r.seed, "cpus": cpus, "trace": int(r.trace)}
    info.update(r.info)
    print(json.dumps(info))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
