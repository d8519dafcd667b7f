"""Per-stage empirical profile of one registry query (guide §1.1).

Runs the named query (bench-faithful warmup + noop sink), then dumps
per-stage metrics from the app status store: executor run time,
shuffle read/write bytes, task counts, python boundary time.  This is
the "open the Stages tab" loop from the optimization guide, scripted
for a headless sandbox; the status store is populated with the UI off,
so no port is opened.

Usage::

    python tools/stage_profile.py [--sf DIR] [--runs N] query [query ...]
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import measure  # noqa: E402
from world_vaccination_coverage_etl_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    spark = get_spark("stage_profile")
    measure.warm(spark, args.sf)
    dp = spark.sparkContext.defaultParallelism

    for name in args.queries:
        for run_i in range(args.runs):
            jobs_before = set(measure.jobs(spark))
            wall = measure.sample(spark, name, args.sf)
            jobs = [s for j, s in measure.jobs(spark).items()
                    if j not in jobs_before]
            stage_ids = {s for ss in jobs for s in ss}
            rows = []
            for s in measure.stages(spark, stage_ids):
                if s["status"] == "SKIPPED":
                    rows.append((s["id"], 0.0, 0, "SKIPPED", "", 0, 0, 0.0))
                    continue
                rows.append((
                    s["id"],
                    s["run_ms"] / 1e3,
                    s["tasks"],
                    s["name"][:60],
                    s["details"].split("\n")[0][:60],
                    s["shuffle_r"],
                    s["shuffle_w"],
                    s["deser_ms"] / 1e3,
                ))
            # submissionTime-ordered wall attribution is messy in local
            # mode (stages overlap); report executor time as the cost
            # signal, which is what we can actually reduce.
            rows.sort(key=lambda r: -r[1])
            print(f"\n=== {name} run {run_i}: wall {wall:.3f}s, "
                  f"{len(jobs)} jobs, {len(stage_ids)} stages, "
                  f"{sum(r[2] for r in rows)} tasks ===")
            tot = sum(r[1] for r in rows)
            print(f"  total executorRunTime {tot:.2f}s "
                  f"(x{tot/wall if wall else 0:.1f} of wall on {dp} cores)")
            for sid, rt, nt, nm, det, srd, swr, deser in rows[:14]:
                extra = ""
                if srd or swr:
                    extra = f" shufR={srd/1e6:.1f}MB shufW={swr/1e6:.1f}MB"
                if deser > 0.05 * max(rt, 0.01):
                    extra += f" deser={deser:.2f}s"
                if det:
                    extra += f"  [{det}]"
                print(f"  stage {sid:>4} {rt:7.2f}s exec, {nt:>3} tasks  "
                      f"{nm}{extra}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
