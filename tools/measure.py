"""The one measurement core: warmup, timed noop-sink samples, stage
metrics from the status store and the SCALING.md section splicer.

``bench.py`` and every ``tools/`` probe time queries through this
module, so a number from any of them is taken in the same measurement
context as the BASELINE.md rows.

As a script it times a subset of the registry at one or more
scale-factor dirs (relative dirs resolve against the repo root)::

    python tools/measure.py [--sf DIR[,DIR...]] [--runs N] query ...

It warms once per SF, keeps the best of N runs, and runs pooled
queries cold on every run (the pool build is the computation being
measured).  It prints the runs and the min for each (SF, query); with
more than one SF it also prints a markdown table with
``ratio/volume`` = last SF / first SF / 10^(k-1), for k SF dirs a
decade apart.
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from world_vaccination_coverage_etl_spark.queries import REGISTRY  # noqa: E402
from world_vaccination_coverage_etl_spark.queries._core import (  # noqa: E402
    POOLED_QUERIES,
    clear_pools,
)
from world_vaccination_coverage_etl_spark.schemas import STAR_TABLES  # noqa: E402
from world_vaccination_coverage_etl_spark.session import get_spark  # noqa: E402
from world_vaccination_coverage_etl_spark.sources.registry import load_table  # noqa: E402


def run(df) -> None:
    """Execute ``df`` to completion through the ``noop`` sink: every
    operator runs and nothing is collected to the driver."""
    df.write.format("noop").mode("overwrite").save()


def warm(spark, sf_dir: str) -> None:
    """Warm the JVM, codegen and Python-worker pools outside any
    measured pass.

    q1 warms codegen; one scan of every warehouse table pages the data
    in, so no query in a sorted pass depends on a neighbour having read
    its table first; and the full Python-worker pool is spawned, since
    the fanned-out Arrow queries run ``dp * 4`` concurrent workers and
    whichever ran first would otherwise pay the spawn storm.
    """
    run(REGISTRY["q1_pricing_summary"].fn(spark, sf_dir))
    for t in STAR_TABLES:
        run(load_table(spark, sf_dir, t))
    dp = spark.sparkContext.defaultParallelism
    pool = spark.range(dp * 4, numPartitions=dp)
    run(pool.mapInPandas(lambda it: it, "id long"))


def sample(spark, query: str, sf_dir: str, cold: bool = False) -> float:
    """Seconds to build and run registry ``query`` through the noop sink.

    ``cold`` drops every result pool first when the query is pooled, so
    the sample measures the real computation rather than a pool hit.
    A full GC runs before the clock starts: tens of varied queries in
    one JVM leave garbage and weakly-referenced cleaner state that only
    a full GC releases, and without it later Arrow-UDF queries measure
    3-8x slower (measured 31.7 s -> 3.9 s on one query), which a
    per-executor-heap cluster never sees.
    """
    if cold and query in POOLED_QUERIES:
        clear_pools()
    spark._jvm.System.gc()
    t0 = time.perf_counter()
    run(REGISTRY[query].fn(spark, sf_dir))
    return time.perf_counter() - t0


def release(spark) -> None:
    """Drop cached tables and persistent RDDs and run a full GC, so the
    next probe measures its own plan and not the storage a previous
    probe left behind (heavy intermediates left persistent once starved
    a later broadcast build into an OOM)."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()
    spark._jvm.System.gc()


def _store(spark):
    """The app status store (the one the UI serves; it is populated with
    the UI off), after the listener bus has delivered every event."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    return sc.statusStore()


def _items(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def jobs(spark) -> dict[int, list[int]]:
    """``{job id: stage ids}`` for every job the status store retains."""
    return {
        j.jobId(): _items(j.stageIds())
        for j in _items(_store(spark).jobsList(None))
    }


def stages(spark, ids: set[int] | None = None) -> list[dict]:
    """One row per retained stage attempt (all of them, or those whose
    stage id is in ``ids``): status, task count, executor run and
    deserialize ms, shuffle read/write, spill and peak execution
    memory in bytes, and the call-site name and details."""
    store = _store(spark)
    defaults = [getattr(store, f"stageList$default${i}")() for i in (2, 3, 4, 5)]
    rows = []
    for s in _items(store.stageList(None, *defaults)):
        if ids is not None and s.stageId() not in ids:
            continue
        rows.append({
            "id": s.stageId(),
            "status": s.status().toString(),
            "tasks": s.numCompleteTasks() or s.numTasks(),
            "run_ms": s.executorRunTime(),
            "deser_ms": s.executorDeserializeTime(),
            "shuffle_r": s.shuffleReadBytes(),
            "shuffle_w": s.shuffleWriteBytes(),
            "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "peak": s.peakExecutionMemory(),
            "name": s.name(),
            "details": s.details(),
        })
    return rows


def stage_totals(spark) -> dict:
    """Cumulative counters over every retained stage, plus executor GC
    time.  The difference of two readings attributes one run's cost to
    spill, GC, CPU or shuffle."""
    rows = stages(spark)
    ex = _store(spark).executorList(True)
    return {
        "spill": sum(r["spill"] for r in rows),
        "run_ms": sum(r["run_ms"] for r in rows),
        "shuffle_w": sum(r["shuffle_w"] for r in rows),
        "peak": max((r["peak"] for r in rows), default=0),
        "gc_ms": sum(e.totalGCTime() for e in _items(ex)),
    }


def parse_only(args: list[str], known) -> set[str] | None:
    """Remove ``--only a,b`` from ``args`` and return the names, or None
    when the flag is absent.  Exits listing any name not in ``known``."""
    if "--only" not in args:
        return None
    i = args.index("--only")
    only = set(args[i + 1].split(","))
    del args[i : i + 2]
    unknown = only - set(known)
    if unknown:
        raise SystemExit(f"unknown queries: {sorted(unknown)}")
    return only


def replace_section(path: str, heading: str, lines: list[str]) -> None:
    """Write ``lines`` (which start with ``heading``) into the markdown
    file at ``path``, replacing only the text from ``heading`` up to the
    next ``## `` heading.  A missing section is appended; every other
    byte of the file is kept."""
    text = open(path).read() if os.path.exists(path) else ""
    block = "\n".join(lines).rstrip("\n") + "\n"
    start = re.search("^" + re.escape(heading), text, re.M)
    if start is None:
        if text and not text.endswith("\n\n"):
            text += "\n" if text.endswith("\n") else "\n\n"
        text += block
    else:
        nxt = re.compile("^## ", re.M).search(text, start.end())
        tail = "\n" + text[nxt.start():] if nxt else ""
        text = text[: start.start()] + block + tail
    with open(path, "w") as fh:
        fh.write(text)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()
    unknown = sorted(set(args.queries) - set(REGISTRY))
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    sf_dirs = [os.path.join(REPO, d) for d in args.sf.split(",")]
    labels = [os.path.basename(d.rstrip("/")) for d in sf_dirs]

    spark = get_spark("measure")
    best: dict[str, dict[str, float]] = {n: {} for n in args.queries}
    for label, sf_dir in zip(labels, sf_dirs):
        warm(spark, sf_dir)
        for name in args.queries:
            ts = [
                round(sample(spark, name, sf_dir, cold=True), 3)
                for _ in range(args.runs)
            ]
            best[name][label] = min(ts)
            print(f"{label} {name}: min={min(ts)} runs={ts}", flush=True)

    if len(labels) > 1:
        vol = 10 ** (len(labels) - 1)
        print("| query | " + " | ".join(f"{b} (s)" for b in labels)
              + " | ratio/volume |")
        print("|" + "---|" * (len(labels) + 2))
        for name, row in best.items():
            first, last = row[labels[0]], row[labels[-1]]
            ratio = round(last / first / vol, 3) if first else None
            cells = " | ".join(str(row[b]) for b in labels)
            print(f"| {name} | {cells} | {ratio} |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
