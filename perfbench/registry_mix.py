"""Workload ``registry_mix``: thirteen registry queries over a fixed
star schema.

The queries cover the three kinds of plan the registry holds:
Catalyst-only, Python-kernel and staged/pooled.  Each runs once per pass
and is timed until its result is in the Spark driver as a pandas frame,
which is then compared with the query's DuckDB oracle by
``tools/check_correctness.compare``.  Before each staged query the
process-wide pools are cleared, because a user running one query pays
the cold cost.

The data is fixed (``star.py``), not drawn from the workload seed, so
the slow oracle answers (the brute-force dedup oracles, ``STORED``) can
be computed once: ``make_oracles.py`` stores them in ``oracle/``, keyed
by the SHA-256 of the oracle SQL and of the data definition.  The other
oracles are computed with DuckDB in every run.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import sys
import time

import star
from common import (
    Clock,
    Run,
    geomean,
    median,
    restart_session,
    session_conf,
)
from layers import Spans, layer_totals, read_event_log, reconcile

HERE = os.path.dirname(os.path.abspath(__file__))
ORACLE_DIR = os.path.join(HERE, "oracle")

QUERIES = (
    "q1_pricing_summary",
    "q5_region_revenue",
    "q7_volume_shipping",
    "q13_customer_distribution",
    "q21_waiting_supplier",
    "agg_welch_pvalue",
    "agg_window_compare",
    "unpivot_melt",
    "minhash_near_dup",
    "embedding_dup_pairs",
    "pagerank_dup_graph",
    "curation_pipeline",
    "dup_cluster_sizes",
)
PYTHON_KERNEL = ("minhash_near_dup", "embedding_dup_pairs")
STAGED = ("pagerank_dup_graph", "curation_pipeline", "dup_cluster_sizes")
# brute-force oracles that take seconds to minutes: answers kept in oracle/
STORED = PYTHON_KERNEL + STAGED


def write_data(out_dir: str) -> int:
    return star.write(star.build(), out_dir)


def data_key() -> str:
    """What the data depends on: the generator and NumPy's generator."""
    import numpy

    with open(os.path.join(HERE, "star.py"), "rb") as fh:
        h = hashlib.sha256(fh.read())
    h.update(numpy.__version__.encode())
    return h.hexdigest()


def correctness_tool(root: str):
    """``tools/check_correctness.py`` of the checkout, imported."""
    tools = os.path.join(root, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import check_correctness

    return check_correctness


def oracle_sql(name: str, data_dir: str, data: str) -> tuple[str, str]:
    """The oracle SQL of ``name`` and its key.  The key is taken over
    the SQL with the data directory written as ``{DATA}``, so it does
    not depend on where the data was written."""
    from world_vaccination_coverage_etl_spark.queries import REGISTRY
    from world_vaccination_coverage_etl_spark.queries._core import resolve_oracle

    sql = resolve_oracle(REGISTRY[name], data_dir)
    key = hashlib.sha256((data + "\n" + sql.replace(data_dir, "{DATA}")).encode())
    return sql, key.hexdigest()


def expected(root: str, data_dir: str, data: str) -> dict:
    """Every query's oracle answer: read from ``oracle/`` for ``STORED``
    queries, computed with DuckDB for the others."""
    import pandas as pd

    with open(os.path.join(ORACLE_DIR, "manifest.json"), encoding="utf-8") as fh:
        manifest = json.load(fh)
    con = correctness_tool(root).duck_connect(data_dir)
    answers = {}
    try:
        for name in QUERIES:
            sql, key = oracle_sql(name, data_dir, data)
            if name not in STORED:
                answers[name] = con.execute(sql).fetchdf()
            elif manifest.get(name) == key:
                answers[name] = pd.read_parquet(os.path.join(ORACLE_DIR, f"{name}.parquet"))
            else:
                raise RuntimeError(
                    f"stored oracle answer of {name} does not match the data or its "
                    "oracle SQL; run python3 perfbench/make_oracles.py"
                )
    finally:
        con.close()
    return answers


def _warm(spark, data_dir: str) -> None:
    """The registry bench's warm-up: one query, a scan of every table
    and one Python worker round trip, so the pass does not pay JVM
    class loading and the first worker start."""
    from world_vaccination_coverage_etl_spark.queries import REGISTRY
    from world_vaccination_coverage_etl_spark.sources.registry import load_table

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    noop(REGISTRY["q1_pricing_summary"].fn(spark, data_dir))
    for t in star.TABLES:
        noop(load_table(spark, data_dir, t))
    dp = spark.sparkContext.defaultParallelism
    noop(spark.range(dp * 4, numPartitions=dp).mapInPandas(lambda it: it, "id long"))


def _pass(spark, data_dir: str, spans: Spans | None = None) -> tuple[dict, dict, float]:
    """Run every query once; returns (seconds, results, wall seconds)."""
    from world_vaccination_coverage_etl_spark.queries import REGISTRY
    from world_vaccination_coverage_etl_spark.queries._core import clear_pools

    secs, results = {}, {}
    t_pass = time.perf_counter()
    for name in QUERIES:
        if name in STAGED:
            clear_pools()
        span = spans.span(f"queries.{name}") if spans else contextlib.nullcontext()
        with span:
            t0 = time.perf_counter()
            results[name] = REGISTRY[name].fn(spark, data_dir).toPandas()
            secs[name] = time.perf_counter() - t0
    return secs, results, time.perf_counter() - t_pass


def _check(r: Run, results: dict, answers: dict) -> None:
    compare = correctness_tool(r.root).compare
    for name, pdf in results.items():
        ok, msg = compare(pdf, answers[name])
        r.record(ok, f"{name}: {msg}")


def run(r: Run) -> None:
    from world_vaccination_coverage_etl_spark.session import get_spark

    data_dir = r.path("star")
    data_bytes = write_data(data_dir)
    spark = get_spark("perfbench-registry", extra_conf=session_conf())
    _warm(spark, data_dir)
    r.metrics["setup_s"] = time.perf_counter() - r.t_start
    r.info.update(data_bytes=data_bytes)
    answers = expected(r.root, data_dir, data_key())

    runs: dict[str, list[float]] = {q: [] for q in QUERIES}
    passes: list[float] = []
    clock = Clock(r.seconds)
    while not passes or not clock.expired():
        secs, results, _ = _pass(spark, data_dir)
        _check(r, results, answers)
        passes.append(sum(secs.values()))
        for q, s in secs.items():
            runs[q].append(s)
    per_query = {q: median(v) for q, v in runs.items()}
    # the median is over passes: the median of thirteen different
    # queries jumps between them from run to run
    pass_s = median(passes)
    r.metrics.update(
        op_p50_ms=pass_s * 1000,
        op_geomean_ms=geomean(list(per_query.values())) * 1000,
        ops_per_s=len(QUERIES) / pass_s,
    )
    r.info.update(
        registry_pass_s=pass_s,
        registry_geomean_s=geomean(list(per_query.values())),
        passes=len(passes),
        queries_s={q: round(s, 4) for q, s in per_query.items()},
    )
    if r.trace:
        _traced_phase(r, spark, data_dir, answers, pass_s)
    else:
        spark.stop()


def _traced_phase(r: Run, spark, data_dir: str, answers: dict, before_pass_s: float) -> None:
    """A traced pass between two untraced ones, so that JIT warm-up over
    the run does not read as tracing cost."""
    spark = restart_session(r, spark, "perfbench-registry", event_log=True)
    _warm(spark, data_dir)
    spans = Spans(spark)
    secs, results, wall = _pass(spark, data_dir, spans)
    jobs = spans.jobs()
    _check(r, results, answers)
    spark = restart_session(r, spark, "perfbench-registry", event_log=False)
    _warm(spark, data_dir)
    after, results, _ = _pass(spark, data_dir)
    _check(r, results, answers)
    spark.stop()
    log = read_event_log(r.path("eventlog"))

    m = r.metrics
    for q in QUERIES:
        layer = f"queries.{q}"
        m[f"{layer}.s"] = spans.total_s(layer)
        m[f"{layer}.jobs"] = jobs[layer]
        m[f"{layer}.tasks"] = layer_totals(log, spans, layer)["tasks"]
    m["operators.python_kernel.s"] = sum(secs[q] for q in PYTHON_KERNEL)
    m["operators.python_kernel.python_worker_s"] = sum(
        layer_totals(log, spans, f"queries.{q}")["python_worker_ms"] for q in PYTHON_KERNEL
    ) / 1000
    m["operators.staged.s"] = sum(secs[q] for q in STAGED)
    m["operators.staged.jobs"] = sum(jobs[f"queries.{q}"] for q in STAGED)
    m["registry.pass_s"] = wall
    ok, unattributed = reconcile(wall, [spans.total_s(f"queries.{q}") for q in QUERIES])
    r.info["reconciled"] = ok
    m["registry.unattributed_s"] = unattributed
    untraced = (before_pass_s + sum(after.values())) / 2
    m["registry_mix.trace_overhead_share"] = sum(secs.values()) / untraced - 1
