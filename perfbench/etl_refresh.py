"""Workload ``etl_refresh``: the write path.

Each iteration refreshes the warehouse from the generated wide CSV with
``plans.pipeline.run_etl`` and then serves one dashboard request on the
refreshed table, through ``serve.make_server``.  That request is always
cold: ``run_etl`` drops the cached dimension index and the table's file
listing.

The traced run times ``run_etl``'s own calls into ``sources`` and
``plans.pipeline`` by wrapping the module attributes ``run_etl`` looks
up (``read_wide_csv``, ``write_warehouse_table``,
``assert_unique_key``) for the duration of the call; the first request
is split into the calls ``DashboardApp.dashboard_page`` makes.
"""

from __future__ import annotations

import glob
import http.client
import os
import time

import numpy as np

import owid
from common import (
    Clock,
    Run,
    geomean,
    median,
    restart_session,
    session_conf,
)
from dashboard_requests import add_request_layers, direct_request, serving
from layers import Spans, layer_totals, read_event_log, reconcile
from loadgen import get, summarize
from mix import RequestMix

# a fixed count, about 10 s at 4 cores: with a time limit instead, a fast
# run fits a third, faster refresh, and the median jumps with the count
MEASURED_REFRESHES = 2
# refreshes in set-up: at 4 cores the first in a JVM takes about three
# times as long as later ones, and the second is still about 20 % slower
WARMUP_REFRESHES = 2


def _check_counts(r: Run, clean, table: owid.WideTable) -> None:
    from pyspark.sql import functions as F

    rows, total = clean.agg(F.count("*"), F.sum("coverage_pct")).first()
    r.record(rows == table.tidy_rows, f"clean rows {rows} != {table.tidy_rows}")
    r.record(
        total is not None and abs(total - table.coverage_sum) <= 1e-9 * table.coverage_sum,
        f"coverage_pct sum {total} != {table.coverage_sum}",
    )


def _first_request(r: Run, spark, clean, mix: RequestMix, rng) -> float:
    """Serve one request on a fresh server over ``clean``; returns ms."""
    from world_vaccination_coverage_etl_spark.serve import DashboardApp

    path, expect = mix.series_request(rng)
    with serving(DashboardApp(spark, clean)) as port:
        t0 = time.perf_counter()
        try:
            status, body = get(port, path)
        except (OSError, http.client.HTTPException) as exc:
            status, body = None, str(exc)
        ms = (time.perf_counter() - t0) * 1000
    r.record(mix.check(expect, status, summarize(path, status or 0, body)), f"{path} -> {status}")
    return ms


def _refresh(spark, csv: str, warehouse: str):
    from world_vaccination_coverage_etl_spark.plans.pipeline import run_etl

    t0 = time.perf_counter()
    clean = run_etl(spark, csv, warehouse)
    return clean, time.perf_counter() - t0


def _dir_bytes(path: str) -> tuple[int, int]:
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return sum(os.path.getsize(f) for f in files), len(files)


def _traced_refresh(spans: Spans, spark, csv: str, warehouse: str):
    """``run_etl`` with each of its calls into a layer in its own span."""
    from world_vaccination_coverage_etl_spark.plans import pipeline
    from world_vaccination_coverage_etl_spark.schemas import TABLE_RAW

    read, write, check = (
        pipeline.read_wide_csv, pipeline.write_warehouse_table, pipeline.assert_unique_key
    )

    def traced_read(*args, **kwargs):
        with spans.span("sources.read_wide_csv"):
            return read(*args, **kwargs)

    def traced_write(df, warehouse_dir, table, *args, **kwargs):
        layer = "sources.write_raw" if table == TABLE_RAW else "plans.pipeline.write_clean"
        with spans.span(layer):
            return write(df, warehouse_dir, table, *args, **kwargs)

    def traced_check(*args, **kwargs):
        with spans.span("plans.pipeline.assert_unique_key"):
            return check(*args, **kwargs)

    pipeline.read_wide_csv = traced_read
    pipeline.write_warehouse_table = traced_write
    pipeline.assert_unique_key = traced_check
    try:
        with spans.span("etl.run_etl"):
            clean = pipeline.run_etl(spark, csv, warehouse)
    finally:
        pipeline.read_wide_csv = read
        pipeline.write_warehouse_table = write
        pipeline.assert_unique_key = check
    return clean, spans.seconds["etl.run_etl"][-1]


ETL_LAYERS = (
    "sources.read_wide_csv",
    "sources.write_raw",
    "plans.pipeline.write_clean",
    "plans.pipeline.assert_unique_key",
)


class EtlRefresh:
    def __init__(self, r: Run):
        from world_vaccination_coverage_etl_spark.session import get_spark

        self.r = r
        self.table = owid.generate(r.seed)
        self.csv = r.path("in", "wide.csv")
        os.makedirs(os.path.dirname(self.csv), exist_ok=True)
        csv_bytes = owid.write_csv(self.table, self.csv)
        r.info.update(csv_bytes=csv_bytes, tidy_rows=self.table.tidy_rows)
        self.mix = RequestMix(self.table, r.seed)
        self.rng = np.random.default_rng([r.seed, 2])
        self.warehouse = r.path("warehouse")
        self.spark = get_spark("perfbench-etl", extra_conf=session_conf())

    def restart(self, event_log: bool) -> None:
        self.spark = restart_session(self.r, self.spark, "perfbench-etl", event_log)

    def warm(self, refreshes: int = 1) -> None:
        """Refreshes and requests that set-up pays for: the first ones in
        a JVM or session are slower.  Each is followed by its request and
        check, as measured ones are; without that pause between them,
        the refreshes measured after this read up to 25 % slower in some
        runs."""
        for _ in range(refreshes):
            clean, _ = _refresh(self.spark, self.csv, self.warehouse)
            _check_counts(self.r, clean, self.table)
            _first_request(self.r, self.spark, clean, self.mix, self.rng)

    def measure(self, refreshes: int) -> dict:
        """Refresh, then serve the first request, ``refreshes`` times."""
        etl_s, first_ms = [], []
        for _ in range(refreshes):
            clean, secs = _refresh(self.spark, self.csv, self.warehouse)
            etl_s.append(secs)
            first_ms.append(_first_request(self.r, self.spark, clean, self.mix, self.rng))
            _check_counts(self.r, clean, self.table)
        return {"etl_s": etl_s, "first_ms": first_ms}

    def measure_traced(self, spans: Spans, seconds: float) -> dict:
        """The same loop with every layer call in a span; the request is
        made by calling the layers directly."""
        totals, first = [], []
        clock = Clock(seconds)
        while not totals or not clock.expired():
            clean, secs = _traced_refresh(spans, self.spark, self.csv, self.warehouse)
            totals.append(secs)
            path, expect = self.mix.series_request(self.rng)
            t0 = time.perf_counter()
            figures = direct_request(spans, clean, path)
            first.append((time.perf_counter() - t0) * 1000)
            self.r.record(self.mix.check(expect, 200, figures), f"traced {path}")
            _check_counts(self.r, clean, self.table)
        raw_bytes, _ = _dir_bytes(os.path.join(self.warehouse, "owid_raw"))
        clean_bytes, clean_files = _dir_bytes(os.path.join(self.warehouse, "immunization"))
        return {
            "etl_s": totals, "first_ms": first, "raw_bytes": raw_bytes,
            "clean_bytes": clean_bytes, "clean_files": clean_files,
        }


def run(r: Run) -> None:
    w = EtlRefresh(r)
    w.warm(WARMUP_REFRESHES)
    r.metrics["setup_s"] = time.perf_counter() - r.t_start

    # a traced run's untraced phases only anchor the tracing overhead
    loop = w.measure(1 if r.trace else MEASURED_REFRESHES)
    ms = [s * 1000 for s in loop["etl_s"]]
    r.metrics.update(
        op_p50_ms=median(ms),
        op_geomean_ms=geomean(ms),
        # a refresh cycle is run_etl and the first request; the checks
        # between cycles are not the program's work
        ops_per_s=len(ms) / (sum(loop["etl_s"]) + sum(loop["first_ms"]) / 1000),
    )
    r.info.update(
        etl_refresh_s=median(loop["etl_s"]),
        first_request_ms=median(loop["first_ms"]),
        refreshes=len(ms),
    )
    if not r.trace:
        w.spark.stop()
        return

    # traced phase between two untraced ones, so that JIT warm-up
    # over the run does not read as tracing cost
    w.restart(event_log=True)
    w.warm()
    spans = Spans(w.spark)
    traced = w.measure_traced(spans, r.seconds / 3)
    jobs = spans.jobs()
    w.restart(event_log=False)
    w.warm()
    after = w.measure(1)
    w.spark.stop()
    log = read_event_log(r.path("eventlog"))

    totals, n = traced["etl_s"], len(traced["etl_s"])
    m = r.metrics
    for layer in ETL_LAYERS:
        m[f"{layer}.s"] = spans.total_s(layer) / n
    m["sources.read_wide_csv.jobs"] = jobs["sources.read_wide_csv"] / n
    m["sources.raw_bytes"] = traced["raw_bytes"]
    write_clean = layer_totals(log, spans, "plans.pipeline.write_clean")
    m["plans.pipeline.write_clean.jobs"] = jobs["plans.pipeline.write_clean"] / n
    m["plans.pipeline.write_clean.tasks"] = write_clean["tasks"] / n
    m["plans.pipeline.write_clean.shuffle_bytes"] = write_clean["shuffle_bytes"] / n
    m["sources.clean_bytes"] = traced["clean_bytes"]
    m["sources.clean_files"] = traced["clean_files"]
    m["plans.pipeline.assert_unique_key.jobs"] = jobs["plans.pipeline.assert_unique_key"] / n
    ok, unattributed = reconcile(sum(totals), [spans.total_s(layer) for layer in ETL_LAYERS])
    r.info["reconciled"] = ok
    m["etl.unattributed_s"] = unattributed / n
    m["etl.run_etl.s"] = sum(totals) / n
    m["etl.first_request_ms"] = sum(traced["first_ms"]) / n
    add_request_layers(m, spans, jobs, log)
    untraced = (median(loop["etl_s"]) + median(after["etl_s"])) / 2
    m["etl_refresh.trace_overhead_share"] = median(totals) / untraced - 1
