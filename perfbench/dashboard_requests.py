"""Workload ``dashboard_requests``: the read path under contention.

Set-up refreshes the warehouse once with ``run_etl`` and starts
``serve.make_server(DashboardApp(spark, clean))`` in this process, the
Spark driver.  A separate load-generator process (``loadgen.py``) then
runs a closed loop with one client per CPU over the seeded request mix
of ``mix.py``.

The traced run adds the layer split: the calls one request makes
(``coverage_series``, ``window_compare``, the render), timed directly;
the one-client HTTP latency; and the closed loop again, so that
``serve.queue_wait_ms`` is the many-client median minus the one-client
median.
"""

from __future__ import annotations

import contextlib
import http.client
import json
import math
import os
import subprocess
import sys
import threading
import time
import urllib.parse

import numpy as np

import owid
from common import (
    Run,
    geomean,
    median,
    percentile,
    restart_session,
    session_conf,
    tail_percentile,
)
from layers import Spans, layer_totals, read_event_log, reconcile
from loadgen import closed_loop, get, summarize
from mix import RequestMix
from welch import POST_YEARS, PRE_YEARS, parse_page

HERE = os.path.dirname(os.path.abspath(__file__))
SINGLE_CLIENT_REQUESTS = 12
PATHS_PER_CLIENT = 5000


@contextlib.contextmanager
def serving(app):
    """Run ``serve.make_server(app)`` on an ephemeral port."""
    from world_vaccination_coverage_etl_spark.serve import make_server

    server = make_server(app)
    thread = threading.Thread(target=server.serve_forever, kwargs={"poll_interval": 0.05})
    thread.start()
    try:
        yield server.server_address[1]
    finally:
        server.shutdown()
        server.server_close()
        thread.join(timeout=30)


def direct_request(spans: Spans, clean, path: str) -> dict:
    """The calls ``DashboardApp.dashboard_page`` makes for ``path``,
    each in its own span; returns the figures of the rendered page.

    The calls run in a new thread, as the server runs each request: at
    4 cores the same calls took about 20 ms longer from the main thread.
    """
    from world_vaccination_coverage_etl_spark.functions.dashboard import render_dashboard_html
    from world_vaccination_coverage_etl_spark.plans.analytics import (
        coverage_series,
        window_compare,
    )

    q = urllib.parse.parse_qs(urllib.parse.urlparse(path).query)
    country, antigen, year = q["country"][0], q["antigen"][0], int(q["start_year"][0])
    out: dict = {}

    def calls() -> None:
        try:
            with spans.span("plans.analytics.coverage_series"):
                rows = [
                    (r["year"], r["coverage_pct"])
                    for r in coverage_series(clean, country, antigen).collect()
                ]
            with spans.span("plans.analytics.window_compare"):
                stats = window_compare(
                    clean.filter((clean.country == country) & (clean.antigen == antigen)),
                    year, PRE_YEARS, POST_YEARS,
                ).collect()[0]
            with spans.span("functions.dashboard.render"):
                out["page"] = render_dashboard_html(
                    country, antigen, rows, stats, year, PRE_YEARS, POST_YEARS
                )
        except Exception as exc:  # noqa: BLE001 — raised again in the caller's thread
            out["error"] = exc

    thread = threading.Thread(target=calls)
    thread.start()
    thread.join()
    if "error" in out:
        raise out["error"]
    return parse_page(out["page"])


def add_request_layers(m: dict, spans: Spans, jobs: dict, log) -> None:
    """The three calls a dashboard request makes: median time per call,
    and jobs, tasks and Python-worker time per call."""
    cs, wc, render = (
        "plans.analytics.coverage_series",
        "plans.analytics.window_compare",
        "functions.dashboard.render",
    )
    n = max(spans.calls(cs), 1)
    m[f"{cs}.ms"] = median(spans.seconds[cs]) * 1000
    m[f"{cs}.jobs"] = jobs[cs] / n
    m[f"{wc}.ms"] = median(spans.seconds[wc]) * 1000
    m[f"{wc}.jobs"] = jobs[wc] / n
    wc_log = layer_totals(log, spans, wc)
    m[f"{wc}.tasks"] = wc_log["tasks"] / n
    m["functions.stats.python_worker_ms"] = wc_log["python_worker_ms"] / n
    m[f"{render}.ms"] = median(spans.seconds[render]) * 1000


def _http_request(r: Run, port: int, mix: RequestMix, path: str, expect: tuple) -> float:
    t0 = time.perf_counter()
    try:
        status, body = get(port, path)
    except (OSError, http.client.HTTPException) as exc:
        status, body = None, str(exc)
    ms = (time.perf_counter() - t0) * 1000
    r.record(mix.check(expect, status, summarize(path, status or 0, body)), f"{path} -> {status}")
    return ms


def _closed_loop(r: Run, port: int, mix: RequestMix, seconds: float, tag: int) -> dict:
    """One client per CPU for ``seconds``; returns the loop's figures."""
    plans = []
    for client in range(r.cpus):
        rng = np.random.default_rng([r.seed, 3, tag, client])
        plans.append([mix.request(rng) for _ in range(PATHS_PER_CLIENT)])
    spec, out = r.path(f"loop{tag}.json"), r.path(f"loop{tag}.out.json")
    with open(spec, "w", encoding="utf-8") as fh:
        paths = [[p for p, _ in c] for c in plans]
        json.dump({"port": port, "seconds": seconds, "clients": paths}, fh)
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "loadgen.py"), spec, out],
        timeout=seconds + 150,
        check=False,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"load generator exited with {proc.returncode}")
    with open(out, encoding="utf-8") as fh:
        records = json.load(fh)

    lat_ms, ok_ms, ok_n = [], [], 0
    for rec in records:
        path, expect = plans[rec["client"]][rec["i"]]
        ok = rec["status"] is not None and mix.check(expect, rec["status"], rec)
        r.record(ok, f"{path} -> {rec['status']} {rec.get('error', '')}")
        ms = rec["latency"] * 1000
        # a failed request misses any latency limit
        lat_ms.append(ms if ok else math.inf)
        if ok:
            ok_ms.append(ms)
            ok_n += 1
    window = max(rec["start"] + rec["latency"] for rec in records)
    tail_at = tail_percentile(len(lat_ms))
    # series requests, in the order they were sent, that repeat the key of
    # an earlier one: the share a result cache could answer
    seen, repeats, series = set(), 0, 0
    for rec in sorted(records, key=lambda rec: rec["start"]):
        expect = plans[rec["client"]][rec["i"]][1]
        if expect[0] == "series":
            series += 1
            repeats += expect in seen
            seen.add(expect)
    # an all-failed percentile reads as the whole window, a bound on its wait
    clamp = window * 1000
    return {
        "p50_ms": min(percentile(lat_ms, 50), clamp),
        "tail_ms": min(percentile(lat_ms, tail_at), clamp),
        "tail_percentile": tail_at,
        "geomean_ms": geomean(ok_ms) if ok_ms else clamp,
        "per_s": ok_n / window,
        "requests": len(records),
        "repeat_share": repeats / max(series, 1),
    }


def _prepare(r: Run):
    from world_vaccination_coverage_etl_spark.plans.pipeline import run_etl
    from world_vaccination_coverage_etl_spark.session import get_spark

    table = owid.generate(r.seed)
    csv = r.path("in", "wide.csv")
    os.makedirs(os.path.dirname(csv), exist_ok=True)
    owid.write_csv(table, csv)
    spark = get_spark("perfbench-dashboard", extra_conf=session_conf())
    warehouse = r.path("warehouse")
    clean = run_etl(spark, csv, warehouse)
    return table, spark, warehouse, clean


def _warm(r: Run, port: int, mix: RequestMix, rng) -> None:
    """The index page, then one round with every client at once, so
    that the measured loop starts warm."""
    _http_request(r, port, mix, "/", ("index",))
    burst = [[mix.series_request(rng)] for _ in range(r.cpus)]
    for rec in closed_loop(port, [[p for p, _ in c] for c in burst], 0.0):
        expect = burst[rec["client"]][0][1]
        r.record(mix.check(expect, rec["status"], rec), f"warm-up {rec['path']}")


@contextlib.contextmanager
def _served(r: Run, spark, clean, mix: RequestMix, rng):
    """A warmed server over ``clean``; yields its port."""
    from world_vaccination_coverage_etl_spark.serve import DashboardApp

    with serving(DashboardApp(spark, clean)) as port:
        _warm(r, port, mix, rng)
        yield port


def run(r: Run) -> None:
    table, spark, warehouse, clean = _prepare(r)
    mix = RequestMix(table, r.seed)
    rng = np.random.default_rng([r.seed, 2])
    with _served(r, spark, clean, mix, rng) as port:
        r.metrics["setup_s"] = time.perf_counter() - r.t_start
        loop = _closed_loop(r, port, mix, r.seconds / 3 if r.trace else r.seconds, 0)
    r.metrics.update(
        op_p50_ms=loop["p50_ms"],
        op_geomean_ms=loop["geomean_ms"],
        ops_per_s=loop["per_s"],
    )
    r.info.update(
        clients=r.cpus,
        requests=loop["requests"],
        requests_per_s=loop["per_s"],
        request_p50_ms=loop["p50_ms"],
        request_tail_ms=loop["tail_ms"],
        tail=f"p{loop['tail_percentile']} of {loop['requests']} requests",
        repeat_share=loop["repeat_share"],
    )
    if r.trace:
        _traced(r, spark, warehouse, mix, rng, loop["p50_ms"])
    else:
        spark.stop()


def _traced(r: Run, spark, warehouse: str, mix: RequestMix, rng, before_p50: float) -> None:
    """Traced phase between two untraced ones, so that JIT warm-up over
    the run does not read as tracing cost."""
    table_path = os.path.join(warehouse, "immunization")
    spark = restart_session(r, spark, "perfbench-dashboard", event_log=True)
    clean = spark.read.parquet(table_path)
    spans = Spans(spark)
    one_client = []
    with _served(r, spark, clean, mix, rng) as port:
        # each request twice, once by direct calls and once over HTTP, so
        # that both sides do the same work; which goes first alternates,
        # so that neither side gets the colder start
        for i in range(SINGLE_CLIENT_REQUESTS):
            path, expect = mix.series_request(rng)
            if i % 2:
                one_client.append(_http_request(r, port, mix, path, expect))
            figures = direct_request(spans, clean, path)
            r.record(mix.check(expect, 200, figures), f"direct {path}")
            if not i % 2:
                one_client.append(_http_request(r, port, mix, path, expect))
        loop = _closed_loop(r, port, mix, r.seconds / 3, 1)
    jobs = spans.jobs()

    spark = restart_session(r, spark, "perfbench-dashboard", event_log=False)
    with _served(r, spark, spark.read.parquet(table_path), mix, rng) as port:
        after = _closed_loop(r, port, mix, r.seconds / 3, 2)
    spark.stop()
    log = read_event_log(r.path("eventlog"))

    m = r.metrics
    add_request_layers(m, spans, jobs, log)
    one_p50 = median(one_client)
    calls = [
        m[k] for k in (
            "plans.analytics.coverage_series.ms",
            "plans.analytics.window_compare.ms",
            "functions.dashboard.render.ms",
        )
    ]
    ok_one, http_ms = reconcile(one_p50, calls)
    ok_loop, queue_ms = reconcile(loop["p50_ms"], [one_p50])
    r.info["reconciled"] = ok_one and ok_loop
    m["serve.one_client_ms"] = one_p50
    m["serve.http_ms"] = http_ms
    m["serve.queue_wait_ms"] = queue_ms
    m["serve.request_p50_ms"] = loop["p50_ms"]
    untraced = (before_p50 + after["p50_ms"]) / 2
    m["dashboard_requests.trace_overhead_share"] = loop["p50_ms"] / untraced - 1
