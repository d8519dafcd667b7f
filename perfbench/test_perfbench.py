"""Self-tests of the benchmark (not of the engine).

Run from the repository root::

    python3 -m pytest perfbench -q

``test_traced_layers_reconcile`` runs each workload once with tracing
(about four minutes at 4 cores); deselect it with ``-k "not traced"``.
"""

from __future__ import annotations

import csv
import json
import operator
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import owid  # noqa: E402
from common import percentile, tail_percentile  # noqa: E402
from layers import Spans, event_log_conf, read_event_log, reconcile  # noqa: E402
from mix import RequestMix  # noqa: E402
from welch import parse_page, two_sided_p, window_reference  # noqa: E402


def test_same_seed_gives_byte_identical_csv(tmp_path):
    paths = []
    for i, seed in enumerate((7, 7, 8)):
        path = tmp_path / f"wide{i}.csv"
        owid.write_csv(owid.generate(seed, n_entities=40), str(path))
        paths.append(path.read_bytes())
    assert paths[0] == paths[1]
    assert paths[0] != paths[2]


def test_generator_counts_match_the_file(tmp_path):
    table = owid.generate(3, n_entities=25)
    path = tmp_path / "wide.csv"
    owid.write_csv(table, str(path))
    with open(path, newline="") as fh:
        rows = list(csv.reader(fh))
    header, body = rows[0], rows[1:]
    assert header[:2] == ["Entity", "Year"]
    assert len(body) == 25 * len(table.years)
    cells = [float(c) for row in body for c in row[2:] if c != ""]
    assert len(cells) == table.tidy_rows
    assert sum(cells) == pytest.approx(table.coverage_sum, rel=1e-12)


def test_student_t_tail():
    # 2·P(T_10 > 2) and 2·P(T_5 > 2.571) from standard tables
    assert two_sided_p(2.0, 10.0) == pytest.approx(0.073388, abs=1e-6)
    assert two_sided_p(2.5706, 5.0) == pytest.approx(0.05, abs=1e-4)
    assert two_sided_p(0.0, 7.0) == pytest.approx(1.0)


def test_window_reference_verdicts():
    years = np.arange(2000, 2012)
    rising = np.array([50.0, 51, 50, 52, 51, 90, 91, 90, 92, 91, 90, 91])
    ref = window_reference(years, rising, 2005)
    assert ref["verdict"] == "significant-increase"
    assert ref["avg_before"] == pytest.approx(50.8)
    flat = np.full(12, 80.0)
    assert window_reference(years, flat, 2005)["verdict"] == "insufficient-data"
    assert window_reference(years[:1], rising[:1], 2005)["avg_after"] is None


def test_page_parser_reads_rendered_dashboard():
    from collections import namedtuple

    from world_vaccination_coverage_etl_spark.functions.dashboard import render_dashboard_html

    Stats = namedtuple(
        "Stats",
        "avg_before avg_after diff_pp p_value n_before n_after significance "
        "ci_lo_before ci_hi_before ci_lo_after ci_hi_after",
    )
    stats = Stats(50.84, 90.2, 39.36, 1e-6, 5, 6, "significant-increase", 49, 52, 89, 91)
    series = [(2000, 50.0), (2006, 90.0)]
    page = render_dashboard_html("A & B", "coverage__bcg", series, stats, 2005, 5, 5)
    got = parse_page(page)
    assert got == {"avg_before": 50.8, "avg_after": 90.2, "verdict": "significant-increase"}


def test_request_mix_is_seeded_and_checks_statuses():
    table = owid.generate(5, n_entities=30)
    a, b = RequestMix(table, 5), RequestMix(table, 5)
    ra, rb = np.random.default_rng(1), np.random.default_rng(1)
    seq_a = [a.request(ra) for _ in range(300)]
    assert seq_a == [b.request(rb) for _ in range(300)]
    kinds = [expect[0] for _, expect in seq_a]
    assert {"index", "missing", "series"} <= set(kinds)
    assert a.check(("missing",), 404, {})
    assert not a.check(("missing",), 200, {})
    assert not a.check(("index",), None, {})
    assert a.check(("index",), 200, {"index_items": len(a.pairs)})


def test_tail_percentile_leaves_ten_samples_above():
    for n in (22, 40, 100, 1000):
        p = tail_percentile(n)
        assert n - 1 - p / 100 * (n - 1) >= 10
        assert n - 1 - (p + 1) / 100 * (n - 1) < 10
    assert tail_percentile(18) == 50
    assert percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert percentile([1.0, float("inf")], 100) == float("inf")


def test_reconcile():
    assert reconcile(10.0, [3.0, 4.0]) == (True, 3.0)
    assert reconcile(10.0, [6.0, 6.0])[0] is False
    assert reconcile(10.0, [-1.0, 4.0])[0] is False


def test_attribution_counts_on_a_tiny_query(tmp_path, monkeypatch):
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(tmp_path / "local"))
    log_dir = str(tmp_path / "eventlog")
    builder = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.shuffle.partitions", "3")
    )
    for k, v in event_log_conf(log_dir).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    try:
        spans = Spans(spark)
        with spans.span("rdd"):
            spark.sparkContext.parallelize(range(100), 4).map(
                lambda x: (x % 3, 1)
            ).reduceByKey(operator.add, 2).collect()
        with spans.span("group_by"):
            rows = spark.range(0, 1000, numPartitions=4).groupBy(
                (F.col("id") % 5).alias("k")
            ).count().collect()
        assert sorted(r["count"] for r in rows) == [200] * 5

        @F.pandas_udf("long")
        def plus_one(s):
            return s + 1

        with spans.span("udf"):
            rows = spark.range(0, 8, numPartitions=2).select(plus_one("id")).collect()
        assert sorted(r[0] for r in rows) == list(range(1, 9))
        jobs = spans.jobs()
        assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
    finally:
        spark.stop()
    log = read_event_log(log_dir)
    (rdd,), (group_by,), (udf,) = (spans.groups[k] for k in ("rdd", "group_by", "udf"))
    # one job: a 4-task map stage and a 2-task reduce stage
    assert jobs["rdd"] == 1
    assert (log[rdd]["jobs"], log[rdd]["stages"], log[rdd]["tasks"]) == (1, 2, 6)
    assert log[rdd]["shuffle_bytes"] > 0
    # adaptive execution: the 4-task map stage runs as a job of its own and
    # is skipped by the 3-task result job, so it must be counted once
    assert jobs["group_by"] == 2
    assert (log[group_by]["jobs"], log[group_by]["stages"], log[group_by]["tasks"]) == (2, 2, 7)
    assert jobs["udf"] == log[udf]["jobs"] and log[udf]["tasks"] == 2
    assert log[udf]["python_worker_ms"] > 0


def test_incomplete_checkout_exits_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_refresh",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""


def _traced(workload: str) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "3", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    info_line, result_line = proc.stdout.strip().splitlines()[-2:]
    result = json.loads(result_line)
    return json.loads(info_line), {k: v["value"] for k, v in result["metrics"].items()}


@pytest.mark.parametrize("workload", ["etl_refresh", "dashboard_requests", "registry_mix"])
def test_traced_layers_reconcile(workload):
    info, m = _traced(workload)
    assert info["reconciled"], (info, m)
    if workload == "etl_refresh":
        layers = [
            "sources.read_wide_csv.s", "sources.write_raw.s",
            "plans.pipeline.write_clean.s", "plans.pipeline.assert_unique_key.s",
            "etl.unattributed_s",
        ]
        assert sum(m[k] for k in layers) == pytest.approx(m["etl.run_etl.s"])
        assert m["plans.pipeline.write_clean.jobs"] >= 1
    elif workload == "dashboard_requests":
        calls = [
            "plans.analytics.coverage_series.ms", "plans.analytics.window_compare.ms",
            "functions.dashboard.render.ms", "serve.http_ms",
        ]
        assert sum(m[k] for k in calls) == pytest.approx(m["serve.one_client_ms"])
        assert m["serve.one_client_ms"] + m["serve.queue_wait_ms"] == pytest.approx(
            m["serve.request_p50_ms"]
        )
        assert m["functions.stats.python_worker_ms"] > 0
    else:
        queries = [k for k in m if k.startswith("queries.") and k.endswith(".s")]
        assert len(queries) == 13
        assert sum(m[k] for k in queries) + m["registry.unattributed_s"] == pytest.approx(
            m["registry.pass_s"]
        )
        assert m["operators.staged.jobs"] >= 3
