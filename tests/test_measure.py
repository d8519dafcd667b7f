"""The measurement core (tools/measure.py): timed samples, cold pooled
runs, stage metrics with the UI off, the SCALING.md splicer, and that
every tools/ script still imports."""

from __future__ import annotations

import importlib.util
import os
import sys
from types import SimpleNamespace

import pytest

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
sys.path.insert(0, TOOLS)

import measure  # noqa: E402


def _registry(monkeypatch, pooled=()):
    plan = SimpleNamespace(fn=lambda spark, sf_dir: spark.range(1000, numPartitions=2))
    monkeypatch.setattr(measure, "REGISTRY", {"pooled": plan, "plain": plan})
    monkeypatch.setattr(measure, "POOLED_QUERIES", frozenset(pooled))


def test_sample_times_a_plan(spark, monkeypatch):
    _registry(monkeypatch)
    assert measure.sample(spark, "plain", "unused") > 0


def test_cold_clears_pools_only_for_pooled_queries(spark, monkeypatch):
    _registry(monkeypatch, pooled={"pooled"})
    calls = []
    monkeypatch.setattr(measure, "clear_pools", lambda: calls.append(1))
    measure.sample(spark, "plain", "unused", cold=True)
    assert calls == []
    measure.sample(spark, "pooled", "unused")
    assert calls == []
    measure.sample(spark, "pooled", "unused", cold=True)
    assert calls == [1]


def test_stage_totals_grow_after_a_shuffle_with_the_ui_off(spark):
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.ui.enabled") == "false"
    before = measure.stage_totals(spark)
    jobs_before = set(measure.jobs(spark))
    spark.range(10_000, numPartitions=4).groupBy(F.col("id") % 7).count().collect()
    after = measure.stage_totals(spark)
    assert after["shuffle_w"] > before["shuffle_w"]
    assert after["run_ms"] >= before["run_ms"]
    new = {j: s for j, s in measure.jobs(spark).items() if j not in jobs_before}
    assert new
    rows = measure.stages(spark, {s for ss in new.values() for s in ss})
    assert sum(r["shuffle_w"] for r in rows) > 0
    assert all(r["tasks"] > 0 for r in rows)


def test_parse_only_rejects_unknown_names():
    args = ["a", "--only", "q1,q2", "b"]
    assert measure.parse_only(args, ["q1", "q2", "q3"]) == {"q1", "q2"}
    assert args == ["a", "b"]
    assert measure.parse_only(["x"], ["q1"]) is None
    with pytest.raises(SystemExit, match="nope"):
        measure.parse_only(["--only", "q1,nope"], ["q1"])


FIRST = "# Title\n\nintro\n\n## one\n\nbody one\n\n"
MIDDLE = "## two\n\nold body two\n\n"
LAST = "## three\n\nbody three\n"


def test_replace_section_keeps_neighbours_byte_identical(tmp_path):
    path = tmp_path / "SCALING.md"
    path.write_text(FIRST + MIDDLE + LAST)
    measure.replace_section(str(path), "## two", ["## two", "", "new body", ""])
    text = path.read_text()
    assert text.startswith(FIRST)
    assert text.endswith(LAST)
    assert "new body" in text and "old body two" not in text
    assert text.count("## two") == 1


def test_replace_section_appends_a_missing_section(tmp_path):
    path = tmp_path / "SCALING.md"
    path.write_text(FIRST + MIDDLE + LAST)
    measure.replace_section(str(path), "## four", ["## four", "", "body four"])
    text = path.read_text()
    assert text.startswith(FIRST + MIDDLE + LAST)
    assert text.endswith("\n\n## four\n\nbody four\n")


@pytest.mark.parametrize(
    "name", sorted(f[:-3] for f in os.listdir(TOOLS) if f.endswith(".py"))
)
def test_every_tool_imports(name):
    spec = importlib.util.spec_from_file_location(
        f"tool_{name}", os.path.join(TOOLS, f"{name}.py")
    )
    spec.loader.exec_module(importlib.util.module_from_spec(spec))
