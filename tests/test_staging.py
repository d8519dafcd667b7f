"""The lineage-cut policy of ``operators/staging.stage``.

A Python UDF bumps an accumulator once per row it evaluates.  Both sides
of a sort-merge self-join consume the staged table under AQE, which
submits the two map stages concurrently; an eager or durable cut must
still evaluate the UDF exactly once per row.
"""

from __future__ import annotations

import pathlib

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from world_vaccination_coverage_etl_spark.operators.staging import stage

N_ROWS = 400
PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "world_vaccination_coverage_etl_spark"


@pytest.fixture
def counted(spark):
    """(df, accumulator): ``df.v`` runs a Python UDF that counts its calls."""
    calls = spark.sparkContext.accumulator(0)

    @F.udf(T.LongType())
    def bump(x):
        calls.add(1)
        return x * 2

    df = spark.range(0, N_ROWS, 1, 8).withColumn("v", bump("id"))
    return df, calls


@pytest.fixture
def sort_merge_aqe(spark):
    saved = {
        k: spark.conf.get(k)
        for k in ("spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold")
    }
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    for k, v in saved.items():
        spark.conf.set(k, v)


def _self_join_rows(df) -> int:
    # the filter keeps the two sides' plans distinct, so exchange reuse
    # cannot stand in for the cut
    right = df.filter(F.col("id") >= 0).select("id", F.col("v").alias("w"))
    return df.join(right, "id").filter(F.col("v") == F.col("w")).count()


def test_uncut_self_join_runs_udf_per_side(counted, sort_merge_aqe):
    df, calls = counted
    assert _self_join_rows(df) == N_ROWS
    assert calls.value == 2 * N_ROWS  # the control: both sides compute it


def test_eager_stage_runs_udf_once_per_row(counted, sort_merge_aqe):
    df, calls = counted
    assert _self_join_rows(stage(df)) == N_ROWS
    assert calls.value == N_ROWS


def test_durable_stage_runs_udf_once_per_row(counted, sort_merge_aqe, tmp_path):
    df, calls = counted
    staged = stage(df, str(tmp_path), "counted")
    assert (tmp_path / "counted").is_dir()
    assert _self_join_rows(staged) == N_ROWS
    assert calls.value == N_ROWS


def test_lazy_stage_defers_the_cut(counted):
    df, calls = counted
    staged = stage(df, lazy=True)
    assert calls.value == 0
    assert staged.count() == N_ROWS
    assert staged.count() == N_ROWS
    assert calls.value == N_ROWS


def test_durable_stage_cannot_be_lazy(counted, tmp_path):
    df, _calls = counted
    with pytest.raises(ValueError):
        stage(df, str(tmp_path), "counted", lazy=True)


def test_local_checkpoint_only_in_staging_module():
    offenders = sorted(
        str(p.relative_to(PACKAGE))
        for p in PACKAGE.rglob("*.py")
        if ".localCheckpoint(" in p.read_text()
    )
    assert offenders == ["operators/staging.py"]
