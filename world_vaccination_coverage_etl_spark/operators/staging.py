"""The one place the package cuts a DataFrame's lineage.

Multi-pass plans re-consume intermediates that are expensive to
recompute (Arrow signature kernels, tokenize+count passes) or whose
lineage grows per round (label propagation, BPE merges).  Each call
site of :func:`stage` states the shape of its consumers:

- **concurrent consumers** (default, eager): the table feeds both sides
  of a join or several branches of one plan.  A lazy checkpoint is
  filled by its first consumer, but AQE submits a join's map stages
  concurrently, so both can compute the whole subtree ("Block rdd_N
  already exists") and every kernel above the cut runs twice.  The
  eager cut runs the subtree once, up front.
- **sequential chain** (``lazy=True``): consumers run one after another
  (iterative loops, successive actions), so the first fills the blocks
  and the rest read them, without an up-front job.
- **durable** (``staging_dir`` given): the table is written to
  ``staging_dir/name`` as parquet and read back.  It survives executor
  loss, any executor can scan it, and AQE plans downstream joins from
  its real statistics, for one write and one read of the projection.

Local checkpoints pin their blocks to the executors that computed them,
so executor loss forces a recompute and dynamic allocation cannot
release those hosts; operators that run at cluster scale take a
``staging_dir`` deployment path and pass it through.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def stage(
    df: DataFrame,
    staging_dir: str | None = None,
    name: str | None = None,
    *,
    lazy: bool = False,
) -> DataFrame:
    """Cut ``df``'s lineage: eager local checkpoint by default, lazy with
    ``lazy=True``, durable parquet at ``staging_dir/name`` when
    ``staging_dir`` is given."""
    if staging_dir is None:
        return df.localCheckpoint(eager=not lazy)
    if lazy:
        raise ValueError("durable staging (staging_dir) cannot be lazy")
    path = os.path.join(staging_dir, name)
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)
