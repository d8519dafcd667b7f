"""Streaming continuous-crawl near-dup ingest: every micro-batch is
screened against the persistent banded MinHash index, and accepted
docs immediately extend the index for the NEXT batch.

This is the streaming composition of ``operators/dedup.py``'s
``minhash_screen_new_batch`` / ``minhash_index_accept`` — the shape a
production crawl pipeline actually runs: the index and the accepted
corpus are durable tables; the stream's ``foreachBatch`` body is pure
batch code (screen → anti-join → append), so the whole screen plan —
Arrow signature kernel, band-key candidate join, candidate-bounded
exact verify — is identical to the certified batch operator.

Delivery semantics (two independent layers):

* the streaming CHECKPOINT gives exactly-once-per-batch-id for the
  foreachBatch body across restarts (a finished batch never re-runs);
* the INDEX ITSELF makes redelivery idempotent even across checkpoint
  loss: a replayed keeper is an exact duplicate (Jaccard 1.0) of its
  own previously-accepted copy, so the screen drops it and the replay
  appends nothing.  Empty/whitespace docs carry no signature and are
  filtered at entry (they would defeat the self-match ledger).

At 100 TB the two appended dirs are warehouse tables: the index
bucketed on (band_idx, band_hash) so the recurring candidate join
never re-shuffles the corpus-sized side (plan-pinned in
``tests/test_warehouse_bucketing.py``), the accepted table bucketed
on doc_id for the candidate-bounded verify fetch.

Reference parity: the reference refreshes its warehouse by full
re-run on a cron (README deployment notes); this module is the
incremental-ingest generalization of that refresh loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    minhash_band_signatures,
    minhash_screen_new_batch,
)
from ..operators.staging import stage


def init_ingest_state(
    corpus_df: DataFrame, index_dir: str, accepted_dir: str
) -> None:
    """Seed the durable state: accepted docs = the existing corpus,
    index = its band signatures (both overwritten)."""
    corpus_df.select("doc_id", "text").write.mode("overwrite").parquet(
        accepted_dir
    )
    spark = corpus_df.sparkSession
    minhash_band_signatures(
        spark.read.parquet(accepted_dir)
    ).write.mode("overwrite").parquet(index_dir)


def streaming_neardup_ingest(
    spark: SparkSession,
    src_dir: str,
    schema: str,
    index_dir: str,
    accepted_dir: str,
    checkpoint_dir: str,
    *,
    threshold: float = 0.7,
    max_files_per_trigger: int | None = None,
):
    """Start (AvailableNow) the ingest stream over a file source.

    Each micro-batch: drop unscreenable empty docs → screen against
    the current index with exact-Jaccard verification → append the
    keepers' rows and signatures.  Returns the started query; callers
    ``awaitTermination()``.
    """

    def body(batch: DataFrame, batch_id: int) -> None:
        batch = batch.select("doc_id", "text")
        batch = stage(batch.filter(F.length(F.trim(F.col("text"))) > 0))
        if batch.isEmpty():
            return
        index = spark.read.parquet(index_dir)
        base = spark.read.parquet(accepted_dir)
        pairs = minhash_screen_new_batch(
            index, base, batch, threshold=threshold
        )
        new_ids = pairs.select(F.col("new_id").alias("doc_id")).distinct()
        # materialize BEFORE appending to the dirs it reads
        keepers = stage(batch.join(new_ids, "doc_id", "left_anti"))
        if keepers.isEmpty():
            return
        keepers.write.mode("append").parquet(accepted_dir)
        minhash_band_signatures(keepers).write.mode("append").parquet(
            index_dir
        )

    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.load(src_dir)
    return (
        stream.writeStream.foreachBatch(body)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
