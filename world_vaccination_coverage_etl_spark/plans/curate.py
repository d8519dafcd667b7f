"""End-to-end training-corpus curation — the user story the operator
families exist for, composed as one staged pipeline:

    language gate → quality gate → exact dedup → near-dup clustering
    (keep one doc per duplicate component) → benchmark decontamination
    → token counting → deterministic train/val split → greedy sequence
    packing

Each stage materializes to parquet before the next reads it — the
production pattern at 100 TB (every stage is restartable, its output
inspectable, and downstream stages scan a columnar table instead of
re-executing the upstream lineage).  All stage operators are the
bucketed/blocked shuffle-lean implementations from ``operators/``;
nothing here adds driver-side loops or new shuffle shapes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.components import connected_components
from ..operators.dedup import (
    exact_dedup,
    minhash_near_dup_pairs,
    ngram_contamination_pairs,
)
from ..operators.packing import pack_token_bins
from ..operators.sampling import hash_split
from ..operators.staging import stage
from ..operators.text import with_language_id, with_quality_score, with_token_count


def curate_training_corpus(
    spark: SparkSession,
    documents: DataFrame,
    benchmark: DataFrame,
    out_dir: str,
    lang_whitelist: tuple[str, ...] = ("en",),
    min_quality: float = 0.3,
    near_dup_threshold: float = 0.8,
    decontam_ngram: int = 5,
    train_frac: float = 0.9,
    pack_capacity: int = 256,
) -> DataFrame:
    """Run the full curation pipeline; returns the final corpus
    DataFrame (also written to ``out_dir/corpus``).

    Output columns: doc_id, text, lang, ws_tokens, split, bin_id.
    """
    os.makedirs(out_dir, exist_ok=True)

    # 1-2: language + quality gates (row-local JVM expressions)
    gated = (
        with_quality_score(with_language_id(documents))
        .filter(F.col("lang_id").isin(*lang_whitelist))
        .filter(F.col("quality_score") >= min_quality)
        .select("doc_id", "text")
    )
    gated = stage(gated, out_dir, "s1_gated")

    # 3: exact dedup (hash-groupBy + semi-join, keep min id)
    uniq = stage(exact_dedup(gated), out_dir, "s2_exact_dedup")

    # 4: near-dup clustering — pairs → connected components → keep the
    # component representative (min doc id)
    pairs = minhash_near_dup_pairs(uniq, threshold=near_dup_threshold)
    comp = connected_components(uniq.select("doc_id"), pairs)
    keepers = comp.filter(F.col("doc_id") == F.col("component_id")).select("doc_id")
    deduped = stage(
        uniq.join(keepers, on="doc_id", how="left_semi"), out_dir, "s3_near_dedup"
    )

    # 5: benchmark decontamination (drop docs sharing n-grams with the
    # eval set)
    dirty = (
        ngram_contamination_pairs(deduped, benchmark, n=decontam_ngram)
        .select(F.col("corpus_id").alias("doc_id"))
        .distinct()
    )
    cleaned = stage(
        deduped.join(dirty, on="doc_id", how="left_anti"), out_dir, "s4_decontaminated"
    )

    # 6-8: token counts, deterministic split, greedy packing per split
    counted = with_token_count(cleaned).select(
        "doc_id", "text", "ws_tokens"
    )
    split = stage(hash_split(counted, train_frac=train_frac), out_dir, "s5_split")
    # packing projects to the assignment columns; join text back by id
    packed = pack_token_bins(
        split,
        tokens_col="ws_tokens",
        capacity=pack_capacity,
        group_col="split",
    ).select("doc_id", "split", "ws_tokens", "bin_idx")
    final = stage(
        with_language_id(packed.join(split.select("doc_id", "text"), on="doc_id"))
        .select(
            "doc_id", "text",
            F.col("lang_id").alias("lang"),
            "ws_tokens", "split", "bin_idx",
        ),
        out_dir,
        "corpus",
    )
    return final
