"""Runnable demo: graph-aware duplicate-cluster curation.

    python examples/graph_curation.py [sf_dir]

Min-id keeper selection (the components default) is arbitrary; a
graph-aware curation keeps the most CENTRAL member of every duplicate
cluster — the version other near-copies orbit (usually the canonical
upstream page).  This composes the engine's certified graph pieces:

1. **pairs**       — MinHash near-dup candidate pairs at Jaccard 0.7
                     (operators/dedup.py, LSH banding + row-local
                     verify);
2. **components**  — duplicate clusters via min-label propagation
                     (operators/components.py);
3. **pagerank**    — centrality over the SAME pair graph
                     (operators/pagerank.py, 5 power iterations);
4. **keeper**      — per cluster, the member with max rank (doc-id
                     tie-break): one partial-agged max_by shuffle;
5. **decision**    — every doc labeled keep / drop-as-duplicate.

Everything distributed is a DataFrame op; only the final summary rows
reach the driver.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from world_vaccination_coverage_etl_spark.operators.components import (  # noqa: E402
    connected_components,
)
from world_vaccination_coverage_etl_spark.operators.dedup import (  # noqa: E402
    minhash_near_dup_pairs,
)
from world_vaccination_coverage_etl_spark.operators.pagerank import (  # noqa: E402
    pagerank,
)
from world_vaccination_coverage_etl_spark.operators.staging import stage  # noqa: E402
from world_vaccination_coverage_etl_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="graph_curation", master="local[8]",
                      shuffle_partitions=8)

    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    # self-union so the demo graph has guaranteed duplicate structure
    shifted = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text", "lang",
        "source", "n_chars",
    )
    corpus = docs.unionByName(shifted)

    # components and pagerank both read the pairs
    pairs = stage(minhash_near_dup_pairs(corpus, threshold=0.7))
    comp = connected_components(corpus.select("doc_id"), pairs)
    ranks = pagerank(corpus.select("doc_id"), pairs, n_iter=5)

    member = comp.join(ranks, on="doc_id")
    keeper = (
        member.groupBy("component_id")
        .agg(
            F.expr("max_by(doc_id, struct(rank, -doc_id))").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )
    decision = member.join(
        F.broadcast(keeper), on="component_id"
    ).select(
        "doc_id",
        "component_id",
        (F.col("doc_id") == F.col("keeper_id")).alias("keep"),
    )

    n_docs = corpus.count()
    n_keep = decision.filter("keep").count()
    clusters = keeper.filter(F.col("n_members") > 1)
    print(f"docs={n_docs}  kept={n_keep}  dropped={n_docs - n_keep}")
    print("largest duplicate clusters (keeper = highest PageRank):")
    clusters.orderBy(F.desc("n_members"), "component_id").show(10)


if __name__ == "__main__":
    main()
