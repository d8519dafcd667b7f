"""100x spot probe: sf0.1 vs a 100x DECORRELATED warehouse (sf10).

The whole-registry sf1 stress certifies cost-curve shape at 10x.  This
probe pushes the top-cost / structurally riskiest operators two orders
of magnitude past the bench SF — the scale gap a 1000-executor cluster
actually implies — on a warehouse built with
``tools/make_sf1.py ... 100 decorrelated``, whose perturbation keeps
the duplicate FRACTION constant as the corpus grows (how real crawl
corpora scale), so the true answer of every near-dup query stays
~linear and time ratios are attributable to the PLAN, not the answer.

Per query it measures one timed pass through the noop sink (all
operators execute, nothing is collected) at each SF, after a session
warmup, and for pair/cluster-emitting queries also records result-row
counts at both SFs (linear output growth is itself evidence the
blocked designs did not go quadratic).  Survival bound:
time_ratio <= input_ratio * 1.5 = 150.

Usage: python tools/scale_probe100.py [sf01_dir] [sf10_dir] [--only q1,q2]
Results merge into ``.scale/probe100_results.json`` (so a re-planned
query can be re-measured alone and a killed run resumed); the full
"## 100x spot probe" SCALING.md section regenerates from the merged
map.  Exit 1 if any recorded query exceeds its bound.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import measure  # noqa: E402
from world_vaccination_coverage_etl_spark.queries import REGISTRY  # noqa: E402
from world_vaccination_coverage_etl_spark.queries._core import (  # noqa: E402
    POOLED_QUERIES as _POOLED,
)
from world_vaccination_coverage_etl_spark.session import get_spark  # noqa: E402

INPUT_RATIO = 100.0  # sf10 / sf0.1
BOUND = INPUT_RATIO * 1.5  # input-based survival bound
SECTION = "## 100x spot probe (sf10, decorrelated)"

# representative of every heavy operator class; ROWS marks the
# pair/cluster emitters whose output linearity we also certify.
#
# WORKLOAD_OF maps a query to a companion probe whose measured output
# rows ARE this query's input workload, lifting its bound by the
# companion's measured rows ratio (a pass over E edges cannot run in
# o(E)).  r10: EMPTY — `fuzzy_entity_clusters` no longer consumes the
# quadratic doc-pair expansion; it runs connected components over the
# group-compacted star graph (O(docs + distinct-content group pairs),
# exact by construction), so the input-based bound applies again.
# Only `fuzzy_blocked_match_docs` itself — the exhaustive pair
# ENUMERATOR, whose OUTPUT is quadratic in copies because the
# decorrelated copy prefixes sit ~4 edits inside the 8-edit threshold
# — keeps an output-rows lift; the capped `fuzzy_match_topk_docs`
# flavor is the O(docs*k) object a real 100 TB run materializes.
WORKLOAD_OF: dict[str, str] = {}

PROBE = [
    ("q1_pricing_summary", False),
    ("q21_waiting_supplier", False),
    ("salted_agg_events", False),
    ("rolling_7d_unique_users", False),
    ("exact_dedup_keep", False),
    ("minhash_near_dup", True),
    ("simhash_near_dup", True),
    ("ngram_jaccard_block_lang", True),
    ("decontaminate_overlap", False),
    ("embedding_dup_pairs", True),
    ("knn_blocked_lsh", False),
    ("hard_negatives_topk", False),
    ("fuzzy_blocked_match_docs", True),
    ("fuzzy_match_topk_docs", True),
    ("dup_connected_components", True),
    ("pagerank_dup_graph", False),
    ("doc_repetition_stats", False),
    ("curation_pipeline", False),
    ("semantic_dedup_clusters", True),
    # r7 additions (r6 verdict item 3): the r6 newcomer + heavy text
    # ops never probed past sf1
    ("substring_dup_spans", True),
    ("doc_bigram_logprob", False),
    ("naive_bayes_lang_confusion", False),
    ("tfidf_top_terms", False),
    # r8 additions: the real-decode queries (row-local mapInPandas
    # encode+decode kernels — the media-pipeline posture at volume)
    ("multimodal_decode_png", False),
    ("multimodal_decode_gif", False),
    ("multimodal_decode_wav", False),
    ("multimodal_decode_jpeg", False),
    ("multimodal_sample_video", False),
    # r9 additions (r8 verdict item 4): every batch query >= 1 s at
    # sf0.1 that only had sf1 stress rows
    ("dup_cluster_sizes", True),
    ("q2_min_cost_supplier", False),
    ("fuzzy_entity_clusters", False),
    ("dup_graph_triangles", False),
    ("profile_orders_columns", False),
    ("decontaminated_corpus", False),
    ("q5_region_revenue", False),
    ("doc_unigram_logprob", False),
    ("agg_cube", False),
    ("clustering_coeff_dup_graph", False),
    ("agg_grouping_sets", False),
    ("q7_volume_shipping", False),
    ("q8_market_share", False),
    ("agg_rollup", False),
    ("doc_pii_scrub", False),
    ("approx_quantiles_value", False),
    ("q20_dominant_promo_supplier", False),
    # r9 re-plans re-probed: large-star/small-star CC
    ("multimodal_decode_progressive", False),
    ("multimodal_decode_jpeg_ac", False),
    # late-r9 media queries >= 1 s at sf0.1 (row-local, zero shuffle)
    ("multimodal_decode_jpeg420", False),
    ("multimodal_decode_adpcm", False),
    ("multimodal_sample_avi", False),
    ("multimodal_resize_image", False),
    ("multimodal_sample_mp4", False),
    # r10 additions (r9 verdict item 4): the 8 never-probed >= 1 s
    # batch queries
    ("agg_mean_ci_t", False),
    ("doc_chunk_windows", False),
    ("doc_quality_score", False),
    ("kmeans_clusters", False),
    ("multimodal_features_fake", False),
    ("q9_nation_profit", False),
    ("scd2_point_in_time_join", False),
    ("sql_api_running_revenue", False),
    # r11 additions: the two remaining TPC-H queries whose forced
    # broadcast hints on part/per-part aggregates were dropped
    ("q16_supplier_diversity", False),
    ("q17_small_qty_revenue", False),
    # r11 new registration: at sf10 the 200k-vector corpus crosses
    # adaptive_nlist's 16-cell floor (782 cells) and exercises the
    # Arrow-batched assignment path the certification SFs never see
    ("cosine_topk_ivf", False),
    ("ivf_cell_occupancy", False),
    ("pq_topk_adc", False),
    ("ivfpq_topk_adc", False),
    ("cosine_topk_ivf2", False),
    # r12 (r11 verdict items 1/4): the ex-global-window queries on
    # their new two-phase bucketed-rank plans, plus the new
    # full-fact-table ntile registration
    ("gains_table_embedding", False),
    ("rfm_user_segments", False),
    ("zipf_slope_words", False),
    ("doc_length_ntile_bins", False),
    ("event_value_decile_stats", False),
    # r12 late: the two-phase prefix-sum consumers
    ("auc_rank_embedding", False),
    ("vocab_pareto_coverage", False),
    # r13: incremental near-dup ingest — pooled banded index; the
    # pool-warm pass records the batch-sized steady-state screen cost
    ("incremental_neardup_new_docs", True),
    ("incremental_embdup_new_vecs", True),
]


def _delta_metrics(before: dict, after: dict) -> dict:
    mb = 1024 * 1024
    return {
        "spill_mb": round((after["spill"] - before["spill"]) / mb, 1),
        "gc_s": round((after["gc_ms"] - before["gc_ms"]) / 1000, 1),
        "cpu_s": round((after["run_ms"] - before["run_ms"]) / 1000, 1),
        "shuffle_w_mb": round(
            (after["shuffle_w"] - before["shuffle_w"]) / mb, 1
        ),
        "peak_exec_mb": round(after["peak"] / mb, 1),
    }


def main() -> int:
    args = list(sys.argv[1:])
    only = measure.parse_only(args, [n for n, _ in PROBE])
    sf01 = args[0] if len(args) > 0 else "/root/testdata/sf0.1"
    sf10 = args[1] if len(args) > 1 else ".scale/sf10"
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cache = os.path.join(root, ".scale", "probe100_results.json")
    results = {}
    if os.path.exists(cache):
        results = json.load(open(cache))
    spark = get_spark("scale_probe100")
    measure.warm(spark, sf01)

    todo = [
        (n, w)
        for n, w in PROBE
        if ((n in only) if only else (n not in results))
    ]
    for name, want_rows in todo:
        fn = REGISTRY[name].fn
        rec = {}
        for key, sf_dir in (("sf01", sf01), ("sf10", sf10)):
            try:
                before = measure.stage_totals(spark)
            except Exception:  # metrics are advisory diagnostics
                before = None
            # pooled queries must measure the real computation at BOTH
            # SFs, not a pool hit left by a sibling probe (r11)
            rec[f"{key}_s"] = round(
                measure.sample(spark, name, sf_dir, cold=True), 3
            )
            if before is not None:
                try:
                    rec[f"{key}_metrics"] = _delta_metrics(
                        before, measure.stage_totals(spark)
                    )
                except Exception:
                    pass
            if want_rows:
                rec[f"{key}_rows"] = fn(spark, sf_dir).count()
            # pooled queries: ALSO record the pool-warm steady-state
            # pass (r12, r11 verdict item 2 — the production shape is
            # materialize-once/consume-many; the survival bound still
            # binds on the COLD number above)
            if name in _POOLED:
                rec[f"{key}_pooled_s"] = round(
                    measure.sample(spark, name, sf_dir), 3
                )
            # heavy sf10 queries stage multi-GB intermediates; a
            # 1000-executor cluster never shares one JVM like this
            measure.release(spark)
        rec["time_ratio"] = round(rec["sf10_s"] / max(rec["sf01_s"], 1e-9), 1)
        if "sf10_pooled_s" in rec:
            rec["pooled_ratio"] = round(
                rec["sf10_pooled_s"] / max(rec["sf01_pooled_s"], 1e-9), 1
            )
        if want_rows:
            rec["rows_ratio"] = round(
                rec["sf10_rows"] / max(rec["sf01_rows"], 1), 1
            )
        # output-aware survival bound (same rule as scale_stress.py):
        # a pair enumerator whose TRUE answer grows R-fold cannot emit R
        # rows in o(R) time, so its bound is max(input-based, R x 1.5).
        # Because BOUND = INPUT_RATIO x 1.5, the max() itself already
        # keeps the input-based bound whenever output growth is at or
        # under the input ratio — a mildly quadratic plan on a
        # linear-output query gets no lift (ADVICE r6/r7).  The
        # decorrelated perturbation keeps Jaccard/cosine answers linear
        # but lands INSIDE wide edit-distance thresholds (copy prefixes
        # differ by ~4 edits < the fuzzy matcher's 8), so those answers
        # are quadratic in copies by construction.
        rows_ratio = rec.get("rows_ratio", 0)
        # workload lift (see WORKLOAD_OF): the companion's measured
        # output rows are this query's input edge/pair workload
        companion = WORKLOAD_OF.get(name)
        if companion and companion in results:
            rows_ratio = max(
                rows_ratio, results[companion].get("rows_ratio", 0)
            )
            rec["workload_of"] = companion
        rec["bound"] = round(max(BOUND, rows_ratio * 1.5), 1)
        results[name] = rec
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        with open(cache, "w") as fh:
            json.dump(results, fh, indent=1, sort_keys=True)
        print(f"[probe100] {name}: {rec}", file=sys.stderr)

    over = [
        n
        for n, r in results.items()
        if r["time_ratio"] > r.get("bound", BOUND)
    ]
    lines = [
        SECTION,
        "",
        "Generated by `tools/scale_probe100.py`: sf0.1 vs a 100x "
        "warehouse from `tools/make_sf1.py <src> <out> 100 decorrelated` "
        "(copies carry a word-level perturbation that keeps the dup "
        "FRACTION constant as the corpus grows — cross-copy Jaccard "
        "≈0.4, embedding cosine ≈0.87, both under every registered "
        "threshold — so every near-dup answer stays ~linear and time "
        "ratios measure the PLAN, not the answer).",
        "",
        "One timed noop-sink pass per query per SF on a warm session; "
        f"survival bound per query: time ratio <= max({BOUND:g}, "
        "output-rows ratio x 1.5) — input x1.5, lifted where the TRUE "
        "answer itself grows super-linearly (a pair enumerator cannot "
        "emit R rows in o(R) time; the copy-prefix edit distance ~4 "
        "sits inside the fuzzy matcher's 8-edit threshold, so its "
        "answer is quadratic in copies by construction).  `rows` "
        "columns certify output growth for the pair/cluster emitters.  "
        "r10: only the exhaustive enumerator "
        "`fuzzy_blocked_match_docs` carries that lift — "
        "`fuzzy_entity_clusters` now runs connected components over "
        "the exact group-compacted star graph and "
        "`fuzzy_match_topk_docs` caps emission at k=3 matches per "
        "doc, so both sit under the plain input-based bound.",
        "",
        f"**Queries over their bound: {len(over)}**"
        + (f" — {', '.join(over)}" if over else ""),
        "",
        "Pooled queries (materialize-once pair graphs / CC "
        "assignments) additionally record a POOL-WARM pass per SF — "
        "the steady-state consumer cost a production pipeline pays "
        "after staging the shared intermediate; the survival bound "
        "binds on the cold number.",
        "",
        "| query | sf0.1 (s) | sf10 (s) | time ratio | bound | "
        "rows sf0.1→sf10 | rows ratio | pooled sf10 (s) |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name, r in sorted(results.items(), key=lambda kv: -kv[1]["time_ratio"]):
        rows = (
            f"{r['sf01_rows']}→{r['sf10_rows']} | {r['rows_ratio']}x"
            if "rows_ratio" in r
            else "— | —"
        )
        pooled = (
            f"{r['sf10_pooled_s']} ({r.get('pooled_ratio', '?')}x)"
            if "sf10_pooled_s" in r
            else "—"
        )
        lines.append(
            f"| {name} | {r['sf01_s']} | {r['sf10_s']} | "
            f"{r['time_ratio']}x | {r.get('bound', BOUND)}x | {rows} | "
            f"{pooled} |"
        )
    ratios = sorted(r["time_ratio"] for r in results.values())
    median = f"{ratios[len(ratios) // 2]:.1f}x" if ratios else "n/a (no results)"
    lines += [
        "",
        f"{len(results)} queries probed; median time ratio "
        f"{median} on a 100x input.",
        "",
    ]

    measure.replace_section(os.path.join(root, "SCALING.md"), SECTION, lines)
    print(json.dumps({"results": results, "over_bound": over}))
    return 1 if over else 0


if __name__ == "__main__":
    sys.exit(main())
