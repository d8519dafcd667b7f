"""TPC-H breadth completion + r5d additions.

Split from the former single-file queries.py (r5 verdict item 8);
registration order is preserved by the package __init__ import order.
"""

from ..operators.staging import stage
from ._core import *  # noqa: F401,F403
from .m06_text_sampling import _DUCK_SHINGLES, _DUCK_TOKS  # oracle fragments
from .m07_dedup import _DUCK_SHINGLES_U, _docs_self_union
from .m08_similarity import _word_tokens

# --------------------------------------------------------------------- #
# TPC-H breadth completion: Q11 / Q12 / Q20 adaptations.  With these the
# registry covers every TPC-H query shape adaptable to the driver's
# star schema (no partsupp / shipmode / commitdate columns — each note
# documents the mapping), completing the 22-query sweep.


@register(
    "q11_important_parts",
    """
    WITH val AS (
      SELECT l.l_partkey,
             CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)))
                  AS DECIMAL(38,2)) AS v
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE n.n_regionkey = 0
      GROUP BY 1),
    tot AS (SELECT CAST(sum(v) AS DECIMAL(38,2)) AS t FROM val)
    SELECT val.l_partkey AS partkey,
           CAST(val.v AS DOUBLE) AS part_value
    FROM val, tot
    WHERE val.v * 1000 > tot.t
    ORDER BY part_value DESC, partkey
    """,
    note="TPC-H-style Q11 (important stock identification): the driver "
    "schema has no partsupp, so 'stock value' per part derives from "
    "lineitem supplied by region-0 suppliers (supply value = realized "
    "extendedprice).  The structural essence is preserved: group-level "
    "HAVING against a scalar fraction-of-global-total subquery over the "
    "SAME aggregate.  The global total reuses the per-part aggregate "
    "(tiny — one row per part) instead of re-scanning the fact; the "
    "threshold compares v*1000 > total in exact decimal so no float "
    "epsilon can diverge across engines; the nation filter broadcast-prunes "
    "the fact (supplier unhinted — SF-proportional, AQE picks the strategy)",
)
def q_q11_important_parts(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 0)
    val = (
        li.join(s, s.s_suppkey == li.l_suppkey)
        .join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
        .groupBy("l_partkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .alias("v")
        )
    )
    tot = val.agg(F.sum("v").cast("decimal(38,2)").alias("t"))
    return (
        val.crossJoin(F.broadcast(tot))
        .filter(F.col("v") * 1000 > F.col("t"))
        .select(
            F.col("l_partkey").alias("partkey"),
            F.col("v").cast("double").alias("part_value"),
        )
        .orderBy(F.desc("part_value"), "partkey")
    )


@register(
    "q12_priority_by_returnflag",
    """
    SELECT l.l_returnflag, l.l_linestatus,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l.l_returnflag, l.l_linestatus
    ORDER BY l.l_returnflag, l.l_linestatus
    """,
    note="TPC-H-style Q12 (shipping modes and order priority): no "
    "l_shipmode/commitdate/receiptdate columns, so the category is "
    "(returnflag, linestatus) and the date predicate is the 1997 "
    "shipdate year.  The Q12 essence — fact-to-fact join with "
    "priority-class conditional counts — is intact.  The shipdate range "
    "pushes to the lineitem scan (PushedFilters) so the join sees only "
    "the year's rows; both counts come from ONE pass (conditional agg, "
    "no second join or union), partial-aggregated map-side",
)
def q_q12_priority_by_returnflag(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0))
            .cast("long")
            .alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1))
            .cast("long")
            .alias("low_line_count"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q20_dominant_promo_supplier",
    """
    WITH pp AS (SELECT p_partkey FROM part WHERE p_type = 'PROMO'),
    q AS (
      SELECT l.l_suppkey, l.l_partkey,
             CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2)))
                  AS DECIMAL(38,2)) AS qty
      FROM lineitem l JOIN pp ON pp.p_partkey = l.l_partkey
      WHERE l.l_shipdate >= TIMESTAMP '1998-01-01'
        AND l.l_shipdate < TIMESTAMP '1999-01-01'
      GROUP BY 1, 2),
    pt AS (SELECT l_partkey, CAST(sum(qty) AS DECIMAL(38,2)) AS part_qty
           FROM q GROUP BY 1),
    dom AS (
      SELECT DISTINCT q.l_suppkey
      FROM q JOIN pt ON pt.l_partkey = q.l_partkey
      WHERE q.qty * 5 > pt.part_qty)
    SELECT s.s_name, n.n_name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE s.s_suppkey IN (SELECT l_suppkey FROM dom)
    ORDER BY s.s_name
    """,
    note="TPC-H-style Q20 (potential part promotion): no partsupp "
    "availqty, so 'excess stock' becomes 'dominant supplier' — a "
    "supplier qualifies when its 1998 shipped quantity of some PROMO "
    "part exceeds 20%% of that part's total 1998 volume (qty*5 > total "
    "in exact decimal).  Preserves Q20's nested-IN chain: part "
    "name/type filter -> correlated per-part aggregate threshold -> "
    "supplier LEFT SEMI.  The promo part list joins into the "
    "date-pruned fact scan unhinted (part grows with SF — AQE broadcast-converts at small SF only); the per-part total reuses the pair "
    "aggregate (no second fact scan); only DISTINCT suppkeys reach the "
    "semi join",
)
def q_q20_dominant_promo_supplier(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    pp = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    q = (
        li.join(pp, pp.p_partkey == li.l_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .alias("qty")
        )
    )
    pt = q.groupBy(F.col("l_partkey").alias("pt_partkey")).agg(
        F.sum("qty").cast("decimal(38,2)").alias("part_qty")
    )
    dom = (
        q.join(
            pt,
            (F.col("pt_partkey") == q.l_partkey)
            & (F.col("qty") * 5 > F.col("part_qty")),
        )
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(dom, dom.l_suppkey == s.s_suppkey, "left_semi")
        .join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


@register(
    "full_outer_reconcile_users",
    """
    WITH p AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_purchase,
             round(sum(value), 6) AS purchase_value
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    s AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_signup
      FROM events WHERE event_type = 'signup' GROUP BY 1)
    SELECT coalesce(p.user_id, s.user_id) AS user_id,
           coalesce(p.n_purchase, 0) AS n_purchase,
           coalesce(p.purchase_value, 0.0) AS purchase_value,
           coalesce(s.n_signup, 0) AS n_signup,
           CASE WHEN p.user_id IS NULL THEN 'signup_only'
                WHEN s.user_id IS NULL THEN 'purchase_only'
                ELSE 'both' END AS presence
    FROM p FULL OUTER JOIN s ON s.user_id = p.user_id
    ORDER BY user_id
    """,
    note="FULL OUTER reconciliation — the one join family the registry "
    "didn't yet exercise: per-user purchase activity vs signup activity "
    "with null-side coalescing and a presence flag (the data-quality "
    "'which side is missing' report shape).  Both sides partial-agg "
    "BEFORE the join so the full-outer shuffle moves one row per user "
    "per side, not raw events; at 100 TB both inputs arrive "
    "hash-partitioned on user_id from their aggregations so the join "
    "reuses the exchange",
)
def q_full_outer_reconcile_users(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchase"),
            F.round(F.sum("value"), 6).alias("purchase_value"),
        )
    )
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy(F.col("user_id").alias("s_user_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_signup"))
    )
    j = p.join(s, s.s_user_id == p.user_id, "full_outer")
    return (
        j.select(
            F.coalesce(p.user_id, s.s_user_id).alias("user_id"),
            F.coalesce("n_purchase", F.lit(0)).alias("n_purchase"),
            F.coalesce("purchase_value", F.lit(0.0)).alias("purchase_value"),
            F.coalesce("n_signup", F.lit(0)).alias("n_signup"),
            F.when(p.user_id.isNull(), F.lit("signup_only"))
            .when(s.s_user_id.isNull(), F.lit("purchase_only"))
            .otherwise(F.lit("both"))
            .alias("presence"),
        )
        .orderBy("user_id")
    )


@register(
    "window_rank_family",
    """
    SELECT c_custkey, c_mktsegment,
           CAST(row_number() OVER w AS BIGINT) AS rn,
           CAST(rank() OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           round(percent_rank() OVER w, 6) AS prnk,
           round(cume_dist() OVER w, 6) AS cdist,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal DESC, c_custkey)
    ORDER BY c_mktsegment, rn
    """,
    note="the full ranking-function family in ONE window pass (one "
    "shuffle on the partition key, one sort): row_number / rank / "
    "dense_rank / percent_rank / cume_dist / ntile share a single "
    "WindowExec.  The order key carries a c_custkey tiebreak so the "
    "tie-sensitive functions (row_number, ntile) are deterministic "
    "cross-engine; the value-based ones agree on ties by definition",
)
def q_window_rank_family(spark, sf_dir):
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.col("c_custkey")
    )
    return (
        _t(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            "c_mktsegment",
            F.row_number().over(w).cast("long").alias("rn"),
            F.rank().over(w).cast("long").alias("rnk"),
            F.dense_rank().over(w).cast("long").alias("drnk"),
            F.round(F.percent_rank().over(w), 6).alias("prnk"),
            F.round(F.cume_dist().over(w), 6).alias("cdist"),
            F.ntile(4).over(w).cast("long").alias("quartile"),
        )
        .orderBy("c_mktsegment", "rn")
    )


@register(
    "events_gapfill_locf",
    """
    WITH d AS (
      SELECT event_type, user_id % 50 AS ub, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n, round(avg(value), 6) AS v
      FROM events GROUP BY 1, 2, 3),
    spans AS (
      SELECT event_type, ub, min(day) AS d0, max(day) AS d1
      FROM d GROUP BY 1, 2),
    cal AS (
      SELECT s.event_type, s.ub, CAST(g.day AS DATE) AS day
      FROM spans s, LATERAL (
        SELECT unnest(generate_series(s.d0, s.d1,
                                      INTERVAL 1 DAY))::DATE AS day) g)
    SELECT c.event_type, c.ub, c.day,
           coalesce(d.n, 0) AS n,
           last_value(d.v IGNORE NULLS) OVER (
             PARTITION BY c.event_type, c.ub ORDER BY c.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS v_locf,
           CAST(d.n IS NULL AS BOOLEAN) AS filled
    FROM cal c LEFT JOIN d
      ON d.event_type = c.event_type AND d.ub = c.ub AND d.day = c.day
    ORDER BY c.event_type, c.ub, c.day
    """,
    note="time-series gap filling + LOCF interpolation (the hypertable "
    "rollup / time_bucket_gapfill shape): per-(type, user-bucket) daily "
    "series densified to a complete calendar via sequence()+explode of "
    "each series' own [min, max] span, missing days filled with "
    "count=0 and last-observation-carried-forward value (one "
    "ignoreNulls window pass).  The calendar derives from the per-group "
    "aggregate (tiny) and joins back on the grouped daily rows, so "
    "nothing re-scans raw events; generation is per-group (no global "
    "calendar broadcast blow-up at 100 TB)",
)
def q_events_gapfill_locf(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    d = (
        ev.groupBy(
            "event_type",
            F.pmod(F.col("user_id"), F.lit(50)).cast("long").alias("ub"),
            F.col("ts").cast("date").alias("day"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.avg("value"), 6).alias("v"),
        )
    )
    cal = (
        d.groupBy(
            F.col("event_type").alias("c_type"), F.col("ub").alias("c_ub")
        )
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "c_type",
            "c_ub",
            F.explode(
                F.sequence("d0", "d1", F.expr("interval 1 day"))
            ).alias("c_day"),
        )
    )
    j = cal.join(
        d,
        (d.event_type == cal.c_type)
        & (d.ub == cal.c_ub)
        & (d.day == cal.c_day),
        "left",
    )
    w = (
        Window.partitionBy("c_type", "c_ub")
        .orderBy("c_day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        j.select(
            F.col("c_type").alias("event_type"),
            F.col("c_ub").alias("ub"),
            F.col("c_day").alias("day"),
            F.coalesce("n", F.lit(0)).alias("n"),
            F.last("v", ignorenulls=True).over(w).alias("v_locf"),
            F.col("n").isNull().alias("filled"),
        )
        .orderBy("event_type", "ub", "day")
    )


@register(
    "regr_trend_daily_value",
    """
    WITH x AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS DOUBLE) AS d,
             value
      FROM events)
    SELECT event_type,
           round(regr_slope(value, d), 6) AS slope,
           round(regr_intercept(value, d), 6) AS intercept,
           round(regr_r2(value, d), 6) AS r2,
           round(corr(d, value), 6) AS corr_dv,
           CAST(count(*) AS BIGINT) AS n
    FROM x GROUP BY event_type ORDER BY event_type
    """,
    note="per-group OLS trend detection with the SQL regression "
    "aggregate family (regr_slope/intercept/r2 + corr) — drift "
    "monitoring over a metric stream in ONE partial-aggregable pass "
    "(each regr_* is sums/co-moments, so map-side combine applies; no "
    "window, no second scan).  The regressor is days-since-epoch-start "
    "(small magnitude) so the co-moment cancellation stays far from "
    "double precision limits and 6-dp rounding is stable cross-engine",
)
def q_regr_trend_daily_value(spark, sf_dir):
    d = F.datediff(
        F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
    ).cast("double")
    return (
        _t(spark, sf_dir, "events")
        .select("event_type", d.alias("d"), "value")
        .groupBy("event_type")
        .agg(
            F.round(F.regr_slope("value", "d"), 6).alias("slope"),
            F.round(F.regr_intercept("value", "d"), 6).alias("intercept"),
            F.round(F.regr_r2("value", "d"), 6).alias("r2"),
            F.round(F.corr("d", "value"), 6).alias("corr_dv"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .orderBy("event_type")
    )


@register(
    "hll_sketch_union_users",
    """
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS est_within_5pct
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    note="re-aggregatable distinct-count sketches — THE 100 TB "
    "pre-aggregation pattern: per-(type, day) HLL sketches built once "
    "(hll_sketch_agg), then merged across days with hll_union_agg and "
    "estimated — the daily sketch table is what a warehouse would "
    "persist so weekly/monthly rollups never re-touch raw events.  "
    "Hash-certified via an in-plan accuracy gate: the merged estimate "
    "must sit within 5%% of the exact distinct (far beyond HLL's "
    "lgConfigK=12 error of ~1.6%%); the driver-visible columns are the "
    "exact count and the gate boolean, both engine-portable",
)
def q_hll_sketch_union_users(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"))
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    exact = ev.groupBy(F.col("event_type").alias("e_type")).agg(
        F.count_distinct("user_id").cast("long").alias("exact_users")
    )
    return (
        merged.join(exact, F.col("e_type") == merged.event_type)
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("est") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("est_within_5pct"),
        )
        .orderBy("event_type")
    )


@register(
    "fuzzy_blocked_match_docs",
    """
    WITH d AS (
      SELECT doc_id, lang, n_chars // 16 AS lb, substr(text, 1, 40) AS h
      FROM documents)
    SELECT least(a.doc_id, b.doc_id) AS doc_lo,
           greatest(a.doc_id, b.doc_id) AS doc_hi,
           CAST(levenshtein(a.h, b.h) AS BIGINT) AS dist
    FROM d a JOIN d b
      ON a.lang = b.lang AND b.lb - a.lb IN (0, 1)
     AND ((a.lb = b.lb AND a.doc_id < b.doc_id) OR a.lb < b.lb)
    WHERE levenshtein(a.h, b.h) <= 8
    ORDER BY doc_lo, doc_hi
    """,
    note="record-linkage fuzzy matching with blocking, GROUP-COLLAPSED: "
    "the match predicate depends only on (lang, length-bucket, 40-char "
    "prefix), so docs sharing that triple are interchangeable — the "
    "plan first collapses to DISTINCT (lang, lb, h) groups (min doc_id "
    "as group id), runs the dual-probe blocked candidate join and the "
    "banded levenshtein(a, h, 8) verify on GROUPS, then expands "
    "matching group pairs back to doc pairs via two member joins "
    "(within-group pairs are dist-0 by construction and come from a "
    "member self-join on group id).  This moves the Sum(b^2) candidate "
    "volume from raw row count onto distinct-content entropy: on the "
    "10x sf1 stress the verify volume fell 30.3M -> 406k doc/group "
    "pairs (measured) because duplicate-heavy corpora collapse hard — "
    "the shape that survives 100 TB, where raw-row blocking is "
    "quadratic in the dup rate.  Expansion output (x*y pairs per "
    "matching group pair) is intrinsic to pair-enumeration semantics; "
    "the curation operators consume components/representatives "
    "instead when full pair lists would be astronomically large.  "
    "Same-bucket group pairs are gid-ordered and cross-bucket pairs "
    "bucket-ordered, so each unordered pair emerges exactly once (no "
    "DISTINCT pass).  Levenshtein is the standard edit distance in "
    "both engines",
)
def q_fuzzy_blocked_match_docs(spark, sf_dir):
    return _fuzzy_blocked_pairs(spark, sf_dir).orderBy("doc_lo", "doc_hi")


def _fuzzy_group_graph(spark, sf_dir):
    """The GROUP-COLLAPSED fuzzy match graph: ``(groups, members,
    gpairs)`` with groups = one row per distinct (lang, lb, h) content
    triple (gid = min member doc_id, grp_n = member count), members =
    (doc_id, gid), gpairs = matched group pairs (gid_a, gid_b, dist ≤
    8) each unordered pair exactly once.

    This is the linear-sized object every fuzzy consumer should build
    on: group count is bounded by distinct-content entropy and the
    pair set by blocked content similarity — neither inherits the
    corpus' duplicate multiplicity, which is what makes the quadratic
    doc-pair expansion optional rather than structural (r9 verdict
    item 1).

    Candidate-join shape (r10): the blocked self-join's INPUT is
    small but its per-key fan-out is quadratic in bucket occupancy,
    so AQE's input-size-based coalescing squeezed it onto a handful
    of reducers with one hot-bucket straggler (measured: minutes-long
    10-task stages at sf10).  Both sides are therefore explicitly
    pre-partitioned on the join keys PLUS a salt — the probe side
    carries one salt per row, the index side is replicated per salt —
    with a partition count sized from the parquet footer row count;
    the planner reuses the user exchanges (co-partitioned on the join
    keys), AQE cannot re-coalesce them, and hot (lang, lb) buckets
    spread over ``nsalt`` reducers.  At bench SF the row count keeps
    the fan-out at cluster parallelism, so tiny inputs pay no extra
    task storm."""
    dp = spark.sparkContext.defaultParallelism
    rows = parquet_num_rows(sf_dir, "documents")
    nparts = int(min(dp * 8, max(dp, rows // 2000)))
    nsalt = 4 if rows < 50_000 else 16
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        (F.col("n_chars") / 16).cast("long").alias("lb"),
        F.substring("text", 1, 40).alias("h"),
    )
    # collapse: all docs with one (lang, lb, h) behave identically
    g = d.groupBy("lang", "lb", "h").agg(
        F.min("doc_id").alias("gid"), F.count("*").alias("grp_n")
    )
    members = d.join(g.drop("grp_n"), on=["lang", "lb", "h"]).select(
        "doc_id", "gid"
    )
    probes = g.select(
        F.col("gid").alias("a_gid"),
        F.col("lang").alias("a_lang"),
        F.col("lb").alias("a_lb"),
        F.col("h").alias("a_h"),
        F.explode(F.array(F.col("lb"), F.col("lb") + 1)).alias("probe_lb"),
    ).withColumn(
        "__salt", F.pmod(F.xxhash64("a_gid"), F.lit(nsalt)).cast("int")
    )
    idx = g.select(
        F.col("lang").alias("i_lang"),
        F.col("lb").alias("i_lb"),
        "h",
        "gid",
    ).withColumn(
        "__isalt",
        F.explode(F.sequence(F.lit(0).cast("int"), F.lit(nsalt - 1).cast("int"))),
    )
    j = (
        probes.repartition(nparts, "a_lang", "probe_lb", "__salt")
        .join(
            idx.repartition(nparts, "i_lang", "i_lb", "__isalt"),
            (F.col("i_lang") == F.col("a_lang"))
            & (F.col("i_lb") == F.col("probe_lb"))
            & (F.col("__isalt") == F.col("__salt")),
        )
        .filter(
            (
                (F.col("a_lb") == F.col("i_lb"))
                & (F.col("a_gid") < F.col("gid"))
            )
            | (F.col("a_lb") < F.col("i_lb"))
        )
    )
    dist = F.levenshtein(F.col("a_h"), F.col("h"), 8)
    gpairs = j.filter((dist >= 0) & (dist <= 8)).select(
        F.col("a_gid").alias("gid_a"),
        F.col("gid").alias("gid_b"),
        dist.cast("long").alias("dist"),
    )
    return g, members, gpairs


def _fuzzy_blocked_pairs(spark, sf_dir):
    """Unordered fuzzy-match doc pairs (see q_fuzzy_blocked_match_docs);
    unsorted so graph consumers skip the global sort."""
    _g, members, gpairs = _fuzzy_group_graph(spark, sf_dir)
    cross = (
        gpairs.join(
            members.select(
                F.col("doc_id").alias("id_a"), F.col("gid").alias("gid_a")
            ),
            on="gid_a",
        )
        .join(
            members.select(
                F.col("doc_id").alias("id_b"), F.col("gid").alias("gid_b")
            ),
            on="gid_b",
        )
        .select(
            F.least("id_a", "id_b").alias("doc_lo"),
            F.greatest("id_a", "id_b").alias("doc_hi"),
            "dist",
        )
    )
    within = (
        members.alias("x")
        .join(
            members.alias("y"),
            (F.col("x.gid") == F.col("y.gid"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_lo"),
            F.col("y.doc_id").alias("doc_hi"),
            F.lit(0).cast("long").alias("dist"),
        )
    )
    return cross.unionAll(within)


@register(
    "fuzzy_match_topk_docs",
    """
    WITH d AS (
      SELECT doc_id, lang, n_chars // 16 AS lb, substr(text, 1, 40) AS h
      FROM documents),
    p AS (
      SELECT a.doc_id AS doc_id, b.doc_id AS match_id,
             CAST(levenshtein(a.h, b.h) AS BIGINT) AS dist
      FROM d a JOIN d b
        ON a.lang = b.lang AND b.lb - a.lb IN (-1, 0, 1)
       AND a.doc_id <> b.doc_id
      WHERE levenshtein(a.h, b.h) <= 8),
    r AS (
      SELECT doc_id, match_id, dist,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY dist, match_id) AS rk
      FROM p)
    SELECT doc_id, match_id, dist, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= 3 ORDER BY doc_id, rk
    """,
    note="the CAPPED fuzzy-match flavor (r9 verdict item 1): per doc, "
    "only its k=3 best matches (smallest banded levenshtein, then "
    "smallest partner doc_id) — the edge set a real 100 TB entity-"
    "resolution run materializes, O(docs·k) by construction where the "
    "exhaustive sibling's output is O(copies²) on duplicate-heavy "
    "corpora.  The plan NEVER expands the quadratic pair set: it runs "
    "on the group-collapsed graph, prunes neighbor groups per "
    "(group, dist) to the k smallest-min-id groups (any partner in a "
    "doc's global top-k at a dist level must live in one of them — "
    "k groups with smaller min ids would otherwise supply k smaller "
    "partners), expands only the k(+1 for self-exclusion) smallest "
    "members of each surviving group, and takes the final top-k with "
    "one per-doc window.  Candidate volume is O(docs·k + "
    "group_pairs·k²); the oracle pins the same rule by brute-force "
    "expansion + window, certifying the prune is lossless",
)
def q_fuzzy_match_topk_docs(spark, sf_dir):
    k = 3
    _g, members, gpairs = _fuzzy_group_graph(spark, sf_dir)
    members = stage(members, lazy=True)
    # symmetric group adjacency; per (gid, dist) keep the k neighbor
    # groups with the smallest min-member id — gid IS that min id
    adj = gpairs.select(
        F.col("gid_a").alias("gid"), F.col("gid_b").alias("ngid"), "dist"
    ).unionAll(
        gpairs.select(
            F.col("gid_b").alias("gid"), F.col("gid_a").alias("ngid"), "dist"
        )
    )
    wg = Window.partitionBy("gid", "dist").orderBy("ngid")
    adj = (
        adj.withColumn("gr", F.row_number().over(wg))
        .filter(F.col("gr") <= k)
        .drop("gr")
    )
    # per group: its k+1 smallest member ids (k partners after
    # excluding self on the own-group side; neighbor side uses k)
    wm = Window.partitionBy("gid").orderBy("doc_id")
    small = members.withColumn("mr", F.row_number().over(wm)).filter(
        F.col("mr") <= k + 1
    )
    own = (
        members.alias("a")
        .join(small.alias("s"), F.col("a.gid") == F.col("s.gid"))
        .filter(F.col("a.doc_id") != F.col("s.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("s.doc_id").alias("match_id"),
            F.lit(0).cast("long").alias("dist"),
        )
    )
    cross = (
        members.alias("a")
        .join(adj, F.col("a.gid") == adj.gid)
        .join(
            small.alias("s"),
            (F.col("ngid") == F.col("s.gid")) & (F.col("s.mr") <= k),
        )
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("s.doc_id").alias("match_id"),
            F.col("dist"),
        )
    )
    wd = Window.partitionBy("doc_id").orderBy("dist", "match_id")
    return (
        own.unionAll(cross)
        .withColumn("rk", F.row_number().over(wd).cast("long"))
        .filter(F.col("rk") <= k)
        .select("doc_id", "match_id", "dist", "rk")
        .orderBy("doc_id", "rk")
    )


@register(
    "doc_bigram_logprob",
    f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKS} AS t FROM documents),
    bg AS (
      SELECT doc_id, t[i] AS prev, t[i + 1] AS w
      FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) r
      WHERE len(t) >= 2),
    tf AS (SELECT doc_id, prev, w, count(*) AS tf FROM bg GROUP BY 1, 2, 3),
    c2 AS (SELECT prev, w, sum(tf) AS c2 FROM tf GROUP BY 1, 2),
    c1 AS (SELECT prev, sum(c2) AS c1 FROM c2 GROUP BY 1)
    SELECT tf.doc_id,
           round(sum(tf.tf * -ln(c2.c2 / c1.c1)) / sum(tf.tf), 6)
             AS avg_bigram_nll,
           CAST(sum(tf.tf) AS BIGINT) AS n_bigrams
    FROM tf JOIN c2 USING (prev, w) JOIN c1 USING (prev)
    GROUP BY tf.doc_id ORDER BY tf.doc_id
    """,
    note="bigram conditional-NLL perplexity proxy (operators/text.py "
    "bigram_logprob) — the order-sensitive sibling of "
    "doc_unigram_logprob: penalizes scrambled word order that a "
    "unigram model can't see.  Bigrams are built ROW-LOCALLY (token "
    "array zipped against its own shift — no window shuffle); "
    "per-(doc, bigram) counts first so vocabulary-join skew stays "
    "bounded by document frequency; p = c2/c1 is a ratio of integers "
    "under the 6-dp ln() contract",
)
def q_doc_bigram_logprob(spark, sf_dir):
    from ..operators.text import bigram_logprob

    # fan the row-local bigram build out past the scan's split count
    # once the table is big enough for the exchange to pay
    d = fan_out(_t(spark, sf_dir, "documents"), sf_dir, min_bytes=16 << 20)
    return bigram_logprob(d).orderBy("doc_id")


@register(
    "skew_report_events",
    """
    WITH pu AS (
      SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2)
    SELECT event_type,
           CAST(sum(n) AS BIGINT) AS n_events,
           CAST(count(*) AS BIGINT) AS n_users,
           round(max(n) * 1.0 / sum(n), 6) AS top1_share,
           round(quantile_cont(n, 0.99) /
                 greatest(quantile_cont(n, 0.50), 1.0), 6) AS p99_over_p50
    FROM pu GROUP BY event_type ORDER BY event_type
    """,
    note="partition-skew diagnosis report — the query you run BEFORE "
    "choosing a salting factor: per grouping key, the hottest "
    "sub-key's share of rows and the p99/p50 ratio of per-sub-key "
    "counts.  Two partial-aggregable passes (per-(type,user) counts, "
    "then per-type stats over the count distribution); at 100 TB this "
    "is exactly the evidence `salted_agg_events` / `skew_join_segment` "
    "act on.  Exact percentiles run over one row per (type,user) — "
    "already reduced volume",
)
def q_skew_report_events(spark, sf_dir):
    pu = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return (
        pu.groupBy("event_type")
        .agg(
            F.sum("n").cast("long").alias("n_events"),
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.round(F.max("n") / F.sum("n"), 6).alias("top1_share"),
            F.round(
                F.percentile("n", 0.99)
                / F.greatest(F.percentile("n", 0.50), F.lit(1.0)),
                6,
            ).alias("p99_over_p50"),
        )
        .orderBy("event_type")
    )


@register(
    "assoc_rules_event_types",
    """
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    nu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n FROM events),
    marg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS na
             FROM ut GROUP BY 1),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS n_ab
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2)
    SELECT p.type_a, p.type_b, p.n_ab,
           round(p.n_ab * 1.0 / nu.n, 6) AS support,
           round(p.n_ab * 1.0 / ma.na, 6) AS conf_a_to_b,
           round(p.n_ab * 1.0 / mb.na, 6) AS conf_b_to_a,
           round(p.n_ab * 1.0 * nu.n / (ma.na * mb.na), 6) AS lift
    FROM pairs p
    JOIN marg ma ON ma.event_type = p.type_a
    JOIN marg mb ON mb.event_type = p.type_b, nu
    ORDER BY p.type_a, p.type_b
    """,
    note="association-rule mining (market-basket co-occurrence): "
    "support / confidence / lift for every event-type pair "
    "co-occurring in a user's history.  The pair self-join runs over "
    "the DISTINCT (user, type) set — per-user pair fan-out is bounded "
    "by the type-domain size squared, never by event volume — and both "
    "marginal joins broadcast (one row per type).  All measures are "
    "integer ratios at 6 dp",
)
def q_assoc_rules_event_types(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    nu = ev.agg(F.count_distinct("user_id").cast("long").alias("n"))
    marg = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("na")
    )
    b = ut.select(
        F.col("user_id").alias("b_user"), F.col("event_type").alias("type_b")
    )
    pairs = (
        ut.join(
            b,
            (b.b_user == ut.user_id) & (ut.event_type < b.type_b),
        )
        .groupBy(F.col("event_type").alias("type_a"), "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    ma = marg.select(F.col("event_type").alias("type_a"), F.col("na").alias("na_a"))
    mb = marg.select(F.col("event_type").alias("type_b"), F.col("na").alias("na_b"))
    return (
        pairs.join(F.broadcast(ma), "type_a")
        .join(F.broadcast(mb), "type_b")
        .crossJoin(F.broadcast(nu))
        .select(
            "type_a",
            "type_b",
            "n_ab",
            F.round(F.col("n_ab") / F.col("n"), 6).alias("support"),
            F.round(F.col("n_ab") / F.col("na_a"), 6).alias("conf_a_to_b"),
            F.round(F.col("n_ab") / F.col("na_b"), 6).alias("conf_b_to_a"),
            F.round(
                F.col("n_ab") * F.col("n") / (F.col("na_a") * F.col("na_b")), 6
            ).alias("lift"),
        )
        .orderBy("type_a", "type_b")
    )


@register(
    "multi_touch_attribution",
    """
    WITH j AS (
      SELECT p.event_id AS purchase_id, c.event_id AS click_id,
             p.value AS purchase_value
      FROM events c JOIN events p
        ON p.user_id = c.user_id
       AND c.event_type = 'click' AND p.event_type = 'purchase'
       AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 6 HOUR)
    SELECT purchase_id, click_id,
           CAST(count(*) OVER (PARTITION BY purchase_id) AS BIGINT)
             AS n_touches,
           round(1.0 / count(*) OVER (PARTITION BY purchase_id), 6)
             AS weight,
           round(purchase_value / count(*) OVER (PARTITION BY purchase_id),
                 6) AS credited_value
    FROM j ORDER BY purchase_id, click_id
    """,
    note="linear multi-touch attribution: every click within 6 h before "
    "a purchase shares the credit equally (weight = 1/n_touches, "
    "credited value = purchase value / n).  The candidate join is the "
    "bucketed interval join (operators/rangejoin.py — equi hash join "
    "on (user, bucket) + residual, never a nested loop); the credit "
    "normalization is ONE unordered window over the matched pairs, "
    "partitioned by purchase — no second join back to purchases",
)
def q_multi_touch_attribution(spark, sf_dir):
    from ..operators.rangejoin import bucketed_interval_join

    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        "ts",
        F.col("value").alias("purchase_value"),
    )
    j = bucketed_interval_join(
        clicks, purchases, keys=["user_id"],
        left_ts="ts", right_ts="ts", interval_seconds=6 * 3600,
    )
    w = Window.partitionBy("purchase_id")
    n = F.count(F.lit(1)).over(w)
    return (
        j.select(
            F.col("r_purchase_id").alias("purchase_id"),
            F.col("l_click_id").alias("click_id"),
            F.col("r_purchase_value").alias("purchase_value"),
        )
        .select(
            "purchase_id",
            "click_id",
            n.cast("long").alias("n_touches"),
            F.round(F.lit(1.0) / n, 6).alias("weight"),
            F.round(F.col("purchase_value") / n, 6).alias("credited_value"),
        )
        .orderBy("purchase_id", "click_id")
    )


@register(
    "revenue_share_window",
    """
    WITH rev AS (
      SELECT n.n_name, r.r_name,
             CAST(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2)))
                       AS DECIMAL(38,2)) AS DOUBLE) AS revenue
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY 1, 2)
    SELECT n_name, r_name, round(revenue, 2) AS revenue,
           round(revenue / sum(revenue) OVER (PARTITION BY r_name), 6)
             AS region_share,
           round(revenue / sum(revenue) OVER (), 6) AS global_share
    FROM rev ORDER BY r_name, n_name
    """,
    note="percent-of-total via unordered window aggregates (the "
    "ratio_to_report shape): per-nation revenue with its share of the "
    "region and of the world.  The windows run over the ALREADY "
    "AGGREGATED 25-row result — zero full-volume window cost; the "
    "denominator sums the same exact-decimal revenue both engines "
    "computed, so the 6-dp shares agree.  Nation/region broadcast; the "
    "customer side is unhinted (SF-proportional); "
    "the empty-frame global window is a 1-row exchange, not a "
    "single-partition sort of the fact",
)
def q_revenue_share_window(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = (
        o.join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .cast("double")
            .alias("revenue")
        )
    )
    wr = Window.partitionBy("r_name")
    wg = Window.partitionBy()
    return rev.select(
        "n_name",
        "r_name",
        F.round("revenue", 2).alias("revenue"),
        F.round(F.col("revenue") / F.sum("revenue").over(wr), 6).alias(
            "region_share"
        ),
        F.round(F.col("revenue") / F.sum("revenue").over(wg), 6).alias(
            "global_share"
        ),
    ).orderBy("r_name", "n_name")


@register(
    "mad_outliers_value",
    """
    WITH med AS (
      SELECT event_type, median(value) AS med
      FROM events GROUP BY 1),
    dev AS (
      SELECT e.event_type, abs(e.value - m.med) AS d, m.med
      FROM events e JOIN med m ON m.event_type = e.event_type),
    mad AS (
      SELECT event_type, median(d) AS mad FROM dev GROUP BY 1)
    SELECT d.event_type,
           round(max(d.med), 6) AS med,
           round(max(m.mad), 6) AS mad,
           CAST(sum(CASE WHEN d.d > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers,
           CAST(count(*) AS BIGINT) AS n
    FROM dev d JOIN mad m ON m.event_type = d.event_type
    GROUP BY d.event_type ORDER BY d.event_type
    """,
    note="robust outlier detection via median absolute deviation — the "
    "3-sigma rule without the mean's outlier sensitivity.  Two "
    "broadcast-joined passes (per-type median, then median of absolute "
    "deviations, then the threshold count); the interpolated medians "
    "are bit-identical cross-engine ((a+b)/2 on identical doubles) so "
    "the UNROUNDED 3*mad comparison is exact — no epsilon.  At volume "
    "the exact medians swap for the percentile sketch "
    "(approx_quantiles_value) with the same topology",
)
def q_mad_outliers_value(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("med")).alias("d"), "med"
    )
    mad = dev.groupBy(F.col("event_type").alias("m_type")).agg(
        F.median("d").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), F.col("m_type") == dev.event_type)
        .groupBy("event_type")
        .agg(
            F.round(F.max("med"), 6).alias("med"),
            F.round(F.max("mad"), 6).alias("mad"),
            F.sum(
                F.when(F.col("d") > 3 * F.col("mad"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .orderBy("event_type")
    )


@register(
    "rolling_7d_unique_users",
    """
    WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
                FROM events),
    days AS (SELECT DISTINCT day FROM du)
    SELECT d.day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS uniq_7d
    FROM days d JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
    GROUP BY d.day ORDER BY d.day
    """,
    note="trailing-7-day distinct users per day — the rolling-distinct "
    "problem, which no windowed aggregate solves scalably (collect_set "
    "over a RANGE frame buffers every window's members per row).  "
    "Scale shape: reduce to DISTINCT (day, user) pairs first, then "
    "each pair REPLICATES to the 7 anchor days it can influence "
    "(explode of a 7-day sequence) and one distinct-agg per anchor "
    "finishes it — linear 7× replication of the already-reduced "
    "day-user volume, fully partial-aggregable, no per-row set state.  "
    "Anchors restrict to observed event days (semi join with the "
    "distinct-day list).  The HLL-sketch variant "
    "(hll_sketch_union_users) is the same topology with mergeable "
    "state for when day-user pairs themselves are too many",
)
def q_rolling_7d_unique_users(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    du = ev.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    days = du.select("day").distinct()
    anchors = du.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"),
                F.date_add(F.col("day"), 6),
                F.expr("interval 1 day"),
            )
        ).alias("anchor"),
    )
    return (
        anchors.join(
            days, days.day == anchors.anchor, "left_semi"
        )
        .groupBy(F.col("anchor").alias("day"))
        .agg(F.count_distinct("user_id").cast("long").alias("uniq_7d"))
        .orderBy("day")
    )


@register(
    "markov_transition_matrix",
    """
    WITH seq AS (
      SELECT event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events),
    cnt AS (
      SELECT cur, nxt, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2)
    SELECT cur, nxt, n,
           round(n * 1.0 / sum(n) OVER (PARTITION BY cur), 6) AS p
    FROM cnt ORDER BY cur, nxt
    """,
    note="first-order Markov transition matrix over per-user event "
    "sequences — the sequence-modeling summary behind next-action "
    "prediction and anomalous-flow detection.  One lead() window pass "
    "(shuffle on user_id, tie-broken by event_id for cross-engine "
    "determinism), one partial-aggregable pair count, and the row "
    "normalization runs over the aggregated ≤|types|² rows.  Integer "
    "ratio at 6 dp",
)
def q_markov_transition_matrix(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    cnt = seq.groupBy("cur", "nxt").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    wc = Window.partitionBy("cur")
    return cnt.select(
        "cur",
        "nxt",
        "n",
        F.round(F.col("n") / F.sum("n").over(wc), 6).alias("p"),
    ).orderBy("cur", "nxt")


@register(
    "conversion_latency_percentiles",
    """
    WITH su AS (
      SELECT user_id, min(ts) AS signup_ts
      FROM events WHERE event_type = 'signup' GROUP BY 1),
    delta AS (
      SELECT su.user_id,
             date_diff('second', su.signup_ts, min(e.ts)) * 1.0 AS secs
      FROM su JOIN events e
        ON e.user_id = su.user_id
       AND e.event_type = 'purchase' AND e.ts >= su.signup_ts
      GROUP BY su.user_id, su.signup_ts)
    SELECT CAST(count(*) AS BIGINT) AS n_converted,
           round(quantile_cont(secs, 0.5), 4) AS p50_s,
           round(quantile_cont(secs, 0.9), 4) AS p90_s,
           round(max(secs), 4) AS max_s
    FROM delta
    """,
    note="signup→purchase conversion latency distribution: first "
    "signup per user (partial-agged), purchases after it equi-joined "
    "on user_id (both sides already reduced/filtered — no broadcast "
    "assumption about user cardinality), first qualifying purchase per "
    "user, then exact interpolated percentiles over the per-user "
    "latency (one row per converted user — reporting volume).  "
    "Integer-second deltas keep the quantile interpolation exact "
    "cross-engine",
)
def q_conversion_latency_percentiles(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    pu = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    delta = (
        su.join(
            pu,
            (pu.p_user == su.user_id) & (pu.p_ts >= su.signup_ts),
        )
        .groupBy("user_id", "signup_ts")
        .agg(F.min("p_ts").alias("first_purchase_ts"))
        .select(
            (
                F.unix_timestamp("first_purchase_ts")
                - F.unix_timestamp("signup_ts")
            ).cast("double").alias("secs")
        )
    )
    return delta.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.round(F.percentile("secs", 0.5), 4).alias("p50_s"),
        F.round(F.percentile("secs", 0.9), 4).alias("p90_s"),
        F.round(F.max("secs"), 4).alias("max_s"),
    )


@register(
    "embedding_covariance",
    """
    WITH q AS (
      SELECT vec_id, CAST(i - 1 AS INTEGER) AS i,
             CAST(floor(embedding[i]::DOUBLE * 1000 + 0.5) AS BIGINT) AS qv
      FROM embeddings,
           LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) r),
    nn AS (SELECT count(*)::BIGINT AS n FROM embeddings),
    m AS (
      SELECT a.i AS i, b.i AS j,
             sum(a.qv * b.qv)::BIGINT AS s_xx,
             sum(a.qv)::BIGINT AS s_x_i,
             sum(b.qv)::BIGINT AS s_x_j
      FROM q a JOIN q b USING (vec_id)
      GROUP BY 1, 2),
    p AS (
      SELECT i, j, s_x_i, s_x_j, s_xx, n,
             1000000::HUGEINT
               * (n::HUGEINT * s_xx::HUGEINT
                  - s_x_i::HUGEINT * s_x_j::HUGEINT) AS num,
             n::HUGEINT * n::HUGEINT * 1000000::HUGEINT AS den
      FROM m, nn)
    SELECT i, j, s_x_i, s_x_j, s_xx, n,
           CAST(CASE WHEN num >= 0 THEN (2 * num + den) // (2 * den)
                     ELSE -((-2 * num + den) // (2 * den)) END
                AS BIGINT) AS cov_micro
    FROM p ORDER BY i, j
    """,
    note="distributed covariance matrix of the embedding column on a "
    "FIXED-POINT INTEGER contract (operators/pca.py "
    "embedding_covariance_fixedpoint) — the data-parallel half of PCA: "
    "an Arrow kernel quantizes each value to floor(x*1000+0.5) (exact, "
    "engine-independent IEEE double chain), folds each partition into "
    "per-batch integer moment sums (n, Σq, ΣqqT — one numpy int64 "
    "matmul per batch), emits dim² tiny rows per batch, and ONE shuffle "
    "on (i,j) finishes the reduction with LONG sums — associative, so "
    "the certified columns are bit-identical under any partitioning "
    "(the r7 float-order flake is structurally impossible).  cov_micro "
    "= round_half_away(1e6·(n·Σqq−ΣqΣq)/(n²·scale²)) via exact "
    "arbitrary-precision integer math over the dim²-row aggregate; the "
    "oracle rebuilds the identical integer contract with HUGEINT.  "
    "Traffic O(partitions·dim²); driver-side eigh (pca_top_components) "
    "stays pytest-pinned",
)
def q_embedding_covariance(spark, sf_dir):
    from ..operators.pca import embedding_covariance_fixedpoint

    return embedding_covariance_fixedpoint(
        _t(spark, sf_dir, "embeddings"), dim=64, scale=1000
    ).orderBy("i", "j")


@register(
    "null_safe_join_nation",
    """
    WITH c AS (
      SELECT c_custkey, nullif(c_nationkey, 3) AS nk FROM customer),
    n AS (
      SELECT nullif(n_nationkey, 3) AS nk, n_name FROM nation)
    SELECT c.c_custkey,
           coalesce(n.n_name, '<unknown>') AS n_name,
           CAST(c.nk IS NULL AS BOOLEAN) AS key_was_null
    FROM c JOIN n ON c.nk IS NOT DISTINCT FROM n.nk
    ORDER BY c.c_custkey, n_name
    """,
    note="null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL "
    "keys MATCH each other instead of silently dropping — the "
    "unknown-dimension-member pattern (here nation 3 is nulled on both "
    "sides to model unresolved keys; real feeds arrive with them).  "
    "Spark plans eqNullSafe as a HASH-JOINABLE key (coalesce+isnull "
    "rewrite), so this stays a broadcast/shuffled hash join — pinned "
    "by the plan guard, never a nested loop; a naive "
    "`(a=b) OR (a IS NULL AND b IS NULL)` predicate would lose the "
    "equi-join planning entirely",
)
def q_null_safe_join_nation(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", F.nullif(F.col("c_nationkey"), F.lit(3)).alias("nk")
    )
    n = _t(spark, sf_dir, "nation").select(
        F.nullif(F.col("n_nationkey"), F.lit(3)).alias("n_nk"), "n_name"
    )
    return (
        c.join(F.broadcast(n), c.nk.eqNullSafe(n.n_nk))
        .select(
            "c_custkey",
            F.coalesce("n_name", F.lit("<unknown>")).alias("n_name"),
            F.col("nk").isNull().alias("key_was_null"),
        )
        .orderBy("c_custkey", "n_name")
    )


@register(
    "scd2_point_in_time_join",
    """
    WITH o AS (
      SELECT user_id, event_type, ts,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev,
             event_id
      FROM events),
    r AS (
      SELECT user_id, event_type, ts,
             sum(CASE WHEN prev IS NULL OR prev <> event_type
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS version
      FROM o),
    g AS (
      SELECT user_id, CAST(version AS BIGINT) AS version, event_type,
             min(ts) AS effective_from
      FROM r GROUP BY user_id, version, event_type),
    dim AS (
      SELECT user_id, version, event_type AS dim_state, effective_from,
             lead(effective_from) OVER (PARTITION BY user_id
                                        ORDER BY version) AS effective_to
      FROM g)
    SELECT e.event_id, e.user_id, d.version, d.dim_state
    FROM events e JOIN dim d
      ON d.user_id = e.user_id
     AND e.ts >= d.effective_from
     AND (d.effective_to IS NULL OR e.ts < d.effective_to)
    WHERE e.event_type = 'purchase'
    ORDER BY e.event_id
    """,
    note="point-in-time (temporal) join against the SCD2 dimension: "
    "each purchase picks the dimension version whose "
    "[effective_from, effective_to) interval contains its timestamp — "
    "the as-reported-then lookup every audit/ML-feature pipeline needs "
    "(joining is_current instead leaks the future).  Plan shape: equi "
    "join on the dimension KEY with the interval check as a residual — "
    "version fan-out per key is small and interval-partitioned, so "
    "each probe matches exactly one build row; no range blow-up, no "
    "nested loop.  The dimension derives in-plan from scd2_collapse",
)
def q_scd2_point_in_time_join(spark, sf_dir):
    from ..operators.scd import scd2_collapse

    ev = _t(spark, sf_dir, "events")
    dim = scd2_collapse(ev, "user_id", "event_type", "ts", "event_id").select(
        F.col("user_id").alias("d_user"),
        "version",
        F.col("event_type").alias("dim_state"),
        "effective_from",
        "effective_to",
    )
    e = ev.filter(F.col("event_type") == "purchase")
    return (
        e.join(
            dim,
            (dim.d_user == e.user_id)
            & (e.ts >= dim.effective_from)
            & (dim.effective_to.isNull() | (e.ts < dim.effective_to)),
        )
        .select("event_id", "user_id", "version", "dim_state")
        .orderBy("event_id")
    )


@register(
    "embedding_hof_flags",
    """
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(CASE WHEN len(list_filter(embedding,
                                              x -> x::DOUBLE > 0.5)) > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_any_gt_half,
           CAST(sum(CASE WHEN len(list_filter(embedding,
                                              x -> abs(x::DOUBLE) >= 1.0)) = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_all_abs_lt1,
           round(avg(len(list_filter(embedding, x -> x::DOUBLE > 0))), 6)
             AS avg_n_pos
    FROM embeddings GROUP BY label ORDER BY label
    """,
    note="higher-order array-function breadth (exists / forall / "
    "filter+size) as per-label vector hygiene flags: any-coordinate "
    "spike, all-coordinates-bounded, positive-coordinate count.  "
    "exists() maps to len(list_filter)>0 and forall() to its negated "
    "complement in the oracle — identical float→double promotion both "
    "engines.  Catalyst HOFs are interpreted, so this shape belongs on "
    "REPORTING volumes; candidate-verify volumes use the Arrow kernels "
    "(the repo-wide split embedding_norm_stats documents)",
)
def q_embedding_hof_flags(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    x = F.col("embedding")
    return (
        emb.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum(
                F.when(
                    F.exists(x, lambda v: v.cast("double") > 0.5), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_any_gt_half"),
            F.sum(
                F.when(
                    F.forall(x, lambda v: F.abs(v.cast("double")) < 1.0), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_all_abs_lt1"),
            F.round(
                F.avg(F.size(F.filter(x, lambda v: v.cast("double") > 0))), 6
            ).alias("avg_n_pos"),
        )
        .orderBy("label")
    )


@register(
    "feature_hashing_docs",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS w
      FROM documents WHERE doc_id < 100),
    h AS (
      SELECT doc_id,
             ('0x' || substr(md5('fh:' || w), 1, 2))::BIGINT AS hv
      FROM toks)
    SELECT doc_id, CAST(hv % 64 AS BIGINT) AS dim,
           CAST(sum(CASE WHEN (hv // 64) % 2 = 0 THEN 1 ELSE -1 END)
                AS BIGINT) AS val
    FROM h GROUP BY 1, 2 HAVING sum(CASE WHEN (hv // 64) % 2 = 0
                                         THEN 1 ELSE -1 END) <> 0
    ORDER BY doc_id, dim
    """,
    note="the hashing trick (Weinberger et al. 2009, public method): "
    "tokens map to a fixed 64-dim signed sparse feature space with no "
    "vocabulary table and no fit step — the streaming-friendly text "
    "featurizer.  dim = 6 low bits and sign = the 7th bit of the "
    "engine-portable salted-md5 contract (the same uniform the "
    "sampling operators certify), so the oracle reproduces features "
    "bit-for-bit; the sign bit keeps collision contributions unbiased "
    "(E = 0).  One explode + one partial-agged shuffle; zero entries "
    "dropped as a real sparse encoder would.  Restricted to 100 docs "
    "for a bounded certified output — the shape is volume-independent "
    "(at volume the md5 salt swaps for xxhash64, the repo's internal "
    "join-key hash, without changing the topology)",
)
def q_feature_hashing_docs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    from ..operators.text import _tokens_arr as _toks

    hv = F.conv(
        F.substring(F.md5(F.concat(F.lit("fh:"), F.col("w"))), 1, 2), 16, 10
    ).cast("long")
    return (
        d.select("doc_id", F.explode(_toks(F.col("text"))).alias("w"))
        .select(
            "doc_id",
            F.pmod(hv, F.lit(64)).cast("long").alias("dim"),
            F.when(
                F.pmod(F.floor(hv / 64), F.lit(2)) == 0, F.lit(1)
            ).otherwise(F.lit(-1)).alias("sgn"),
        )
        .groupBy("doc_id", "dim")
        .agg(F.sum("sgn").cast("long").alias("val"))
        .filter(F.col("val") != 0)
        .orderBy("doc_id", "dim")
    )


@register(
    "variant_props_extract",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN json_extract_string(props, '$.k') IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_k,
           CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS min_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS max_k
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    note="the Spark 4 VARIANT type for semi-structured data: "
    "parse_json() ingests props into the binary variant encoding ONCE "
    "and variant_get extracts typed paths from it — unlike "
    "get_json_object (props_json_extract, which re-parses the JSON "
    "text per path), variant parses once and serves any number of "
    "typed extractions, the open-format answer to string-JSON scans "
    "at 100 TB.  try_variant_get's null-on-missing contract matches "
    "the oracle's json_extract_string NULL semantics",
)
def q_variant_props_extract(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("k").isNull().cast("long"))
            .cast("long")
            .alias("n_missing_k"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
        )
        .orderBy("event_type")
    )


@register(
    "fuzzy_entity_clusters",
    """
    WITH RECURSIVE d AS (
      SELECT doc_id, lang, n_chars // 16 AS lb, substr(text, 1, 40) AS h
      FROM documents),
    e AS (
      SELECT a.doc_id AS src, b.doc_id AS dst
      FROM d a JOIN d b
        ON a.lang = b.lang AND abs(b.lb - a.lb) <= 1
       AND a.doc_id <> b.doc_id
      WHERE levenshtein(a.h, b.h) <= 8),
    nodes AS (SELECT DISTINCT src AS id FROM e),
    reach(node, lab) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN e ON e.src = r.node)
    SELECT node AS doc_id, min(lab) AS entity_id
    FROM reach GROUP BY node ORDER BY doc_id
    """,
    note="entity resolution end-to-end: the fuzzy blocked matcher's "
    "pair graph closed into entity clusters by the distributed "
    "connected-components operator — match → cluster is the step that "
    "turns pairwise linkage into dedup/merge decisions.  Output "
    "restricted to docs that matched anything (singletons carry no "
    "decision).  r10 re-plan (r9 verdict item 1): CC runs over the "
    "GROUP-COMPACTED edge set — one doc→gid star edge per member of a "
    "matched content group plus ONE edge per matched group pair — "
    "which yields byte-identical components to the quadratic doc-pair "
    "expansion (every member of a group is mutually dist-0 connected "
    "through its gid; a group-pair match connects the two stars), so "
    "the edge volume is O(docs + distinct-content pairs) instead of "
    "O(copies² ) and never inherits the corpus' duplicate "
    "multiplicity.  The oracle recomputes the blocked fuzzy edge set "
    "exhaustively and closes it with a recursive CTE, certifying that "
    "the compaction IS exact, candidate generation, residual scoring "
    "AND transitive clustering in one hash",
)
def q_fuzzy_entity_clusters(spark, sf_dir):
    from ._core import pooled_parquet

    def build(spark, sf_dir):
        from ..operators.components import connected_components

        g, members, gpairs = _fuzzy_group_graph(spark, sf_dir)
        gpairs = stage(gpairs.select("gid_a", "gid_b"), lazy=True)
        # matched groups: ≥2 members (within-group dist-0 pairs exist)
        # or any cross-group match — singleton unmatched groups carry
        # no linkage decision and stay out, mirroring the pair-graph
        # nodes
        matched = (
            g.filter(F.col("grp_n") >= 2)
            .select("gid")
            .unionAll(gpairs.select(F.col("gid_a").alias("gid")))
            .unionAll(gpairs.select(F.col("gid_b").alias("gid")))
            .distinct()
        )
        # two concurrent consumers (the CC nodes and the member join)
        matched = stage(matched)
        m = members.join(matched, on="gid")
        # r14 (guide §1.2 — shrink what the ITERATIVE operator sees):
        # the doc→gid star edges used to ride through every CC round,
        # but a member's component is fully determined by its group's
        # component in the gid-graph, so CC now runs on the group-pair
        # edges ONLY (nodes = matched gids) and members inherit their
        # gid's label with ONE post-loop join.  Byte-identical labels:
        # gid = min member id, so min doc_id over a component = min gid
        # over its gid-component, and every matched gid is itself a
        # member doc.  Edge volume into the loop drops from
        # O(member docs + group pairs) to O(group pairs).
        comp_g = connected_components(
            matched, gpairs, id_col="gid", src_col="gid_a", dst_col="gid_b"
        )
        return m.join(comp_g, on="gid").select("doc_id", "component_id")

    comp = pooled_parquet("fuzzy_cc", spark, sf_dir, build)
    return comp.select(
        "doc_id", F.col("component_id").alias("entity_id")
    ).orderBy("doc_id")


@register(
    "naive_bayes_lang_confusion",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest({_DUCK_TOKS}) AS w FROM documents),
    tf AS (SELECT doc_id, lang, w, count(*) AS tf
           FROM toks GROUP BY 1, 2, 3),
    cc AS (SELECT lang AS c, w, sum(tf) AS cwc FROM tf GROUP BY 1, 2),
    tc AS (SELECT c, sum(cwc) AS t FROM cc GROUP BY 1),
    vocab AS (SELECT count(DISTINCT w) AS v FROM cc),
    prior AS (
      SELECT lang AS c, count(*) AS nd FROM documents GROUP BY 1),
    ndoc AS (SELECT count(*) AS n FROM documents),
    dt AS (
      SELECT doc_id, lang AS actual, sum(tf) AS dtot
      FROM tf GROUP BY 1, 2),
    matched AS (
      SELECT tf.doc_id, cc.c, sum(tf.tf * ln(cc.cwc + 1.0)) AS msum
      FROM tf JOIN cc ON cc.w = tf.w
      GROUP BY 1, 2),
    lik AS (
      SELECT dt.doc_id, dt.actual, tc.c,
             coalesce(m.msum, 0) - dt.dtot * ln(tc.t + vocab.v) AS ll
      FROM dt CROSS JOIN tc CROSS JOIN vocab
      LEFT JOIN matched m ON m.doc_id = dt.doc_id AND m.c = tc.c),
    scored AS (
      SELECT l.doc_id, l.actual, l.c,
             round(l.ll + ln(prior.nd * 1.0 / ndoc.n), 6) AS score
      FROM lik l JOIN prior ON prior.c = l.c, ndoc),
    mx AS (SELECT doc_id, max(score) AS ms FROM scored GROUP BY 1),
    pred AS (
      SELECT s.doc_id, s.actual, min(s.c) AS predicted
      FROM scored s JOIN mx ON mx.doc_id = s.doc_id AND s.score = mx.ms
      GROUP BY 1, 2)
    SELECT actual, predicted, CAST(count(*) AS BIGINT) AS n_docs
    FROM pred GROUP BY 1, 2 ORDER BY 1, 2
    """,
    note="trainable multinomial Naive Bayes, certified END-TO-END: "
    "train = ONE partial-aggregable pass (per-(class, token) counts + "
    "class totals + vocab + priors — all integer).  Score uses the "
    "absent-token identity (r10 verdict item 3): with add-one "
    "smoothing, an absent token contributes tf*ln(1/(t+v)) = "
    "-tf*ln(t+v), so the full class sum is "
    "sum_matched tf*ln(cwc+1) - doc_token_total*ln(t_c+v) — the "
    "per-(doc, token) rows join the likelihood table INNER on the "
    "token (fan-out bounded by classes-containing-token, shuffle "
    "volume 1x instead of the old 5x LEFT-joined class grid), and "
    "the |classes|-per-doc grid is built over per-doc AGGREGATES "
    "(5 rows/doc), never per-token rows.  Argmax per doc on the "
    "6-dp-rounded log posterior with a class-name tiebreak so both "
    "engines pick identical labels; the oracle computes the identical "
    "algebraic form.  Output is the language confusion matrix — "
    "train AND inference verified in one hash",
)
def q_naive_bayes_lang_confusion(spark, sf_dir):
    from ..operators.text import _tokens_arr as _toks

    d = fan_out(
        _t(spark, sf_dir, "documents"), sf_dir, min_bytes=16 << 20
    )
    toks = d.select(
        "doc_id", "lang", F.explode(_toks(F.col("text"))).alias("w")
    )
    # staged: tf feeds THREE consumers (cc, dt, matched) and exchange
    # reuse does NOT cover them — profiled at sf0.1, the
    # tokenize+partial-agg map stage ran three times (~2.5 s each,
    # single-task).  Materializing the small tf table once cuts the
    # query ~20% (r13 optimization round; deterministic content, so
    # certification is unaffected).
    tf = toks.groupBy("doc_id", "lang", "w").agg(F.count(F.lit(1)).alias("tf"))
    tf = stage(tf, lazy=True)
    cc = tf.groupBy(F.col("lang").alias("c"), "w").agg(
        F.sum("tf").alias("cwc")
    )
    tc = cc.groupBy("c").agg(F.sum("cwc").alias("t"))
    vocab = cc.agg(F.count_distinct("w").alias("v"))
    prior = d.groupBy(F.col("lang").alias("c")).agg(
        F.count(F.lit(1)).alias("nd")
    )
    ndoc = d.agg(F.count(F.lit(1)).alias("n"))
    dt = tf.groupBy("doc_id", F.col("lang").alias("actual")).agg(
        F.sum("tf").alias("dtot")
    )
    # observed-(class, token) corrections only: INNER join on the
    # token (cc carries <= |classes| rows per token, so the fan-out is
    # bounded by classes-containing-token); absent tokens contribute
    # exactly -tf*ln(t+v), folded in below from the per-doc total
    matched = (
        tf.select("doc_id", "w", "tf")
        .join(cc, on="w")
        .groupBy("doc_id", "c")
        .agg(
            F.sum(F.col("tf") * F.log(F.col("cwc") + 1.0)).alias("msum")
        )
    )
    lik = (
        dt.crossJoin(F.broadcast(tc))
        .crossJoin(F.broadcast(vocab))
        .join(matched, on=["doc_id", "c"], how="left")
        .select(
            "doc_id",
            "actual",
            "c",
            (
                F.coalesce(F.col("msum"), F.lit(0.0))
                - F.col("dtot") * F.log(F.col("t") + F.col("v"))
            ).alias("ll"),
        )
    )
    scored = (
        lik.join(
            F.broadcast(prior.withColumnRenamed("c", "p_c")),
            F.col("p_c") == lik.c,
        )
        .crossJoin(F.broadcast(ndoc))
        .select(
            "doc_id",
            "actual",
            "c",
            F.round(
                F.col("ll") + F.log(F.col("nd") / F.col("n")), 6
            ).alias("score"),
        )
    )
    mx = scored.groupBy(F.col("doc_id").alias("m_doc")).agg(
        F.max("score").alias("ms")
    )
    pred = (
        scored.join(
            mx,
            (mx.m_doc == scored.doc_id) & (scored.score == mx.ms),
        )
        .groupBy("doc_id", "actual")
        .agg(F.min("c").alias("predicted"))
    )
    return (
        pred.groupBy("actual", "predicted")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("actual", "predicted")
    )


@register(
    "winsorize_values",
    """
    WITH th AS (
      SELECT event_type,
             quantile_cont(value, 0.01) AS p1,
             quantile_cont(value, 0.99) AS p99
      FROM events GROUP BY 1)
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN e.value < th.p1 OR e.value > th.p99
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
           round(avg(e.value), 6) AS mean_raw,
           round(avg(greatest(th.p1, least(th.p99, e.value))), 6)
             AS mean_winsorized
    FROM events e JOIN th ON th.event_type = e.event_type
    GROUP BY e.event_type ORDER BY e.event_type
    """,
    note="percentile winsorization — the outlier-robust cleaning "
    "transform: per-group p1/p99 thresholds (exact interpolated "
    "quantiles over the reporting-volume groups) broadcast back and "
    "applied as clamp(greatest/least); reports raw vs winsorized "
    "means and the clip count.  Two passes, threshold side tiny; at "
    "volume the threshold pass swaps for the percentile sketch with "
    "the same topology.  Clamped values are EXACT copies of inputs "
    "or thresholds, so 6-dp rounding is engine-stable",
)
def q_winsorize_values(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    th = ev.groupBy(F.col("event_type").alias("t_type")).agg(
        F.percentile("value", 0.01).alias("p1"),
        F.percentile("value", 0.99).alias("p99"),
    )
    j = ev.join(F.broadcast(th), F.col("t_type") == ev.event_type)
    clamped = F.greatest("p1", F.least("p99", F.col("value")))
    return (
        j.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                (
                    (F.col("value") < F.col("p1"))
                    | (F.col("value") > F.col("p99"))
                ).cast("long")
            )
            .cast("long")
            .alias("n_clipped"),
            F.round(F.avg("value"), 6).alias("mean_raw"),
            F.round(F.avg(clamped), 6).alias("mean_winsorized"),
        )
        .orderBy("event_type")
    )


@register(
    "benford_first_digit",
    """
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1),
    obs AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
    tot AS (SELECT sum(n) AS t FROM obs)
    SELECT obs.digit,
           CAST(obs.n AS BIGINT) AS n,
           round(obs.n * 1.0 / tot.t, 6) AS observed_p,
           round(ln(1.0 + 1.0 / obs.digit) / ln(10.0), 6) AS benford_p,
           round((obs.n * 1.0 / tot.t
                  - ln(1.0 + 1.0 / obs.digit) / ln(10.0))
                 * (obs.n * 1.0 / tot.t
                    - ln(1.0 + 1.0 / obs.digit) / ln(10.0))
                 / (ln(1.0 + 1.0 / obs.digit) / ln(10.0)), 6)
             AS chi2_term
    FROM obs, tot ORDER BY obs.digit
    """,
    note="Benford's-law first-digit audit — the forensic-accounting "
    "anomaly test: observed leading-digit frequencies of order totals "
    "vs the log10(1+1/d) expectation, with per-digit chi-square "
    "contributions (synthetic uniform-ish prices will and should "
    "deviate — the query certifies the audit computation, the "
    "deviation IS the signal).  One digit-extraction pass + a 9-row "
    "reduction; digit via integer/string math so both engines agree "
    "exactly, expectation under the 6-dp ln() contract",
)
def q_benford_first_digit(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digit = F.substring(
        F.floor("o_totalprice").cast("long").cast("string"), 1, 1
    ).cast("long")
    obs = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = obs.agg(F.sum("n").alias("t"))
    p_obs = F.col("n") / F.col("t")
    p_ben = F.log(1.0 + 1.0 / F.col("digit")) / F.log(F.lit(10.0))
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.col("n").cast("long").alias("n"),
            F.round(p_obs, 6).alias("observed_p"),
            F.round(p_ben, 6).alias("benford_p"),
            F.round((p_obs - p_ben) * (p_obs - p_ben) / p_ben, 6).alias(
                "chi2_term"
            ),
        )
        .orderBy("digit")
    )


@register(
    "events_cusum_drift",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             round(avg(value), 6) AS v
      FROM events GROUP BY 1, 2),
    st AS (
      SELECT event_type, avg(v) AS mu,
             greatest(stddev_samp(v), 1e-9) AS sd
      FROM daily GROUP BY 1),
    z AS (
      SELECT d.event_type, d.day, (d.v - st.mu) / st.sd AS z
      FROM daily d JOIN st ON st.event_type = d.event_type),
    c AS (
      SELECT event_type, day,
             sum(z) OVER (PARTITION BY event_type ORDER BY day
                          ROWS UNBOUNDED PRECEDING) AS cusum
      FROM z)
    SELECT event_type,
           round(max(abs(cusum)), 6) AS max_abs_cusum,
           min(day) FILTER (WHERE round(abs(cusum), 6) = m) AS drift_day,
           CAST(count(*) AS BIGINT) AS n_days
    FROM (SELECT *, max(round(abs(cusum), 6)) OVER (PARTITION BY event_type)
                    AS m FROM c)
    GROUP BY event_type ORDER BY event_type
    """,
    note="CUSUM change-point detection (Page 1954, public method) on "
    "the daily metric series: standardized deviations accumulated per "
    "type, reporting the maximum |CUSUM| excursion and the first day "
    "it is attained — the classic drift detector that catches slow "
    "mean shifts EWMA smoothing hides.  Daily pre-aggregation first "
    "(the full pass is partial-aggregable), so the windows run over "
    "~30 rows per type; the argmax day is tie-broken by min(day) on "
    "the 6-dp-rounded excursion so both engines agree",
)
def q_events_cusum_drift(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.round(F.avg("value"), 6).alias("v"))
    st = daily.groupBy(F.col("event_type").alias("s_type")).agg(
        F.avg("v").alias("mu"),
        F.greatest(F.stddev_samp("v"), F.lit(1e-9)).alias("sd"),
    )
    z = daily.join(F.broadcast(st), F.col("s_type") == daily.event_type).select(
        "event_type",
        "day",
        ((F.col("v") - F.col("mu")) / F.col("sd")).alias("z"),
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = z.select(
        "event_type", "day", F.sum("z").over(wc).alias("cusum")
    )
    wm = Window.partitionBy("event_type")
    c = c.withColumn("a", F.round(F.abs("cusum"), 6)).withColumn(
        "m", F.max("a").over(wm)
    )
    return (
        c.groupBy("event_type")
        .agg(
            F.round(F.max(F.abs("cusum")), 6).alias("max_abs_cusum"),
            F.min(F.when(F.col("a") == F.col("m"), F.col("day"))).alias(
                "drift_day"
            ),
            F.count(F.lit(1)).cast("long").alias("n_days"),
        )
        .orderBy("event_type")
    )


@register(
    "dup_graph_triangles",
    f"""
    WITH RECURSIVE {_DUCK_SHINGLES_U}
    , ed AS (SELECT src AS a, dst AS b FROM e WHERE src < dst)
    SELECT t.a, t.b, t.c
    FROM (
      SELECT e1.a, e1.b, e2.b AS c
      FROM ed e1 JOIN ed e2 ON e2.a = e1.b
      JOIN ed e3 ON e3.a = e1.a AND e3.b = e2.b) t
    ORDER BY t.a, t.b, t.c
    """,
    note="triangle enumeration over the near-dup pair graph — the "
    "graph-analytics step past connected components (triangle density "
    "separates true duplicate CLIQUES from chains of borderline "
    "matches that components alone conflate).  r11 (r10 verdict item "
    "4): wedges now enumerate under DEGREE orientation "
    "(operators/components.oriented_triangles — each triangle found "
    "once at its lowest-(degree, id) corner, out-adjacency bounded "
    "O(sqrt(E)) amortized, the classic skew bound for power-law dup "
    "graphs) instead of id orientation, whose wedge fan-out is "
    "O(max-degree²) when a hub's id sorts low.  Output stays sorted "
    "a<b<c by ID, so the id-oriented exhaustive oracle certifies the "
    "orientation change is invisible.  The oracle reuses the "
    "certified Jaccard edge set.  r12 (r11 verdict item 2): the pair "
    "graph comes from the POOLED minhash edge set (m07_dedup."
    "_minhash_pairs_u) — r11 instrumentation showed ~99% of the sf10 "
    "wall was regenerating the same deterministic pair set the CC "
    "family already materializes; cold cost gated via bench cold_norm",
)
def q_dup_graph_triangles(spark, sf_dir):
    from ..operators.components import oriented_triangles

    from .m07_dedup import _minhash_pairs_u

    pairs = (
        _minhash_pairs_u(spark, sf_dir)
        .select(
            F.least("id_a", "id_b").alias("a"),
            F.greatest("id_a", "id_b").alias("b"),
        )
        .distinct()
    )
    return oriented_triangles(pairs, src_col="a", dst_col="b").orderBy(
        "a", "b", "c"
    )


@register(
    "user_activity_streaks",
    """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events),
    g AS (
      SELECT user_id, day,
             day - CAST(row_number() OVER (
                 PARTITION BY user_id ORDER BY day) AS INTEGER) AS grp
      FROM days),
    s AS (
      SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len,
             min(day) AS streak_start
      FROM g GROUP BY user_id, grp)
    SELECT user_id, max(len) AS longest_streak,
           CAST(count(*) AS BIGINT) AS n_streaks,
           min(streak_start) AS first_day
    FROM s GROUP BY user_id ORDER BY user_id
    """,
    note="gaps-and-islands: per-user consecutive-active-day streaks via the "
    "classic day - row_number() group key (consecutive days share a "
    "constant difference).  One distinct shuffle on (user, day) — the "
    "window then runs over ~30 rows per user — plus two partial-agged "
    "groupBys; the engagement-streak shape every activity dashboard "
    "computes, and the same pattern that finds contiguous id ranges or "
    "sensor gaps at 100 TB",
)
def q_user_activity_streaks(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    g = days.withColumn("grp", F.date_sub("day", F.row_number().over(w)))
    s = g.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("len"),
        F.min("day").alias("streak_start"),
    )
    return (
        s.groupBy("user_id")
        .agg(
            F.max("len").alias("longest_streak"),
            F.count(F.lit(1)).cast("long").alias("n_streaks"),
            F.min("streak_start").alias("first_day"),
        )
        .orderBy("user_id")
    )


@register(
    "twap_value_by_type",
    """
    WITH o AS (
      SELECT event_type, value,
             epoch_us(lead(ts) OVER (
                 PARTITION BY event_type ORDER BY ts, event_id))
               - epoch_us(ts) AS dur_us
      FROM events)
    SELECT event_type,
           round(sum(value * dur_us) / sum(dur_us), 6) AS twap,
           round(avg(value), 6) AS plain_avg,
           CAST(count(dur_us) AS BIGINT) AS n_intervals
    FROM o WHERE dur_us IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
    note="time-weighted average (the TWAP/time_weight shape from "
    "time-series engines, public semantics): each observation weighted "
    "by its holding interval to the next same-type event (lead() with "
    "event_id tie-break; the open last interval is excluded), so "
    "irregular sampling doesn't bias the mean the way plain avg() does "
    "— both are emitted so the bias is visible.  Durations stay integer "
    "microseconds end-to-end (unit cancels in the ratio; no float time "
    "conversion to drift cross-engine).  One window shuffle on "
    "event_type + one partial-agged groupBy",
)
def q_twap_value_by_type(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    o = ev.select(
        "event_type",
        "value",
        (
            F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")
        ).alias("dur_us"),
    ).filter(F.col("dur_us").isNotNull())
    return (
        o.groupBy("event_type")
        .agg(
            F.round(
                F.sum(F.col("value") * F.col("dur_us")) / F.sum("dur_us"), 6
            ).alias("twap"),
            F.round(F.avg("value"), 6).alias("plain_avg"),
            F.count("dur_us").cast("long").alias("n_intervals"),
        )
        .orderBy("event_type")
    )


_BM25_TERMS = ("join", "hash", "scan", "filter", "merge")


@register(
    "bm25_topk_docs",
    rf"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(
                 lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                 '[^a-z0-9]+'), x -> x <> '') AS toks
      FROM documents),
    dl AS (SELECT doc_id, len(toks) AS dl FROM toks),
    stats AS (
      SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, tok AS term, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(toks) AS tok FROM toks)
      WHERE tok IN {str(tuple(_BM25_TERMS))}
      GROUP BY doc_id, tok),
    df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id,
             sum(ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1)
                 * tf.tf * (1.2 + 1)
                 / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl)))
               AS score
      FROM tf
      JOIN df ON df.term = tf.term
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats
      GROUP BY tf.doc_id)
    SELECT doc_id, round(score, 6) AS bm25
    FROM scored
    ORDER BY round(score, 6) DESC, doc_id LIMIT 20
    """,
    note="BM25 ranked retrieval (Robertson-Sparck Jones; the Lucene "
    "log(1 + (N-df+0.5)/(df+0.5)) idf flavor, k1=1.2 b=0.75) for a fixed "
    "query term set — the lexical side of a RAG retrieval stack next to "
    "the LSH vector path (examples/rag_pipeline.py).  Term filter is "
    "pushed BEFORE the tf groupBy so only query-term postings shuffle; "
    "df and the (N, avgdl) scalars are broadcast-sized; final ranking is "
    "TakeOrdered on the 6-dp-rounded score with doc_id tiebreak (exact "
    "cross-engine order).  ln() under the repo's 6-dp libm-portability "
    "contract",
)
def q_bm25_topk_docs(spark, sf_dir):
    d = fan_out(
        _t(spark, sf_dir, "documents"), sf_dir, min_bytes=16 << 20
    )
    toks = d.select("doc_id", _word_tokens(F.col("text")).alias("toks"))
    dl = toks.select("doc_id", F.size("toks").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("dl").cast("double").alias("avgdl"),
    )
    tf = (
        toks.select("doc_id", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    scored = (
        tf.join(F.broadcast(df_), on="term")
        .join(dl, on="doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.log(
                    (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                    + 1
                )
                * F.col("tf")
                * F.lit(1.2 + 1)
                / (
                    F.col("tf")
                    + 1.2 * (1 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl"))
                )
            ).alias("score")
        )
    )
    return (
        scored.select("doc_id", F.round("score", 6).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
    )


@register(
    "clustering_coeff_dup_graph",
    f"""
    WITH {_DUCK_SHINGLES.replace("FROM documents", "FROM documents WHERE doc_id < 500")},
    pairs AS (
      SELECT a.doc_id AS s, b.doc_id AS t
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id AND a.lang = b.lang
      WHERE len(list_intersect(a.grams, b.grams))::DOUBLE
              / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.5),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS degree
      FROM (SELECT s AS node FROM pairs UNION ALL SELECT t AS node FROM pairs)
      GROUP BY node),
    tri AS (
      SELECT e1.s AS a, e1.t AS b, e2.t AS c
      FROM pairs e1 JOIN pairs e2 ON e2.s = e1.t
      JOIN pairs e3 ON e3.s = e1.s AND e3.t = e2.t),
    tn AS (
      SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
      FROM (SELECT a AS node FROM tri UNION ALL SELECT b AS node FROM tri
            UNION ALL SELECT c AS node FROM tri)
      GROUP BY node)
    SELECT d.node AS doc_id, d.degree,
           coalesce(tn.n_triangles, 0) AS n_triangles,
           round(CASE WHEN d.degree >= 2
                      THEN 2.0 * coalesce(tn.n_triangles, 0)
                           / (d.degree * (d.degree - 1))
                      ELSE 0 END, 6) AS clustering_coeff
    FROM deg d LEFT JOIN tn ON tn.node = d.node
    ORDER BY doc_id
    """,
    note="local clustering coefficient over the certified duplicate graph — "
    "completes the graph-analytics family (components -> triangles -> "
    "per-node coefficients): 2T(v) / (deg(v)(deg(v)-1)) flags how "
    "clique-like each node's duplicate neighborhood is (1.0 = true "
    "duplicate cluster, ->0 = hub of borderline matches).  Triangle "
    "enumeration shares dup_graph_triangles' degree-oriented wedge "
    "join (operators/components.oriented_triangles — each triangle "
    "exactly once, so the per-node union-count is orientation-"
    "independent); one partial-agged groupBy each for degrees and "
    "per-node triangle counts; ANSI-safe guarded division.  r12: the "
    "edge set comes from the POOLED lang-blocked ngram pair table "
    "(m07_dedup._ngram_pairs_500, shared with pagerank_dup_graph) — "
    "verdict item 2; cold cost gated via bench cold_norm",
)
def q_clustering_coeff_dup_graph(spark, sf_dir):
    from ..operators.components import oriented_triangles

    from .m07_dedup import _ngram_pairs_500

    pairs = _ngram_pairs_500(spark, sf_dir).select(
        F.col("id_a").alias("s"), F.col("id_b").alias("t")
    )
    deg = (
        pairs.select(F.col("s").alias("node"))
        .unionAll(pairs.select(F.col("t").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    tri = oriented_triangles(pairs, src_col="s", dst_col="t")
    tn = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    out = deg.join(tn, on="node", how="left").select(
        F.col("node").alias("doc_id"),
        "degree",
        F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
        F.round(
            F.when(
                F.col("degree") >= 2,
                F.lit(2.0)
                * F.coalesce("n_triangles", F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("clustering_coeff"),
    )
    return out.orderBy("doc_id")


# unrolled power-iteration CTEs for the PageRank oracle: fixed
# iteration count => plain (non-recursive) SQL, bit-reproducible
_PR_ITERS = "".join(
    f"""
    m{k} AS (
      SELECT c.dst AS doc_id, sum(r.rank * c.w) AS mass
      FROM c JOIN r{k - 1} r ON r.doc_id = c.src GROUP BY c.dst),
    r{k} AS (
      SELECT v.doc_id,
             (1 - 0.85) / nn.n + 0.85 * coalesce(m{k}.mass, 0) AS rank
      FROM v CROSS JOIN nn LEFT JOIN m{k} USING (doc_id)),"""
    for k in range(1, 6)
)


@register(
    "pagerank_dup_graph",
    f"""
    WITH {_DUCK_SHINGLES.replace("FROM documents", "FROM documents WHERE doc_id < 500")},
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id AND a.lang = b.lang
      WHERE len(list_intersect(a.grams, b.grams))::DOUBLE
              / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.5),
    e AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
    deg AS (SELECT src, count(*)::DOUBLE AS outdeg FROM e GROUP BY src),
    c AS (SELECT e.src, e.dst, 1.0 / d.outdeg AS w
          FROM e JOIN deg d ON d.src = e.src),
    v AS (SELECT doc_id FROM documents WHERE doc_id < 500),
    nn AS (SELECT count(*)::DOUBLE AS n FROM v),
    r0 AS (SELECT doc_id, 1.0 / nn.n AS rank FROM v CROSS JOIN nn),{_PR_ITERS}
    final AS (SELECT doc_id, rank FROM r5)
    SELECT doc_id, round(rank, 6) AS rank FROM final ORDER BY doc_id
    """,
    note="PageRank over the exact n-gram-Jaccard duplicate graph "
    "(operators/pagerank.py — power iteration, Brin & Page 1998): 5 "
    "fixed iterations at d=0.85 over the lang-blocked pair graph on the "
    "bounded 500-doc slice (the same certified edge set as "
    "ngram_jaccard_block_lang).  Per iteration: one join of the staged "
    "1/outdeg contribution edges with the rank vector + one "
    "partial-agged groupBy on dst; rank vector lineage-cut per round; "
    "driver sees one scalar (N) before the loop and nothing inside it. "
    "Fixed iterations make the result bit-reproducible, so the oracle "
    "unrolls the same 5 steps as plain CTEs and certifies every rank "
    "at 6 dp — iterative graph analytics under a full value-hash gate. "
    "r12: the edge set comes from the POOLED lang-blocked ngram pair "
    "table (m07_dedup._ngram_pairs_500, shared with "
    "clustering_coeff_dup_graph) — verdict item 2",
)
def q_pagerank_dup_graph(spark, sf_dir):
    from ..operators.pagerank import pagerank

    from .m07_dedup import _ngram_pairs_500

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    pairs = _ngram_pairs_500(spark, sf_dir)
    pr = pagerank(d.select("doc_id"), pairs, damping=0.85, n_iter=5)
    return pr.select(
        "doc_id", F.round("rank", 6).alias("rank")
    ).orderBy("doc_id")


