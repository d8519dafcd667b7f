"""Distributed global ranks / ntile — no single-partition WindowExec.

``row_number() OVER (ORDER BY ...)`` and ``ntile(k) OVER (ORDER BY ...)``
with an empty PARTITION BY execute as ONE window partition: every row
funnels through a single task (Spark logs ``WindowExec: No Partition
Defined``) — the classic 100 TB scale-killer.  ``operators/ids.py``
already holds the two-phase rank for the unique-numeric-key case; this
module is the GENERAL form the r11 verdict asked for (items 1 and 4):

  * **fused multi-spec passes** — several rank orders over the same
    rows (the RFM query needs three) share ONE boundary-statistics job
    and ONE per-bucket-count job (grouping sets), so the fix costs two
    extra small jobs total, not two per rank;
  * **boundary-value tie refinement** — a value that carries ≥ ~1/B of
    the rows shows up as a DUPLICATE in its own quantile list, i.e. it
    becomes a range boundary.  Every boundary value is made its own
    elementary bucket and sub-split by the tiebreak's range, so heavy
    ties (half the vocabulary has frequency 1) never pile one bucket
    onto one reducer;
  * **optional static bounds** — when the value distribution is known
    a priori (integer counts → powers of two; xxhash64 sub-keys →
    uniform int64) the boundary job is skipped entirely;
  * **per-partition mode** — ``ntile(k) OVER (PARTITION BY p ORDER BY
    ...)`` where one partition may dominate (one language is half the
    corpus): boundaries/counts are computed per partition value in the
    same fused jobs.

Exactness: elementary buckets (open intervals between boundary values,
plus each boundary value as a singleton optionally sub-split by the
tiebreak) partition the total (value, tiebreak) order into CONTIGUOUS
runs, so `global rank = per-bucket row_number + exact bucket offset`
no matter how approximate the quantile boundaries are — boundaries
decide only WHERE a row is ranked, never what its rank is.  With
``tie_permute=True`` (non-numeric tiebreak, sub-split by xxhash64)
ranks WITHIN one boundary value form a deterministic permutation of
the correct consecutive range instead of the tiebreak order — valid
exactly when the consumer is tie-invariant (e.g. Zipf's log-rank sums,
where every row of a tie group shares the same y value).

Driver traffic: O(B) boundary scalars + O(B·V) bucket counts per
partition value.  Heavy path: one bucketed window shuffle per rank
spec (B·V-way parallel), same as ids.py.

Reference parity: the reference ranks on a single-process pandas frame
(``DataFrame.rank`` / positional indexing, etl_pipeline.py); this is
the distributed equivalent.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_SEP = "\x1f"
_ESC = "\x1b"

# Partitioned mode builds ONE CASE arm per partition value (driver
# collects per-partition bounds; the offsets table is O(parts*buckets)
# broadcast rows).  That design is for BOUNDED dimensions (lang,
# country, category) — a high-cardinality column (user_id) would melt
# the driver and blow past Janino's method-size limits before any
# error said why.  The ceiling is deliberately low; raising it is a
# design review, not a knob (codegen sanity at the ceiling is pinned
# in tests/test_ranks.py).
MAX_PART_VALUES = 64


@dataclass(frozen=True)
class RankSpec:
    """One global-rank order: ``ORDER BY value_col [DESC], tiebreak_col
    [DESC]``.  ``tiebreak_col`` must make the key unique (or the
    consumer tie-invariant under ``tie_permute``)."""

    value_col: str
    tiebreak_col: str
    out_col: str = "rank"
    value_desc: bool = False
    tiebreak_desc: bool = False
    # non-numeric tiebreak: sub-split boundary-value ties by
    # xxhash64(tiebreak) with static uniform bounds; within-group ranks
    # become a permutation of the correct consecutive range.
    tie_permute: bool = False
    # static boundaries in the RAW value domain (skips the quantile job
    # for this spec when set).
    value_bounds: Optional[Sequence[float]] = None
    num_sub: int = 8


def _v_adj(spec: RankSpec) -> Column:
    c = F.col(spec.value_col).cast("double")
    return (-c) if spec.value_desc else c


def _t_sub(spec: RankSpec) -> Column:
    if spec.tie_permute:
        return F.xxhash64(F.col(spec.tiebreak_col))
    c = F.col(spec.tiebreak_col).cast("double")
    return (-c) if spec.tiebreak_desc else c


# Static bounds for integer COUNT columns (word/document/item
# frequencies): every count <= 64 is its own singleton bucket — the
# heavy-tie zone of any Zipfian distribution — powers of two above,
# up to 2^40 (the bucketed rows are one per DISTINCT value, so the
# sparse head above the cap shares one near-empty interval bucket).
# Data-independent: specs using these skip the quantile job entirely.
INT_COUNT_BOUNDS = tuple(range(1, 65)) + tuple(1 << i for i in range(7, 41))


def _hash_sub_bounds(num_sub: int) -> list:
    """Static uniform int64 bounds for an xxhash64 sub-key."""
    span = 1 << 64
    return [int(-(1 << 63) + (k + 1) * span // num_sub) for k in range(num_sub - 1)]


# Bucket expressions are generated as ONE SQL string and parsed with a
# single F.expr call: building them node-by-node with F.lit/Column ops
# costs one py4j round trip PER LITERAL (hundreds of ms of driver time
# for a 100-boundary spec — measured, r12), while the JVM SQL parser
# takes the whole tree in one hop.  The comparison counts are emitted
# as `size(filter(array(<bounds>), ...))` — one array literal + HOF —
# rather than a B-arm CASE sum: the CASE chain's generated method blew
# past HotSpot's JIT size limit and ran interpreted (see _count_gt_sql
# for the measured 9.4x delta; r13 optimization round).


def _sql_num(b) -> str:
    if isinstance(b, bool):
        raise TypeError("bool bound")
    if isinstance(b, int):
        return f"{b}L"
    return repr(float(b))


def _v_adj_sql(spec: RankSpec) -> str:
    c = f"CAST(`{spec.value_col}` AS DOUBLE)"
    return f"(-{c})" if spec.value_desc else c


def _t_sub_sql(spec: RankSpec) -> str:
    if spec.tie_permute:
        return f"xxhash64(`{spec.tiebreak_col}`)"
    c = f"CAST(`{spec.tiebreak_col}` AS DOUBLE)"
    return f"(-{c})" if spec.tiebreak_desc else c


def _count_gt_sql(col_sql: str, bounds: Sequence, strict: bool) -> str:
    """SQL for '# bounds strictly/at-or below col'.

    Emitted as ONE array literal + higher-order filter instead of a
    B-term CASE sum: the CASE chain for a 98-boundary spec generated
    an ~8 KB method Janino compiles but HotSpot refuses to JIT
    ("Generated method too long to be JIT compiled"), and its
    parse/analyze/codegen cost re-paid on EVERY query run (fresh expr
    ids -> fresh source -> Janino recompile) measured ~0.5-1 s per
    rank query at sf0.1 (r13 optimization round).  The array form is
    a ~40x smaller expression tree: same per-row O(B) comparisons,
    but the generated code stays small enough to JIT.  NULL handling
    is identical (NULL comparisons drop out of the filter exactly as
    they failed every CASE arm: count 0)."""
    if not bounds:
        return "0"
    op = "<" if strict else "<="
    arr = ",".join(_sql_num(b) for b in bounds)
    return f"size(filter(array({arr}), _b -> _b {op} {col_sql}))"


def _bucket_sql(spec: RankSpec, vbounds: Sequence, sbounds: Sequence) -> str:
    v = _v_adj_sql(spec)
    lt = _count_gt_sql(v, vbounds, strict=True)   # bounds strictly below v
    le = _count_gt_sql(v, vbounds, strict=False)  # bounds at-or-below v
    base = f"({lt} + {le})"  # open interval i -> 2i; boundary value t -> 2t-1
    if sbounds:
        sub_cnt = _count_gt_sql(_t_sub_sql(spec), sbounds, strict=True)
        sub = f"(CASE WHEN {lt} <> {le} THEN {sub_cnt} ELSE 0 END)"
    else:
        sub = "0"
    return f"CAST(({base} * {len(sbounds) + 1} + {sub}) AS INT)"


def _sql_str(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return _sql_num(v)


# sentinel for NULL partition values in the Python-side string keys
# that must round-trip through the Spark-side key expression below
_NULL_KEY = "\x00NULL"

# Component escaping so a partition VALUE containing the separator (or
# the NULL sentinel's \x00) can never make two distinct partition
# tuples collide on one joined key: escape the escape char first, then
# map the separator and NUL to escaped forms.  The Spark-side chain in
# ``_part_key_expr`` applies the SAME replacements in the SAME order.
_ESC_STEPS = ((_ESC, _ESC + _ESC), (_SEP, _ESC + "_"), ("\x00", _ESC + "0"))


def _esc_component(s: str) -> str:
    for a, b in _ESC_STEPS:
        s = s.replace(a, b)
    return s


def _part_key(part: tuple) -> str:
    return _SEP.join(
        _NULL_KEY if v is None else _esc_component(str(v)) for v in part
    )


def _part_key_expr(pcols: Sequence[str], *extra: Column) -> Column:
    """Spark-side join key matching ``_part_key``: NULLs become the
    sentinel (concat_ws would silently DROP them and mis-key the
    broadcast lookup); components are escaped so embedded separator /
    sentinel bytes cannot alias two partition tuples onto one key.
    ``extra`` columns (bucket ids — generated ints) are appended raw,
    matching the raw ``str(b)`` suffix on the Python side."""
    cols = []
    for c in pcols:
        e = F.col(c).cast("string")
        for a, b in _ESC_STEPS:
            e = F.replace(e, F.lit(a), F.lit(b))
        cols.append(F.coalesce(e, F.lit(_NULL_KEY)))
    return F.concat_ws(_SEP, *cols, *[e.cast("string") for e in extra])


def _check_part_values(parts, pcols) -> None:
    """Partition values must round-trip exactly between Python str()
    and Spark's string cast (the broadcast-key contract) — true for
    str/int/None, NOT for float/decimal/date (str(1e20) vs Spark's
    '1.0E20' would silently miss the join and NULL the ranks) and NOT
    for bool (an int subclass, but str(True)='True' vs Spark's
    'true')."""
    if len(parts) > MAX_PART_VALUES:
        raise ValueError(
            f"two-phase partitioned mode saw {len(parts)} distinct "
            f"partition values (ceiling {MAX_PART_VALUES}): the "
            "per-partition CASE chain and driver-side bounds are "
            "designed for BOUNDED dimensions (lang, country). For a "
            "high-cardinality partition column use a plain "
            "Window.partitionBy(...) — many partitions already "
            "parallelize — or bucket the column first"
        )
    for part in parts:
        for c, v in zip(pcols, part):
            if v is not None and (
                isinstance(v, bool) or not isinstance(v, (str, int))
            ):
                raise TypeError(
                    f"partition column `{c}` has a {type(v).__name__} "
                    "value; two-phase partition keys must be "
                    "string/int/NULL (cast or bucket the column first)"
                )


def _check_spec_types(df: DataFrame, specs: Sequence[RankSpec]) -> None:
    """Value and non-permute tiebreak columns must be numeric: the
    bucket expression casts both to DOUBLE, so a string column would
    yield NULL buckets (or an ANSI cast error) instead of a clear
    contract failure.  String tiebreaks are supported via
    ``tie_permute=True`` (xxhash64 sub-split, permutation contract)."""
    fields = {f.name: f.dataType for f in df.schema.fields}
    for s in specs:
        vt = fields.get(s.value_col)
        if vt is not None and not isinstance(vt, T.NumericType):
            raise TypeError(
                f"RankSpec.value_col `{s.value_col}` is {vt.simpleString()}; "
                "two-phase ranking orders by a DOUBLE cast — cast or "
                "pre-bucket non-numeric order keys first"
            )
        if not s.tie_permute:
            tt = fields.get(s.tiebreak_col)
            if tt is not None and not isinstance(tt, T.NumericType):
                raise TypeError(
                    f"RankSpec.tiebreak_col `{s.tiebreak_col}` is "
                    f"{tt.simpleString()} but tie_permute=False; "
                    "non-numeric tiebreaks need tie_permute=True "
                    "(xxhash64 sub-split — ranks within a tied value "
                    "become a deterministic permutation)"
                )


def _offset_or_die(ocol: str, op: str) -> Column:
    """The broadcast offsets/totals join can only miss when the input
    DataFrame re-evaluated DIFFERENTLY between the count pass and the
    rank pass (non-deterministic lineage that was not checkpointed).
    Failing loudly beats the silent NULL ranks a plain left join
    would emit."""
    return F.coalesce(
        F.col(ocol),
        F.expr(
            f"raise_error('{op}: bucket key missing from the broadcast "
            "offset table — the input DataFrame re-evaluated "
            "differently between passes; stage() "
            "non-deterministic inputs before ranking')"
        ).cast("long"),
    )


def _part_sort_key(part: tuple) -> tuple:
    return tuple((v is None, str(v)) for v in part)


def two_phase_ranks(
    df: DataFrame,
    specs: Sequence[RankSpec],
    *,
    partition_cols: Sequence[str] = (),
    num_buckets: int = 16,
) -> tuple[DataFrame, dict]:
    """Add one exact global-rank column per spec (1-based, within each
    ``partition_cols`` group).  Returns ``(df_with_ranks, totals)``
    where ``totals[partition_tuple]`` is that group's row count
    (``totals[()]`` for the global case) — the scalar ntile needs.

    Value and tiebreak columns must be non-null.  ``df`` must be
    DETERMINISTIC across re-evaluation (counts are collected in one
    pass, ranks computed in another): ``staging.stage()`` any
    lineage containing sampling/UUID/non-deterministic UDFs first —
    a mismatch fails loudly via the offset-join guard instead of
    emitting silent NULL ranks.
    """
    pcols = list(partition_cols)
    specs = list(specs)
    _check_spec_types(df, specs)

    # ---- pass 1 (fused; skipped when every spec has static bounds):
    # per-partition quantile lists for values and numeric sub-keys.
    probs = [i / num_buckets for i in range(1, num_buckets)]
    stat_rows = []
    aggs = []
    for i, s in enumerate(specs):
        if s.value_bounds is None:
            aggs.append(
                F.percentile_approx(_v_adj(s), probs, 10000).alias(f"_vb{i}")
            )
        if not s.tie_permute:
            sprobs = [j / s.num_sub for j in range(1, s.num_sub)]
            aggs.append(
                F.percentile_approx(_t_sub(s), sprobs, 10000).alias(f"_sb{i}")
            )
    if aggs:
        g = df.groupBy(*pcols) if pcols else df.groupBy()
        stat_rows = g.agg(*aggs).collect()
    stats = {tuple(r[c] for c in pcols): r for r in stat_rows}

    def bounds_for(part: tuple, i: int, s: RankSpec) -> tuple[list, list]:
        if s.value_bounds is not None:
            vb = [(-float(b)) if s.value_desc else float(b) for b in s.value_bounds]
        else:
            raw = stats[part][f"_vb{i}"] or []
            vb = [float(b) for b in raw]
        vb = sorted(set(vb))
        if s.tie_permute:
            sb = _hash_sub_bounds(s.num_sub)
        else:
            raw = stats[part][f"_sb{i}"] or []
            sb = sorted(set(float(b) for b in raw))
        return vb, sb

    # Per-partition bounds may differ -> bucket expr is a CASE chain
    # over partition values (bounded dimension) or the plain expr; the
    # whole thing is ONE SQL string handed to F.expr in one py4j hop.
    parts = sorted(stats.keys(), key=_part_sort_key) if pcols else [()]
    if not pcols:
        bucket_sqls = [
            _bucket_sql(s, *bounds_for((), i, s)) for i, s in enumerate(specs)
        ]
    else:
        if not parts:  # pure-static bounds with partitions: need keys
            parts = sorted(
                (
                    tuple(r[c] for c in pcols)
                    for r in df.select(*pcols).distinct().collect()
                ),
                key=_part_sort_key,
            )
            stats = {p: {} for p in parts}
        _check_part_values(parts, pcols)
        bucket_sqls = []
        for i, s in enumerate(specs):
            arms = []
            for part in parts:
                cond = " AND ".join(
                    f"`{c}` <=> {_sql_str(v)}" for c, v in zip(pcols, part)
                )
                arms.append(
                    f"WHEN {cond} THEN {_bucket_sql(s, *bounds_for(part, i, s))}"
                )
            # empty input -> no partitions -> a bare "CASE END" would
            # not parse; any constant works (there are no rows)
            bucket_sqls.append(
                "CASE " + " ".join(arms) + " END"
                if arms
                else "CAST(NULL AS INT)"
            )

    # Materialize each bucket id as ONE column: the (potentially deep)
    # comparison tree is analyzed/codegen'd once, and the window spec,
    # offset join, and count pass all reference the column by name.
    bcols = [f"_tpb{i}" for i in range(len(specs))]
    base = df.select(
        "*", *[F.expr(sql).alias(n) for sql, n in zip(bucket_sqls, bcols)]
    )

    # ---- pass 2 (fused): per-bucket counts for every spec at once.
    sel = base.select(*pcols, *bcols)
    if len(specs) == 1:
        cnt_rows = sel.groupBy(*pcols, bcols[0]).count().collect()
    else:
        cnt_rows = (
            sel.groupingSets([[*pcols, b] for b in bcols], *pcols, *bcols)
            .count()
            .collect()
        )
    # offsets[i][part][bucket] = rows strictly before this bucket
    per_spec: list[dict] = [dict() for _ in specs]
    for r in cnt_rows:
        part = tuple(r[c] for c in pcols)
        for i, b in enumerate(bcols):
            if r[b] is not None:
                per_spec[i].setdefault(part, {})[r[b]] = r["count"]
    totals: dict = {}
    offsets: list[dict] = [dict() for _ in specs]
    for i, spec_counts in enumerate(per_spec):
        for part, cmap in spec_counts.items():
            running = 0
            offs = {}
            for b in sorted(cmap):
                offs[b] = running
                running += cmap[b]
            offsets[i][part] = offs
            if i == 0:
                totals[part] = running
    if not totals:  # empty input
        totals[()] = 0

    # ---- pass 3: per-bucket row_number + exact offset, joined in from
    # a BROADCAST offsets table (O(partitions·buckets) rows, one
    # createDataFrame payload — a create_map of literals costs a py4j
    # round trip per entry, hundreds of ms of pure driver time).
    spark = df.sparkSession
    out = base
    for i, s in enumerate(specs):
        order = [
            F.col(s.value_col).desc() if s.value_desc else F.col(s.value_col).asc(),
            F.col(s.tiebreak_col).desc()
            if s.tiebreak_desc
            else F.col(s.tiebreak_col).asc(),
        ]
        w = Window.partitionBy(*pcols, bcols[i]).orderBy(*order)
        rows = []
        for part, offs in offsets[i].items():
            for b, off in offs.items():
                key = (
                    _SEP.join([_part_key(part), str(b)]) if pcols else str(b)
                )
                rows.append((key, off))
        if not rows:
            out = out.withColumn(s.out_col, F.lit(None).cast("long"))
            continue
        kcol, ocol = f"_tpk{i}", f"_tpo{i}"
        odf = spark.createDataFrame(rows, f"`{kcol}` string, `{ocol}` long")
        key_expr = _part_key_expr(pcols, F.col(bcols[i]))
        out = (
            out.withColumn(kcol, key_expr)
            .join(F.broadcast(odf), kcol, "left")
            .withColumn(
                s.out_col,
                (
                    F.row_number().over(w)
                    + _offset_or_die(ocol, "two_phase_ranks")
                ).cast("long"),
            )
            .drop(kcol, ocol)
        )
    return out.drop(*bcols), totals


def ntile_from_rank(rank_col: Column, n: int, k: int) -> Column:
    """Exact SQL NTILE(k) from a 1-based global rank over n rows:
    first (n % k) tiles get ceil(n/k) rows — computed in closed form,
    all scalars driver-side."""
    q, rem = divmod(n, k)
    cut = rem * (q + 1)
    first = F.floor((rank_col - 1) / F.lit(max(q + 1, 1))) + 1
    rest = F.lit(rem) + F.floor((rank_col - F.lit(cut) - 1) / F.lit(max(q, 1))) + 1
    return F.when(rank_col <= F.lit(cut), first).otherwise(rest).cast("int")


def two_phase_ntile(
    df: DataFrame,
    k: int,
    spec: RankSpec,
    *,
    partition_cols: Sequence[str] = (),
    num_buckets: int = 16,
    out_col: str = "ntile",
) -> DataFrame:
    """NTILE(k) OVER ([PARTITION BY partition_cols] ORDER BY spec)
    without a single-partition window; exact standard-SQL tiling."""
    rank_col = f"_tpr_{out_col}"
    ranked, totals = two_phase_ranks(
        df,
        [RankSpec(**{**spec.__dict__, "out_col": rank_col})],
        partition_cols=partition_cols,
        num_buckets=num_buckets,
    )
    r = F.col(rank_col)
    if not partition_cols:
        return ranked.withColumn(
            out_col, ntile_from_rank(r, totals.get((), 0), k)
        ).drop(rank_col)
    # per-partition n joined in from a broadcast totals table (one
    # createDataFrame payload — a create_map of 2·P literals costs a
    # py4j round trip per literal, the pass-3 lesson)
    rows = [(_part_key(part), n) for part, n in totals.items()]
    tdf = ranked.sparkSession.createDataFrame(
        rows, "`_tpnk` string, `_tpn` long"
    )
    n = F.col("_tpn")
    q = F.floor(n / F.lit(k))
    rem = n - q * k
    cut = rem * (q + 1)
    first = F.floor((r - 1) / F.greatest(q + 1, F.lit(1))) + 1
    rest = rem + F.floor((r - cut - 1) / F.greatest(q, F.lit(1))) + 1
    expr = F.when(r <= cut, first).otherwise(rest).cast("int")
    return (
        ranked.withColumn("_tpnk", _part_key_expr(partition_cols))
        .join(F.broadcast(tdf), "_tpnk", "left")
        .withColumn("_tpn", _offset_or_die("_tpn", "two_phase_ntile"))
        .withColumn(out_col, expr)
        .drop(rank_col, "_tpnk", "_tpn")
    )


def two_phase_cumsum(
    df: DataFrame,
    spec: RankSpec,
    weight_col: str,
    *,
    num_buckets: int = 16,
    out_col: str = "cumsum",
    inclusive: bool = True,
    weight_kind: str = "count",
) -> DataFrame:
    """Running total of ``weight_col`` over the global ORDER BY the
    spec defines — ``sum(w) OVER (ORDER BY ... ROWS UNBOUNDED
    PRECEDING)`` without the single-partition WindowExec.

    Same elementary-interval bucketing as ``two_phase_ranks`` (the
    buckets are contiguous runs of the total order), but phase 2
    collects per-bucket WEIGHT SUMS instead of counts, so the joined
    offset is the exact total weight strictly before the bucket; the
    within-bucket running sum is a bucket-parallel window.
    ``inclusive=False`` gives the sum of STRICTLY-PRECEDING rows.

    Weight exactness contract (``weight_kind``): the accumulator is a
    DOUBLE, so only INTEGER-VALUED weights with |w| and every prefix
    sum below 2^53 are bit-exact — the count-like weights this was
    built for.  The default ``weight_kind="count"`` ENFORCES that
    contract with a zero-extra-shuffle runtime check piggybacked on
    the phase-2 aggregation (a fractional or >2^53 weight fails
    loudly, naming the fix).  ``weight_kind="fractional"`` opts into
    floating-point rounding: the running totals are then ordinary fp
    prefix sums, reproducible only up to summation order.

    Ties: with a unique (value, tiebreak) key every row's running
    total is exact.  With ``tie_permute`` (string tiebreak, xxhash64
    sub-split of heavy boundary values) the per-row totals WITHIN a
    tie group come out in a deterministic permutation of the group's
    arithmetic progression {M, M+w, ..., M+(m-1)w} — the same multiset
    as any order, so consumers that aggregate over tie groups
    (coverage counts, share thresholds) are exact; per-row-identity
    consumers need the unique key.
    """
    if weight_kind not in ("count", "fractional"):
        raise ValueError(
            f"weight_kind must be 'count' or 'fractional', got {weight_kind!r}"
        )
    _check_spec_types(df, [spec])
    sprobs = [j / spec.num_sub for j in range(1, spec.num_sub)]
    need_vb = spec.value_bounds is None
    aggs = []
    if need_vb:
        probs = [i / num_buckets for i in range(1, num_buckets)]
        aggs.append(F.percentile_approx(_v_adj(spec), probs, 10000).alias("_vb"))
    if not spec.tie_permute:
        aggs.append(F.percentile_approx(_t_sub(spec), sprobs, 10000).alias("_sb"))
    row = df.groupBy().agg(*aggs).collect()[0] if aggs else None
    if need_vb:
        vb = [float(x) for x in (row["_vb"] or [])]
    else:
        vb = [(-float(b)) if spec.value_desc else float(b)
              for b in spec.value_bounds]
    vb = sorted(set(vb))
    if spec.tie_permute:
        sb = _hash_sub_bounds(spec.num_sub)
    else:
        sb = sorted(set(float(x) for x in (row["_sb"] or [])))

    bucket_sql = _bucket_sql(spec, vb, sb)
    base = df.select("*", F.expr(bucket_sql).alias("_tpb"))

    wd = F.col(weight_col).cast("double")
    aggs2 = [F.sum(wd).alias("_w")]
    if weight_kind == "count":
        # free exactness audit: same shuffle, one extra CASE sum
        bad = (wd != F.floor(wd)) | (F.abs(wd) > F.lit(float(1 << 53)))
        aggs2.append(
            F.sum(F.when(bad, F.lit(1)).otherwise(F.lit(0))).alias("_nonint")
        )
    cnt_rows = base.groupBy("_tpb").agg(*aggs2).collect()
    if weight_kind == "count":
        n_bad = sum(r["_nonint"] or 0 for r in cnt_rows)
        if n_bad:
            raise ValueError(
                f"two_phase_cumsum: {n_bad} rows of `{weight_col}` are "
                "fractional or exceed 2^53 — the double accumulator is "
                "only exact for integer-valued count-like weights; pass "
                "weight_kind='fractional' to accept floating-point "
                "rounding in the running totals"
            )
    running = 0.0
    offs = []
    for r in sorted(cnt_rows, key=lambda r: r["_tpb"]):
        offs.append((str(r["_tpb"]), float(running)))
        running += r["_w"] or 0.0
    if weight_kind == "count" and abs(running) > float(1 << 53):
        raise ValueError(
            f"two_phase_cumsum: total weight {running} exceeds 2^53 — "
            "prefix sums are no longer exact in double; pass "
            "weight_kind='fractional' or pre-scale the weights"
        )
    if not offs:
        return df.withColumn(out_col, F.lit(None).cast("double"))
    spark = df.sparkSession
    odf = spark.createDataFrame(offs, "`_tpk` string, `_tpo` double")

    order = [
        F.col(spec.value_col).desc() if spec.value_desc
        else F.col(spec.value_col).asc(),
        F.col(spec.tiebreak_col).desc() if spec.tiebreak_desc
        else F.col(spec.tiebreak_col).asc(),
    ]
    w = (
        Window.partitionBy("_tpb")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = F.sum(F.col(weight_col).cast("double")).over(w)
    if not inclusive:
        within = within - F.col(weight_col).cast("double")
    return (
        base.withColumn("_tpk", F.col("_tpb").cast("string"))
        .join(F.broadcast(odf), "_tpk", "left")
        .withColumn(
            out_col,
            within + _offset_or_die("_tpo", "two_phase_cumsum").cast("double"),
        )
        .drop("_tpb", "_tpk", "_tpo")
    )
