"""Exact distributed order statistics — ranks, medians and percentiles
per group, without sorting any whole group.

KLL (queries/sketches.py) answers quantiles approximately from a
mergeable summary; this module answers them EXACTLY with ONE lazy
two-phase plan (bucket, count, locate, rank only what is needed — the
distributed-selection scheme exact-percentile engines use). The
driver only plans: the single Spark job an operator may run at
construction is the covering-bounds scan, and callers holding parquet
footer statistics pass ``bounds`` and build without any.

Phase 1 (:func:`_plan`) is a plan frame. Every non-null row gets an
exact equi-width integer bucket of its order image (:func:`_int_bucket`);
a partial-aggregated groupBy counts rows per (group, bucket) — at most
|groups|·B rows — and one window over that pre-aggregated frame gives
each bucket its offset (the group's rows in lower buckets) and the
group size.

Phase 2 has two shapes:

- rank every row (:func:`grouped_exact_rank`): offset + row_number
  within the (group, bucket) slice, ~n/B rows per window partition;
- pick target ranks (:func:`_pick`): the targets are SQL expressions
  of the group size, the plan frame locates their buckets, and only
  rows in those buckets are ranked. The median, ``percentile_disc``
  and multi-spec ``percentile_cont`` wrappers are this shape.

A NULL group key is a group, as in SQL ``GROUP BY``/``PARTITION BY``:
the plan frame re-enters the rows through null-safe equi-joins.
Ungrouped callers pass one literal group column.

At 100 TB: two scans of the input, one exchange of ≤ |groups|·B count
rows, and window sorts over ~n/B-row slices. One level of bucketing
suffices while a bucket's population fits a window partition; a group
whose values pile into one bucket is ranked in one task. Contrast:
``ORDER BY x LIMIT 1 OFFSET k`` plans a global sort,
``percentile_approx`` gives error bars, and the exact ``percentile``
aggregate buffers each whole group in one task.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _bucket_col(col_name: str, lo: int, width: int, span: int):
    """Exact histogram bucket index floor((col - lo) / width) for an
    integer column. Plain BIGINT arithmetic when the span fits int64 —
    (col - lo) cannot overflow and SQL DIV on non-negative longs IS
    the floor quotient, identical to the decimal form
    ((a - a mod w) / w) value-for-value but at JVM-long speed (the
    DECIMAL(38,0) path runs java.math.BigDecimal per row — measured
    ~10x slower over a 600k-row scan). The decimal path remains for
    spans that could wrap int64 (lo < 0 with hi near 2^63), where
    subtraction must not overflow."""
    # fast-path guard: lo == LONG_MIN would render a literal Spark
    # parses as DECIMAL(19,0) (unary minus on 2^63) and fail analysis;
    # backticks in the name are escaped by doubling (r9 ADVICE)
    if span <= (1 << 62) and lo > -(1 << 63):
        name = col_name.replace("`", "``")
        return F.expr(f"(CAST(`{name}` AS BIGINT) - ({lo})) DIV ({width})")
    a = F.col(col_name).cast("decimal(38,0)") - F.lit(lo).cast("decimal(38,0)")
    return ((a - F.pmod(a, F.lit(width))) / F.lit(width)).cast("long")


def _int_bucket(col: str, lo: int, hi: int, n_buckets: int):
    """Equi-width exact integer bucket expression over [lo, hi]."""
    span = int(hi) - int(lo) + 1
    width = -(-span // n_buckets)  # ceil; >= 1
    return _bucket_col(col, int(lo), width, span)


def _covering_bounds(
    df: DataFrame, cols: list[str], known: dict[str, tuple[int, int]]
) -> dict[str, tuple[int, int]]:
    """Covering (lo, hi) of each integer column: the caller's bounds
    where given (parquet footer statistics — they need only COVER the
    true min/max), the rest from ONE shared min/max scan. A column
    with no non-null value has nothing to bucket, so (0, 0) covers it."""
    out = dict(known)
    missing = [c for c in cols if c not in out]
    if missing:
        row = df.agg(*[f(c) for c in missing for f in (F.min, F.max)]).first()
        out.update({c: (row[2 * i], row[2 * i + 1]) for i, c in enumerate(missing)})
    return {c: (0, 0) if out[c][0] is None else (int(out[c][0]), int(out[c][1])) for c in cols}


def _bucketed(
    df: DataFrame, img_col: str, bounds: tuple[int, int] | None, n_buckets: int
) -> DataFrame:
    """The rows of *df* with a non-null *img_col*, plus their exact
    bucket ``_b`` (ranks are over non-null values, the SQL
    ordered-set convention)."""
    d = df.filter(F.col(img_col).isNotNull())
    known = {} if bounds is None else {img_col: bounds}
    lo, hi = _covering_bounds(d, [img_col], known)[img_col]
    return d.withColumn("_b", _int_bucket(img_col, lo, hi, n_buckets))


def _join(left: DataFrame, right: DataFrame, on: list[str], how: str = "inner") -> DataFrame:
    """Equi-join on the columns *on* with NULL matching NULL: the plan
    frame re-enters the rows it was counted from, and a NULL group is
    a group. The right side's keys are renamed so that every name
    resolves to one side."""
    r = right.select(*[F.col(c).alias(f"_r{c}") if c in on else F.col(c) for c in right.columns])
    cond = reduce(lambda a, b: a & b, [F.col(c).eqNullSafe(F.col(f"_r{c}")) for c in on])
    out = left.join(r, cond, how)
    return out if how == "left_semi" else out.drop(*[f"_r{c}" for c in on])


def _plan(d: DataFrame, keys: list[str]) -> DataFrame:
    """Phase 1: per-(group, bucket) row count ``_cnt``, the group's
    rows in lower buckets ``_pre`` and the group size ``_gn`` — one
    window over the pre-aggregated ≤ |groups|·B-row count frame,
    never over raw rows."""
    w = Window.partitionBy(*keys).orderBy("_b")
    return (
        d.groupBy(*keys, "_b")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .select(
            *keys,
            "_b",
            "_cnt",
            (
                F.sum("_cnt").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
                - F.col("_cnt")
            ).alias("_pre"),
            F.sum("_cnt")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
            .alias("_gn"),
        )
    )


def _pick(
    d: DataFrame, keys: list[str], value: str, targets: list[tuple[str, Column]]
) -> DataFrame:
    """Phase 2, pick shape: the rows of *d* at each target rank of its
    group under ``value ASC``. *d* carries *keys*, ``_b`` and *value*;
    *targets* are ``(tag, rank)`` with each rank a 1-based SQL
    expression of the group size ``_gn`` (and of *keys*; a NULL rank
    picks nothing). Only the buckets holding a target are ranked.
    Returns (keys, ``_gn``, ``_tag``, value), one row per target hit;
    ties share the value, so any row at the rank yields the same
    result."""
    cells = F.array(*[F.struct(F.lit(t).alias("_tag"), k.cast("long").alias("_k")) for t, k in targets])
    hits = (
        _plan(d, keys)
        .select(*keys, "_b", "_pre", "_cnt", "_gn", F.explode(cells).alias("_x"))
        .select(*keys, "_b", "_pre", "_gn", "_x._tag", "_x._k")
        .filter((F.col("_k") > F.col("_pre")) & (F.col("_k") <= F.col("_pre") + F.col("_cnt")))
    )
    on = [*keys, "_b"]
    ranked = _join(d, hits.select(*on).distinct(), on, "left_semi").withColumn(
        "_rk", F.row_number().over(Window.partitionBy(*on).orderBy(value))
    )
    return (
        _join(ranked, hits, on)
        .filter(F.col("_pre") + F.col("_rk") == F.col("_k"))
        .select(*keys, "_gn", "_tag", value)
    )


def _by_tag(tag: str, value: str) -> Column:
    """The picked *value* of target *tag* within a group aggregate."""
    return F.max(F.when(F.col("_tag") == tag, F.col(value))).alias(tag)


def grouped_median_twophase(
    df: DataFrame,
    group_col: str,
    col: str,
    n_buckets: int = 1024,
    bounds: tuple[int, int] | None = None,
) -> DataFrame:
    """Exact per-group median of an integer column: the pick shape with
    targets rank ⌈n/2⌉ and rank n DIV 2 + 1 (the same rank for odd n).
    For even group sizes the median is the exact midpoint of the two
    middle values (one IEEE divide of integers).

    Returns (group, n, v_lo, v_hi, median) — v_lo/v_hi are the middle
    rank values (equal for odd n). Medians are over the NON-NULL
    values per group; all-null groups drop out, matching ``median()
    FILTER (WHERE x IS NOT NULL)`` semantics."""
    d = _bucketed(df.select(group_col, col), col, bounds, n_buckets)
    picked = _pick(
        d,
        [group_col],
        col,
        [("v_lo", F.expr("(_gn + 1) DIV 2")), ("v_hi", F.expr("_gn DIV 2 + 1"))],
    )
    return (
        picked.groupBy(group_col)
        .agg(F.max("_gn").alias("n"), _by_tag("v_lo", col), _by_tag("v_hi", col))
        .select(
            group_col,
            F.col("n").cast("bigint").alias("n"),
            F.col("v_lo").cast("bigint").alias("v_lo"),
            F.col("v_hi").cast("bigint").alias("v_hi"),
            (
                (F.col("v_lo").cast("double") + F.col("v_hi").cast("double"))
                / F.lit(2.0)
            ).alias("median"),
        )
    )


def grouped_exact_rank(
    df: DataFrame,
    group_col: str,
    img_col: str,
    tie_col: str,
    n_buckets: int = 1024,
    bounds: tuple[int, int] | None = None,
) -> DataFrame:
    """Exact 1-based rank of every row within its group under the
    total order ``(img ASC, tie ASC)``, plus the group's row count —
    WITHOUT ranking any whole group in one task:

        rank = (rows of the group in buckets below this row's bucket)
             + row_number within the (group, bucket) slice

    The rank-every-row shape: the plan frame's offsets re-enter keyed
    (group, bucket) and the only window over raw rows partitions by
    (group, bucket) — a slice is ≈ group_n / n_buckets rows, so sort
    parallelism grows with n_buckets instead of collapsing to one task
    per group.

    NULL semantics: rows with NULL ``img_col`` are dropped (ranks are
    over non-null sort keys); a NULL group key is a group.
    ``img_col`` must be an exact integer order-image of the sort
    column and ``(img, tie)`` unique per group. Returns df's columns
    plus ``_rank`` / ``_gn`` (bigint).
    """
    clobbered = {"_b", "_cnt", "_pre", "_gn", "_rank", f"_r{group_col}", "_r_b"} & set(df.columns)
    if clobbered:
        # withColumn silently REPLACES same-named columns, and the
        # plan join would make _gn ambiguous — same guard contract
        # as salted_topk (a re-ranked frame still carrying _rank/_gn
        # from a prior call is the realistic trigger)
        raise ValueError(
            f"grouped_exact_rank: input already has reserved column(s) "
            f"{sorted(clobbered)}; rename or drop them first"
        )
    d = _bucketed(df, img_col, bounds, n_buckets)
    on = [group_col, "_b"]
    # slice ranks before the plan join: the raw rows' scan and exchange
    # then run beside phase 1 instead of waiting for its frame
    sliced = d.withColumn(
        "_rank", F.row_number().over(Window.partitionBy(*on).orderBy(img_col, tie_col))
    )
    return (
        _join(sliced, _plan(d, [group_col]).drop("_cnt"), on)
        .withColumn("_rank", (F.col("_pre") + F.col("_rank")).cast("bigint"))
        .withColumn("_gn", F.col("_gn").cast("bigint"))
        .drop("_b", "_pre")
    )


def ntile_from_rank(rank_col: str, n_col: str, n_tiles: int):
    """Column expression: the 1-based ntile(T) of a row given its
    exact 1-based rank and its partition's row count — SQL ntile
    semantics (first ``n mod T`` tiles hold ``n div T + 1`` rows) in
    pure integer DIV/MOD arithmetic, no window and no double rounding.
    The branch taken when ``n < T`` (tile = rank) never divides by the
    zero base size; greatest() keeps the dead branch well-defined."""
    return F.expr(
        f"""
        CASE WHEN {rank_col} <= ({n_col} % {n_tiles})
                                * ({n_col} DIV {n_tiles} + 1)
             THEN ({rank_col} - 1) DIV ({n_col} DIV {n_tiles} + 1) + 1
             ELSE ({n_col} % {n_tiles})
                  + ({rank_col} - ({n_col} % {n_tiles})
                                  * ({n_col} DIV {n_tiles} + 1) - 1)
                    DIV greatest({n_col} DIV {n_tiles}, 1)
                  + 1
        END
        """
    )


def grouped_percentile_cont_multi(
    df: DataFrame,
    group_col: str,
    specs: list[tuple[str, str, dict[str, float]]],
    n_buckets: int = 1024,
    bounds_map: dict[str, tuple[int, int]] | None = None,
) -> DataFrame:
    """Exact per-group CONTINUOUS percentiles (``percentile_cont`` /
    Spark ``percentile()`` semantics: linear interpolation between the
    two values straddling rank position ``q*(n-1)``) for SEVERAL
    columns in one pick — without buffering or sorting any full group,
    and without re-scanning per column: each row explodes into one
    (spec, bucket, value) cell per spec, and the spec index joins the
    group key.

    ``specs`` is ``[(img_col, val_col, {name: q, ...}), ...]``:
    ``img_col`` an order-isomorphic INTEGER image of ``val_col``
    (e.g. cents of a 2-decimal price) used only for exact histogram
    bucketing — each spec gets its OWN covering bounds and bucket
    width (a shared value range would squash a narrow column's
    resolution); ``val_col`` must be numeric (interpolation runs on
    it cast to double). Percentile names must be unique ACROSS specs
    — they become the output columns. ``bounds_map`` optionally maps
    img_col → covering (lo, hi) (parquet footer statistics); missing
    entries are filled by one shared bounds scan for ALL specs.

    The target ranks are ``floor(pos) + 1`` and ``ceil(pos) + 1`` with
    ``pos = CAST(n - 1 AS DOUBLE) * q``, and the result is
    ``(higher-pos)·v_lo + (pos-lower)·v_hi`` — the IEEE expressions
    Spark's Percentile and DuckDB's quantile_cont evaluate, in SQL, so
    results are bit-identical to both.

    NULL semantics are PER SPEC: each column's percentiles are over
    its own non-null values per group (matching ``percentile()``);
    a group all-null in one spec gets NULL for that spec's names and
    drops out entirely only if all-null in every spec. A NULL group
    key is a group. Returns (group, <name> double for every q of
    every spec).
    """
    if not specs:
        raise ValueError("specs must name at least one column")
    all_names = [name for _, _, qs in specs for name in qs]
    if len(all_names) != len(set(all_names)):
        raise ValueError(f"percentile names must be unique across specs: {all_names}")
    for _, _, qs in specs:
        if not qs:
            raise ValueError("every spec needs at least one percentile")
        for name, q in qs.items():
            if not (0.0 <= q <= 1.0):
                raise ValueError(f"percentile {name}={q} outside [0, 1]")
    bounds = _covering_bounds(df, [img for img, _, _ in specs], bounds_map or {})
    cells = F.array(
        *[
            F.struct(
                F.lit(i).alias("_t"),
                _int_bucket(img, *bounds[img], n_buckets).alias("_b"),
                F.col(val).cast("double").alias("_v"),
            )
            for i, (img, val, _) in enumerate(specs)
        ]
    )
    d = (
        df.select(group_col, F.explode(cells).alias("_p"))
        .select(group_col, "_p._t", "_p._b", "_p._v")
        .filter(F.col("_b").isNotNull())  # null image: null bucket
    )

    def pos(n: Column, q: float) -> Column:
        return (n - 1).cast("double") * F.lit(q)

    targets = []
    for i, (_, _, qs) in enumerate(specs):
        mine = F.col("_t") == i
        for name, q in qs.items():
            p = pos(F.col("_gn"), q)
            targets.append((f"{name}__lo", F.when(mine, F.floor(p) + 1)))
            targets.append((f"{name}__hi", F.when(mine, F.ceil(p) + 1)))
    picked = _pick(d, [group_col, "_t"], "_v", targets)
    wide = picked.groupBy(group_col).agg(
        *[F.max(F.when(F.col("_t") == i, F.col("_gn"))).alias(f"_n{i}") for i in range(len(specs))],
        *[_by_tag(t, "_v") for t, _ in targets],
    )
    outs = [F.col(group_col)]
    for i, (_, _, qs) in enumerate(specs):
        for name, q in qs.items():
            p = pos(F.col(f"_n{i}"), q)
            lower, higher = F.floor(p), F.ceil(p)
            same = higher == lower
            w_lo = F.when(same, F.lit(1.0)).otherwise(higher.cast("double") - p)
            w_hi = F.when(same, F.lit(0.0)).otherwise(p - lower.cast("double"))
            outs.append((w_lo * F.col(f"{name}__lo") + w_hi * F.col(f"{name}__hi")).alias(name))
    return wide.select(*outs)


def grouped_quantile_twophase(
    df: DataFrame,
    group_col: str,
    col: str,
    q_num: int,
    q_den: int,
    n_buckets: int = 1024,
    bounds: tuple[int, int] | None = None,
) -> DataFrame:
    """Exact per-group discrete quantile (``percentile_disc``
    semantics: the value at rank ceil(q·n), 1-based) of an integer
    column — the pick shape with one target.

    q is a RATIONAL (q_num/q_den) so the target rank
    ceil(q·n) = (q_num·n + q_den - 1) DIV q_den stays in integer
    arithmetic — a float q would put an IEEE rounding boundary exactly
    where the rank flips and make the result engine- and
    libm-dependent. With q = k/n on one literal group this is the
    exact k-th smallest.

    NULL semantics match grouped_median_twophase: non-null ranks,
    all-null groups drop, a NULL group key is a group.

    Returns (group, n, value).
    """
    if not (0 < q_num <= q_den):
        raise ValueError(f"q must be in (0, 1]: got {q_num}/{q_den}")
    d = _bucketed(df.select(group_col, col), col, bounds, n_buckets)
    rank = F.expr(f"({q_num} * _gn + {q_den - 1}) DIV {q_den}")
    return _pick(d, [group_col], col, [("value", rank)]).select(
        group_col,
        F.col("_gn").cast("bigint").alias("n"),
        F.col(col).cast("bigint").alias("value"),
    )
