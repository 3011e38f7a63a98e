"""Relational operator suite — SURVEY.md §2.2 made executable.

Each query is a (DataFrame plan, DuckDB oracle SQL) pair registered in
the global registry. The reference forwards these semantics opaquely
inside SOQL strings evaluated server-side by Salesforce
(`oxidized-force/src/client.rs:199-205,217`); here they are
first-class, locally-executed Spark plans.

Numeric parity rules (the correctness gate hashes values after
sorting columns by name):
 - Per-row double arithmetic is left UNROUNDED: both engines evaluate
   the same IEEE-754 ops on the same inputs → bit-identical results.
   (Rounding would *break* parity: Spark's round() is HALF_UP on the
   shortest decimal representation, DuckDB rounds the true binary
   value — `round(8285.42499..., 2)` gives .43 vs .42.)
 - SUM/AVG over doubles is order-dependent in both engines, so sums
   go through an exact decimal: ``CAST(sum(CAST(x AS DECIMAL(38,10)))
   AS DOUBLE)``. The per-row cast rounds identical doubles
   identically, decimal addition is exact and order-free, and the
   final cast is deterministic — bit-equal across engines at any
   parallelism. AVG = decimal-sum / count.
 - DuckDB type mismatches are cast away: SUM(BIGINT)→HUGEINT,
   year()/length()→BIGINT.

Scale notes per query are inline — the guiding rule: dims broadcast,
facts shuffle at most once per key change, and nothing collects to
the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from sf_etl_spark.queries import register
from sf_etl_spark.sources import load_table

DEC = "decimal(38,10)"


def dsum(col: Column | str) -> Column:
    """Order-independent (exact decimal) sum of a double column,
    returned as double — see module docstring."""
    c = F.col(col) if isinstance(col, str) else col
    # decimal → string → double: both engines' string parsers round
    # correctly, whereas DuckDB's direct decimal→double cast can be
    # off by 1 ulp (int128 → double, then ÷10^scale double-rounds).
    return F.sum(c.cast(DEC)).cast("string").cast("double")


def davg(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return dsum(c) / F.count(c)


def SUMD(expr: str) -> str:
    """Oracle-side twin of :func:`dsum`."""
    return f"CAST(CAST(sum(CAST({expr} AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)"


def dec2dbl(col: Column | str) -> Column:
    """Decimal → double via the string route (see :func:`dsum` — a
    direct decimal→double cast can be off by 1 ulp in DuckDB, so BOTH
    engines go through the correctly-rounding string parser). Use
    whenever a kept-decimal pipeline (exact cumulative sums, decimal
    window aggregates) crosses to double at an output boundary."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("string").cast("double")


def DEC2DBL(expr: str) -> str:
    """Oracle-side twin of :func:`dec2dbl`."""
    return f"CAST(CAST({expr} AS VARCHAR) AS DOUBLE)"


def AVGD(expr: str) -> str:
    return f"{SUMD(expr)} / count({expr})"


def _t(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    return [load_table(spark, sf_dir, n) for n in names]


# ---------------------------------------------------------------------------
# Q1 — pricing summary: scan → filter → hash agg (TPC-H Q1 shape).
# Scale: partial aggregation map-side (Catalyst does this for hash
# aggregates), only |groups| rows shuffle. Filter pushes to parquet.
# ---------------------------------------------------------------------------
@register(
    "q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {SUMD('l_quantity')}                                   AS sum_qty,
           {SUMD('l_extendedprice')}                              AS sum_base_price,
           {SUMD('l_extendedprice * (1 - l_discount)')}           AS sum_disc_price,
           {SUMD('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {AVGD('l_quantity')}                                   AS avg_qty,
           {AVGD('l_extendedprice')}                              AS avg_price,
           {AVGD('l_discount')}                                   AS avg_disc,
           count(*)                                               AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    doc="scan→filter→groupBy.agg with map-side partial aggregation",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    (l,) = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Q3 — shipping priority: 3-way join → agg → top-k.
# Scale: customer filter first (selectivity ~1/5) then join; orders and
# lineitem join on their natural keys (one shuffle each); top-10 via
# orderBy+limit = distributed TakeOrdered, no global sort materialized.
# ---------------------------------------------------------------------------
@register(
    "q3_shipping_priority",
    f"""
    SELECT l_orderkey,
           {SUMD('l_extendedprice * (1 - l_discount)')} AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    doc="multi-join → agg → deterministic top-k (tie-broken)",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, o, l = _t(spark, sf_dir, "customer", "orders", "lineitem")
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp_ntz")
    return (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .join(o.filter(F.col("o_orderdate") < cutoff), c.c_custkey == o.o_custkey)
        .join(l.filter(F.col("l_shipdate") > cutoff), F.col("o_orderkey") == l.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Q5 — revenue by nation (flagship): 5-way join through the dim chain.
# Scale: region/nation are tiny → broadcast (no shuffle for them);
# customer→orders→lineitem shuffles on join keys; AQE picks the final
# strategy at runtime. This is the entry() smoke query.
# ---------------------------------------------------------------------------
@register(
    "q5_revenue_by_nation",
    f"""
    SELECT n_name,
           {SUMD('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey  = o_orderkey
    JOIN customer ON o_custkey   = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
    doc="flagship: fact-fact shuffle joins + broadcast dims + agg",
)
def q5_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, o, c, n, r = _t(spark, sf_dir, "lineitem", "orders", "customer", "nation", "region")
    o = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    dims = F.broadcast(
        n.join(F.broadcast(r.filter(F.col("r_name") == "ASIA")), n.n_regionkey == r.r_regionkey)
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(dims, c.c_nationkey == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


# ---------------------------------------------------------------------------
# Filter + projection: predicate pushdown showcase (reference R4's
# field-list SELECT, `client.rs:217`, plus the WHERE it never had).
# Per-row arithmetic stays unrounded — bit-identical across engines.
# ---------------------------------------------------------------------------
@register(
    "filter_project",
    """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS net_price
    FROM lineitem
    WHERE l_quantity > 45 AND l_returnflag = 'R'
    ORDER BY l_orderkey, l_linenumber
    """,
    doc="projection+filter; both push into the parquet scan",
)
def filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    (l,) = _t(spark, sf_dir, "lineitem")
    return (
        l.filter((F.col("l_quantity") > 45) & (F.col("l_returnflag") == "R"))
        .select(
            "l_orderkey",
            "l_linenumber",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


# ---------------------------------------------------------------------------
# Aggregate breadth: min/max/count distinct/conditional counts.
# ---------------------------------------------------------------------------
@register(
    "agg_stats_by_status",
    f"""
    SELECT o_orderstatus,
           count(*)                                        AS n_orders,
           count(DISTINCT o_custkey)                       AS n_customers,
           min(o_totalprice)                               AS min_price,
           max(o_totalprice)                               AS max_price,
           {AVGD('o_totalprice')}                          AS avg_price,
           CAST(count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS BIGINT)
                                                           AS n_urgent
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    doc="agg suite incl. count-distinct (two-phase shuffle) + conditional agg",
)
def agg_stats_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    (o,) = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            davg("o_totalprice").alias("avg_price"),
            F.count(F.when(F.col("o_orderpriority") == "1-URGENT", 1)).alias("n_urgent"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# HAVING — post-aggregation filter.
# ---------------------------------------------------------------------------
@register(
    "agg_having",
    f"""
    SELECT o_custkey, count(*) AS n_orders, {SUMD('o_totalprice')} AS total_spent
    FROM orders
    GROUP BY o_custkey
    HAVING count(*) >= 12
    ORDER BY total_spent DESC, o_custkey
    """,
    doc="groupBy + HAVING (filter over aggregates)",
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    (o,) = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_spent"),
        )
        .filter(F.col("n_orders") >= 12)
        .orderBy(F.col("total_spent").desc(), "o_custkey")
    )


# ---------------------------------------------------------------------------
# Join types: left outer with null-producing side aggregated.
# ---------------------------------------------------------------------------
@register(
    "join_left_outer",
    f"""
    SELECT n_name,
           CAST(count(c_custkey) AS BIGINT)            AS n_customers,
           coalesce({SUMD('c_acctbal')}, 0)            AS total_balance
    FROM nation
    LEFT JOIN customer ON n_nationkey = c_nationkey
    GROUP BY n_name
    ORDER BY n_name
    """,
    doc="left outer join keeping unmatched dim rows; count(col) null-skipping",
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    n, c = _t(spark, sf_dir, "nation", "customer")
    return (
        n.join(c, n.n_nationkey == c.c_nationkey, "left")
        .groupBy("n_name")
        .agg(
            F.count("c_custkey").alias("n_customers"),
            F.coalesce(dsum("c_acctbal"), F.lit(0.0)).alias("total_balance"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Semi + anti joins (the reference's FK declaration surface,
# `sql-builder/src/main.rs:89`, turned into executable integrity ops).
# ---------------------------------------------------------------------------
@register(
    "join_semi",
    """
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    ORDER BY c_custkey
    """,
    doc="left semi join = EXISTS; no row multiplication",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, o = _t(spark, sf_dir, "customer", "orders")
    big = o.filter(F.col("o_totalprice") > 400000)
    return (
        c.join(big, c.c_custkey == big.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "join_anti",
    """
    SELECT c_custkey, c_mktsegment
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    ORDER BY c_custkey
    """,
    doc="left anti join = NOT EXISTS; customers with no orders",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, o = _t(spark, sf_dir, "customer", "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# FK integrity sweep: every declared FK from FIXTURES.md checked via
# anti-join orphan counts — the executable version of the reference's
# `Reference → foreign(...)` declarations (`sql-builder/src/main.rs:89`,
# `sql/types.rs:230-233`). Scale: six independent anti-joins, each a
# broadcast or shuffle join on its own key; no driver collect.
# ---------------------------------------------------------------------------
@register(
    "fk_integrity",
    """
    SELECT fk, orphans FROM (
      SELECT 'lineitem.l_orderkey' AS fk,
             CAST((SELECT count(*) FROM lineitem l
                   WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
                  AS BIGINT) AS orphans
      UNION ALL
      SELECT 'lineitem.l_partkey',
             CAST((SELECT count(*) FROM lineitem l
                   WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)) AS BIGINT)
      UNION ALL
      SELECT 'lineitem.l_suppkey',
             CAST((SELECT count(*) FROM lineitem l
                   WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)) AS BIGINT)
      UNION ALL
      SELECT 'orders.o_custkey',
             CAST((SELECT count(*) FROM orders o
                   WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
      UNION ALL
      SELECT 'customer.c_nationkey',
             CAST((SELECT count(*) FROM customer c
                   WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)) AS BIGINT)
      UNION ALL
      SELECT 'nation.n_regionkey',
             CAST((SELECT count(*) FROM nation n
                   WHERE NOT EXISTS (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey)) AS BIGINT)
    ) ORDER BY fk
    """,
    doc="anti-join FK orphan counts for every declared FK",
)
def fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sf_etl_spark.operators.joins import fk_orphan_counts

    l, o, c, n, r, p, s = _t(
        spark, sf_dir, "lineitem", "orders", "customer", "nation", "region", "part", "supplier"
    )
    return fk_orphan_counts(
        spark,
        [
            ("lineitem.l_orderkey", l, "l_orderkey", o, "o_orderkey"),
            ("lineitem.l_partkey", l, "l_partkey", p, "p_partkey"),
            ("lineitem.l_suppkey", l, "l_suppkey", s, "s_suppkey"),
            ("orders.o_custkey", o, "o_custkey", c, "c_custkey"),
            ("customer.c_nationkey", c, "c_nationkey", n, "n_nationkey"),
            ("nation.n_regionkey", n, "n_regionkey", r, "r_regionkey"),
        ],
    ).orderBy("fk")


# ---------------------------------------------------------------------------
# Window functions: ranking + offsets + running frame in one pass.
# Scale: ONE shuffle on o_custkey serves every window function below
# (same partitioning); ordering inside partitions is local sort. The
# running sum goes through the exact-decimal lane because engines may
# use different accumulation trees (segment tree vs running) even for
# an ordered frame.
# ---------------------------------------------------------------------------
@register(
    "window_suite",
    """
    SELECT o_orderkey, o_custkey,
           CAST(row_number() OVER w AS INT)    AS rn,
           CAST(rank()       OVER w AS INT)    AS rnk,
           CAST(dense_rank() OVER w AS INT)    AS drnk,
           lag(o_totalprice)  OVER w           AS prev_price,
           lead(o_totalprice) OVER w           AS next_price,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(38,10)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
                                               AS running_total
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, rn
    """,
    doc="row_number/rank/dense_rank/lag/lead/running sum over one shuffle",
)
def window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    (o,) = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.sum(F.col("o_totalprice").cast(DEC)).over(wrun).cast("string").cast("double").alias("running_total"),
    ).orderBy("o_custkey", "rn")


# ---------------------------------------------------------------------------
# Top-k per group — SALTED two-phase rank (r7 verdict's unbounded-
# window class, fixed r8): the naive single window partitions the
# whole fact into |segments|=5 sort tasks. Phase 1 ranks within
# (segment, salt) — 64 deterministic hash salts → 5·64 parallel
# sorts of n/320 rows — and cuts at k: any row in the global top-k of
# its segment beats at most k−1 rows overall, hence at most k−1 in
# its own salt bucket, so the local cut is LOSSLESS for any salt
# assignment. Phase 2 ranks the ≤ k·salts survivors per segment —
# a bounded frame. Same recipe as stratified_sample_exact's
# prefilter, for value-ordered (non-hash-ordered) top-k.
# ---------------------------------------------------------------------------
_TOPK_SALTS = 64


@register(
    "topk_per_group",
    """
    SELECT c_mktsegment, o_orderkey, o_totalprice AS total_price
    FROM (
      SELECT c_mktsegment, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders JOIN customer ON o_custkey = c_custkey
    ) WHERE rn <= 3
    ORDER BY c_mktsegment, total_price DESC, o_orderkey
    """,
    doc="top-3 orders per market segment via salted two-phase row_number",
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sf_etl_spark.operators.topk import salted_topk

    o, c = _t(spark, sf_dir, "orders", "customer")
    base = (
        o.join(c, o.o_custkey == c.c_custkey)
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
    )
    order = [F.col("o_totalprice").desc(), F.asc("o_orderkey")]
    return (
        salted_topk(
            base, ["c_mktsegment"], order, 3, ["o_orderkey"],
            n_salts=_TOPK_SALTS,
        )
        .select("c_mktsegment", "o_orderkey", F.col("o_totalprice").alias("total_price"))
        .orderBy("c_mktsegment", F.col("total_price").desc(), "o_orderkey")
    )


# ---------------------------------------------------------------------------
# Set operations: union / intersect / except with distinct semantics.
# ---------------------------------------------------------------------------
@register(
    "set_ops",
    """
    SELECT 'union' AS op,
           CAST((SELECT count(*) FROM (SELECT c_nationkey FROM customer
                                       UNION SELECT s_nationkey FROM supplier)) AS BIGINT) AS n
    UNION ALL
    SELECT 'intersect',
           CAST((SELECT count(*) FROM (SELECT c_nationkey FROM customer
                                       INTERSECT SELECT s_nationkey FROM supplier)) AS BIGINT)
    UNION ALL
    SELECT 'except',
           CAST((SELECT count(*) FROM (SELECT c_nationkey FROM customer
                                       EXCEPT SELECT s_nationkey FROM supplier)) AS BIGINT)
    ORDER BY op
    """,
    doc="union/intersect/except (distinct set semantics) as labeled counts",
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, s = _t(spark, sf_dir, "customer", "supplier")
    cn = c.select(F.col("c_nationkey").alias("k"))
    sn = s.select(F.col("s_nationkey").alias("k"))

    def count1(df: DataFrame, label: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n")).select(F.lit(label).alias("op"), "n")

    return (
        count1(cn.union(sn).distinct(), "union")
        .unionByName(count1(cn.intersect(sn), "intersect"))
        .unionByName(count1(cn.subtract(sn), "except"))
        .orderBy("op")
    )


# ---------------------------------------------------------------------------
# Distinct projection.
# ---------------------------------------------------------------------------
@register(
    "distinct_flags",
    """
    SELECT DISTINCT l_returnflag, l_linestatus
    FROM lineitem ORDER BY l_returnflag, l_linestatus
    """,
    doc="DISTINCT = shuffle on all projected columns",
)
def distinct_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    (l,) = _t(spark, sf_dir, "lineitem")
    return l.select("l_returnflag", "l_linestatus").distinct().orderBy(
        "l_returnflag", "l_linestatus"
    )


# ---------------------------------------------------------------------------
# Rollup (hierarchical grouping sets).
# ---------------------------------------------------------------------------
@register(
    "rollup_flags",
    f"""
    SELECT l_returnflag, l_linestatus,
           {SUMD('l_quantity')} AS sum_qty,
           count(*)             AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    doc="ROLLUP grouping sets incl. grand total row",
)
def rollup_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    (l,) = _t(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(dsum("l_quantity").alias("sum_qty"), F.count(F.lit(1)).alias("n_rows"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


# ---------------------------------------------------------------------------
# Cube (full grouping sets) over two dims.
# ---------------------------------------------------------------------------
@register(
    "cube_status_priority",
    f"""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           {SUMD('o_totalprice')} AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
    doc="CUBE = all 2^k grouping sets",
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    (o,) = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


# ---------------------------------------------------------------------------
# Pivot: groupBy.pivot with explicit value list (explicit list keeps
# the plan single-pass; without it Spark runs a distinct-values job).
# ---------------------------------------------------------------------------
@register(
    "pivot_returnflag",
    f"""
    SELECT l_returnflag,
           {SUMD("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS qty_f,
           {SUMD("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS qty_o
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="pivot on l_linestatus with explicit value list",
)
def pivot_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    (l,) = _t(spark, sf_dir, "lineitem")
    piv = (
        l.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(dsum("l_quantity"))
    )
    return piv.select(
        "l_returnflag",
        F.col("F").alias("qty_f"),
        F.col("O").alias("qty_o"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# Scalar subquery without collect(): mean-threshold filter via a
# broadcast cross-join of a 1-row aggregate (distributed-safe pattern).
# The threshold itself uses the exact-decimal average so both engines
# compare against the same double.
# ---------------------------------------------------------------------------
@register(
    "scalar_subquery",
    f"""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_above_avg
    FROM customer
    WHERE c_acctbal > (SELECT {AVGD('c_acctbal')} FROM customer)
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    doc="scalar subquery as broadcast 1-row cross join (no driver collect)",
)
def scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    (c,) = _t(spark, sf_dir, "customer")
    avg_bal = c.agg(davg("c_acctbal").alias("_avg_bal"))
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_above_avg"))
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Min-per-group join-back (TPC-H Q2 shape): cheapest part per brand.
# ---------------------------------------------------------------------------
@register(
    "min_per_group_joinback",
    """
    SELECT p.p_brand, p.p_partkey, p.p_retailprice AS retail_price
    FROM part p
    JOIN (SELECT p_brand AS mb_brand, min(p_retailprice) AS min_price
          FROM part GROUP BY p_brand) m
      ON p.p_brand = m.mb_brand AND p.p_retailprice = m.min_price
    ORDER BY p.p_brand, p.p_partkey
    """,
    doc="agg-then-joinback: rows achieving the per-group minimum",
)
def min_per_group_joinback(spark: SparkSession, sf_dir: str) -> DataFrame:
    (p,) = _t(spark, sf_dir, "part")
    mins = p.groupBy(F.col("p_brand").alias("mb_brand")).agg(
        F.min("p_retailprice").alias("min_price")
    )
    return (
        p.join(
            F.broadcast(mins),
            (p.p_brand == F.col("mb_brand")) & (p.p_retailprice == F.col("min_price")),
        )
        .select("p_brand", "p_partkey", F.col("p_retailprice").alias("retail_price"))
        .orderBy("p_brand", "p_partkey")
    )


# ---------------------------------------------------------------------------
# Scalar function breadth: strings. (DuckDB length() returns BIGINT —
# Spark side casts to match.)
# ---------------------------------------------------------------------------
@register(
    "string_functions",
    """
    SELECT p_partkey,
           upper(p_name)                                   AS name_upper,
           lower(p_brand)                                  AS brand_lower,
           substr(p_type, 1, 6)                            AS type_prefix,
           CAST(length(p_name) AS BIGINT)                  AS name_len,
           concat(p_brand, ':', p_type)                    AS brand_type,
           replace(p_name, ' ', '_')                       AS name_snake,
           trim(p_name)                                    AS name_trim,
           CAST(strpos(p_type, 'STEEL') AS INT)            AS steel_pos,
           lpad(CAST(p_size AS VARCHAR), 4, '0')           AS size_padded,
           reverse(p_brand)                                AS brand_rev
    FROM part
    WHERE p_partkey <= 200
    ORDER BY p_partkey
    """,
    doc="string function coverage: case/substr/len/concat/replace/pad/pos",
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    (p,) = _t(spark, sf_dir, "part")
    return (
        p.filter(F.col("p_partkey") <= 200)
        .select(
            "p_partkey",
            F.upper("p_name").alias("name_upper"),
            F.lower("p_brand").alias("brand_lower"),
            F.substring("p_type", 1, 6).alias("type_prefix"),
            F.length("p_name").cast("bigint").alias("name_len"),
            F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
            F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
            F.trim("p_name").alias("name_trim"),
            F.instr(F.col("p_type"), "STEEL").alias("steel_pos"),
            F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
            F.reverse("p_brand").alias("brand_rev"),
        )
        .orderBy("p_partkey")
    )


# ---------------------------------------------------------------------------
# Scalar function breadth: dates. (DuckDB year() returns BIGINT; Spark
# returns INT — cast oracle side down.)
# ---------------------------------------------------------------------------
@register(
    "date_functions",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT)      AS order_year,
           CAST(month(o_orderdate) AS INT)     AS order_month,
           CAST(day(o_orderdate) AS INT)       AS order_day,
           CAST(dayofweek(o_orderdate) AS INT) AS order_dow,
           CAST(quarter(o_orderdate) AS INT)   AS order_quarter,
           date_trunc('month', o_orderdate)    AS month_start,
           o_orderdate + INTERVAL 30 DAY       AS due_date,
           CAST(date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS INT)
                                               AS days_since_epoch_start
    FROM orders
    WHERE o_orderkey <= 100
    ORDER BY o_orderkey
    """,
    doc="date/time function coverage: extract/trunc/interval/diff",
)
def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    (o,) = _t(spark, sf_dir, "orders")
    # Spark dayofweek: 1=Sunday..7=Saturday; DuckDB: 0=Sunday..6 → Spark-1.
    return (
        o.filter(F.col("o_orderkey") <= 100)
        .select(
            "o_orderkey",
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
            F.dayofmonth("o_orderdate").alias("order_day"),
            (F.dayofweek("o_orderdate") - 1).alias("order_dow"),
            F.quarter("o_orderdate").alias("order_quarter"),
            F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
            (F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")).alias("due_date"),
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1995-01-01").cast("date"),
            ).alias("days_since_epoch_start"),
        )
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# Math functions. Algebraic per-row ops stay raw (bit-identical);
# libm-backed transcendentals (sqrt is exact; ln/pow are within 1 ulp)
# get round(6), where a 1-ulp difference cannot straddle a decimal
# rounding boundary in practice.
# ---------------------------------------------------------------------------
@register(
    "math_functions",
    """
    SELECT l_orderkey, l_linenumber,
           abs(l_extendedprice - 50000)               AS abs_diff,
           sqrt(l_quantity)                           AS qty_sqrt,
           round(pow(1 + l_discount, 2), 6)           AS disc_sq,
           round(ln(l_extendedprice), 6)              AS price_ln,
           CAST(floor(l_quantity) AS BIGINT)          AS qty_floor,
           CAST(ceil(l_quantity) AS BIGINT)           AS qty_ceil,
           CAST(l_orderkey % 7 AS BIGINT)             AS key_mod7,
           greatest(l_discount, l_tax)                AS max_rate,
           least(l_discount, l_tax)                   AS min_rate,
           CAST(sign(l_discount - l_tax) AS INT)      AS rate_sign
    FROM lineitem
    WHERE l_orderkey <= 60
    ORDER BY l_orderkey, l_linenumber
    """,
    doc="math function coverage: abs/sqrt/pow/ln/floor/ceil/mod/least/greatest",
)
def math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    (l,) = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(F.col("l_orderkey") <= 60)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.abs(F.col("l_extendedprice") - 50000).alias("abs_diff"),
            F.sqrt("l_quantity").alias("qty_sqrt"),
            F.round(F.pow(F.lit(1) + F.col("l_discount"), 2), 6).alias("disc_sq"),
            F.round(F.log(F.col("l_extendedprice")), 6).alias("price_ln"),
            F.floor("l_quantity").alias("qty_floor"),
            F.ceil("l_quantity").alias("qty_ceil"),
            (F.col("l_orderkey") % 7).alias("key_mod7"),
            F.greatest("l_discount", "l_tax").alias("max_rate"),
            F.least("l_discount", "l_tax").alias("min_rate"),
            F.signum(F.col("l_discount") - F.col("l_tax")).cast("int").alias("rate_sign"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


# ---------------------------------------------------------------------------
# CASE / conditional expressions + IN / BETWEEN / LIKE predicates.
# ---------------------------------------------------------------------------
@register(
    "conditional_predicates",
    """
    SELECT o_orderkey,
           CASE WHEN o_totalprice >= 300000 THEN 'high'
                WHEN o_totalprice >= 100000 THEN 'mid'
                ELSE 'low' END                           AS price_band,
           (o_orderpriority IN ('1-URGENT', '2-HIGH'))   AS is_priority,
           (o_totalprice BETWEEN 50000 AND 150000)       AS is_mid_range,
           (o_orderpriority LIKE '%URGENT%')             AS like_urgent,
           coalesce(nullif(o_orderstatus, 'O'), 'open')  AS status_decoded
    FROM orders
    WHERE o_orderkey <= 400
    ORDER BY o_orderkey
    """,
    doc="CASE WHEN, IN, BETWEEN, LIKE, COALESCE/NULLIF",
)
def conditional_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    (o,) = _t(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderkey") <= 400)
        .select(
            "o_orderkey",
            F.when(F.col("o_totalprice") >= 300000, "high")
            .when(F.col("o_totalprice") >= 100000, "mid")
            .otherwise("low")
            .alias("price_band"),
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("is_priority"),
            F.col("o_totalprice").between(50000, 150000).alias("is_mid_range"),
            F.col("o_orderpriority").like("%URGENT%").alias("like_urgent"),
            F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("open")).alias(
                "status_decoded"
            ),
        )
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# JSON lane — the reference's AnyType→Jsonb mapping
# (`sql-builder/src/main.rs:91`, `sql/types.rs:41`) made executable:
# schema-on-read extraction from a JSON text column.
# ---------------------------------------------------------------------------
@register(
    "json_extract",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT)                                   AS n_events,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS INT)) AS INT)    AS max_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="JSON extraction (AnyType/Jsonb lane) + agg over extracted field",
)
def json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    (e,) = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(k).cast("bigint").alias("sum_k"),
            F.max(k).alias("max_k"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# VARIANT lane (Spark 4 VariantType) — the modern engine's
# open-schema column: parse once into the binary variant encoding,
# extract typed paths with variant_get (codegen'd, no per-row JSON
# re-parse). The lane is SELF-PROVING: order fields are packed into a
# nested JSON document, parsed to VARIANT, and extracted back as
# typed columns — the oracle computes the same values straight from
# the raw columns, so any fidelity loss anywhere in the
# to_json → parse_json → variant_get chain (int/bool/string/nested
# path/absent path) breaks the hash. try_variant_get on a missing
# path must yield NULL, not error.
#
# Scale: this is the shredding-readiness pattern — land semi-
# structured data as ONE variant column, extract hot paths as typed
# projections downstream; everything here is whole-stage-codegen'd
# expression work on the scan, no UDF, no shuffle beyond the output
# sort. The reference's AnyType→Jsonb mapping (`main.rs:91`) stops at
# "store the text"; this is the executable upgrade.
# ---------------------------------------------------------------------------
@register(
    "variant_extract_orders",
    """
    SELECT o_orderkey,
           o_orderstatus                                 AS status,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents,
           CAST(o_custkey AS BIGINT)                     AS custkey,
           (o_orderkey % 7 = 0)                          AS lucky,
           CAST(NULL AS INT)                             AS absent
    FROM orders
    WHERE o_orderkey % 11 = 3
    ORDER BY o_orderkey
    """,
    doc="VariantType: pack → parse_json → typed variant_get path extraction ≡ raw columns",
)
def variant_extract_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    (o,) = _t(spark, sf_dir, "orders")
    doc = F.to_json(
        F.struct(
            F.col("o_orderkey").alias("id"),
            F.col("o_orderstatus").alias("status"),
            F.struct(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                .cast("bigint")
                .alias("cents"),
                F.col("o_custkey").alias("cust"),
            ).alias("nested"),
            (F.col("o_orderkey") % 7 == 0).alias("lucky"),
        )
    )
    v = F.parse_json(doc)
    return (
        o.filter(F.col("o_orderkey") % 11 == 3)
        .select(
            F.variant_get(v, "$.id", "bigint").alias("o_orderkey"),
            F.variant_get(v, "$.status", "string").alias("status"),
            F.variant_get(v, "$.nested.cents", "bigint").alias("price_cents"),
            F.variant_get(v, "$.nested.cust", "bigint").alias("custkey"),
            F.variant_get(v, "$.lucky", "boolean").alias("lucky"),
            F.try_variant_get(v, "$.missing", "int").alias("absent"),
        )
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# Sort with mixed direction + global limit/offset.
# ---------------------------------------------------------------------------
@register(
    "order_limit_offset",
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice AS total_price
    FROM orders
    ORDER BY o_orderstatus ASC, total_price DESC, o_orderkey
    LIMIT 25 OFFSET 10
    """,
    doc="multi-key sort + limit/offset (TakeOrdered path)",
)
def order_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    (o,) = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_orderstatus", F.col("o_totalprice").alias("total_price"))
        .orderBy(F.col("o_orderstatus").asc(), F.col("total_price").desc(), "o_orderkey")
        .offset(10)
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Approximate distinct-count (HLL++ sketch) cross-checked against the
# exact count. Spark's HLL and DuckDB's HLL disagree numerically, so
# the oracle-compared columns are the exact count plus a boolean
# "sketch within 2% rsd" — the sketch value itself stays engine-local.
# Scale: approx_count_distinct is THE cardinality op at 100 TB: fixed
# ~1.5 KB sketch per group merges map-side, vs countDistinct's
# per-value expand+reshuffle.
# ---------------------------------------------------------------------------
@register(
    "approx_distinct_custkeys",
    """
    SELECT o_orderpriority,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_custkeys,
           TRUE AS sketch_ok
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="approx_count_distinct (HLL) vs exact, per order priority",
)
def approx_distinct_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    (o,) = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("exact_custkeys"),
            F.approx_count_distinct("o_custkey", rsd=0.02).alias("_approx"),
        )
        .select(
            "o_orderpriority",
            "exact_custkeys",
            (
                F.abs(F.col("_approx") - F.col("exact_custkeys"))
                <= F.greatest(F.col("exact_custkeys") * 0.06, F.lit(2.0))
            ).alias("sketch_ok"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Array functions: collect per-group arrays (sorted for determinism),
# then slice/index/contains/aggregate over them. DuckDB's list() +
# list_sort mirror collect_list + array_sort; element access is
# 1-based on both sides.
# Scale: collect_list bounds memory per group (≤7 lineitems/order
# here); unbounded-group collects would be the anti-pattern.
# ---------------------------------------------------------------------------
@register(
    "array_functions",
    """
    WITH g AS (
      SELECT l_orderkey,
             list_sort(list(l_linenumber)) AS lines,
             list_sort(list(l_quantity)) AS qtys
      FROM lineitem
      GROUP BY l_orderkey
    )
    SELECT l_orderkey,
           CAST(len(lines) AS INT) AS n_lines,
           lines[1] AS first_line,
           lines[-1] AS last_line,
           list_contains(lines, 3) AS has_line3,
           array_to_string(lines[1:2], ',') AS first_two,
           CAST(list_reduce(qtys, (a, b) -> a + b) AS DOUBLE) AS qty_total
    FROM g
    ORDER BY l_orderkey
    LIMIT 100
    """,
    doc="collect_list/array_sort/slice/element_at/contains/fold over per-order arrays",
)
def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    (li,) = _t(spark, sf_dir, "lineitem")
    g = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list("l_linenumber")).alias("lines"),
        F.array_sort(F.collect_list("l_quantity")).alias("qtys"),
    )
    return (
        g.select(
            "l_orderkey",
            F.size("lines").alias("n_lines"),
            F.element_at("lines", 1).alias("first_line"),
            F.element_at("lines", -1).alias("last_line"),
            F.array_contains("lines", 3).alias("has_line3"),
            F.concat_ws(",", F.slice("lines", 1, 2)).alias("first_two"),
            F.aggregate("qtys", F.lit(0.0), lambda a, b: a + b).alias("qty_total"),
        )
        .orderBy("l_orderkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Map functions: build a map column (status → decimal-exact revenue),
# then key-lookup, cardinality, and key-set extraction. The oracle
# replays the *semantics* with conditional aggregation — map columns
# themselves never cross the comparison boundary (engines hash map
# layouts differently); extracted scalars do.
# ---------------------------------------------------------------------------
@register(
    "map_functions",
    f"""
    WITH per AS (
      SELECT o_orderpriority, o_orderstatus,
             {SUMD('o_totalprice')} AS rev
      FROM orders
      GROUP BY o_orderpriority, o_orderstatus
    )
    SELECT o_orderpriority,
           CAST(count(*) AS INT) AS n_statuses,
           array_to_string(list_sort(list(o_orderstatus)), ',') AS status_keys,
           CAST(CAST(sum(CASE WHEN o_orderstatus = 'O' THEN rev END) AS VARCHAR) AS DOUBLE)
             AS open_rev
    FROM per
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="map_from_entries/element_at/map_keys over status→revenue maps",
)
def map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    (o,) = _t(spark, sf_dir, "orders")
    per = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        dsum("o_totalprice").alias("rev")
    )
    m = per.groupBy("o_orderpriority").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("o_orderstatus", "rev")))
        ).alias("rev_by_status")
    )
    return m.select(
        "o_orderpriority",
        F.size("rev_by_status").alias("n_statuses"),
        F.concat_ws(",", F.array_sort(F.map_keys("rev_by_status"))).alias("status_keys"),
        F.element_at("rev_by_status", "O").alias("open_rev"),
    ).orderBy("o_orderpriority")


# ---------------------------------------------------------------------------
# Salted skew-join: the explicit hot-key remedy (operators/skew.py)
# proven equivalent to the plain join — the oracle runs the UNSALTED
# join, so a value match certifies the rewrite changes the shuffle
# layout and nothing else. Scale: each hot l_orderkey spreads over 8
# salt buckets; the orders build side replicates 8x map-side.
# ---------------------------------------------------------------------------
@register(
    "salted_join_revenue",
    f"""
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_items,
           {SUMD('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
    doc="salting-based skew join ≡ plain join (oracle runs unsalted)",
)
def salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sf_etl_spark.operators.skew import salted_join

    li, o = _t(spark, sf_dir, "lineitem", "orders")
    joined = salted_join(
        li.select("l_orderkey", "l_extendedprice", "l_discount"),
        o.select(F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"),
        on=["l_orderkey"],
        n=8,
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Exact percentiles (linear interpolation) per group, computed the way
# a 100 TB engine must: the two-phase bucket pick
# (operators/orderstats.py) instead of the exact-percentile AGGREGATE,
# whose buffer collects every group value into one task (the one
# scale-killer invisible to the window plan guard — r8 verdict task 4).
# The interpolation weights are SQL IEEE expressions of the group size
# applying the same (higher-pos)·v_lo + (pos-lower)·v_hi formula Spark
# percentile() and DuckDB quantile_cont() both use, so the output is
# bit-identical to the r4-hash-verified aggregate plan. Bucketing keys on the exact
# cents image (fixtures are 2-decimal doubles; round(x·100) recovers
# the integer cents exactly, and the image is order-isomorphic).
# ---------------------------------------------------------------------------
@register(
    "percentiles_by_flag",
    """
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5)       AS med_qty,
           quantile_cont(l_quantity, 0.9)       AS p90_qty,
           quantile_cont(l_extendedprice, 0.25) AS p25_price,
           quantile_cont(l_extendedprice, 0.99) AS p99_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="exact percentiles (median/p90/p25/p99) per return flag, two-phase",
)
def percentiles_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sf_etl_spark.operators.layout import footer_column_bounds
    from sf_etl_spark.operators.orderstats import (
        grouped_percentile_cont_multi,
    )

    (li,) = _t(spark, sf_dir, "lineitem")
    base = li.select(
        "l_returnflag",
        "l_quantity",
        "l_extendedprice",
        F.round(F.col("l_quantity") * 100).cast("long").alias("_qty_c"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("_price_c"),
    )
    # covering image bounds from parquet footer statistics (driver
    # metadata read, no bounds job, so the lane builds lazily; round()
    # of the monotone cents map of the column's true min/max covers
    # every row's image); when stats are absent the multi operator runs
    # ONE shared bounds scan for whatever is missing. Both columns then
    # share one count scan and one pick pass (the r10 fusion) — and the
    # result comes back as a single frame.
    bounds_map = {}
    qf = footer_column_bounds(f"{sf_dir}/lineitem.parquet", "l_quantity")
    pf = footer_column_bounds(f"{sf_dir}/lineitem.parquet", "l_extendedprice")
    if qf:
        bounds_map["_qty_c"] = (round(qf[0] * 100), round(qf[1] * 100))
    if pf:
        bounds_map["_price_c"] = (round(pf[0] * 100), round(pf[1] * 100))
    return grouped_percentile_cont_multi(
        base,
        "l_returnflag",
        [
            ("_qty_c", "l_quantity", {"med_qty": 0.5, "p90_qty": 0.9}),
            ("_price_c", "l_extendedprice", {"p25_price": 0.25, "p99_price": 0.99}),
        ],
        bounds_map=bounds_map,
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# Correlated EXISTS / NOT EXISTS through the SQL API: Catalyst
# decorrelates both into semi/anti joins (no per-row subquery
# execution — check the plan: LeftSemi/LeftAnti, not a nested loop).
# Customers with ≥1 urgent order but no F-status order.
# ---------------------------------------------------------------------------
@register(
    "exists_correlated",
    """
    SELECT c.c_custkey, c.c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
      AND NOT EXISTS (SELECT 1 FROM orders o2
                      WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F')
    ORDER BY c.c_custkey
    LIMIT 200
    """,
    doc="correlated EXISTS/NOT EXISTS → decorrelated semi/anti joins",
)
def exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, o = _t(spark, sf_dir, "customer", "orders")
    c.createOrReplaceTempView("_ex_customer")
    o.createOrReplaceTempView("_ex_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_mktsegment
        FROM _ex_customer c
        WHERE EXISTS (SELECT 1 FROM _ex_orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
          AND NOT EXISTS (SELECT 1 FROM _ex_orders o2
                          WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F')
        ORDER BY c.c_custkey
        LIMIT 200
        """
    )


# ---------------------------------------------------------------------------
# Schema-on-read JSON: from_json with a declared struct (the
# AnyType→Jsonb lane parsed into typed columns, not just extracted),
# plus a compact to_json round-trip. At scale the declared schema
# beats schema_of_json sampling: one pass, no inference job.
# ---------------------------------------------------------------------------
@register(
    "json_schema_on_read",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k,
           '{"k":' || json_extract_string(props, '$.k') || '}' AS props_norm
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS INT) BETWEEN 40 AND 60
    ORDER BY event_id
    LIMIT 200
    """,
    doc="from_json into typed struct + compact to_json round-trip",
)
def json_schema_on_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    (e,) = _t(spark, sf_dir, "events")
    parsed = F.from_json("props", "k int")
    return (
        e.select(
            "event_id",
            parsed.getField("k").alias("k"),
            F.to_json(F.struct(parsed.getField("k").alias("k"))).alias("props_norm"),
        )
        .filter(F.col("k").between(40, 60))
        .orderBy("event_id")
        .limit(200)
    )


# ---------------------------------------------------------------------------
# Duplicate-preserving set ops (ALL variants): unionAll / intersectAll
# / exceptAll keep multiplicity — semantics distinct from the
# set-variants in `set_ops`. Counted per branch for a stable result.
# ---------------------------------------------------------------------------
@register(
    "set_ops_all",
    """
    WITH c AS (SELECT c_nationkey AS k FROM customer),
         s AS (SELECT s_nationkey AS k FROM supplier)
    SELECT 'union_all' AS op, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT k FROM c UNION ALL SELECT k FROM s)
    UNION ALL
    SELECT 'intersect_all', CAST(count(*) AS BIGINT)
      FROM (SELECT k FROM c INTERSECT ALL SELECT k FROM s)
    UNION ALL
    SELECT 'except_all', CAST(count(*) AS BIGINT)
      FROM (SELECT k FROM c EXCEPT ALL SELECT k FROM s)
    ORDER BY op
    """,
    doc="duplicate-preserving set ops: unionAll/intersectAll/exceptAll counts",
)
def set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, s = _t(spark, sf_dir, "customer", "supplier")
    ck = c.select(F.col("c_nationkey").alias("k"))
    sk = s.select(F.col("s_nationkey").alias("k"))

    def count1(df: DataFrame, op: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("bigint").alias("n")).select(
            F.lit(op).alias("op"), "n"
        )

    return (
        count1(ck.unionAll(sk), "union_all")
        .unionByName(count1(ck.intersectAll(sk), "intersect_all"))
        .unionByName(count1(ck.exceptAll(sk), "except_all"))
        .orderBy("op")
    )


# ---------------------------------------------------------------------------
# TPC-H Q14 shape: promo revenue share — conditional aggregation over
# a fact⋈dim join. Scale: part is a dim → broadcast (175 KB here,
# a few GB at 100 TB: still broadcastable); lineitem never shuffles
# for the join, only |groups|=1 row aggregates cross the wire.
# ---------------------------------------------------------------------------
_Q14_REV = "l_extendedprice * (1 - l_discount)"
_Q14_PROMO = f"CASE WHEN p_type LIKE 'PROMO%' THEN {_Q14_REV} ELSE 0 END"


@register(
    "q14_promo_revenue",
    f"""
    SELECT CAST(count(*) AS BIGINT) AS n_items,
           {SUMD(_Q14_PROMO)} AS promo_revenue,
           {SUMD(_Q14_REV)} AS total_revenue,
           100.0 * {SUMD(_Q14_PROMO)} / {SUMD(_Q14_REV)} AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1995-09-01'
      AND l_shipdate < TIMESTAMP '1995-10-01'
    """,
    doc="TPC-H Q14: promo revenue share via broadcast dim join + conditional agg",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, p = _t(spark, sf_dir, "lineitem", "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(F.lit(0.0))
    return (
        li.filter(
            (F.col("l_shipdate") >= "1995-09-01") & (F.col("l_shipdate") < "1995-10-01")
        )
        .join(F.broadcast(p.select("p_partkey", "p_type")), li.l_partkey == p.p_partkey)
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(promo).alias("promo_revenue"),
            dsum(rev).alias("total_revenue"),
            (100.0 * dsum(promo) / dsum(rev)).alias("promo_pct"),
        )
    )


# ---------------------------------------------------------------------------
# Window-frame breadth: ntile/percent_rank/cume_dist over a value
# ordering, plus a RANGE frame keyed by event time (trailing 90 days).
#
# The rank functions partition by o_orderpriority — 5 groups, so a
# plain window sorts the whole table in 5 tasks (the last grandfathered
# constant-parallelism sort; r8 verdict task 5). Retired with the lazy
# prefix rank of operators/orderstats.grouped_exact_rank: each row's
# exact cents image gets a histogram bucket over the footer-statistics
# bounds, row_number per (priority, bucket) ranks ~n/B-row slices in
# parallel, and the per-bucket offsets come from windows over the
# pre-aggregated ≤|priorities|·B count frame — never raw rows. The
# ordering key (o_totalprice, o_orderkey) is unique per row, so peer
# groups are single rows and rank == row_number; ntile/percent_rank/
# cume_dist then reduce to per-row integer/double arithmetic on
# (rank, n) — the exact formulas both engines evaluate: tile sizes
# n div T (+1 for the first n mod T), pct_rank = (r-1)/(n-1),
# cume_dist = r/n. The RANGE frame stays a real window — partitioned
# by o_custkey (key-proportional parallelism), state bounded by a
# customer's 90-day order count.
# ---------------------------------------------------------------------------
@register(
    "window_frames",
    """
    SELECT o_orderkey,
           CAST(ntile(4) OVER wp AS INT)        AS price_quartile,
           percent_rank() OVER wp               AS pct_rank,
           cume_dist() OVER wp                  AS cdist,
           CAST(count(*) OVER wt AS BIGINT)     AS orders_90d,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(38,10))) OVER wt
                AS VARCHAR) AS DOUBLE)          AS spend_90d
    FROM orders
    WINDOW wp AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey),
           wt AS (PARTITION BY o_custkey ORDER BY o_orderdate
                  RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW)
    ORDER BY o_orderkey
    """,
    doc="ntile/percent_rank/cume_dist via two-level prefix rank + 90-day RANGE frame",
)
def window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sf_etl_spark.operators.layout import footer_column_bounds
    from sf_etl_spark.operators.orderstats import grouped_exact_rank, ntile_from_rank

    (o,) = _t(spark, sf_dir, "orders")
    # covering bounds of the cents image from the parquet footer (a
    # driver metadata read, keeps the lane lazy); without stats the
    # operator scans for them
    fb = footer_column_bounds(f"{sf_dir}/orders.parquet", "o_totalprice")
    base = o.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        "o_custkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("_img"),
    )
    ranked = grouped_exact_rank(
        base,
        "o_orderpriority",
        "_img",
        "o_orderkey",
        bounds=(round(fb[0] * 100), round(fb[1] * 100)) if fb else None,
    )
    tile = ntile_from_rank("_rank", "_gn", 4)
    # unique ordering key → single-row peer groups → rank == row_number
    pct_rank = F.when(F.col("_gn") == 1, F.lit(0.0)).otherwise(
        (F.col("_rank") - 1).cast("double") / (F.col("_gn") - 1).cast("double")
    )
    cdist = F.col("_rank").cast("double") / F.col("_gn").cast("double")
    wt = (
        "OVER (PARTITION BY o_custkey ORDER BY o_orderdate "
        "RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW)"
    )
    return (
        ranked.withColumn("price_quartile", tile.cast("int"))
        .withColumn("pct_rank", pct_rank)
        .withColumn("cdist", cdist)
        .selectExpr(
            "o_orderkey",
            "price_quartile",
            "pct_rank",
            "cdist",
            f"CAST(count(*) {wt} AS BIGINT) AS orders_90d",
            f"CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(38,10))) {wt} AS STRING) AS DOUBLE) AS spend_90d",
        )
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# Explicit GROUPING SETS (rollup/cube cover the regular lattices; this
# is the irregular one) + grouping() provenance flags. Scale: one
# Expand + one hash agg — rows multiply by the number of sets before
# the partial agg, the standard Spark strategy.
# NULLS FIRST is spelled out: Spark defaults ASC NULLS FIRST, DuckDB
# NULLS LAST.
# ---------------------------------------------------------------------------
@register(
    "grouping_sets_flags",
    f"""
    SELECT l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag) AS INT) AS g_rf,
           CAST(grouping(l_linestatus) AS INT) AS g_ls,
           {SUMD('l_quantity')} AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                            (l_returnflag), (l_linestatus), ())
    ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    doc="irregular GROUPING SETS lattice with grouping() provenance flags",
)
def grouping_sets_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    (l,) = _t(spark, sf_dir, "lineitem")
    view = "lineitem_gsets_v"
    l.createOrReplaceTempView(view)
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) AS INT) AS g_rf,
               CAST(grouping(l_linestatus) AS INT) AS g_ls,
               CAST(CAST(sum(CAST(l_quantity AS DECIMAL(38,10))) AS STRING) AS DOUBLE) AS sum_qty,
               count(*) AS n
        FROM {view}
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), (l_linestatus), ())
        ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
        """
    )


# ---------------------------------------------------------------------------
# UNPIVOT/melt: wide aggregate -> long (metric, value) rows — the
# reshape feeding metric stores and plotting layers. Spark's unpivot
# is a zero-shuffle Expand (rows × metrics map-side); the oracle
# spells the portable UNION ALL form.
# ---------------------------------------------------------------------------
@register(
    "unpivot_metrics",
    f"""
    WITH wide AS (
      SELECT l_returnflag,
             {SUMD('l_quantity')} AS sum_qty,
             {SUMD('l_extendedprice')} AS sum_price,
             {SUMD('l_discount')} AS sum_disc
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, metric, val FROM (
      SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS val FROM wide
      UNION ALL
      SELECT l_returnflag, 'sum_price', sum_price FROM wide
      UNION ALL
      SELECT l_returnflag, 'sum_disc', sum_disc FROM wide
    )
    ORDER BY l_returnflag, metric
    """,
    doc="wide aggregate melted to (metric, value) rows via unpivot (Expand, no shuffle)",
)
def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    (l,) = _t(spark, sf_dir, "lineitem")
    wide = l.groupBy("l_returnflag").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_price"),
        dsum("l_discount").alias("sum_disc"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "sum_disc"],
        variableColumnName="metric",
        valueColumnName="val",
    ).orderBy("l_returnflag", "metric")


# ---------------------------------------------------------------------------
# Null semantics parity: the three-valued-logic corners where engines
# love to disagree — null-safe equality (Spark `<=>` ≡ SQL IS NOT
# DISTINCT FROM), count(*) vs count(col), NULLIF, COALESCE — all over
# a window-generated null (each customer's first lag). Single-row
# output; any divergence in null handling flips a count.
# ---------------------------------------------------------------------------
@register(
    "null_semantics",
    f"""
    WITH t AS (
      SELECT o_orderkey, o_totalprice,
             lag(o_totalprice) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey) AS prev
      FROM orders
    )
    SELECT CAST(count(*) AS BIGINT)   AS n_rows,
           CAST(count(prev) AS BIGINT) AS n_nonnull_prev,
           CAST(sum(CASE WHEN prev IS NOT DISTINCT FROM NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_first_orders,
           CAST(sum(CASE WHEN nullif(o_totalprice, prev) IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_repeat_price,
           {SUMD('coalesce(prev, 0.0)')} AS total_prev
    FROM t
    """,
    doc="3VL parity: null-safe equality, count(col), NULLIF/COALESCE over window nulls",
)
def null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    (o,) = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    t = o.select(
        "o_orderkey", "o_totalprice", F.lag("o_totalprice").over(w).alias("prev")
    )
    return t.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("prev").alias("n_nonnull_prev"),
        F.sum(F.when(F.expr("prev <=> NULL"), 1).otherwise(0)).cast("bigint").alias("n_first_orders"),
        F.sum(F.when(F.nullif(F.col("o_totalprice"), F.col("prev")).isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_repeat_price"),
        dsum(F.coalesce(F.col("prev"), F.lit(0.0))).alias("total_prev"),
    )


# ---------------------------------------------------------------------------
# Equal-width histogram by portable arithmetic (round 4): binning is
# least(n-1, floor(x / width)) — IEEE divide + floor are exactly
# specified, so bin assignment matches any engine bit-for-bit (no
# width_bucket dependency, which DuckDB lacks). One partial-aggregated
# shuffle of |bins| rows; the shape a 100 TB metrics rollup wants.
# ---------------------------------------------------------------------------
HIST_BINS = 12
HIST_WIDTH = 50_000.0  # o_totalprice spans ~[850, 560k] in the fixture


@register(
    "histogram_totalprice",
    f"""
    SELECT CAST(least({HIST_BINS} - 1, CAST(floor(o_totalprice / {HIST_WIDTH}) AS BIGINT)) AS INT) AS bin,
           CAST(count(*) AS BIGINT) AS n_orders,
           min(o_totalprice) AS lo_price,
           max(o_totalprice) AS hi_price,
           {SUMD('o_totalprice')} AS total_price
    FROM orders
    GROUP BY 1
    ORDER BY bin
    """,
    doc=f"equal-width histogram of order totals ({HIST_BINS} bins x {HIST_WIDTH:.0f}), overflow clamped to the top bin",
)
def histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    bin_col = F.least(
        F.lit(HIST_BINS - 1),
        F.floor(F.col("o_totalprice") / HIST_WIDTH).cast("bigint"),
    ).cast("int")
    return (
        o.groupBy(bin_col.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("lo_price"),
            F.max("o_totalprice").alias("hi_price"),
            dsum("o_totalprice").alias("total_price"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Bloom-pruned selective semi join (operators/bloom.py). The urgent-
# orders key set (~20% of orders) is folded into a 16 KiB Bloom bitmap
# that rides to the lineitem scan as a broadcast 1-row map; ~80% of
# lineitem rows fail the bit tests INSIDE the scan stage and never
# reach the join exchange — at 100 TB that is the difference between
# shuffling the whole fact table and shuffling a fifth of it. False
# positives are removed by the exact semi join that follows, so the
# result is exactly the plain semi join the oracle states (the bloom
# never appears in the oracle — it is a pure bandwidth optimization).
# Plan-guarded in tests/test_plans.py: the bit-test Filter sits below
# the semi-join exchange.
# ---------------------------------------------------------------------------
@register(
    "bloom_semi_join_revenue",
    """
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10)))
                     AS VARCHAR) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                         WHERE o_orderpriority = '1-URGENT')
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="bloom-filter pre-pruned semi join: urgent-order revenue by returnflag",
    executes_on_construct=True,
)
def bloom_semi_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sf_etl_spark.operators.bloom import bloom_build, bloom_prune_literal

    l, o = _t(spark, sf_dir, "lineitem", "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    bloom = bloom_build(urgent, "o_orderkey")
    # literal variant: the lazy crossJoin form gets re-ordered ABOVE
    # the semi join by PushLeftSemiLeftAntiThroughJoin — see
    # operators/bloom.py:bloom_prune_literal for the adjudication
    pruned = bloom_prune_literal(l, "l_orderkey", bloom)
    return (
        pruned.join(urgent, pruned["l_orderkey"] == urgent["o_orderkey"], "left_semi")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(
                (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
                    "decimal(38,10)"
                )
            )
            .cast("string")
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Market-basket affinity — pairwise association mining over order
# baskets: support (co-occurrence count) and LIFT (observed co-rate /
# rate expected under independence) for part pairs bought together.
# The classic retail/recommendation primitive (the "frequent itemsets
# at k=2" core of Apriori/FP-Growth, which at web scale is exactly a
# pair-count + two broadcast joins away).
#
# Scale: basket fan-out is bounded by items-per-order (≤7 here —
# pairs are C(n,2) WITHIN an order, never across); pair counts and
# item counts both partial-aggregate before their shuffles; the item
# counts re-enter via broadcast (|parts| ≪ |pairs|; at true scale
# this join becomes a shuffle equi-join with no plan change). Lift is
# IEEE multiply/divide of exact counts — bit-equal. min-support cuts
# the tail BEFORE the join; top-20 is TakeOrdered.
# ---------------------------------------------------------------------------
@register(
    "market_basket_lift",
    """
    WITH baskets AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM baskets),
    item AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_item FROM baskets GROUP BY l_partkey),
    pair AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(count(*) AS BIGINT) AS support
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING count(*) >= 3
    )
    SELECT part_a, part_b, support,
           CAST(support AS DOUBLE) * (SELECT n_orders FROM n)
             / (ia.n_item * ib.n_item) AS lift
    FROM pair
    JOIN item ia ON ia.l_partkey = part_a
    JOIN item ib ON ib.l_partkey = part_b
    ORDER BY lift DESC, part_a, part_b
    LIMIT 20
    """,
    doc="pairwise market-basket mining: support >= 3 part pairs ranked by lift, top 20",
)
def market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.distinct()
    n = baskets.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    item = baskets.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_item"))
    a, b = baskets.alias("a"), baskets.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 3)
    )
    ia = item.select(F.col("l_partkey").alias("part_a"), F.col("n_item").alias("na"))
    ib = item.select(F.col("l_partkey").alias("part_b"), F.col("n_item").alias("nb"))
    # item is a PER-ITEM aggregate over the whole catalog — unbounded
    # (r7 quarantine guard class) — so the frequency joins carry no
    # broadcast hint; only the 1-row basket total stays hinted.
    return (
        pair.join(ia, "part_a")
        .join(ib, "part_b")
        .join(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "support",
            (
                F.col("support").cast("double")
                * F.col("n_orders")
                / (F.col("na") * F.col("nb"))
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "part_a", "part_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Event transition matrix — first-order Markov behavior model over
# each user's event sequence: counts and probabilities of event_type →
# next event_type transitions. The product-analytics primitive behind
# "what do users do after X" and the base for sequence anomaly
# scoring.
#
# Scale: lag over (user_id ORDER BY ts, event_id) is one user shuffle;
# the transition agg partial-aggregates to |types|² rows; row
# probabilities divide by a broadcast per-source total. Deterministic:
# ties in ts break on event_id, so every sequence — and therefore
# every transition pair — is identical across engines.
# ---------------------------------------------------------------------------
@register(
    "event_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    trans AS (
      SELECT event_type AS from_type, next_type AS to_type,
             CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type
    ),
    totals AS (
      SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from FROM trans GROUP BY from_type
    )
    SELECT t.from_type, t.to_type, t.n,
           CAST(t.n AS DOUBLE) / f.n_from AS p
    FROM trans t JOIN totals f USING (from_type)
    ORDER BY from_type, to_type
    """,
    doc="first-order Markov transition matrix (counts + row probabilities) over user event sequences",
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    trans = seq.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    totals = trans.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    return (
        trans.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            (F.col("n").cast("double") / F.col("n_from")).alias("p"),
        )
        .orderBy("from_type", "to_type")
    )


# ---------------------------------------------------------------------------
# Raw SQL front door — the engine's other user-facing query surface:
# register the tables as temp views and run plain ANSI SQL through
# spark.sql(). Every other lane exercises the DataFrame API; a
# reference user migrating SQL workloads types SQL, and this lane
# proves the full text path (parser -> Catalyst -> same physical
# plans) against the oracle running the IDENTICAL statement — the
# strongest possible parity claim: one query string, two engines,
# equal hashes.
#
# Scale: textual SQL compiles to exactly the plans the DataFrame
# lanes are plan-guarded on (pushdown/broadcast/partial agg apply
# unchanged); the view registration is metadata-only.
# ---------------------------------------------------------------------------
_SQL_FRONT = """
    SELECT n.n_name,
           CAST(count(DISTINCT c.c_custkey) AS BIGINT) AS n_customers,
           CAST(count(*) AS BIGINT) AS n_orders,
           max(o.o_totalprice) AS max_price
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
    GROUP BY n.n_name
    HAVING count(*) > 100
    ORDER BY n_orders DESC, n.n_name
"""


@register(
    "spark_sql_front",
    _SQL_FRONT,
    doc="raw ANSI SQL via spark.sql over temp views — one statement, two engines",
)
def spark_sql_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("orders", "customer", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_SQL_FRONT)


# ---------------------------------------------------------------------------
# Timezone conversion — a global event stream stores UTC; every
# regional report needs wall-clock local time, DST included. Both
# engines resolve zone rules from the IANA tzdb (Spark via the JVM,
# DuckDB via ICU), so instant->local conversion is engine-portable;
# the lane buckets events by New York local hour across a DST-stable
# range, proving the conversion (not just formatting) matches.
#
# Scale: convert_timezone is a codegen'd per-row map; one
# partial-agged shuffle of 24 rows.
# ---------------------------------------------------------------------------
@register(
    "timezone_local_hours",
    """
    SELECT CAST(hour(timezone('America/New_York', ts::TIMESTAMPTZ)) AS INT)
             AS local_hour,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY local_hour
    ORDER BY local_hour
    """,
    doc="UTC -> America/New_York local-hour histogram (IANA tz conversion parity)",
)
def timezone_local_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.select(
            F.hour(
                F.convert_timezone(
                    F.lit("UTC"), F.lit("America/New_York"), F.col("ts")
                )
            )
            .cast("int")
            .alias("local_hour")
        )
        .groupBy("local_hour")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("local_hour")
    )


# ---------------------------------------------------------------------------
# NULL-skew outer join — the skew variant salting does not fix:
# every NULL foreign key hashes to ONE shuffle partition, so a
# nullable FK with a meaningful null rate melts a single task at
# scale. NULL never matches in a left join, so the null branch can
# bypass the join entirely (operators/skew.py:null_skew_left_join);
# results are row-identical to the plain left join the oracle runs.
# The fixture FK is non-null, so the lane nulls every 10th key
# deterministically to create the hazard it mitigates.
# ---------------------------------------------------------------------------
@register(
    "null_skew_outer_join",
    """
    WITH f AS (
      SELECT o_orderkey, o_totalprice,
             CASE WHEN o_orderkey % 10 = 0 THEN NULL ELSE o_custkey END AS fk
      FROM orders
    )
    SELECT CASE WHEN f.fk IS NULL THEN 'unattributed'
                ELSE c.c_mktsegment END AS segment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN c.c_custkey IS NULL AND f.fk IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
    FROM f LEFT JOIN customer c ON f.fk = c.c_custkey
    GROUP BY segment
    ORDER BY segment
    """,
    doc="left join with NULL-key bypass: null FKs route around the join, no skewed partition",
)
def null_skew_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sf_etl_spark.operators.skew import null_skew_left_join

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.when(F.col("o_orderkey") % 10 == 0, F.lit(None))
        .otherwise(F.col("o_custkey"))
        .alias("fk"),
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_custkey").alias("c_custkey_out"), "c_mktsegment"
    ).select("c_custkey", "c_custkey_out", "c_mktsegment")
    joined = null_skew_left_join(o, c, "fk", "c_custkey")
    return (
        joined.groupBy(
            F.when(F.col("fk").isNull(), F.lit("unattributed"))
            .otherwise(F.col("c_mktsegment"))
            .alias("segment")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.when(
                    F.col("c_custkey_out").isNull() & F.col("fk").isNotNull(), 1
                ).otherwise(0)
            ).alias("n_orphans"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# Sorted-neighborhood fuzzy matching — the record-linkage primitive:
# candidate pairs from a cheap blocking key (first name token)
# REFINED by the sorted-neighborhood window (Hernández & Stolfo,
# SIGMOD 1995), verified with edit distance. Plain within-block
# all-pairs blocking is O(n²/B) with B fixed by the token vocabulary
# (the r5-flagged scale caveat); the window bounds candidates to
# n·W — linear in n — while edit-distance-close names still land in
# the same neighborhood because they sort adjacently. Levenshtein
# with unit costs is exactly specified and row_number over a total
# order is deterministic, so the candidate set (and everything
# derived) hash-matches across engines. Output is the per-block match
# profile; at production scale the pair stream itself would feed a
# clerical-review or merge queue.
# Scale: one window shuffle on blk + one hash equi-join on
# (blk, rank) — no range residual, no per-block nested loop; see
# operators/linkage.py. Candidate growth is measured linear in
# tests/test_properties.py (10× rows → ~10× pairs, not 100×).
# ---------------------------------------------------------------------------
_FUZZY_WINDOW = 8


@register(
    "fuzzy_name_match",
    f"""
    WITH p AS (
      SELECT p_partkey, p_name, string_split(p_name, ' ')[1] AS blk
      FROM part
    ),
    r AS (
      SELECT blk, p_name,
             row_number() OVER (PARTITION BY blk ORDER BY p_name, p_partkey)
               AS rn
      FROM p
    ),
    pairs AS (
      SELECT a.blk, levenshtein(a.p_name, b.p_name) AS d
      FROM r a JOIN r b
        ON a.blk = b.blk AND b.rn BETWEEN a.rn + 1 AND a.rn + {_FUZZY_WINDOW}
    )
    SELECT blk,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN d = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
           CAST(sum(CASE WHEN d > 0 AND d <= 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_close
    FROM pairs
    GROUP BY blk
    ORDER BY blk
    """,
    doc="record linkage: sorted-neighborhood candidates scored by Levenshtein, per-block profile",
)
def fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sf_etl_spark.operators.linkage import sorted_neighborhood_pairs

    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        F.split(F.col("p_name"), " ").getItem(0).alias("blk"),
    )
    pairs = sorted_neighborhood_pairs(
        p,
        "blk",
        order_cols=["p_name", "p_partkey"],
        window=_FUZZY_WINDOW,
        payload_cols=["p_name"],
    ).select(
        "blk",
        F.levenshtein(F.col("a_p_name"), F.col("b_p_name")).alias("d"),
    )
    return (
        pairs.groupBy("blk")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.when(F.col("d") == 0, 1).otherwise(0)).alias("n_exact"),
            F.sum(
                F.when((F.col("d") > 0) & (F.col("d") <= 3), 1).otherwise(0)
            ).alias("n_close"),
        )
        .orderBy("blk")
    )


# ---------------------------------------------------------------------------
# Pareto frontier (skyline) — the parts no other part beats on BOTH
# price (lower is better) and size (higher is better). The classic
# skyline operator (Börzsönyi et al., ICDE 2001) relational engines
# lack as a primitive; here it is two window passes, no self-join.
#
# Scale shape — frontier-of-frontiers: skyline(S) =
# skyline(∪_i skyline(S_i)) for any partition of S, so pass 1 prunes
# LOCALLY inside 32 hash buckets (window over (salt | price-cents)),
# and only local survivors — bounded by the # of distinct sizes per
# bucket, NOT by |S| — reach the global pass. The global window is
# single-partition but its input is ≤ buckets × |size domain| rows
# (~1.6k), constant in data size; the naive alternative (one global
# window, or the oracle's NOT-EXISTS self-join) degrades with n.
# Dominance test per pass: a row survives iff no strictly-cheaper row
# has size ≥ its own (running max over RANGE … 1 PRECEDING on exact
# integer cents) AND it has the max size within its exact price tie
# group — both windows share one sort.
# ---------------------------------------------------------------------------
@register(
    "pareto_frontier_parts",
    """
    WITH p AS (
      SELECT p_partkey, p_name, p_retailprice, p_size,
             CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents
      FROM part
    )
    SELECT a.p_partkey, a.p_name, a.p_retailprice, a.p_size
    FROM p a
    WHERE NOT EXISTS (
      SELECT 1 FROM p b
      WHERE b.cents <= a.cents AND b.p_size >= a.p_size
        AND (b.cents < a.cents OR b.p_size > a.p_size)
    )
    ORDER BY a.p_retailprice, a.p_partkey
    """,
    doc="2-D skyline of part (min price, max size) via salted frontier-of-frontiers",
)
def pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        "p_retailprice",
        "p_size",
        F.floor(F.col("p_retailprice") * 100 + 0.5).cast("bigint").alias("cents"),
    )

    def frontier(df: DataFrame, *salt: str) -> DataFrame:
        lt = (
            Window.partitionBy(*salt)
            .orderBy("cents")
            .rangeBetween(Window.unboundedPreceding, -1)
        )
        tie = Window.partitionBy(*salt, "cents")
        best_cheaper = F.max("p_size").over(lt)
        best_tie = F.max("p_size").over(tie)
        return (
            df.withColumn("_bc", best_cheaper)
            .withColumn("_bt", best_tie)
            .filter(
                (F.col("_bc").isNull() | (F.col("p_size") > F.col("_bc")))
                & (F.col("p_size") == F.col("_bt"))
            )
            .drop("_bc", "_bt")
        )

    local = frontier(part.withColumn("_salt", F.pmod(F.hash("p_partkey"), F.lit(32))), "_salt")
    return (
        frontier(local.drop("_salt"))
        .select("p_partkey", "p_name", "p_retailprice", "p_size")
        .orderBy("p_retailprice", "p_partkey")
    )


# ---------------------------------------------------------------------------
# Record-linkage survivorship — the third stage of the linkage
# pipeline `fuzzy_name_match` starts: candidate pairs (sorted-
# neighborhood blocking) → match decision (Levenshtein ≤ 3) →
# CLUSTER (connected components over the match graph) → survivorship
# (one canonical record per cluster with deterministic field rules:
# longest name wins, lexicographic + key tie-breaks; totals fold the
# whole cluster). This is the master-data-management merge step —
# what a downstream system actually consumes from entity resolution.
#
# The oracle replays clustering as a recursive-CTE transitive closure
# (bounded: match clusters are neighborhood-sized by construction) —
# so the engine's iterative min-label components must agree with the
# declarative fixpoint on REAL match edges, not just synthetic test
# graphs. Scale: pairs are n·W (linkage.py bound), the components
# operator is the measured O(log n) machinery from dedup, and the
# survivorship picks are one window + one agg on cluster-sized
# groups.
# ---------------------------------------------------------------------------
@register(
    "linkage_survivorship",
    f"""
    WITH RECURSIVE p AS (
      SELECT p_partkey, p_name, string_split(p_name, ' ')[1] AS blk,
             CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents
      FROM part
    ), r AS (
      SELECT blk, p_name, p_partkey,
             row_number() OVER (PARTITION BY blk ORDER BY p_name, p_partkey) AS rn
      FROM p
    ), mpairs AS (
      SELECT a.p_partkey AS u, b.p_partkey AS v
      FROM r a JOIN r b
        ON a.blk = b.blk AND b.rn BETWEEN a.rn + 1 AND a.rn + 8
      WHERE levenshtein(a.p_name, b.p_name) <= 3
    ), edges AS (
      SELECT u, v FROM mpairs UNION SELECT v, u FROM mpairs
    ), reach(a, b) AS (
      SELECT u, v FROM edges
      UNION
      SELECT rr.a, e.v FROM reach rr JOIN edges e ON rr.b = e.u
      WHERE e.v <> rr.a
    ), members AS (
      SELECT a AS p_partkey, least(a, min(b)) AS cluster
      FROM reach GROUP BY a
    ), attrs AS (
      SELECT m.cluster, p.p_partkey, p.p_name, p.cents
      FROM members m JOIN p ON p.p_partkey = m.p_partkey
    ), ranked AS (
      SELECT cluster, p_name,
             row_number() OVER (PARTITION BY cluster
                                ORDER BY len(p_name) DESC, p_name, p_partkey)
               AS pick
      FROM attrs
    )
    SELECT CAST(g.cluster AS BIGINT) AS cluster,
           g.n_members, s.survivor_name, g.total_cents
    FROM (SELECT cluster,
                 CAST(count(*) AS BIGINT) AS n_members,
                 CAST(sum(cents) AS BIGINT) AS total_cents
          FROM attrs GROUP BY cluster HAVING count(*) >= 2) g
    JOIN (SELECT cluster, p_name AS survivor_name
          FROM ranked WHERE pick = 1) s USING (cluster)
    ORDER BY cluster
    """,
    doc="linkage survivorship: match pairs → components → canonical record per cluster",
    executes_on_construct=True,
)
def linkage_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sf_etl_spark.operators.graph import star_components
    from sf_etl_spark.operators.linkage import sorted_neighborhood_pairs

    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        F.split(F.col("p_name"), " ").getItem(0).alias("blk"),
        F.floor(F.col("p_retailprice") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    mpairs = (
        sorted_neighborhood_pairs(
            p,
            "blk",
            order_cols=["p_name", "p_partkey"],
            window=8,
            payload_cols=["p_name", "p_partkey"],
        )
        .filter(F.levenshtein(F.col("a_p_name"), F.col("b_p_name")) <= 3)
        .select(F.col("a_p_partkey").alias("src"), F.col("b_p_partkey").alias("dst"))
    )
    # Star contraction FIRST-CLASS (r6 verdict task 6): sorted-
    # neighborhood match graphs are name-sorted CHAINS (high diameter
    # — measured 56 components over 20k verts at sf0.1), so min-label
    # propagation can NEVER converge within a small round budget here
    # and the r6 shape (two label-propagation rounds, then the fallback) burned two
    # full propagation rounds before every run restarted on the
    # O(log n) large-star/small-star machinery. Calling it directly
    # removes those dead rounds; labels are identical (component min
    # is method-independent — the oracle hash is unchanged).
    # vertices=None (r16): the vertex universe here IS the mpairs
    # endpoint set, and deriving it operator-side from the
    # materialized canonical edges stops the final read-off job from
    # replaying the whole window+explode-join+levenshtein subtree a
    # second (and third) time — interleaved A/B 26.8 -> 21.4 s at the
    # sf1 probe, 8.8 -> 8.4 s at sf0.1 (match pairs never self-loop,
    # so no endpoint is lost to canonicalization).
    comp = star_components(None, mpairs)
    attrs = comp.join(p, comp["vertex"] == p["p_partkey"]).select(
        F.col("component").alias("cluster"), "p_partkey", "p_name", "cents"
    )
    pick = Window.partitionBy("cluster").orderBy(
        F.length("p_name").desc(), "p_name", "p_partkey"
    )
    survivors = (
        attrs.withColumn("pick", F.row_number().over(pick))
        .filter(F.col("pick") == 1)
        .select("cluster", F.col("p_name").alias("survivor_name"))
    )
    stats = (
        attrs.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("cents").alias("total_cents"),
        )
        .filter(F.col("n_members") >= 2)
    )
    return (
        stats.join(survivors, "cluster")
        .select(
            F.col("cluster").cast("bigint").alias("cluster"),
            "n_members",
            "survivor_name",
            "total_cents",
        )
        .orderBy("cluster")
    )


# ---------------------------------------------------------------------------
# Hierarchical ratio-to-parent (the RATIO_TO_REPORT verb): each
# nation's revenue as a share of its REGION and of the TOTAL, from
# one aggregation plus two window sums over the 25-row nation frame.
# Revenue stays exact-decimal through both windows (the window
# denominators are sums of sums — re-casting a computed double would
# hit the HALF_UP/binary split; see decile_lift_table), converting
# via the varchar route only at the output boundary, so the two
# share divisions run on bit-identical doubles in both engines.
# Scale: the fact aggregates once on custkey→nation (partial-agged),
# dims broadcast; the windows run over a |nations|-row frame.
# ---------------------------------------------------------------------------
@register(
    "ratio_to_parent_share",
    f"""
    WITH rev AS (
      SELECT n.n_name, r.r_name,
             sum(CAST(o.o_totalprice AS DECIMAL(38,10))) AS rev
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY n.n_name, r.r_name
    ), w AS (
      SELECT r_name, n_name, rev,
             sum(rev) OVER (PARTITION BY r_name) AS region_rev,
             sum(rev) OVER () AS total_rev
      FROM rev
    )
    SELECT r_name, n_name,
           {DEC2DBL('rev')} AS revenue,
           {DEC2DBL('rev')} / {DEC2DBL('region_rev')} AS share_of_region,
           {DEC2DBL('rev')} / {DEC2DBL('total_rev')} AS share_of_total
    FROM w
    ORDER BY r_name, n_name
    """,
    doc="RATIO_TO_REPORT: nation revenue share of region and of total, decimal windows",
)
def ratio_to_parent_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name", "r_name")
        .agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("rev"))
    )
    w = rev.select(
        "r_name",
        "n_name",
        "rev",
        F.sum("rev").over(Window.partitionBy("r_name")).alias("region_rev"),
        F.sum("rev").over(Window.partitionBy()).alias("total_rev"),
    )
    return w.select(
        "r_name",
        "n_name",
        dec2dbl("rev").alias("revenue"),
        (dec2dbl("rev") / dec2dbl("region_rev")).alias("share_of_region"),
        (dec2dbl("rev") / dec2dbl("total_rev")).alias("share_of_total"),
    ).orderBy("r_name", "n_name")
