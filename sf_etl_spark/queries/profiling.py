"""Table profiling — the ANALYZE-style statistics collection every
warehouse runs before a cost-based optimizer (or a data-quality
dashboard) can do its job.

The reference generates DDL but never inspects data (SURVEY.md §2);
this lane adds the one-pass per-column profile: row count, non-null
count, exact NDV, and numeric min/max for every column of a table,
emitted long-form as one row per column.

Scale: the profile is ONE scan. Spark plans the six simultaneous
``count(DISTINCT col)`` aggregates with a single Expand (×7 row
multiplication) followed by two-phase partial aggregation — the
map-side partials collapse each expand-replica to its distinct keys
before the one shuffle, so the exchange carries per-column key sets,
not the multiplied rows. That is the classic exact-NDV cost at scale;
when even that is too hot, the HLL sketch rollup
(`queries/sketches.py:hll_rollup_merge`) is the sub-linear
alternative — the two lanes are deliberate companions.

Output-parity notes: min/max are emitted for NUMERIC columns only and
cast to double (string/timestamp extremes render differently across
engines — trailing-zero and fractional-second formatting — so they
stay out of the hashed surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sf_etl_spark.queries import register
from sf_etl_spark.sources import load_table


def _cents_bounds(sf_dir: str) -> tuple[int, int] | None:
    """Covering bounds of the cents image of ``o_totalprice`` from the
    parquet footer statistics (a driver metadata read, no Spark job):
    round() of the monotone cents map of the column's true min/max
    covers every row's image. None when stats are absent, and the
    order-statistics operator then scans for its bounds."""
    from sf_etl_spark.operators.layout import footer_column_bounds

    fb = footer_column_bounds(f"{sf_dir}/orders.parquet", "o_totalprice")
    return (round(fb[0] * 100), round(fb[1] * 100)) if fb else None


# (column, numeric?) — orders' full schema, the profile target.
_COLS: list[tuple[str, bool]] = [
    ("o_orderkey", True),
    ("o_custkey", True),
    ("o_orderstatus", False),
    ("o_totalprice", True),
    ("o_orderdate", False),
    ("o_orderpriority", False),
]


def _oracle() -> str:
    parts = []
    for col, numeric in _COLS:
        mn = f"CAST(min({col}) AS DOUBLE)" if numeric else "CAST(NULL AS DOUBLE)"
        mx = f"CAST(max({col}) AS DOUBLE)" if numeric else "CAST(NULL AS DOUBLE)"
        parts.append(
            f"""SELECT '{col}' AS column_name,
                   (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_rows,
                   CAST(count({col}) AS BIGINT) AS n_nonnull,
                   CAST(count(DISTINCT {col}) AS BIGINT) AS ndv,
                   {mn} AS min_num,
                   {mx} AS max_num
            FROM orders"""
        )
    return " UNION ALL ".join(parts) + " ORDER BY column_name"


@register(
    "column_profile",
    _oracle(),
    doc="one-pass ANALYZE-style profile of orders: nulls/NDV/min/max per column",
)
def column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for col, numeric in _COLS:
        aggs.append(F.count(col).alias(f"nn_{col}"))
        aggs.append(F.countDistinct(col).alias(f"ndv_{col}"))
        if numeric:
            aggs.append(F.min(col).cast("double").alias(f"min_{col}"))
            aggs.append(F.max(col).cast("double").alias(f"max_{col}"))
    prof = o.agg(*aggs)

    # Long-form pivot of the single stats row: stack is a zero-shuffle
    # Expand over ONE row — the wide->long reshape costs nothing.
    stack_args: list[str] = []
    for col, numeric in _COLS:
        mn = f"min_{col}" if numeric else "CAST(NULL AS DOUBLE)"
        mx = f"max_{col}" if numeric else "CAST(NULL AS DOUBLE)"
        stack_args.append(f"'{col}', nn_{col}, ndv_{col}, {mn}, {mx}")
    stacked = prof.selectExpr(
        "n_rows",
        f"stack({len(_COLS)}, {', '.join(stack_args)}) "
        "AS (column_name, n_nonnull, ndv, min_num, max_num)",
    )
    return stacked.select(
        "column_name", "n_rows", "n_nonnull", "ndv", "min_num", "max_num"
    ).orderBy("column_name")


# ---------------------------------------------------------------------------
# Equi-DEPTH histogram per group — the CBO histogram type (equal row
# counts per bucket, data-driven boundaries), complementing the
# equal-WIDTH `histogram_totalprice` lane. Bucket assignment is exact
# ntile semantics over the total order (value, key), computed WITHOUT
# ranking whole groups: grouped_exact_rank (operators/orderstats.py)
# derives every row's exact in-group rank as (per-bucket offset from
# the lazy count frame) + (row_number within its (group, bucket) slice
# of ~n/1024 rows), and ntile_from_rank turns rank + group size into
# the tile by pure integer arithmetic. The histogram's covering bounds
# come from the parquet FOOTER statistics (zone-map metadata read, no
# Spark job; falls back to a bounds scan when stats are absent), so
# the lane builds without a job and runs as one count pass + ONE
# assignment pass. Bucket min/max are observed values (no arithmetic),
# so lo/hi hash bit-equal with no float tolerance; the oracle keeps
# the plain ntile window, certifying the prefix-rank plan ≡ ntile.
# ---------------------------------------------------------------------------
@register(
    "equidepth_histogram",
    """
    WITH ranked AS (
      SELECT o_orderpriority,
             o_totalprice,
             ntile(4) OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice, o_orderkey) AS bucket
      FROM orders
    )
    SELECT o_orderpriority,
           CAST(bucket AS INT)      AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(o_totalprice)        AS lo,
           max(o_totalprice)        AS hi
    FROM ranked
    GROUP BY o_orderpriority, bucket
    ORDER BY o_orderpriority, bucket
    """,
    doc="per-group equi-depth (quartile) histogram of order totals, prefix-rank ntile",
)
def equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sf_etl_spark.operators.orderstats import (
        grouped_exact_rank,
        ntile_from_rank,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_totalprice",
        "o_orderkey",
        # exact cents image of the 2-decimal double (order-isomorphic)
        F.round(F.col("o_totalprice") * 100).cast("long").alias("_img"),
    )
    ranked = grouped_exact_rank(
        o, "o_orderpriority", "_img", "o_orderkey", bounds=_cents_bounds(sf_dir)
    )
    assigned = ranked.select(
        "o_orderpriority",
        "o_totalprice",
        ntile_from_rank("_rank", "_gn", 4).cast("int").alias("bucket"),
    )
    return (
        assigned.groupBy("o_orderpriority", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
        .orderBy("o_orderpriority", "bucket")
    )


# ---------------------------------------------------------------------------
# Order-independent table checksum — the replication/migration
# verification primitive: two copies of a table are byte-equal iff
# their checksums match, computable on each side WITHOUT moving rows
# or agreeing on an ordering. Row → canonical string → md5 → top 15
# hex digits as an integer → exact decimal SUM (a commutative,
# order-independent reduction). Engine-portable because every piece
# is: md5 is bit-specified, the canonical string uses only
# formatting-stable casts (ints, scale-2 decimals, epoch micros),
# and the decimal sum is exact.
#
# Scale: a narrow codegen'd map + one partial-aggregated shuffle of
# |groups| rows; at 100 TB each replica computes its side locally
# and ships 5 rows. (An xxhash64-XOR variant would be cheaper per
# row but xxhash is not cross-engine; md5 is.)
# ---------------------------------------------------------------------------
@register(
    "table_checksum",
    """
    WITH rows_ AS (
      SELECT o_orderstatus,
             concat_ws('|',
                       CAST(o_orderkey AS VARCHAR),
                       CAST(o_custkey AS VARCHAR),
                       o_orderstatus,
                       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
                       CAST(epoch_us(o_orderdate) AS VARCHAR),
                       o_orderpriority) AS row_str
      FROM orders
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(concat('0x', substring(md5(row_str), 1, 15)) AS BIGINT))
                AS VARCHAR) AS checksum
    FROM rows_
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    doc="order-independent md5-sum table checksum per status (replication verification)",
)
def table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    row_str = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).cast("string"),
        F.col("o_orderpriority"),
    )
    return (
        o.select("o_orderstatus", row_str.alias("row_str"))
        .select(
            "o_orderstatus",
            F.conv(F.substring(F.md5("row_str"), 1, 15), 16, 10)
            .cast("decimal(38,0)")
            .alias("h"),
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("h").cast("string").alias("checksum"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Distribution drift — data-quality monitoring's core primitive:
# compare each segment's categorical distribution (event types per
# weekday here) against the overall corpus distribution and rank
# segments by drift. The production use is detecting ingestion skew /
# upstream behavior changes per day/source/shard before they poison
# training data.
#
# Metric: symmetric chi-square distance sum((p-q)^2/(p+q)) — chosen
# over KL/JS divergence deliberately: it needs NO logarithm, and ln is
# libm-dependent across engines (the tfidf_top_terms parity wall).
# Determinism: the per-category terms are summed in a FIXED order (one
# pivoted expression per category, not a float aggregation), so every
# arithmetic step is order-stable IEEE; p and q are single divides of
# exact counts.
#
# Scale: two partial-aggregated count shuffles (segment x category,
# category); the overall distribution re-enters via broadcast; the
# drift expression is a codegen'd narrow map over |segments| rows.
# ---------------------------------------------------------------------------
_DRIFT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _drift_oracle() -> str:
    terms = " + ".join(
        f"""(p_{t} - q_{t}) * (p_{t} - q_{t}) / (p_{t} + q_{t})"""
        for t in _DRIFT_TYPES
    )
    pcols = ", ".join(
        f"""CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS DOUBLE)
            / count(*) AS p_{t}"""
        for t in _DRIFT_TYPES
    )
    qcols = ", ".join(
        f"""CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS DOUBLE)
            / count(*) AS q_{t}"""
        for t in _DRIFT_TYPES
    )
    return f"""
    WITH seg AS (
      -- Monday=0 on both engines: DuckDB isodow is 1..7 Mon-first,
      -- Spark weekday() is 0..6 Mon-first
      SELECT CAST(isodow(ts) AS INT) - 1 AS weekday,
             CAST(count(*) AS BIGINT) AS n_events, {pcols}
      FROM events GROUP BY isodow(ts)
    ),
    overall AS (SELECT {qcols} FROM events)
    SELECT weekday, n_events, {terms} AS chi2_drift
    FROM seg CROSS JOIN overall
    ORDER BY weekday
    """


@register(
    "distribution_drift",
    _drift_oracle(),
    doc="per-weekday event-type distribution drift vs corpus (log-free chi-square)",
)
def distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sf_etl_spark.sources import load_table as _lt

    e = _lt(spark, sf_dir, "events")

    def _dist(df: DataFrame, keys: list[str], prefix: str) -> DataFrame:
        aggs = [F.count(F.lit(1)).alias(f"_n_{prefix}")]
        for t in _DRIFT_TYPES:
            aggs.append(
                (
                    F.sum(
                        F.when(F.col("event_type") == t, 1).otherwise(0)
                    ).cast("double")
                    / F.count(F.lit(1))
                ).alias(f"{prefix}_{t}")
            )
        return df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)

    seg = _dist(
        e.withColumn("weekday", F.weekday("ts").cast("int")), ["weekday"], "p"
    )
    overall = _dist(e, [], "q")
    # fixed-order sum of the per-category terms: one expression, not a
    # float aggregation — order-stable on both engines
    drift = None
    for t in _DRIFT_TYPES:
        p, q = F.col(f"p_{t}"), F.col(f"q_{t}")
        term = (p - q) * (p - q) / (p + q)
        drift = term if drift is None else drift + term
    return (
        seg.crossJoin(F.broadcast(overall))
        .select(
            "weekday",
            F.col("_n_p").alias("n_events"),
            drift.alias("chi2_drift"),
        )
        .orderBy("weekday")
    )


# ---------------------------------------------------------------------------
# Exact median without a global sort — the distributed-selection
# operator (operators/orderstats.py) driven end-to-end on one literal
# group: the lazy count frame locates the bucket(s) holding the middle
# rank(s) of the order-price distribution, and only those buckets are
# ranked. Covering bounds come from the parquet footer, so the lane
# builds without a Spark job and runs as one count pass + one pick
# pass. The third point of the quantile triangle the registry covers:
# `percentiles_by_flag` (per-group exact, two-phase),
# `kll_quantile_merge` (mergeable approx), and this (global EXACT at
# scale — where a sort-based OFFSET k dies and a sketch only bounds
# the error). An empty input yields one row (n_orders 0, NULL values),
# as the global aggregate does.
#
# The oracle IS the global sort (row_number over ORDER BY cents) —
# the pick must agree with it to the cent, for both middle ranks
# and the even-n midpoint.
# ---------------------------------------------------------------------------
@register(
    "exact_median_histogram",
    """
    WITH c AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders WHERE o_totalprice IS NOT NULL
    ), nn AS (
      SELECT CAST(count(*) AS BIGINT) AS n_orders FROM c
    ), r AS (
      SELECT cents, row_number() OVER (ORDER BY cents) AS rn FROM c
    ), ks AS (
      SELECT n_orders,
             CASE WHEN n_orders % 2 = 1 THEN (n_orders + 1) // 2 ELSE n_orders // 2 END AS k1,
             CASE WHEN n_orders % 2 = 1 THEN (n_orders + 1) // 2 ELSE n_orders // 2 + 1 END AS k2
      FROM nn
    )
    SELECT ks.n_orders,
           (SELECT cents FROM r WHERE rn = ks.k1) AS v1_cents,
           (SELECT cents FROM r WHERE rn = ks.k2) AS v2_cents,
           ((SELECT CAST(cents AS DOUBLE) FROM r WHERE rn = ks.k1)
            + (SELECT CAST(cents AS DOUBLE) FROM r WHERE rn = ks.k2)) / 2.0 / 100.0
             AS median_price
    FROM ks
    """,
    doc="exact global median via the two-phase bucket pick (no global sort)",
)
def exact_median_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sf_etl_spark.operators.orderstats import grouped_median_twophase

    cents = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice").isNotNull())
        .select(
            F.lit(0).alias("_g"),
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
        )
    )
    med = grouped_median_twophase(cents, "_g", "cents", bounds=_cents_bounds(sf_dir))
    # the one group's row, or the empty input's NULLs, as one row
    return med.agg(
        F.coalesce(F.max("n"), F.lit(0)).cast("bigint").alias("n_orders"),
        F.max("v_lo").alias("v1_cents"),
        F.max("v_hi").alias("v2_cents"),
        (F.max("median") / F.lit(100.0)).alias("median_price"),
    )


# ---------------------------------------------------------------------------
# Seasonal-baseline anomaly detection — hour-of-week profiling: each
# (event_type, weekday, hour) slot has a seasonal baseline (its mean
# occupancy across all weeks), and a concrete (day, hour) occurrence
# is anomalous when it exceeds 2× its slot baseline. The ops-
# monitoring staple (traffic spikes judged against "Tuesday 3 pm
# normal", not a global mean) — complements `cusum_drift_detection`
# (sustained level shifts) with point-in-season outliers.
#
# All-integer: the flag test  n_slot · n_occurrences > 2 · slot_total
# clears denominators, so no float ever appears and both engines
# agree bit-for-bit. ISO weekday (Mon=1) on both sides.
# Scale: one partial-agged groupBy to (type, day, hour) occupancy —
# the only n-sized stage — then a window over the 168·|types| slot
# partitioning; flagged rows only are emitted.
# ---------------------------------------------------------------------------
@register(
    "seasonal_anomaly_slots",
    """
    WITH occ AS (
      SELECT event_type,
             CAST(ts AS DATE) AS day,
             isodow(ts) AS dow,
             hour(ts) AS hod,
             CAST(count(*) AS BIGINT) AS n
      FROM events
      GROUP BY event_type, CAST(ts AS DATE), isodow(ts), hour(ts)
    ), base AS (
      SELECT event_type, day, dow, hod, n,
             CAST(sum(n) OVER w AS BIGINT) AS slot_total,
             CAST(count(*) OVER w AS BIGINT) AS n_occ
      FROM occ
      WINDOW w AS (PARTITION BY event_type, dow, hod)
    )
    SELECT event_type, day, CAST(hod AS INT) AS hod,
           n, slot_total, n_occ
    FROM base
    WHERE n * n_occ > 2 * slot_total
    ORDER BY event_type, day, hod
    """,
    doc="hour-of-week seasonal baseline: flag slots >2x their seasonal mean, all-integer",
)
def seasonal_anomaly_slots(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    occ = (
        ev.select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            (F.weekday("ts") + 1).alias("dow"),  # ISO: Mon=1 like isodow()
            F.hour("ts").alias("hod"),
        )
        .groupBy("event_type", "day", "dow", "hod")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("event_type", "dow", "hod")
    base = occ.select(
        "event_type",
        "day",
        "hod",
        "n",
        F.sum("n").over(w).alias("slot_total"),
        F.count(F.lit(1)).over(w).alias("n_occ"),
    )
    return (
        base.filter(F.col("n") * F.col("n_occ") > 2 * F.col("slot_total"))
        .select(
            "event_type",
            "day",
            F.col("hod").cast("int").alias("hod"),
            "n",
            "slot_total",
            "n_occ",
        )
        .orderBy("event_type", "day", "hod")
    )


# ---------------------------------------------------------------------------
# Per-group exact medians in two fixed passes (operators/orderstats.py
# grouped_median_twophase): pass 1 = one scan → per-(group, bucket)
# count frame with lazy offsets, pass 2 = one scan over only the
# middle-rank buckets, windowed on ~n/B-row slices — the same
# machinery `percentiles_by_flag` runs on: when one group
# holds billions of rows, buffering or sorting the whole group dies
# and this shape doesn't. The oracle window-sorts each
# group (row_number) — exactly the plan the operator avoids — and
# both middle ranks plus the midpoint must agree to the cent.
# ---------------------------------------------------------------------------
@register(
    "group_median_twophase",
    """
    WITH c AS (
      SELECT o_orderpriority,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders WHERE o_totalprice IS NOT NULL
    ), r AS (
      SELECT o_orderpriority, cents,
             row_number() OVER (PARTITION BY o_orderpriority ORDER BY cents) AS rn,
             count(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM c
    )
    SELECT o_orderpriority,
           CAST(max(n) AS BIGINT) AS n,
           CAST(max(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS BIGINT) AS v_lo,
           CAST(max(CASE WHEN rn = (CASE WHEN n % 2 = 0 THEN n // 2 + 1
                                         ELSE (n + 1) // 2 END)
                    THEN cents END) AS BIGINT) AS v_hi,
           (CAST(max(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS DOUBLE)
            + CAST(max(CASE WHEN rn = (CASE WHEN n % 2 = 0 THEN n // 2 + 1
                                            ELSE (n + 1) // 2 END)
                       THEN cents END) AS DOUBLE)) / 2.0 AS median
    FROM r
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="per-group exact median via the two-phase bucket pick (no group sort)",
)
def group_median_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sf_etl_spark.operators.orderstats import grouped_median_twophase

    cents = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice").isNotNull())
        .select(
            "o_orderpriority",
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
        )
    )
    return grouped_median_twophase(
        cents, "o_orderpriority", "cents", bounds=_cents_bounds(sf_dir)
    ).orderBy("o_orderpriority")


# ---------------------------------------------------------------------------
# Per-group exact p90 — the arbitrary-q generalization of the median
# lane above (operators/orderstats.py grouped_quantile_twophase, same
# two-phase bucket pick; percentile_disc semantics = value at
# rank ceil(0.9·n)). p90/p95/p99 are THE ops-metrics aggregates; the
# rank is computed in integer arithmetic from the rational 9/10, so
# no float decides which row wins. The oracle again window-sorts
# every group — the avoided plan — and must agree to the cent.
# ---------------------------------------------------------------------------
@register(
    "group_p90_twophase",
    """
    WITH c AS (
      SELECT o_orderpriority,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders WHERE o_totalprice IS NOT NULL
    ), r AS (
      SELECT o_orderpriority, cents,
             row_number() OVER (PARTITION BY o_orderpriority ORDER BY cents) AS rn,
             count(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM c
    )
    SELECT o_orderpriority,
           CAST(max(n) AS BIGINT) AS n,
           -- ceil(9n/10) as (9n+9)//10: DuckDB's // TRUNCATES toward
           -- zero (unlike Python's floor), so the -(-a//b) ceil trick
           -- is off by one here; the +9 form is division-mode-proof
           -- for positive operands
           CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN cents END) AS BIGINT) AS value
    FROM r
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="per-group exact p90 (percentile_disc) via the two-phase bucket pick",
)
def group_p90_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sf_etl_spark.operators.orderstats import grouped_quantile_twophase

    cents = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice").isNotNull())
        .select(
            "o_orderpriority",
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
        )
    )
    return grouped_quantile_twophase(
        cents, "o_orderpriority", "cents", q_num=9, q_den=10, bounds=_cents_bounds(sf_dir)
    ).orderBy("o_orderpriority")


# ---------------------------------------------------------------------------
# Benford first-significant-digit screen — the classic fabricated-
# data / unit-error detector for money columns. The digit comes from
# the CENTS-integer's decimal string (floor(x*100+0.5) is within an
# ulp of the true integer for 2-decimal money, so the rounding mode
# can't flip it; extracting from the DOUBLE's formatted string would
# hang on engine-specific float formatting). Expected Benford masses
# log10(1+1/d) are injected as IDENTICAL repr() literals on both
# sides — computed once in Python, so no libm call runs in either
# engine. Per-digit chi-square terms only: a 9-term total would sum
# doubles in engine-chosen order; the consumer folds the bounded
# 9-row result instead.
# Scale: one partial-agged scan to 9 rows; the 1-row total re-enters
# the 9-row frame via window (bounded metadata, no second scan).
# ---------------------------------------------------------------------------
_BENFORD_P = {
    1: "0.3010299956639812",
    2: "0.17609125905568124",
    3: "0.12493873660829992",
    4: "0.09691001300805642",
    5: "0.07918124604762482",
    6: "0.06694678963061322",
    7: "0.05799194697768673",
    8: "0.05115252244738129",
    9: "0.04575749056067514",
}


def _benford_case_sql() -> str:
    whens = " ".join(f"WHEN {d} THEN {p}" for d, p in _BENFORD_P.items())
    return f"CASE digit {whens} END"


@register(
    "benford_first_digit",
    f"""
    WITH cents AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c FROM orders
    ), digits AS (
      SELECT CAST(substring(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit FROM cents
    ), obs AS (
      SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM digits GROUP BY digit
    ), tot AS (
      SELECT digit, n_obs, sum(n_obs) OVER () AS n FROM obs
    )
    SELECT digit, n_obs,
           CAST(n AS DOUBLE) * {_benford_case_sql()} AS n_expected,
           (CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * {_benford_case_sql()})
           * (CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * {_benford_case_sql()})
           / (CAST(n AS DOUBLE) * {_benford_case_sql()}) AS chi2_term
    FROM tot
    ORDER BY digit
    """,
    doc="Benford first-digit screen on the money column (per-digit chi-square terms)",
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    c = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    digit = F.substring(c.cast("string"), 1, 1).cast("int")
    obs = (
        o.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    tot = obs.withColumn("n", F.sum("n_obs").over(Window.partitionBy()))
    expr = None
    for d, lit in _BENFORD_P.items():
        branch = (F.col("digit") == d, F.lit(float(lit)))
        expr = F.when(*branch) if expr is None else expr.when(*branch)
    n_exp = F.col("n").cast("double") * expr
    dev = F.col("n_obs").cast("double") - n_exp
    return tot.select(
        "digit",
        "n_obs",
        n_exp.alias("n_expected"),
        (dev * dev / n_exp).alias("chi2_term"),
    ).orderBy("digit")


# ---------------------------------------------------------------------------
# Chi-square test of independence over a contingency table (order
# status × priority) — the 2-way sibling of distribution_drift's
# 1-way goodness-of-fit. Row/column totals are INTEGER window sums
# over the 15-cell table (exact), expected = row·col/n converts three
# exact integers through two IEEE-correctly-rounded ops — identical
# bits both engines, no float aggregation anywhere. Per-cell terms
# only (same 9-row rationale as the Benford lane).
# Scale: the fact collapses to |status|·|priority| cells in ONE
# partial-agged pass; everything after is bounded-domain metadata.
# ---------------------------------------------------------------------------
@register(
    "chi_square_independence",
    """
    WITH cells AS (
      SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n_obs
      FROM orders GROUP BY o_orderstatus, o_orderpriority
    ), tot AS (
      SELECT o_orderstatus, o_orderpriority, n_obs,
             sum(n_obs) OVER (PARTITION BY o_orderstatus) AS row_n,
             sum(n_obs) OVER (PARTITION BY o_orderpriority) AS col_n,
             sum(n_obs) OVER () AS n
      FROM cells
    )
    SELECT o_orderstatus, o_orderpriority, n_obs,
           CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE) / CAST(n AS DOUBLE) AS n_expected,
           (CAST(n_obs AS DOUBLE) - CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE) / CAST(n AS DOUBLE))
           * (CAST(n_obs AS DOUBLE) - CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE) / CAST(n AS DOUBLE))
           / (CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE) / CAST(n AS DOUBLE)) AS chi2_term
    FROM tot
    ORDER BY o_orderstatus, o_orderpriority
    """,
    doc="chi-square independence terms over the status x priority contingency table",
)
def chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    cells = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    tot = cells.select(
        "*",
        F.sum("n_obs").over(Window.partitionBy("o_orderstatus")).alias("row_n"),
        F.sum("n_obs").over(Window.partitionBy("o_orderpriority")).alias("col_n"),
        F.sum("n_obs").over(Window.partitionBy()).alias("n"),
    )
    n_exp = (
        F.col("row_n").cast("double")
        * F.col("col_n").cast("double")
        / F.col("n").cast("double")
    )
    dev = F.col("n_obs").cast("double") - n_exp
    return tot.select(
        "o_orderstatus",
        "o_orderpriority",
        "n_obs",
        n_exp.alias("n_expected"),
        (dev * dev / n_exp).alias("chi2_term"),
    ).orderBy("o_orderstatus", "o_orderpriority")
