"""Join operators beyond Spark's built-in kinds.

The reference only *declares* FK relationships
(`sql-builder/src/main.rs:89` maps Salesforce `Reference` fields to
`foreign(...)` DDL; `sql/types.rs:230-233`). Here those declarations
become executable distributed checks, plus the two join shapes Spark
lacks as primitives: as-of joins and bounded range (interval) joins.

All recipes follow one scale rule: a single shuffle on the equi-key,
bounded per-key work, no cross products wider than the declared band.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F


def fk_orphan_counts(
    spark: SparkSession,
    fks: list[tuple[str, DataFrame, str, DataFrame, str]],
) -> DataFrame:
    """Orphan-row counts for declared foreign keys.

    `fks` entries are (label, child_df, child_col, parent_df, parent_col).
    Each FK is one left-anti join (semi-join hash build on the parent
    side — broadcast when small, shuffle otherwise; Catalyst/AQE pick).
    Returns a DataFrame (fk string, orphans bigint) — integrity holds
    iff every count is 0.
    """
    counts = []
    for label, child, ccol, parent, pcol in fks:
        orphans = (
            child.select(F.col(ccol).alias("_k"))
            .join(parent.select(F.col(pcol).alias("_k")), "_k", "left_anti")
            .agg(F.count(F.lit(1)).alias("orphans"))
            .select(F.lit(label).alias("fk"), "orphans")
        )
        counts.append(orphans)
    return reduce(lambda a, b: a.unionByName(b), counts)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_payload: list[str],
) -> DataFrame:
    """As-of left join: for each left row, the latest right row with
    ``right_ts <= left_ts`` within the same `on` key (NULL ``asof_*``
    columns when there is none).

    Implementation is the union+window recipe, NOT a pairwise
    inequality join: tag both sides, union them, and carry the most
    recent right payload forward with ``last(..., ignorenulls=True)``
    over (key ORDER BY ts, side). Cost = ONE shuffle on the key plus a
    per-partition sort — O(n log n) total, no per-key row
    multiplication, which is what makes it safe when a key has millions
    of rows on both sides (a naive range join would square that).

    Ties: a right row at exactly left_ts matches (right sorts first via
    the side tag), mirroring DuckDB/pandas `merge_asof` inclusive
    semantics. Several right rows sharing one (key, ts): the payload
    struct is the final sort key, making the order TOTAL — without it
    last() picks a partition-order-dependent payload and the result
    flaps across runs (the fix asof_nearest_join has carried since
    r12, applied here in r14). Two consequences of that sort key (r14
    ADVICE, applies to :func:`asof_nearest_join` identically): the
    winner among tied right rows is the MAXIMUM payload struct under
    Spark's field-wise struct comparison (an oracle restatement must
    tie-break the same way — ``max_by(payload, payload)`` /
    ``ORDER BY payload DESC LIMIT 1`` per (key, ts)); and every
    ``right_payload`` column must be ORDERABLE (no MapType — Spark
    raises AnalysisException on the window sort; wrap such columns in
    a sortable encoding, or add a unique orderable tie column to the
    payload, before joining). Right rows with a NULL timestamp are
    excluded up front (merge_asof/DuckDB ASOF semantics): a null _ts
    sorts first with a NON-null payload struct, so it would otherwise
    become every early left row's phantom match.
    """
    lcols = left.columns
    payload_struct = F.struct(
        F.col(right_ts).alias("_ats"), *[F.col(c).alias(c) for c in right_payload]
    )
    r = right.filter(F.col(right_ts).isNotNull()).select(
        F.col(on).alias(on),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        payload_struct.alias("_payload"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols if c != on],
    )
    l = left.select(
        F.col(on),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(r.schema["_payload"].dataType).alias("_payload"),
        *[F.col(c) for c in lcols if c != on],
    )
    w = (
        Window.partitionBy(on)
        .orderBy("_ts", "_side", "_payload")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    unioned = l.unionByName(r).withColumn(
        "_matched", F.last("_payload", ignorenulls=True).over(w)
    )
    out = unioned.filter(F.col("_side") == 1).select(
        F.col(on),
        *[F.col(c) for c in lcols if c != on],
        *[F.col("_matched").getField(c).alias(f"asof_{c}") for c in ["_ats", *right_payload]],
    )
    return out.withColumnRenamed("asof__ats", "asof_ts")


def asof_nearest_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_payload: list[str],
) -> DataFrame:
    """Nearest-neighbor as-of join, BOTH directions: for each left row
    the closest right row in time — before OR after — within the same
    key (``pd.merge_asof(direction='nearest')``; plain ASOF only looks
    backward). Ties (equidistant, or a right row at exactly left_ts)
    resolve backward, matching the inclusive semantics of
    :func:`asof_join`.

    Same union+window recipe, one extra frame: the tagged union is
    scanned with last(payload) over the PRECEDING frame (backward
    match, ties inclusive — a right row at left_ts sorts first) and
    first(payload) over the FOLLOWING frame starting at the current
    row (strictly-after match — the equal-ts right row sorted BEFORE
    the left row, so it is never double-counted forward). Both frames
    ride ONE shuffle + ONE sort on the key; still no per-key row
    multiplication, so a key with millions of rows on both sides
    costs O(n log n) like the one-directional join.
    """
    lcols = left.columns
    payload_struct = F.struct(
        F.col(right_ts).alias("_ats"), *[F.col(c).alias(c) for c in right_payload]
    )
    r = right.filter(F.col(right_ts).isNotNull()).select(
        F.col(on).alias(on),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        payload_struct.alias("_payload"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols if c != on],
    )
    l = left.select(
        F.col(on),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(r.schema["_payload"].dataType).alias("_payload"),
        *[F.col(c) for c in lcols if c != on],
    )
    # _payload as the final sort key makes the order TOTAL when
    # several right rows share one timestamp (struct comparison is
    # field-wise) — last()/first() would otherwise pick a
    # partition-order-dependent payload and the result could flap
    # across runs
    back = (
        Window.partitionBy(on)
        .orderBy("_ts", "_side", "_payload")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy(on)
        .orderBy("_ts", "_side", "_payload")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    unioned = (
        l.unionByName(r)
        .withColumn("_b", F.last("_payload", ignorenulls=True).over(back))
        .withColumn("_f", F.first("_payload", ignorenulls=True).over(fwd))
    )
    # distances in MICROSECONDS (unix_micros), not a seconds-truncating
    # long cast — a sub-second asymmetry must still pick the true
    # nearest side, and the SQL oracle compares epoch_us
    lts = F.unix_micros(F.col("_ts").cast("timestamp"))
    b_ts = F.unix_micros(F.col("_b").getField("_ats").cast("timestamp"))
    f_ts = F.unix_micros(F.col("_f").getField("_ats").cast("timestamp"))
    use_back = F.col("_f").isNull() | (
        F.col("_b").isNotNull() & ((lts - b_ts) <= (f_ts - lts))
    )
    nearest = F.when(use_back, F.col("_b")).otherwise(F.col("_f"))
    out = unioned.filter(F.col("_side") == 1).select(
        F.col(on),
        *[F.col(c) for c in lcols if c != on],
        *[
            nearest.getField(c).alias(f"asof_{c}")
            for c in ["_ats", *right_payload]
        ],
        F.when(nearest.isNull(), F.lit(None).cast("string"))
        .when(use_back, F.lit("b"))
        .otherwise(F.lit("f"))
        .alias("asof_direction"),
    )
    return out.withColumnRenamed("asof__ats", "asof_ts")


def range_join_buckets(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    lower: Column,
    upper: Column,
    bucket_seconds: int,
) -> DataFrame:
    """Bounded-interval join: pairs (l, r) sharing key `on` with
    ``lower < r[right_ts] - l[left_ts] <= upper`` (bounds as interval
    Columns, e.g. ``F.expr("INTERVAL 0 SECOND")``).

    Scale recipe: bucketize both sides to `bucket_seconds`, equi-join
    on (key, bucket) for every bucket the band can reach, then apply
    the exact band predicate. The probe set is DERIVED from the band
    per right row — a right row at ts r can match left rows with
    ``r - upper <= l < r - lower``, i.e. left buckets
    ``floor((r-upper)/B) .. floor((r-lower)/B)`` — so ANY
    lower/upper/bucket_seconds combination is covered (the pre-r14
    hard-coded {b, b-1} probe silently dropped matches whenever
    lower > 0 or upper > bucket_seconds), and ``floor`` keeps
    pre-epoch timestamps in the right bucket (a bigint cast truncates
    toward zero). The equi-join keeps the shuffle hash-partitioned and
    lets AQE handle skew; candidates per row are O(rows in
    band/bucket_seconds + 1 buckets), not O(all rows per key). This is
    the standard interval-join decomposition used by stream
    processors; size bucket_seconds to the band width so the probe
    fan-out stays at 2.
    """
    lb = left.withColumn(
        "_bkt", F.floor(F.unix_timestamp(left_ts) / bucket_seconds)
    )
    # left-bucket range reachable from this right row's band, via
    # timestamp-interval arithmetic (the bounds are interval Columns)
    lo_b = F.floor(F.unix_timestamp(F.col(right_ts) - upper) / bucket_seconds)
    hi_b = F.floor(F.unix_timestamp(F.col(right_ts) - lower) / bucket_seconds)
    # empty band (lower > upper): lo_b > hi_b would make sequence()
    # generate a DESCENDING bucket list — full probe fan-out for a
    # provably empty result. when() yields NULL instead; explode
    # drops it, short-circuiting to zero rows (r14 ADVICE).
    rb = right.withColumn(
        "_probe",
        F.explode(F.when(lo_b <= hi_b, F.sequence(lo_b, hi_b))),
    )
    cond = (
        (F.col(f"r.{right_ts}") > F.col(f"l.{left_ts}") + lower)
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}") + upper)
    )
    return (
        lb.alias("l")
        .join(
            rb.alias("r"),
            (F.col(f"l.{on}") == F.col(f"r.{on}")) & (F.col("l._bkt") == F.col("r._probe")),
        )
        .filter(cond)
        .drop("_bkt", "_probe")
    )


def asof_join_pandas(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_payload: list[str],
    buckets: int | None = None,
    max_rows_per_bucket: int | None = None,
) -> DataFrame:
    """As-of join via cogrouped ``applyInPandas`` + ``pd.merge_asof``
    — the Arrow-batched alternative to :func:`asof_join` for when the
    match rule outgrows window semantics (tolerance windows,
    direction='nearest', multi-column by-keys: all pandas one-liners,
    all painful as window recipes).

    Scale: cogroup shuffles BOTH sides once — same shuffle count as
    the union+window recipe — then per-group work happens in Arrow
    batches. The cogroup key is NOT the raw join key: it is a
    deterministic hash BUCKET of it (``pmod(xxhash64(on), buckets)``),
    and the per-bucket merge delegates the key grouping to
    ``pd.merge_asof(by=on)``. One Python/Arrow crossing per bucket
    instead of one per key — with millions of small keys the per-group
    invocation overhead dominated the whole lane (guide §4: keep the
    batches crossing the boundary large). Results are identical:
    ``merge_asof(by=...)`` applies the same backward match within each
    key. ``buckets`` defaults to 2× the scheduler parallelism —
    scale-adaptive, never a constant tuned to one host. THE MEMORY
    CONTRACT CHANGES with bucketing: each bucket materializes as one
    pandas frame in one Python worker, so per-task memory is
    O(rows/buckets) where the per-key cogroup bounded it by the
    hottest key. On clusters the default tracks cluster size (and
    therefore normal data growth); for a huge frame on a small
    cluster pass ``buckets ≈ total_rows / target_group_rows``
    explicitly, and/or set ``max_rows_per_bucket`` — a per-bucket row
    budget enforced inside the worker (fail-fast with sizing advice
    instead of an opaque OOM kill). A hot single key still lands one
    bucket (salt first via `operators.skew` if keys are hot, exactly
    as before).

    Inclusive backward match (``right_ts <= left_ts``), identical to
    :func:`asof_join` and DuckDB ``ASOF JOIN``.
    """
    import pandas as pd
    from pyspark.sql.types import StructField, StructType

    # "_bkt" is the internal cogroup key: a pre-existing left column of
    # that name would be silently overwritten and come back filled with
    # bucket ids (out_cols is built from left.schema) — corruption, not
    # a conflict error, so refuse up front (r15 ADVICE).
    if "_bkt" in left.columns or on == "_bkt":
        raise ValueError(
            "asof_join_pandas: '_bkt' is reserved for the internal "
            "cogroup bucket key; rename the input column"
        )
    if buckets is not None and buckets < 1:
        raise ValueError(f"asof_join_pandas: buckets must be >= 1, got {buckets}")

    right_schema = {f.name: f for f in right.schema.fields}
    out_schema = StructType(
        list(left.schema.fields)
        + [StructField("asof_ts", right_schema[right_ts].dataType, True)]
        + [
            StructField(f"asof_{c}", right_schema[c].dataType, True)
            for c in right_payload
        ]
    )
    out_cols = [f.name for f in out_schema.fields]
    # Pre-rename the right side: when both inputs derive from the same
    # source, left.ts and right.ts share an attribute id and the
    # cogroup deduplicates the column away (the right pdf arrives
    # without it). Distinct names also make the pandas merge collision-
    # free by construction.
    r_renamed = right.select(
        F.col(on).alias(on),
        F.col(right_ts).alias("asof_ts"),
        *[F.col(c).alias(f"asof_{c}") for c in right_payload],
    )
    n_buckets = buckets or max(
        2 * left.sparkSession.sparkContext.defaultParallelism, 16
    )
    # NULL join keys get their own reserved bucket (-1): inside it the
    # merge runs WITHOUT `by`, preserving the pre-bucketing semantics
    # exactly — a null-key cogroup matched within itself, the same
    # null-grouping the JVM recipe's window partitioning applies. It
    # also sidesteps a real pandas failure: a bucket MIXING null and
    # non-null numeric keys arrives with a float64(NaN) by-column on
    # one side and int64 on the other, and merge_asof(by=...) raises
    # MergeError on the dtype mismatch (review finding, repro'd).
    bkt = F.when(F.col(on).isNull(), F.lit(-1)).otherwise(
        F.pmod(F.xxhash64(F.col(on)), F.lit(n_buckets)).cast("int")
    )
    l_b = left.withColumn("_bkt", bkt)
    r_b = r_renamed.withColumn("_bkt", bkt)

    def merge(l_pdf: pd.DataFrame, r_pdf: pd.DataFrame) -> pd.DataFrame:
        # Runtime memory guard (r15 verdict): each bucket materializes
        # as ONE pandas frame in one worker — O(rows/buckets), not the
        # per-key bound of the unbucketed cogroup. When the caller
        # declares a per-bucket row budget, a pathological rows/buckets
        # ratio fails fast with sizing advice instead of OOM-killing
        # the worker. Costs one len() per side — no extra Spark job.
        if max_rows_per_bucket is not None and (
            len(l_pdf) > max_rows_per_bucket or len(r_pdf) > max_rows_per_bucket
        ):
            raise ValueError(
                f"asof_join_pandas: bucket holds {max(len(l_pdf), len(r_pdf))} "
                f"rows > max_rows_per_bucket={max_rows_per_bucket}; raise "
                "`buckets` (~ total_rows / target_group_rows) or the budget"
            )
        if not len(l_pdf):
            return pd.DataFrame(columns=out_cols)
        l_sorted = l_pdf.sort_values(left_ts)
        r_sorted = r_pdf.drop(columns=["_bkt"]).sort_values("asof_ts")
        if not len(r_sorted) or l_sorted["_bkt"].iat[0] == -1:
            # empty right (every left row unmatched), or the reserved
            # null-key bucket (all keys null on both sides: match
            # within the group, no `by`) — both are the pre-bucketing
            # per-group path
            merged = pd.merge_asof(
                l_sorted,
                r_sorted.drop(columns=[on]),
                left_on=left_ts,
                right_on="asof_ts",
                direction="backward",
            )
        else:
            merged = pd.merge_asof(
                l_sorted,
                r_sorted,
                left_on=left_ts,
                right_on="asof_ts",
                by=on,
                direction="backward",
            )
        return merged[out_cols]

    return (
        l_b.groupBy("_bkt").cogroup(r_b.groupBy("_bkt")).applyInPandas(merge, out_schema)
    )
