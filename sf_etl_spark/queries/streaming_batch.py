"""Time-series / event queries — the batch-checkable core of the
streaming surface (SURVEY.md §2.2 "Streaming" row).

Every windowed aggregation here uses the exact operators Structured
Streaming uses (`F.window`, `F.session_window`); running them on a
bounded DataFrame makes them oracle-checkable, and
`sf_etl_spark.streaming` reuses the same plans under `readStream` with
watermarks (tested in tests/test_streaming.py — stateful pieces are
not SQL-expressible, so they stay out of the oracle gate).

The as-of and range joins use the scale recipes from
operators/joins.py: one equi-shuffle, no unbounded cross products.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sf_etl_spark.operators.joins import asof_join, range_join_buckets
from sf_etl_spark.queries import register
from sf_etl_spark.sources import load_table


# ---------------------------------------------------------------------------
# Tumbling window aggregation.
# ---------------------------------------------------------------------------
@register(
    "window_tumbling",
    """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           CAST(count(*) AS BIGINT)           AS n_events,
           CAST(CAST(sum(CAST(value AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
    doc="tumbling 1h window agg (streaming-identical operator, batch mode)",
)
def window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,10)")).cast("string").cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
        .orderBy("window_start", "event_type")
    )


# ---------------------------------------------------------------------------
# Sliding window aggregation (1h window, 30m slide → every event in 2
# windows). Oracle expands the membership explicitly.
# ---------------------------------------------------------------------------
@register(
    "window_sliding",
    """
    SELECT window_start, CAST(count(*) AS BIGINT) AS n_events,
           CAST(CAST(sum(CAST(value AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS total_value
    FROM (
      SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
                     time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'])
               AS window_start,
             value
      FROM events
    )
    GROUP BY window_start
    ORDER BY window_start
    """,
    doc="sliding window (1h size / 30m slide) agg",
)
def window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,10)")).cast("string").cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
        .orderBy("window_start")
    )


# ---------------------------------------------------------------------------
# Session windows (5-minute inactivity gap) — gaps-and-islands in the
# oracle; `F.session_window` (the streaming-stateful operator) in the
# engine. Spark's session spans [first_ts, last_ts + gap).
# ---------------------------------------------------------------------------
@register(
    "window_session",
    """
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL '5 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sessions AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           min(ts)                         AS session_start,
           max(ts) + INTERVAL '5 minutes'  AS session_end,
           CAST(count(*) AS BIGINT)        AS n_events,
           CAST(CAST(sum(CAST(value AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS total_value
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
    doc="session windows (5m gap): session_window ↔ gaps-and-islands oracle",
)
def window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,10)")).cast("string").cast("double").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "session_start")
    )


# ---------------------------------------------------------------------------
# DYNAMIC-gap session windows: the gap is an EXPRESSION of the row
# (engagement semantics differ per event type — a purchase holds a
# session open longer than a click), which is exactly what
# session_window's Column-valued gapDuration exists for. With
# per-row gaps the session ends are no longer monotone in ts, so the
# oracle's gaps-and-islands restatement needs the RUNNING MAX of
# (ts + gap) over preceding rows, not lag(ts) + constant: a new
# session starts when ts >= max(prev ends) — the same [start, end)
# merge rule Spark's SessionWindow state machine applies. Same-ts
# rows always merge (any earlier tie's end exceeds ts), so tie order
# cannot change the result.
#
# Scale: one user_id exchange; session merging is per-key scan-order
# state, the classic key-proportional-parallelism shape.
# ---------------------------------------------------------------------------
_DYN_GAPS = {"click": "10 minutes", "purchase": "30 minutes"}
_DYN_GAP_DEFAULT = "20 minutes"


@register(
    "window_session_dynamic_gap",
    f"""
    WITH g AS (
      SELECT user_id, ts, event_id, value,
             ts + CASE event_type
                    WHEN 'click' THEN INTERVAL '{_DYN_GAPS["click"]}'
                    WHEN 'purchase' THEN INTERVAL '{_DYN_GAPS["purchase"]}'
                    ELSE INTERVAL '{_DYN_GAP_DEFAULT}'
                  END AS ev_end
      FROM events
    ), r AS (
      SELECT *, max(ev_end) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                AS prev_max_end
      FROM g
    ), f AS (
      SELECT *, CASE WHEN prev_max_end IS NULL OR ts >= prev_max_end
                     THEN 1 ELSE 0 END AS new_s
      FROM r
    ), s AS (
      SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM f
    )
    SELECT user_id,
           min(ts)                  AS session_start,
           max(ev_end)              AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(CAST(sum(CAST(value AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS total_value
    FROM s
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
    doc="session_window with an expression-valued (per-event-type) gap ↔ running-max oracle",
)
def window_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    gap = (
        F.when(F.col("event_type") == "click", _DYN_GAPS["click"])
        .when(F.col("event_type") == "purchase", _DYN_GAPS["purchase"])
        .otherwise(_DYN_GAP_DEFAULT)
    )
    return (
        e.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,10)"))
            .cast("string")
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "session_start")
    )


# ---------------------------------------------------------------------------
# As-of join: each purchase matched to the user's most recent prior
# (or simultaneous) click. Oracle uses DuckDB's native ASOF JOIN.
# ---------------------------------------------------------------------------
@register(
    "asof_purchase_click",
    """
    SELECT p.event_id, p.user_id, p.ts,
           c.ts    AS asof_ts,
           c.value AS click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    ORDER BY p.event_id
    """,
    doc="as-of join via union+window recipe (one shuffle, no row blowup)",
)
def asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    joined = asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts", right_payload=["value"]
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        "asof_ts",
        F.col("asof_value").alias("click_value"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# Bounded range (interval) join: follow-on events within 10 minutes of
# an error by the same user, via the bucketed-equi-join recipe.
# ---------------------------------------------------------------------------
@register(
    "range_join_followups",
    """
    SELECT e1.event_id AS error_id,
           CAST(count(*) AS BIGINT) AS n_followups,
           CAST(CAST(sum(CAST(e2.value AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS followup_value
    FROM (SELECT * FROM events WHERE event_type = 'error') e1
    JOIN events e2
      ON e1.user_id = e2.user_id
     AND e2.ts >  e1.ts
     AND e2.ts <= e1.ts + INTERVAL '10 minutes'
    GROUP BY e1.event_id
    ORDER BY error_id
    """,
    doc="interval join (0,10m] via bucketed equi-join; no unbounded cross product",
)
def range_join_followups(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    errors = e.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    all_ev = e.select("user_id", F.col("ts").alias("ts2"), "value")
    pairs = range_join_buckets(
        errors,
        all_ev,
        on="user_id",
        left_ts="ts",
        right_ts="ts2",
        lower=F.expr("INTERVAL 0 SECOND"),
        upper=F.expr("INTERVAL 10 MINUTE"),
        bucket_seconds=600,
    )
    return (
        pairs.groupBy(F.col("event_id").alias("error_id"))
        .agg(
            F.count(F.lit(1)).alias("n_followups"),
            F.sum(F.col("value").cast("decimal(38,10)")).cast("string").cast("double").alias("followup_value"),
        )
        .orderBy("error_id")
    )


# ---------------------------------------------------------------------------
# Same as-of semantics through the Arrow/pandas lane: cogrouped
# applyInPandas + pd.merge_asof, oracle-matched against DuckDB's
# native ASOF JOIN — proving the two implementations (union+window
# and merge_asof) agree row-for-row.
# ---------------------------------------------------------------------------
@register(
    "asof_pandas_merge",
    """
    SELECT p.event_id, p.user_id, p.ts,
           c.ts    AS asof_ts,
           c.value AS click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    ORDER BY p.event_id
    """,
    doc="as-of join via cogrouped applyInPandas merge_asof (Arrow lane)",
)
def asof_pandas_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sf_etl_spark.operators.joins import asof_join_pandas

    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    joined = asof_join_pandas(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts", right_payload=["value"]
    )
    return joined.select(
        "event_id", "user_id", "ts", "asof_ts", F.col("asof_value").alias("click_value")
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# Time-series resample + gap-fill: per-user hourly grid with forward
# fill — the "regularize irregular events" operator every metrics
# pipeline needs before rolling computations. Scale: the per-user-hour
# downsample is one hash agg (row_number picks the last event per
# bucket); the grid is sequence+explode bounded by each user's own
# span (never the global span); the forward fill is one window pass
# ordered by bucket. Three shuffles total, all on user_id.
# ---------------------------------------------------------------------------
@register(
    "events_hourly_ffill",
    """
    WITH hourly AS (
      SELECT user_id, hr, value FROM (
        SELECT user_id, date_trunc('hour', ts) AS hr, value,
               row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
      ) WHERE rn = 1
    ),
    spans AS (SELECT user_id, min(hr) AS h0, max(hr) AS h1 FROM hourly GROUP BY user_id),
    grid AS (
      SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr
      FROM spans
    )
    SELECT g.user_id, g.hr,
           last_value(h.value IGNORE NULLS)
             OVER (PARTITION BY g.user_id ORDER BY g.hr
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill,
           h.value IS NOT NULL AS had_event
    FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hr = h.hr
    ORDER BY g.user_id, g.hr
    """,
    doc="per-user hourly resample + forward fill (gap-free time-series grid)",
)
def events_hourly_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    hr = F.date_trunc("hour", F.col("ts"))
    pick_last = W.partitionBy("user_id", "hr").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    hourly = (
        e.select("user_id", hr.alias("hr"), "value", "ts", "event_id")
        .withColumn("rn", F.row_number().over(pick_last))
        .filter(F.col("rn") == 1)
        .select("user_id", "hr", "value")
    )
    grid = (
        hourly.groupBy("user_id")
        .agg(F.min("hr").alias("h0"), F.max("hr").alias("h1"))
        .select(
            "user_id",
            F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("hr"),
        )
    )
    ffill = W.partitionBy("user_id").orderBy("hr").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        grid.join(hourly, ["user_id", "hr"], "left")
        .select(
            "user_id",
            "hr",
            F.last("value", ignorenulls=True).over(ffill).alias("value_ffill"),
            F.col("value").isNotNull().alias("had_event"),
        )
        .orderBy("user_id", "hr")
    )


# ---------------------------------------------------------------------------
# Funnel conversion: how many users progressed view -> click ->
# purchase IN ORDER (each stage strictly after the previous stage's
# first occurrence — not mere co-occurrence). Scale: one conditional
# min-aggregate per stage, every shuffle on user_id so the exchanges
# align stage over stage; no window over unbounded history, no
# self-join of the raw event log against itself (each stage joins
# the previous stage's 1-row-per-user aggregate).
# ---------------------------------------------------------------------------
@register(
    "funnel_conversion",
    """
    WITH ew AS (
      SELECT user_id, ts, event_type FROM events
      WHERE ts < TIMESTAMP '2024-01-03 00:00:00'
    ),
    v AS (
      SELECT user_id, min(ts) AS t1 FROM ew
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM ew e JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM ew e JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT stage, n_users FROM (
      SELECT 'l1_view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM v
      UNION ALL SELECT 'l2_click', CAST(count(*) AS BIGINT) FROM c
      UNION ALL SELECT 'l3_purchase', CAST(count(*) AS BIGINT) FROM p
    )
    ORDER BY stage
    """,
    doc="ordered view->click->purchase funnel; per-stage conditional min-aggs on user_id",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # a bounded observation window keeps the funnel discriminating
    # (over the full fixture span every user reaches every stage)
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts") < F.lit("2024-01-03 00:00:00").cast("timestamp_ntz"))
        .select("user_id", "ts", "event_type")
    )

    def stage_after(prev: DataFrame, prev_ts: str, etype: str, out_ts: str) -> DataFrame:
        return (
            e.filter(F.col("event_type") == etype)
            .join(prev, "user_id")
            .filter(F.col("ts") > F.col(prev_ts))
            .groupBy("user_id")
            .agg(F.min("ts").alias(out_ts))
        )

    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = stage_after(v, "t1", "click", "t2")
    p = stage_after(c, "t2", "purchase", "t3")

    def count_stage(df: DataFrame, label: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(label).alias("stage"), "n_users"
        )

    return (
        count_stage(v, "l1_view")
        .unionByName(count_stage(c, "l2_click"))
        .unionByName(count_stage(p, "l3_purchase"))
        .orderBy("stage")
    )


# ---------------------------------------------------------------------------
# Incremental rollup maintenance (hypertable-style continuous agg):
# the events table applied in TWO delta batches must produce the same
# stored rollup as one direct aggregation — the oracle computes that
# direct aggregation, so any double-count, lost combine, or replace-
# instead-of-fold in the maintenance path breaks the value hash.
# ---------------------------------------------------------------------------
@register(
    "rollup_incremental_maintenance",
    """
    SELECT user_id, date_trunc('hour', ts) AS hour,
           CAST(count(*) AS BIGINT) AS n_events,
           max(value) AS max_value,
           CAST(CAST(sum(CAST(value AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY user_id, date_trunc('hour', ts)
    ORDER BY user_id, hour
    """,
    doc="hypertable-style incremental rollup: two delta merges == one direct agg",
    executes_on_construct=True,
)
def rollup_incremental_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feeds the (user_id, hour) rollup in two chronological batches
    through maintain_hourly_rollup (streaming/pipelines.py) — the
    foreachBatch-shaped continuous-aggregate path — then reads the
    stored table back. Decimal-lane sums keep the fold associative
    across engines. Scale: each batch costs O(|batch keys|); the
    stored rollup is never rescanned in full."""
    import tempfile

    from sf_etl_spark.streaming.pipelines import (
        maintain_hourly_rollup,
        read_merge_target,
    )

    e = load_table(spark, sf_dir, "events")
    # batch boundary mid-span; hours STRADDLING it land in both
    # batches, so the fold path (not just insert) is exercised
    cut = F.lit("2024-01-02 12:30:00").cast("timestamp_ntz")
    rollup_dir = tempfile.mkdtemp(prefix="rollup_inc_") + "/user_hourly"
    maintain_hourly_rollup(e.filter(F.col("ts") <= cut), rollup_dir)
    maintain_hourly_rollup(e.filter(F.col("ts") > cut), rollup_dir)
    back = read_merge_target(spark, rollup_dir)
    # sum_value is stored exact decimal(38,10); the double cast is
    # presentation-only (string hop = same decimal→double parse DuckDB
    # applies to its VARCHAR cast, keeping the hash bit-equal)
    return (
        back.select(
            "user_id",
            "hour",
            "n_events",
            "max_value",
            F.col("sum_value").cast("string").cast("double").alias("sum_value"),
        )
        .orderBy("user_id", "hour")
    )


# ---------------------------------------------------------------------------
# Sessionization with EXPLICIT session ids. window_session (above)
# aggregates away event lineage via `F.session_window`; this lane keeps
# it: every event is assigned a per-user session sequence number
# (gaps-and-islands: lag → new-session flag → running sum), so the
# session id can ride along into downstream joins/attribution. The
# 30-minute inactivity threshold is the classic web-analytics default.
# Scale: one shuffle on user_id; both window functions and the final
# per-session aggregation reuse that partitioning (Catalyst collapses
# them into a single sort+window stage followed by a partial agg).
# Ties on ts are totally ordered by event_id in BOTH engines, so the
# lag/flag assignment is deterministic.
# ---------------------------------------------------------------------------
@register(
    "sessionize_events",
    """
    WITH flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), tagged AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM flagged
    )
    SELECT user_id,
           CAST(session_seq AS INT)  AS session_seq,
           min(ts)                   AS session_start,
           max(ts)                   AS session_end,
           CAST(count(*) AS BIGINT)  AS n_events,
           epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
    FROM tagged
    GROUP BY user_id, session_seq
    ORDER BY user_id, session_seq
    """,
    doc="explicit session-id assignment (30m gap) + per-session stats",
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id",
        "event_id",
        "ts",
        # microsecond-exact gap test (a long cast would truncate to
        # whole seconds and disagree with the oracle on sub-second gaps)
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
                > 1_800_000_000
            ),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("new_session"),
    )
    tagged = flagged.select(
        "user_id",
        "ts",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("int").alias("session_seq"),
    )
    return (
        tagged.groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .withColumn(
            "duration_us",
            F.unix_micros(F.col("session_end").cast("timestamp"))
            - F.unix_micros(F.col("session_start").cast("timestamp")),
        )
        .select(
            "user_id", "session_seq", "session_start", "session_end", "n_events", "duration_us"
        )
        .orderBy("user_id", "session_seq")
    )


# ---------------------------------------------------------------------------
# Weekly cohort retention matrix — the standard growth-analytics query
# (cohort = first-activity week; cell = share of the cohort active k
# weeks later). Scale: the per-user first-seen agg and the distinct
# (user, week) activity set both partial-aggregate before one shuffle
# on user_id; the cohort-size table re-enters via broadcast (weeks are
# few no matter how many users). retention_pct is a single IEEE divide
# of two exact integers — bit-equal across engines, no rounding hop.
# ---------------------------------------------------------------------------
@register(
    "cohort_retention",
    """
    WITH firsts AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
    ), sizes AS (
      SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
      FROM firsts GROUP BY cohort_week
    ), cells AS (
      SELECT f.cohort_week,
             CAST(date_diff('day', f.cohort_week, a.week) // 7 AS INT) AS week_offset,
             CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
      FROM activity a JOIN firsts f USING (user_id)
      GROUP BY 1, 2
    )
    SELECT c.cohort_week, c.week_offset, c.n_active, s.cohort_size,
           CAST(c.n_active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE) AS retention_pct
    FROM cells c JOIN sizes s USING (cohort_week)
    ORDER BY cohort_week, week_offset
    """,
    doc="weekly cohort retention matrix over events",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = e.select("user_id", F.date_trunc("week", "ts").alias("week")).distinct()
    sizes = firsts.groupBy("cohort_week").agg(F.count(F.lit(1)).alias("cohort_size"))
    cells = (
        activity.join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff("week", "cohort_week") / 7).cast("int").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    return (
        cells.join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            "cohort_size",
            (F.col("n_active").cast("double") / F.col("cohort_size").cast("double")).alias(
                "retention_pct"
            ),
        )
        .orderBy("cohort_week", "week_offset")
    )


# ---------------------------------------------------------------------------
# Robust outlier detection (median/MAD) — anomaly screening for a
# metrics stream. Both the median and the MAD use the two-position
# rule (values at ranks ⌈n/2⌉ and ⌈(n+1)/2⌉, then (lo+hi)/2) rather
# than percentile()/quantile_cont(): the two engines interpolate
# percentiles with different arithmetic, while add/divide on the two
# middle order statistics is bit-reproducible.
#
# Plan (r8 verdict's grandfathered-sort retirement, count-frame
# form): ONE partial-aggregated scan builds (type, value, count);
# rank-k values come from cumulative sums over that PRE-AGG frame —
# the row where cum ≥ k and cum − c < k — never a sort of raw rows
# (the mode_per_group taxonomy: windows partition by event_type but
# their input is bounded by |types|·|2-decimal value domain|, not by
# data volume). The MAD deviations derive from the SAME count frame
# (|value − med| re-keys it; counts re-aggregate), so the whole
# statistic costs one events scan + tiny-frame ops + one final
# screen scan, fully lazy. For an UNBOUNDED value domain the count
# frame degenerates to n rows — that regime belongs to the lazy
# two-phase pick of operators/orderstats.py (grouped_median_twophase,
# grouped_quantile_twophase), which counts per (group, bucket) of an
# order-isomorphic integer image of the value (e.g. cents of a
# 2-decimal value) and ranks only the buckets holding the target.
# ---------------------------------------------------------------------------
@register(
    "robust_outliers",
    """
    WITH vals AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
             count(*)     OVER (PARTITION BY event_type)                AS n
      FROM events WHERE value IS NOT NULL
    ), med AS (
      SELECT event_type, (min(value) + max(value)) / 2.0 AS median_value
      FROM vals WHERE rn IN ((n + 1) // 2, (n + 2) // 2)
      GROUP BY event_type
    ), devs AS (
      SELECT e.event_type, abs(e.value - m.median_value) AS dev,
             row_number() OVER (PARTITION BY e.event_type
                                ORDER BY abs(e.value - m.median_value)) AS rn,
             count(*)     OVER (PARTITION BY e.event_type)              AS n
      FROM events e JOIN med m USING (event_type)
      WHERE e.value IS NOT NULL
    ), mad AS (
      SELECT event_type, (min(dev) + max(dev)) / 2.0 AS mad
      FROM devs WHERE rn IN ((n + 1) // 2, (n + 2) // 2)
      GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN abs(e.value - m.median_value)
                              > 3.0 * 1.4826 * d.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           m.median_value, d.mad
    FROM events e
    JOIN med m USING (event_type)
    JOIN mad d USING (event_type)
    WHERE e.value IS NOT NULL
    GROUP BY e.event_type, m.median_value, d.mad
    ORDER BY e.event_type
    """,
    doc="median/MAD robust outlier screen per event_type (deterministic order statistics)",
)
def robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())

    def _median_of_counts(cnt: DataFrame, col: str, out: str) -> DataFrame:
        # cnt: (event_type, col, _c) pre-agg frame. Value at rank k is
        # the row where cum >= k and cum - _c < k; (v@k1 + v@k2) / 2.0
        # ≡ the manual two-position rule bit-for-bit.
        w_cum = (
            Window.partitionBy("event_type")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        w_all = Window.partitionBy("event_type")
        cc = cnt.select(
            "event_type",
            F.col(col),
            F.sum("_c").over(w_cum).alias("_cum"),
            F.col("_c"),
            F.sum("_c").over(w_all).alias("_n"),
        )
        k1 = F.floor((F.col("_n") + 1) / 2)
        k2 = F.floor((F.col("_n") + 2) / 2)
        hit1 = (F.col("_cum") >= k1) & (F.col("_cum") - F.col("_c") < k1)
        hit2 = (F.col("_cum") >= k2) & (F.col("_cum") - F.col("_c") < k2)
        return (
            cc.filter(hit1 | hit2)
            .groupBy("event_type")
            .agg(
                (
                    (
                        F.max(F.when(hit1, F.col(col)))
                        + F.max(F.when(hit2, F.col(col)))
                    )
                    / F.lit(2.0)
                ).alias(out)
            )
        )

    counts = e.groupBy("event_type", "value").agg(F.count(F.lit(1)).alias("_c"))
    med = _median_of_counts(counts, "value", "median_value")
    # deviations re-key the SAME count frame — no second events scan
    dev_counts = (
        counts.join(F.broadcast(med), "event_type")
        .select(
            "event_type",
            F.abs(F.col("value") - F.col("median_value")).alias("dev"),
            "_c",
        )
        .groupBy("event_type", "dev")
        .agg(F.sum("_c").alias("_c"))
    )
    mad = _median_of_counts(dev_counts, "dev", "mad")
    return (
        e.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "median_value", "mad")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("median_value"))
                    > F.lit(3.0) * F.lit(1.4826) * F.col("mad"),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ).alias("n_outliers"),
        )
        .select("event_type", "n_total", "n_outliers", "median_value", "mad")
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Interval union / coverage — merge each user's overlapping busy
# intervals ([ts, ts + value seconds)) and report merged-interval
# count, total covered time, and busy ratio. The standard
# availability / utilization / "concurrent session time" primitive;
# naive approaches self-join intervals (O(n^2) per user).
#
# Shape: gaps-and-islands entirely in integer microsecond space —
# running max of interval end over PRECEDING rows; a row opens a new
# island iff its start exceeds that max; island id = running sum of
# the flags; then one agg per island and one per user. All three
# window specs and both aggs share ONE hashpartitioning(user_id)
# exchange (Catalyst collapses them into a single sort+window stage) —
# the minimum possible for a per-user computation. busy_ratio is a
# single IEEE divide of two exact longs, bit-equal across engines.
# ---------------------------------------------------------------------------
@register(
    "interval_coverage",
    """
    WITH iv AS (
      SELECT user_id, event_id,
             epoch_us(ts) AS s,
             epoch_us(ts) + CAST(floor(value * 1000000.0) AS BIGINT) AS e
      -- value > 0: a zero/negative duration would make e <= s, and the
      -- island algebra (and the property test backing it) assumes
      -- strictly positive intervals
      FROM events WHERE value > 0
    ), flagged AS (
      SELECT user_id, s, e, event_id,
             CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       IS NULL
                  OR s > max(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS new_island
      FROM iv
    ), tagged AS (
      SELECT user_id, s, e,
             sum(new_island) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                                   ROWS UNBOUNDED PRECEDING) AS island
      FROM flagged
    ), islands AS (
      SELECT user_id, island, min(s) AS cs, max(e) AS ce
      FROM tagged GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT)   AS n_intervals,
           CAST(sum(ce - cs) AS BIGINT) AS coverage_us,
           CAST(sum(ce - cs) AS DOUBLE) / (max(ce) - min(cs)) AS busy_ratio
    FROM islands
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="per-user interval union (gaps-and-islands): merged count, coverage, busy ratio",
)
def interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # strictly positive durations only — matches the oracle and the
    # gaps-and-islands property test's precondition
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    iv = ev.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("s"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            + F.floor(F.col("value") * F.lit(1000000.0))
        ).alias("e"),
    )
    w = Window.partitionBy("user_id").orderBy("s", "e", "event_id")
    prev_max = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = iv.select(
        "user_id",
        "s",
        "e",
        "event_id",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1)
        .otherwise(0)
        .alias("new_island"),
    )
    tagged = flagged.select(
        "user_id",
        "s",
        "e",
        F.sum("new_island")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("island"),
    )
    islands = tagged.groupBy("user_id", "island").agg(
        F.min("s").alias("cs"), F.max("e").alias("ce")
    )
    return (
        islands.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum(F.col("ce") - F.col("cs")).alias("coverage_us"),
            (
                F.sum(F.col("ce") - F.col("cs")).cast("double")
                / (F.max("ce") - F.min("cs"))
            ).alias("busy_ratio"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Exponentially-weighted moving average per user — the time-decayed
# smoothing primitive (rate trackers, load estimators, trend scores).
# EWMA is inherently sequential (acc = acc*(1-a) + x*a), which SQL
# engines can't window directly; both sides therefore fold the
# per-user value sequence explicitly, in the SAME order.
#
# Cross-engine float determinism, by construction: a = 0.5, so both
# multiplies are exponent shifts (EXACT in IEEE 754 — no rounding),
# and the only rounding ops are the additions, which both engines
# perform in the identical (ts, event_id) order — bit-equal results
# with NO tolerance or rounding hop. An arbitrary a would need the
# decimal lane.
#
# Scale: one shuffle (groupBy user); the collected sequence is
# bounded by events-per-user (a retention window at deployment). For
# unbounded keys the fold belongs in a keyed streaming state operator
# like `stream_stateful_user_counts` (applyInPandasWithState,
# streaming/pipelines.py) — one acc per key, no sequence at all;
# this lane is the batch-checkable twin.
# ---------------------------------------------------------------------------
@register(
    "ewma_user_value",
    """
    WITH seq AS (
      SELECT user_id,
             list(value ORDER BY ts, event_id) AS vals,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events WHERE value IS NOT NULL
      GROUP BY user_id
    )
    SELECT user_id, n_events,
           list_reduce(vals, (acc, x) -> acc * 0.5 + x * 0.5) AS ewma
    FROM seq
    ORDER BY user_id
    """,
    doc="per-user EWMA (a=0.5): explicit ordered fold, bit-equal across engines",
)
def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    seq = (
        ev.select(
            "user_id",
            F.struct(
                F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
                F.col("event_id").alias("i"),
                F.col("value").alias("v"),
            ).alias("rec"),
        )
        .groupBy("user_id")
        .agg(
            F.array_sort(F.collect_list("rec")).alias("recs"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            "n_events",
            F.transform(F.col("recs"), lambda r: r["v"]).alias("vals"),
        )
    )
    # Fold exactly like DuckDB's list_reduce: first element seeds the
    # accumulator, the rest fold left in sequence order.
    return seq.select(
        "user_id",
        "n_events",
        F.aggregate(
            F.slice(F.col("vals"), 2, F.greatest(F.size("vals") - 1, F.lit(0))),
            F.element_at(F.col("vals"), 1),
            lambda acc, x: acc * F.lit(0.5) + x * F.lit(0.5),
        ).alias("ewma"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# Composed event-analytics pipeline — the behavioral-profile build:
# one row per user combining session structure (gaps-and-islands),
# smoothed activity level (exact-fold EWMA), and busy-time coverage
# (interval union). The composition proof for the event surface, like
# corpus_prep_pipeline is for documents: operators chain as plans
# (no materialization between stages), and because every stage keys
# on user_id the exchanges ALIGN — Catalyst reuses one
# hashpartitioning(user_id) across sessionize windows, the fold agg,
# the coverage windows, and the final joins.
# ---------------------------------------------------------------------------
@register(
    "user_behavior_profile",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id,
             CAST(count(DISTINCT seq) AS BIGINT) AS n_sessions,
             CAST(count(*) AS BIGINT) AS n_events
      FROM (SELECT user_id, ts,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS UNBOUNDED PRECEDING) AS seq
            FROM flagged)
      GROUP BY user_id
    ), ew AS (
      SELECT user_id,
             list_reduce(list(value ORDER BY ts, event_id),
                         (acc, x) -> acc * 0.5 + x * 0.5) AS ewma
      FROM events WHERE value IS NOT NULL GROUP BY user_id
    ), iv AS (
      SELECT user_id, event_id,
             epoch_us(ts) AS s,
             epoch_us(ts) + CAST(floor(value * 1000000.0) AS BIGINT) AS e
      FROM events WHERE value > 0
    ), fl2 AS (
      SELECT user_id, s, e, event_id,
             CASE WHEN max(e) OVER w2 IS NULL OR s > max(e) OVER w2
                  THEN 1 ELSE 0 END AS ni
      FROM iv
      WINDOW w2 AS (PARTITION BY user_id ORDER BY s, e, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), cov AS (
      SELECT user_id, CAST(sum(ce - cs) AS BIGINT) AS coverage_us
      FROM (SELECT user_id, island, min(s) AS cs, max(e) AS ce
            FROM (SELECT user_id, s, e,
                         sum(ni) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                                       ROWS UNBOUNDED PRECEDING) AS island
                  FROM fl2)
            GROUP BY user_id, island)
      GROUP BY user_id
    )
    SELECT s.user_id, s.n_sessions, s.n_events, e.ewma, c.coverage_us
    FROM sess s JOIN ew e USING (user_id) JOIN cov c USING (user_id)
    ORDER BY s.user_id
    """,
    doc="composed per-user profile: sessions + EWMA + busy coverage, exchange-aligned",
)
def user_behavior_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    sessions = (
        sessionize_events(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
    )
    ew = ewma_user_value(spark, sf_dir).select("user_id", "ewma")
    cov = interval_coverage(spark, sf_dir).select("user_id", "coverage_us")
    return (
        sessions.join(ew, "user_id")
        .join(cov, "user_id")
        .select("user_id", "n_sessions", "n_events", "ewma", "coverage_us")
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Session path analysis — the full ordered event-type path per session
# (vs `event_transitions`' first-order pairs): which complete journeys
# are most common. Product analytics' "top user flows" query; paths
# are also the unit for sequence-model training data.
#
# Shape: reuse the sessionization island assignment (same single
# user_id exchange), then ONE ordered collect per session —
# sort_array(collect_list(struct(ts, event_id, type))) keeps the
# aggregation partial-aggregable and the order total, so the path
# string is deterministic on both engines. Top-20 is TakeOrdered.
# ---------------------------------------------------------------------------
@register(
    "session_paths",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), tagged AS (
      SELECT user_id, ts, event_id, event_type,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS seq
      FROM flagged
    ), paths AS (
      SELECT user_id, seq,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM tagged GROUP BY user_id, seq
    )
    SELECT path,
           CAST(count(*) AS BIGINT) AS n_sessions
    FROM paths
    GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT 20
    """,
    doc="top-20 complete session paths (ordered event-type journeys)",
)
def session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
                > 1_800_000_000
            ),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("new_session"),
    )
    tagged = flagged.withColumn(
        "seq", F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    paths = (
        tagged.groupBy("user_id", "seq")
        .agg(
            F.concat_ws(
                ">",
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
                            F.col("event_id").alias("i"),
                            F.col("event_type").alias("et"),
                        )
                    )
                ).getField("et"),
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Time-weighted average (TWAP) — the irregular-time-series mean:
# each event's value is "held" until the user's next event, and the
# average weights each value by its holding duration. The finance/
# metering staple (`time_weighted_average` in TimescaleDB, TWAP in
# market data) that a plain avg() gets wrong on irregular samples.
#
# Shape: ONE user_id exchange — lead() over (user_id | ts, event_id)
# gives each row its holding interval, then a partial-aggregable
# groupBy(user_id) folds value×duration. All arithmetic is exact
# until the final single divide: values scale to integer micro-units
# (the interval_coverage convention), products go through
# DECIMAL(19,0)×DECIMAL(19,0)→DECIMAL(38,0) (no precision-loss
# rounding in either engine), and the decimal→double hop is via
# string (see relational.dsum) so both engines round identically.
# Scale: window + agg share one hashpartitioning(user_id); no
# skew risk beyond per-user event counts (bounded by sessionization
# reality); 100 TB cost is one shuffle of (user_id, t, v_scaled).
# ---------------------------------------------------------------------------
@register(
    "time_weighted_average",
    """
    WITH seq AS (
      SELECT user_id,
             epoch_us(ts) AS t,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS t_next,
             CAST(floor(value * 1000000.0) AS BIGINT) AS v_scaled
      FROM events WHERE value IS NOT NULL
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_holds,
           CAST(sum(t_next - t) AS BIGINT) AS held_us,
           CAST(CAST(sum(CAST(v_scaled AS DECIMAL(19,0))
                         * CAST(t_next - t AS DECIMAL(19,0))) AS VARCHAR)
                AS DOUBLE)
             / CAST(sum(t_next - t) AS DOUBLE) / 1000000.0 AS twap
    FROM seq
    WHERE t_next IS NOT NULL
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="per-user time-weighted average value (last-value-held), exact decimal fold",
)
def time_weighted_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    # t = unix_micros(ts) is strictly monotone in ts, so ordering by
    # (t, event_id) is the oracle's (ts, event_id) total order
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    seq = ev.select(
        "user_id",
        F.col("event_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
        F.floor(F.col("value") * 1000000.0).cast("bigint").alias("v_scaled"),
    ).withColumn("t_next", F.lead("t").over(w))
    held = seq.filter(F.col("t_next").isNotNull()).withColumn(
        "dur", F.col("t_next") - F.col("t")
    )
    num = F.sum(
        F.col("v_scaled").cast("decimal(19,0)") * F.col("dur").cast("decimal(19,0)")
    )
    return (
        held.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_holds"),
            F.sum("dur").alias("held_us"),
            (
                num.cast("string").cast("double")
                / F.sum("dur").cast("double")
                / F.lit(1000000.0)
            ).alias("twap"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# CUSUM drift detection — sequential change-point monitoring on the
# per-type daily value series (Page 1954). The one-sided CUSUM with
# reset, s_i = max(0, s_{i-1} + (x_i - target)), has the prefix-min
# closed form s_i = S_i - min_{j<=i} S_j over the cumulative sum
# S of deviations — which makes it TWO window functions instead of a
# sequential fold, so it stays a declarative plan (one exchange per
# event_type, both windows share the sort).
#
# Exactness: deviations are scaled through by n_days
# (dev = n*x - total) so the per-type mean target needs NO division —
# every intermediate is a BIGINT and both engines agree bit-for-bit.
# The drift flag compares the scaled statistic against n*mean = total
# (i.e. unscaled CUSUM > mean daily total), all in integers.
# Scale: daily pre-aggregation shrinks the series to |types|×|days|
# rows before any window work; the window partitions by event_type
# (bounded cardinality — for high-cardinality keys the same plan
# hash-partitions cleanly).
# ---------------------------------------------------------------------------
@register(
    "cusum_drift_detection",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT) AS x
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type, CAST(ts AS DATE)
    ), stats AS (
      SELECT event_type, day, x,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
             CAST(sum(x) OVER (PARTITION BY event_type) AS BIGINT) AS total
      FROM daily
    ), cum AS (
      SELECT event_type, day, n, total,
             CAST(sum(n * x - total) OVER (PARTITION BY event_type ORDER BY day
                                           ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS s_raw
      FROM stats
    ), st AS (
      -- the prefix-min must include the EMPTY prefix S_0 = 0
      -- (least(0, ...)): without it, s_1 is forced to 0 and a series
      -- that starts above target under-reports the whole run-up
      SELECT event_type, day, total,
             s_raw - least(0, min(s_raw) OVER (PARTITION BY event_type ORDER BY day
                                               ROWS UNBOUNDED PRECEDING)) AS s
      FROM cum
    )
    SELECT event_type, day,
           CAST(s AS BIGINT) AS cusum_scaled,
           CAST(CASE WHEN s > total THEN 1 ELSE 0 END AS INT) AS is_drift
    FROM st
    ORDER BY event_type, day
    """,
    doc="one-sided CUSUM per event_type via prefix-min closed form, all-integer",
)
def cusum_drift_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = (
        ev.select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            F.floor(F.col("value") * 1000000.0).cast("bigint").alias("v"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("v").alias("x"))
    )
    per_type = Window.partitionBy("event_type")
    ordered = Window.partitionBy("event_type").orderBy("day")
    run = ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    stats = daily.select(
        "event_type",
        "day",
        "x",
        F.count(F.lit(1)).over(per_type).alias("n"),
        F.sum("x").over(per_type).alias("total"),
    )
    cum = stats.withColumn(
        "s_raw", F.sum(F.col("n") * F.col("x") - F.col("total")).over(run)
    )
    # least(0, prefix-min): the empty prefix S_0 = 0 belongs in the
    # min — see the oracle comment; without it drift starting on day 1
    # is systematically understated
    st = cum.withColumn(
        "s", F.col("s_raw") - F.least(F.lit(0), F.min("s_raw").over(run))
    )
    return st.select(
        "event_type",
        "day",
        F.col("s").cast("bigint").alias("cusum_scaled"),
        F.when(F.col("s") > F.col("total"), 1).otherwise(0).cast("int").alias("is_drift"),
    ).orderBy("event_type", "day")


# ---------------------------------------------------------------------------
# Incremental view maintenance for a JOIN view — the delta rule
# dV = dA⋈B + A⋈dB + dA⋈dB applied to the revenue-by-(status, flag)
# view over orders⋈lineitem. `rollup_incremental_maintenance` covers
# single-table aggregate IVM; this lane covers the JOIN case, where
# BOTH base tables receive a batch and the view must advance without
# rejoining old-with-old.
#
# The engine computes the view as V_old(A⋈B) + the three delta terms
# and monoid-merges them; the oracle recomputes the full join from
# scratch — equality IS the delta-rule correctness proof. Each delta
# term's big-side scan carries the delta's pushed date predicate, so
# at 100 TB the maintenance cost is O(|dA|·fanout + |dB|·fanout),
# never O(|A⋈B|); the merge is exact because every partial aggregate
# stays in DECIMAL(38,10) until the single final string→double hop
# (the dsum lane split across batches — disjoint-class partition of
# the full join, so the fold re-associates exactly).
# Here V_old is computed inline (the fixture has no stored view);
# in production it is the stored rollup, making the incremental cost
# just the three delta joins.
# ---------------------------------------------------------------------------
@register(
    "ivm_join_deltas",
    f"""
    SELECT o.o_orderstatus, l.l_returnflag,
           CAST(count(*) AS BIGINT) AS n_items,
           {{SUMD}} AS revenue
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderstatus, l.l_returnflag
    ORDER BY o.o_orderstatus, l.l_returnflag
    """.format(
        SUMD="CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) "
        "AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)"
    ),
    doc="join-view IVM: V_old + dA⋈B + A⋈dB + dA⋈dB equals the full recompute",
)
def ivm_join_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sf_etl_spark.queries.relational import DEC

    o_cut = F.lit("2000-01-01").cast("timestamp_ntz")
    l_cut = F.lit("2000-06-01").cast("timestamp_ntz")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_shipdate", "l_extendedprice", "l_discount"
    )
    a, da = orders.filter(F.col("o_orderdate") < o_cut), orders.filter(
        F.col("o_orderdate") >= o_cut
    )
    b, db = li.filter(F.col("l_shipdate") < l_cut), li.filter(
        F.col("l_shipdate") >= l_cut
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)

    def term(o_side: DataFrame, l_side: DataFrame) -> DataFrame:
        # partial aggregate per term: counts + exact-decimal revenue —
        # the mergeable (monoid) state the stored view would hold
        return (
            o_side.join(l_side, o_side["o_orderkey"] == l_side["l_orderkey"])
            .groupBy("o_orderstatus", "l_returnflag")
            .agg(F.count(F.lit(1)).alias("n_items"), F.sum(rev).alias("revd"))
        )

    merged = (
        term(a, b)  # V_old — in production: read from the stored view
        .unionByName(term(da, b))
        .unionByName(term(a, db))
        .unionByName(term(da, db))
        .groupBy("o_orderstatus", "l_returnflag")
        .agg(
            F.sum("n_items").alias("n_items"),
            F.sum("revd").cast("string").cast("double").alias("revenue"),
        )
    )
    return merged.orderBy("o_orderstatus", "l_returnflag")


# ---------------------------------------------------------------------------
# Rolling median — exact per-type 7-point rolling median of the daily
# value series. Spark has no built-in median window function (and
# percentile_approx is banned from hash-verified lanes); the engine
# recipe is collect_list over the ROWS frame → array_sort → middle
# element(s) — the bounded-frame composition pattern that turns ANY
# order-statistic into a window op when the frame is small. The
# oracle replays the identical list-sort-index arithmetic (DuckDB's
# native windowed median interpolates through a different float path,
# so both sides compute the SAME explicit formula instead).
#
# Exactness: the series values are scaled BIGINTs (cusum convention);
# the even-frame midpoint (a+b)/2.0 is one IEEE op on integers well
# under 2^52 — bit-equal everywhere. Scale: the frame is O(7), so
# state per row is constant; one event_type exchange (shared with the
# daily pre-agg family); no whole-partition buffering, unlike a
# naive percentile-over-window.
# ---------------------------------------------------------------------------
@register(
    "rolling_median_7d",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT) AS x
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type, CAST(ts AS DATE)
    ), framed AS (
      SELECT event_type, day,
             list_sort(list(x) OVER (PARTITION BY event_type ORDER BY day
                                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS win
      FROM daily
    )
    SELECT event_type, day,
           CAST(len(win) AS INT) AS n_win,
           CASE WHEN len(win) % 2 = 1
                THEN CAST(win[(len(win) + 1) // 2] AS DOUBLE)
                ELSE (CAST(win[len(win) // 2] AS DOUBLE)
                      + CAST(win[len(win) // 2 + 1] AS DOUBLE)) / 2.0
           END AS med_scaled
    FROM framed
    ORDER BY event_type, day
    """,
    doc="exact 7-point rolling median via frame-collect + sort (no native median window)",
)
def rolling_median_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = (
        ev.select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            F.floor(F.col("value") * 1000000.0).cast("bigint").alias("v"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("v").alias("x"))
    )
    frame = (
        Window.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
    )
    framed = daily.withColumn("win", F.array_sort(F.collect_list("x").over(frame)))
    n = F.size("win")
    odd = F.element_at("win", ((n + 1) / 2).cast("int")).cast("double")
    even = (
        F.element_at("win", (n / 2).cast("int")).cast("double")
        + F.element_at("win", (n / 2 + 1).cast("int")).cast("double")
    ) / F.lit(2.0)
    return framed.select(
        "event_type",
        "day",
        n.cast("int").alias("n_win"),
        F.when(n % 2 == 1, odd).otherwise(even).alias("med_scaled"),
    ).orderBy("event_type", "day")


# ---------------------------------------------------------------------------
# Nearest as-of join — both directions: each purchase matched to its
# CLOSEST click in time, before or after (`merge_asof(
# direction='nearest')`); plain ASOF (and `asof_purchase_click`
# above) only looks backward. Attribution pipelines want this when a
# click can legitimately land just after the purchase event (clock
# skew between trackers, receipt-then-click flows). Ties — including
# a click at exactly the purchase timestamp — resolve backward.
#
# operators/joins.py:asof_nearest_join runs the union+window recipe
# with one extra frame (first-following beside last-preceding), so
# the bidirectional match still costs ONE user_id shuffle + ONE sort,
# never a pairwise inequality join. The oracle restates each side as
# an explicit two-step argmax — nearest ts, then the engine's payload
# tie-break (MAX value backward / MIN value forward, the total order
# the sort key (_ts, _side, _payload) induces) — instead of a bare
# DuckDB ASOF join, which leaves the equal-ts pick UNSPECIFIED and
# could flap the hash if a fixture regeneration ever emits duplicate
# (user_id, ts) clicks with different values (r6 ADVICE). Frame
# off-by-ones and tie-direction bugs still break the hash.
# ---------------------------------------------------------------------------
@register(
    "asof_nearest_click",
    """
    WITH p AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'click'
    ), b0 AS (
      SELECT p.event_id, p.user_id, p.ts, max(c.ts) AS b_ts
      FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts
      GROUP BY p.event_id, p.user_id, p.ts
    ), b AS (
      SELECT b0.event_id, b0.user_id, b0.ts, b0.b_ts, max(c.value) AS b_val
      FROM b0 LEFT JOIN c ON c.user_id = b0.user_id AND c.ts = b0.b_ts
      GROUP BY b0.event_id, b0.user_id, b0.ts, b0.b_ts
    ), f0 AS (
      SELECT p.event_id, p.user_id, min(c.ts) AS f_ts
      FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts > p.ts
      GROUP BY p.event_id, p.user_id
    ), f AS (
      SELECT f0.event_id, f0.f_ts, min(c.value) AS f_val
      FROM f0 LEFT JOIN c ON c.user_id = f0.user_id AND c.ts = f0.f_ts
      GROUP BY f0.event_id, f0.f_ts
    )
    SELECT b.event_id, b.user_id, b.ts,
           CASE WHEN f.f_ts IS NULL THEN b.b_ts
                WHEN b.b_ts IS NULL THEN f.f_ts
                WHEN epoch_us(b.ts) - epoch_us(b.b_ts)
                     <= epoch_us(f.f_ts) - epoch_us(b.ts) THEN b.b_ts
                ELSE f.f_ts END AS asof_ts,
           CASE WHEN f.f_ts IS NULL THEN b.b_val
                WHEN b.b_ts IS NULL THEN f.f_val
                WHEN epoch_us(b.ts) - epoch_us(b.b_ts)
                     <= epoch_us(f.f_ts) - epoch_us(b.ts) THEN b.b_val
                ELSE f.f_val END AS asof_value,
           CASE WHEN f.f_ts IS NULL AND b.b_ts IS NULL THEN NULL
                WHEN f.f_ts IS NULL THEN 'b'
                WHEN b.b_ts IS NULL THEN 'f'
                WHEN epoch_us(b.ts) - epoch_us(b.b_ts)
                     <= epoch_us(f.f_ts) - epoch_us(b.ts) THEN 'b'
                ELSE 'f' END AS asof_direction
    FROM b JOIN f USING (event_id)
    ORDER BY b.event_id
    """,
    doc="nearest-neighbor as-of join (both directions, backward ties) in one shuffle",
)
def asof_nearest_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sf_etl_spark.operators.joins import asof_nearest_join

    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    return (
        asof_nearest_join(
            purchases,
            clicks,
            on="user_id",
            left_ts="ts",
            right_ts="ts",
            right_payload=["value"],
        )
        .select(
            "event_id",
            "user_id",
            "ts",
            "asof_ts",
            F.col("asof_value").alias("asof_value"),
            "asof_direction",
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Funnel latency — time-to-convert from a user's FIRST view to their
# first purchase AFTER it. `funnel_conversion` counts who advances;
# this measures HOW LONG advancing takes — the metric product teams
# actually alert on. One row of corpus-level stats; latencies stay in
# integer microseconds, the mean is sum/count with a single divide
# (both engines run the identical IEEE op on exact inputs).
#
# Shape: two min-aggregations per user (first view; first purchase
# after it via a conditional min) — both ride one user_id exchange —
# then a 1-row global fold. No window needed at all: min over a
# filtered stream IS the "first event after t0" once t0 is joined
# back, and the t0 join is exchange-aligned with the aggs.
# ---------------------------------------------------------------------------
@register(
    "funnel_time_to_convert",
    """
    WITH v AS (
      SELECT user_id, min(ts) AS t0 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), conv AS (
      SELECT v.user_id,
             min(epoch_us(e.ts) - epoch_us(v.t0)) AS lat_us
      FROM v JOIN events e
        ON e.user_id = v.user_id AND e.event_type = 'purchase' AND e.ts >= v.t0
      GROUP BY v.user_id
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_viewers,
           CAST(count(*) AS BIGINT) AS n_converted,
           CAST(min(lat_us) AS BIGINT) AS min_us,
           CAST(max(lat_us) AS BIGINT) AS max_us,
           CAST(sum(lat_us) AS BIGINT) AS total_us,
           CAST(sum(lat_us) AS DOUBLE) / count(*) AS avg_us
    FROM conv
    """,
    doc="funnel latency: first view to first subsequent purchase, exact-integer stats",
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    conv = (
        e.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("t0"))
        .groupBy("user_id")
        .agg(
            F.min(
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(F.col("t0").cast("timestamp"))
            ).alias("lat_us")
        )
    )
    n_viewers = v.agg(F.count(F.lit(1)).alias("n_viewers"))
    return conv.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.min("lat_us").alias("min_us"),
        F.max("lat_us").alias("max_us"),
        F.sum("lat_us").alias("total_us"),
        (F.sum("lat_us").cast("double") / F.count(F.lit(1))).alias("avg_us"),
    ).crossJoin(F.broadcast(n_viewers)).select(
        "n_viewers", "n_converted", "min_us", "max_us", "total_us", "avg_us"
    )


# ---------------------------------------------------------------------------
# Forecasting feature matrix — per-(type, day) lag and rolling
# features (lag-1, lag-7, 7-day rolling sum and exact mean), the
# feature-prep step in front of any demand/traffic model. Joins the
# seasonal/CUSUM/rolling-median family on the SAME daily pre-agg
# shape: the n-sized stage is one partial-agged groupBy, every
# window rides one event_type exchange, frames are O(7). Values stay
# scaled BIGINTs; the mean is one divide of exact integers.
# ---------------------------------------------------------------------------
@register(
    "forecast_feature_matrix",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT) AS x
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type, CAST(ts AS DATE)
    )
    SELECT event_type, day, x,
           lag(x, 1) OVER w AS lag_1,
           lag(x, 7) OVER w AS lag_7,
           CAST(sum(x) OVER (PARTITION BY event_type ORDER BY day
                             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS sum_7,
           CAST(sum(x) OVER (PARTITION BY event_type ORDER BY day
                             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
             / count(*) OVER (PARTITION BY event_type ORDER BY day
                              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS ma_7
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ORDER BY event_type, day
    """,
    doc="lag/rolling feature matrix over the per-type daily series, exact integers",
)
def forecast_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = (
        ev.select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            F.floor(F.col("value") * 1000000.0).cast("bigint").alias("v"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("v").alias("x"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    frame = w.rowsBetween(-6, 0)
    return daily.select(
        "event_type",
        "day",
        "x",
        F.lag("x", 1).over(w).alias("lag_1"),
        F.lag("x", 7).over(w).alias("lag_7"),
        F.sum("x").over(frame).cast("bigint").alias("sum_7"),
        (
            F.sum("x").over(frame).cast("double")
            / F.count(F.lit(1)).over(frame)
        ).alias("ma_7"),
    ).orderBy("event_type", "day")


# ---------------------------------------------------------------------------
# Distinct counts under SLIDING windows — unique users per 1h window
# sliding every 30m. The "concurrent users" / rolling-reach metric,
# and the painful one: every event belongs to TWO windows, and
# count(DISTINCT) cannot partial-aggregate, so the shape that
# matters is dedup-BEFORE-fan-out: distinct (user, 30m half-window)
# first (partial-aggregable, shrinks the stream to ≤2·|users| rows
# per slide), THEN expand each half-window row to its two covering
# windows and count. Fan-out of the deduplicated keys, never of the
# raw event stream — at 100 TB that ordering is the whole game.
# In streaming form the same plan runs as dropDuplicates within the
# watermark + windowed count (stream_dedup_exactly_once's state
# story applied per window).
# ---------------------------------------------------------------------------
@register(
    "window_sliding_distinct",
    """
    WITH halves AS (
      SELECT DISTINCT user_id, time_bucket(INTERVAL '30 minutes', ts) AS h
      FROM events
    ), fanned AS (
      SELECT user_id,
             unnest([h, h - INTERVAL '30 minutes']) AS window_start
      FROM halves
    )
    SELECT window_start,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM fanned
    GROUP BY window_start
    ORDER BY window_start
    """,
    doc="distinct users per sliding 1h/30m window: dedup-before-fan-out shape",
)
def window_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    halves = (
        e.select(
            "user_id",
            F.window("ts", "30 minutes").getField("start").alias("h"),
        )
        .distinct()
    )
    fanned = halves.select(
        "user_id",
        F.explode(
            F.array(F.col("h"), F.col("h") - F.expr("INTERVAL 30 MINUTES"))
        ).alias("window_start"),
    )
    return (
        fanned.groupBy("window_start")
        .agg(F.count_distinct("user_id").alias("n_users"))
        .orderBy("window_start")
    )


# ---------------------------------------------------------------------------
# Marketing attribution — last-touch AND first-touch revenue credit
# per channel, in one pipeline: channel comes out of the JSON props
# (the Jsonb lane), last touch is the as-of join (each purchase's
# most recent prior click), first touch is the user's earliest click
# (min_by over one user exchange), and the credit fan-in rides the
# exact-decimal sum lane. The composition proof for the attribution
# surface: json extraction + union+window as-of + broadcast-joined
# first-touch table + partial-agged credit sums, with every shuffle
# on user_id until the final |channels|-row aggregation.
#
# Credit rule: purchases with no prior click in either model land in
# channel -1 ("direct") so total credited revenue is conserved —
# the invariant attribution dashboards are audited against.
# ---------------------------------------------------------------------------
@register(
    "attribution_channels",
    """
    WITH clicks AS (
      SELECT user_id, ts,
             CAST(json_extract_string(props, '$.k') AS INT) % 5 AS channel
      FROM events WHERE event_type = 'click'
    ), purchases AS (
      SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
    ), last_touch AS (
      SELECT p.event_id, p.value, coalesce(c.channel, -1) AS channel
      FROM purchases p
      ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
    ), first_click AS (
      SELECT user_id, arg_min(channel, ts) AS channel, min(ts) AS first_ts
      FROM clicks GROUP BY user_id
    ), first_touch AS (
      SELECT p.event_id, p.value,
             CASE WHEN f.first_ts IS NOT NULL AND f.first_ts <= p.ts
                  THEN f.channel ELSE -1 END AS channel
      FROM purchases p LEFT JOIN first_click f ON p.user_id = f.user_id
    ), lt AS (
      SELECT channel, CAST(count(*) AS BIGINT) AS lt_purchases,
             CAST(CAST(sum(CAST(value AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
               AS lt_revenue
      FROM last_touch GROUP BY channel
    ), ft AS (
      SELECT channel, CAST(count(*) AS BIGINT) AS ft_purchases,
             CAST(CAST(sum(CAST(value AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
               AS ft_revenue
      FROM first_touch GROUP BY channel
    )
    SELECT coalesce(lt.channel, ft.channel) AS channel,
           coalesce(lt_purchases, 0) AS lt_purchases,
           coalesce(lt_revenue, 0.0) AS lt_revenue,
           coalesce(ft_purchases, 0) AS ft_purchases,
           coalesce(ft_revenue, 0.0) AS ft_revenue
    FROM lt FULL OUTER JOIN ft ON lt.channel = ft.channel
    ORDER BY channel
    """,
    doc="last-touch + first-touch channel attribution; revenue-conserving, exact sums",
)
def attribution_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sf_etl_spark.operators.joins import asof_join

    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        (F.get_json_object("props", "$.k").cast("int") % 5).alias("channel"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    last_touch = asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_payload=["channel"],
    ).select(
        "event_id",
        "value",
        F.coalesce(F.col("asof_channel"), F.lit(-1)).alias("channel"),
    )
    # first_click is a PER-USER aggregate — O(|users|) rows, unbounded
    # in data size — so it must NOT carry a broadcast hint (r6 ADVICE/
    # verdict task 2: forcing it risks driver OOM at the 100 TB scale
    # this lane targets). Unhinted, the join is exchange-aligned with
    # the user_id partitioning the aggregate itself produces, and AQE
    # is still free to broadcast when the runtime size is small.
    first_click = clicks.groupBy("user_id").agg(
        F.min_by("channel", "ts").alias("fchannel"), F.min("ts").alias("first_ts")
    )
    first_touch = (
        purchases.join(first_click, "user_id", "left")
        .select(
            "event_id",
            "value",
            F.when(
                F.col("first_ts").isNotNull() & (F.col("first_ts") <= F.col("ts")),
                F.col("fchannel"),
            )
            .otherwise(F.lit(-1))
            .alias("channel"),
        )
    )

    def credit(df: DataFrame, prefix: str) -> DataFrame:
        return df.groupBy("channel").agg(
            F.count(F.lit(1)).alias(f"{prefix}_purchases"),
            F.sum(F.col("value").cast("decimal(38,10)"))
            .cast("string")
            .cast("double")
            .alias(f"{prefix}_revenue"),
        )

    lt, ft = credit(last_touch, "lt"), credit(first_touch, "ft")
    return (
        lt.join(ft, "channel", "full_outer")
        .select(
            "channel",
            F.coalesce("lt_purchases", F.lit(0)).alias("lt_purchases"),
            F.coalesce("lt_revenue", F.lit(0.0)).alias("lt_revenue"),
            F.coalesce("ft_purchases", F.lit(0)).alias("ft_purchases"),
            F.coalesce("ft_revenue", F.lit(0.0)).alias("ft_revenue"),
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# Gaps-and-islands: per-user runs of CONSECUTIVE active days — the
# classic sessionization-at-day-granularity shape (streak detection,
# retention runs). The island key is the standard row_number trick:
# within a user, consecutive days share (day - row_number), so one
# window + one aggregation finds every island with no self-join and
# no iteration. Days are epoch-day integers (engine-portable; both
# sides truncate the same UTC timestamp to the same calendar date).
#
# Scale: distinct() and the window both partition by user_id — ONE
# shuffle alignment; per-user day lists are bounded by the calendar
# span, so no skew from hot users beyond days-in-range.
# ---------------------------------------------------------------------------
@register(
    "gap_islands_activity",
    """
    WITH d AS (
      SELECT DISTINCT user_id,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
      FROM events
    ), r AS (
      SELECT user_id, day,
             row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
      FROM d
    )
    SELECT user_id,
           CAST(min(day) AS BIGINT) AS start_day,
           CAST(max(day) AS BIGINT) AS end_day,
           CAST(count(*) AS BIGINT) AS n_days
    FROM r GROUP BY user_id, day - rn
    ORDER BY user_id, start_day
    """,
    doc="gaps-and-islands: per-user consecutive-active-day runs via the rn-diff trick",
)
def gap_islands_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("long").alias("day"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    r = d.withColumn("grp", F.col("day") - F.row_number().over(w))
    return (
        r.groupBy("user_id", "grp")
        .agg(
            F.min("day").alias("start_day"),
            F.max("day").alias("end_day"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .select("user_id", "start_day", "end_day", "n_days")
        .orderBy("user_id", "start_day")
    )


# ---------------------------------------------------------------------------
# Read-side CDC by snapshot diff — the complement of the write-side
# change feed (`merge_change_feed`, sink_roundtrip.py): given two
# as-of states of a per-customer aggregate (orders before T1 vs
# before T2), emit the change set a downstream consumer would apply.
# Orders are append-only, so the legal transitions are 'insert' (new
# customer) and 'update' (more orders); unchanged customers are
# filtered OUT — the change set is the delta, not a copy of the
# snapshot. Detection compares the order COUNT (monotone append ⇒
# equal count ⇔ identical order set), never the float total.
#
# Scale: both snapshots come off ONE scan shape (same groupBy key),
# the full-outer join rides the same o_custkey exchange, and the
# delta is the only thing that leaves the join — at 100 TB this is
# the o_custkey-aligned three-stage pipeline, no broadcast, no
# collect. Totals are exact-decimal so 'update' rows hash identically
# across engines.
# ---------------------------------------------------------------------------
_SNAP_T1, _SNAP_T2 = "1997-01-01", "1999-01-01"


@register(
    "snapshot_diff_cdc",
    f"""
    WITH a AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS n,
             CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS total
      FROM orders WHERE o_orderdate < TIMESTAMP '{_SNAP_T1} 00:00:00'
      GROUP BY o_custkey
    ), b AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS n,
             CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS total
      FROM orders WHERE o_orderdate < TIMESTAMP '{_SNAP_T2} 00:00:00'
      GROUP BY o_custkey
    )
    SELECT b.o_custkey,
           CASE WHEN a.o_custkey IS NULL THEN 'insert' ELSE 'update' END AS change_type,
           coalesce(a.n, 0) AS old_n, b.n AS new_n,
           coalesce(a.total, 0.0) AS old_total, b.total AS new_total
    FROM b LEFT JOIN a ON a.o_custkey = b.o_custkey
    WHERE a.o_custkey IS NULL OR a.n <> b.n
    ORDER BY b.o_custkey
    """,
    doc="read-side CDC: diff of two as-of per-customer snapshots → insert/update delta",
)
def snapshot_diff_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")

    def snap(cutoff: str) -> DataFrame:
        return (
            o.filter(F.col("o_orderdate") < F.lit(cutoff).cast("timestamp"))
            .groupBy("o_custkey")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("o_totalprice").cast("decimal(38,10)"))
                .cast("string")
                .cast("double")
                .alias("total"),
            )
        )

    a = snap(_SNAP_T1).select(
        F.col("o_custkey").alias("a_key"),
        F.col("n").alias("old_n"),
        F.col("total").alias("old_total"),
    )
    b = snap(_SNAP_T2)
    return (
        b.join(a, b["o_custkey"] == a["a_key"], "left")
        .filter(F.col("a_key").isNull() | (F.col("old_n") != F.col("n")))
        .select(
            "o_custkey",
            F.when(F.col("a_key").isNull(), F.lit("insert"))
            .otherwise(F.lit("update"))
            .alias("change_type"),
            F.coalesce("old_n", F.lit(0)).alias("old_n"),
            F.col("n").alias("new_n"),
            F.coalesce("old_total", F.lit(0.0)).alias("old_total"),
            F.col("total").alias("new_total"),
        )
        .orderBy("o_custkey")
    )


# ---------------------------------------------------------------------------
# Sequence-pattern matching (MATCH_RECOGNIZE-lite): each user's event
# history becomes an ordered initial-character string and a REGEX
# expresses the behavioral pattern — here "a view, then a click, then
# a purchase, with no error anywhere between" (v[^e]*c[^e]*p). This
# is the pattern language funnels can't express (funnel_conversion
# counts stage reachability; the regex constrains what happens
# BETWEEN stages). The per-user string is built deterministically
# (sort by ts, event_id) and the character classes used are semantics-
# identical across Java regex (Spark) and RE2 (DuckDB) — no
# backreferences/lookaround, which RE2 lacks, are allowed here.
#
# Scale: ONE user_id shuffle builds the per-user strings via
# partial-aggregable collect_list; the regex is a narrow JVM map over
# one string per user. No joins, no unbounded-partition window sort
# (user_id is high-cardinality). The "session-history-sized" contract
# is ENFORCED, not assumed (r7 verdict task 6): only each user's
# FIRST _SEQ_CAP events (by ts, event_id) enter the string — a
# row_number prefilter riding the same user_id exchange — so a
# million-event power user can neither blow the collect_list buffer
# nor build a giant row. The cap is part of the lane's semantics and
# is applied identically in the oracle.
# ---------------------------------------------------------------------------
_SEQ_PATTERN = "v[^e]*c[^e]*p"
_SEQ_CAP = 10_000


@register(
    "event_pattern_regex",
    f"""
    WITH ranked AS (
      SELECT user_id, event_type, ts, event_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ), seq AS (
      SELECT user_id,
             string_agg(substring(event_type, 1, 1), '' ORDER BY ts, event_id) AS s
      FROM ranked WHERE rn <= {_SEQ_CAP} GROUP BY user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(count(CASE WHEN regexp_matches(s, '{_SEQ_PATTERN}') THEN 1 END) AS BIGINT) AS n_matched,
           CAST(count(CASE WHEN regexp_matches(s, '{_SEQ_PATTERN}') THEN 1 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS match_rate
    FROM seq
    """,
    doc=f"MATCH_RECOGNIZE-lite: users whose ordered event string matches {_SEQ_PATTERN!r}",
)
def event_pattern_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    capped = ev.withColumn("_rn", F.row_number().over(w_user)).filter(
        F.col("_rn") <= _SEQ_CAP
    )
    seq = (
        capped.select(
            "user_id",
            F.struct("ts", "event_id", F.substring("event_type", 1, 1).alias("c")).alias("s"),
        )
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list("s")), lambda s: s["c"]), ""
            ).alias("s")
        )
    )
    hit = F.when(F.col("s").rlike(_SEQ_PATTERN), 1)
    return seq.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count(hit).alias("n_matched"),
        (F.count(hit).cast("double") / F.count(F.lit(1)).cast("double")).alias("match_rate"),
    )
