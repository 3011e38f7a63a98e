"""Registry entries that exercise the REAL Structured Streaming path
(readStream → stateful plan → availableNow → memory sink), not just
the batch twins in streaming_batch.py.

Each entry stages the bounded ``events`` table as an ordered chunked
file stream, replays it through the streaming plan, and returns the
materialized result — so the driver's oracle gate verifies actual
replay semantics (micro-batch state merge, watermark dedup, custom
state) rather than only the shared window operators.

Session tz is pinned to UTC inside each entry: watermark columns must
be TIMESTAMP (LTZ), and UTC makes the LTZ↔NTZ round trip
value-preserving so results hash-match the NTZ-based oracle.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sf_etl_spark.queries import register


# Staged replay sources are immutable once written, so the four
# stream_* lanes share them per (sf_dir, duplicate) instead of paying
# the sort+write staging job once per lane (r10 verdict task 5 — the
# staging was over half of each lane's wall time). Keyed on content
# inputs only: any SparkSession can read a dir another one staged.
_STAGE_CACHE: dict[tuple[str, bool], str] = {}

# 4 chunks at 2 files/trigger = 2 micro-batches (4 for the duplicated
# dedup fixture): still a real cross-batch state merge, half the
# per-batch planning/state-store overhead of 1 file/trigger.
_REPLAY_FILES_PER_TRIGGER = 2
# For lanes whose semantics don't depend on replay order across files
# (complete-mode tumbling agg, monotone stateful counts) the whole
# staged source can land in one trigger — r11 verdict task 5; the A/B
# at sf0.1 measured tumbling 1.04→0.68 s and stateful 2.62→1.44 s
# with identical results. Dedup/join lanes KEEP the multi-batch
# replay: their watermark/exactly-once semantics are what the
# multi-batch schedule exists to exercise.
_REPLAY_FILES_PER_TRIGGER_ORDER_FREE = 4


def _stage(spark: SparkSession, sf_dir: str, duplicate: bool = False) -> str:
    from sf_etl_spark.streaming import stage_events_as_stream_source

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    key = (sf_dir, duplicate)
    cached = _STAGE_CACHE.get(key)
    if cached is not None and os.path.isdir(cached):
        return cached
    out = tempfile.mkdtemp(prefix="stream_src_")
    _STAGE_CACHE[key] = stage_events_as_stream_source(
        spark, sf_dir, out, n_chunks=4, duplicate=duplicate
    )
    return _STAGE_CACHE[key]


@register(
    "stream_tumbling_1h",
    """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           CAST(count(*) AS BIGINT)           AS n_events,
           CAST(CAST(sum(CAST(value AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
    doc="REAL readStream replay of the 1h tumbling agg (complete mode)",
    executes_on_construct=True,
)
def stream_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sf_etl_spark.streaming import events_stream, run_to_memory_table, stream_tumbling_agg

    src = _stage(spark, sf_dir)
    name, _ = run_to_memory_table(
        stream_tumbling_agg(events_stream(spark, src, max_files_per_trigger=_REPLAY_FILES_PER_TRIGGER_ORDER_FREE)),
        output_mode="complete",
        shuffle_partitions=8,  # fixture state is (type, hour)-bounded
    )
    return (
        spark.table(name)
        .withColumn("window_start", F.col("window_start").cast("timestamp_ntz"))
        .orderBy("window_start", "event_type")
    )


@register(
    "stream_dedup_exactly_once",
    """
    SELECT event_id FROM events ORDER BY event_id
    """,
    doc="dropDuplicatesWithinWatermark under duplicated at-least-once replay",
    executes_on_construct=True,
)
def stream_dedup_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sf_etl_spark.streaming import (
        events_stream,
        run_to_memory_table,
        stream_dedup_within_watermark,
    )

    src = _stage(spark, sf_dir, duplicate=True)
    name, _ = run_to_memory_table(
        stream_dedup_within_watermark(events_stream(spark, src, max_files_per_trigger=_REPLAY_FILES_PER_TRIGGER)),
        output_mode="append",
        shuffle_partitions=8,  # dedup state ~ event ids in watermark
    )
    return spark.table(name).select("event_id").orderBy("event_id")


@register(
    "stream_stream_join_attribution",
    """
    SELECT c.event_id AS click_id,
           p.event_id AS purchase_id,
           c.user_id,
           CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS gap_seconds
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 30 MINUTE
    ORDER BY click_id, purchase_id
    """,
    doc="REAL stream-stream interval join (watermarked both sides, state-pruned)",
    executes_on_construct=True,
)
def stream_stream_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sf_etl_spark.streaming import (
        events_stream,
        run_to_memory_table,
        stream_click_attribution,
    )

    src = _stage(spark, sf_dir)
    clicks = events_stream(spark, src, max_files_per_trigger=_REPLAY_FILES_PER_TRIGGER).filter(F.col("event_type") == "click")
    purchases = events_stream(spark, src, max_files_per_trigger=_REPLAY_FILES_PER_TRIGGER).filter(F.col("event_type") == "purchase")
    name, _ = run_to_memory_table(
        stream_click_attribution(clicks, purchases),
        output_mode="append",
        shuffle_partitions=8,  # join state ~ clicks in 30min horizon
    )
    return spark.table(name).orderBy("click_id", "purchase_id")


@register(
    "stream_session_window",
    """
    WITH o AS (
      SELECT user_id, ts, value, event_id, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pus
      FROM events
    ), flg AS (
      -- Spark session windows are [start, last + gap): an event AT
      -- exactly prev + gap starts a NEW session, so the break test is
      -- >= in exact microsecond arithmetic
      SELECT *, CASE WHEN pus IS NULL OR us - pus >= 300000000 THEN 1 ELSE 0 END AS newf
      FROM o
    ), sids AS (
      SELECT *, sum(newf) OVER (PARTITION BY user_id ORDER BY us, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
      FROM flg
    ), sess AS (
      SELECT user_id,
             min(ts) AS session_start,
             max(ts) + INTERVAL 5 MINUTE AS session_end,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(CAST(sum(CAST(value AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS total_value
      FROM sids GROUP BY user_id, sid
    )
    -- append mode emits a session once the watermark passes its end;
    -- the availableNow run's final watermark is max(ts) - the 10m
    -- delay, so sessions still open past it stay in state by design
    SELECT user_id, session_start, session_end, n_events, total_value
    FROM sess
    WHERE session_end <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
    ORDER BY user_id, session_start
    """,
    doc="REAL readStream session windows (F.session_window, 5m gap, append mode)",
    executes_on_construct=True,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live session-window aggregation — ``F.session_window`` is the
    one window type whose STATE must merge across micro-batches (two
    partial sessions from different batches coalesce when an event
    bridges them), so the multi-batch replay is the semantics under
    test, not overhead. The oracle restates gaps-and-islands
    sessionization in exact microsecond arithmetic plus the append-
    mode emission rule (sessions closed before the final watermark).

    Scale: state per (user, open session) only inside the watermark
    horizon — the bounded-state contract; the batch twin for
    unbounded retrospectives is ``sessionize_events``.
    """
    from sf_etl_spark.streaming import events_stream, run_to_memory_table, stream_session_agg

    src = _stage(spark, sf_dir)
    name, _ = run_to_memory_table(
        stream_session_agg(events_stream(spark, src, max_files_per_trigger=_REPLAY_FILES_PER_TRIGGER)),
        output_mode="append",
        shuffle_partitions=8,  # state ~ open sessions per user
    )
    return (
        spark.table(name)
        .withColumn("session_start", F.col("session_start").cast("timestamp_ntz"))
        .withColumn("session_end", F.col("session_end").cast("timestamp_ntz"))
        .orderBy("user_id", "session_start")
    )


@register(
    "stream_stream_left_join_unmatched",
    """
    WITH c AS (
      SELECT event_id AS click_id, user_id, ts AS click_ts
      FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
      FROM events WHERE event_type = 'purchase'
    ), m AS (
      SELECT c.click_id, p.purchase_id, c.user_id,
             CAST(date_diff('second', c.click_ts, p.purchase_ts) AS BIGINT) AS gap_seconds
      FROM c JOIN p
        ON c.user_id = p.user_id
       AND p.purchase_ts >= c.click_ts
       AND p.purchase_ts < c.click_ts + INTERVAL 30 MINUTE
    ), wm AS (
      -- the global watermark of a two-watermark query is the MIN of
      -- the per-stream watermarks (multipleWatermarkPolicy=min):
      -- each side's watermark = its own max event time - 30m delay
      SELECT least((SELECT max(ts) FROM events WHERE event_type = 'click'),
                   (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
             - INTERVAL 30 MINUTE AS w
    ), u AS (
      -- a click emits its NULL row when state eviction proves no
      -- future purchase can match: click_ts + horizon within the
      -- final watermark; younger unmatched clicks stay in state
      SELECT c.click_id, CAST(NULL AS BIGINT) AS purchase_id, c.user_id,
             CAST(NULL AS BIGINT) AS gap_seconds
      FROM c, wm
      WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.click_id = c.click_id)
        AND c.click_ts + INTERVAL 30 MINUTE <= wm.w
    )
    SELECT * FROM m UNION ALL SELECT * FROM u
    ORDER BY click_id, purchase_id
    """,
    doc="stream-stream LEFT OUTER join: unmatched clicks emitted as NULL rows at watermark eviction",
    executes_on_construct=True,
)
def stream_stream_left_join_unmatched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OUTER leg of the watermarked interval join: conversions
    emit as they match (the inner lane's rows, row-identical), and a
    click whose join state is evicted without matching emits ONCE
    with NULL purchase columns — "never converted" as a streaming
    output instead of a second batch scan. Which clicks have
    null-emitted by stream end is watermark-determined, so the oracle
    restates the eviction rule exactly (min-of-watermarks policy,
    calibrated empirically: the one withheld click at sf0.001 is the
    max-click-time click itself, whose side watermark never passes
    it).

    Scale: same bounded state as the inner join — the interval
    condition is what makes eviction (and thus the outer emission)
    possible at all; an unbounded left stream join cannot emit nulls.
    """
    from sf_etl_spark.streaming import (
        events_stream,
        run_to_memory_table,
        stream_click_attribution,
    )

    src = _stage(spark, sf_dir)
    clicks = events_stream(spark, src, max_files_per_trigger=_REPLAY_FILES_PER_TRIGGER).filter(F.col("event_type") == "click")
    purchases = events_stream(spark, src, max_files_per_trigger=_REPLAY_FILES_PER_TRIGGER).filter(F.col("event_type") == "purchase")
    name, _ = run_to_memory_table(
        stream_click_attribution(clicks, purchases, how="left"),
        output_mode="append",
        shuffle_partitions=8,  # join state ~ clicks in 30min horizon
    )
    return spark.table(name).orderBy("click_id", "purchase_id")


@register(
    "stream_stateful_user_agg",
    """
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id ORDER BY user_id
    """,
    doc="applyInPandasWithState running per-user counts; final state vs batch agg",
    executes_on_construct=True,
)
def stream_stateful_user_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sf_etl_spark.streaming import (
        events_stream,
        run_to_memory_table,
        stream_stateful_user_counts,
    )

    src = _stage(spark, sf_dir)
    name, _ = run_to_memory_table(
        stream_stateful_user_counts(events_stream(spark, src, max_files_per_trigger=_REPLAY_FILES_PER_TRIGGER_ORDER_FREE)),
        output_mode="update",
        shuffle_partitions=8,  # per-user count state, fixture users
    )
    # counts are monotone across updates → max is the final state
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Stream → Bulk 2.0 UPSERT sink (C2 × C11): the pattern a production
# CDC pipeline actually runs against a Salesforce-style backend —
# a streaming aggregation in update mode feeding ``foreachBatch``,
# each micro-batch upserted by external id (one idempotent ingest job
# per written partition). Exactly-once EFFECT comes from upsert
# idempotence, not transactions (Bulk 2.0 has none): the lane
# replays batch 0's write a second time (an injected Spark batch
# retry) and asserts the scan-back still has one row per key with
# the exact batch-query totals — the DuckDB oracle seals it.
#
# Scale shape: update-mode emission sends only CHANGED keys per
# micro-batch (not the full state), each batch's write fans out one
# Bulk job per partition, and the upsert key is the stream's own
# group key — so a retry of any batch, or an overlap between
# batches, converges to the same backend state. The reference has no
# ingest leg at all (extract-only, `client.rs`); this is the
# north-star CDC surface built on the r11 upsert writer.
# ---------------------------------------------------------------------------
@register(
    "stream_sink_sfetl_upsert",
    """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events GROUP BY user_id ORDER BY user_id
    """,
    doc="stream agg -> foreachBatch Bulk 2.0 upsert (idempotent under injected batch retry) -> scan back",
    executes_on_construct=True,
)
def stream_sink_sfetl_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sf_etl_spark.connector import read_object
    from sf_etl_spark.connector.datasource import register as register_sfetl
    from sf_etl_spark.connector.mockserver import MockSalesforce
    from sf_etl_spark.streaming import events_stream

    fields = [
        {"name": "Id", "type": "id", "length": 18, "nillable": False},
        {"name": "ExtKey", "type": "string", "length": 20},
        {"name": "NEvents", "type": "long"},
        {"name": "ValueCents", "type": "long"},
    ]
    server = MockSalesforce(object_name="UserAgg", fields=fields, rows=[])
    url = server.start()
    try:
        opts = {
            "login_url": url,
            "client_id": "app",
            "client_secret": "shhh",
            "username": "user@test",
            "password": "pw",
            "object": "UserAgg",
        }
        register_sfetl(spark)
        src = _stage(spark, sf_dir)
        agg = (
            events_stream(
                spark, src, max_files_per_trigger=_REPLAY_FILES_PER_TRIGGER
            )
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("NEvents"),
                F.sum(
                    F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
                ).alias("ValueCents"),
            )
        )

        def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
            out = batch_df.select(
                F.col("user_id").cast("string").alias("ExtKey"),
                F.col("NEvents"),
                F.col("ValueCents"),
            ).repartition(2)  # 2 partitions -> 2 parallel ingest jobs
            writer = (
                out.write.format("sfetl")
                .options(
                    **opts, operation="upsert", externalIdFieldName="ExtKey"
                )
                .mode("append")
            )
            writer.save()
            if batch_id == 0:
                # injected batch RETRY: Spark re-runs a whole batch
                # after a sink failure; upsert-by-key must converge to
                # the same backend state, not duplicate rows
                writer.save()

        sess = spark
        prev = sess.conf.get("spark.sql.shuffle.partitions")
        sess.conf.set("spark.sql.shuffle.partitions", "8")  # state ~ |users|
        try:
            q = (
                agg.writeStream.outputMode("update")
                .foreachBatch(upsert_batch)
                .option(
                    "checkpointLocation", tempfile.mkdtemp(prefix="ckpt_")
                )
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            sess.conf.set("spark.sql.shuffle.partitions", prev)
        raw = read_object(
            spark, {**opts, "chunk_size": "500"}, "UserAgg", coerce=False
        )
        back = raw.localCheckpoint(eager=True)
        dups = (
            back.groupBy("ExtKey")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
            .count()
        )
        if dups:
            raise ValueError(
                f"{dups} upsert keys duplicated after injected batch retry "
                "— the sink is not idempotent"
            )
    finally:
        server.stop()
    return (
        back.select(
            F.col("ExtKey").cast("bigint").alias("user_id"),
            F.col("NEvents").cast("bigint").alias("n_events"),
            F.col("ValueCents").cast("bigint").alias("value_cents"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# NATIVE streaming sink (no foreachBatch): ``df.writeStream.format(
# "sfetl")`` drives SfIngestStreamWriter — per micro-batch, one Bulk
# 2.0 ingest job per partition, commit() polling all of the batch's
# jobs to JobComplete before the engine records the batch offset.
# Upsert-by-external-id makes the replay-after-restart contract
# exactly-once-by-idempotence (insert would be at-least-once). The
# key-bounded slice keeps the staged HTTP payload fixture-sized; the
# machinery under test (stream writer epochs, job-per-partition
# fan-out, commit barrier) scales with partitions, not keys.
# ---------------------------------------------------------------------------
_NATIVE_SINK_USER_CAP = 30


@register(
    "stream_sink_sfetl_native",
    f"""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events
    WHERE user_id < {_NATIVE_SINK_USER_CAP}
    GROUP BY event_type ORDER BY event_type
    """,
    doc="events stream -> NATIVE writeStream.format('sfetl') upsert sink -> scan back -> agg",
    executes_on_construct=True,
)
def stream_sink_sfetl_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sf_etl_spark.connector import read_object
    from sf_etl_spark.connector.datasource import register as register_sfetl
    from sf_etl_spark.connector.mockserver import MockSalesforce
    from sf_etl_spark.streaming import events_stream

    fields = [
        {"name": "Id", "type": "id", "length": 18, "nillable": False},
        {"name": "EExt", "type": "string", "length": 24},
        {"name": "EType", "type": "string", "length": 20},
        {"name": "Cents", "type": "long"},
    ]
    server = MockSalesforce(object_name="Event", fields=fields, rows=[])
    url = server.start()
    try:
        opts = {
            "login_url": url,
            "client_id": "app",
            "client_secret": "shhh",
            "username": "user@test",
            "password": "pw",
            "object": "Event",
        }
        register_sfetl(spark)
        src = _stage(spark, sf_dir)
        out = (
            events_stream(
                spark, src, max_files_per_trigger=_REPLAY_FILES_PER_TRIGGER
            )
            .filter(F.col("user_id") < _NATIVE_SINK_USER_CAP)
            .select(
                F.col("event_id").cast("string").alias("EExt"),
                F.col("event_type").alias("EType"),
                F.floor(F.col("value") * 100 + F.lit(0.5))
                .cast("bigint")
                .alias("Cents"),
            )
            .repartition(2)  # 2 ingest jobs per micro-batch
        )
        q = (
            out.writeStream.format("sfetl")
            .options(**opts, operation="upsert", externalIdFieldName="EExt")
            .outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        n_jobs = sum(
            1 for j in server.jobs.values() if j.get("kind") == "ingest"
        )
        if n_jobs < 2:
            raise ValueError(
                f"expected >= 2 ingest jobs across micro-batches, got {n_jobs}"
            )
        raw = read_object(
            spark, {**opts, "chunk_size": "5000"}, "Event", coerce=False
        )
        back = raw.localCheckpoint(eager=True)
    finally:
        server.stop()
    return (
        back.select(
            F.col("EType").alias("event_type"),
            F.col("Cents").cast("bigint").alias("cents"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("value_cents"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Failed-rows leg for the STREAMING sink (r11 verdict task 3): the
# batch writer surfaces rejects via failed_results_df, but a stream
# that hits partial rejects between micro-batches would lose them
# silently. With ``failed_results_path`` set, the native sink's
# commit(batchId) downloads each job's /failedResults and appends the
# batch's rejects to a JSON-lines side table (file named by batchId —
# a replayed batch overwrites its own rejects, exactly-once on the
# side table). The lane poisons every 7th event key (NULL external id
# → the backend rejects exactly those rows), streams the rest through
# the upsert sink, and the side table must surface EXACTLY the
# poisoned keys — the DuckDB oracle recomputes them from the source.
# ---------------------------------------------------------------------------
@register(
    "stream_sink_sfetl_failed_rows",
    f"""
    SELECT CAST(event_id AS BIGINT) AS event_id
    FROM events
    WHERE user_id < {_NATIVE_SINK_USER_CAP} AND event_id % 7 = 0
    ORDER BY event_id
    """,
    doc="native stream upsert with poisoned keys -> per-batch /failedResults capture -> side table = exactly the poisoned keys",
    executes_on_construct=True,
)
def stream_sink_sfetl_failed_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sf_etl_spark.connector import read_object
    from sf_etl_spark.connector.datasource import register as register_sfetl
    from sf_etl_spark.connector.ingest import REJECTS_SCHEMA
    from sf_etl_spark.connector.mockserver import MockSalesforce
    from sf_etl_spark.streaming import events_stream

    fields = [
        {"name": "Id", "type": "id", "length": 18, "nillable": False},
        {"name": "ExtKey", "type": "string", "length": 24},
        {"name": "EKey", "type": "long"},
        {"name": "Cents", "type": "long"},
    ]
    server = MockSalesforce(object_name="Event", fields=fields, rows=[])
    url = server.start()
    try:
        opts = {
            "login_url": url,
            "client_id": "app",
            "client_secret": "shhh",
            "username": "user@test",
            "password": "pw",
            "object": "Event",
        }
        register_sfetl(spark)
        src = _stage(spark, sf_dir)
        side = tempfile.mkdtemp(prefix="sfetl_rejects_")
        out = (
            events_stream(
                spark, src, max_files_per_trigger=_REPLAY_FILES_PER_TRIGGER
            )
            .filter(F.col("user_id") < _NATIVE_SINK_USER_CAP)
            .select(
                # every 7th key NULL -> empty external id on the wire
                # -> rejected; EKey always rides along so the reject
                # payload identifies the poisoned business key
                F.when(
                    F.col("event_id") % 7 != 0,
                    F.col("event_id").cast("string"),
                ).alias("ExtKey"),
                F.col("event_id").alias("EKey"),
                F.floor(F.col("value") * 100 + F.lit(0.5))
                .cast("bigint")
                .alias("Cents"),
            )
            .repartition(2)  # 2 ingest jobs per micro-batch
        )
        q = (
            out.writeStream.format("sfetl")
            .options(
                **opts,
                operation="upsert",
                externalIdFieldName="ExtKey",
                failed_results_path=side,
            )
            .outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        n_files = len(
            [f for f in os.listdir(side) if f.endswith(".jsonl")]
        )
        if n_files < 2:
            raise ValueError(
                f"expected per-batch reject files across >= 2 micro-batches, "
                f"got {n_files}"
            )
        rejects = spark.read.schema(REJECTS_SCHEMA).json(side)
        # belt-and-braces: the healthy keys really landed on the backend
        n_ok = read_object(
            spark, {**opts, "chunk_size": "5000"}, "Event", coerce=False
        ).count()
        back = rejects.localCheckpoint(eager=True)
        if back.count() + n_ok == 0:
            raise ValueError("neither rejects nor applied rows — sink no-op")
    finally:
        server.stop()
    return (
        back.select(F.col("fields")["EKey"].cast("bigint").alias("event_id"))
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# FULL OUTER stream-stream join — the third leg of the watermarked
# interval-join family (inner `stream_stream_join_attribution`, left
# `stream_stream_left_join_unmatched`): matched conversions emit as
# they match, unmatched CLICKS null-emit at state eviction (the left
# lane's rule), and unmatched PURCHASES — conversions with no
# attributable click, the orphan stream an attribution pipeline
# reconciles — null-emit when THEIR state evicts. The purchase-side
# eviction rule is the symmetric calibration: a purchase can match
# clicks with click_ts in (purchase_ts − 30m, purchase_ts] — an
# INCLUSIVE upper bound, so at watermark == purchase_ts a same-
# timestamp click is not yet late and the purchase is provably
# unmatched only once the global watermark (min of the two per-stream
# watermarks) STRICTLY passes purchase_ts. Both eviction rules are
# restated exactly in the oracle (strict for purchases, inclusive for
# clicks — the horizon's strict upper bound makes the click boundary
# provable at equality); both boundaries are pinned against the
# engine by tests/test_stream_join_boundary.py.
# Scale: identical bounded state to the inner lane — the interval
# condition bounds BOTH sides, which is precisely what makes outer
# emission possible; an unbounded full stream join can never emit
# null rows at all.
# ---------------------------------------------------------------------------
@register(
    "stream_stream_full_join_unmatched",
    """
    WITH c AS (
      SELECT event_id AS click_id, user_id, ts AS click_ts
      FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
      FROM events WHERE event_type = 'purchase'
    ), m AS (
      SELECT c.click_id, p.purchase_id, c.user_id,
             CAST(date_diff('second', c.click_ts, p.purchase_ts) AS BIGINT) AS gap_seconds
      FROM c JOIN p
        ON c.user_id = p.user_id
       AND p.purchase_ts >= c.click_ts
       AND p.purchase_ts < c.click_ts + INTERVAL 30 MINUTE
    ), wm AS (
      SELECT least((SELECT max(ts) FROM events WHERE event_type = 'click'),
                   (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
             - INTERVAL 30 MINUTE AS w
    ), u AS (
      SELECT c.click_id, CAST(NULL AS BIGINT) AS purchase_id, c.user_id,
             CAST(NULL AS BIGINT) AS gap_seconds
      FROM c, wm
      WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.click_id = c.click_id)
        AND c.click_ts + INTERVAL 30 MINUTE <= wm.w
    ), up AS (
      -- STRICT inequality (r13 ADVICE, pinned by
      -- tests/test_stream_join_boundary.py): a purchase can match
      -- clicks with click_ts == purchase_ts, and at watermark ==
      -- purchase_ts such a click is not yet late — Spark keeps the
      -- purchase in state one more beat, so it null-emits only once
      -- the watermark STRICTLY passes purchase_ts. The click rule in
      -- u above is correctly INCLUSIVE: the horizon's strict upper
      -- bound makes a click provably unmatched AT equality.
      SELECT CAST(NULL AS BIGINT) AS click_id, p.purchase_id, p.user_id,
             CAST(NULL AS BIGINT) AS gap_seconds
      FROM p, wm
      WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.purchase_id = p.purchase_id)
        AND p.purchase_ts < wm.w
    )
    SELECT * FROM m UNION ALL SELECT * FROM u UNION ALL SELECT * FROM up
    ORDER BY click_id, purchase_id
    """,
    doc="stream-stream FULL OUTER join: unmatched clicks AND orphaned purchases null-emit at their state evictions",
    executes_on_construct=True,
)
def stream_stream_full_join_unmatched(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sf_etl_spark.streaming import (
        events_stream,
        run_to_memory_table,
        stream_click_attribution,
    )

    src = _stage(spark, sf_dir)
    clicks = events_stream(spark, src, max_files_per_trigger=_REPLAY_FILES_PER_TRIGGER).filter(F.col("event_type") == "click")
    purchases = events_stream(spark, src, max_files_per_trigger=_REPLAY_FILES_PER_TRIGGER).filter(F.col("event_type") == "purchase")
    name, _ = run_to_memory_table(
        stream_click_attribution(clicks, purchases, how="full_outer"),
        output_mode="append",
        shuffle_partitions=8,  # join state bounded by the 30m horizon per side
    )
    return spark.table(name).orderBy("click_id", "purchase_id")
