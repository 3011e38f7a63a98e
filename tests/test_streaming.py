"""Structured Streaming tests: replay the events fixture as ordered
micro-batches (availableNow) and check streaming results against the
equivalent batch plans (which are themselves oracle-verified in
test_queries_oracle.py) — the standard batch-parity harness for
streaming engines.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sf_etl_spark.queries.streaming_batch import window_session, window_tumbling
from sf_etl_spark.sources import load_table
from sf_etl_spark.streaming import (
    events_stream,
    run_to_memory_table,
    stage_events_as_stream_source,
    stream_dedup_within_watermark,
    stream_session_agg,
    stream_stateful_user_counts,
    stream_tumbling_agg,
)


@pytest.fixture(scope="module")
def staged(spark, sf_dir, tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream")
    return stage_events_as_stream_source(spark, sf_dir, str(d), n_chunks=4)


@pytest.fixture(scope="module")
def staged_dup(spark, sf_dir, tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream_dup")
    return stage_events_as_stream_source(spark, sf_dir, str(d), n_chunks=4, duplicate=True)


def rows_set(df, cols):
    return {tuple(r) for r in df.select(*cols).collect()}


def test_tumbling_stream_matches_batch(spark, sf_dir, staged):
    plan = stream_tumbling_agg(events_stream(spark, staged))
    name, q = run_to_memory_table(plan, output_mode="complete")
    got = spark.table(name)
    want = window_tumbling(spark, sf_dir)
    cols = ["window_start", "event_type", "n_events", "total_value"]
    assert rows_set(got, cols) == rows_set(want, cols)
    assert q.lastProgress["sources"][0]["description"].startswith("FileStreamSource")


def test_session_stream_matches_batch(spark, sf_dir, staged):
    plan = stream_session_agg(events_stream(spark, staged))
    name, _ = run_to_memory_table(plan, output_mode="complete")
    got = spark.table(name)
    want = window_session(spark, sf_dir)
    cols = ["user_id", "session_start", "session_end", "n_events", "total_value"]
    assert rows_set(got, cols) == rows_set(want, cols)


def test_append_mode_emits_closed_windows_only(spark, staged):
    """Append mode + watermark: only windows older than the final
    watermark are emitted — late-data discipline, not a bug."""
    plan = stream_tumbling_agg(events_stream(spark, staged))
    name, _ = run_to_memory_table(plan, output_mode="append")
    got = spark.table(name)
    # every emitted row is final (matches the complete-mode result)
    complete_name, _ = run_to_memory_table(
        stream_tumbling_agg(events_stream(spark, staged)), output_mode="complete"
    )
    complete = spark.table(complete_name)
    cols = ["window_start", "event_type", "n_events", "total_value"]
    assert rows_set(got, cols) <= rows_set(complete, cols)
    assert got.count() > 0


def test_dedup_within_watermark(spark, sf_dir, staged_dup):
    """Every chunk is delivered twice; watermarked dedup restores
    exactly-once by event_id."""
    plan = stream_dedup_within_watermark(events_stream(spark, staged_dup))
    name, _ = run_to_memory_table(plan, output_mode="append")
    got = spark.table(name)
    n_unique = load_table(spark, sf_dir, "events").count()
    assert got.count() == n_unique
    assert got.select("event_id").distinct().count() == n_unique


def test_stateful_user_counts(spark, sf_dir, staged):
    """applyInPandasWithState: the final update per user equals the
    batch per-user aggregate (counts are monotone, so max(n) is the
    final state)."""
    plan = stream_stateful_user_counts(events_stream(spark, staged))
    name, _ = run_to_memory_table(plan, output_mode="update")
    final = (
        spark.table(name)
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
    )
    want = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    assert rows_set(final, ["user_id", "n_events"]) == rows_set(want, ["user_id", "n_events"])


def test_foreach_batch_upsert(spark, sf_dir, staged, tmp_path):
    """foreachBatch merge sink: after replaying all micro-batches the
    parquet target holds exactly one row per key, the latest version."""
    from sf_etl_spark.streaming import read_merge_target
    from sf_etl_spark.streaming.pipelines import merge_into_partitioned_parquet

    target = str(tmp_path / "user_stats")
    plan = stream_stateful_user_counts(events_stream(spark, staged))
    (
        plan.writeStream.foreachBatch(
            lambda batch, _: merge_into_partitioned_parquet(batch, ["user_id"], target)
        )
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )

    got = read_merge_target(spark, target)
    want = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    assert got.count() == want.count()  # one row per user
    assert rows_set(got, ["user_id", "n_events"]) == rows_set(want, ["user_id", "n_events"])


def test_upsert_rewrites_only_touched_partitions(spark, tmp_path):
    """The keyed upsert must leave untouched key-bucket partitions
    byte-identical — the property that makes a continuously-upserted
    100 TB target affordable (cost per batch = O(touched buckets),
    not O(table))."""
    import hashlib

    from sf_etl_spark.streaming.pipelines import merge_into_partitioned_parquet

    target = str(tmp_path / "kv")
    n_buckets = 8
    base = spark.range(200).select(F.col("id").alias("k"), F.lit("v0").alias("v"))
    merge_into_partitioned_parquet(base, ["k"], target, n_buckets=n_buckets)

    def digest():
        out = {}
        for root, _, files in __import__("os").walk(target):
            for f in files:
                if f.endswith(".parquet"):
                    p = __import__("os").path.join(root, f)
                    rel = __import__("os").path.relpath(p, target)
                    with open(p, "rb") as fh:
                        out[rel] = hashlib.md5(fh.read()).hexdigest()
        return out

    before = digest()
    batch = spark.createDataFrame([(3, "v1"), (11, "v1"), (777, "new")], "k long, v string")
    touched = {
        r[0]
        for r in batch.select(
            F.pmod(F.xxhash64("k"), F.lit(n_buckets)).cast("int").alias("b")
        )
        .distinct()
        .collect()
    }
    assert len(touched) < n_buckets  # the test must exercise untouched buckets
    merge_into_partitioned_parquet(batch, ["k"], target, n_buckets=n_buckets)
    after = digest()
    from sf_etl_spark.streaming import read_merge_target

    def bucket_of(relpath: str) -> int:
        return int(relpath.split("_kbucket=")[1].split("/")[0])

    untouched_before = {p: h for p, h in before.items() if bucket_of(p) not in touched}
    untouched_after = {p: h for p, h in after.items() if bucket_of(p) not in touched}
    assert untouched_before == untouched_after  # same files, same bytes

    got = read_merge_target(spark, target)
    assert got.count() == 201  # 200 base + 1 new key
    vals = {r["k"]: r["v"] for r in got.collect()}
    assert vals[3] == "v1" and vals[11] == "v1" and vals[777] == "new"
    assert vals[5] == "v0"


def test_merge_into_clause_semantics(spark, tmp_path):
    """ANSI-MERGE clause behavior on the partitioned-parquet target:
    ordered WHEN MATCHED clauses (first true wins), conditional
    NOT MATCHED insert, target-only rows untouched, and the CDC op
    column stripped from the target schema."""
    from sf_etl_spark.streaming.pipelines import merge_into_partitioned_parquet
    from pyspark.sql import functions as F

    target = str(tmp_path / "merge_target")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "k int, v string"
    )
    merge_into_partitioned_parquet(base, ["k"], target, n_buckets=4)

    cdc = spark.createDataFrame(
        [
            (2, "B", "U"),   # matched update
            (3, None, "D"),  # matched delete
            (5, "e", "I"),   # unmatched insert
            (6, None, "D"),  # unmatched delete -> must NOT insert
        ],
        "k int, v string, op string",
    )
    merge_into_partitioned_parquet(
        cdc,
        ["k"],
        target,
        when_matched=[(F.col("op") == "D", "delete"), (None, "update")],
        not_matched_insert=F.col("op") != "D",
        drop_cols=["op"],
    )
    from sf_etl_spark.streaming import read_merge_target

    back = read_merge_target(spark, target).drop("_kbucket")
    assert "op" not in back.columns
    got = sorted((r.k, r.v) for r in back.collect())
    assert got == [(1, "a"), (2, "B"), (4, "d"), (5, "e")]


def test_merge_matched_no_clause_keeps_target_row(spark, tmp_path):
    """A matched row whose every clause condition is false leaves the
    target row untouched (SQL MERGE: no action fires)."""
    from sf_etl_spark.streaming.pipelines import merge_into_partitioned_parquet
    from pyspark.sql import functions as F

    target = str(tmp_path / "merge_noop")
    base = spark.createDataFrame([(1, "keep"), (2, "old")], "k int, v string")
    merge_into_partitioned_parquet(base, ["k"], target, n_buckets=4)
    src = spark.createDataFrame([(1, "clobber"), (2, "new")], "k int, v string")
    merge_into_partitioned_parquet(
        src,
        ["k"],
        target,
        when_matched=[(F.col("k") == 2, "update")],  # k=1 matches no clause
        not_matched_insert=False,
    )
    from sf_etl_spark.streaming import read_merge_target

    back = read_merge_target(spark, target).drop("_kbucket")
    assert sorted((r.k, r.v) for r in back.collect()) == [(1, "keep"), (2, "new")]


def test_merge_into_random_cdc_matches_model(spark, tmp_path):
    """Randomized CDC sequences vs a driver-side dict model: after any
    sequence of merge batches (insert/update/delete ops over a small
    key space), the stored table must equal the model exactly. Small
    deterministic cases beyond the hand-written clause tests — the two
    hazards found by hand (bucket-count mismatch, emptied-bucket
    resurrection) would both have been caught here."""
    import random

    from pyspark.sql import functions as F

    from sf_etl_spark.streaming.pipelines import (
        merge_into_partitioned_parquet,
        read_merge_target,
    )

    rng = random.Random(7)
    target = str(tmp_path / "cdc_model")
    model: dict[int, str] = {}

    # bootstrap
    base = [(k, f"v{k}") for k in range(10)]
    model.update({k: v for k, v in base})
    merge_into_partitioned_parquet(
        spark.createDataFrame(base, "k int, v string"), ["k"], target, n_buckets=4
    )

    for round_no in range(4):
        batch = []
        for k in rng.sample(range(16), rng.randint(1, 8)):
            op = rng.choice(["U", "D"])
            val = f"r{round_no}k{k}"
            batch.append((k, val, op))
            if op == "D":
                model.pop(k, None)
            else:
                model[k] = val
        merge_into_partitioned_parquet(
            spark.createDataFrame(batch, "k int, v string, op string"),
            ["k"],
            target,
            # deliberately wrong n_buckets: the target's recorded
            # bucket count must win
            when_matched=[(F.col("op") == "D", "delete"), (None, "update")],
            not_matched_insert=F.col("op") != "D",
            drop_cols=["op"],
            n_buckets=16,
        )
        got = {
            r.k: r.v
            for r in read_merge_target(spark, target).drop("_kbucket").collect()
        }
        assert got == model, f"round {round_no}: {got} != {model}"


def test_vacuum_merge_staging(spark, tmp_path):
    import os

    from sf_etl_spark.streaming.pipelines import (
        merge_into_partitioned_parquet,
        vacuum_merge_staging,
    )

    target = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a")], "k int, v string")
    merge_into_partitioned_parquet(df, ["k"], target, n_buckets=2)
    # simulate two crashed merges
    os.makedirs(target + "__upsert_stage_deadbeef")
    os.makedirs(target + "__upsert_stage_cafef00d")
    assert vacuum_merge_staging(spark, target) == 2
    assert vacuum_merge_staging(spark, target) == 0  # idempotent
    from sf_etl_spark.streaming import read_merge_target

    assert read_merge_target(spark, target).count() == 1  # target untouched


def test_merge_commit_is_snapshot_atomic(spark, tmp_path):
    """The manifest swap is the commit point: a reader that resolved
    the manifest BEFORE a merge materializes fully-OLD data even when
    collected after the merge finished (its commit dirs are immutable
    and still on disk); a reader resolving AFTER sees fully-NEW. No
    interleaving can observe bucket A new / bucket B old — the exact
    torn-read window the pre-manifest dynamic-overwrite commit had."""
    from sf_etl_spark.streaming.pipelines import (
        merge_into_partitioned_parquet,
        read_merge_target,
    )

    target = str(tmp_path / "snap")
    base = spark.range(100).select(
        F.col("id").alias("k"), F.lit("old").alias("v")
    )
    merge_into_partitioned_parquet(base, ["k"], target, n_buckets=8)

    # reader 1 resolves the manifest now (plan pinned to old commits)
    old_snapshot = read_merge_target(spark, target)

    # a merge touching EVERY bucket (worst case for a torn read)
    batch = spark.range(100).select(
        F.col("id").alias("k"), F.lit("new").alias("v")
    )
    merge_into_partitioned_parquet(batch, ["k"], target, n_buckets=8)

    got_old = {r.v for r in old_snapshot.collect()}
    assert got_old == {"old"}  # fully old — no mixed versions

    got_new = {r.v for r in read_merge_target(spark, target).collect()}
    assert got_new == {"new"}  # fully new


def test_merge_crash_before_manifest_swap_is_invisible(spark, tmp_path):
    """A commit directory without a manifest reference (what a crash
    between data write and manifest swap leaves) must not change what
    readers see, and vacuum must remove it."""
    import os

    from sf_etl_spark.streaming.pipelines import (
        merge_into_partitioned_parquet,
        read_merge_target,
        vacuum_merge_staging,
    )

    target = str(tmp_path / "crashy")
    base = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    merge_into_partitioned_parquet(base, ["k"], target, n_buckets=2)

    # simulate the crash: orphan commit dir with plausible content
    orphan = os.path.join(target, "commit_deadbeef")
    spark.createDataFrame([(9, "ghost", 0)], "k int, v string, _kbucket int").write.partitionBy(
        "_kbucket"
    ).parquet(orphan)

    got = {(r.k, r.v) for r in read_merge_target(spark, target).drop("_kbucket").collect()}
    assert got == {(1, "a"), (2, "b")}  # orphan invisible
    assert vacuum_merge_staging(spark, target) == 1  # orphan removed
    assert not os.path.exists(orphan)
    got = {(r.k, r.v) for r in read_merge_target(spark, target).drop("_kbucket").collect()}
    assert got == {(1, "a"), (2, "b")}


def test_vacuum_removes_superseded_commits(spark, tmp_path):
    """Each merge supersedes the touched buckets' previous commit dirs;
    vacuum collects every dir the current manifest no longer references
    while the referenced ones survive."""
    import os

    from sf_etl_spark.streaming.pipelines import (
        merge_into_partitioned_parquet,
        read_merge_target,
        vacuum_merge_staging,
    )

    target = str(tmp_path / "gc")
    base = spark.range(50).select(F.col("id").alias("k"), F.lit("v0").alias("v"))
    merge_into_partitioned_parquet(base, ["k"], target, n_buckets=4)
    # touch every bucket twice → first two commits fully superseded
    for tag in ("v1", "v2"):
        merge_into_partitioned_parquet(
            spark.range(50).select(F.col("id").alias("k"), F.lit(tag).alias("v")),
            ["k"],
            target,
            n_buckets=4,
        )
    commits = [d for d in os.listdir(target) if d.startswith("commit_")]
    assert len(commits) == 3
    # two superseded commit dirs + their two archived (time-travel)
    # manifests, truncated by the same vacuum
    assert vacuum_merge_staging(spark, target) == 4
    commits = [d for d in os.listdir(target) if d.startswith("commit_")]
    assert len(commits) == 1
    got = {r.v for r in read_merge_target(spark, target).collect()}
    assert got == {"v2"}


def test_fold_into_rollup_monoid_semantics(spark, tmp_path):
    """Generic continuous-aggregate fold: applying deltas in two
    batches equals one direct aggregation; non-monoid ops refused."""
    import pytest

    from sf_etl_spark.streaming.pipelines import fold_into_rollup, read_merge_target

    store = str(tmp_path / "fold")
    b1 = spark.createDataFrame(
        [("a", 5, 1.0), ("b", 2, 9.0)], "k string, n bigint, mx double"
    )
    b2 = spark.createDataFrame(
        [("a", 3, 7.5), ("c", 1, 2.0)], "k string, n bigint, mx double"
    )
    for b in (b1, b2):
        fold_into_rollup(b, ["k"], {"n": "sum", "mx": "max"}, store)
    got = {
        r.k: (r.n, r.mx)
        for r in read_merge_target(spark, store).drop("_kbucket").collect()
    }
    assert got == {"a": (8, 7.5), "b": (2, 9.0), "c": (1, 2.0)}

    with pytest.raises(ValueError, match="non-monoid"):
        fold_into_rollup(b1, ["k"], {"n": "avg"}, store)


def test_time_travel_reads_archived_snapshots(spark, tmp_path):
    """Each manifest swap archives an immutable version; old versions
    resolve the ORIGINAL rows until vacuum truncates history."""
    import pytest

    from sf_etl_spark.streaming.pipelines import (
        list_merge_versions,
        merge_into_partitioned_parquet,
        read_merge_target,
        vacuum_merge_staging,
    )

    target = str(tmp_path / "tt")
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string")
    b2 = spark.createDataFrame([(2, "B"), (3, "c")], "k bigint, v string")
    merge_into_partitioned_parquet(b1, ["k"], target, n_buckets=2)
    merge_into_partitioned_parquet(b2, ["k"], target)
    assert list_merge_versions(spark, target) == [1, 2]

    as_v1 = {(r.k, r.v) for r in read_merge_target(spark, target, version=1).collect()}
    as_v2 = {(r.k, r.v) for r in read_merge_target(spark, target, version=2).collect()}
    live = {(r.k, r.v) for r in read_merge_target(spark, target).collect()}
    assert as_v1 == {(1, "a"), (2, "b")}
    assert as_v2 == live == {(1, "a"), (2, "B"), (3, "c")}

    # vacuum keeps the live snapshot readable, truncates history
    vacuum_merge_staging(spark, target)
    assert list_merge_versions(spark, target) == [2]
    assert {(r.k, r.v) for r in read_merge_target(spark, target).collect()} == as_v2
    with pytest.raises(FileNotFoundError, match="version 1"):
        read_merge_target(spark, target, version=1)


def test_time_travel_unknown_version_raises(spark, tmp_path):
    import pytest

    from sf_etl_spark.streaming.pipelines import (
        merge_into_partitioned_parquet,
        read_merge_target,
    )

    target = str(tmp_path / "tt2")
    b1 = spark.createDataFrame([(1, "a")], "k bigint, v string")
    merge_into_partitioned_parquet(b1, ["k"], target, n_buckets=2)
    with pytest.raises(FileNotFoundError, match="version 9"):
        read_merge_target(spark, target, version=9)


def test_merge_schema_mismatch_fails_before_commit(spark, tmp_path):
    """A batch whose schema drifted from the target must fail CLEANLY
    before the manifest swap: the merge raises, the target's live
    manifest is untouched, and the table stays fully readable — the
    commit protocol's atomicity extends to failed merges."""
    import pytest

    from sf_etl_spark.streaming.pipelines import (
        list_merge_versions,
        merge_into_partitioned_parquet,
        read_merge_target,
    )

    target = str(tmp_path / "drift")
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string")
    merge_into_partitioned_parquet(b1, ["k"], target, n_buckets=2)

    drifted = spark.createDataFrame([(1, 99)], "k bigint, other int")
    with pytest.raises(Exception):
        merge_into_partitioned_parquet(drifted, ["k"], target, n_buckets=2)

    # live snapshot unharmed: same version, same rows
    assert list_merge_versions(spark, target) == [1]
    rows = {(r.k, r.v) for r in read_merge_target(spark, target).drop("_kbucket").collect()}
    assert rows == {(1, "a"), (2, "b")}


def test_concurrent_writers_cannot_lose_updates(spark, tmp_path):
    """Two writers racing one target: the manifest commit is a CAS on
    the snapshot version, so the slower writer's stale commit must
    FAIL (ConcurrentMergeError) instead of last-write-wins swallowing
    the faster writer's rows — the r5-flagged lost-update window."""
    import pytest

    from sf_etl_spark.streaming.pipelines import (
        ConcurrentMergeError,
        _commit_snapshot,
        _hadoop_fs,
        _read_merge_meta,
        merge_into_partitioned_parquet,
        read_merge_target,
    )

    target = str(tmp_path / "race")
    base = spark.createDataFrame([(1, "base")], "k int, v string")
    merge_into_partitioned_parquet(base, ["k"], target, n_buckets=4)
    fs, target_path = _hadoop_fs(spark, target)

    # writer B reads the snapshot (v1) ... and stalls
    stale = _read_merge_meta(spark, fs, target_path)
    stale_version = int(stale["version"])

    # writer A commits first (v2)
    merge_into_partitioned_parquet(
        spark.createDataFrame([(2, "from_A")], "k int, v string"),
        ["k"],
        target,
        n_buckets=4,
    )

    # writer B now tries to commit against its stale read: must fail,
    # and must leave writer A's commit untouched
    bucket = F.pmod(F.xxhash64(F.col("k")), F.lit(4)).cast("int")
    b_out = spark.createDataFrame([(3, "from_B")], "k int, v string").withColumn(
        "_kbucket", bucket
    )
    with pytest.raises(ConcurrentMergeError):
        _commit_snapshot(
            spark,
            fs,
            target_path,
            target,
            b_out,
            n_buckets=4,
            prior_buckets=stale["buckets"],
            expected_version=stale_version,
        )
    got = {(r.k, r.v) for r in read_merge_target(spark, target).collect()}
    assert got == {(1, "base"), (2, "from_A")}  # A survived, B not applied

    # the public API retries the whole cycle internally and composes
    merge_into_partitioned_parquet(
        spark.createDataFrame([(3, "from_B")], "k int, v string"),
        ["k"],
        target,
        n_buckets=4,
    )
    got = {(r.k, r.v) for r in read_merge_target(spark, target).collect()}
    assert got == {(1, "base"), (2, "from_A"), (3, "from_B")}


def test_crashed_commit_is_healed_by_next_writer(spark, tmp_path):
    """A writer that won the CAS (version file created) but crashed
    before swapping the live manifest: the next writer finishes that
    commit (promotes the version file to live) and then retries its
    own merge on top — no wedge, no lost rows."""
    import json
    import os

    from sf_etl_spark.streaming.pipelines import (
        _hadoop_fs,
        _read_merge_meta,
        merge_into_partitioned_parquet,
        read_merge_target,
    )

    target = str(tmp_path / "heal")
    merge_into_partitioned_parquet(
        spark.createDataFrame([(1, "a")], "k int, v string"), ["k"], target, n_buckets=2
    )
    fs, target_path = _hadoop_fs(spark, target)
    live = _read_merge_meta(spark, fs, target_path)
    assert int(live["version"]) == 1

    # simulate the crash: v2.json exists (same buckets, new version),
    # live manifest still v1
    orphan = dict(live, version=2)
    with open(os.path.join(target, "_versions", "v2.json"), "w") as f:
        json.dump(orphan, f)

    # next writer heals v2 into the live slot, then lands its own
    # merge as v3
    merge_into_partitioned_parquet(
        spark.createDataFrame([(2, "b")], "k int, v string"), ["k"], target, n_buckets=2
    )
    live = _read_merge_meta(spark, fs, target_path)
    assert int(live["version"]) == 3
    got = {(r.k, r.v) for r in read_merge_target(spark, target).collect()}
    assert got == {(1, "a"), (2, "b")}


def test_concurrent_fold_cycles_compose(spark, tmp_path):
    """fold_into_rollup is read-modify-write: its merge CASes on the
    version the combine read, and the whole cycle retries — two folds
    of the same key applied 'concurrently' (interleaved reads) must
    still sum, not last-write-win."""
    from sf_etl_spark.streaming.pipelines import fold_into_rollup, read_merge_target

    store = str(tmp_path / "foldrace")
    mk = lambda n: spark.createDataFrame([("k1", n)], "k string, n bigint")  # noqa: E731
    fold_into_rollup(mk(5), ["k"], {"n": "sum"}, store)
    fold_into_rollup(mk(7), ["k"], {"n": "sum"}, store)
    fold_into_rollup(mk(1), ["k"], {"n": "sum"}, store)
    rows = read_merge_target(spark, store).select("k", "n").collect()
    assert [(r.k, r.n) for r in rows] == [("k1", 13)]


def test_run_to_memory_table_scopes_shuffle_partitions(spark, sf_dir):
    """shuffle_partitions must bind the query's state-store count and
    be RESTORED afterward (the session value drives every batch lane's
    parallelism — leaking 8 would serialize the rest of the suite)."""
    from sf_etl_spark.queries.streaming_live import _stage
    from sf_etl_spark.streaming import (
        events_stream,
        run_to_memory_table,
        stream_tumbling_agg,
    )

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    src = _stage(spark, sf_dir)
    name, q = run_to_memory_table(
        stream_tumbling_agg(events_stream(spark, src)),
        output_mode="complete",
        shuffle_partitions=4,
    )
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    # the checkpointed state really used 4 partitions
    ops = q.lastProgress["stateOperators"]
    assert ops and all(op["numShufflePartitions"] == 4 for op in ops)
    assert spark.table(name).count() > 0


def test_stateful_plans_run_under_rocksdb_state_store(spark, staged, sf_dir):
    """At production state volumes the HDFS-backed in-memory state
    store is the wrong provider — RocksDB keeps state off-heap and
    spills to disk. The streaming plans must run unchanged under it
    and produce the same results as the default provider (the conf is
    per-query-start, scoped and restored here)."""
    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        plan = stream_tumbling_agg(events_stream(spark, staged))
        name, _ = run_to_memory_table(plan, output_mode="complete")
        rocks = rows_set(
            spark.table(name),
            ["window_start", "event_type", "n_events", "total_value"],
        )
    finally:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    plan = stream_tumbling_agg(events_stream(spark, staged))
    name, _ = run_to_memory_table(plan, output_mode="complete")
    default = rows_set(
        spark.table(name),
        ["window_start", "event_type", "n_events", "total_value"],
    )
    assert rocks == default and len(rocks) > 0


def test_scd2_same_timestamp_change_is_inplace_correction(spark, tmp_path):
    """A changed batch at the SAME effective_ts as the stored current
    version's __valid_from must correct that version in place — one
    current row with the new attrs, no zero-length closed version, and
    deterministically so (the pre-r14 close+open pair collided on the
    (key, __valid_from) merge key and dropDuplicates kept an arbitrary
    one — sometimes leaving the key with NO current row at all)."""
    from pyspark.sql import functions as F

    from sf_etl_spark.operators.scd import (
        IS_CURRENT,
        VALID_FROM,
        VALID_TO,
        scd2_apply,
    )
    from sf_etl_spark.streaming.pipelines import read_merge_target

    dim = str(tmp_path / "dim")
    t0 = "2024-03-01 00:00:00"
    batch1 = spark.createDataFrame([(1, "bronze")], "k int, tier string")
    scd2_apply(batch1, dim, ["k"], ["tier"], F.lit(t0), n_buckets=2)
    # correction at the same effective ts
    batch2 = spark.createDataFrame([(1, "gold")], "k int, tier string")
    scd2_apply(batch2, dim, ["k"], ["tier"], F.lit(t0), n_buckets=2)
    rows = read_merge_target(spark, dim).collect()
    assert len(rows) == 1  # no zero-length closed version
    r = rows[0]
    assert r["tier"] == "gold" and r[IS_CURRENT] and r[VALID_TO] is None
    assert str(r[VALID_FROM]).startswith("2024-03-01")
    # a LATER change still closes + opens normally
    t1 = "2024-03-02 00:00:00"
    batch3 = spark.createDataFrame([(1, "platinum")], "k int, tier string")
    scd2_apply(batch3, dim, ["k"], ["tier"], F.lit(t1), n_buckets=2)
    rows = {
        (r["tier"], r[IS_CURRENT]): r for r in read_merge_target(spark, dim).collect()
    }
    assert set(rows) == {("gold", False), ("platinum", True)}
    assert str(rows[("gold", False)][VALID_TO]).startswith("2024-03-02")
