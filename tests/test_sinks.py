"""Sink surface: partitioned parquet round-trip with pruned read-back,
CSV/JSON round-trips, JDBC gating, and DDL pre-creation parity."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from sf_etl_spark.schema.ddl import create_table_ddl
from sf_etl_spark.sinks import write_csv, write_jdbc, write_json, write_parquet
from sf_etl_spark.sources import load_table


@pytest.fixture()
def orders(spark, sf_dir):
    return load_table(spark, sf_dir, "orders")


def test_partitioned_parquet_roundtrip_and_pruning(spark, orders, tmp_path):
    path = str(tmp_path / "orders_by_status")
    write_parquet(orders, path, partition_by=["o_orderstatus"])

    # hive-style partition dirs exist
    dirs = sorted(os.path.basename(p) for p in glob.glob(path + "/o_orderstatus=*"))
    assert dirs and all(d.startswith("o_orderstatus=") for d in dirs)

    back = spark.read.parquet(path)
    assert back.count() == orders.count()
    assert set(back.columns) == set(orders.columns)

    # partition pruning: the filtered scan must carry a PartitionFilters
    # entry on the partition column (no full-data scan).
    pruned = back.filter(F.col("o_orderstatus") == "O")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "o_orderstatus" in plan
    expect = orders.filter(F.col("o_orderstatus") == "O").count()
    assert pruned.count() == expect


def test_parquet_compression_default_zstd(spark, orders, tmp_path):
    path = str(tmp_path / "zstd_out")
    write_parquet(orders.limit(100), path)
    files = glob.glob(path + "/*.zstd.parquet") + glob.glob(path + "/*.parquet")
    assert files
    assert any(".zstd." in f for f in files)


def test_csv_roundtrip(spark, sf_dir, tmp_path):
    nation = load_table(spark, sf_dir, "nation")
    path = str(tmp_path / "nation_csv")
    write_csv(nation, path)
    back = spark.read.option("header", True).schema(nation.schema).csv(path)
    assert sorted(r["n_name"] for r in back.collect()) == sorted(
        r["n_name"] for r in nation.collect()
    )


def test_json_roundtrip(spark, sf_dir, tmp_path):
    region = load_table(spark, sf_dir, "region")
    path = str(tmp_path / "region_json")
    write_json(region, path)
    back = spark.read.schema(region.schema).json(path)
    assert back.count() == region.count()


def test_jdbc_gated_without_driver(spark, orders):
    with pytest.raises(Exception, match="(?i)driver|class|jdbc"):
        write_jdbc(
            orders.limit(1),
            url="jdbc:postgresql://localhost:5432/nope",
            table="orders_sink",
        )


def test_ddl_precreates_jdbc_target(orders):
    ddl = create_table_ddl("orders_sink", orders.schema, dialect="postgres")
    assert ddl.startswith('CREATE TABLE "orders_sink"')
    for col in orders.columns:
        assert f'"{col}"' in ddl


def test_save_as_managed_table_roundtrip(spark, orders):
    """saveAsTable → catalog-managed table → spark.sql round-trip
    (the metastore sink lane; warehouse dir is session-local)."""
    name = "orders_managed_sink"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    orders.limit(500).write.mode("overwrite").format("parquet").saveAsTable(name)
    try:
        assert spark.catalog.tableExists(name)
        back = spark.sql(f"SELECT count(*) AS n FROM {name}").first()
        assert back["n"] == 500
        assert set(spark.table(name).columns) == set(orders.columns)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_events_loader_tolerates_both_ts_encodings(spark, tmp_path):
    """_load_events must ingest events.parquet whether `ts` is stored
    as TIMESTAMP(NANOS) (read as raw longs via nanosAsLong) or as a
    plain micros timestamp — the fixture has flipped between the two
    across regenerations, and round 3 lost 11 queries to the flip. A
    100 TB lake holds both; the loader branches on the footer dtype."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sf_etl_spark.sources.tables import _load_events

    base = {
        "event_id": pa.array([1, 2], type=pa.int64()),
        "user_id": pa.array([10, 20], type=pa.int64()),
        "event_type": pa.array(["click", "view"]),
        "value": pa.array([1.5, 2.5], type=pa.float64()),
        "props": pa.array(["{}", "{}"]),
    }
    # identical instants, two physical encodings
    us = pa.array([1_700_000_000_000_000, 1_700_000_123_456_789], type=pa.timestamp("us"))
    ns = us.cast(pa.timestamp("ns"))

    expected = None
    for enc, ts in [("us", us), ("ns", ns)]:
        d = str(tmp_path / enc)
        os.makedirs(d, exist_ok=True)
        pq.write_table(
            pa.table({"event_id": base["event_id"], "ts": ts, **{k: v for k, v in base.items() if k != "event_id"}}),
            os.path.join(d, "events.parquet"),
        )
        df = _load_events(spark, d)
        assert df.schema["ts"].dataType.typeName() == "timestamp_ntz", enc
        got = sorted((r.event_id, r.ts) for r in df.select("event_id", "ts").collect())
        if expected is None:
            expected = got
        else:
            assert got == expected, f"encoding {enc} decoded differently: {got} vs {expected}"


def test_compact_parquet_flat(spark, orders, tmp_path):
    """Compaction must shrink the file count to the row budget (one
    file for a fixture far under COMPACT_ROWS_PER_FILE) and preserve
    every row (count + keyed checksum identical)."""
    from sf_etl_spark.sinks import compact_parquet

    path = str(tmp_path / "frag")
    orders.repartition(16).write.parquet(path)  # fragmented: 16 files
    before = spark.read.parquet(path)
    n_rows = before.count()
    chk_before = before.agg(F.sum(F.xxhash64(*before.columns).cast("decimal(38,0)"))).first()[0]

    n_files = compact_parquet(spark, path)
    assert n_files == 1
    after = spark.read.parquet(path)
    assert after.count() == n_rows
    assert after.agg(F.sum(F.xxhash64(*after.columns).cast("decimal(38,0)"))).first()[0] == chk_before


def test_compact_parquet_partitioned_preserves_layout(spark, orders, tmp_path):
    from sf_etl_spark.sinks import compact_parquet
    import glob
    import os

    path = str(tmp_path / "frag_part")
    orders.repartition(8).write.partitionBy("o_orderstatus").parquet(path)
    frag = len(glob.glob(os.path.join(path, "o_orderstatus=*", "*.parquet")))
    n_rows = spark.read.parquet(path).count()

    compact_parquet(spark, path)  # partition columns read off the layout
    dirs = glob.glob(os.path.join(path, "o_orderstatus=*"))
    files = glob.glob(os.path.join(path, "o_orderstatus=*", "*.parquet"))
    assert dirs, "partition layout lost"
    assert len(files) == len(dirs) < frag  # one file per partition dir
    assert spark.read.parquet(path).count() == n_rows


def test_scd2_idempotent_reapply_and_asof(spark, tmp_path):
    """Re-applying an identical batch writes nothing; the history
    supports the as-of join shape it exists for."""
    from sf_etl_spark.operators.scd import scd2_apply

    dim = str(tmp_path / "dim")
    b1 = spark.createDataFrame([(1, "gold"), (2, "silver")], "k int, tier string")
    t1 = F.lit("2024-01-01 00:00:00").cast("timestamp_ntz")
    scd2_apply(b1, dim, ["k"], ["tier"], t1)
    scd2_apply(b1, dim, ["k"], ["tier"], F.lit("2024-01-15 00:00:00").cast("timestamp_ntz"))
    from sf_etl_spark.streaming import read_merge_target

    hist = read_merge_target(spark, dim)
    assert hist.count() == 2  # idempotent: no new versions

    b2 = spark.createDataFrame([(1, "platinum"), (3, "bronze")], "k int, tier string")
    scd2_apply(b2, dim, ["k"], ["tier"], F.lit("2024-02-01 00:00:00").cast("timestamp_ntz"))
    hist = read_merge_target(spark, dim).drop("_kbucket")
    assert hist.count() == 4  # closed+opened for k=1, new k=3, untouched k=2

    # as-of join: facts at mid-January must see the ORIGINAL tier
    facts = spark.createDataFrame(
        [(1, "2024-01-20 00:00:00"), (1, "2024-02-02 00:00:00")], "k int, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    joined = facts.join(
        hist,
        (facts.k == hist.k)
        & (facts.ts >= hist.__valid_from)
        & (facts.ts < F.coalesce(hist.__valid_to, F.lit("9999-01-01").cast("timestamp_ntz"))),
    )
    tiers = {(r.ts.day, r.tier) for r in joined.select(facts.ts, hist.tier).collect()}
    assert tiers == {(20, "gold"), (2, "platinum")}


def test_compact_parquet_merge_target_atomic(spark, tmp_path):
    """Compacting a merge target must collapse it to ONE commit dir,
    preserve the bucket layout and recorded bucket count (the next
    merge must keep working), and never change the visible rows."""
    import os

    from sf_etl_spark.sinks import compact_parquet
    from sf_etl_spark.streaming.pipelines import (
        _hadoop_fs,
        _read_merge_meta,
        merge_into_partitioned_parquet,
        read_merge_target,
    )

    target = str(tmp_path / "merge_compact")
    base = spark.range(100).select(F.col("id").alias("k"), F.lit("v0").alias("v"))
    merge_into_partitioned_parquet(base, ["k"], target, n_buckets=4)
    # fragment: several merges → several live commit dirs
    for tag in ("v1", "v2", "v3"):
        batch = spark.range(0, 100, 7).select(
            F.col("id").alias("k"), F.lit(tag).alias("v")
        )
        merge_into_partitioned_parquet(batch, ["k"], target, n_buckets=4)
    before = {
        (r.k, r.v) for r in read_merge_target(spark, target).drop("_kbucket").collect()
    }

    compact_parquet(spark, target, vacuum=True)

    commits = [d for d in os.listdir(target) if d.startswith("commit_")]
    assert len(commits) == 1  # one live commit, superseded ones vacuumed
    fs, tp = _hadoop_fs(spark, target)
    meta = _read_merge_meta(spark, fs, tp)
    assert int(meta["n_buckets"]) == 4  # bucket count survives compaction
    after = {
        (r.k, r.v) for r in read_merge_target(spark, target).drop("_kbucket").collect()
    }
    assert after == before

    # the compacted target still merges correctly (bucketing intact)
    merge_into_partitioned_parquet(
        spark.createDataFrame([(3, "post")], "k long, v string"), ["k"], target
    )
    vals = {r.k: r.v for r in read_merge_target(spark, target).collect()}
    assert vals[3] == "post" and len(vals) == 100


def test_compact_parquet_default_keeps_time_travel(spark, tmp_path):
    """Compaction is not history truncation (the Delta OPTIMIZE
    contract): by default the superseded commits and archived version
    manifests survive, so time travel keeps working; only vacuum=True
    (or an explicit vacuum) truncates."""
    from sf_etl_spark.sinks import compact_parquet
    from sf_etl_spark.streaming.pipelines import (
        list_merge_versions,
        merge_into_partitioned_parquet,
        read_merge_target,
    )

    target = str(tmp_path / "merge_compact_tt")
    base = spark.range(20).select(F.col("id").alias("k"), F.lit("v0").alias("v"))
    merge_into_partitioned_parquet(base, ["k"], target, n_buckets=2)
    upd = spark.range(0, 20, 3).select(F.col("id").alias("k"), F.lit("v1").alias("v"))
    merge_into_partitioned_parquet(upd, ["k"], target, n_buckets=2)

    compact_parquet(spark, target)  # no vacuum

    # pre-compaction snapshots still resolvable
    assert list_merge_versions(spark, target) == [1, 2, 3]
    as_v1 = {(r.k, r.v) for r in read_merge_target(spark, target, version=1)
             .drop("_kbucket").collect()}
    assert as_v1 == {(i, "v0") for i in range(20)}
