"""Property-based tests (hypothesis) — testing depth the reference
lacks entirely (SURVEY §5: mocked unit tests only, sql-builder
untested). Three invariants that must hold for ALL inputs, not just
the fixtures:

 1. every possible describe Field maps to a valid Spark StructField
    and renders into every DDL dialect without crashing;
 2. DDL generation is deterministic (the reference's HashMap column
    order was not, `table.rs:11`);
 3. the SOQL front door never escapes SoqlError on malformed input —
    arbitrary garbage must parse-fail cleanly, not crash the engine.

No SparkSession needed: these exercise pure-Python planning surfaces,
so the whole module runs in milliseconds.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql.types import DataType, StructField, StructType

from sf_etl_spark.plans.soql import SoqlError, _tokenize
from sf_etl_spark.schema.ddl import DIALECTS, create_table_ddl
from sf_etl_spark.schema.field_types import Field, FieldType, struct_field_for

_IDENT = st.from_regex(r"[A-Za-z][A-Za-z0-9_]{0,20}", fullmatch=True)

_FIELDS = st.builds(
    Field,
    name=_IDENT,
    field_type=st.sampled_from(list(FieldType)),
    length=st.integers(min_value=0, max_value=131072),
    custom=st.booleans(),
    encrypted=st.booleans(),
    precision=st.integers(min_value=0, max_value=38),
    scale=st.integers(min_value=0, max_value=18),
    updateable=st.booleans(),
    nillable=st.booleans(),
    unique=st.booleans(),
    relationship_name=st.one_of(st.none(), _IDENT),
)


@given(_FIELDS)
@settings(max_examples=300)
def test_every_field_maps_to_valid_struct_field(f: Field):
    sf = struct_field_for(f)
    assert isinstance(sf, StructField)
    assert sf.name == f.name
    assert isinstance(sf.dataType, DataType)
    if f.field_type is FieldType.ID:
        assert sf.nullable is False  # Id ⇒ primary key, never nullable
    else:
        assert sf.nullable == f.nillable
    # metadata must round-trip through JSON (Spark serializes it there)
    import json

    assert json.loads(json.dumps(sf.metadata)) == sf.metadata


@given(st.lists(_FIELDS, min_size=1, max_size=12, unique_by=lambda f: f.name))
@settings(max_examples=100)
def test_ddl_renders_all_dialects_deterministically(fields):
    schema = StructType([struct_field_for(f) for f in fields])
    for dialect in DIALECTS:
        a = create_table_ddl("T", schema, dialect=dialect)
        b = create_table_ddl("T", schema, dialect=dialect)
        assert a == b and a.startswith("CREATE TABLE")
        for f in fields:
            assert f.name in a


@given(st.text(max_size=80))
@settings(max_examples=500)
def test_soql_garbage_never_escapes_soqlerror(text):
    from sf_etl_spark.plans.soql import soql_to_df

    try:
        soql_to_df(text, lambda name: (_ for _ in ()).throw(SoqlError("no table")))
    except SoqlError:
        pass  # the ONLY acceptable failure mode


@given(st.text(alphabet="SELECT FROM WHERE'()<>=!,.x0 ", max_size=60))
@settings(max_examples=500)
def test_soql_tokenizer_total(text):
    try:
        toks = _tokenize(text)
    except SoqlError:
        return
    # tokenization is lossless over non-whitespace spans
    assert all(t.text for t in toks)


# -- heavy-hitters pigeonhole guarantee (queries/sketches.py) --------------
#
# The two-pass operator's correctness rests on one lemma: for ANY
# partitioning of a stream into batches, every item with global
# count*K > n clears the local threshold count_b*K > n_b in at least
# one batch. Fuzz the lemma directly (pure Python, mirrors the
# mapInPandas candidate rule bit for bit): the candidate set must be
# a superset of the true heavy hitters for every random stream and
# every random batching.
@given(
    st.lists(st.integers(min_value=0, max_value=20), min_size=1, max_size=400),
    st.data(),
)
@settings(max_examples=300)
def test_heavy_hitter_candidates_are_superset_under_any_batching(stream, data):
    from collections import Counter

    K = 10
    n = len(stream)
    cuts = sorted(
        data.draw(
            st.lists(
                st.integers(min_value=0, max_value=n), max_size=8, unique=True
            )
        )
    )
    bounds = [0, *cuts, n]
    candidates: set[int] = set()
    for lo, hi in zip(bounds, bounds[1:]):
        batch = stream[lo:hi]
        if not batch:
            continue
        for item, c in Counter(batch).items():
            if c * K > len(batch):
                candidates.add(item)
    true_hh = {item for item, c in Counter(stream).items() if c * K > n}
    assert true_hh <= candidates


# -- interval union vs brute force (streaming_batch.interval_coverage) ----
#
# The gaps-and-islands formulation (running max of interval end;
# s > prev_max opens an island) must compute exactly the measure of
# the union of intervals. Fuzz against the brute-force union.
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1000),
            # durations strictly positive, like the lane's (value > 0,
            # floor(value*1e6) >= 1): a zero-length interval would
            # count as an island of measure 0, which the point-set
            # brute force below cannot represent
            st.integers(min_value=1, max_value=100),
        ),
        min_size=1,
        max_size=50,
    )
)
@settings(max_examples=300)
def test_gaps_and_islands_equals_brute_force_union(raw):
    ivs = sorted((s, s + d) for s, d in raw)
    # gaps-and-islands (mirrors the lane's window logic)
    n_islands, coverage = 0, 0
    cur_s = cur_e = None
    prev_max = None
    for s, e in ivs:
        if prev_max is None or s > prev_max:
            if cur_s is not None:
                coverage += cur_e - cur_s
            n_islands += 1
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
        prev_max = e if prev_max is None else max(prev_max, e)
    coverage += cur_e - cur_s
    # brute force: measure of the union point set
    covered = set()
    for s, e in ivs:
        covered.update(range(s, e))
    assert coverage == len(covered)
    # islands = maximal runs of covered points (closed-open intervals
    # merge when touching, s == prev_max)
    runs = 0
    prev = None
    for p in sorted(covered):
        if prev is None or p != prev + 1:
            runs += 1
        prev = p
    assert n_islands == runs


def _kth(df, k, n_buckets):
    """The exact k-th smallest of ``x`` through the ungrouped pick:
    percentile_disc at q = k/n on one literal group (rank ceil(q·n) = k)."""
    from pyspark.sql import functions as F

    from sf_etl_spark.operators.orderstats import grouped_quantile_twophase

    n = df.filter(F.col("x").isNotNull()).count()
    one = df.withColumn("_g", F.lit(0))
    return grouped_quantile_twophase(one, "_g", "x", k, n, n_buckets=n_buckets).first()["value"]


def _median(df):
    """(n, v_lo, v_hi) of ``x`` through the ungrouped median pick."""
    from pyspark.sql import functions as F

    from sf_etl_spark.operators.orderstats import grouped_median_twophase

    r = grouped_median_twophase(df.withColumn("_g", F.lit(0)), "_g", "x").first()
    return r["n"], r["v_lo"], r["v_hi"]


def _each_partitioning(spark, df):
    """Yield *df* in 1 and 7 input partitions under
    ``spark.sql.shuffle.partitions`` 1 and 7: an order statistic must
    not depend on either."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    try:
        for shuffle in (1, 7):
            spark.conf.set(key, str(shuffle))
            for parts in (1, 7):
                yield (shuffle, parts), df.repartition(parts)
    finally:
        spark.conf.set(key, prev)


def test_kth_smallest_matches_python_sort(spark):
    import random

    rng = random.Random(42)
    # adversarial spread: heavy duplicates + huge outliers, so almost
    # every value shares one bucket and ranks resolve inside it
    vals = (
        [rng.randint(0, 50) for _ in range(500)]
        + [rng.randint(10**12, 10**12 + 10) for _ in range(7)]
        + [0, 0, 0]
    )
    df = spark.createDataFrame([(v,) for v in vals], ["x"])
    ordered = sorted(vals)
    for k in [1, 2, 17, 255, 256, len(vals) - 1, len(vals)]:
        assert _kth(df, k, n_buckets=16) == ordered[k - 1], k
    n, v1, v2 = _median(df)
    assert n == len(vals)
    assert v1 == ordered[(n - 1) // 2] and v2 == ordered[n // 2]


def test_kth_smallest_exact_beyond_double_precision(spark):
    # values beyond 2^53 and a negative lo: the bucket index must be
    # computed in exact arithmetic or boundary values land in the
    # wrong bucket / the lo-subtraction wraps int64
    base = 1 << 62
    vals = [-base, -base + 1, 0, base - 3, base - 2, base - 1, base]
    df = spark.createDataFrame([(v,) for v in vals], ["x"])
    ordered = sorted(vals)
    for k in range(1, len(vals) + 1):
        assert _kth(df, k, n_buckets=4) == ordered[k - 1], k


def test_cusum_closed_form_includes_empty_prefix(spark):
    """The prefix-min closed form must include S_0 = 0: a series that
    starts ABOVE target (all prefix sums positive) accumulates from
    day one — the review-found bug forced s_1 = 0 and understated the
    whole run-up."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    devs = [18, 18, -18, -18]  # n*x - total for a 4-day series
    # reference: one-sided CUSUM with reset
    s, ref = 0, []
    for d in devs:
        s = max(0, s + d)
        ref.append(s)
    assert ref == [18, 36, 18, 0]
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(devs)], ["day", "dev"]
    )
    run = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    out = (
        df.withColumn("s_raw", F.sum("dev").over(run))
        .withColumn(
            "s", F.col("s_raw") - F.least(F.lit(0), F.min("s_raw").over(run))
        )
        .orderBy("day")
        .select("s")
        .collect()
    )
    assert [r["s"] for r in out] == ref


def test_grouped_median_matches_python_reference(spark):
    import random
    import statistics

    from sf_etl_spark.operators.orderstats import grouped_median_twophase

    rng = random.Random(7)
    rows = []
    # skewed groups: one tiny, one duplicate-heavy, one spread over a
    # huge range (forces distinct buckets and residual-rank walking)
    for g, vals in {
        "tiny": [5],
        "dups": [3] * 40 + [9] * 40,
        "spread": [rng.randint(0, 10**12) for _ in range(101)],
        "even": [1, 2, 3, 10],
    }.items():
        rows += [(g, v) for v in vals]
    df = spark.createDataFrame(rows, ["g", "x"])
    got = {
        r["g"]: (r["n"], r["v_lo"], r["v_hi"], r["median"])
        for r in grouped_median_twophase(df, "g", "x", n_buckets=16).collect()
    }
    by_g: dict = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    for g, vals in by_g.items():
        s = sorted(vals)
        n = len(s)
        v_lo, v_hi = s[(n - 1) // 2], s[n // 2]
        assert got[g] == (n, v_lo, v_hi, (v_lo + v_hi) / 2.0), g
        assert got[g][3] == statistics.median(vals)


def test_kth_smallest_ignores_nulls(spark, tmp_path):
    """Ranks are over the NON-NULL values, and an input with none
    yields no group — so exact_median_histogram returns its oracle's
    single row (n_orders 0, NULL values)."""
    import duckdb
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from sf_etl_spark.operators.orderstats import grouped_median_twophase
    from sf_etl_spark.queries import all_queries
    from tests.conftest import TEST_SF_DIR

    df = spark.createDataFrame(
        [(None,), (7,), (None,), (1,), (5,), (None,)], "x int"
    )
    assert [_kth(df, k, n_buckets=4) for k in (1, 2, 3)] == [1, 5, 7]
    assert _median(df) == (3, 5, 5)
    none = df.filter("x > 100").withColumn("_g", F.lit(0))
    assert grouped_median_twophase(none, "_g", "x").collect() == []

    empty = str(tmp_path / "orders.parquet")
    pq.write_table(pq.read_table(f"{TEST_SF_DIR}/orders.parquet").slice(0, 0), empty)
    spec = all_queries()["exact_median_histogram"]
    got = [tuple(r) for r in spec.fn(spark, str(tmp_path)).collect()]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{empty}')")
    assert got == con.execute(spec.oracle).fetchall() == [(0, None, None, None)]


def test_grouped_median_ignores_nulls_and_drops_allnull_groups(spark):
    from pyspark.sql import functions as F

    from sf_etl_spark.operators.orderstats import (
        grouped_median_twophase,
        grouped_percentile_cont_multi,
        grouped_quantile_twophase,
    )

    rows = [("a", 1), ("a", None), ("a", 3), ("b", None), ("c", 10), ("d", None)]
    df = spark.createDataFrame(rows, "g string, x int")
    got = {
        r["g"]: (r["n"], r["median"])
        for r in grouped_median_twophase(df, "g", "x", n_buckets=8).collect()
    }
    assert got == {"a": (2, 2.0), "c": (1, 10.0)}
    got = {
        r["g"]: (r["n"], r["value"])
        for r in grouped_quantile_twophase(df, "g", "x", 1, 2, n_buckets=8).collect()
    }
    assert got == {"a": (2, 1), "c": (1, 10)}
    # percentile_cont is null PER SPEC: a group all-null in one spec
    # keeps its row with NULL there, and drops only if all-null in both
    two = df.withColumn("y", F.when(F.col("g") == "b", F.lit(7)))
    got = {
        r["g"]: (r["mx"], r["my"])
        for r in grouped_percentile_cont_multi(
            two, "g", [("x", "x", {"mx": 0.5}), ("y", "y", {"my": 0.5})], n_buckets=8
        ).collect()
    }
    assert got == {"a": (2.0, None), "b": (None, 7.0), "c": (10.0, None)}


def test_grouped_quantile_matches_python_reference(spark):
    """grouped_quantile_twophase must equal the percentile_disc
    reference (value at rank ceil(q*n)) on adversarial group shapes:
    duplicate-heavy, single-row, and wide-spread groups — under any
    input partitioning and shuffle width."""
    import math

    from sf_etl_spark.operators.orderstats import grouped_quantile_twophase

    data = {
        "dups": [5] * 40 + [1] * 9 + [9],
        "single": [123],
        "wide": list(range(-(10**9), -(10**9) + 7)) + [10**12],
        "two": [10, 20],
    }
    rows = [(g, v) for g, vals in data.items() for v in vals]
    df = spark.createDataFrame(rows, "g string, x long")
    for parts, d in _each_partitioning(spark, df):
        for q_num, q_den in ((1, 2), (9, 10), (99, 100), (1, 100), (1, 1)):
            got = {
                r["g"]: (r["n"], r["value"])
                for r in grouped_quantile_twophase(
                    d, "g", "x", q_num, q_den, n_buckets=16
                ).collect()
            }
            want = {}
            for g, vals in data.items():
                s = sorted(vals)
                k = math.ceil(q_num * len(s) / q_den)
                want[g] = (len(s), s[k - 1])
            assert got == want, (parts, q_num, q_den)


def test_grouped_quantile_rejects_bad_q(spark):
    import pytest

    from sf_etl_spark.operators.orderstats import grouped_quantile_twophase

    df = spark.range(5).selectExpr("'a' as g", "id as x")
    with pytest.raises(ValueError, match="q must be"):
        grouped_quantile_twophase(df, "g", "x", 0, 10)
    with pytest.raises(ValueError, match="q must be"):
        grouped_quantile_twophase(df, "g", "x", 11, 10)


def test_rank_cutpoints_matches_python_sort(spark):
    """The row at each cut rank k of the (k, t) order — read off the
    exact prefix ranks of one literal group — is the k-th row of a
    Python sort."""
    import random

    from pyspark.sql import functions as F

    from sf_etl_spark.operators.orderstats import grouped_exact_rank

    rng = random.Random(7)
    # heavy ties on the key (cut ranks routinely land inside a tie
    # group) + a few huge outliers to skew the histogram buckets
    rows = [(rng.randint(0, 20), i) for i in range(400)] + [
        (10**12 + rng.randint(0, 3), 1000 + i) for i in range(9)
    ]
    df = spark.createDataFrame(rows, ["k", "t"]).withColumn("_g", F.lit(0))
    ordered = sorted(rows)
    ks = [1, 2, 40, 41, 100, 256, 300, 408, 409]
    ranked = grouped_exact_rank(df, "_g", "k", "t", n_buckets=16)
    cuts = {
        r["_rank"]: (r["k"], r["t"])
        for r in ranked.filter(F.col("_rank").isin(ks)).collect()
    }
    for k in ks:
        assert cuts[k] == ordered[k - 1], k


def test_ntile_from_rank_matches_ntile_window(spark):
    """The integer DIV/MOD tile formula must equal ntile(T) for every
    (rank, n) pair — exhaustive over n = 1..25, T in {2, 4, 7}."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from sf_etl_spark.operators.orderstats import ntile_from_rank

    rows = [(n, r) for n in range(1, 26) for r in range(1, n + 1)]
    df = spark.createDataFrame(rows, ["_n", "_r"])
    for T in (2, 4, 7):
        got = {
            (x["_n"], x["_r"]): x["tile"]
            for x in df.select(
                "_n", "_r", ntile_from_rank("_r", "_n", T).alias("tile")
            ).collect()
        }
        w = Window.partitionBy("_n").orderBy("_r")
        want = {
            (x["_n"], x["_r"]): x["tile"]
            for x in df.select(
                "_n", "_r", F.ntile(T).over(w).cast("bigint").alias("tile")
            ).collect()
        }
        assert got == want, T


def test_grouped_exact_rank_matches_ntile_window(spark):
    """Prefix-rank tile assignment (grouped_exact_rank +
    ntile_from_rank) must reproduce ntile(T) OVER (PARTITION BY g
    ORDER BY img, tie) exactly — including groups smaller than T,
    heavy ties, remainder tiles, a group whose every value shares one
    bucket, and a group whose few huge outliers leave nearly all rows
    in its lowest bucket — under any input partitioning and shuffle
    width."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from sf_etl_spark.operators.orderstats import (
        grouped_exact_rank,
        ntile_from_rank,
    )

    rng = random.Random(17)
    rows = []
    tid = 0
    for g, n in (("a", 403), ("b", 7), ("c", 1), ("d", 2), ("e", 100)):
        for _ in range(n):
            rows.append((g, rng.randint(0, 30), tid))  # heavy ties
            tid += 1
    rows += [("one", 12, 1000 + i) for i in range(50)]  # one bucket
    rows += [("skew", rng.randint(0, 20), 2000 + i) for i in range(400)]
    rows += [("skew", 10**12 + rng.randint(0, 3), 3000 + i) for i in range(9)]
    df = spark.createDataFrame(rows, ["g", "img", "tie"])
    T = 4
    w = Window.partitionBy("g").orderBy("img", "tie")
    want = {
        (r["g"], r["tie"]): r["bucket"]
        for r in df.select("g", "tie", F.ntile(T).over(w).alias("bucket")).collect()
    }
    for parts, d in _each_partitioning(spark, df):
        ranked = grouped_exact_rank(d, "g", "img", "tie", n_buckets=8)
        got = {
            (r["g"], r["tie"]): r["bucket"]
            for r in ranked.select(
                "g", "tie", ntile_from_rank("_rank", "_gn", T).alias("bucket")
            ).collect()
        }
        assert got == want, parts


def test_grouped_percentile_cont_bitmatches_percentile_agg(spark):
    """grouped_percentile_cont_multi must reproduce the exact-
    percentile AGGREGATE bit-for-bit on 2-decimal doubles — random
    groups, ties, odd/even sizes, a 1-row group, and nulls."""
    import random
    import struct

    from pyspark.sql import functions as F

    from sf_etl_spark.operators.orderstats import grouped_percentile_cont_multi

    rng = random.Random(11)
    rows = []
    for g, n in (("a", 257), ("b", 256), ("c", 1), ("d", 40)):
        for _ in range(n):
            rows.append((g, round(rng.uniform(0.01, 99999.99), 2)))
    rows += [("a", None), ("d", None)]  # nulls ignored by percentile()
    df = spark.createDataFrame(rows, ["g", "x"]).withColumn(
        "xc", F.round(F.col("x") * 100).cast("long")
    )
    qs = {"p10": 0.1, "med": 0.5, "p90": 0.9, "p99": 0.99, "p100": 1.0}
    got = {
        r["g"]: tuple(r[name] for name in qs)
        for r in grouped_percentile_cont_multi(
            df, "g", [("xc", "x", qs)], n_buckets=16
        ).collect()
    }
    want = {
        r["g"]: tuple(r[name] for name in qs)
        for r in df.groupBy("g")
        .agg(*[F.percentile("x", q).alias(name) for name, q in qs.items()])
        .collect()
    }
    assert got.keys() == want.keys()
    for g in want:
        assert struct.pack("<5d", *got[g]) == struct.pack("<5d", *want[g]), g


def test_kth_smallest_decimal_fallback_wide_span(spark):
    """A span too wide for int64 subtraction must take the decimal
    bucket path and still return exact ranks (lo very negative, hi
    very positive — (x - lo) would wrap a long)."""
    vals = [-(1 << 62) - 3, -(1 << 61), -7, 0, 11, (1 << 61), (1 << 62) + 5]
    df = spark.createDataFrame([(v,) for v in vals], ["x"])
    s = sorted(vals)
    for k in (1, 3, 4, 7):
        assert _kth(df, k, n_buckets=4) == s[k - 1], k


def test_event_pattern_cap_bounds_power_user(spark, tmp_path):
    """r7 verdict task 6: the per-user event-string bound is enforced
    behavior, not a docstring assumption — a user whose pattern only
    completes past the cap must NOT match, and the lane must run
    without building an uncapped string."""
    import datetime as _dt

    import sf_etl_spark.queries.streaming_batch as sb

    t0 = _dt.datetime(2024, 1, 1)
    rows = []
    # user 1: 30 views, then click+purchase at positions 31/32 — the
    # v...c...p pattern completes only past a cap of 10
    for i in range(30):
        rows.append((i, t0 + _dt.timedelta(minutes=i), 1, "view", 1.0, "{}"))
    rows.append((30, t0 + _dt.timedelta(minutes=30), 1, "click", 1.0, "{}"))
    rows.append((31, t0 + _dt.timedelta(minutes=31), 1, "purchase", 1.0, "{}"))
    # user 2: completes within the first 3 events
    rows.append((32, t0, 2, "view", 1.0, "{}"))
    rows.append((33, t0 + _dt.timedelta(minutes=1), 2, "click", 1.0, "{}"))
    rows.append((34, t0 + _dt.timedelta(minutes=2), 2, "purchase", 1.0, "{}"))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    old = sb._SEQ_CAP
    sb._SEQ_CAP = 10
    try:
        out = sb.event_pattern_regex(spark, str(tmp_path)).first()
    finally:
        sb._SEQ_CAP = old
    assert out["n_users"] == 2
    assert out["n_matched"] == 1  # user 1's completion is past the cap
    # sanity: uncapped, both users match
    out_full = sb.event_pattern_regex(spark, str(tmp_path)).first()
    assert out_full["n_matched"] == 2


def test_grouped_operators_treat_null_group_as_group(spark):
    """A NULL group key is a group, as in SQL GROUP BY / PARTITION BY:
    every operator matches the window or aggregate plan it replaces,
    NULL group included."""
    import struct

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from sf_etl_spark.operators.orderstats import (
        grouped_exact_rank,
        grouped_median_twophase,
        grouped_percentile_cont_multi,
        grouped_quantile_twophase,
    )

    rows = [("a", 1, 1), (None, 2, 2), ("b", 3, 3), (None, 9, 4), (None, 5, 5), ("a", 4, 6)]
    df = spark.createDataFrame(rows, "g string, img long, tie long")
    got = {
        r["tie"]: (r["_rank"], r["_gn"])
        for r in grouped_exact_rank(df, "g", "img", "tie", n_buckets=4).collect()
    }
    rank = F.row_number().over(Window.partitionBy("g").orderBy("img", "tie"))
    size = F.count(F.lit(1)).over(Window.partitionBy("g"))
    assert got == {r[0]: (r[1], r[2]) for r in df.select("tie", rank, size).collect()}

    def by_group(frame, *cols):
        return {r["g"]: tuple(r[c] for c in cols) for r in frame.collect()}

    agg = df.groupBy("g").agg(
        F.count("img").alias("n"),
        F.median("img").alias("median"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY img)").alias("value"),
        F.percentile("img", 0.9).alias("p90"),
    )
    assert by_group(grouped_median_twophase(df, "g", "img", n_buckets=4), "n", "median") == by_group(
        agg, "n", "median"
    )
    assert by_group(grouped_quantile_twophase(df, "g", "img", 1, 2, n_buckets=4), "n", "value") == by_group(
        agg, "n", "value"
    )
    cont = grouped_percentile_cont_multi(df, "g", [("img", "img", {"p90": 0.9})], n_buckets=4)
    bits = lambda d: {g: struct.pack("<d", v) for g, (v,) in d.items()}  # noqa: E731
    assert bits(by_group(cont, "p90")) == bits(by_group(agg, "p90"))


def test_grouped_exact_rank_covering_bounds(spark):
    """Caller-supplied bounds need only COVER the data (the footer-
    statistics contract): wider bounds must give identical ranks."""
    import random

    from sf_etl_spark.operators.orderstats import grouped_exact_rank

    rng = random.Random(7)
    rows = [("g%d" % (i % 3), rng.randint(-50, 50), i) for i in range(300)]
    df = spark.createDataFrame(rows, ["g", "img", "tie"])

    def ranks(bounds):
        got = grouped_exact_rank(
            df, "g", "img", "tie", n_buckets=16, bounds=bounds
        )
        return {(r["g"], r["tie"]): (r["_rank"], r["_gn"]) for r in got.collect()}

    exact = ranks(None)  # operator derives tight bounds itself
    assert ranks((-1000, 1000)) == exact  # wider covering bounds
    assert ranks((-50, 2**40)) == exact  # asymmetric cover


def test_range_join_empty_band_short_circuits(spark):
    """r14 ADVICE: an empty band (lower > upper) must yield ZERO rows
    without probe fan-out — sequence(lo_b, hi_b) with lo_b > hi_b
    generates a DESCENDING bucket list, so the pre-fix code did full
    join work for a provably empty result. The when() guard nulls the
    sequence and explode drops it."""
    from pyspark.sql import functions as F

    from sf_etl_spark.operators.joins import range_join_buckets

    left = spark.createDataFrame(
        [("k", "2024-01-01 00:00:00")], "k string, lts string"
    ).select("k", F.col("lts").cast("timestamp").alias("lts"))
    right = spark.createDataFrame(
        [("k", "2024-01-01 00:30:00")], "k string, rts string"
    ).select("k", F.col("rts").cast("timestamp").alias("rts"))
    # sane band still matches
    out = range_join_buckets(
        left, right, "k", "lts", "rts",
        F.expr("INTERVAL 0 SECOND"), F.expr("INTERVAL 1 HOUR"), 3600,
    )
    assert out.count() == 1
    # inverted band: empty result, and the exploded probe side is
    # itself empty (the short-circuit, not just the band filter)
    empty = range_join_buckets(
        left, right, "k", "lts", "rts",
        F.expr("INTERVAL 1 HOUR"), F.expr("INTERVAL 0 SECOND"), 3600,
    )
    assert empty.count() == 0
