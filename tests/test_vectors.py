"""Parity of the numpy kernels (operators/vectors.py) with the SQL
folds they replaced. Nearest centroid: the same ``cid``, cosine and
norm bits as ``_dot``/``_norm`` ranked by ``row_number() OVER
(PARTITION BY vec_id ORDER BY ccos DESC, cid)``, the shape the DuckDB
oracles replay. PQ: the same codes and ADC distance bits as the DuckDB
``enc``/``adc`` CTEs of the PQ oracles (``_sql_pq_ctes``)."""

from __future__ import annotations

import os
import re
import struct

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from sf_etl_spark.operators.vectors import collect_vectors, nearest_centroid, pq_adc, top_cells
from sf_etl_spark.queries import all_queries
from sf_etl_spark.queries.similarity import (
    _EVAL_QUERIES,
    _SQL_NORM,
    IVF_K,
    PQ_C,
    PQ_M,
    _cos,
    _norm,
    _pq_seed_codebook,
    _seed_cells,
    _sql_pq_ctes,
    _vec,
    exact_cosine_pairs,
)
from sf_etl_spark.sources import TABLES, load_table
from tests.oracle_compare import compare_query

#: the benchmark's sf0.1 fixture: 2,000 embeddings
SF01 = os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench", "fixture", "sf0.1")


def _bits(x):
    return None if x is None else struct.pack(">d", x)


def _sql_assign(df, cents):
    """(vec_id, cid, ccos, nm) by the SQL fold and window ranking."""
    n = df.select("vec_id", _vec().alias("v"), _norm(_vec()).alias("nm"))
    c = cents.select(
        F.col("vec_id").alias("cid"), _vec().alias("cv"), _norm(_vec()).alias("cn")
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("ccos").desc(), "cid")
    return (
        n.crossJoin(F.broadcast(c))
        .withColumn("ccos", _cos(F.col("v"), F.col("cv"), F.col("nm"), F.col("cn")))
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("vec_id", "cid", "ccos", "nm")
    )


def _rows(df):
    return {
        r["vec_id"]: (r["cid"], _bits(r["ccos"]), _bits(r["nm"]))
        for r in df.select("vec_id", "cid", "ccos", "nm").collect()
    }


def test_kernel_bit_matches_sql_fold_on_fixture(spark):
    """All 2,000 sf0.1 vectors: same cid, cosine and norm bits as the
    SQL fold, whatever the input partitioning or shuffle width."""
    e = load_table(spark, SF01, "embeddings")
    cids, cents, _ = _seed_cells(e, IVF_K)
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    try:
        for parts in (1, 7):
            spark.conf.set(key, str(parts))
            want = _rows(_sql_assign(e, e.filter(F.col("vec_id").between(1, IVF_K))))
            assert len(want) == 2000
            got = _rows(nearest_centroid(e.repartition(parts), cids, cents))
            assert got == want, parts
    finally:
        spark.conf.set(key, prev)


def test_kernel_query_cosine_and_probe_match_sql_fold(spark):
    e = load_table(spark, SF01, "embeddings")
    cids, cents, qs = _seed_cells(e, IVF_K, 0)
    qv = qs[0][None]
    got = {
        r["vec_id"]: _bits(r["qcos"])
        for r in nearest_centroid(e, cids, cents, query=qv[0]).collect()
    }
    q = e.filter("vec_id = 0").select(_vec().alias("qv"), _norm(_vec()).alias("qn"))
    qcos = _cos(_vec(), F.col("qv"), _norm(_vec()), F.col("qn"))
    want = {r[0]: _bits(r[1]) for r in e.crossJoin(q).select("vec_id", qcos).collect()}
    assert got == want
    # the driver-side probe is the query row's own ranking
    ranked = _sql_assign(e.filter("vec_id = 0"), e.filter(F.col("vec_id").between(1, IVF_K)))
    assert top_cells(qv, cids, cents, 1)[0].tolist() == [ranked.first()["cid"]]
    assert len(set(top_cells(qv, cids, cents, IVF_K)[0].tolist())) == IVF_K


def test_kernel_edge_rows(spark):
    """A zero-norm vector, a null embedding and an exact two-way tie
    rank as the SQL fold ranks them, in the default (ANSI) session."""
    schema = "vec_id bigint, embedding array<float>"
    cents = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]), (3, [-1.0, 0.0, 0.0])], schema
    )
    rows = spark.createDataFrame(
        [
            (10, [0.0, 0.0, 0.0]),  # zero norm
            (11, None),  # null embedding
            (12, [2.0, 2.0, 5.0]),  # exact tie: cid 1 and 2
            (13, [0.0, 3.0, 4.0]),
            (14, [-0.0, -0.0, 1.0]),  # cosine 0.0 to all three: a three-way tie
        ],
        schema,
    )
    cids, mat = collect_vectors(cents)
    got = _rows(nearest_centroid(rows, cids[::-1], mat[::-1]))
    want = _rows(_sql_assign(rows, cents))
    assert got == want
    assert got[10] == (1, None, _bits(0.0))
    assert got[11] == (1, None, None)
    assert got[12][0] == 1 and got[13][0] == 2 and got[14][0] == 1


def test_sql_fold_cosine_is_null_on_zero_norm(spark):
    """Under the default ANSI session a zero-norm vector gives a NULL
    cosine, as DuckDB and the kernel do, instead of raising
    DIVIDE_BY_ZERO: in the pair verification (the NULL pair fails the
    threshold) and in a query cosine (zero-norm query and corpus rows)."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    e = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [2.0, 0.0]), (3, [0.0, 0.0])],
        "vec_id bigint, embedding array<float>",
    )
    n = e.select("vec_id", _vec().alias("v"), _norm(_vec()).alias("nm"))
    cand = spark.createDataFrame([(1, 2), (1, 3), (3, 3)], "vec_a bigint, vec_b bigint")
    got = [tuple(r) for r in exact_cosine_pairs(n, cand).collect()]
    assert got == [(1, 2, 1.0)]
    for qid, want in ((1, {1: 1.0, 2: 1.0, 3: None}), (3, {1: None, 2: None, 3: None})):
        q = n.filter(F.col("vec_id") == qid).select(F.col("v").alias("qv"), F.col("nm").alias("qn"))
        cos = _cos(F.col("v"), F.col("qv"), F.col("nm"), F.col("qn"))
        assert {r[0]: r[1] for r in n.crossJoin(q).select("vec_id", cos).collect()} == want


def test_kernel_zero_row_batch_and_no_centroids(spark):
    e = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    out = nearest_centroid(e, np.array([1]), np.ones((1, 3)), query=np.ones(3))
    assert out.collect() == []
    assert out.columns == ["vec_id", "cid", "ccos", "nm", "qcos"]
    with pytest.raises(ValueError):
        nearest_centroid(e, np.array([], dtype=np.int64), np.ones((0, 3)))


def test_kernel_function_on_empty_arrow_batch():
    """The kernel body itself on a zero-row batch (Spark may hand one
    to a task whose partition is empty)."""
    from sf_etl_spark.operators import vectors

    col = pa.array([], type=pa.list_(pa.float32()))
    x, ok = vectors._rows(col, 3)
    assert x.shape == (0, 3) and ok.shape == (0,)
    cos, null = vectors._cosines(x, vectors._norms(x), ok, np.ones((2, 3)), np.ones(2))
    assert vectors._ranked(cos, null).shape == (0, 2)


def _duckdb_pq(con, table: str, qids) -> tuple[dict, dict]:
    """({vec_id: codes}, {(vec_id, qid): adc_dist bits}) by the DuckDB
    ``enc``/``adc`` CTEs of the PQ oracles over *table*."""
    ctes = f"""WITH n AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, {_SQL_NORM.format(e='embedding')} AS nm
      FROM {table}
    ), qs AS (
      SELECT vec_id AS qid, v AS qv FROM n WHERE vec_id IN ({', '.join(map(str, qids))})
    ), {_sql_pq_ctes(qtable="qs", per_qid=True)}"""
    enc = con.execute(
        f"{ctes} SELECT vec_id, list(c ORDER BY m) FROM enc GROUP BY vec_id"
    ).fetchall()
    adc = con.execute(f"{ctes} SELECT vec_id, qid, adc_dist FROM adc").fetchall()
    return {v: list(c) for v, c in enc}, {(v, q): _bits(d) for v, q, d in adc}


def _kernel_pq(df) -> tuple[dict, dict]:
    rows = df.select("vec_id", "qid", "codes", "adc_dist").collect()
    return (
        {r["vec_id"]: list(r["codes"]) for r in rows},
        {(r["vec_id"], r["qid"]): _bits(r["adc_dist"]) for r in rows},
    )


def test_pq_kernel_bit_matches_duckdb_on_fixture(spark):
    """All 2,000 sf0.1 vectors x the 5 eval queries: the kernel's codes
    and ADC distance bits equal the oracles' ``enc``/``adc`` CTEs,
    whatever the input partitioning."""
    e = load_table(spark, SF01, "embeddings")
    cids, vecs, qs = _seed_cells(e, PQ_C, *_EVAL_QUERIES)
    assert sorted(qs) == sorted(_EVAL_QUERIES)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW e AS SELECT * FROM read_parquet('{SF01}/embeddings.parquet')")
    want = _duckdb_pq(con, "e", _EVAL_QUERIES)
    assert len(want[0]) == 2000 and len(want[1]) == 2000 * len(_EVAL_QUERIES)
    for parts in (1, 7):
        got = _kernel_pq(pq_adc(e.repartition(parts), *_pq_seed_codebook(cids, vecs), qs))
        assert got == want, parts


def test_pq_kernel_edge_rows(spark):
    """A null embedding takes the smallest codeword in every subspace
    and an exact codeword tie the smaller id, as the DuckDB CTEs rank
    them; an empty codebook raises."""
    dim = PQ_M * 8
    rows = [(c, [float(c)] * dim) for c in range(1, PQ_C + 1)] + [
        (100, None),  # null embedding
        (101, [1.5] * dim),  # equidistant from codewords 1 and 2 in every subspace
        (102, [2.5] * 8 + [16.0] * (dim - 8)),  # tie 2/3 in m=0, codeword 16 after
    ]
    schema = "vec_id bigint, embedding array<float>"
    df = spark.createDataFrame(rows, schema)
    con = duckdb.connect()
    con.register("e", pa.table({"vec_id": [r[0] for r in rows], "embedding": [r[1] for r in rows]},
                               schema=pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32()))])))
    want = _duckdb_pq(con, "e", (101,))
    cids, vecs, qs = _seed_cells(df, PQ_C, 101)
    got = _kernel_pq(pq_adc(df, *_pq_seed_codebook(cids, vecs), qs))
    assert got == want
    assert got[0][100] == got[0][101] == [1] * PQ_M
    assert got[0][102] == [2] + [16] * (PQ_M - 1)
    assert got[1][(100, 101)] is not None
    with pytest.raises(ValueError):
        pq_adc(df, np.array([], dtype=np.int64), np.zeros((PQ_M, 0, 8)), qs)


def test_pq_kernel_on_empty_arrow_batch():
    from sf_etl_spark.operators import vectors

    x, ok = vectors._rows(pa.array([], type=pa.list_(pa.float32())), 4)
    codes = vectors._pq_encode(x, ok, np.ones((2, 3, 2)))
    assert codes.shape == (0, 2)
    assert vectors._pq_adc(codes, np.ones((5, 2, 3))).shape == (5, 0)


#: the vector the zero-vector tests zero: not a seed centroid (1..16),
#: a query (0) or an evaluation query (0, 10, ..., 40)
ZERO_ID = 123


def _reads_only_embeddings(sql: str) -> bool:
    return {t for t in TABLES if re.search(rf"\b{t}\b", sql, re.I)} == {"embeddings"}


#: every lane whose oracle reads only the embeddings table
EMBEDDINGS_LANES = sorted(
    n for n, s in all_queries().items() if s.oracle and _reads_only_embeddings(s.oracle)
)


@pytest.fixture(scope="module")
def zeroed(sf_dir, tmp_path_factory):
    """(dir, DuckDB connection) over a copy of the fixture's embeddings
    with vector ZERO_ID zeroed."""
    out = tmp_path_factory.mktemp("zeroed")
    t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    ids = t.column("vec_id").to_pylist()
    emb = t.column("embedding").to_pylist()
    i = ids.index(ZERO_ID)
    emb[i] = [0.0] * len(emb[i])
    col = t.schema.get_field_index("embedding")
    t = t.set_column(col, "embedding", pa.array(emb, type=t.schema.field("embedding").type))
    pq.write_table(t, out / "embeddings.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{out}/embeddings.parquet')")
    yield str(out), con
    con.close()


@pytest.mark.parametrize("name", EMBEDDINGS_LANES)
def test_embeddings_lane_zero_vector_matches_oracle_under_ansi(spark, zeroed, name):
    """A zero-norm embedding gives the DuckDB oracle's result (NULL
    cosines, not DIVIDE_BY_ZERO) in the default ANSI session."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    spec = all_queries()[name]
    compare_query(spark, zeroed[1], spec.fn, spec.oracle, zeroed[0])


def test_int8_quantize_zero_vector_matches_oracle_under_ansi(spark, zeroed):
    """A zero embedding has scale 0: the int8 lane gives the DuckDB
    oracle's NULL quotients (clipped to 127) and NULL reconstruction
    cosine in the default ANSI session instead of raising."""
    spec = all_queries()["embedding_quantize_int8"]
    compare_query(spark, zeroed[1], spec.fn, spec.oracle, zeroed[0])
    zero = spec.fn(spark, zeroed[0]).filter(F.col("vec_id") == ZERO_ID).first()
    assert (zero["q_min"], zero["q_max"], zero["recon_cosine"]) == (127, 127, None)
