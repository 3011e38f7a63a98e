"""Trained IVF-PQ quality gate (r12 verdict task 4).

The registered `ann_ivf_pq_trained_agreement` lane proves the trained
composition's INTEGRITY (lossless parameters ⇒ brute-force-equal
output, hash-checked against the DuckDB oracle by test_queries_oracle
and the driver). This file gates QUALITY at real operating points:
with actual cell pruning and the ADC shortlist cut, the trained
quantizers (k-means coarse + grouped-Lloyd PQ codebooks) must reach at
least the seed-selection quantizers' recall@10 at the same probe
fraction — trained centroids follow data density, seed centroids are
arbitrary corpus rows, and the Lloyd fit is initialized FROM the seed
codebook so each iteration can only reduce quantization distortion.
"""

from __future__ import annotations

import hashlib
import os
import struct

import numpy as np
import pytest
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sf_etl_spark.operators.topk import salted_topk
from sf_etl_spark.operators.vectors import (
    collect_vectors,
    fold_sqdist,
    nearest_centroid,
    pq_adc,
    top_cells,
)
from sf_etl_spark.queries.similarity import (
    _EVAL_QUERIES,
    PQ_C,
    PQ_M,
    PQ_RERANK,
    PQ_SUBDIM,
    _cos,
    _pq_seed_codebook,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _seed(n: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """The seed PQ codebook of the normalized frame *n*."""
    return _pq_seed_codebook(
        *collect_vectors(n.filter(F.col("vec_id").between(1, PQ_C)).select("vec_id", "v"))
    )


def _distortion(n: DataFrame, cb: tuple[np.ndarray, np.ndarray]) -> float:
    """Total encode distortion of *n*'s vectors under the codebook *cb*:
    per (vector, subspace), the squared distance to the nearest codeword."""
    _, x = collect_vectors(n.select("vec_id", "v"))
    d2 = fold_sqdist(x.reshape(len(x), PQ_M, 1, PQ_SUBDIM), cb[1][None])
    return float(d2.min(axis=2).sum())


def _ivf_pq_recall(
    spark: SparkSession,
    n: DataFrame,
    cents: tuple[np.ndarray, np.ndarray],
    cb: tuple[np.ndarray, np.ndarray],
    nprobe: int,
) -> DataFrame:
    """recall@10 of an IVF-PQ composition over the shared 5-query eval
    set (`_EVAL_QUERIES`) — (query_id, recall_at_10). Parameterized on
    the two quantizers so seeded and trained variants are measured by
    the IDENTICAL probe/encode/ADC/re-rank plan.

    *cents* is (cids, K x DIM centres); *cb* is (codeword ids, M x C x
    SUBDIM codebook); both driver-side arrays."""

    qs = n.filter(F.col("vec_id").isin(*_EVAL_QUERIES)).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"), F.col("nm").alias("qn")
    )
    qcos = _cos(F.col("v"), F.col("qv"), F.col("nm"), F.col("qn"))
    truth = salted_topk(
        n.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("qid"))
        .withColumn("_c", qcos),
        ["qid"],
        [F.col("_c").desc(), F.asc("vec_id")],
        10,
        ["vec_id"],
    ).select("qid", "vec_id")
    # assignment and per-query probe cells by the numpy nearest-centroid
    # kernel: the 5 query vectors ranked on the driver
    cids, cmat = cents
    qids, qmat = collect_vectors(qs.select("qid", "qv"))
    cells = top_cells(qmat, cids, cmat, nprobe)
    probe = spark.createDataFrame(
        [(int(q), int(c)) for q, row in zip(qids, cells) for c in row], "qid bigint, cid bigint"
    )
    vecs = n.select("vec_id", F.col("v").alias("embedding"))
    cand = (
        nearest_centroid(vecs, cids, cmat)
        .join(F.broadcast(probe), "cid")
        .filter(F.col("vec_id") != F.col("qid"))
    )
    # ADC scores of every vector x all 5 queries in one narrow PQ pass,
    # restricted to the per-query candidate pairs (cell membership
    # differs per query)
    scores = pq_adc(vecs, *cb, dict(zip(qids.tolist(), qmat))).join(
        cand.select("vec_id", "qid"), ["vec_id", "qid"]
    )
    short = salted_topk(
        scores,
        ["qid"],
        [F.asc("adc_dist"), F.asc("vec_id")],
        PQ_RERANK,
        ["vec_id"],
    ).select("qid", "vec_id")
    rerank = (
        short.join(n, "vec_id")
        .join(F.broadcast(qs), "qid")
        .withColumn("_c", qcos)
        .withColumn(
            "rrank",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(F.col("_c").desc(), "vec_id")
            ),
        )
        .filter(F.col("rrank") <= 10)
        .select("qid", "vec_id")
    )
    overlap = (
        truth.join(rerank, ["qid", "vec_id"])
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        qs.select("qid")
        .join(overlap, "qid", "left")
        .select(
            F.col("qid").alias("query_id"),
            (F.coalesce(F.col("n_overlap"), F.lit(0)).cast("double") / 10.0).alias(
                "recall_at_10"
            ),
        )
        .orderBy("query_id")
    )


def test_trained_ivf_pq_recall_beats_or_matches_seeded(spark):
    from sf_etl_spark.queries.similarity import (
        IVF_K,
        IVF_KM_K,
        IVF_KM_NPROBE,
        IVF_NPROBE,
        _kmeans_centers,
        _pq_train_codebooks,
        normalized_vectors,
    )

    # same probe fraction on both sides: 2/8 == 4/16
    assert IVF_NPROBE / IVF_K == IVF_KM_NPROBE / IVF_KM_K

    n = normalized_vectors(spark, SF_DIR)
    seeded_cents = collect_vectors(
        n.filter(F.col("vec_id").between(1, IVF_K)).select("vec_id", "v")
    )
    seed = _seed(n)
    seeded = _ivf_pq_recall(spark, n, seeded_cents, seed, IVF_NPROBE).collect()

    _, trained_cents = _kmeans_centers(spark, n)
    trained_cb = _pq_train_codebooks(spark, n, seed)
    trained = _ivf_pq_recall(
        spark, n, trained_cents, trained_cb, IVF_KM_NPROBE
    ).collect()

    assert [r["query_id"] for r in seeded] == [r["query_id"] for r in trained]
    seeded_mean = sum(r["recall_at_10"] for r in seeded) / len(seeded)
    trained_mean = sum(r["recall_at_10"] for r in trained) / len(trained)
    assert trained_mean >= seeded_mean
    assert trained_mean > 0  # the trained path must actually find neighbors


def test_trained_pq_codebooks_cut_distortion(spark):
    """Each Lloyd iteration minimizes within-codeword distortion; the
    trained codebooks' total encode distortion must be strictly below
    the seed codebooks' (they refine the SAME init on the same data)."""
    from sf_etl_spark.queries.similarity import _pq_train_codebooks, normalized_vectors

    n = normalized_vectors(spark, SF_DIR)
    seed = _seed(n)
    assert _distortion(n, _pq_train_codebooks(spark, n, seed)) < _distortion(n, seed)


def test_sampled_training_subtree_reads_sample_not_corpus(spark):
    """r13 verdict task 1's plan gate: the Lloyd loop's training
    relation (the frame that gets checkpointed and re-scanned per
    iteration) must be built from the deterministic hash-sample — its
    row count is |sample|*M, not |corpus|*M, and the sample filter
    sits in its plan below the M-way expansion."""
    from sf_etl_spark.queries.similarity import (
        _pq_train_subvectors,
        _train_sample,
        normalized_vectors,
    )

    n = normalized_vectors(spark, SF_DIR)
    full = n.count()
    sample = _train_sample(n, 4)
    k = sample.count()
    assert 0 < k < full
    # deterministic: same vector set on every evaluation
    ids = {r["vec_id"] for r in sample.select("vec_id").collect()}
    ids2 = {r["vec_id"] for r in _train_sample(n, 4).select("vec_id").collect()}
    assert ids == ids2
    sub = _pq_train_subvectors(spark, n, train_sample_mod=4)
    assert sub.count() == k * PQ_M
    plan = sub._jdf.queryExecution().optimizedPlan().toString()
    assert "xxhash64" in plan and "pmod" in plan
    # default (mod=1) keeps the pre-r14 full-corpus fit bit-identical
    assert _pq_train_subvectors(spark, n).count() == full * PQ_M


def test_sampled_trained_quality_gate(spark):
    """The SAMPLED-trained quantizers (the registered lane's — and a
    100 TB deployment's — configuration) must pass the same gate as
    the full-corpus fit: recall@10 >= the seed-selection quantizers'
    at equal probe fraction, and full-corpus encode distortion
    strictly below the seed codebooks' (the sample is i.i.d. by hash,
    so the refinement generalizes off-sample)."""
    from sf_etl_spark.queries.similarity import (
        IVF_K,
        IVF_KM_NPROBE,
        IVF_NPROBE,
        TRAIN_SAMPLE_MOD,
        _kmeans_centers,
        _pq_train_codebooks,
        normalized_vectors,
    )

    n = normalized_vectors(spark, SF_DIR)
    seeded_cents = collect_vectors(
        n.filter(F.col("vec_id").between(1, IVF_K)).select("vec_id", "v")
    )
    seed_cb = _seed(n)
    seeded = _ivf_pq_recall(spark, n, seeded_cents, seed_cb, IVF_NPROBE).collect()

    _, cents = _kmeans_centers(spark, n, train_sample_mod=TRAIN_SAMPLE_MOD)
    cb = _pq_train_codebooks(spark, n, seed_cb, train_sample_mod=TRAIN_SAMPLE_MOD)
    trained = _ivf_pq_recall(spark, n, cents, cb, IVF_KM_NPROBE).collect()

    assert [r["query_id"] for r in seeded] == [r["query_id"] for r in trained]
    seeded_mean = sum(r["recall_at_10"] for r in seeded) / len(seeded)
    trained_mean = sum(r["recall_at_10"] for r in trained) / len(trained)
    assert trained_mean >= seeded_mean
    assert trained_mean > 0

    # full-corpus distortion: sampled-trained < seed init
    assert _distortion(n, cb) < _distortion(n, seed_cb)


def test_lloyd_tolerates_missing_seed_ids(spark):
    """A corpus lacking some seed vec_ids (1..PQ_C) yields a smaller
    seed codebook; the Lloyd fit must train on
    whatever key subset exists instead of raising (r15 review
    finding), and every codeword must keep a PRESENT c id."""
    from sf_etl_spark.queries.similarity import _pq_train_codebooks, normalized_vectors

    n = normalized_vectors(spark, SF_DIR).filter(~F.col("vec_id").isin(5, 11))
    seed = _seed(n)
    cids, cb = _pq_train_codebooks(spark, n, seed)
    assert cids.tolist() == seed[0].tolist()  # same key set in, same key set out
    assert not {5, 11} & set(cids.tolist())
    assert cb.shape == (PQ_M, PQ_C - 2, PQ_SUBDIM)


def test_empty_seed_codebook_degrades_to_empty(spark):
    """A corpus lacking EVERY seed vec_id yields an empty seed
    codebook; the Lloyd fit must degrade to an empty trained codebook
    instead of training zero codewords, and scoring with it raises."""
    from sf_etl_spark.queries.similarity import _pq_train_codebooks, normalized_vectors

    n = normalized_vectors(spark, SF_DIR).filter(F.col("vec_id") > PQ_C)
    cids, cb = _pq_train_codebooks(spark, n, _seed(n))
    assert len(cids) == 0
    assert cb.shape == (PQ_M, 0, PQ_SUBDIM)
    with pytest.raises(ValueError):
        pq_adc(n.select("vec_id", F.col("v").alias("embedding")), cids, cb, {})


# SHA-256 of the sorted (m, c, w) codebook `_pq_train_codebooks(spark, n,
# seed)` fits (PQ_TRAIN_ITERS Lloyd iterations) on the sf0.001
# embeddings: m and c as big-endian int64, then w as big-endian
# doubles. Captured at local[1] and local[4], identical at both.
GOLDEN_CODEBOOK_SHA256 = "dc145656612941429c6d4e2600d952e4c28e3721a34088b15368e07a29e6cf58"


def _codebook_sha256(cb: tuple[np.ndarray, np.ndarray]) -> str:
    h = hashlib.sha256()
    cids, w = cb
    for m in range(w.shape[0]):
        for j, c in enumerate(cids):
            h.update(struct.pack(">qq", m, c))
            h.update(struct.pack(f">{w.shape[2]}d", *w[m, j]))
    return h.hexdigest()


def test_trained_codebook_matches_golden_hash(spark):
    """The Lloyd fit's codebook is pinned bit for bit, whatever the
    shuffle partitioning of its grouped fold. Bit-identity is
    structural, not luck: the corpus is float32-sourced, so every
    per-cell sum stays exact in double and summation order cannot
    perturb the means — this test is the tripwire if a future fixture
    or a change to the fit breaks that exactness."""
    from sf_etl_spark.queries.similarity import (
        _pq_train_codebooks,
        normalized_vectors,
    )

    if os.path.basename(SF_DIR.rstrip("/")) != "sf0.001":
        pytest.skip("the golden hash is of the sf0.001 fixture")
    n = normalized_vectors(spark, SF_DIR)
    seed = _seed(n)
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    try:
        for parts in ("1", "7"):
            spark.conf.set(key, parts)
            cb = _pq_train_codebooks(spark, n, seed)
            assert _codebook_sha256(cb) == GOLDEN_CODEBOOK_SHA256, parts
    finally:
        spark.conf.set(key, prev)


def test_empty_training_sample_keeps_seed_codebook(spark):
    """A sample that keeps no vector forms no Lloyd groups; the grouped
    fit must return the seed codebook, not an empty one."""
    from sf_etl_spark.queries.similarity import (
        _pq_train_codebooks,
        _train_sample,
        normalized_vectors,
    )

    n = normalized_vectors(spark, SF_DIR)
    mod = 1 << 62  # no xxhash64 of a fixture vec_id is a multiple
    assert _train_sample(n, mod).count() == 0
    seed = _seed(n)
    assert len(seed[0])
    cids, cb = _pq_train_codebooks(spark, n, seed, train_sample_mod=mod)
    assert cids.tolist() == seed[0].tolist()
    assert np.array_equal(cb, seed[1])
