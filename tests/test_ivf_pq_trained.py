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

import os

from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_trained_ivf_pq_recall_beats_or_matches_seeded(spark):
    from sf_etl_spark.queries.similarity import (
        IVF_K,
        IVF_KM_K,
        IVF_KM_NPROBE,
        IVF_NPROBE,
        _ivf_pq_recall,
        _kmeans_centers,
        _pq_codebook,
        _pq_train_codebooks,
        normalized_vectors,
    )

    # same probe fraction on both sides: 2/8 == 4/16
    assert IVF_NPROBE / IVF_K == IVF_KM_NPROBE / IVF_KM_K

    n = normalized_vectors(spark, SF_DIR)
    seeded_cents = n.filter(
        (F.col("vec_id") >= 1) & (F.col("vec_id") <= IVF_K)
    ).select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
    seeded = _ivf_pq_recall(
        spark, n, seeded_cents, _pq_codebook(spark, n), IVF_NPROBE
    ).collect()

    _, trained_cents = _kmeans_centers(spark, n)
    trained_cb = _pq_train_codebooks(spark, n)
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
    from sf_etl_spark.queries.similarity import (
        PQ_SUBDIM,
        _pq_codebook,
        _pq_train_codebooks,
        normalized_vectors,
    )

    n = normalized_vectors(spark, SF_DIR)

    def distortion(cb):
        d2 = F.aggregate(
            F.zip_with(
                F.expr(f"slice(v, m * {PQ_SUBDIM} + 1, {PQ_SUBDIM})"),
                F.col("w"),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        )
        per = (
            n.select("vec_id", "v")
            .crossJoin(F.broadcast(cb))
            .groupBy("vec_id", "m")
            .agg(F.min(d2).alias("best"))
        )
        return per.agg(F.sum("best")).collect()[0][0]

    seed = distortion(_pq_codebook(spark, n))
    trained = distortion(_pq_train_codebooks(spark, n))
    assert trained < seed


def test_sampled_training_subtree_reads_sample_not_corpus(spark):
    """r13 verdict task 1's plan gate: the Lloyd loop's training
    relation (the frame that gets checkpointed and re-scanned per
    iteration) must be built from the deterministic hash-sample — its
    row count is |sample|*M, not |corpus|*M, and the sample filter
    sits in its plan below the M-way expansion."""
    from sf_etl_spark.queries.similarity import (
        PQ_M,
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
    from pyspark.sql import functions as F
    from sf_etl_spark.queries.similarity import (
        IVF_K,
        IVF_KM_NPROBE,
        IVF_NPROBE,
        PQ_SUBDIM,
        TRAIN_SAMPLE_MOD,
        _ivf_pq_recall,
        _kmeans_centers,
        _pq_codebook,
        _pq_train_codebooks,
        normalized_vectors,
    )

    n = normalized_vectors(spark, SF_DIR)
    seeded_cents = n.filter(
        (F.col("vec_id") >= 1) & (F.col("vec_id") <= IVF_K)
    ).select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
    seed_cb = _pq_codebook(spark, n)
    seeded = _ivf_pq_recall(spark, n, seeded_cents, seed_cb, IVF_NPROBE).collect()

    _, cents = _kmeans_centers(spark, n, train_sample_mod=TRAIN_SAMPLE_MOD)
    cb = _pq_train_codebooks(spark, n, train_sample_mod=TRAIN_SAMPLE_MOD)
    trained = _ivf_pq_recall(spark, n, cents, cb, IVF_KM_NPROBE).collect()

    assert [r["query_id"] for r in seeded] == [r["query_id"] for r in trained]
    seeded_mean = sum(r["recall_at_10"] for r in seeded) / len(seeded)
    trained_mean = sum(r["recall_at_10"] for r in trained) / len(trained)
    assert trained_mean >= seeded_mean
    assert trained_mean > 0

    # full-corpus distortion: sampled-trained < seed init
    def distortion(codebook):
        d2 = F.aggregate(
            F.zip_with(
                F.expr(f"slice(v, m * {PQ_SUBDIM} + 1, {PQ_SUBDIM})"),
                F.col("w"),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        )
        per = (
            n.select("vec_id", "v")
            .crossJoin(F.broadcast(codebook))
            .groupBy("vec_id", "m")
            .agg(F.min(d2).alias("best"))
        )
        return per.agg(F.sum("best")).collect()[0][0]

    assert distortion(cb) < distortion(seed_cb)


def test_mod_for_target_bounds_training_sample():
    """r14 verdict task 7: the count-targeted sample helper — a
    deployment wants '<= target training vectors' regardless of corpus
    size; mod_for_target turns that into the train_sample_mod knob.
    Expected sample size n/mod stays <= target, and small corpora
    train on everything (mod 1)."""
    import pytest

    from sf_etl_spark.queries.similarity import mod_for_target

    assert mod_for_target(500, 1_000_000) == 1  # corpus below target
    assert mod_for_target(1_000_000, 1_000_000) == 1
    assert mod_for_target(1_000_001, 1_000_000) == 2
    assert mod_for_target(100_000_000, 1_000_000) == 100
    assert mod_for_target(0, 1_000_000) == 1  # empty corpus: no-op knob
    # expected size bound holds across a sweep
    for n in (1, 999, 10**6 + 7, 3 * 10**7):
        m = mod_for_target(n, 250_000)
        assert n / m <= 250_000
        # and the sample is not over-thinned: one step coarser would
        # still exceed the target (tightest integer modulus)
        if m > 1:
            assert n / (m - 1) > 250_000
    with pytest.raises(ValueError):
        mod_for_target(100, 0)
    with pytest.raises(ValueError):
        mod_for_target(-1, 10)


def test_lloyd_tolerates_missing_seed_ids(spark):
    """A corpus lacking some seed vec_ids (1..PQ_C) yields a smaller
    seed codebook; the literal-codebook Lloyd iteration must train on
    whatever key subset exists instead of raising (r15 review
    finding), and every assignment must reference a PRESENT c id."""
    from pyspark.sql import functions as F
    from sf_etl_spark.queries.similarity import (
        PQ_M,
        _pq_codebook,
        _pq_train_codebooks,
        normalized_vectors,
    )

    n = normalized_vectors(spark, SF_DIR).filter(~F.col("vec_id").isin(5, 11))
    seed = _pq_codebook(spark, n)
    n_seed = seed.count()
    cb = _pq_train_codebooks(spark, n, iters=2)
    assert cb.count() == n_seed  # same key set in, same key set out
    ids = {(r["m"], r["c"]) for r in cb.select("m", "c").collect()}
    assert ids == {(r["m"], r["c"]) for r in seed.select("m", "c").collect()}
    assert all(c not in (5, 11) for _, c in ids)
    assert len({m for m, _ in ids}) == PQ_M


def test_empty_seed_codebook_degrades_to_empty(spark):
    """A corpus lacking EVERY seed vec_id yields an empty seed
    codebook; the literal-expression Lloyd must degrade to an empty
    trained codebook like the pre-r15 join shape did, instead of
    building zero-width literal arrays whose NULL assignments poison
    the means collect (r15 ADVICE)."""
    from pyspark.sql import functions as F
    from sf_etl_spark.queries.similarity import (
        PQ_C,
        _pq_train_codebooks,
        normalized_vectors,
    )

    n = normalized_vectors(spark, SF_DIR).filter(F.col("vec_id") > PQ_C)
    cb = _pq_train_codebooks(spark, n, iters=2)
    assert cb.count() == 0
    assert [f.name for f in cb.schema.fields] == ["m", "c", "w"]


def test_fold_matches_expression_loop(spark):
    """r15 verdict task 5: the single-job grouped-pandas Lloyd fold
    (impl='grouped', default) must produce BIT-IDENTICAL codebooks to
    the r15 literal-expression per-iteration loop (impl='expr', the
    pinned reference shape). Bit-identity is structural, not luck:
    the corpus is float32-sourced, so every per-cell sum stays exact
    in double and summation order cannot perturb the means — this
    test is the tripwire if a future fixture breaks that exactness."""
    from sf_etl_spark.queries.similarity import (
        _pq_train_codebooks,
        normalized_vectors,
    )

    n = normalized_vectors(spark, SF_DIR)
    a = {(r["m"], r["c"]): r["w"] for r in _pq_train_codebooks(spark, n, iters=2).collect()}
    b = {
        (r["m"], r["c"]): r["w"]
        for r in _pq_train_codebooks(spark, n, iters=2, impl="expr").collect()
    }
    assert set(a) == set(b)
    assert all(a[k] == b[k] for k in a)  # exact doubles, not approx


def test_train_codebooks_rejects_unknown_impl(spark):
    import pytest

    from sf_etl_spark.queries.similarity import (
        _pq_train_codebooks,
        normalized_vectors,
    )

    with pytest.raises(ValueError, match="impl"):
        _pq_train_codebooks(spark, normalized_vectors(spark, SF_DIR), impl="nope")


def test_empty_training_sample_keeps_seed_codebook(spark):
    """A sample that keeps no vector forms no Lloyd groups; the grouped
    fit must return the seed codebook, as the expr shape does, not an
    empty one."""
    from sf_etl_spark.queries.similarity import (
        _pq_codebook,
        _pq_train_codebooks,
        _train_sample,
        normalized_vectors,
    )

    n = normalized_vectors(spark, SF_DIR)
    mod = 1 << 62  # no xxhash64 of a fixture vec_id is a multiple
    assert _train_sample(n, mod).count() == 0
    seed = {(r["m"], r["c"]): [float(x) for x in r["w"]] for r in _pq_codebook(spark, n).collect()}
    assert seed
    for impl in ("grouped", "expr"):
        cb = _pq_train_codebooks(spark, n, iters=2, train_sample_mod=mod, impl=impl)
        assert {(r["m"], r["c"]): r["w"] for r in cb.collect()} == seed, impl
