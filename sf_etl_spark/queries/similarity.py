"""Similarity search & embedding-based dedup over `embeddings`
(`vec_id bigint, embedding array<float>, label int`, 64-dim).

Four tiers of the same capability, mirroring a production ANN stack:

 - ``dedup_embedding_cosine`` — exact pairwise cosine over all pairs
   (fixture-scale ground truth; the *verification math* lives in the
   candidate-parameterized :func:`exact_cosine_pairs`).
 - ``dedup_embedding_pipeline`` — the composed production path:
   IVF-cell candidate generation → exact verify on candidates only;
   its plan contains no corpus×corpus join (guarded in test_plans).
 - ``ann_ivf_topk`` — IVF coarse quantization: assign every vector to
   its nearest centroid, probe the query's ``nprobe`` nearest cells.
   Centroid "training" is deterministic seed selection so the DuckDB
   oracle can replay it; swap in k-means at deployment without
   changing the probe plan.
 - ``ann_srp_lsh_pairs`` — signed-random-projection LSH: 64 fixed
   hyperplanes → 4 bands × 16 sign bits → band-bucket equi-join →
   exact-cosine verification. The ±1 hyperplane matrix regenerates
   deterministically inside each engine (md5-parity), so the oracle
   replays it exactly with no literals or driver-shipped data.

Float discipline: every dot/norm is a fixed left-to-right fold over
doubles starting at 0.0, in three engines: Spark ``aggregate`` (the
``_dot``/``_norm`` SQL folds), DuckDB ``list_reduce`` (the oracles)
and the numpy fold of ``operators/vectors.py`` (the nearest-centroid
kernel every IVF cell assignment runs, and the PQ kernel every PQ
encode and ADC distance runs). So cosines, PQ codes and ADC distances
are bit-identical across engines and threshold comparisons agree.

Reference parity note: the reference (nater540/sf-etl) has no vector
ops at all — this is north-star surface per SURVEY.md §2.2 last row.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sf_etl_spark.operators.skew import SALT_COL, replicate_build, salt_probe
from sf_etl_spark.operators.vectors import collect_vectors, nearest_centroid, pq_adc, top_cells
from sf_etl_spark.queries import register
from sf_etl_spark.sources import load_table

DIM = 64
COS_THRESHOLD = 0.40  # near-dup bar (synthetic corpus max pair ≈ 0.51)

# -- shared fold-order-stable vector math ----------------------------------


def _vec() -> F.Column:
    return F.transform("embedding", lambda x: x.cast("double"))


def _norm(vec: F.Column) -> F.Column:
    return F.sqrt(F.aggregate(F.transform(vec, lambda x: x * x), F.lit(0.0), lambda a, b: a + b))


def _dot(u: F.Column, v: F.Column) -> F.Column:
    return F.aggregate(F.zip_with(u, v, lambda x, y: x * y), F.lit(0.0), lambda a, b: a + b)


def _cos(u: F.Column, v: F.Column, nu: F.Column, nv: F.Column) -> F.Column:
    """Cosine of *u* and *v* with norms *nu*, *nv* by the SQL fold, NULL
    when a norm is zero — as DuckDB and the numpy kernel give, where a
    plain divide raises DIVIDE_BY_ZERO under ANSI. Every other value
    keeps the plain divide's bits."""
    return F.try_divide(_dot(u, v), nu * nv)


def _shuffle_partitions(spark: SparkSession) -> int:
    """``spark.sql.shuffle.partitions`` parsed defensively: the conf
    can be non-numeric (``auto`` under AQE-managed sessions) — fall
    back to the cluster's default parallelism rather than raise."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


_SQL_NORM = (
    "sqrt(list_reduce(list_transform(CAST({e} AS DOUBLE[]), x -> x * x), (a, b) -> a + b))"
)
_SQL_DOT = (
    "list_reduce(list_transform(generate_series(1, {dim}), i -> {u}[i] * {v}[i]),"
    " (a, b) -> a + b)"
)


def normalized_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings as (vec_id, label, v double[], nm) — the shared input
    of every tier."""
    e = load_table(spark, sf_dir, "embeddings")
    return e.select("vec_id", "label", _vec().alias("v"), _norm(_vec()).alias("nm"))


def _seed_cells(
    e: DataFrame, k: int, *query_ids: int
) -> tuple[np.ndarray, np.ndarray, dict[int, np.ndarray]]:
    """The seed centroids (vec_id 1..*k*) and the query vectors of the
    embeddings frame *e*, collected in one job: ``(cids, cents,
    {query id: vector})``."""
    ids, vecs = collect_vectors(
        e.filter(F.col("vec_id").between(1, k) | F.col("vec_id").isin(*query_ids))
        .select("vec_id", "embedding")
    )
    cells = (ids >= 1) & (ids <= k)
    return ids[cells], vecs[cells], {int(i): v for i, v in zip(ids, vecs) if i in query_ids}


def exact_cosine_pairs(n: DataFrame, cand_ids: DataFrame) -> DataFrame:
    """THE verification stage, parameterized on candidate pairs.

    ``cand_ids`` is a bare-ID (vec_a, vec_b) DataFrame from any
    candidate generator (SRP-LSH buckets, IVF cells, MinHash bands…).
    Vectors attach AFTER candidate dedup — one equi-join per side —
    and the exact fold-order-stable cosine filters ≥ COS_THRESHOLD. Cost
    is O(|candidates|), never O(n²): the full corpus is only ever
    touched by the two hash-join probes. (The registered
    ``dedup_embedding_cosine`` feeds this the all-pairs candidate set
    as a fixture-scale ground-truth oracle — that FORM is the
    verification benchmark, not the production path;
    ``dedup_embedding_pipeline`` is the composed production shape.)
    """
    va = n.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("nm").alias("na")
    )
    vb = n.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("nm").alias("nb")
    )
    # The cosine fold runs in the stage of the SECOND attach join, and
    # the candidate frame is narrow (two ids/row) — AQE's byte-based
    # coalescing would pack it into one partition and evaluate every
    # candidate's 64-dim fold on one core (measured single-task at
    # sf0.1). EXPLICIT hash repartitions on each join key replace the
    # implicit exchanges one-for-one (same shuffle count) and are
    # exempt from AQE coalescing, so the O(|candidates|) verification
    # spreads across the cluster at any candidate volume.
    n_part = _shuffle_partitions(n.sparkSession)
    cand = (
        cand_ids.repartition(n_part, "vec_a")
        .join(va, "vec_a")
        .repartition(n_part, "vec_b")
        .join(vb, "vec_b")
    )
    cosine = _cos(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"))
    return (
        cand.filter(cosine >= COS_THRESHOLD)
        .select("vec_a", "vec_b", cosine.alias("cosine"))
        .orderBy("vec_a", "vec_b")
    )


# ---------------------------------------------------------------------------
# Exact embedding-cosine near-dup over ALL pairs — the fixture-scale
# ground truth that the candidate generators are verified against.
# Scale: O(n²) BY CONSTRUCTION; never the production path. The
# production shape is `dedup_embedding_pipeline` below: a bucketed
# candidate generator feeding `exact_cosine_pairs`, which takes the
# candidate-pair DataFrame as a parameter precisely so the exact
# check can't silently run over a full corpus.
#
# Ground-truth slice cap (r10 verdict task 4): both engine and oracle
# bound the corpus to vec_id < _COSINE_GT_CAP. The cap does NOT bind
# at correctness-fixture scale (sf0.001/sf0.01 have 500 vectors, so
# the driver hash is over the full corpus), and at bench scale
# (sf0.1, 2000 vectors) it bounds the quadratic blow-up to 1/4 the
# pairs so this never-ships verification lane stops dominating (23%
# of) the one-shot trend signal. The capped slice keeps full
# candidate-generator verification power — every labeled near-dup
# cluster the recall tests assert on lives at fixture scale, where
# the cap is a no-op.
# ---------------------------------------------------------------------------
_COSINE_GT_CAP = 1000


@register(
    "dedup_embedding_cosine",
    f"""
    WITH n AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
             {_SQL_NORM.format(e='embedding')} AS nm
      FROM embeddings WHERE vec_id < {_COSINE_GT_CAP}
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           a.label AS label_a, b.label AS label_b,
           {_SQL_DOT.format(dim=DIM, u='a.v', v='b.v')} / (a.nm * b.nm) AS cosine
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE {_SQL_DOT.format(dim=DIM, u='a.v', v='b.v')} / (a.nm * b.nm) >= {COS_THRESHOLD}
    ORDER BY vec_a, vec_b
    """,
    doc=f"exact pairwise cosine ≥ {COS_THRESHOLD} near-dup pairs (verification stage)",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _COSINE_GT_CAP
    )
    n = e.select("vec_id", "label", _vec().alias("v"), _norm(_vec()).alias("nm"))
    # inequality self-join => nested-loop: broadcast one side (bounded
    # by _COSINE_GT_CAP rows BY CONSTRUCTION — the cap that makes this
    # ground-truth form runnable at all) and EXPLICITLY repartition the
    # streamed side: the fixture corpus is one parquet file, so
    # without it every one of the O(cap^2) pair folds runs on a single
    # core (measured 10 s single-task at sf0.1 -> ~1 s spread)
    n_part = _shuffle_partitions(spark)
    a, b = n.repartition(n_part).alias("a"), n.alias("b")
    cosine = _cos(F.col("a.v"), F.col("b.v"), F.col("a.nm"), F.col("b.nm"))
    return (
        a.join(F.broadcast(b), F.col("a.vec_id") < F.col("b.vec_id"))
        .filter(cosine >= COS_THRESHOLD)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.label").alias("label_a"),
            F.col("b.label").alias("label_b"),
            cosine.alias("cosine"),
        )
        .orderBy("vec_a", "vec_b")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse-quantize to K centroid cells, probe
# the query's NPROBE nearest cells, exact top-k inside them.
# Scale: construction collects the K centroids and the query (K+1
# rows, one job) and ranks the probe cells on the driver; the corpus
# pass is one narrow numpy nearest-centroid scan (operators/vectors.py)
# plus a filter and TakeOrderedAndProject — no shuffle, no join, no
# window; the probe touches NPROBE/K of the corpus. Deterministic seed
# "training" (vec_id 1..K) keeps the
# oracle replayable — production would k-means the centroids and store
# cell id as a partition column for cell-pruned scans.
# ---------------------------------------------------------------------------
IVF_K = 8
IVF_NPROBE = 2
_QUERY_VEC = 0


@register(
    "ann_ivf_topk",
    f"""
    WITH n AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
             {_SQL_NORM.format(e='embedding')} AS nm
      FROM embeddings
    ), cents AS (
      SELECT vec_id AS cid, v AS cv, nm AS cn FROM n WHERE vec_id BETWEEN 1 AND {IVF_K}
    ), scored AS (
      SELECT n.vec_id, n.label, n.v, n.nm, cents.cid,
             {_SQL_DOT.format(dim=DIM, u='n.v', v='cents.cv')} / (n.nm * cents.cn) AS ccos,
             row_number() OVER (
               PARTITION BY n.vec_id
               ORDER BY {_SQL_DOT.format(dim=DIM, u='n.v', v='cents.cv')} / (n.nm * cents.cn) DESC,
                        cents.cid
             ) AS rn
      FROM n CROSS JOIN cents
    ), assign AS (
      SELECT vec_id, label, v, nm, cid FROM scored WHERE rn = 1
    ), probe AS (
      SELECT cid FROM scored WHERE vec_id = {_QUERY_VEC} AND rn <= {IVF_NPROBE}
    ), q AS (
      SELECT v AS qv, nm AS qn FROM n WHERE vec_id = {_QUERY_VEC}
    )
    SELECT a.vec_id, a.label, a.cid,
           {_SQL_DOT.format(dim=DIM, u='a.v', v='q.qv')} / (a.nm * q.qn) AS cosine
    FROM assign a JOIN probe p ON a.cid = p.cid CROSS JOIN q
    WHERE a.vec_id <> {_QUERY_VEC}
    ORDER BY cosine DESC, vec_id
    LIMIT 10
    """,
    doc=f"IVF ANN: {IVF_K} seed centroids, nprobe={IVF_NPROBE}, exact top-10 in probed cells",
    executes_on_construct=True,  # collects the centroids and the query
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    # the probe set is the query's own ranking of the centroids,
    # computed on the driver; the corpus pass is one narrow scan
    cids, cents, qs = _seed_cells(e, IVF_K, _QUERY_VEC)
    q = qs[_QUERY_VEC]
    probe = top_cells(q[None], cids, cents, IVF_NPROBE)[0].tolist()
    return (
        nearest_centroid(e.filter(F.col("vec_id") != _QUERY_VEC), cids, cents, query=q)
        .filter(F.col("cid").isin(probe))
        .select("vec_id", "label", "cid", F.col("qcos").alias("cosine"))
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Symmetric int8 quantization: q = clip(round(v/s), ±127), s =
# max|v|/127 per vector. The op that cuts a 100 TB float32 embedding
# store 4× (and the dot-product memory bandwidth with it); registered
# as per-vector quality stats so the quantization arithmetic itself is
# oracle-checked. Rounding is floor(x+0.5) EXPLICITLY: Spark round()
# (HALF_UP on the decimal repr) and DuckDB round() (banker's) disagree
# on ties, so neither is portable. Scale: narrow per-row transform, no
# shuffle; the quantized array would be stored as array<tinyint> (or
# binary) next to the float column.
# ---------------------------------------------------------------------------


def _q8(x):
    """portable round-half-up-toward-+inf: floor(x + 0.5), clipped."""
    return F.greatest(F.lit(-127.0), F.least(F.lit(127.0), F.floor(x + F.lit(0.5))))


@register(
    "embedding_quantize_int8",
    f"""
    WITH n AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), s AS (
      SELECT vec_id, v,
             list_reduce(list_transform(v, x -> abs(x)), (a, b) -> greatest(a, b)) / 127.0
               AS scale
      FROM n
    ), q AS (
      SELECT vec_id, v, scale,
             list_transform(v, x -> greatest(-127.0, least(127.0, floor(x / scale + 0.5))))
               AS qv
      FROM s
    )
    SELECT vec_id,
           CAST(list_min(qv) AS INT) AS q_min,
           CAST(list_max(qv) AS INT) AS q_max,
           list_reduce(list_transform(generate_series(1, {DIM}),
                                      i -> (v[i] - qv[i] * scale) * (v[i] - qv[i] * scale)),
                       (a, b) -> a + b) / {DIM} AS mse,
           -- parenthesization mirrors the engine exactly: float
           -- multiplication is not associative, and the oracle hashes
           -- values bit-for-bit
           list_reduce(list_transform(generate_series(1, {DIM}), i -> v[i] * (qv[i] * scale)),
                       (a, b) -> a + b)
             / (sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) *
                sqrt(list_reduce(list_transform(qv, x -> (x * scale) * (x * scale)),
                                 (a, b) -> a + b))) AS recon_cosine
    FROM q
    ORDER BY vec_id
    """,
    doc="symmetric int8 quantization quality: per-vector q-range, MSE, reconstruction cosine",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = normalized_vectors(spark, sf_dir).select("vec_id", "v", "nm")
    scale = (
        F.aggregate(
            F.transform("v", lambda x: F.abs(x)), F.lit(0.0), lambda a, b: F.greatest(a, b)
        )
        / 127.0
    )
    s = n.withColumn("scale", scale)
    # a zero vector's scale is 0: its quotients are NULL, as in DuckDB,
    # where a plain divide raises under ANSI; greatest/least skip the
    # NULL, so they quantise to 127 in both engines
    q = s.withColumn("qv", F.transform("v", lambda x: _q8(F.try_divide(x, F.col("scale")))))
    dq = F.transform("qv", lambda x: x * F.col("scale"))  # dequantized
    err2 = F.zip_with("v", dq, lambda a, b: (a - b) * (a - b))
    mse = F.aggregate(err2, F.lit(0.0), lambda a, b: a + b) / DIM
    dqn = F.sqrt(F.aggregate(F.transform(dq, lambda x: x * x), F.lit(0.0), lambda a, b: a + b))
    recon = _cos(F.col("v"), dq, F.col("nm"), dqn)
    return (
        q.select(
            "vec_id",
            F.array_min("qv").cast("int").alias("q_min"),
            F.array_max("qv").cast("int").alias("q_max"),
            mse.alias("mse"),
            recon.alias("recon_cosine"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# IVF with TRAINED centroids: pyspark.ml KMeans (k-means||, seeded)
# replaces the deterministic seed-selection of `ann_ivf_topk`. The
# probe plan is IDENTICAL — broadcast assignment, nprobe cells, exact
# top-k inside them — only centroid quality changes, so recall@10
# can only match or beat the seed variant (asserted in
# tests/test_ivf_kmeans.py). Registered rows-only: k-means training
# is not SQL-replayable in DuckDB; the seed variant keeps the
# hash-checked oracle for the shared probe-plan shape.
# Scale: fit() is Lloyd iterations over the corpus (each one
# broadcast of K centers + one map-side-combined partial sum — the
# textbook distributed k-means); transform() is a stateless broadcast
# map. The K centres stay on the driver, where the query's probe
# cells are ranked (`top_cells`); the probe is a literal cell filter.
# K here is 16 for a 500-vector fixture; at corpus scale K ~ √n and
# nprobe scales with it, keeping the probe touch fraction nprobe/K.
# ---------------------------------------------------------------------------
IVF_KM_K = 16
IVF_KM_NPROBE = 4
IVF_KM_SEED = 7


@register(
    "ann_ivf_kmeans_topk",
    None,  # k-means training is not SQL-replayable → rows-only check
    doc=f"IVF ANN over k-means({IVF_KM_K}) cells, nprobe={IVF_KM_NPROBE}, exact top-10",
    executes_on_construct=True,
)
def ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _kmeans_probe_topk(spark, sf_dir, IVF_KM_NPROBE)


def _kmeans_probe_topk(spark: SparkSession, sf_dir: str, nprobe: int) -> DataFrame:
    """Exact top-10 of the query within its *nprobe* nearest k-means
    cells: the fit and assignment are `_kmeans_centers`, and the probe
    cells are ranked on the driver (`top_cells`) and kept by a literal
    cell filter."""
    n = normalized_vectors(spark, sf_dir)
    assigned, (cids, cents) = _kmeans_centers(spark, n)
    _, qv = collect_vectors(n.filter(F.col("vec_id") == _QUERY_VEC).select("vec_id", "v"))
    probe = top_cells(qv, cids, cents, nprobe)[0].tolist()
    cand = assigned.filter(F.col("cid").isin(probe) & (F.col("vec_id") != _QUERY_VEC))
    return _query_top10(cand, qv[0], "cid")


def _query_top10(rows: DataFrame, q: np.ndarray, *cols: str) -> DataFrame:
    """The 10 rows of *rows* (vec_id, label, v, nm, ...) nearest the
    driver-side query vector *q* by exact cosine, the SQL fold: (vec_id,
    label, *cols*, cosine). *q* enters the plan as one literal array,
    not as a joined row."""
    qv = F.array(*[F.lit(float(x)) for x in q])
    cosine = _cos(F.col("v"), qv, F.col("nm"), _norm(qv))
    return (
        rows.select("vec_id", "label", *cols, cosine.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.asc("vec_id"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Hash-verifiable companion of `ann_ivf_kmeans_topk`: the SAME trained
# k-means path (fit → assign → probe → exact top-k), run with
# nprobe = K (every cell probed). Because the k-means assignment is a
# PARTITION of the corpus, probing all cells must return exactly the
# global brute-force top-10 — which the DuckDB oracle computes
# independently with no knowledge of the model. A green hash row
# therefore proves the trained path's integrity end-to-end: the
# assignment covers every vector exactly once (a lost or duplicated
# vector breaks the row set), the probe join machinery is sound, and
# the cosine math is bit-equal to the oracle's. Centroid QUALITY
# (recall at nprobe < K) is the rows-only lane's concern, gated by
# tests/test_ivf_kmeans.py; `cid` is excluded from the output because
# k-means cluster numbering is not oracle-restatable.
# Scale: identical plan shape to the nprobe<K lane — driver-ranked probe
# cells as a literal filter, one corpus scan.
# ---------------------------------------------------------------------------


@register(
    "ann_ivf_kmeans_agreement",
    f"""
    WITH n AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
             {_SQL_NORM.format(e='embedding')} AS nm
      FROM embeddings
    ), q AS (
      SELECT v AS qv, nm AS qn FROM n WHERE vec_id = {_QUERY_VEC}
    )
    SELECT n.vec_id, n.label,
           {_SQL_DOT.format(dim=DIM, u='n.v', v='q.qv')} / (n.nm * q.qn) AS cosine
    FROM n CROSS JOIN q
    WHERE n.vec_id <> {_QUERY_VEC}
    ORDER BY cosine DESC, vec_id
    LIMIT 10
    """,
    doc=f"k-means({IVF_KM_K}) IVF probed at nprobe=K == exact brute-force top-10",
    executes_on_construct=True,
)
def ann_ivf_kmeans_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    # nprobe = K: every cell — agreement mode
    return _kmeans_probe_topk(spark, sf_dir, IVF_KM_K).select("vec_id", "label", "cosine")


# ---------------------------------------------------------------------------
# Composed production near-dup pipeline: candidate generation by IVF
# cell co-membership (same nearest seed centroid ⇒ candidate pair) →
# parameterized exact-cosine verification on the candidates ONLY.
# Scale: assignment is one narrow nearest-centroid pass over the
# corpus (the K centroids collected at construction); the candidate
# join is an equi-join on cell id, O(Σ|cell|²) = O(n²/K) for balanced
# cells — with K ~ √n (k-means at deployment, seed selection here for
# oracle replay) that is O(n^1.5), and the exact stage only ever sees
# those candidates. The plan contains NO corpus×corpus
# cartesian/nested-loop join — regression-guarded in tests/test_plans.py.
# ---------------------------------------------------------------------------


@register(
    "dedup_embedding_pipeline",
    f"""
    WITH n AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
             {_SQL_NORM.format(e='embedding')} AS nm
      FROM embeddings
    ), cents AS (
      SELECT vec_id AS cid, v AS cv, nm AS cn FROM n WHERE vec_id BETWEEN 1 AND {IVF_K}
    ), scored AS (
      SELECT n.vec_id, cents.cid,
             row_number() OVER (
               PARTITION BY n.vec_id
               ORDER BY {_SQL_DOT.format(dim=DIM, u='n.v', v='cents.cv')} / (n.nm * cents.cn) DESC,
                        cents.cid
             ) AS rn
      FROM n CROSS JOIN cents
    ), assign AS (
      SELECT vec_id, cid FROM scored WHERE rn = 1
    ), cand AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
    )
    SELECT c.vec_a, c.vec_b,
           {_SQL_DOT.format(dim=DIM, u='x.v', v='y.v')} / (x.nm * y.nm) AS cosine
    FROM cand c JOIN n x ON x.vec_id = c.vec_a JOIN n y ON y.vec_id = c.vec_b
    WHERE {_SQL_DOT.format(dim=DIM, u='x.v', v='y.v')} / (x.nm * y.nm) >= {COS_THRESHOLD}
    ORDER BY vec_a, vec_b
    """,
    doc=f"IVF-cell candidates → exact-cosine verify ≥ {COS_THRESHOLD} (composed production path)",
    executes_on_construct=True,  # collects the K centroids
)
def dedup_embedding_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = normalized_vectors(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    cids, cents, _ = _seed_cells(e, IVF_K)
    assign = nearest_centroid(e.select("vec_id", "embedding"), cids, cents).select("vec_id", "cid")
    a, b = assign.alias("a"), assign.alias("b")
    cand_ids = a.join(
        b,
        (F.col("a.cid") == F.col("b.cid")) & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
    return exact_cosine_pairs(n, cand_ids)


# ---------------------------------------------------------------------------
# Embedding-space DECONTAMINATION — the paraphrase-robust complement
# to `decontaminate_ngram_overlap` (training_data.py): n-gram overlap
# misses reworded eval leakage; cosine similarity to the eval set
# catches it. Every 10th vec_id plays the EVAL set (small by
# construction, as real eval sets are); train vectors within
# COS_THRESHOLD of ANY eval vector are the contamination report.
#
# Scale shape: broadcast(eval) × ONE linear pass over the train
# corpus — the eval side is the thousands-of-rows side, so at 100 TB
# this is a map-only scan with zero shuffle (no corpus×corpus join;
# for eval sets too big to broadcast, LSH-bucket both sides first —
# the machinery `ann_srp_lsh_pairs` already builds). The fixture cap
# (_COSINE_GT_CAP) bounds the bench-scale pair count the same way the
# cosine ground-truth lane does; it does not bind at driver scale.
# ---------------------------------------------------------------------------
@register(
    "decontaminate_embedding_cosine",
    f"""
    WITH n AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             {_SQL_NORM.format(e='embedding')} AS nm
      FROM embeddings WHERE vec_id < {_COSINE_GT_CAP}
    ),
    ev AS (SELECT * FROM n WHERE vec_id % 10 = 0),
    tr AS (SELECT * FROM n WHERE vec_id % 10 != 0)
    SELECT tr.vec_id AS train_id, ev.vec_id AS eval_id,
           {_SQL_DOT.format(dim=DIM, u='tr.v', v='ev.v')} / (tr.nm * ev.nm) AS cosine
    FROM tr CROSS JOIN ev
    WHERE {_SQL_DOT.format(dim=DIM, u='tr.v', v='ev.v')} / (tr.nm * ev.nm) >= {COS_THRESHOLD}
    ORDER BY train_id, eval_id
    """,
    doc=f"train vectors within cosine {COS_THRESHOLD} of the eval set (broadcast eval x linear train pass)",
)
def decontaminate_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = normalized_vectors(spark, sf_dir).filter(
        F.col("vec_id") < _COSINE_GT_CAP
    )
    ev = n.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("eval_id"), F.col("v").alias("ev"), F.col("nm").alias("en")
    )
    tr = n.filter(F.col("vec_id") % 10 != 0).select(
        F.col("vec_id").alias("train_id"), F.col("v").alias("tv"), F.col("nm").alias("tn")
    )
    cosine = _cos(F.col("tv"), F.col("ev"), F.col("tn"), F.col("en"))
    return (
        tr.crossJoin(F.broadcast(ev))  # eval side broadcast: map-only scan
        .filter(cosine >= COS_THRESHOLD)
        .select("train_id", "eval_id", cosine.alias("cosine"))
        .orderBy("train_id", "eval_id")
    )


# ---------------------------------------------------------------------------
# Signed-random-projection LSH: 64 fixed ±1 hyperplanes (md5-seeded so
# both engines regenerate them identically) → 4 bands × 16 sign bits →
# candidates share any band bucket → exact-cosine verify ≥ threshold.
#
# Scale: per-band bucket equi-join; the corpus never cross-joins. The
# 16-bit band code gives 65,536 buckets per band, so expected bucket
# occupancy — and with it candidate-pair count — scales ~n²/65k per
# band instead of the n²/16 a 4-bit band degenerates to: at corpus
# scale the candidate set stays sub-quadratic until n ≫ bucket count,
# at which point widen the band (more planes) — the plan shape is
# unchanged.
#
# Recall: P(two vectors agree on one plane) = 1 - θ/π. A 16-bit band
# matches with p^16, any-of-4 bands ⇒ recall = 1-(1-p^16)^4. That is
# tuned for the HIGH-cosine regime real near-dup dedup targets
# (cosine ≥ 0.9 → p ≈ 0.93 → recall ≈ 0.74; ≥ 0.95 → ≈ 0.94). At this
# fixture's demo threshold (0.4, near-orthogonal synthetic vectors)
# band-match probability is tiny — the registered query's value is
# plan-shape + engine parity, not fixture recall; the exact
# verification stage (dedup_embedding_cosine on candidates) is what
# guarantees precision of whatever the bands surface.
# ---------------------------------------------------------------------------
SRP_PLANES = 64
SRP_BANDS = 4
SRP_ROWS = SRP_PLANES // SRP_BANDS


# Hyperplane (plane h, dim j) = ±1 from the parity of md5's first hex
# digit — md5 is the one keyed hash BOTH engines implement identically,
# so the matrix regenerates inside each engine (no literals in the
# plan, no driver-shipped data, no Python on the executor path).
_EVEN_HEX = ("0", "2", "4", "6", "8", "a", "c", "e")


@register(
    "ann_srp_lsh_pairs",
    f"""
    WITH n AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             {_SQL_NORM.format(e='embedding')} AS nm
      FROM embeddings
    ), planes AS (
      SELECT CAST(h AS INT) AS plane,
             list_transform(generate_series(0, {DIM - 1}),
               j -> CASE WHEN substring(md5('srp:' || h || ':' || j), 1, 1)
                         IN {_EVEN_HEX} THEN 1.0 ELSE -1.0 END) AS pvec
      FROM generate_series(0, {SRP_PLANES - 1}) t(h)
    ), bits AS (
      SELECT vec_id, v, nm, plane,
             CASE WHEN {_SQL_DOT.format(dim=DIM, u='v', v='pvec')} >= 0
                  THEN 1 ELSE 0 END AS bit
      FROM n CROSS JOIN planes
    ), per_vec AS (
      SELECT vec_id, any_value(v) AS v, any_value(nm) AS nm,
             CAST(sum(CASE WHEN plane // {SRP_ROWS} = 0
                      THEN bit * 2 ** ({SRP_ROWS - 1} - plane % {SRP_ROWS}) END) AS INT) AS b0,
             CAST(sum(CASE WHEN plane // {SRP_ROWS} = 1
                      THEN bit * 2 ** ({SRP_ROWS - 1} - plane % {SRP_ROWS}) END) AS INT) AS b1,
             CAST(sum(CASE WHEN plane // {SRP_ROWS} = 2
                      THEN bit * 2 ** ({SRP_ROWS - 1} - plane % {SRP_ROWS}) END) AS INT) AS b2,
             CAST(sum(CASE WHEN plane // {SRP_ROWS} = 3
                      THEN bit * 2 ** ({SRP_ROWS - 1} - plane % {SRP_ROWS}) END) AS INT) AS b3
      FROM bits GROUP BY vec_id
    ), banded AS (
      SELECT vec_id, v, nm, band,
             CASE band WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END AS bucket
      FROM per_vec CROSS JOIN (SELECT unnest(generate_series(0, {SRP_BANDS - 1})) AS band)
    ), cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
             a.v AS va, a.nm AS na, b.v AS vb, b.nm AS nb
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b,
           {_SQL_DOT.format(dim=DIM, u='va', v='vb')} / (na * nb) AS cosine
    FROM cand
    WHERE {_SQL_DOT.format(dim=DIM, u='va', v='vb')} / (na * nb) >= {COS_THRESHOLD}
    ORDER BY vec_a, vec_b
    """,
    doc=f"SRP-LSH {SRP_BANDS}×{SRP_ROWS} bucketed candidates, exact-cosine verify ≥ {COS_THRESHOLD}",
)
def ann_srp_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    # The hyperplane matrix is GENERATED JVM-side (md5-parity over
    # spark.range), not embedded as literals and not createDataFrame'd:
    # 16x64 F.lit()s made Janino compile a multi-minute generated class
    # (every task blocked on the codegen-cache KeyLock), and a local
    # createDataFrame put Python-worker spawning on the executor path.
    # Data belongs in relations computed by the engine, not in code.
    pvec = F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda j: F.when(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("srp:"),
                        F.col("plane").cast("string"),
                        F.lit(":"),
                        j.cast("string"),
                    )
                ),
                1,
                1,
            ).isin(*_EVEN_HEX),
            1.0,
        ).otherwise(-1.0),
    )
    planes_df = (
        spark.range(SRP_PLANES)
        .select(F.col("id").cast("int").alias("plane"))
        .select("plane", pvec.alias("pvec"))
    )
    n = e.select("vec_id", _vec().alias("v"), _norm(_vec()).alias("nm"))
    # sign bit per (vector, plane): fold-order-stable dot, 16 rows/vec
    bit = (
        F.when(_dot(F.col("v"), F.col("pvec")) >= 0, 1).otherwise(0).alias("bit")
    )
    bits = n.crossJoin(F.broadcast(planes_df)).select("vec_id", "v", "nm", "plane", bit)
    # fold the 4 sign bits of each band into its bucket code, then
    # unpivot to (vec_id, band, bucket) rows for the candidate join
    band_cols = [
        F.sum(
            F.when(
                (F.col("plane") >= b * SRP_ROWS) & (F.col("plane") < (b + 1) * SRP_ROWS),
                F.col("bit")
                * F.pow(F.lit(2.0), (SRP_ROWS - 1) - (F.col("plane") - b * SRP_ROWS)),
            )
        )
        .cast("int")
        .alias(f"b{b}")
        for b in range(SRP_BANDS)
    ]
    per_vec = bits.groupBy("vec_id").agg(
        F.first("v").alias("v"), F.first("nm").alias("nm"), *band_cols
    )
    stack_expr = "stack({}, {}) as (band, bucket)".format(
        SRP_BANDS, ", ".join(f"{b}, b{b}" for b in range(SRP_BANDS))
    )
    banded = per_vec.select("vec_id", "v", "nm", F.expr(stack_expr))
    # candidate pairs carry BARE IDs through the bucket join + dedup
    # (a pair sharing k bands appears k times pre-dedup; shipping the
    # two 64-double payloads through that shuffle measured ~2x the
    # whole query) — vectors re-attach afterwards, once per survivor
    bkeys = banded.select("vec_id", "band", "bucket")
    a, b = bkeys.alias("a"), bkeys.alias("b")
    cand_ids = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .dropDuplicates(["vec_a", "vec_b"])
    )
    return exact_cosine_pairs(n, cand_ids)


# ---------------------------------------------------------------------------
# ANN evaluation harness — recall@10 and reciprocal rank of the IVF
# probe against brute-force ground truth, over a 5-query set. The
# missing third leg of the similarity stool: index build
# (`ann_ivf_topk`), agreement-at-full-probe (`ann_ivf_kmeans_
# agreement`), and now QUALITY AT THE PRODUCTION OPERATING POINT
# (nprobe=2 of 8) — the number a platform team actually tunes nprobe
# against. Both rankings are deterministic (seeded centroids, exact
# IEEE fold order, total tie-breaks), so the metric itself is
# hash-verifiable, not just eyeballed.
#
# Scale: queries broadcast (5 rows); brute side is one corpus scan ×
# |Q| with a per-query TakeOrdered-shaped window; IVF side reuses the
# narrow nearest-centroid assignment, with each query's probe cells
# ranked on the driver, and probes nprobe/K of the corpus per query.
# At 100 TB the brute side runs on a SAMPLE of queries exactly like
# this — recall estimation never needs the full query log.
# ---------------------------------------------------------------------------
_EVAL_QUERIES = (0, 10, 20, 30, 40)  # disjoint from seed centroids 1..8


@register(
    "ann_recall_metrics",
    f"""
    WITH n AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             {_SQL_NORM.format(e='embedding')} AS nm
      FROM embeddings
    ), qs AS (
      SELECT vec_id AS qid, v AS qv, nm AS qn FROM n
      WHERE vec_id IN {_EVAL_QUERIES}
    ), brute AS (
      SELECT qs.qid, n.vec_id,
             row_number() OVER (
               PARTITION BY qs.qid
               ORDER BY {_SQL_DOT.format(dim=DIM, u='n.v', v='qs.qv')} / (n.nm * qs.qn) DESC,
                        n.vec_id
             ) AS brank
      FROM n, qs WHERE n.vec_id <> qs.qid
    ), truth AS (
      SELECT qid, vec_id, brank FROM brute WHERE brank <= 10
    ), cents AS (
      SELECT vec_id AS cid, v AS cv, nm AS cn FROM n
      WHERE vec_id BETWEEN 1 AND {IVF_K}
    ), cscored AS (
      SELECT n.vec_id, n.v, n.nm, cents.cid,
             row_number() OVER (
               PARTITION BY n.vec_id
               ORDER BY {_SQL_DOT.format(dim=DIM, u='n.v', v='cents.cv')} / (n.nm * cents.cn) DESC,
                        cents.cid
             ) AS rn
      FROM n CROSS JOIN cents
    ), assign AS (
      SELECT vec_id, v, nm, cid FROM cscored WHERE rn = 1
    ), qprobe AS (
      SELECT qs.qid, s.cid FROM cscored s JOIN qs ON s.vec_id = qs.qid
      WHERE s.rn <= {IVF_NPROBE}
    ), approx AS (
      SELECT p.qid, a.vec_id,
             row_number() OVER (
               PARTITION BY p.qid
               ORDER BY {_SQL_DOT.format(dim=DIM, u='a.v', v='qs.qv')} / (a.nm * qs.qn) DESC,
                        a.vec_id
             ) AS arank
      FROM assign a JOIN qprobe p ON a.cid = p.cid JOIN qs ON qs.qid = p.qid
      WHERE a.vec_id <> p.qid
    ), atop AS (
      SELECT qid, vec_id, arank FROM approx WHERE arank <= 10
    ), overlap AS (
      SELECT t.qid, CAST(count(*) AS BIGINT) AS n_overlap
      FROM truth t JOIN atop a ON t.qid = a.qid AND t.vec_id = a.vec_id
      GROUP BY t.qid
    ), rr AS (
      SELECT t.qid,
             coalesce(1.0 / CAST(a.arank AS DOUBLE), 0.0) AS reciprocal_rank
      FROM truth t
      LEFT JOIN atop a ON t.qid = a.qid AND t.vec_id = a.vec_id
      WHERE t.brank = 1
    )
    SELECT qs.qid AS query_id,
           CAST(coalesce(o.n_overlap, 0) AS BIGINT) AS n_overlap,
           CAST(coalesce(o.n_overlap, 0) AS DOUBLE) / 10.0 AS recall_at_10,
           rr.reciprocal_rank
    FROM qs
    LEFT JOIN overlap o ON o.qid = qs.qid
    JOIN rr ON rr.qid = qs.qid
    ORDER BY query_id
    """,
    doc=f"IVF recall@10 + MRR vs brute force over {len(_EVAL_QUERIES)} queries at nprobe={IVF_NPROBE}",
    executes_on_construct=True,  # collects the centroids and the eval queries
)
def ann_recall_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    n = e.select("vec_id", _vec().alias("v"), _norm(_vec()).alias("nm"))
    qs = (
        n.filter(F.col("vec_id").isin(*_EVAL_QUERIES))
        .select(
            F.col("vec_id").alias("qid"),
            F.col("v").alias("qv"),
            F.col("nm").alias("qn"),
        )
    )
    qcos = _cos(F.col("v"), F.col("qv"), F.col("nm"), F.col("qn"))
    # salted two-phase top-k, not a full-corpus row_number per qid
    # (same rework as ann_matryoshka_recall, r10 verdict task 2)
    from sf_etl_spark.operators.topk import salted_topk

    brute = (
        n.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("qid"))
        .withColumn("_c", qcos)
    )
    truth = salted_topk(
        brute,
        ["qid"],
        [F.col("_c").desc(), F.asc("vec_id")],
        10,
        ["vec_id"],
        rank_col="brank",
    ).select("qid", "vec_id", "brank")
    # the eval queries' probe cells are ranked on the driver from the
    # K centroids and the 5 query vectors, collected in one job
    cids, cents, qvecs = _seed_cells(e, IVF_K, *_EVAL_QUERIES)
    qids = sorted(qvecs)
    qmat = np.array([qvecs[i] for i in qids]).reshape(len(qids), cents.shape[1])
    probes = top_cells(qmat, cids, cents, IVF_NPROBE)
    qprobe = spark.createDataFrame(
        [(qid, int(c)) for qid, cells in zip(qids, probes) for c in cells],
        "qid bigint, cid bigint",
    )
    assign = nearest_centroid(
        e.select("vec_id", "embedding"), cids, cents, keep_vec=True
    ).select("vec_id", _vec().alias("v"), "nm", "cid")
    approx = (
        assign.join(F.broadcast(qprobe), "cid")
        .join(F.broadcast(qs), "qid")
        .filter(F.col("vec_id") != F.col("qid"))
        .withColumn("_c", qcos)
    )
    # probed candidates are n·nprobe/K rows per qid — data-proportional,
    # so this ranking is salted too, not a per-qid window sort
    atop = salted_topk(
        approx,
        ["qid"],
        [F.col("_c").desc(), F.asc("vec_id")],
        10,
        ["vec_id"],
        rank_col="arank",
    ).select("qid", "vec_id", "arank")
    overlap = (
        truth.join(atop, ["qid", "vec_id"])
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    rr = (
        truth.filter(F.col("brank") == 1)
        .join(atop, ["qid", "vec_id"], "left")
        .select(
            "qid",
            F.coalesce(
                F.lit(1.0) / F.col("arank").cast("double"), F.lit(0.0)
            ).alias("reciprocal_rank"),
        )
    )
    return (
        qs.select("qid")
        .join(overlap, "qid", "left")
        .join(rr, "qid")
        .select(
            F.col("qid").alias("query_id"),
            F.coalesce(F.col("n_overlap"), F.lit(0)).cast("bigint").alias("n_overlap"),
            (F.coalesce(F.col("n_overlap"), F.lit(0)).cast("double") / F.lit(10.0)).alias(
                "recall_at_10"
            ),
            "reciprocal_rank",
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Matryoshka retrieval evaluation — the MRL production pattern
# (Kusupati et al. 2022: nested prefix sub-embeddings): shortlist
# with the CHEAP prefix-dimension cosine (first 16 of 64 dims — 4x
# less arithmetic and memory traffic per candidate), then rerank the
# shortlist with the full vector. Two hash-verified metrics per eval
# query: recall@10 of the RAW prefix ranking (how lossy truncation is
# alone) and recall@10 after full-dim rerank of a 50-candidate
# shortlist (what the two-stage pipeline actually ships). Same
# deterministic fold-order / tie-break discipline as the other ANN
# lanes, so the metric hashes, not just eyeballs.
#
# Scale: the brute truth side exists only for the |Q|=5 eval sample
# (recall estimation never needs the full query log); the production
# path is the prefix pass — at 100 TB the prefix scan moves 1/4 the
# bytes per candidate (better: store the prefix as its own column and
# the scan prunes to it), and the full-dim rerank touches only
# |Q|·shortlist rows.
# ---------------------------------------------------------------------------
MRL_PREFIX_DIM = 16
MRL_SHORTLIST = 50


def _sql_prefix_norm(e: str, dim: int) -> str:
    return (
        f"sqrt(list_reduce(list_transform(generate_series(1, {dim}),"
        f" i -> {e}[i] * {e}[i]), (a, b) -> a + b))"
    )


@register(
    "ann_matryoshka_recall",
    f"""
    WITH n AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             {_SQL_NORM.format(e='embedding')} AS nm,
             {_sql_prefix_norm('CAST(embedding AS DOUBLE[])', MRL_PREFIX_DIM)} AS pnm
      FROM embeddings
    ), qs AS (
      SELECT vec_id AS qid, v AS qv, nm AS qn, pnm AS pqn FROM n
      WHERE vec_id IN {_EVAL_QUERIES}
    ), scored AS (
      SELECT qs.qid, n.vec_id,
             row_number() OVER (
               PARTITION BY qs.qid
               ORDER BY {_SQL_DOT.format(dim=DIM, u='n.v', v='qs.qv')} / (n.nm * qs.qn) DESC,
                        n.vec_id
             ) AS frank,
             row_number() OVER (
               PARTITION BY qs.qid
               ORDER BY {_SQL_DOT.format(dim=MRL_PREFIX_DIM, u='n.v', v='qs.qv')} / (n.pnm * qs.pqn) DESC,
                        n.vec_id
             ) AS prank
      FROM n, qs WHERE n.vec_id <> qs.qid
    ), truth AS (
      SELECT qid, vec_id FROM scored WHERE frank <= 10
    ), ptop AS (
      SELECT qid, vec_id FROM scored WHERE prank <= 10
    ), rerank AS (
      SELECT qid, vec_id,
             row_number() OVER (PARTITION BY qid ORDER BY frank) AS rrank
      FROM scored WHERE prank <= {MRL_SHORTLIST}
    ), rtop AS (
      SELECT qid, vec_id FROM rerank WHERE rrank <= 10
    ), po AS (
      SELECT t.qid, CAST(count(*) AS BIGINT) AS n FROM truth t
      JOIN ptop p ON t.qid = p.qid AND t.vec_id = p.vec_id GROUP BY t.qid
    ), ro AS (
      SELECT t.qid, CAST(count(*) AS BIGINT) AS n FROM truth t
      JOIN rtop r ON t.qid = r.qid AND t.vec_id = r.vec_id GROUP BY t.qid
    )
    SELECT qs.qid AS query_id,
           CAST(coalesce(po.n, 0) AS BIGINT) AS n_overlap_prefix,
           CAST(coalesce(po.n, 0) AS DOUBLE) / 10.0 AS recall_prefix,
           CAST(coalesce(ro.n, 0) AS BIGINT) AS n_overlap_rerank,
           CAST(coalesce(ro.n, 0) AS DOUBLE) / 10.0 AS recall_rerank
    FROM qs
    LEFT JOIN po ON po.qid = qs.qid
    LEFT JOIN ro ON ro.qid = qs.qid
    ORDER BY query_id
    """,
    doc=f"Matryoshka eval: prefix-{MRL_PREFIX_DIM}d recall@10 raw and after full-dim rerank of top-{MRL_SHORTLIST}",
)
def ann_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two-phase SALTED top-k everywhere a per-query ranking is needed
    # (r10 verdict task 2): the old plan ranked the FULL corpus per
    # eval query via row_number windows partitioned by qid — 5
    # partitions of ~n rows each, a constant-parallelism sort that
    # grows with the data. Now truth and shortlist come from
    # operators/topk.salted_topk (lossless two-phase cut), and the
    # only qid-partitioned window sorts are over post-cut frames of
    # ≤ MRL_SHORTLIST·salts rows (audited in the window guard's
    # allowlist).
    from sf_etl_spark.operators.topk import salted_topk

    e = load_table(spark, sf_dir, "embeddings")
    v = _vec()
    pv = F.slice(v, 1, MRL_PREFIX_DIM)
    n = e.select(
        "vec_id",
        v.alias("v"),
        _norm(v).alias("nm"),
        _norm(pv).alias("pnm"),
    )
    qs = n.filter(F.col("vec_id").isin(*_EVAL_QUERIES)).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("nm").alias("qn"),
        F.col("pnm").alias("pqn"),
    )
    fcos = _cos(F.col("v"), F.col("qv"), F.col("nm"), F.col("qn"))
    pcos = _cos(
        F.slice(F.col("v"), 1, MRL_PREFIX_DIM),
        F.slice(F.col("qv"), 1, MRL_PREFIX_DIM),
        F.col("pnm"),
        F.col("pqn"),
    )
    scored = (
        n.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", fcos.alias("_f"), pcos.alias("_p"))
    )
    truth = salted_topk(
        scored, ["qid"], [F.col("_f").desc(), F.asc("vec_id")], 10, ["vec_id"]
    ).select("qid", "vec_id")
    # shortlist keeps the exact prefix rank, so the raw prefix top-10
    # is its rank ≤ 10 slice — no extra ranking pass
    shortlist = salted_topk(
        scored,
        ["qid"],
        [F.col("_p").desc(), F.asc("vec_id")],
        MRL_SHORTLIST,
        ["vec_id"],
        rank_col="prank",
    )
    ptop = shortlist.filter(F.col("prank") <= 10).select("qid", "vec_id")
    # rerank the ≤ MRL_SHORTLIST-row shortlist by the full-dim score:
    # a post-cut window (ordering by _f within the shortlist equals
    # ordering by global full-dim rank, which is monotone in _f)
    wq = Window.partitionBy("qid")
    rtop = (
        shortlist.withColumn(
            "rrank", F.row_number().over(wq.orderBy(F.col("_f").desc(), "vec_id"))
        )
        .filter(F.col("rrank") <= 10)
        .select("qid", "vec_id")
    )
    po = truth.join(ptop, ["qid", "vec_id"]).groupBy("qid").agg(
        F.count(F.lit(1)).alias("pn")
    )
    ro = truth.join(rtop, ["qid", "vec_id"]).groupBy("qid").agg(
        F.count(F.lit(1)).alias("rn")
    )
    return (
        qs.select("qid")
        .join(po, "qid", "left")
        .join(ro, "qid", "left")
        .select(
            F.col("qid").alias("query_id"),
            F.coalesce(F.col("pn"), F.lit(0)).cast("bigint").alias("n_overlap_prefix"),
            (F.coalesce(F.col("pn"), F.lit(0)).cast("double") / 10.0).alias("recall_prefix"),
            F.coalesce(F.col("rn"), F.lit(0)).cast("bigint").alias("n_overlap_rerank"),
            (F.coalesce(F.col("rn"), F.lit(0)).cast("double") / 10.0).alias("recall_rerank"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# SemDeDup-style SEMANTIC dedup (Abbas et al. 2023, arXiv:2303.09540):
# cluster the corpus in embedding space, then prune, within each
# cluster, every vector that has a near-duplicate neighbor "closer to
# the centroid" than itself — keeping, per duplicate group, the
# representative FARTHEST from the cluster centroid (the paper's
# low-centroid-similarity keep rule, applied through a deterministic
# total order so exactly the non-minimal members of each dup group
# are pruned).
#
# Clustering here is the same deterministic seed selection the IVF
# lanes use (vec_id 1..K as centroids) so the DuckDB oracle replays
# the WHOLE lane hash-for-hash; production swaps in trained k-means
# (the fit path `ann_ivf_kmeans_topk` already exercises) without
# changing any downstream plan shape.
#
# Scale: assignment is one narrow nearest-centroid pass over the corpus
# (no corpus shuffle); the dup-pair stage is an equi-join on cell id,
# O(Sigma|cell|^2) = O(n^2/K) — with K ~ sqrt(n) at deployment that is
# O(n^1.5), the SemDeDup paper's own cost argument; the prune rule is
# a projection + distinct over dup pairs and a broadcast-able
# anti-join back. No corpus x corpus join anywhere.
# Reference parity: no vector ops in the reference (north-star
# surface, SURVEY.md §2.2 last row).
# ---------------------------------------------------------------------------
SEM_K = 8
SEM_EPS = COS_THRESHOLD
SEM_SALTS = 16  # (K cells x salts) buckets spread the pair stage


@register(
    "dedup_semdedup_prune",
    f"""
    WITH n AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             {_SQL_NORM.format(e='embedding')} AS nm
      FROM embeddings
    ), cents AS (
      SELECT vec_id AS cid, v AS cv, nm AS cn FROM n WHERE vec_id BETWEEN 1 AND {SEM_K}
    ), scored AS (
      SELECT n.vec_id, cents.cid,
             {_SQL_DOT.format(dim=DIM, u='n.v', v='cents.cv')} / (n.nm * cents.cn) AS ccos,
             row_number() OVER (
               PARTITION BY n.vec_id
               ORDER BY {_SQL_DOT.format(dim=DIM, u='n.v', v='cents.cv')} / (n.nm * cents.cn) DESC,
                        cents.cid
             ) AS rn
      FROM n CROSS JOIN cents
    ), assign AS (
      SELECT vec_id, cid, ccos AS cent_cos FROM scored WHERE rn = 1
    ), pairs AS (
      SELECT a.vec_id AS ia, a.cent_cos AS ca, b.vec_id AS ib, b.cent_cos AS cb
      FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
      JOIN n x ON x.vec_id = a.vec_id
      JOIN n y ON y.vec_id = b.vec_id
      WHERE {_SQL_DOT.format(dim=DIM, u='x.v', v='y.v')} / (x.nm * y.nm) >= {SEM_EPS}
    ), pruned AS (
      SELECT DISTINCT
             CASE WHEN (ca > cb) OR (ca = cb AND ia > ib) THEN ia ELSE ib END AS vec_id
      FROM pairs
    )
    SELECT assign.vec_id, assign.cid, assign.cent_cos,
           CAST(CASE WHEN pruned.vec_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS pruned
    FROM assign LEFT JOIN pruned ON assign.vec_id = pruned.vec_id
    ORDER BY assign.vec_id
    """,
    doc=f"SemDeDup: seed-cell clustering, prune within-cell near-dups >= {SEM_EPS}"
    " keeping the lowest-centroid-similarity representative",
    executes_on_construct=True,  # centroids collected, assign frame localCheckpoint-ed
)
def dedup_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    cids, cents, _ = _seed_cells(e, SEM_K)
    # assignment: one narrow nearest-centroid pass; the vector rides
    # along for the pair stage. Materialized once (localCheckpoint):
    # the pair stage consumes it on BOTH sides and the final projection
    # a third time — without the cut the kernel pass runs three times.
    assign = (
        nearest_centroid(e.select("vec_id", "embedding"), cids, cents, keep_vec=True)
        .select(
            "vec_id",
            "cid",
            F.col("ccos").alias("cent_cos"),
            _vec().alias("v"),
            "nm",
        )
        .localCheckpoint()
    )
    a = assign.select(
        F.col("vec_id").alias("ia"),
        "cid",
        F.col("cent_cos").alias("ca"),
        F.col("v").alias("va"),
        F.col("nm").alias("na"),
    )
    b = assign.select(
        F.col("vec_id").alias("ib"),
        F.col("cid").alias("cid2"),
        F.col("cent_cos").alias("cb"),
        F.col("v").alias("vb"),
        F.col("nm").alias("nb"),
    )
    pair_cos = _cos(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"))
    # within-cell candidate pairs: equi-join on cell id — O(n^2/K),
    # never corpus x corpus (guarded in tests/test_plans.py); vectors
    # ride inside the assign frame so no extra attach joins.
    #
    # The join INPUT is n rows but its OUTPUT is n^2/K pair
    # evaluations — the expansion AQE's byte-based coalescing cannot
    # see (it would pack the tiny inputs into one partition and run
    # every pair cosine on one core; measured 2.7 s single-task at
    # sf0.1). Salt the cell key (operators/skew.py machinery: probe
    # side one deterministic salt per row, build side replicated
    # n_salts x) and EXPLICITLY hash-repartition both sides on
    # (cell, salt) — user-specified repartitioning is exempt from AQE
    # coalescing, so the K*n_salts buckets spread the quadratic
    # evaluation across the cluster. Row-identical to the unsalted
    # join; same fan-out discipline as salted_join_revenue.
    n_part = _shuffle_partitions(spark)
    pairs = (
        salt_probe(a, SEM_SALTS, uniq_col="ia")
        .repartition(n_part, "cid", SALT_COL)
        .join(
            replicate_build(b.withColumnRenamed("cid2", "cid"), SEM_SALTS)
            .repartition(n_part, "cid", SALT_COL),
            ["cid", SALT_COL],
        )
        .filter((F.col("ia") < F.col("ib")) & (pair_cos >= SEM_EPS))
        .select("ia", "ca", "ib", "cb")
    )
    # SemDeDup keep rule as a deterministic total order: of every dup
    # pair, prune the member with the HIGHER centroid similarity
    # (tie-break: higher vec_id) — the per-group minimum survives.
    pruned = pairs.select(
        F.when(
            (F.col("ca") > F.col("cb"))
            | ((F.col("ca") == F.col("cb")) & (F.col("ia") > F.col("ib"))),
            F.col("ia"),
        )
        .otherwise(F.col("ib"))
        .alias("vec_id")
    ).distinct()
    return (
        assign.join(pruned.withColumn("_hit", F.lit(1)), "vec_id", "left")
        .select(
            "vec_id",
            "cid",
            "cent_cos",
            F.when(F.col("_hit").isNotNull(), F.lit(1)).otherwise(F.lit(0)).alias("pruned"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# Product-quantization ANN (Jegou, Douze, Schmid 2011, "Product
# Quantization for Nearest Neighbor Search"): split the 64-dim space
# into M=8 subspaces of 8 dims; quantize each subvector to one of
# C=16 per-subspace codewords; answer a query by ADC (asymmetric
# distance computation) — a 128-entry lookup table of
# query-subvector-to-codeword squared L2 distances, summed across the
# M code assignments — then exact-cosine re-rank of the ADC
# shortlist.
#
# Codebooks here are deterministic seed selection (subvectors of
# vec_id 1..C) so DuckDB replays the whole lane hash-for-hash;
# production trains per-subspace k-means (`_pq_train_codebooks`) with
# an unchanged encode/ADC plan shape.
#
# Scale: the codebook (M x C x SUBDIM doubles) and the query sit on
# the driver, collected at construction in one job; encode and ADC are
# one narrow `pq_adc` pass (operators/vectors.py) over the corpus, no
# shuffle. The ADC distance is the M table entries the codes pick,
# summed in fixed m order (bit-stable in numpy and DuckDB). Both cuts
# (ADC shortlist, final top-10) are orderBy+limit, which Spark plans
# as TakeOrderedAndProject — per-partition partial top-k, no global
# sort shuffle. At deployment the codes are a persisted byte column (M
# bytes/vector — the 16x-64x compression PQ exists for) and only the
# re-rank touches raw vectors.
# Reference parity: no vector ops in the reference (north-star
# surface, SURVEY.md §2.2 last row).
# ---------------------------------------------------------------------------
PQ_M = 8  # subspaces
PQ_SUBDIM = DIM // PQ_M
PQ_C = 16  # codewords per subspace
PQ_RERANK = 50  # ADC shortlist size fed to exact re-rank


def _sql_pq_ctes(cand_join: str = "", qtable: str = "q", per_qid: bool = False) -> str:
    """The shared PQ oracle CTE chain — codebook (``ms``/``cb``) →
    encode (``d``/``enc``) → query distance table (``qtab``) → ADC
    scores (``adc``) — built ONCE and interpolated into the three PQ
    oracles (`ann_pq_adc_topk`, `ann_ivf_pq_topk`,
    `ann_pq_recall_metrics`), so PQ constants and the fold expression
    live in one place. Parameterized on the candidate restriction
    (*cand_join*, an extra join clause scoping ``d`` to IVF
    candidates) and the query set (*qtable*: single-row ``q`` or
    multi-row ``qs`` with *per_qid* grouping). Expects a CTE ``n``
    (vec_id, v, nm) and the query CTE already in scope; starts with
    ``ms AS`` (callers splice it after a comma)."""
    qid_sel = f"{qtable}.qid, " if per_qid else ""
    adc_qid = ", qtab.qid" if per_qid else ""
    return f"""ms AS (
      SELECT unnest(generate_series(0, {PQ_M - 1})) AS m
    ), cb AS (
      SELECT ms.m, n.vec_id AS c,
             list_slice(n.v, ms.m * {PQ_SUBDIM} + 1, ms.m * {PQ_SUBDIM} + {PQ_SUBDIM}) AS w
      FROM n CROSS JOIN ms WHERE n.vec_id BETWEEN 1 AND {PQ_C}
    ), d AS (
      SELECT n.vec_id, cb.m, cb.c,
             list_reduce(list_transform(generate_series(1, {PQ_SUBDIM}),
                           i -> (n.v[cb.m * {PQ_SUBDIM} + i] - cb.w[i])
                              * (n.v[cb.m * {PQ_SUBDIM} + i] - cb.w[i])),
                         (a, b) -> a + b) AS d2
      FROM n {cand_join}CROSS JOIN cb
    ), enc AS (
      SELECT vec_id, m, c FROM (
        SELECT vec_id, m, c,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, c) AS rn
        FROM d
      ) WHERE rn = 1
    ), qtab AS (
      SELECT {qid_sel}cb.m, cb.c,
             list_reduce(list_transform(generate_series(1, {PQ_SUBDIM}),
                           i -> ({qtable}.qv[cb.m * {PQ_SUBDIM} + i] - cb.w[i])
                              * ({qtable}.qv[cb.m * {PQ_SUBDIM} + i] - cb.w[i])),
                         (a, b) -> a + b) AS qd2
      FROM cb CROSS JOIN {qtable}
    ), adc AS (
      SELECT enc.vec_id{adc_qid},
             list_reduce(list(qtab.qd2 ORDER BY enc.m), (a, b) -> a + b) AS adc_dist
      FROM enc JOIN qtab ON enc.m = qtab.m AND enc.c = qtab.c
      GROUP BY enc.vec_id{adc_qid}
    )"""


def _pq_seed_codebook(cids: np.ndarray, vecs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The seed-selection PQ codebook from collected seed vectors: codeword
    c of subspace m is the m-th PQ_SUBDIM slice of vector vec_id c, for
    the ids 1..PQ_C among *cids*. Returns (codeword ids, an (M, C,
    SUBDIM) array)."""
    at = cids <= PQ_C
    return cids[at], vecs[at].reshape(-1, PQ_M, PQ_SUBDIM).transpose(1, 0, 2)


@register(
    "ann_pq_adc_topk",
    f"""
    WITH n AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
             {_SQL_NORM.format(e='embedding')} AS nm
      FROM embeddings
    ), q AS (
      SELECT v AS qv, nm AS qn FROM n WHERE vec_id = {_QUERY_VEC}
    ), {_sql_pq_ctes()}, short AS (
      SELECT vec_id, adc_dist FROM adc WHERE vec_id <> {_QUERY_VEC}
      ORDER BY adc_dist, vec_id LIMIT {PQ_RERANK}
    )
    SELECT s.vec_id, n.label, s.adc_dist,
           {_SQL_DOT.format(dim=DIM, u='n.v', v='q.qv')} / (n.nm * q.qn) AS cosine
    FROM short s JOIN n ON n.vec_id = s.vec_id CROSS JOIN q
    ORDER BY cosine DESC, s.vec_id
    LIMIT 10
    """,
    doc=f"PQ({PQ_M}x{PQ_C}) ADC shortlist({PQ_RERANK}) -> exact cosine re-rank top-10",
    executes_on_construct=True,  # collects the codebook's seed vectors and the query
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    cids, vecs, qs = _seed_cells(e, PQ_C, _QUERY_VEC)
    short = (
        pq_adc(
            e.filter(F.col("vec_id") != _QUERY_VEC).select("vec_id", "embedding"),
            *_pq_seed_codebook(cids, vecs),
            qs,
        )
        .orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        .limit(PQ_RERANK)
        .select("vec_id", "adc_dist")
    )
    n = normalized_vectors(spark, sf_dir)
    return _query_top10(n.join(F.broadcast(short), "vec_id"), qs[_QUERY_VEC], "adc_dist")


# ---------------------------------------------------------------------------
# IVF-PQ — the composed production ANN shape (FAISS's IVFPQ, Jegou et
# al. 2011 §V): the IVF coarse quantizer prunes the corpus to the
# query's nprobe nearest cells, PQ-ADC scores ONLY those candidates
# from the 128-entry lookup table, and the exact re-rank touches just
# the ADC shortlist. `ann_ivf_topk` and `ann_pq_adc_topk` each prove
# one half; this lane is the composition a deployment actually runs —
# scan fraction nprobe/K, scoring cost M lookups per candidate,
# full-precision math only on PQ_RERANK rows.
#
# Same deterministic seed centroids/codebooks as the component lanes,
# so DuckDB replays the WHOLE composition hash-for-hash; production
# swaps in trained k-means for both quantizers (fit machinery =
# ann_ivf_kmeans_topk) with an unchanged plan shape.
#
# Scale: construction collects the K centroids, the codebook's seed
# vectors and the query in one job and ranks the probe cells on the
# driver; assignment and the probe cut are one narrow nearest-centroid
# pass plus a literal cell filter, and PQ encode and ADC one narrow
# `pq_adc` pass over the candidates (no shuffle); both cuts are
# TakeOrderedAndProject. At deployment cell id is a partition column
# (cell-pruned scans) and codes are a persisted M-byte column — the
# probe then reads nprobe partitions of M-byte codes, never raw
# vectors, until the re-rank.
# ---------------------------------------------------------------------------


@register(
    "ann_ivf_pq_topk",
    f"""
    WITH n AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
             {_SQL_NORM.format(e='embedding')} AS nm
      FROM embeddings
    ), cents AS (
      SELECT vec_id AS cid, v AS cv, nm AS cn FROM n WHERE vec_id BETWEEN 1 AND {IVF_K}
    ), scored AS (
      SELECT n.vec_id, cents.cid,
             row_number() OVER (
               PARTITION BY n.vec_id
               ORDER BY {_SQL_DOT.format(dim=DIM, u='n.v', v='cents.cv')} / (n.nm * cents.cn) DESC,
                        cents.cid
             ) AS rn
      FROM n CROSS JOIN cents
    ), assign AS (
      SELECT vec_id, cid FROM scored WHERE rn = 1
    ), q AS (
      SELECT v AS qv, nm AS qn FROM n WHERE vec_id = {_QUERY_VEC}
    ), probe AS (
      SELECT cid FROM (
        SELECT cents.cid,
               row_number() OVER (
                 ORDER BY {_SQL_DOT.format(dim=DIM, u='cents.cv', v='q.qv')} / (cents.cn * q.qn) DESC,
                          cents.cid
               ) AS prn
        FROM cents CROSS JOIN q
      ) WHERE prn <= {IVF_NPROBE}
    ), cand AS (
      SELECT a.vec_id FROM assign a JOIN probe p ON a.cid = p.cid
      WHERE a.vec_id <> {_QUERY_VEC}
    ), {_sql_pq_ctes(cand_join="JOIN cand USING (vec_id) ")}, short AS (
      SELECT vec_id, adc_dist FROM adc ORDER BY adc_dist, vec_id LIMIT {PQ_RERANK}
    )
    SELECT s.vec_id, n.label, s.adc_dist,
           {_SQL_DOT.format(dim=DIM, u='n.v', v='q.qv')} / (n.nm * q.qn) AS cosine
    FROM short s JOIN n ON n.vec_id = s.vec_id CROSS JOIN q
    ORDER BY cosine DESC, s.vec_id
    LIMIT 10
    """,
    doc=f"IVF({IVF_K}, nprobe={IVF_NPROBE}) cell pruning -> PQ({PQ_M}x{PQ_C}) ADC"
    f" scoring of candidates only -> exact re-rank top-10 (the composed IVFPQ path)",
    executes_on_construct=True,  # collects the centroids and the query
)
def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    # IVF cut: the probe cells are ranked on the driver, and the
    # narrow nearest-centroid pass keeps the vectors of those cells
    ids, vecs, qs = _seed_cells(e, max(IVF_K, PQ_C), _QUERY_VEC)
    cids, cents = ids[ids <= IVF_K], vecs[ids <= IVF_K]
    probe = top_cells(qs[_QUERY_VEC][None], cids, cents, IVF_NPROBE)[0].tolist()
    cand = (
        nearest_centroid(
            e.filter(F.col("vec_id") != _QUERY_VEC).select("vec_id", "embedding"),
            cids,
            cents,
            keep_vec=True,
        )
        .filter(F.col("cid").isin(probe))
        .select("vec_id", "embedding")
    )
    short = (
        pq_adc(cand, *_pq_seed_codebook(ids, vecs), qs)
        .orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        .limit(PQ_RERANK)
        .select("vec_id", "adc_dist")
    )
    n = normalized_vectors(spark, sf_dir)
    return _query_top10(n.join(F.broadcast(short), "vec_id"), qs[_QUERY_VEC], "adc_dist")


# ---------------------------------------------------------------------------
# PQ quantization-quality EVAL — recall@10 + MRR of the PQ-ADC
# shortlist-then-rerank pipeline against exact brute force, over the
# same 5-query eval set as `ann_recall_metrics` (the IVF eval) and
# `ann_matryoshka_recall` (the MRL eval). Together the three put a
# NUMBER on each approximation axis a deployment tunes: cell pruning
# (IVF), dimensionality (MRL), and code compression (PQ). Rankings
# are deterministic end-to-end, so the metric itself hash-verifies.
#
# Scale: the multi-query ADC pass is the SAME narrow `pq_adc` pass as
# the single-query lane, scoring each vector against all 5 collected
# queries (n*|queries| rows out, no shuffle); per-query cuts go
# through the lossless salted two-phase top-k (never a full-corpus
# window per qid); the exact re-rank touches only the 5*PQ_RERANK
# shortlist rows (post-cut frames may window-sort, per the r11
# TINYDOMAIN adjudication).
# ---------------------------------------------------------------------------


@register(
    "ann_pq_recall_metrics",
    f"""
    WITH n AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             {_SQL_NORM.format(e='embedding')} AS nm
      FROM embeddings
    ), qs AS (
      SELECT vec_id AS qid, v AS qv, nm AS qn FROM n
      WHERE vec_id IN {_EVAL_QUERIES}
    ), brute AS (
      SELECT qs.qid, n.vec_id,
             row_number() OVER (
               PARTITION BY qs.qid
               ORDER BY {_SQL_DOT.format(dim=DIM, u='n.v', v='qs.qv')} / (n.nm * qs.qn) DESC,
                        n.vec_id
             ) AS brank
      FROM n, qs WHERE n.vec_id <> qs.qid
    ), truth AS (
      SELECT qid, vec_id, brank FROM brute WHERE brank <= 10
    ), {_sql_pq_ctes(qtable="qs", per_qid=True)}, short AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY adc_dist, vec_id) AS srn
        FROM adc WHERE vec_id <> qid
      ) WHERE srn <= {PQ_RERANK}
    ), rerank AS (
      SELECT s.qid, s.vec_id,
             row_number() OVER (
               PARTITION BY s.qid
               ORDER BY {_SQL_DOT.format(dim=DIM, u='n.v', v='qs.qv')} / (n.nm * qs.qn) DESC,
                        s.vec_id
             ) AS rrank
      FROM short s JOIN n ON n.vec_id = s.vec_id JOIN qs ON qs.qid = s.qid
    ), ptop AS (
      SELECT qid, vec_id, rrank FROM rerank WHERE rrank <= 10
    ), overlap AS (
      SELECT t.qid, CAST(count(*) AS BIGINT) AS n_overlap
      FROM truth t JOIN ptop a ON t.qid = a.qid AND t.vec_id = a.vec_id
      GROUP BY t.qid
    ), rr AS (
      SELECT t.qid,
             coalesce(1.0 / CAST(a.rrank AS DOUBLE), 0.0) AS reciprocal_rank
      FROM truth t
      LEFT JOIN ptop a ON t.qid = a.qid AND t.vec_id = a.vec_id
      WHERE t.brank = 1
    )
    SELECT qs.qid AS query_id,
           CAST(coalesce(o.n_overlap, 0) AS BIGINT) AS n_overlap,
           CAST(coalesce(o.n_overlap, 0) AS DOUBLE) / 10.0 AS recall_at_10,
           rr.reciprocal_rank
    FROM qs
    LEFT JOIN overlap o ON o.qid = qs.qid
    JOIN rr ON rr.qid = qs.qid
    ORDER BY query_id
    """,
    doc=f"PQ({PQ_M}x{PQ_C}) ADC+rerank recall@10 + MRR vs brute force over"
    f" {len(_EVAL_QUERIES)} queries",
    executes_on_construct=True,  # collects the codebook's seed vectors and the eval queries
)
def ann_pq_recall_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sf_etl_spark.operators.topk import salted_topk

    n = normalized_vectors(spark, sf_dir).select("vec_id", "v", "nm")
    qs = n.filter(F.col("vec_id").isin(*_EVAL_QUERIES)).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"), F.col("nm").alias("qn")
    )
    qcos = _cos(F.col("v"), F.col("qv"), F.col("nm"), F.col("qn"))
    brute = (
        n.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("qid"))
        .withColumn("_c", qcos)
    )
    truth = salted_topk(
        brute,
        ["qid"],
        [F.col("_c").desc(), F.asc("vec_id")],
        10,
        ["vec_id"],
        rank_col="brank",
    ).select("qid", "vec_id", "brank")
    e = load_table(spark, sf_dir, "embeddings")
    cids, vecs, qvecs = _seed_cells(e, PQ_C, *_EVAL_QUERIES)
    scores = pq_adc(
        e.select("vec_id", "embedding"), *_pq_seed_codebook(cids, vecs), qvecs
    ).filter(F.col("vec_id") != F.col("qid"))
    short = salted_topk(
        scores,
        ["qid"],
        [F.asc("adc_dist"), F.asc("vec_id")],
        PQ_RERANK,
        ["vec_id"],
    ).select("qid", "vec_id")
    # exact re-rank of the <= 5*PQ_RERANK shortlist rows: post-cut
    # frame, window-sorted per the TINYDOMAIN adjudication
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
    )
    ptop = rerank.filter(F.col("rrank") <= 10).select("qid", "vec_id", "rrank")
    overlap = (
        truth.join(ptop, ["qid", "vec_id"])
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    rr = (
        truth.filter(F.col("brank") == 1)
        .join(ptop, ["qid", "vec_id"], "left")
        .select(
            "qid",
            F.coalesce(
                F.lit(1.0) / F.col("rrank").cast("double"), F.lit(0.0)
            ).alias("reciprocal_rank"),
        )
    )
    return (
        qs.select("qid")
        .join(overlap, "qid", "left")
        .join(rr, "qid")
        .select(
            F.col("qid").alias("query_id"),
            F.coalesce(F.col("n_overlap"), F.lit(0)).cast("bigint").alias("n_overlap"),
            (F.coalesce(F.col("n_overlap"), F.lit(0)).cast("double") / 10.0).alias(
                "recall_at_10"
            ),
            "reciprocal_rank",
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# TRAINED IVF-PQ — the end-to-end composition the seeded lanes promise
# production swaps in (r12 verdict task 4): BOTH quantizers come from a
# real fit — the coarse quantizer from the same pyspark.ml KMeans
# machinery as `ann_ivf_kmeans_topk`, the PQ codebooks from a grouped
# Lloyd fit that trains ALL M subspaces in one scan of the training
# sample (M sequential MLlib fits would re-scan the corpus M times per
# iteration — at 100 TB that multiplier is the difference between one
# pipeline pass and eight). The encode→ADC→re-rank plan downstream
# of the fit is the seeded lanes' (`pq_adc`), which is the claim being
# proven: trained codebooks drop in with an unchanged plan shape.
#
# Verification follows the `ann_ivf_kmeans_agreement` pattern: run the
# trained composition LOSSLESSLY (nprobe = K so cell pruning discards
# nothing; no ADC shortlist cut so re-rank sees every candidate
# exactly). The output is then the global brute-force top-10 whatever
# the fit produced — which the DuckDB oracle computes independently —
# while every trained stage stays load-bearing for the row SET: a
# vector lost or duplicated by the coarse partition, the probe filter
# or the PQ encode/ADC pass changes the re-rank input
# and breaks the hash. Codebook QUALITY (recall at real nprobe /
# shortlist cuts) is gated by tests/test_ivf_pq_trained.py, whose
# recall@10 helper must score the trained fit at least as well as the
# seed-selection codebooks at the same probe fraction.
#
# Scale: the grouped Lloyd fit is one shuffle of the sample's n·M
# subvectors into PQ_M groups that run every iteration in place, and
# the codebook itself is M x C = 128 codewords, a bounded-METADATA
# collect kept on the driver (the same convention as the
# zone-map/layout collects).
#
# Training-input bound (r13 verdict task 1): a fit that re-scans the
# FULL corpus per Lloyd iteration (and localCheckpoints its M-way
# subvector expansion — 8× the corpus) is the wrong mechanism at the
# 100 TB north star, where standard practice (FAISS et al.) trains
# quantizers on a bounded sample (≤~1M vectors) and encodes the full
# corpus with the result. `train_sample_mod` caps the TRAINING input
# with a deterministic hash-sample — pmod(xxhash64(vec_id), mod) = 0,
# ~1/mod of the corpus, stable across runs/partitionings — while the
# encode/ADC/re-rank path downstream always sees every vector. To keep
# the sample at <= ~1M vectors, a deployment sets the modulus to the
# corpus row count divided by 1M, rounded up (1 for a smaller corpus). The
# registered trained-agreement lane runs the sampled configuration
# (mod=2); its output hash is UNCHANGED because agreement mode's
# lossless parameters make the result brute-force-equal whatever the
# quantizers are, which is exactly what keeps every trained stage
# load-bearing for the row set.
# ---------------------------------------------------------------------------
PQ_TRAIN_ITERS = 3
#: the registered trained lane's sampling factor: train on ~1/2 the
#: fixture corpus (250 of 500 vectors — still ≥15 training points per
#: codeword); at deployment scale this knob is what bounds the fit
TRAIN_SAMPLE_MOD = 2


def _train_sample(n: DataFrame, mod: int) -> DataFrame:
    """Deterministic hash-sample of a (vec_id, …) frame: keeps rows
    with ``pmod(xxhash64(vec_id), mod) == 0``. ``mod<=1`` = all rows
    (the fixture-scale default that leaves pre-r14 fits bit-identical).
    Hash-deterministic like every sampler in this repo — re-running
    the fit, at any partitioning, trains on the same vectors."""
    if mod <= 1:
        return n
    return n.filter(F.pmod(F.xxhash64(F.col("vec_id")), F.lit(mod)) == 0)


def _pq_train_subvectors(
    spark: SparkSession, n: DataFrame, train_sample_mod: int = 1
) -> DataFrame:
    """The Lloyd loop's training relation: (vec_id, m, sv) subvectors
    of the TRAINING SAMPLE only — the frame the grouped fit shuffles
    into its PQ_M groups, so the sample bound must sit below the M-way
    expansion (asserted by tests/test_ivf_pq_trained.py on both
    the row count and the plan)."""
    ms = spark.range(PQ_M).select(F.col("id").cast("int").alias("m"))
    return (
        _train_sample(n, train_sample_mod)
        .select("vec_id", "v")
        .crossJoin(F.broadcast(ms))
        .select(
            "vec_id",
            "m",
            F.expr(f"slice(v, m * {PQ_SUBDIM} + 1, {PQ_SUBDIM})").alias("sv"),
        )
    )


def _pq_train_codebooks(
    spark: SparkSession,
    n: DataFrame,
    seed: tuple[np.ndarray, np.ndarray],
    train_sample_mod: int = 1,
) -> tuple[np.ndarray, np.ndarray]:
    """Grouped per-subspace k-means: the codebooks of all PQ_M
    subspaces trained together on *n*'s (vec_id, v) rows
    (*train_sample_mod* bounds the sample; 1 = full corpus), returned
    like *seed* as (codeword ids, (M, C, SUBDIM) array).

    Init = *seed*, the deterministic seed codebook
    (`_pq_seed_codebook`); the trained result is a strict refinement
    of what the oracle-checked seeded lanes use. Empty codewords keep
    their previous position (the standard Lloyd dead-cluster
    convention); an empty seed, or a sample that forms no group,
    leaves the seed as it is.

    ALL ``PQ_TRAIN_ITERS`` Lloyd iterations run inside ONE
    ``groupBy("m").applyInPandas`` job: subspaces are independent, so
    each of the PQ_M tasks holds every row it needs for the whole loop.
    One pass over the sample instead of one scan + one driver
    round-trip PER iteration (guide §1.2); interleaved A/B 11.7 -> 1.3 s
    best-of-3 on the sf0.1 training step against a per-iteration
    literal-expression loop. Per-task memory is O(sample_rows x
    SUBDIM) — bounded by a training sample of <= ~1M vectors (~64 MB),
    with the distance matrix computed in 64k-row chunks. The fixture's
    float32-sourced values make the per-cell sums exact in double
    (<= ~44 significant bits), so summation order cannot perturb the
    means: the codebook is pinned by a golden hash in
    tests/test_ivf_pq_trained.py at any core count.
    """
    import pandas as pd

    cids, init = seed
    if not len(cids):
        return seed

    def train(pdf: pd.DataFrame) -> pd.DataFrame:
        m = int(pdf["m"].iloc[0])
        X = np.vstack(pdf["sv"].to_numpy())
        C = init[m].copy()
        for _ in range(PQ_TRAIN_ITERS):
            # chunked explicit (x-c)^2: bounds the rows x C x dim
            # intermediate to ~64 MB per chunk; argmin of the FIRST
            # minimum = the lowest-c tie-break
            best = np.empty(len(X), dtype=np.int64)
            for lo in range(0, len(X), 65536):
                chunk = X[lo : lo + 65536]
                d2 = ((chunk[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
                best[lo : lo + len(chunk)] = d2.argmin(axis=1)
            for j in range(len(C)):
                mask = best == j
                if mask.any():
                    C[j] = X[mask].mean(axis=0)
        return pd.DataFrame({"m": m, "j": range(len(C)), "w": list(C)})

    sub = _pq_train_subvectors(spark, n, train_sample_mod)
    trained = sub.groupBy("m").applyInPandas(train, "m int, j int, w array<double>")
    # bounded collect (M x C = 128 rows) into the seed's copy: an empty
    # training sample forms no groups and leaves the seed codebook
    out = init.copy()
    for r in trained.collect():
        out[r["m"], r["j"]] = r["w"]
    return cids, out


def _kmeans_centers(
    spark: SparkSession, n: DataFrame, train_sample_mod: int = 1
) -> tuple[DataFrame, tuple[np.ndarray, np.ndarray]]:
    """Coarse-quantizer fit + assignment — the shared machinery of the
    `ann_ivf_kmeans_*` lanes, extracted for the trained composition:
    returns (assigned, (cids, centers)) with assigned = (vec_id, label,
    v, nm, cid) and the K centres a driver-side (K, DIM) array.

    *train_sample_mod* bounds the FIT input (the MLlib KMeans scans
    its input once per iteration — the part that cannot see 100 TB);
    the assignment transform always runs over the full frame."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = n.withColumn("features", array_to_vector("v"))
    # cache the (sample-bounded) fit input for the fit's duration:
    # MLlib's Lloyd loop re-scans its input once per iteration, and
    # without the cache each of those scans replays the parquet read +
    # normalization + array_to_vector lineage (r15 optimization round;
    # bounded memory — this is the <= ~1M-vector training sample, not
    # the corpus, and it is unpersisted before encode/score)
    fit_input = _train_sample(vecs, train_sample_mod).persist()
    try:
        model = KMeans(
            k=IVF_KM_K, seed=IVF_KM_SEED, maxIter=10, featuresCol="features"
        ).fit(fit_input)
    finally:
        fit_input.unpersist()
    assigned = (
        model.transform(vecs)
        .withColumnRenamed("prediction", "cid")
        .select("vec_id", "label", "v", "nm", "cid")
    )
    centers = np.array(model.clusterCenters(), dtype=np.float64)
    return assigned, (np.arange(len(centers), dtype=np.int64), centers)


@register(
    "ann_ivf_pq_trained_agreement",
    f"""
    WITH n AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
             {_SQL_NORM.format(e='embedding')} AS nm
      FROM embeddings
    ), q AS (
      SELECT v AS qv, nm AS qn FROM n WHERE vec_id = {_QUERY_VEC}
    )
    SELECT n.vec_id, n.label,
           {_SQL_DOT.format(dim=DIM, u='n.v', v='q.qv')} / (n.nm * q.qn) AS cosine
    FROM n CROSS JOIN q
    WHERE n.vec_id <> {_QUERY_VEC}
    ORDER BY cosine DESC, vec_id
    LIMIT 10
    """,
    doc=f"sample-trained IVF({IVF_KM_K})-PQ({PQ_M}x{PQ_C}) (both fits on a"
    f" 1/{TRAIN_SAMPLE_MOD} hash-sample, full-corpus encode) run losslessly"
    f" (nprobe=K, no shortlist cut) == exact brute-force top-10",
    executes_on_construct=True,
)
def ann_ivf_pq_trained_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = normalized_vectors(spark, sf_dir)
    # both quantizers train on the bounded hash-sample — the 100 TB
    # configuration (r13 verdict task 1); everything downstream of the
    # fits (assignment transform, probe, encode, ADC, re-rank) sees the
    # FULL corpus, and agreement mode keeps the output brute-force-
    # equal (hash unchanged vs the r13 full-corpus-trained lane)
    assigned, (cids, cents) = _kmeans_centers(spark, n, train_sample_mod=TRAIN_SAMPLE_MOD)
    ids, vecs, qs = _seed_cells(load_table(spark, sf_dir, "embeddings"), PQ_C, _QUERY_VEC)
    # nprobe = K: agreement mode, nothing pruned
    probe = top_cells(qs[_QUERY_VEC][None], cids, cents, IVF_KM_K)[0].tolist()
    cand = assigned.filter(F.col("cid").isin(probe) & (F.col("vec_id") != _QUERY_VEC))
    cb = _pq_train_codebooks(
        spark, n, _pq_seed_codebook(ids, vecs), train_sample_mod=TRAIN_SAMPLE_MOD
    )
    scores = pq_adc(cand.select("vec_id", F.col("v").alias("embedding")), *cb, qs)
    # agreement mode: NO shortlist cut — the exact re-rank sees every
    # ADC-scored candidate, so the top-10 is brute-force-equal while
    # the encode/ADC row set stays load-bearing through this join
    return _query_top10(n.join(scores.select("vec_id"), "vec_id"), qs[_QUERY_VEC])


# ---------------------------------------------------------------------------
# BINARY QUANTIZATION ANN — the fourth approximation axis after IVF
# (cell pruning), Matryoshka (dimensionality) and PQ (codebook
# compression): quantize each embedding to its coordinate SIGN BITS
# (axis-aligned sign random projection — the degenerate-planes case of
# `ann_srp_lsh_pairs`, legitimate here because the corpus is
# zero-centered per dimension), shortlist by Hamming distance on the
# packed code, re-rank the shortlist exactly. DIM=64 → the whole code
# is 64 bits = 8 bytes/vector, a 32× cut vs float32 — the compression
# regime binary quantization exists for. Packed as TWO 32-bit halves
# in BIGINTs (the minhash/simhash band-packing convention) so neither
# engine touches the sign bit of a 64-bit shift.
#
# Scale: the pack is a map-side expression over one corpus scan (at
# deployment the code persists as an 8-byte column and the scan never
# reads raw vectors until re-rank); the Hamming scoring is two XOR +
# popcount per row against a broadcast 1-row query; both cuts are
# TakeOrderedAndProject (no global sort); exact math touches the
# 50-row shortlist. Fully deterministic → full DuckDB value-hash
# oracle, unlike PQ there is nothing trained.
# ---------------------------------------------------------------------------
BQ_SHORTLIST = 50  # Hamming shortlist fed to exact re-rank


def _bq_pack(col: str) -> list[F.Column]:
    """Sign-bit pack of a DIM-array column into two BIGINT halves
    (bits 1..32 and 33..64, LSB-first within each half)."""
    def half(lo: int) -> F.Column:
        return F.expr(
            f"aggregate(sequence(1, 32), CAST(0 AS BIGINT), (acc, i) -> "
            f"acc + IF(element_at({col}, i + {lo}) > 0.0D, "
            f"shiftleft(CAST(1 AS BIGINT), i - 1), CAST(0 AS BIGINT)))"
        )
    return [half(0).alias("b1"), half(32).alias("b2")]


_SQL_BQ_HALF = (
    "list_reduce(list_transform(generate_series(1, 32), i -> "
    "CASE WHEN {v}[i + {lo}] > 0 THEN (CAST(1 AS BIGINT) << (i - 1)) "
    "ELSE CAST(0 AS BIGINT) END), (a, b) -> a + b)"
)


@register(
    "ann_binary_hamming_topk",
    f"""
    WITH n AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
             {_SQL_NORM.format(e='embedding')} AS nm
      FROM embeddings
    ), code AS (
      SELECT vec_id,
             {_SQL_BQ_HALF.format(v='v', lo=0)} AS b1,
             {_SQL_BQ_HALF.format(v='v', lo=32)} AS b2
      FROM n
    ), q AS (
      SELECT n.v AS qv, n.nm AS qn, c.b1 AS qb1, c.b2 AS qb2
      FROM n JOIN code c USING (vec_id) WHERE vec_id = {_QUERY_VEC}
    ), short AS (
      SELECT c.vec_id,
             CAST(bit_count(xor(c.b1, q.qb1)) + bit_count(xor(c.b2, q.qb2)) AS INT)
               AS hamming
      FROM code c CROSS JOIN q
      WHERE c.vec_id <> {_QUERY_VEC}
      ORDER BY hamming, c.vec_id LIMIT {BQ_SHORTLIST}
    )
    SELECT s.vec_id, n.label, s.hamming,
           {_SQL_DOT.format(dim=DIM, u='n.v', v='q.qv')} / (n.nm * q.qn) AS cosine
    FROM short s JOIN n ON n.vec_id = s.vec_id CROSS JOIN q
    ORDER BY cosine DESC, s.vec_id
    LIMIT 10
    """,
    doc=f"sign-bit binary code (64 bits) Hamming shortlist({BQ_SHORTLIST})"
    f" -> exact cosine re-rank top-10",
)
def ann_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = normalized_vectors(spark, sf_dir)
    code = n.select("vec_id", "v", "nm", "label", *_bq_pack("v"))
    q = code.filter(F.col("vec_id") == _QUERY_VEC).select(
        F.col("v").alias("qv"),
        F.col("nm").alias("qn"),
        F.col("b1").alias("qb1"),
        F.col("b2").alias("qb2"),
    )
    hamming = (
        F.bit_count(F.col("b1").bitwiseXOR(F.col("qb1")))
        + F.bit_count(F.col("b2").bitwiseXOR(F.col("qb2")))
    ).cast("int")
    # orderBy+limit => TakeOrderedAndProject (partial per-partition
    # top-k, no global sort shuffle)
    short = (
        code.crossJoin(F.broadcast(q.select("qb1", "qb2")))
        .filter(F.col("vec_id") != _QUERY_VEC)
        .select("vec_id", hamming.alias("hamming"))
        .orderBy(F.asc("hamming"), F.asc("vec_id"))
        .limit(BQ_SHORTLIST)
    )
    cosine = _cos(F.col("v"), F.col("qv"), F.col("nm"), F.col("qn"))
    return (
        n.join(F.broadcast(short), "vec_id")
        .crossJoin(F.broadcast(q.select("qv", "qn")))
        .select("vec_id", "label", "hamming", cosine.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.asc("vec_id"))
        .limit(10)
    )


@register(
    "ann_binary_recall_metrics",
    f"""
    WITH n AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             {_SQL_NORM.format(e='embedding')} AS nm
      FROM embeddings
    ), code AS (
      SELECT vec_id,
             {_SQL_BQ_HALF.format(v='v', lo=0)} AS b1,
             {_SQL_BQ_HALF.format(v='v', lo=32)} AS b2
      FROM n
    ), qs AS (
      SELECT n.vec_id AS qid, n.v AS qv, n.nm AS qn, c.b1 AS qb1, c.b2 AS qb2
      FROM n JOIN code c USING (vec_id) WHERE n.vec_id IN {_EVAL_QUERIES}
    ), brute AS (
      SELECT qs.qid, n.vec_id,
             row_number() OVER (
               PARTITION BY qs.qid
               ORDER BY {_SQL_DOT.format(dim=DIM, u='n.v', v='qs.qv')} / (n.nm * qs.qn) DESC,
                        n.vec_id
             ) AS brank
      FROM n, qs WHERE n.vec_id <> qs.qid
    ), truth AS (
      SELECT qid, vec_id, brank FROM brute WHERE brank <= 10
    ), short AS (
      SELECT qid, vec_id FROM (
        SELECT qs.qid, c.vec_id,
               row_number() OVER (
                 PARTITION BY qs.qid
                 ORDER BY bit_count(xor(c.b1, qs.qb1)) + bit_count(xor(c.b2, qs.qb2)),
                          c.vec_id
               ) AS srn
        FROM code c CROSS JOIN qs WHERE c.vec_id <> qs.qid
      ) WHERE srn <= {BQ_SHORTLIST}
    ), rerank AS (
      SELECT s.qid, s.vec_id,
             row_number() OVER (
               PARTITION BY s.qid
               ORDER BY {_SQL_DOT.format(dim=DIM, u='n.v', v='qs.qv')} / (n.nm * qs.qn) DESC,
                        s.vec_id
             ) AS rrank
      FROM short s JOIN n ON n.vec_id = s.vec_id JOIN qs ON qs.qid = s.qid
    ), ptop AS (
      SELECT qid, vec_id, rrank FROM rerank WHERE rrank <= 10
    ), overlap AS (
      SELECT t.qid, CAST(count(*) AS BIGINT) AS n_overlap
      FROM truth t JOIN ptop a ON t.qid = a.qid AND t.vec_id = a.vec_id
      GROUP BY t.qid
    ), rr AS (
      SELECT t.qid,
             coalesce(1.0 / CAST(a.rrank AS DOUBLE), 0.0) AS reciprocal_rank
      FROM truth t
      LEFT JOIN ptop a ON t.qid = a.qid AND t.vec_id = a.vec_id
      WHERE t.brank = 1
    )
    SELECT qs.qid AS query_id,
           CAST(coalesce(o.n_overlap, 0) AS BIGINT) AS n_overlap,
           CAST(coalesce(o.n_overlap, 0) AS DOUBLE) / 10.0 AS recall_at_10,
           rr.reciprocal_rank
    FROM qs
    LEFT JOIN overlap o ON o.qid = qs.qid
    JOIN rr ON rr.qid = qs.qid
    ORDER BY query_id
    """,
    doc=f"binary-code Hamming shortlist({BQ_SHORTLIST})+rerank recall@10 + MRR"
    f" vs brute force over {len(_EVAL_QUERIES)} queries",
)
def ann_binary_recall_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The binary axis of the approximation-eval triple-plus-one
    (IVF `ann_recall_metrics`, MRL `ann_matryoshka_recall`, PQ
    `ann_pq_recall_metrics`): one measured recall@10 + MRR per eval
    query for the 64-bit sign code at shortlist {BQ_SHORTLIST}.

    Scale: the multi-query Hamming pass is a map over the code column
    (8 bytes/row) against 5 broadcast query codes; per-query cuts go
    through the lossless salted two-phase top-k; exact math touches
    5×shortlist rows."""
    from sf_etl_spark.operators.topk import salted_topk

    n = normalized_vectors(spark, sf_dir).select("vec_id", "v", "nm")
    code = n.select("vec_id", *_bq_pack("v"))
    qs = (
        n.filter(F.col("vec_id").isin(*_EVAL_QUERIES))
        .join(code, "vec_id")
        .select(
            F.col("vec_id").alias("qid"),
            F.col("v").alias("qv"),
            F.col("nm").alias("qn"),
            F.col("b1").alias("qb1"),
            F.col("b2").alias("qb2"),
        )
    )
    qcos = _cos(F.col("v"), F.col("qv"), F.col("nm"), F.col("qn"))
    truth = salted_topk(
        n.crossJoin(F.broadcast(qs.select("qid", "qv", "qn")))
        .filter(F.col("vec_id") != F.col("qid"))
        .withColumn("_c", qcos),
        ["qid"],
        [F.col("_c").desc(), F.asc("vec_id")],
        10,
        ["vec_id"],
        rank_col="brank",
    ).select("qid", "vec_id", "brank")
    hamming = (
        F.bit_count(F.col("b1").bitwiseXOR(F.col("qb1")))
        + F.bit_count(F.col("b2").bitwiseXOR(F.col("qb2")))
    ).cast("int")
    short = salted_topk(
        code.crossJoin(F.broadcast(qs.select("qid", "qb1", "qb2")))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("vec_id", "qid", hamming.alias("hamming")),
        ["qid"],
        [F.asc("hamming"), F.asc("vec_id")],
        BQ_SHORTLIST,
        ["vec_id"],
    ).select("qid", "vec_id")
    rerank = (
        short.join(n, "vec_id")
        .join(F.broadcast(qs.select("qid", "qv", "qn")), "qid")
        .withColumn("_c", qcos)
        .withColumn(
            "rrank",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(F.col("_c").desc(), "vec_id")
            ),
        )
    )
    ptop = rerank.filter(F.col("rrank") <= 10).select("qid", "vec_id", "rrank")
    overlap = (
        truth.join(ptop, ["qid", "vec_id"])
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    rr = (
        truth.filter(F.col("brank") == 1)
        .join(ptop, ["qid", "vec_id"], "left")
        .select(
            "qid",
            F.coalesce(
                F.lit(1.0) / F.col("rrank").cast("double"), F.lit(0.0)
            ).alias("reciprocal_rank"),
        )
    )
    return (
        qs.select("qid")
        .join(overlap, "qid", "left")
        .join(rr, "qid")
        .select(
            F.col("qid").alias("query_id"),
            F.coalesce(F.col("n_overlap"), F.lit(0)).cast("bigint").alias("n_overlap"),
            (F.coalesce(F.col("n_overlap"), F.lit(0)).cast("double") / 10.0).alias(
                "recall_at_10"
            ),
            "reciprocal_rank",
        )
        .orderBy("query_id")
    )
