"""LLM-data-pipeline operators over `documents` / `embeddings`
(north-star surface: dedup, similarity search, text analysis).

Design rules:
 - Everything oracle-checkable is expressed with engine-portable
   primitives (md5, substring-count arithmetic, explicit fold-order
   dot products) so DuckDB computes bit-comparable values.
 - Hash-sketch ops (MinHash/SimHash) use deterministic seeded xxhash64
   — reproducible across runs, but not SQL-portable → rows-only checks
   (registered with oracle=None).
 - Scale: every pairwise op is either bucketed (LSH bands) or bounded
   (shingle-join with dedup); nothing materializes an O(n²) cross
   product of the full corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sf_etl_spark.queries import register
from sf_etl_spark.sources import ensure_parallelism, load_table

# Normalization shared by fingerprint/dedup ops: lowercase, strip
# non-alphanumerics to spaces, collapse runs, trim. Simple enough that
# Java regex (Spark) and RE2 (DuckDB) agree.
_NORM_SQL = "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"


def _norm_col() -> F.Column:
    return F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "), " +", " ")
    )


# ---------------------------------------------------------------------------
# Exact dedup via content fingerprint: md5 of normalized text.
# Scale: one shuffle on the 128-bit fingerprint — the canonical
# exact-dedup plan at any corpus size; keeper = min(doc_id).
# ---------------------------------------------------------------------------
@register(
    "dedup_exact",
    f"""
    SELECT md5({_NORM_SQL}) AS fingerprint,
           CAST(count(*) AS BIGINT) AS n_copies,
           CAST(min(doc_id) AS BIGINT) AS keeper_doc_id
    FROM documents
    GROUP BY 1
    ORDER BY fingerprint
    """,
    doc="exact dedup: md5(normalized text) groupBy, keeper=min(doc_id)",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5(_norm_col()).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .orderBy("fingerprint")
    )


# ---------------------------------------------------------------------------
# Text quality scoring: per-document structural stats. All counting is
# substring-arithmetic so both engines agree exactly.
# ---------------------------------------------------------------------------
@register(
    "text_quality",
    """
    SELECT doc_id,
           CAST(length(text) AS BIGINT)                       AS len_chars,
           CAST(len(string_split(text, ' ')) AS INT)          AS n_words,
           CAST(length(replace(text, ' ', '')) AS DOUBLE)
                 / len(string_split(text, ' '))               AS avg_word_len,
           CAST((length(text) - length(replace(text, 'the', ''))) / 3 AS INT)
                                                              AS n_the,
           CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE)
                 / length(text)                               AS space_ratio
    FROM documents
    ORDER BY doc_id
    """,
    doc="quality stats: char/word counts, avg word length, stopword count",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    txt = F.col("text")
    no_space = F.length(F.replace(txt, F.lit(" "), F.lit("")))
    n_words = F.size(F.split(txt, " "))
    return d.select(
        "doc_id",
        F.length(txt).cast("bigint").alias("len_chars"),
        n_words.alias("n_words"),
        (no_space.cast("double") / n_words).alias("avg_word_len"),
        ((F.length(txt) - F.length(F.replace(txt, F.lit("the"), F.lit("")))) / 3)
        .cast("int")
        .alias("n_the"),
        ((F.length(txt) - no_space).cast("double") / F.length(txt)).alias("space_ratio"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Token counting: whitespace tokens + a BPE-ish regex token count
# (letter runs, digit runs, single non-space symbols), aggregated per
# language. Simple character classes keep Java-regex/RE2 in agreement.
# ---------------------------------------------------------------------------
@register(
    "token_counts",
    """
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT)  AS ws_tokens,
           CAST(sum(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))) AS BIGINT)
                                                              AS regex_tokens,
           CAST(CAST(sum(CAST(CAST(length(text) AS DOUBLE)
                          / len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))
                          AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) / count(*)
                                                              AS chars_per_token
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    doc="token counting (whitespace + regex tokenizer) per language",
)
def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok_re = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"
    n_regex = F.size(F.regexp_extract_all(F.col("text"), F.lit(tok_re), F.lit(0)))
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split("text", " "))).cast("bigint").alias("ws_tokens"),
            F.sum(n_regex).cast("bigint").alias("regex_tokens"),
            (
                F.sum((F.length("text").cast("double") / n_regex).cast("decimal(38,12)"))
                .cast("string")
                .cast("double")
                / F.count(F.lit(1))
            ).alias("chars_per_token"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Language identification: marker-word scoring (n-gram heuristic).
# Deterministic and engine-portable by construction: scores are
# substring counts, argmax with a fixed precedence order.
# ---------------------------------------------------------------------------
_MARKERS = {  # language -> space-padded marker words
    "en": [" the ", " a ", " of "],
    "es": [" el ", " la ", " de "],
    "fr": [" le ", " les ", " des "],
    "de": [" der ", " die ", " und "],
}


def _count_sql(m: str) -> str:
    return f"(length(' ' || text || ' ') - length(replace(' ' || text || ' ', '{m}', ''))) / {len(m)}"


def _count_col(m: str) -> F.Column:
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    return (F.length(padded) - F.length(F.replace(padded, F.lit(m)))) / len(m)


@register(
    "lang_id",
    f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {" + ".join(_count_sql(m) for m in _MARKERS["en"])} AS score_en,
             {" + ".join(_count_sql(m) for m in _MARKERS["es"])} AS score_es,
             {" + ".join(_count_sql(m) for m in _MARKERS["fr"])} AS score_fr,
             {" + ".join(_count_sql(m) for m in _MARKERS["de"])} AS score_de
      FROM documents
    )
    SELECT doc_id, lang,
           CASE
             WHEN score_en = 0 AND score_es = 0 AND score_fr = 0 AND score_de = 0 THEN 'und'
             WHEN score_en >= score_es AND score_en >= score_fr AND score_en >= score_de THEN 'en'
             WHEN score_es >= score_fr AND score_es >= score_de THEN 'es'
             WHEN score_fr >= score_de THEN 'fr'
             ELSE 'de'
           END AS predicted_lang,
           CAST(score_en AS INT) AS score_en
    FROM scored
    ORDER BY doc_id
    """,
    doc="language ID: marker-word scores, fixed-precedence argmax",
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    scores = {
        lang: sum((_count_col(m) for m in ms[1:]), _count_col(ms[0]))
        for lang, ms in _MARKERS.items()
    }
    all_zero = (
        (scores["en"] == 0) & (scores["es"] == 0) & (scores["fr"] == 0) & (scores["de"] == 0)
    )
    predicted = (
        F.when(all_zero, "und")
        .when(
            (scores["en"] >= scores["es"])
            & (scores["en"] >= scores["fr"])
            & (scores["en"] >= scores["de"]),
            "en",
        )
        .when((scores["es"] >= scores["fr"]) & (scores["es"] >= scores["de"]), "es")
        .when(scores["fr"] >= scores["de"], "fr")
        .otherwise("de")
    )
    return d.select(
        "doc_id",
        "lang",
        predicted.alias("predicted_lang"),
        scores["en"].cast("int").alias("score_en"),
    ).orderBy("doc_id")


def _window_idxs(n: F.Column, width: int) -> F.Column:
    """1-based start indices of every ``width``-token window; EMPTY
    when the doc is shorter than one window. The guard matters:
    ``sequence(start, stop)`` defaults its step to -1 when
    start > stop, so an unguarded ``sequence(1, n-2)`` on a 1-token
    doc yields [1, 0] and ``element_at(toks, 0)`` throws (array
    indices start at 1)."""
    return F.when(
        n >= width, F.sequence(F.lit(1), n - (width - 1))
    ).otherwise(F.array().cast("array<int>"))


# ---------------------------------------------------------------------------
# N-gram Jaccard near-dup: word-3-gram shingles → shingle-key join →
# pairwise Jaccard ≥ threshold. Scale note: the shingle join is the
# exact-verification stage; at corpus scale it runs AFTER an LSH
# prefilter (see dedup_minhash_lsh) — registered here unfiltered
# because the gate corpus is small. Shingle hotspots are bounded by
# array_distinct per doc.
# ---------------------------------------------------------------------------
@register(
    "ngram_jaccard_pairs",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), idx AS (
      SELECT doc_id, t,
             unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i
      FROM toks
    ), sh AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      FROM idx
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common,
           CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.30
    ORDER BY doc_a, doc_b
    """,
    doc="word-3-gram shingle Jaccard pairs ≥ 0.30 (exact verification stage)",
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # token array materialized pre-lambda — see minhash_signatures note
    toks = F.col("_toks")
    n = F.size(toks)
    idxs = _window_idxs(n, 3)
    shingle_arr = F.array_distinct(
        F.transform(
            idxs,
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, i),
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
            ),
        )
    )
    sh = (
        ensure_parallelism(d, key="doc_id")
        .withColumn("_toks", F.split("text", " "))
        .select("doc_id", F.explode(shingle_arr).alias("shingle"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common"))
    # sizes is a PER-DOCUMENT aggregate — O(|corpus|), unbounded — so
    # no broadcast hint (r7 quarantine guard class): unhinted, the two
    # joins hash-partition on doc_a/doc_b, which the pair aggregation
    # upstream already produces, and AQE still broadcasts when the
    # runtime size is actually small.
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= 0.30)
        .select("doc_a", "doc_b", "n_common", jac.alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup. Pipeline: word-3-gram shingle → ONE md5-based
# 64-bit hash per shingle (engine-portable, as in dedup_simhash) → 32
# minhashes via affine universal hashes (a_i*u + b_i) mod the Mersenne
# prime P = 2^31-1 (a_i*u < 2^62: every step is exact int64 arithmetic
# both engines agree on) → 8 bands × 4 rows → band equi-join on the
# raw band values packed into two bigints (injective — no bucket
# hashing, nothing to collide) → candidate pairs with estimated
# Jaccard = matching coordinates / 32 (power-of-two denominator → the
# double is bit-exact in both engines, no rounding needed).
#
# The r1/r2 shape used seeded xxhash64 (engine-private), so the driver
# could only count rows; this formulation is value-hash checked
# against the DuckDB oracle below, the same portability upgrade
# dedup_simhash got. Production at 100 TB swaps the md5 shingle hash
# for xxhash64 (~4× faster, identical plan shape and statistics).
# Scale: candidates come only from shared LSH bands — the corpus
# never cross-joins (the oracle's O(n²) WHERE-OR form is the semantic
# definition for the small gate corpus, never the engine plan). The
# exact shingle-join (ngram_jaccard_pairs) is the verification stage
# downstream of these candidates.
# ---------------------------------------------------------------------------
N_MINHASHES = 32
LSH_BANDS = 8
LSH_ROWS = N_MINHASHES // LSH_BANDS
_MH_P = 2_147_483_647  # Mersenne prime 2^31 - 1


def _SQL_MD5_H64(expr: str) -> str:
    """DuckDB twin of :func:`_md5_hash64`: signed int64 from the first
    16 md5 hex chars of ``expr`` (UBIGINT parse, 2^64 wrap)."""
    u = f"CAST(('0x' || substring(md5({expr}),1,16)) AS UBIGINT)"
    return (
        f"CAST({u} - CASE WHEN {u} >= 9223372036854775808 "
        f"THEN 18446744073709551616 ELSE 0 END AS BIGINT)"
    )


def _mh_params() -> list[tuple[int, int]]:
    """Deterministic affine-hash constants (a_i ∈ [1, P-1], b_i ∈
    [0, P-1]) from a fixed 64-bit LCG — embedded verbatim in both the
    Spark plan and the SQL oracle; never randomness at runtime."""
    params, x = [], 0x5DEECE66D
    for _ in range(N_MINHASHES):
        x = (6364136223846793005 * x + 1442695040888963407) % (1 << 63)
        a = 1 + (x >> 16) % (_MH_P - 1)
        x = (6364136223846793005 * x + 1442695040888963407) % (1 << 63)
        b = (x >> 16) % _MH_P
        params.append((a, b))
    return params


_MH_PARAMS = _mh_params()

_MH_SQL_MINS = ",\n             ".join(
    f"min(({a} * u + {b}) % {_MH_P}) AS m{i}"
    for i, (a, b) in enumerate(_MH_PARAMS)
)
_MH_SQL_EQ = " + ".join(
    f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END" for i in range(N_MINHASHES)
)
_MH_SQL_BANDS = " OR ".join(
    "("
    + " AND ".join(
        f"a.m{b * LSH_ROWS + r} = b.m{b * LSH_ROWS + r}" for r in range(LSH_ROWS)
    )
    + ")"
    for b in range(LSH_BANDS)
)


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """doc_id + minhash signature array<bigint> of length N_MINHASHES
    over the ``text`` column.

    Perf-critical shape: each shingle string is md5-hashed ONCE,
    exploded to (doc_id, u) rows, and the 32 minhashes are plain
    codegen'd ``min((a_i*u + b_i) % P)`` aggregates over longs —
    integer multiply-add, cheaper than per-seed re-hashing. The
    obvious alternative — nested higher-order lambdas re-hashing each
    shingle string per seed — runs interpreted and was ~20× slower at
    sf0.1. The explode is map-side-combined by the partial hash
    aggregate, so rows never amplify across the shuffle; this is the
    shape that survives a 100 TB corpus.

    The token array is MATERIALIZED as a column before the window
    lambda: expressions in a higher-order-function body re-evaluate
    per element, so inlining ``split(text)`` into ``element_at(...)``
    re-splits the whole document ~3x per shingle position
    (UTF8String.split dominated stack samples, ~10x wall). A column
    reference splits once per row; CollapseProject keeps it
    materialized because it is referenced many times.
    """
    toks = F.col("_toks")
    n = F.size(toks)
    idxs = _window_idxs(n, 3)
    shingles = F.array_distinct(
        F.transform(
            idxs,
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, i),
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
            ),
        )
    )
    tok_hash = (
        ensure_parallelism(docs, key="doc_id")
        .withColumn("_toks", F.split("text", " "))
        .select("doc_id", F.explode(shingles).alias("_sh"))
        # non-negative 64-bit md5 value reduced mod P: u ∈ [0, P)
        .select(
            "doc_id",
            (
                _md5_hash64("_sh").bitwiseAND(F.lit((1 << 63) - 1)) % _MH_P
            ).alias("_u"),
        )
    )
    min_aggs = [
        F.min((F.lit(a).cast("long") * F.col("_u") + F.lit(b)) % _MH_P).alias(f"_m{i}")
        for i, (a, b) in enumerate(_MH_PARAMS)
    ]
    return (
        tok_hash.groupBy("doc_id")
        .agg(*min_aggs)
        .select(
            "doc_id",
            F.array(*[F.col(f"_m{i}") for i in range(N_MINHASHES)]).alias("signature"),
        )
    )


@register(
    "dedup_minhash_lsh",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), idx AS (
      SELECT doc_id, t,
             unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i
      FROM toks
    ), sh AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      FROM idx
    ), uh AS (
      SELECT doc_id,
             ({_SQL_MD5_H64('shingle')} & 9223372036854775807) % {_MH_P} AS u
      FROM sh
    ), sigs AS (
      SELECT doc_id,
             {_MH_SQL_MINS}
      FROM uh GROUP BY doc_id
    ), cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             {_MH_SQL_EQ} AS n_eq
      FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
      WHERE {_MH_SQL_BANDS}
    )
    SELECT doc_a, doc_b, CAST(n_eq AS DOUBLE) / {N_MINHASHES} AS est_jaccard
    FROM cand
    WHERE n_eq * 2 >= {N_MINHASHES}
    ORDER BY doc_a, doc_b
    """,
    doc="MinHash(32)+LSH(8×4) candidate pairs with estimated Jaccard (md5-portable, hash-checked)",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(d)
    # each band's 4 values (< 2^31) pack injectively into two bigints:
    # scalar equi-join keys, no bucket-hash collisions, narrow shuffle
    two31 = F.lit(1 << 31).cast("long")
    bands = sigs.select(
        "doc_id",
        "signature",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(LSH_BANDS - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    (
                        F.element_at("signature", b * LSH_ROWS + 1) * two31
                        + F.element_at("signature", b * LSH_ROWS + 2)
                    ).alias("k1"),
                    (
                        F.element_at("signature", b * LSH_ROWS + 3) * two31
                        + F.element_at("signature", b * LSH_ROWS + 4)
                    ).alias("k2"),
                ),
            )
        ).alias("bb"),
    ).select(
        "doc_id",
        "signature",
        F.col("bb.band").alias("band"),
        F.col("bb.k1").alias("k1"),
        F.col("bb.k2").alias("k2"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.k1") == F.col("b.k1"))
            & (F.col("a.k2") == F.col("b.k2"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.signature").alias("sig_a"),
            F.col("b.signature").alias("sig_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # n_eq/32: power-of-two denominator, so the double is exact and
    # engine-portable — no round() (HALF_UP vs HALF_EVEN divergence)
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda m: m,
            )
        ).cast("double")
        / N_MINHASHES
    )
    return (
        cand.select("doc_a", "doc_b", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= 0.5)
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# SimHash near-dup sketch: 64-bit fingerprint from token hashes;
# hamming distance ≤ 6 marks near-dups. Bit-vote accumulation is
# expressed with 64 map-side-combined sum aggregates (JVM-side, no
# Python UDF, one shuffle).
#
# Candidate blocking is pigeonhole-COMPLETE via the Manku/Jain/Sarma
# block-permutation argument: split the fingerprint into m=8 blocks
# of 8 bits; a pair within hamming k=6 has ≥ m-k = 2 blocks with no
# differing bit, so it matches on at least one of the C(8,2)=28
# (block_i, block_j) PAIR keys. Joining on all 28 pair keys therefore
# has recall EXACTLY 1.0 vs the exact hamming self-join (asserted in
# tests; note that the tempting "4 blocks of 16 bits, match any one"
# scheme is NOT sound for k=6 — six errors can spread 2+2+1+1 and
# touch all four blocks).
#
# Scale: each pair key carries 16 effective bits (65k bucket values),
# so candidates stay sub-quadratic; the 28 keys/doc are a static
# projection+explode (no self-join to build keys). The r1 shape
# blocked on only the single top 16-bit block — silently missing any
# pair whose differing bits landed there.
#
# The token hash is the top-64-bits of md5 (signed) — portable, so
# the DuckDB oracle replays fingerprints bit-exactly and this query
# is hash-checked, not rows-only (it was rows-only in r1 on
# xxhash64). Production at 100 TB would swap the token hash to
# xxhash64 (~4× faster, same plan shape).
# ---------------------------------------------------------------------------
SIMHASH_MAX_HAMMING = 6
_SIM_BLOCKS = 8  # m blocks of 64/m bits; sound for k <= m - 2 with pair keys


def _md5_hash64(col: str) -> F.Column:
    """Signed int64 from the first 16 hex chars of md5 — the one keyed
    64-bit hash both engines evaluate identically (see similarity.py
    for the same trick on hyperplanes)."""
    u = F.conv(F.substring(F.md5(col), 1, 16), 16, 10).cast("decimal(20,0)")
    return (
        u
        - F.when(
            u >= F.lit("9223372036854775808").cast("decimal(20,0)"),
            F.lit("18446744073709551616").cast("decimal(21,0)"),
        ).otherwise(F.lit(0))
    ).cast("long")


_SIMHASH_SQL_H = (
    "CAST(CAST(('0x' || substring(md5(_tok),1,16)) AS UBIGINT) - "
    "CASE WHEN CAST(('0x' || substring(md5(_tok),1,16)) AS UBIGINT) >= 9223372036854775808 "
    "THEN 18446744073709551616 ELSE 0 END AS BIGINT)"
)


@register(
    "dedup_simhash",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS _tok
      FROM documents
    ), th AS (
      SELECT doc_id, {_SIMHASH_SQL_H} AS h FROM toks
    ), votes AS (
      SELECT doc_id, i.i AS i,
             sum(CASE WHEN (h >> i.i) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM th CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i) i
      GROUP BY doc_id, i.i
    ), fps AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN v > 0 THEN
                    CASE WHEN i = 63 THEN -9223372036854775807 - 1
                         ELSE (CAST(1 AS BIGINT) << i) END
                  ELSE 0 END) AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id
    ), blocked AS (
      SELECT doc_id, simhash, blk.b AS blk,
             (simhash >> (8 * blk.b)) & 255 AS blkval
      FROM fps CROSS JOIN (SELECT unnest(generate_series(0, {_SIM_BLOCKS - 1})) AS b) blk
    ), pkeys AS (
      SELECT x.doc_id, x.simhash, x.blk AS bi, y.blk AS bj,
             x.blkval AS vi, y.blkval AS vj
      FROM blocked x JOIN blocked y
        ON x.doc_id = y.doc_id AND x.blk < y.blk
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS sa, b.simhash AS sb
      FROM pkeys a JOIN pkeys b
        ON a.bi = b.bi AND a.bj = b.bj AND a.vi = b.vi AND a.vj = b.vj
           AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(sa, sb)) <= {SIMHASH_MAX_HAMMING}
    ORDER BY doc_a, doc_b
    """,
    doc="SimHash-64 + pigeonhole-complete 8-block pair-key candidates, hamming≤6 pairs",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    fps = simhash_fingerprints(d)
    return simhash_candidates(fps, SIMHASH_MAX_HAMMING)


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """doc_id + 64-bit simhash over the distinct whitespace tokens of
    ``text``."""
    toks = F.array_distinct(F.split("text", " "))
    # Explode to (doc_id, token_hash); per-bit ±1 votes aggregate with
    # static shift amounts so everything stays in codegen'd JVM exprs.
    tok_hash = (
        ensure_parallelism(docs, key="doc_id")
        .select("doc_id", F.explode(toks).alias("_tok"))
        .select("doc_id", _md5_hash64("_tok").alias("_h"))
    )
    vote_aggs = [
        F.sum(
            F.when(F.shiftright("_h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"_v{i}")
        for i in range(64)
    ]
    votes = tok_hash.groupBy("doc_id").agg(*vote_aggs)
    # simhash via two's complement: bit 63 contributes -(2^63) when set.
    terms = [
        F.when(F.col(f"_v{i}") > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
        for i in range(63)
    ]
    terms.append(
        F.when(F.col("_v63") > 0, F.lit(-(1 << 63)).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    )
    sim = terms[0]
    for t in terms[1:]:
        sim = sim + t
    return votes.select("doc_id", sim.alias("simhash"))


def simhash_candidates(
    fps: DataFrame, max_hamming: int = SIMHASH_MAX_HAMMING
) -> DataFrame:
    """Pigeonhole-complete hamming≤k pairs from simhash fingerprints.

    With m=8 blocks of 8 bits, a pair within hamming k ≤ m-2 = 6 has
    at least two blocks free of differing bits, hence matches at
    least one of the C(8,2)=28 (block_i, block_j) pair keys. The 28
    keys per doc are built by a static projection + explode (no
    self-join); each key is an equi-join over a 16-bit composite
    value space, so candidate volume stays sub-quadratic in corpus
    size. dropDuplicates collapses pairs matching several keys before
    the (cheap) hamming filter.
    """
    if max_hamming > _SIM_BLOCKS - 2:
        raise ValueError(
            f"pair-key blocking is complete only for hamming <= {_SIM_BLOCKS - 2}"
        )
    bits = 64 // _SIM_BLOCKS
    blkvals = [
        F.shiftright("simhash", bits * b).bitwiseAND(F.lit((1 << bits) - 1))
        for b in range(_SIM_BLOCKS)
    ]
    pair_structs = [
        F.struct(
            F.lit(i).alias("bi"),
            F.lit(j).alias("bj"),
            blkvals[i].cast("int").alias("vi"),
            blkvals[j].cast("int").alias("vj"),
        )
        for i in range(_SIM_BLOCKS)
        for j in range(i + 1, _SIM_BLOCKS)
    ]
    pkeys = fps.select(
        "doc_id", "simhash", F.explode(F.array(*pair_structs)).alias("pk")
    ).select("doc_id", "simhash", "pk.bi", "pk.bj", "pk.vi", "pk.vj")
    a, b = pkeys.alias("a"), pkeys.alias("b")
    # hamming is computed IN the join projection and filtered BEFORE
    # the pair dedup: it is pair-functional (derived from the two
    # simhashes alone), so filter ∘ dedup ≡ dedup ∘ filter — but the
    # left order runs the XOR-popcount as a codegen'd narrow map on
    # the join output and drops every over-threshold candidate (and
    # both 64-bit hashes) before the dropDuplicates SHUFFLE. On the
    # dense sf0.1 fixture that cuts the dedup input 14.8M → ~3M rows:
    # measured 7.95 s → 0.7 s for the identical 967,484-pair result.
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.bi") == F.col("b.bi"))
            & (F.col("a.bj") == F.col("b.bj"))
            & (F.col("a.vi") == F.col("b.vi"))
            & (F.col("a.vj") == F.col("b.vj"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Document fingerprinting: polynomial rolling hash over normalized
# word tokens + winnowing-style minimum window hash (k=4 windows,
# base 257, mod 1e9+7). Pure integer arithmetic in a fixed fold order
# → engine-portable. Scale: per-row narrow transform, no shuffle; the
# fingerprint column then feeds exact-dedup groupBys downstream.
# ---------------------------------------------------------------------------
_FP_BASE = 257
_FP_MOD = 1_000_000_007
_FP_K = 4  # window width in tokens


@register(
    "doc_fingerprint",
    f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split({_NORM_SQL}, ' '), x -> length(x) > 0) AS t
      FROM documents
    ), vals AS (
      SELECT doc_id, len(t) AS n_tokens,
             list_transform(t, x -> CAST(length(x) * 131 + ascii(x) AS BIGINT)) AS v
      FROM toks
    ), hashed AS (
      SELECT doc_id, n_tokens,
             CASE WHEN n_tokens = 0 THEN 0
                  ELSE list_reduce(v, (a, b) -> (a * {_FP_BASE} + b) % {_FP_MOD})
             END AS full_hash,
             list_transform(generate_series(1, greatest(n_tokens - {_FP_K - 1}, 0)),
               i -> (((v[i] * {_FP_BASE} + v[i+1]) * {_FP_BASE} + v[i+2]) * {_FP_BASE}
                      + v[i+3]) % {_FP_MOD}) AS wh
      FROM vals
    )
    SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
           CAST(full_hash AS BIGINT) AS full_hash,
           CAST(list_min(wh) AS BIGINT) AS winnow_fp,
           CAST(len(wh) AS INT) AS n_windows
    FROM hashed
    ORDER BY doc_id
    """,
    doc="rolling-hash doc fingerprint: full-doc poly hash + winnowing min window hash",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(_norm_col(), " "), lambda x: F.length(x) > 0)
    vals = F.transform(toks, lambda x: (F.length(x) * 131 + F.ascii(x)).cast("bigint"))
    v = d.select("doc_id", F.size(toks).alias("n_tokens"), vals.alias("v"))
    full_hash = F.when(F.col("n_tokens") == 0, F.lit(0).cast("bigint")).otherwise(
        F.aggregate(
            "v",
            F.lit(0).cast("bigint"),
            lambda a, b: (a * _FP_BASE + b) % _FP_MOD,
        )
    )
    wh = F.transform(
        _window_idxs(F.col("n_tokens"), _FP_K),
        lambda i: (
            (
                (F.element_at("v", i) * _FP_BASE + F.element_at("v", i + 1)) * _FP_BASE
                + F.element_at("v", i + 2)
            )
            * _FP_BASE
            + F.element_at("v", i + 3)
        )
        % _FP_MOD,
    )
    return (
        v.withColumn("full_hash", full_hash)
        .withColumn("wh", wh)
        .select(
            "doc_id",
            F.col("n_tokens").cast("int").alias("n_tokens"),
            F.col("full_hash").cast("bigint").alias("full_hash"),
            F.array_min("wh").cast("bigint").alias("winnow_fp"),
            F.size("wh").cast("int").alias("n_windows"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Embedding statistics: explicit left-fold dot/norm so DuckDB
# (list_reduce) and Spark (aggregate) produce identical doubles.
# ---------------------------------------------------------------------------
@register(
    "embedding_stats",
    """
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(CAST(sum(CAST(sqrt(list_reduce(list_transform(CAST(embedding AS DOUBLE[]),
                                                         x -> x * x),
                                          (a, b) -> a + b)) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
             / count(*)                                  AS avg_norm,
           CAST(min(embedding[1]) AS DOUBLE)             AS min_dim0,
           CAST(max(embedding[1]) AS DOUBLE)             AS max_dim0
    FROM embeddings
    GROUP BY label
    ORDER BY label
    """,
    doc="per-label vector stats: L2 norm via portable fold, dim-0 extrema",
)
def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    vec = F.transform("embedding", lambda x: x.cast("double"))
    norm = F.sqrt(
        F.aggregate(
            F.transform(vec, lambda x: x * x),
            F.lit(0.0),
            lambda a, b: a + b,
        )
    )
    return (
        e.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            (F.sum(norm.cast("decimal(38,12)")).cast("string").cast("double") / F.count(F.lit(1))).alias(
                "avg_norm"
            ),
            F.min(F.element_at("embedding", 1).cast("double")).alias("min_dim0"),
            F.max(F.element_at("embedding", 1).cast("double")).alias("max_dim0"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Similarity search: brute-force cosine top-k against a fixed query
# vector (vec_id 0). The scan is embarrassingly parallel; top-k is a
# TakeOrdered (no global sort). Fold order matches DuckDB list_reduce
# so cosine values agree bit-for-bit before rounding.
# ---------------------------------------------------------------------------
@register(
    "ann_cosine_topk",
    """
    WITH q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qv,
             sqrt(list_reduce(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x),
                              (a, b) -> a + b)) AS qn
      FROM embeddings WHERE vec_id = 0
    ), scored AS (
      SELECT e.vec_id, e.label,
             list_reduce(list_transform(generate_series(1, len(qv)),
                                        i -> CAST(e.embedding[i] AS DOUBLE) * qv[i]),
                         (a, b) -> a + b)
             / (sqrt(list_reduce(list_transform(CAST(e.embedding AS DOUBLE[]), x -> x * x),
                                 (a, b) -> a + b)) * qn) AS cosine
      FROM embeddings e, q
      WHERE e.vec_id <> 0
    )
    SELECT vec_id, label, cosine
    FROM scored
    ORDER BY cosine DESC, vec_id
    LIMIT 10
    """,
    doc="brute-force cosine top-10 vs query vec_id=0 (ANN baseline)",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # imported here, not at module level: a module-level import would
    # register the similarity lanes before this module's own
    from sf_etl_spark.queries.similarity import _cos, _norm, _vec

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(_vec().alias("qv"), _norm(_vec()).alias("qn"))
    cosine = _cos(_vec(), F.col("qv"), _norm(_vec()), F.col("qn"))
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", cosine.alias("cosine"))
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(10)
    )


@register(
    "tfidf_top_terms",
    """
    WITH words AS (
      SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> length(x) > 0)) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS cnt
      FROM words GROUP BY doc_id, term
    ),
    dl AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_words FROM tf GROUP BY doc_id),
    dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             (CAST(tf.cnt AS DOUBLE) / CAST(dl.n_words AS DOUBLE))
               * ((CAST(n.n_docs AS DOUBLE) + 1.0) / (CAST(dfreq.df AS DOUBLE) + 1.0)) AS score
      FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term) CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, term, score,
             row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
      FROM scored
    )
    SELECT doc_id, CAST(rank AS INT) AS rank, term, score
    FROM ranked WHERE rank <= 3
    ORDER BY doc_id, rank
    """,
    doc="TF-IDF top-3 terms per document (rational idf — no ln, engine-portable doubles)",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document term salience — the retrieval/quality-scoring
    primitive (inverted-index weighting, keyword extraction). The idf
    is the RATIONAL (N+1)/(df+1) rather than its logarithm: ln() may
    differ in the last ulp between libm implementations, while IEEE-754
    divide/multiply are exactly specified, so the identical operation
    order makes scores bit-equal across engines (same monotone ranking
    as log-idf — log is order-preserving).

    Scale: two aggregations (term-frequency by (doc, term), then
    doc-frequency by term) and one join keyed on term; the corpus-size
    scalar re-enters as a broadcast. No collect, no UDF; vocabulary
    skew (stopwords are in every doc) is bounded because df caps at
    n_docs and the term join fans out at most |doc vocab| per doc.
    """
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower("text"), " "), lambda x: F.length(x) > 0)
        ).alias("term"),
    )
    tf = words.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("cnt"))
    dl = tf.groupBy("doc_id").agg(F.sum("cnt").alias("n_words"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    score = (F.col("cnt").cast("double") / F.col("n_words").cast("double")) * (
        (F.col("n_docs").cast("double") + F.lit(1.0))
        / (F.col("df").cast("double") + F.lit(1.0))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        tf.join(dl, "doc_id")
        .join(dfreq, "term")
        .join(F.broadcast(n))
        .select("doc_id", "term", score.alias("score"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "rank", "term", "score")
        .orderBy("doc_id", "rank")
    )


# ---------------------------------------------------------------------------
# BM25 ranked retrieval — the inverted-index scoring function behind
# full-text search (Robertson/Spärck Jones; k1=1.2, b=0.75). Like
# tfidf_top_terms above, the idf keeps its RATIONAL form
# (N - df + 0.5)/(df + 0.5) instead of its logarithm: divide/multiply
# are exactly specified by IEEE-754 while libm ln() is not, so scores
# are bit-equal across engines. The per-term partial scores of the
# fixed 3-term query are PIVOTED into one column per term and added in
# a fixed left-to-right order — summation order is part of the
# contract, so the value hash cannot wobble with aggregation order.
# Scale: one narrow scan tokenises each document once and counts the
# |q| query terms in it (codegen'd array ops, no explode and no
# postings shuffle); N, avgdl and the |q| document frequencies are one
# global partial-agged aggregate re-entering as a 1-row broadcast;
# the top-20 is TakeOrderedAndProject — no UDFs.
# ---------------------------------------------------------------------------
_BM25_TERMS = ("merge", "window", "shuffle")


@register(
    "bm25_topk",
    f"""
    WITH words AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ), toks AS (
      SELECT doc_id, term FROM words WHERE length(term) > 0
    ), tf AS (
      SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS cnt
      FROM toks GROUP BY doc_id, term
    ), dl AS (
      SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM toks GROUP BY doc_id
    ), stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
      FROM dl
    ), dfreq AS (
      SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf
      WHERE term IN ('{_BM25_TERMS[0]}', '{_BM25_TERMS[1]}', '{_BM25_TERMS[2]}')
      GROUP BY term
    ), partial AS (
      SELECT t.doc_id, t.term,
             ((s.n_docs - f.df + 0.5) / (f.df + 0.5))
             * ((t.cnt * 2.2)
                / (t.cnt + 1.2 * (0.25 + 0.75 * (d.dl / s.avgdl)))) AS sc
      FROM tf t
      JOIN dfreq f USING (term)
      JOIN dl d USING (doc_id)
      CROSS JOIN stats s
    ), pivoted AS (
      SELECT doc_id,
             coalesce(max(CASE WHEN term = '{_BM25_TERMS[0]}' THEN sc END), 0.0)
             + coalesce(max(CASE WHEN term = '{_BM25_TERMS[1]}' THEN sc END), 0.0)
             + coalesce(max(CASE WHEN term = '{_BM25_TERMS[2]}' THEN sc END), 0.0)
               AS score
      FROM partial GROUP BY doc_id
    )
    SELECT doc_id, score,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
    FROM pivoted
    ORDER BY score DESC, doc_id
    LIMIT 20
    """,
    doc="BM25 top-20 retrieval for a fixed 3-term query (rational idf, pivoted fixed-order sum)",
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # one tokenisation per row; a term's count is what removing it
    # takes off the document's length (all codegen'd: no explode, no
    # lambda, no (doc, term) shuffle)
    a = F.array_remove(F.split(F.lower("text"), " "), "")
    toks = d.select("doc_id", a.alias("a")).select(
        "doc_id",
        F.size("a").alias("n"),
        *[
            (F.size("a") - F.size(F.array_remove("a", t))).cast("double").alias(f"c{i}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    )
    # corpus stats over the documents with at least one token: one
    # global aggregate, re-entering as a 1-row broadcast. A filter on
    # n > 0 would be pushed below the projection and tokenise twice;
    # the counts are conditional instead.
    has = F.col("n") > 0
    stats = toks.agg(
        F.count(F.when(has, 1)).cast("double").alias("n_docs"),
        F.sum(F.when(has, F.col("n"))).cast("double").alias("tok"),
        *[
            F.count(F.when(F.col(f"c{i}") > 0, 1)).cast("double").alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    ).select("*", (F.col("tok") / F.col("n_docs")).alias("avgdl"))
    dl = F.col("n").cast("double")

    def _term(i: int) -> F.Column:
        df, cnt = F.col(f"df{i}"), F.col(f"c{i}")
        sc = ((F.col("n_docs") - df + F.lit(0.5)) / (df + F.lit(0.5))) * (
            (cnt * F.lit(2.2))
            / (cnt + F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * (dl / F.col("avgdl"))))
        )
        return F.when(cnt > 0, sc).otherwise(F.lit(0.0))

    scored = toks.crossJoin(F.broadcast(stats)).select(
        "doc_id", (_term(0) + _term(1) + _term(2)).alias("score")
    )
    # top-20 via orderBy+limit FIRST (TakeOrderedAndProject: per-
    # partition partial top-k, no global sort/shuffle of all docs). A
    # document with a query term scores > 0 and one without scores
    # 0.0, so those rank last and drop after the cut, where no filter
    # can reach the scan; the rank window runs over 20 rows.
    top = scored.orderBy(F.col("score").desc(), "doc_id").limit(20).filter(F.col("score") > 0)
    w = Window.orderBy(F.col("score").desc(), "doc_id")
    return (
        top.withColumn("rank", F.row_number().over(w).cast("int"))
        .select("doc_id", "score", "rank")
        .orderBy(F.col("score").desc(), "doc_id")
    )


# ---------------------------------------------------------------------------
# Bigram novelty scoring — an n-gram language-model proxy for "how
# unusual is this document relative to the corpus": share of a doc's
# word bigrams NOT in the corpus's top-V bigram vocabulary. High
# novelty flags boilerplate-free (or garbled) text; low novelty flags
# template/duplicate-heavy text. The cheap stand-in for LM perplexity
# filtering (pretraining-data curation's workhorse) that needs no
# model and no libm (a real log-prob sum would hit the ln()
# cross-engine parity wall documented at tfidf_top_terms).
#
# Scale: bigram fan-out is a narrow JVM map (split array materialized
# ONCE, then transform — PLANS.md pathology 2); the vocab build
# partial-aggregates before its term shuffle and the top-V cut is
# TakeOrdered (row_number over V rows, never the full vocabulary);
# the V-row vocab re-enters via broadcast semi join; one final
# doc_id shuffle for the per-doc share. novelty is a single IEEE
# divide of two exact counts — bit-equal, no rounding hop.
# ---------------------------------------------------------------------------
_NOVELTY_V = 2000


@register(
    "bigram_novelty",
    rf"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
      FROM documents
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i+1])) AS bigram
      FROM toks
      WHERE len(t) >= 2
    ),
    vocab AS (
      SELECT bigram FROM (
        SELECT bigram,
               row_number() OVER (ORDER BY count(*) DESC, bigram) AS rnk
        FROM bg GROUP BY bigram
      ) WHERE rnk <= {_NOVELTY_V}
    )
    SELECT b.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(CASE WHEN v.bigram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_known,
           1.0 - CAST(sum(CASE WHEN v.bigram IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*) AS novelty
    FROM bg b LEFT JOIN vocab v ON b.bigram = v.bigram
    GROUP BY b.doc_id
    ORDER BY b.doc_id
    """,
    doc=f"doc novelty = share of bigrams outside the top-{_NOVELTY_V} corpus bigram vocab",
)
def bigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split(F.lower("text"), r"\s+").alias("t")).filter(
        F.size("t") >= 2
    )
    bg = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.slice(F.col("t"), 1, F.size("t") - 1),
                lambda x, i: F.concat(x, F.lit(" "), F.element_at(F.col("t"), i + 2)),
            )
        ).alias("bigram"),
    )
    counts = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("n"))
    # (n desc, bigram) is a deterministic TOTAL order, so orderBy+limit
    # equals the oracle's row_number cut — and plans as TakeOrdered.
    vocab = counts.orderBy(F.col("n").desc(), "bigram").limit(_NOVELTY_V).select("bigram")
    flagged = bg.join(
        F.broadcast(vocab.withColumn("known", F.lit(1))), "bigram", "left"
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.coalesce(F.col("known"), F.lit(0))).alias("n_known"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "n_known",
            (
                F.lit(1.0)
                - F.col("n_known").cast("double") / F.col("n_bigrams")
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Positional phrase search — exact phrase matching over a positional
# inverted index, the retrieval primitive BM25's bag-of-words scoring
# cannot express ("new york" ≠ "york new"). The corpus's most frequent
# trigram is the query phrase (self-contained and non-empty by
# construction under any fixture regeneration, with a deterministic
# tie-break), and matching runs as the classic postings-intersection:
# tokenize→posexplode builds (doc_id, token, pos) postings ONCE, then
# the three phrase terms positionally self-join on
# (doc_id, pos), (doc_id, pos+1), (doc_id, pos+2).
#
# The oracle never builds an index: it explodes trigrams and counts
# them directly per document — so an off-by-one in the position join,
# a posting lost in the explode, or a tie-break divergence in the
# phrase pick all break the hash. The engine-side join is the shape
# that scales: postings are filtered to the THREE phrase terms before
# any join (broadcast of a 1-row phrase frame), so the join input is
# term-selective, never corpus × corpus.
# ---------------------------------------------------------------------------
@register(
    "phrase_search_positional",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE lang = 'en'
    ), tg AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(t) - 2),
                                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
      FROM toks
    ), top AS (
      SELECT g FROM tg GROUP BY g
      ORDER BY count(*) DESC, g
      LIMIT 1
    )
    SELECT tg.doc_id,
           (SELECT g FROM top) AS phrase,
           CAST(count(*) AS BIGINT) AS n_hits
    FROM tg JOIN top ON tg.g = top.g
    GROUP BY tg.doc_id
    ORDER BY n_hits DESC, tg.doc_id
    LIMIT 25
    """,
    doc="exact phrase match via positional postings join; query = corpus top trigram",
)
def phrase_search_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    # guard docs shorter than one trigram BEFORE the index fan-outs:
    # Spark's sequence(1, n-2) DESCENDS for n<3 (→ element_at(t, 0)
    # crash) where DuckDB's generate_series is empty — the size filter
    # makes both sides skip short docs identically
    toks = d.select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= 3
    )
    # positional postings: (doc_id, pos, token) — built once; at scale
    # this is the stored inverted index, not a per-query derivation
    postings = toks.select(
        "doc_id", F.posexplode("t").alias("pos", "token")
    )
    # query selection: the corpus's most frequent trigram (count desc,
    # lexicographic tie-break) — a 1-row frame
    tg = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(F.col("t"), i),
                    F.element_at(F.col("t"), i + 1),
                    F.element_at(F.col("t"), i + 2),
                ),
            )
        ).alias("g"),
    )
    top = (
        tg.groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "g")
        .limit(1)
        .select(
            F.split("g", " ").getItem(0).alias("w0"),
            F.split("g", " ").getItem(1).alias("w1"),
            F.split("g", " ").getItem(2).alias("w2"),
            F.col("g").alias("phrase"),
        )
    )
    # postings intersection: filter postings to the phrase terms FIRST
    # (broadcast 1-row phrase), then positional equi-joins
    p0 = postings.join(F.broadcast(top), postings["token"] == top["w0"]).select(
        "doc_id", "pos", "phrase"
    )
    p1 = postings.join(
        F.broadcast(top.select("w1")), postings["token"] == F.col("w1")
    ).select(F.col("doc_id").alias("d1"), F.col("pos").alias("pos1"))
    p2 = postings.join(
        F.broadcast(top.select("w2")), postings["token"] == F.col("w2")
    ).select(F.col("doc_id").alias("d2"), F.col("pos").alias("pos2"))
    hits = p0.join(
        p1, (F.col("doc_id") == F.col("d1")) & (F.col("pos1") == F.col("pos") + 1)
    ).join(p2, (F.col("doc_id") == F.col("d2")) & (F.col("pos2") == F.col("pos") + 2))
    return (
        hits.groupBy("doc_id", "phrase")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .select("doc_id", "phrase", "n_hits")
        .orderBy(F.col("n_hits").desc(), "doc_id")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Conjunctive boolean retrieval (term1 AND term2 AND term3) — the
# postings-intersection primitive underneath every search engine's
# AND query, complementing bm25_topk (ranked union) and
# phrase_search_positional (ordered adjacency). Ranking is the total
# term frequency — an INTEGER, so the score is exact by construction
# and the hash gate needs no float discipline at all. The
# intersection itself is the pivot trick: one (doc, term) partial
# aggregation filtered to the query terms BEFORE the shuffle, then
# "all three non-null" instead of three self-joins.
# Scale: identical to bm25's plan — postings pruned to |q| terms at
# the scan side of the one shuffle; no joins at all. The contract is
# EXPLICIT TOP-K (r7 verdict task 1c): three common terms at corpus
# scale make the conjunctive hit set unbounded, so the rank window
# runs AFTER an ORDER BY … LIMIT K (TakeOrderedAndProject: per-
# partition top-k, then a K·P-row merge) — the dense rank only ever
# sorts K rows, exactly the bm25_topk discipline.
# ---------------------------------------------------------------------------
_BOOL_TERMS = ("merge", "window", "shuffle")
_BOOL_K = 50


@register(
    "boolean_search_and",
    f"""
    WITH words AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS cnt
      FROM words
      WHERE term IN ('{_BOOL_TERMS[0]}', '{_BOOL_TERMS[1]}', '{_BOOL_TERMS[2]}')
      GROUP BY doc_id, term
    ), pivoted AS (
      SELECT doc_id,
             max(CASE WHEN term = '{_BOOL_TERMS[0]}' THEN cnt END) AS c0,
             max(CASE WHEN term = '{_BOOL_TERMS[1]}' THEN cnt END) AS c1,
             max(CASE WHEN term = '{_BOOL_TERMS[2]}' THEN cnt END) AS c2
      FROM tf GROUP BY doc_id
    ), hits AS (
      SELECT doc_id, c0 + c1 + c2 AS tf_total
      FROM pivoted
      WHERE c0 IS NOT NULL AND c1 IS NOT NULL AND c2 IS NOT NULL
      ORDER BY tf_total DESC, doc_id
      LIMIT {_BOOL_K}
    )
    SELECT doc_id, tf_total,
           CAST(row_number() OVER (ORDER BY tf_total DESC, doc_id) AS INT) AS rank
    FROM hits
    ORDER BY rank
    """,
    doc=f"conjunctive AND retrieval via pivoted postings intersection, top-{_BOOL_K} by integer tf",
)
def boolean_search_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("term"),
    ).filter(F.col("term").isin(*_BOOL_TERMS))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("cnt"))
    piv = tf.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("term") == t, F.col("cnt"))).alias(f"c{i}")
            for i, t in enumerate(_BOOL_TERMS)
        ]
    )
    hits = piv.filter(
        F.col("c0").isNotNull() & F.col("c1").isNotNull() & F.col("c2").isNotNull()
    )
    total = (F.col("c0") + F.col("c1") + F.col("c2")).alias("tf_total")
    # TakeOrderedAndProject bounds the hit set BEFORE the rank window
    # sorts anything — the window's input is ≤ _BOOL_K rows
    limited = (
        hits.select("doc_id", total)
        .orderBy(F.desc("tf_total"), F.asc("doc_id"))
        .limit(_BOOL_K)
    )
    w = Window.orderBy(F.desc("tf_total"), F.asc("doc_id"))
    return limited.select(
        "doc_id", "tf_total", F.row_number().over(w).cast("int").alias("rank")
    ).orderBy("rank")


# ---------------------------------------------------------------------------
# Gopher-style rule-based quality filtering (Rae et al. 2021 §A1.1 —
# the heuristic filter battery every large-scale pretraining corpus
# runs BEFORE the expensive dedup/decontamination stages): per-document
# rule verdicts, rolled up per language so the report shows what each
# rule removes. Rules kept to the subset the fixture corpus can
# discriminate (no punctuation/line structure in the synthetic docs),
# thresholds adapted to its 10-99-word shape:
#   length    — word count in [20, 80]   (Gopher: [50, 100k])
#   word_len  — mean word length in [3.0, 4.8]   (Gopher: [3, 10])
#   stopword  — ≥2 distinct of {the, a, to, of, and}   (Gopher: ≥2)
#   repetition— most-frequent-word fraction ≤ 0.15 (Gopher's top-gram
#               fraction family)
# All verdicts are integer/exact-division comparisons, so the DuckDB
# oracle restates them bit-for-bit.
# Scale: three map-side expressions + ONE pre-reduced shuffle pair for
# the per-doc top-word count (explode → partial-agged (doc, word)
# counts → per-doc max); everything else is an expression over the
# scan. No Python, no windows, no driver collects.
# ---------------------------------------------------------------------------
_GOPHER_STOPWORDS = ("the", "a", "to", "of", "and")


@register(
    "quality_gopher_filter",
    f"""
    WITH w AS (
      SELECT doc_id, lang, text, string_split(text, ' ') AS words FROM documents
    ), base AS (
      SELECT doc_id, lang, len(words) AS n_words,
             CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(words) AS mwl,
             len(list_intersect(list_distinct(words),
                 ['the', 'a', 'to', 'of', 'and'])) AS n_stop
      FROM w
    ), ex AS (
      SELECT doc_id, unnest(words) AS word FROM w
    ), cnt AS (
      SELECT doc_id, word, count(*) AS c FROM ex GROUP BY doc_id, word
    ), tf AS (
      SELECT doc_id, max(c) AS mc FROM cnt GROUP BY doc_id
    ), verdicts AS (
      SELECT lang,
             n_words BETWEEN 20 AND 80 AS ok_len,
             mwl BETWEEN 3.0 AND 4.8 AS ok_wl,
             n_stop >= 2 AS ok_stop,
             CAST(tf.mc AS DOUBLE) / n_words <= 0.15 AS ok_rep
      FROM base JOIN tf USING (doc_id)
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN ok_len THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_length,
           CAST(sum(CASE WHEN ok_wl THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_word_len,
           CAST(sum(CASE WHEN ok_stop THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_stopword,
           CAST(sum(CASE WHEN ok_rep THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_repetition,
           CAST(sum(CASE WHEN ok_len AND ok_wl AND ok_stop AND ok_rep
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM verdicts
    GROUP BY lang
    ORDER BY lang
    """,
    doc="Gopher-rule quality filter (length/word-len/stopword/repetition) per lang",
)
def quality_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_words = F.size(words)
    mwl = (
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
        / n_words
    )
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(words),
            F.array(*[F.lit(s) for s in _GOPHER_STOPWORDS]),
        )
    )
    base = d.select(
        "doc_id",
        "lang",
        n_words.alias("n_words"),
        mwl.alias("mwl"),
        n_stop.alias("n_stop"),
    )
    # per-doc top-word count: explode collapses map-side into (doc,
    # word) partials, then a per-doc max — both exchanges pre-reduced
    tf = (
        d.select("doc_id", F.explode(words).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("mc"))
    )
    ok_len = F.col("n_words").between(20, 80)
    ok_wl = F.col("mwl").between(3.0, 4.8)
    ok_stop = F.col("n_stop") >= 2
    ok_rep = (F.col("mc").cast("double") / F.col("n_words")) <= 0.15
    fail = lambda ok: F.sum(F.when(ok, 0).otherwise(1)).cast("bigint")  # noqa: E731
    return (
        base.join(tf, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            fail(ok_len).alias("n_fail_length"),
            fail(ok_wl).alias("n_fail_word_len"),
            fail(ok_stop).alias("n_fail_stopword"),
            fail(ok_rep).alias("n_fail_repetition"),
            F.sum(
                F.when(ok_len & ok_wl & ok_stop & ok_rep, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_kept"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Gopher PUBLISHED preset (r13 verdict task 5): the same report shape
# as `quality_gopher_filter`, at the Rae et al. 2021 §A1.1 published
# thresholds, with the structural rules the fixture preset cannot
# discriminate (symbol-to-word ratio, bullet-/ellipsis-line ratios,
# alphabetic-word ratio) implemented for real. The fixture lane keeps
# its tuned thresholds for oracle stability; THIS lane is the config a
# production corpus runs. §A1.1's repetition battery (duplicate-line /
# top-n-gram character fractions) is a separate rule family, covered
# by the fixture lane's top-word rule and `repetition_metrics`.
#
# Published thresholds: word count in [50, 100k]; mean word length in
# [3, 10]; symbol-to-word ratio ('#' and ellipsis) <= 0.1; <= 90% of
# lines starting with a bullet; <= 30% of lines ending in an ellipsis;
# >= 80% of words containing an alphabetic character; >= 2 of the
# stop set {the, be, to, of, and, that, have, with}.
#
# Scale: identical to the fixture lane minus its shuffle pair — every
# rule here is a MAP-SIDE expression over the scan (array/line math on
# the text column), so the only exchange is the per-lang rollup.
# Exactness: word/line/symbol counts are integers, ratios are single
# divisions of those integers compared against short decimal literals
# — bit-identical in both engines.
# ---------------------------------------------------------------------------
_GOPHER_PUB_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_published_report(d: DataFrame) -> DataFrame:
    """Per-lang Gopher §A1.1 published-threshold report over any
    (doc_id, lang, text) frame — factored out of the lane so crafted
    corpora (tests/test_gopher_published.py) run the identical plan."""
    words = F.split(F.col("text"), " ")
    lines = F.split(F.col("text"), "\n")
    n_words = F.size(words)
    mwl = (
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
        / n_words
    )
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(words),
            F.array(*[F.lit(s) for s in _GOPHER_PUB_STOPWORDS]),
        )
    )

    def count_of(lit: str) -> F.Column:
        gone = F.length(F.replace(F.col("text"), F.lit(lit), F.lit("")))
        return (F.length(F.col("text")) - gone) / len(lit)

    n_sym = count_of("#") + count_of("...") + count_of("…")
    base = d.select(
        "lang",
        n_words.alias("n_words"),
        mwl.alias("mwl"),
        n_stop.alias("n_stop"),
        n_sym.alias("n_sym"),
        F.size(lines).alias("n_lines"),
        F.expr(
            "size(filter(split(text, '\\n'), l -> "
            "l LIKE '•%' OR l LIKE '- %' OR l LIKE '* %'))"
        ).alias("n_bullet"),
        F.expr(
            "size(filter(split(text, '\\n'), l -> "
            "l LIKE '%...' OR l LIKE '%…'))"
        ).alias("n_ell"),
        F.expr(
            "size(filter(split(text, ' '), w -> w RLIKE '[A-Za-z]'))"
        ).alias("n_alpha"),
    )
    ok_len = F.col("n_words").between(50, 100000)
    ok_wl = F.col("mwl").between(3.0, 10.0)
    ok_sym = (F.col("n_sym") / F.col("n_words")) <= 0.1
    ok_bullet = (F.col("n_bullet").cast("double") / F.col("n_lines")) <= 0.9
    ok_ell = (F.col("n_ell").cast("double") / F.col("n_lines")) <= 0.3
    ok_alpha = (F.col("n_alpha").cast("double") / F.col("n_words")) >= 0.8
    ok_stop = F.col("n_stop") >= 2
    fail = lambda ok: F.sum(F.when(ok, 0).otherwise(1)).cast("bigint")  # noqa: E731
    return (
        base.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            fail(ok_len).alias("n_fail_length"),
            fail(ok_wl).alias("n_fail_word_len"),
            fail(ok_sym).alias("n_fail_symbol"),
            fail(ok_bullet).alias("n_fail_bullet"),
            fail(ok_ell).alias("n_fail_ellipsis"),
            fail(ok_alpha).alias("n_fail_alpha"),
            fail(ok_stop).alias("n_fail_stopword"),
            F.sum(
                F.when(
                    ok_len & ok_wl & ok_sym & ok_bullet & ok_ell & ok_alpha & ok_stop,
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_kept"),
        )
        .orderBy("lang")
    )


@register(
    "quality_gopher_published",
    """
    WITH base AS (
      SELECT lang,
             len(string_split(text, ' ')) AS n_words,
             CAST(length(replace(text, ' ', '')) AS DOUBLE)
               / len(string_split(text, ' ')) AS mwl,
             len(list_intersect(list_distinct(string_split(text, ' ')),
                 ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'])) AS n_stop,
             (length(text) - length(replace(text, '#', '')))
               + (length(text) - length(replace(text, '...', ''))) / 3
               + (length(text) - length(replace(text, chr(8230), ''))) AS n_sym,
             len(string_split(text, chr(10))) AS n_lines,
             len(list_filter(string_split(text, chr(10)), l ->
                 l LIKE chr(8226) || '%' OR l LIKE '- %' OR l LIKE '* %')) AS n_bullet,
             len(list_filter(string_split(text, chr(10)), l ->
                 l LIKE '%...' OR l LIKE '%' || chr(8230))) AS n_ell,
             len(list_filter(string_split(text, ' '), w ->
                 regexp_matches(w, '[A-Za-z]'))) AS n_alpha
      FROM documents
    ), verdicts AS (
      SELECT lang,
             n_words BETWEEN 50 AND 100000 AS ok_len,
             mwl BETWEEN 3.0 AND 10.0 AS ok_wl,
             n_sym / n_words <= 0.1 AS ok_sym,
             CAST(n_bullet AS DOUBLE) / n_lines <= 0.9 AS ok_bullet,
             CAST(n_ell AS DOUBLE) / n_lines <= 0.3 AS ok_ell,
             CAST(n_alpha AS DOUBLE) / n_words >= 0.8 AS ok_alpha,
             n_stop >= 2 AS ok_stop
      FROM base
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN ok_len THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_length,
           CAST(sum(CASE WHEN ok_wl THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_word_len,
           CAST(sum(CASE WHEN ok_sym THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_symbol,
           CAST(sum(CASE WHEN ok_bullet THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_bullet,
           CAST(sum(CASE WHEN ok_ell THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_ellipsis,
           CAST(sum(CASE WHEN ok_alpha THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_alpha,
           CAST(sum(CASE WHEN ok_stop THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_stopword,
           CAST(sum(CASE WHEN ok_len AND ok_wl AND ok_sym AND ok_bullet
                         AND ok_ell AND ok_alpha AND ok_stop
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM verdicts
    GROUP BY lang
    ORDER BY lang
    """,
    doc="Gopher quality filter at the PUBLISHED Rae et al. thresholds incl. symbol/bullet/ellipsis/alpha structural rules, per lang",
)
def quality_gopher_published(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gopher_published_report(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Gopher §A1.1 REPETITION battery (r14 verdict task 2): the 13
# published repetition rules Rae et al. 2021 apply ahead of the
# structural preset — duplicate line / paragraph fractions (by count
# and by character share, <= 0.30/0.30 and 0.20/0.20), top-2/3/4-gram
# character fractions (<= 0.20/0.18/0.16), and dup-5..10-gram
# character fractions (<= 0.15..0.10). Rae et al. report these remove
# more data than all structural rules combined, so this is the config
# a real 100 TB corpus runs. Same report shape as the sibling presets:
# per-lang n_docs / per-rule fail counts / n_kept.
#
# Exact semantics (mirrored bit-for-bit by the DuckDB oracle and the
# pure-Python reference in tests/test_gopher_repetition.py):
# - lines = split(text, '\n'); paras = regex-split on '\n{2,}';
#   words = split(text, ' ') — empty strings kept on both engines;
# - tl = greatest(length(text), 1) denominates EVERY char fraction;
# - dup_line_frac = (n_lines − n_distinct_lines) / n_lines; the char
#   twin sums (count−1)·len over line values occurring >= 2 times
#   (EXCESS occurrences — the first copy is not a duplicate); same
#   pair for paragraphs;
# - top-n-gram (n=2,3,4): grams join n consecutive words with ' ';
#   mass = max_count · max(len among grams at max_count) when
#   max_count >= 2 else 0 (the deterministic restatement of the
#   paper's "most frequently-occurring n-gram" under count ties);
# - dup-n-gram (n=5..10): the paper's "characters contained within
#   all duplicate n-grams, taking care not to count characters twice"
#   as a position-coverage union — word positions covered by ANY
#   occurrence of a gram seen >= 2 times; covered chars = Σ len(word)
#   over covered positions (spaces never counted);
# - a rule FAILS when its fraction EXCEEDS the published threshold.
#
# Scale: the line/paragraph pair is MAP-SIDE (array lambdas over the
# split — O(L²) in lines-per-doc, the right trade against a shuffle
# for the ≤10³-line documents of a web corpus). The n-gram battery is
# the fixture lane's explode→partial-count pattern widened to 9 gram
# sizes: every exchange is keyed by doc_id ((doc,n,gram) counts
# pre-reduce map-side; the coverage DISTINCT and the two pivots
# likewise), so AQE coalesces and nothing is all-pairs — the exploded
# volume is ~9 rows per token, linear in corpus size, the standard
# cost of this filter family. No Python, no windows, no driver
# collects.
# ---------------------------------------------------------------------------
_REP_NS = list(range(2, 11))


def gopher_repetition_report(d: DataFrame) -> DataFrame:
    """Per-lang Gopher §A1.1 repetition-battery report over any
    (doc_id, lang, text) frame — factored out of the lane so crafted
    corpora (tests/test_gopher_repetition.py) run the identical plan.
    Semantics documented at the section header above."""

    def dup_pair(col: str) -> tuple:
        n = F.size(F.col(col))
        dup_n = n - F.size(F.array_distinct(F.col(col)))
        # occurrence count computed ONCE per distinct element (via a
        # (count, len) struct), not once in the WHEN and again in the
        # THEN — halves the O(distinct·L) equality scans (review pass)
        dup_chars = F.expr(
            f"aggregate(transform(array_distinct({col}), d -> "
            f"struct(size(filter({col}, x -> x = d)) AS c, "
            f"length(d) AS l)), 0L, (acc, s) -> acc + "
            f"CASE WHEN s.c >= 2 "
            f"THEN CAST((s.c - 1) * s.l AS BIGINT) ELSE 0L END)"
        )
        return n, dup_n, dup_chars

    w = d.select(
        "doc_id",
        "lang",
        F.split(F.col("text"), " ").alias("words"),
        F.split(F.col("text"), "\n").alias("lines"),
        F.split(F.col("text"), "\n{2,}").alias("paras"),
        F.greatest(F.length("text"), F.lit(1)).alias("tl"),
    )
    n_lines, dup_lines, dup_line_chars = dup_pair("lines")
    n_paras, dup_paras, dup_para_chars = dup_pair("paras")
    base = w.select(
        "doc_id",
        "lang",
        "tl",
        n_lines.alias("n_lines"),
        dup_lines.alias("dup_lines"),
        dup_line_chars.alias("dup_line_chars"),
        n_paras.alias("n_paras"),
        dup_paras.alias("dup_paras"),
        dup_para_chars.alias("dup_para_chars"),
    )
    # one explode per document over all 9 gram sizes: (doc, n, i, gram)
    gram_struct = "struct<n:int,i:int,g:string>"
    per_n = [
        f"CASE WHEN size(words) >= {n} THEN "
        f"transform(sequence(1, size(words) - {n} + 1), i -> "
        f"struct({n} AS n, i AS i, "
        f"array_join(slice(words, i, {n}), ' ') AS g)) "
        f"ELSE CAST(array() AS array<{gram_struct}>) END"
        for n in _REP_NS
    ]
    occ = w.select(
        "doc_id", F.explode(F.expr("concat(" + ", ".join(per_n) + ")")).alias("o")
    ).select(
        "doc_id",
        F.col("o.n").alias("n"),
        F.col("o.i").alias("i"),
        F.col("o.g").alias("g"),
    )
    cnt = occ.groupBy("doc_id", "n", "g").agg(F.count(F.lit(1)).alias("c"))
    # top-n-gram mass (n=2,3,4): max count, then max gram length at
    # that count (two-step, identical to the oracle's restatement)
    topf = (
        cnt.filter((F.col("n") <= 4) & (F.col("c") >= 2))
        .groupBy("doc_id", "n")
        .agg(F.max("c").alias("mc"))
    )
    topg = (
        cnt.join(topf, ["doc_id", "n"])
        .filter(F.col("c") == F.col("mc"))
        .groupBy("doc_id", "n", "mc")
        .agg(F.max(F.length("g")).alias("gl"))
    )
    topw = topg.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("n") == n, F.col("mc") * F.col("gl"))).alias(
                f"top{n}"
            )
            for n in (2, 3, 4)
        ]
    )
    # dup-n-gram coverage (n=5..10): occurrences of repeated grams →
    # covered word positions (DISTINCT union) → sum of word lengths
    dupocc = occ.filter(F.col("n") >= 5).join(
        cnt.filter((F.col("n") >= 5) & (F.col("c") >= 2)).select(
            "doc_id", "n", "g"
        ),
        ["doc_id", "n", "g"],
        "left_semi",
    )
    cov = dupocc.select(
        "doc_id",
        "n",
        F.explode(F.sequence(F.col("i"), F.col("i") + F.col("n") - 1)).alias("j"),
    ).distinct()
    wl = w.select(
        "doc_id", F.posexplode("words").alias("p", "word")
    ).select("doc_id", (F.col("p") + 1).alias("j"), F.length("word").alias("wlen"))
    covc = cov.join(wl, ["doc_id", "j"]).groupBy("doc_id", "n").agg(
        F.sum("wlen").alias("cc")
    )
    covw = covc.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("n") == n, F.col("cc"))).alias(f"c{n}")
            for n in range(5, 11)
        ]
    )
    j = base.join(topw, "doc_id", "left").join(covw, "doc_id", "left")
    tl = F.col("tl")
    oks = {
        "dup_line": (F.col("dup_lines").cast("double") / F.col("n_lines"))
        <= 0.30,
        "dup_line_char": (F.col("dup_line_chars").cast("double") / tl) <= 0.20,
        "dup_para": (F.col("dup_paras").cast("double") / F.col("n_paras"))
        <= 0.30,
        "dup_para_char": (F.col("dup_para_chars").cast("double") / tl) <= 0.20,
        "top_2gram": (F.coalesce(F.col("top2"), F.lit(0)).cast("double") / tl)
        <= 0.20,
        "top_3gram": (F.coalesce(F.col("top3"), F.lit(0)).cast("double") / tl)
        <= 0.18,
        "top_4gram": (F.coalesce(F.col("top4"), F.lit(0)).cast("double") / tl)
        <= 0.16,
    }
    for n, thr in zip(range(5, 11), (0.15, 0.14, 0.13, 0.12, 0.11, 0.10)):
        oks[f"dup_{n}gram"] = (
            F.coalesce(F.col(f"c{n}"), F.lit(0)).cast("double") / tl
        ) <= thr
    fail = lambda ok: F.sum(F.when(ok, 0).otherwise(1)).cast("bigint")  # noqa: E731
    kept = None
    for ok in oks.values():
        kept = ok if kept is None else (kept & ok)
    return (
        j.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            *[fail(ok).alias(f"n_fail_{k}") for k, ok in oks.items()],
            F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("n_kept"),
        )
        .orderBy("lang")
    )


@register(
    "quality_gopher_repetition",
    """
    WITH w AS (
      SELECT doc_id, lang, text,
             string_split(text, ' ') AS words,
             string_split(text, chr(10)) AS lines,
             regexp_split_to_array(text, chr(10) || '{2,}') AS paras,
             greatest(length(text), 1) AS tl
      FROM documents
    ), base AS (
      SELECT doc_id, lang, tl,
             len(lines) AS n_lines,
             len(lines) - len(list_distinct(lines)) AS dup_lines,
             coalesce(list_sum(list_transform(
               list_transform(list_distinct(lines), d ->
                 {'c': len(list_filter(lines, x -> x = d)), 'l': length(d)}),
               s -> CASE WHEN s.c >= 2 THEN (s.c - 1) * s.l ELSE 0 END)), 0)
               AS dup_line_chars,
             len(paras) AS n_paras,
             len(paras) - len(list_distinct(paras)) AS dup_paras,
             coalesce(list_sum(list_transform(
               list_transform(list_distinct(paras), d ->
                 {'c': len(list_filter(paras, x -> x = d)), 'l': length(d)}),
               s -> CASE WHEN s.c >= 2 THEN (s.c - 1) * s.l ELSE 0 END)), 0)
               AS dup_para_chars
      FROM w
    ), occ AS (
      SELECT doc_id, (u).n AS n, (u).i AS i, (u).g AS g
      FROM (
        SELECT doc_id,
               unnest(flatten(list_transform([2,3,4,5,6,7,8,9,10], n ->
                 list_transform(range(1, len(words) - n + 2), i ->
                   {'n': n, 'i': i,
                    'g': array_to_string(words[i:i+n-1], ' ')})))) AS u
        FROM w
      )
    ), cnt AS (
      SELECT doc_id, n, g, count(*) AS c
      FROM occ GROUP BY doc_id, n, g
    ), topf AS (
      SELECT doc_id, n, max(c) AS mc
      FROM cnt WHERE n <= 4 AND c >= 2 GROUP BY doc_id, n
    ), topg AS (
      SELECT cnt.doc_id, cnt.n, topf.mc, max(length(cnt.g)) AS gl
      FROM cnt JOIN topf
        ON cnt.doc_id = topf.doc_id AND cnt.n = topf.n AND cnt.c = topf.mc
      GROUP BY cnt.doc_id, cnt.n, topf.mc
    ), topw AS (
      SELECT doc_id,
             max(CASE WHEN n = 2 THEN mc * gl END) AS top2,
             max(CASE WHEN n = 3 THEN mc * gl END) AS top3,
             max(CASE WHEN n = 4 THEN mc * gl END) AS top4
      FROM topg GROUP BY doc_id
    ), dupocc AS (
      SELECT occ.doc_id, occ.n, occ.i
      FROM occ JOIN cnt
        ON occ.doc_id = cnt.doc_id AND occ.n = cnt.n AND occ.g = cnt.g
      WHERE occ.n >= 5 AND cnt.c >= 2
    ), cov AS (
      SELECT DISTINCT doc_id, n, unnest(range(i, i + n)) AS j
      FROM dupocc
    ), wl AS (
      SELECT doc_id, (u).i AS j, (u).l AS wlen
      FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(words) + 1), i ->
                 {'i': i, 'l': length(words[i])})) AS u
        FROM w
      )
    ), covc AS (
      SELECT cov.doc_id, cov.n, sum(wl.wlen) AS cc
      FROM cov JOIN wl ON cov.doc_id = wl.doc_id AND cov.j = wl.j
      GROUP BY cov.doc_id, cov.n
    ), covw AS (
      SELECT doc_id,
             max(CASE WHEN n = 5 THEN cc END) AS c5,
             max(CASE WHEN n = 6 THEN cc END) AS c6,
             max(CASE WHEN n = 7 THEN cc END) AS c7,
             max(CASE WHEN n = 8 THEN cc END) AS c8,
             max(CASE WHEN n = 9 THEN cc END) AS c9,
             max(CASE WHEN n = 10 THEN cc END) AS c10
      FROM covc GROUP BY doc_id
    ), verdicts AS (
      SELECT b.lang,
             CAST(b.dup_lines AS DOUBLE) / b.n_lines <= 0.30 AS ok_dl,
             CAST(b.dup_line_chars AS DOUBLE) / b.tl <= 0.20 AS ok_dlc,
             CAST(b.dup_paras AS DOUBLE) / b.n_paras <= 0.30 AS ok_dp,
             CAST(b.dup_para_chars AS DOUBLE) / b.tl <= 0.20 AS ok_dpc,
             CAST(coalesce(t.top2, 0) AS DOUBLE) / b.tl <= 0.20 AS ok_t2,
             CAST(coalesce(t.top3, 0) AS DOUBLE) / b.tl <= 0.18 AS ok_t3,
             CAST(coalesce(t.top4, 0) AS DOUBLE) / b.tl <= 0.16 AS ok_t4,
             CAST(coalesce(c.c5, 0) AS DOUBLE) / b.tl <= 0.15 AS ok_d5,
             CAST(coalesce(c.c6, 0) AS DOUBLE) / b.tl <= 0.14 AS ok_d6,
             CAST(coalesce(c.c7, 0) AS DOUBLE) / b.tl <= 0.13 AS ok_d7,
             CAST(coalesce(c.c8, 0) AS DOUBLE) / b.tl <= 0.12 AS ok_d8,
             CAST(coalesce(c.c9, 0) AS DOUBLE) / b.tl <= 0.11 AS ok_d9,
             CAST(coalesce(c.c10, 0) AS DOUBLE) / b.tl <= 0.10 AS ok_d10
      FROM base b
      LEFT JOIN topw t USING (doc_id)
      LEFT JOIN covw c USING (doc_id)
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN ok_dl THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_dup_line,
           CAST(sum(CASE WHEN ok_dlc THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_dup_line_char,
           CAST(sum(CASE WHEN ok_dp THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_dup_para,
           CAST(sum(CASE WHEN ok_dpc THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_dup_para_char,
           CAST(sum(CASE WHEN ok_t2 THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_top_2gram,
           CAST(sum(CASE WHEN ok_t3 THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_top_3gram,
           CAST(sum(CASE WHEN ok_t4 THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_top_4gram,
           CAST(sum(CASE WHEN ok_d5 THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_dup_5gram,
           CAST(sum(CASE WHEN ok_d6 THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_dup_6gram,
           CAST(sum(CASE WHEN ok_d7 THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_dup_7gram,
           CAST(sum(CASE WHEN ok_d8 THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_dup_8gram,
           CAST(sum(CASE WHEN ok_d9 THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_dup_9gram,
           CAST(sum(CASE WHEN ok_d10 THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_dup_10gram,
           CAST(sum(CASE WHEN ok_dl AND ok_dlc AND ok_dp AND ok_dpc
                         AND ok_t2 AND ok_t3 AND ok_t4 AND ok_d5 AND ok_d6
                         AND ok_d7 AND ok_d8 AND ok_d9 AND ok_d10
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM verdicts
    GROUP BY lang
    ORDER BY lang
    """,
    doc="Gopher SA1.1 REPETITION battery at published thresholds: dup line/paragraph fractions (count+char), top-2/3/4-gram and dup-5..10-gram char fractions, per lang",
)
def quality_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gopher_repetition_report(load_table(spark, sf_dir, "documents"))
