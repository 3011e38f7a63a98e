"""Training-data pipeline operators over `documents`.

The ops a 100 TB pretraining corpus actually goes through between
"deduped" and "fed to the trainer" — each one a deterministic,
engine-portable DataFrame plan with a DuckDB oracle:

 - ``split_train_test`` — hash-salted split assignment. NEVER
   ``rand()``: the split must be reproducible across runs, engines,
   and retries, so the split key is a keyed hash of the stable doc id.
 - ``sample_per_label_cap`` — class-balanced downsampling: at most N
   docs per language, chosen by hash order (unbiased w.r.t. any data
   attribute), via one partitioned window.
 - ``pack_token_shards`` — token-budget shard assignment: running
   token cumsum → shard index. The window partitions by ``lang`` so
   the prefix sum parallelizes per key; a single global ordering
   would serialize onto one task at corpus scale (the same
   hierarchical-prefix-sum caveat PLANS.md notes for global sorts).
 - ``decontaminate_ngram_overlap`` — benchmark decontamination: flag
   training docs sharing any word 5-gram with the held-out set. The
   overlap test is a shingle equi-join (hash join on the 5-gram), the
   same sub-quadratic shape as the LSH verification stages.

Portability notes: the split hash is the md5-top-64 trick shared with
``dedup_simhash`` (both engines evaluate it bit-identically); all
sampling orders are md5-derived, not ``rand()``-derived.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sf_etl_spark.queries import register
from sf_etl_spark.sources import ensure_parallelism, load_table

# unsigned md5-top-64 (both engines agree bit-for-bit; see
# queries/llm.py _md5_hash64 for the signed variant + derivation)
_SPLIT_SALT = "split:v1:"


def _md5_u64(col) -> F.Column:
    return F.conv(F.substring(F.md5(col), 1, 16), 16, 10).cast("decimal(20,0)")


def _sql_md5_u64(expr: str) -> str:
    return f"CAST(('0x' || substring(md5({expr}),1,16)) AS UBIGINT)"


TRAIN_PCT = 90  # train share of the 100-bucket hash space


@register(
    "split_train_test",
    f"""
    SELECT doc_id, lang,
           CASE WHEN {_sql_md5_u64(f"'{_SPLIT_SALT}' || CAST(doc_id AS VARCHAR)")} % 100
                     < {TRAIN_PCT}
                THEN 'train' ELSE 'test' END AS split
    FROM documents
    ORDER BY doc_id
    """,
    doc=f"deterministic {TRAIN_PCT}/{100 - TRAIN_PCT} train/test split by salted doc-id hash",
)
def split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(
        _md5_u64(F.concat(F.lit(_SPLIT_SALT), F.col("doc_id").cast("string"))),
        F.lit(100),
    )
    split = F.when(bucket < TRAIN_PCT, F.lit("train")).otherwise(F.lit("test"))
    return d.select("doc_id", "lang", split.alias("split")).orderBy("doc_id")


LABEL_CAP = 40


@register(
    "sample_per_label_cap",
    f"""
    WITH ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rk
      FROM documents
    )
    SELECT doc_id, lang, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= {LABEL_CAP}
    ORDER BY lang, rk
    """,
    doc=f"class-balanced downsample: ≤{LABEL_CAP} docs per language by hash order",
)
def sample_per_label_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Hash-threshold prefilter (r7 verdict's unbounded-window class,
    # fixed r8): the rank order IS a salted md5, so the global top-K
    # of each language sits under the u32-prefix threshold
    # T = 2^32·OVERSAMPLE·K/n_lang with certainty 1−exp(−Θ(K)); the
    # per-language count + assert_true makes the bound LOUD, not
    # assumed. Survivors are a downward-closed prefix of the md5
    # order, so ranks over survivors equal global ranks — the rank
    # window sees ~OVERSAMPLE·K rows per language instead of the
    # whole corpus. Same machinery as stratified_sample_exact.
    d = load_table(spark, sf_dir, "documents")
    stats = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    alloc = stats.select(
        "lang",
        "n",
        F.expr(
            f"least({(1 << 32) - 1}, "
            f"({(1 << 32) * _STRAT_OVERSAMPLE * LABEL_CAP}) div n + 1)"
        ).alias("thr"),
    )
    md5c = F.md5(F.concat(F.lit("cap:"), F.col("doc_id").cast("string")))
    u32 = F.conv(F.substring(md5c, 1, 8), 16, 10).cast("bigint")
    surv = (
        d.select("doc_id", "lang")
        .join(F.broadcast(alloc), "lang")
        .filter(u32 <= F.col("thr"))
    )
    surv_cnt = surv.groupBy("lang").agg(F.count(F.lit(1)).alias("_ns"))
    check = alloc.join(surv_cnt, "lang", "left").select(
        "lang",
        F.assert_true(
            F.coalesce(F.col("_ns"), F.lit(0))
            >= F.least(F.col("n"), F.lit(LABEL_CAP)),
            F.concat(
                F.lit(
                    "sample_per_label_cap: hash-threshold prefilter "
                    f"(OVERSAMPLE={_STRAT_OVERSAMPLE}) undershot the cap "
                    "for language "
                ),
                F.col("lang"),
            ),
        ).alias("_g"),
    )
    guarded = surv.join(F.broadcast(check), "lang").filter(F.col("_g").isNull())
    w = Window.partitionBy("lang").orderBy(md5c, F.col("doc_id"))
    return (
        guarded.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= LABEL_CAP)
        .select("doc_id", "lang", "rk")
        .orderBy("lang", "rk")
    )


SHARD_TOKEN_BUDGET = 5_000


@register(
    "pack_token_shards",
    f"""
    WITH toks AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS BIGINT)
               AS n_tokens
      FROM documents
    ), packed AS (
      SELECT doc_id, lang, n_tokens,
             sum(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS before_tokens
      FROM toks
    )
    SELECT doc_id, lang, n_tokens,
           CAST(COALESCE(before_tokens, 0) // {SHARD_TOKEN_BUDGET} AS INT) AS shard
    FROM packed
    ORDER BY lang, doc_id
    """,
    doc=f"token-budget shard packing: per-lang running cumsum // {SHARD_TOKEN_BUDGET}",
)
def pack_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two-level distributed prefix sum (r7 verdict's unbounded-window
    # class, fixed r8): a single per-lang running sum serializes the
    # whole corpus into |langs| sort tasks. Instead: (1) an inner
    # exclusive cumsum within (lang, chunk) — chunk = doc_id div 4096
    # is monotone in doc_id, so (chunk, doc_id) ordering == doc_id
    # ordering and the decomposition is EXACT; (2) chunk offsets from
    # an exclusive cumsum over the per-chunk TOTALS, a frame already
    # reduced 4096× by the partial aggregate (recurse the same split
    # on the chunk level for another 4096× if it ever needs it). The
    # classic parallel scan (Blelloch), as two windows + one join.
    _CHUNK = 4096
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.filter(F.split("text", " "), lambda x: F.length(x) > 0)).cast(
        "bigint"
    )
    toks = d.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        F.expr(f"doc_id div {_CHUNK}").alias("_chunk"),
    )
    w_inner = (
        Window.partitionBy("lang", "_chunk")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    inner_before = F.coalesce(F.sum("n_tokens").over(w_inner), F.lit(0))
    chunk_tot = toks.groupBy("lang", "_chunk").agg(
        F.sum("n_tokens").alias("_ct")
    )
    w_chunks = (
        Window.partitionBy("lang")
        .orderBy("_chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = chunk_tot.select(
        "lang",
        "_chunk",
        F.coalesce(F.sum("_ct").over(w_chunks), F.lit(0)).alias("_off"),
    )
    before = F.col("_ib") + F.col("_off")
    return (
        toks.withColumn("_ib", inner_before)
        .join(offsets, ["lang", "_chunk"])
        .withColumn("shard", F.floor(before / SHARD_TOKEN_BUDGET).cast("int"))
        .select("doc_id", "lang", "n_tokens", "shard")
        .orderBy("lang", "doc_id")
    )


@register(
    "clean_text_normalize",
    r"""
    WITH c AS (
      SELECT doc_id, length(text) AS n_chars_raw,
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS clean
      FROM documents
    )
    SELECT doc_id,
           CAST(n_chars_raw AS INT) AS n_chars_raw,
           CAST(length(clean) AS INT) AS n_chars_clean,
           md5(clean) AS clean_md5
    FROM c
    ORDER BY doc_id
    """,
    doc="text normalization (lower, whitespace collapse, trim); md5 proves byte parity",
)
def clean_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first stage of every pretraining cleaning pipeline. The
    md5 of the normalized string is part of the output, so the oracle
    hash-checks the EXACT cleaned bytes across engines — regexes here
    are restricted to classes Java regex and RE2 interpret
    identically (``\\s``, no lookaround, no unicode property escapes).
    Narrow per-row transform, no shuffle.
    """
    clean = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            F.length("text").cast("int").alias("n_chars_raw"),
            F.length(clean).cast("int").alias("n_chars_clean"),
            F.md5(clean).alias("clean_md5"),
        )
        .orderBy("doc_id")
    )


@register(
    "repetition_metrics",
    """
    WITH words AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS w
      FROM documents
    ), wc AS (
      SELECT doc_id, w, count(*) AS c FROM words GROUP BY doc_id, w
    ), wagg AS (
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_words,
             CAST(count(*) AS DOUBLE) / sum(c) AS distinct_frac,
             CAST(max(c) AS DOUBLE) / sum(c) AS top_word_frac
      FROM wc GROUP BY doc_id
    ), toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 0) AS t
      FROM documents
    ), bg AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
                                           i -> t[i] || ' ' || t[i+1])) AS b
      FROM toks WHERE len(t) >= 2
    ), bc AS (
      SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b
    ), bagg AS (
      SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS top_bigram_frac
      FROM bc GROUP BY doc_id
    )
    SELECT w.doc_id, w.n_words, w.distinct_frac, w.top_word_frac, b.top_bigram_frac
    FROM wagg w LEFT JOIN bagg b ON w.doc_id = b.doc_id
    ORDER BY w.doc_id
    """,
    doc="Gopher-style repetition quality: distinct-word, top-word, top-bigram fractions",
)
def repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filtering (the Gopher/MassiveText
    recipe): heavily repetitive documents are low-quality training
    data. All fractions come from two map-side-combined count
    aggregations (words, bigrams) — the explode never crosses a
    shuffle unaggregated.
    """
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        F.explode(F.filter(F.split("text", " "), lambda x: F.length(x) > 0)).alias("w"),
    )
    wc = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    wagg = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        (F.count(F.lit(1)).cast("double") / F.sum("c")).alias("distinct_frac"),
        (F.max("c").cast("double") / F.sum("c")).alias("top_word_frac"),
    )
    toks = F.col("_toks")
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
    )
    bg = (
        d.withColumn("_toks", F.filter(F.split("text", " "), lambda x: F.length(x) > 0))
        .filter(F.size("_toks") >= 2)
        .select("doc_id", F.explode(bigrams).alias("b"))
    )
    bc = bg.groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("c"))
    bagg = bc.groupBy("doc_id").agg(
        (F.max("c").cast("double") / F.sum("c")).alias("top_bigram_frac")
    )
    return (
        wagg.join(bagg, "doc_id", "left")
        .select("doc_id", "n_words", "distinct_frac", "top_word_frac", "top_bigram_frac")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# The capstone: one composed corpus-preparation pipeline — normalize →
# quality-gate → exact-dedup on normalized bytes → split → per-split
# rollup — exactly the chain the individual ops above run in
# production, registered as a single plan so the gate verifies the
# COMPOSITION (operator interactions, not just operators).
# Scale shape: narrow transforms → one dedup aggregation keyed on the
# content hash → one rollup aggregation. Two shuffles total.
# ---------------------------------------------------------------------------
_MIN_WORDS = 30
_MAX_TOP_WORD_FRAC = 0.25


@register(
    "corpus_prep_pipeline",
    rf"""
    WITH c AS (
      SELECT doc_id, lang,
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS clean
      FROM documents
    ), toks AS (
      SELECT doc_id, lang, clean,
             list_filter(string_split(clean, ' '), x -> length(x) > 0) AS t
      FROM c
    ), wc AS (
      SELECT doc_id, unnest(t) AS w FROM toks
    ), wstats AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
             CAST(max(c) AS DOUBLE) / sum(c) AS top_word_frac
      FROM (SELECT doc_id, w, count(*) AS c FROM wc GROUP BY doc_id, w)
      GROUP BY doc_id
    ), gated AS (
      SELECT toks.doc_id, lang, clean, n_words
      FROM toks JOIN wstats ON toks.doc_id = wstats.doc_id
      WHERE n_words >= {_MIN_WORDS} AND top_word_frac <= {_MAX_TOP_WORD_FRAC}
    ), deduped AS (
      SELECT md5(clean) AS clean_md5, min(doc_id) AS keep_doc_id,
             min(lang) AS lang, min(n_words) AS n_words,
             CAST(count(*) AS BIGINT) AS n_copies
      FROM gated GROUP BY md5(clean)
    ), split AS (
      SELECT *,
             CASE WHEN {_sql_md5_u64(f"'{_SPLIT_SALT}' || CAST(keep_doc_id AS VARCHAR)")}
                       % 100 < {TRAIN_PCT}
                  THEN 'train' ELSE 'test' END AS split
      FROM deduped
    )
    SELECT split, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS n_words,
           CAST(sum(n_copies) AS BIGINT) AS n_source_docs
    FROM split
    GROUP BY split, lang
    ORDER BY split, lang
    """,
    doc="composed corpus prep: normalize → quality gate → exact dedup → split → rollup",
)
def corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    clean = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    toks = d.select(
        "doc_id",
        "lang",
        clean.alias("clean"),
        F.filter(F.split(clean, " "), lambda x: F.length(x) > 0).alias("t"),
    )
    wc = toks.select("doc_id", F.explode("t").alias("w"))
    wstats = (
        wc.groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_words"),
            (F.max("c").cast("double") / F.sum("c")).alias("top_word_frac"),
        )
    )
    gated = (
        toks.join(wstats, "doc_id")
        .filter(
            (F.col("n_words") >= _MIN_WORDS)
            & (F.col("top_word_frac") <= _MAX_TOP_WORD_FRAC)
        )
        .select("doc_id", "lang", "clean", "n_words")
    )
    deduped = gated.groupBy(F.md5("clean").alias("clean_md5")).agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.min("lang").alias("lang"),
        F.min("n_words").alias("n_words"),
        F.count(F.lit(1)).alias("n_copies"),
    )
    bucket = F.pmod(
        _md5_u64(F.concat(F.lit(_SPLIT_SALT), F.col("keep_doc_id").cast("string"))),
        F.lit(100),
    )
    split = F.when(bucket < TRAIN_PCT, F.lit("train")).otherwise(F.lit("test"))
    return (
        deduped.withColumn("split", split)
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("n_words"),
            F.sum("n_copies").alias("n_source_docs"),
        )
        .orderBy("split", "lang")
    )


#: every 20th doc plays the held-out benchmark; the rest is the
#: training pool to be decontaminated against it
_BENCH_MOD = 20
_DECON_N = 5  # word n-gram width


@register(
    "decontaminate_ngram_overlap",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]
               AS gram
      FROM toks
      CROSS JOIN (SELECT unnest(generate_series(1, 100000)) AS i) ii
      WHERE i <= len(t) - {_DECON_N - 1}
    ), bench AS (
      SELECT doc_id, gram FROM sh WHERE doc_id % {_BENCH_MOD} = 0
    ), train AS (
      SELECT doc_id, gram FROM sh WHERE doc_id % {_BENCH_MOD} <> 0
    ), hits AS (
      SELECT t.doc_id,
             CAST(count(DISTINCT t.gram) AS BIGINT) AS n_shared_grams,
             CAST(count(DISTINCT b.doc_id) AS BIGINT) AS n_bench_docs
      FROM train t JOIN bench b ON t.gram = b.gram
      GROUP BY t.doc_id
    )
    SELECT doc_id, n_shared_grams, n_bench_docs
    FROM hits
    ORDER BY doc_id
    """,
    doc=f"decontamination: training docs sharing a word {_DECON_N}-gram with the benchmark slice",
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # token array materialized pre-lambda (HOF bodies re-evaluate per
    # element — see queries/llm.py minhash_signatures note)
    toks = F.col("_toks")
    n = F.size(toks)
    # guard: sequence(start, stop) defaults to step -1 when start > stop,
    # so an unguarded sequence(1, n-4) on a doc with < 5 tokens yields
    # [1, 0] and element_at(toks, 0) throws. Docs too short to contain a
    # single n-gram contribute an empty gram array instead (mirrors the
    # oracle's WHERE i <= len(t) - 4).
    idxs = F.when(
        n >= _DECON_N, F.sequence(F.lit(1), n - (_DECON_N - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.array_distinct(
        F.transform(
            idxs,
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + k) for k in range(_DECON_N)]
            ),
        )
    )
    sh = (
        d.withColumn("_toks", F.split("text", " "))
        .select("doc_id", F.explode(grams).alias("gram"))
    )
    bench = sh.filter(F.col("doc_id") % _BENCH_MOD == 0).select(
        F.col("doc_id").alias("bench_id"), "gram"
    )
    train = sh.filter(F.col("doc_id") % _BENCH_MOD != 0)
    return (
        train.join(bench, "gram")
        .groupBy("doc_id")
        .agg(
            F.count_distinct("gram").alias("n_shared_grams"),
            F.count_distinct("bench_id").alias("n_bench_docs"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Exact-substring dedup (the "dedup via long common substring" stage
# of corpus prep, cf. suffix-array dedup in the literature): two docs
# are flagged when they share ANY identical 50-char run. Stride-1
# windows make this exact — a common run of >= 50 chars contains an
# aligned 50-char window in both docs, so recall is 1.0 by
# construction.
# Scale: window fan-out is length-49 rows/doc, hashed IMMEDIATELY to
# an 8-byte xxhash64 (text dropped) — the fan-out rides the distinct
# exchange as (doc_id, bigint) ~16 bytes/row instead of a 32-char md5
# hex string (~40 bytes/row): the distinct's map-side partial agg
# collapses repeats before the wire. The digest never leaves the
# engine (output is doc pairs + counts), so the DuckDB oracle keeps
# md5 keys and still agrees. A 64-bit collision can only add ONE
# spurious shared window to a random doc pair (~2^-64 per window
# pair); such singleton pairs sit at the bottom of the
# shared_windows ranking and below any real dedup threshold.
# Windows shared by > 10 docs are boilerplate and are excluded
# BEFORE pairing (the frequent-shingle cap that keeps the self-join
# from going quadratic on templated text); the common-hash set is
# tiny -> broadcast anti join. The pair join is a hash equi-join on
# the window hash.
# ---------------------------------------------------------------------------
@register(
    "dedup_exact_substring",
    """
    WITH dw AS (
      SELECT DISTINCT doc_id, md5(substring(text, CAST(i AS INTEGER), 50)) AS h
      FROM documents, UNNEST(range(1, CAST(length(text) AS BIGINT) - 48)) AS t(i)
      WHERE length(text) >= 50
    ),
    rare AS (SELECT h FROM dw GROUP BY h HAVING count(*) <= 10),
    rw AS (SELECT dw.doc_id, dw.h FROM dw JOIN rare USING (h))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_windows
    FROM rw a JOIN rw b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY doc_a, doc_b
    ORDER BY shared_windows DESC, doc_a, doc_b
    LIMIT 20
    """,
    doc="exact 50-char-window dedup pairs; stride-1 => recall 1.0 for >=50-char runs",
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hash-heavy fan-out (length-49 md5s per doc): spread the
    # single-file fixture scan before it (no-op on real clusters)
    d = ensure_parallelism(
        load_table(spark, sf_dir, "documents").filter(F.length("text") >= 50), key="doc_id"
    )
    w = (
        d.select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.length("text") - 49)).alias("i"),
            "text",
        )
        .select("doc_id", F.xxhash64(F.expr("substring(text, i, 50)")).alias("h"))
        .distinct()
    )
    # the >10-occurrence stop-shingle set grows with the corpus —
    # unbounded, so no broadcast hint (r7 quarantine guard class); the
    # anti-join rides the h-partitioning the count itself produces and
    # AQE broadcasts when the runtime size is small
    common = w.groupBy("h").count().filter(F.col("count") > 10).select("h")
    rw = w.join(common, "h", "left_anti")
    a = rw.select(F.col("doc_id").alias("doc_a"), "h")
    b = rw.select(F.col("doc_id").alias("doc_b"), "h")
    return (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared_windows"))
        .orderBy(F.col("shared_windows").desc(), "doc_a", "doc_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Domain-mix rebalancing: downsample each source so the kept corpus
# approaches a target mixture (weight 3 for src0-2, 1 otherwise --
# the "upweight curated domains" move of corpus recipes). Rates are
# scaled so the largest stays at 1.0 (downsample-only); membership is
# the salted doc-id hash against an integer permyriad threshold --
# deterministic under retries and engine-portable, never rand().
# Scale: per-source counts are one tiny agg broadcast back; the
# filter is a stateless map over the corpus.
# ---------------------------------------------------------------------------
@register(
    "domain_mix_rebalance",
    f"""
    WITH cnt AS (
      SELECT source, count(*) AS n_before,
             CASE WHEN source IN ('src0','src1','src2') THEN 3.0 ELSE 1.0 END
               / count(*) AS ratio
      FROM documents GROUP BY source
    ),
    rates AS (
      SELECT source, n_before,
             CAST(floor(ratio / (SELECT max(ratio) FROM cnt) * 10000) AS BIGINT) AS thr
      FROM cnt
    )
    SELECT r.source, r.n_before, count(d.doc_id) AS n_after
    FROM rates r LEFT JOIN documents d
      ON d.source = r.source
     AND {_sql_md5_u64("'mix:' || CAST(doc_id AS VARCHAR)")} % 10000 < r.thr
    GROUP BY r.source, r.n_before
    ORDER BY r.source
    """,
    doc="target-mixture downsampling by salted-hash permyriad threshold",
)
def domain_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    weight = F.when(F.col("source").isin("src0", "src1", "src2"), F.lit(3.0)).otherwise(F.lit(1.0))
    cnt = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_before")).withColumn(
        "ratio", weight / F.col("n_before")
    )
    maxr = cnt.agg(F.max("ratio").alias("__maxr"))
    rates = cnt.crossJoin(F.broadcast(maxr)).select(
        "source",
        "n_before",
        F.floor(F.col("ratio") / F.col("__maxr") * 10000).cast("bigint").alias("thr"),
    )
    kept = (
        d.withColumn("__h", _md5_u64(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))) % 10000)
        .join(F.broadcast(rates.select(F.col("source").alias("r_source"), "thr")),
              F.col("source") == F.col("r_source"))
        .filter(F.col("__h") < F.col("thr"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_after"))
    )
    return (
        rates.join(kept, "source", "left")
        .select("source", "n_before", F.coalesce("n_after", F.lit(0)).alias("n_after"))
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Corpus vocabulary: top terms by frequency (the vocab-building /
# tokenizer-training scan). Scale: split+explode is a narrow map;
# the term count partial-aggregates map-side, and the top-50 is
# TakeOrdered — no global sort of the vocabulary.
# ---------------------------------------------------------------------------
@register(
    "vocab_top_terms",
    r"""
    SELECT term, count(*) AS n
    FROM (SELECT unnest(string_split_regex(lower(text), '\s+')) AS term
          FROM documents)
    WHERE term <> ''
    GROUP BY term
    ORDER BY n DESC, term
    LIMIT 50
    """,
    doc="top-50 corpus vocabulary terms (whitespace tokenization)",
)
def vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "term")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Duplicate-cluster formation: pairs -> transitive components ->
# canonical doc per cluster. The stage between pair-finding and
# "drop the duplicates": two docs sharing no window can still be
# duplicates of a common third, so the keep/drop decision needs the
# closure, not the pair list. Spark side is min-label propagation
# (operators/graph.py); the oracle computes the same closure with a
# recursive CTE, proving the iterative DataFrame loop reaches the
# exact fixpoint.
# ---------------------------------------------------------------------------
_CLUSTER_SQL = """
    WITH RECURSIVE dw AS (
      SELECT DISTINCT doc_id, md5(substring(text, CAST(i AS INTEGER), 50)) AS h
      FROM documents, UNNEST(range(1, CAST(length(text) AS BIGINT) - 48)) AS t(i)
      WHERE length(text) >= 50
    ),
    rare AS (SELECT h FROM dw GROUP BY h HAVING count(*) <= 10),
    rw AS (SELECT dw.doc_id, dw.h FROM dw JOIN rare USING (h)),
    e AS (SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
          FROM rw a JOIN rw b ON a.h = b.h AND a.doc_id < b.doc_id),
    sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
    reach AS (
      SELECT doc_id AS a, doc_id AS b FROM documents
      UNION
      SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
    ),
    comp AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a)
    SELECT doc_id, cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
           doc_id = cluster_id AS is_canonical
    FROM comp
    ORDER BY doc_id
    """


@register(
    "dedup_cluster_components",
    _CLUSTER_SQL,
    doc="near-dup pairs -> connected components -> canonical doc per cluster",
    executes_on_construct=True,
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sf_etl_spark.operators.graph import connected_components

    return _cluster_report(spark, sf_dir, connected_components)


@register(
    "dedup_cluster_bigstar",
    _CLUSTER_SQL,
    doc="same duplicate clusters via alternating large-star/small-star (O(log n) rounds)",
    executes_on_construct=True,
)
def dedup_cluster_bigstar(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sf_etl_spark.operators.graph import star_components

    return _cluster_report(spark, sf_dir, star_components)


def _cluster_report(spark: SparkSession, sf_dir: str, cc_fn) -> DataFrame:
    """Shared pairs→components→canonical pipeline, parameterized on
    the connected-components implementation (min-label propagation or
    the O(log n) star algorithm — both reach the same fixpoint, which
    the single recursive-CTE oracle certifies for each)."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    dd = ensure_parallelism(d.filter(F.length("text") >= 50), key="doc_id")
    w = (
        dd.select("doc_id", F.explode(F.sequence(F.lit(1), F.length("text") - 49)).alias("i"), "text")
        .select("doc_id", F.xxhash64(F.expr("substring(text, i, 50)")).alias("h"))
        .distinct()
    )
    # the >10-occurrence stop-shingle set grows with the corpus —
    # unbounded, so no broadcast hint (r7 quarantine guard class); the
    # anti-join rides the h-partitioning the count itself produces and
    # AQE broadcasts when the runtime size is small
    common = w.groupBy("h").count().filter(F.col("count") > 10).select("h")
    rw = w.join(common, "h", "left_anti")
    # Pair generation WITHOUT the self-join (r16 optimization, guide
    # §2.3/§2.4): group the surviving doc ids per shingle — every group
    # is ≤10 docs by the rare filter above, so collect_list is bounded
    # and skew-free — and expand the ≤C(10,2)=45 ordered pairs per
    # group map-side from the sorted array. This replaces the h-keyed
    # self-join (which shuffled rw twice and pushed the pair fan-out
    # through join machinery) with ONE groupBy on h. The per-edge
    # distinct is dropped too: both components operators distinct the
    # (symmetrized) edge set as their first step, so deduping here was
    # a redundant extra exchange. Edge SET is provably identical
    # (same rare groups, same in-group pairs; sort_array makes
    # src < dst). Interleaved A/B: 26.1 -> 18.2 s at the sf1 probe,
    # 4.88 -> 4.47 s at sf0.1 (best-of-N, noop sink).
    grps = (
        rw.groupBy("h")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    pair_expr = F.expr(
        "flatten(transform(ds, (x, i) -> "
        "transform(slice(ds, i + 2, size(ds) - i - 1), y -> struct(x AS src, y AS dst))))"
    )
    edges = grps.select(F.explode(pair_expr).alias("p")).select("p.src", "p.dst")
    comp = cc_fn(d.select(F.col("doc_id").alias("vertex")), edges)
    return comp.select(
        F.col("vertex").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        F.count(F.lit(1)).over(W.partitionBy("component")).cast("bigint").alias("cluster_size"),
        (F.col("vertex") == F.col("component")).alias("is_canonical"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# PII redaction, chunking, quality-percentile filtering (round 4)
# ---------------------------------------------------------------------------

# PII patterns restricted to syntax Java regex and RE2 interpret
# identically (\b, \d, bounded repetition; no lookaround) so the md5
# of the redacted bytes hash-matches across engines.
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PHONE_RE = r"\b\d{3}-\d{4}\b"


@register(
    "redact_pii",
    f"""
    WITH seeded AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
                  THEN 'contact user' || CAST(doc_id AS VARCHAR) || '@example.com tel 555-'
                       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.'
                       || CAST((doc_id // 7) % 256 AS VARCHAR) || ' ' || text
                  ELSE text END AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS INT) AS n_email,
           CAST(len(regexp_extract_all(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                                       '{_IP_RE}')) AS INT) AS n_ip,
           md5(regexp_replace(
                 regexp_replace(
                   regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                   '{_IP_RE}', '<IP>', 'g'),
                 '{_PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
    FROM seeded
    ORDER BY doc_id
    """,
    doc="PII redaction (email/IP/phone) with deterministic seeded PII; md5 proves byte parity",
)
def redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing, the compliance gate of every training-data
    pipeline. The fixture corpus is synthetic word salad with no PII,
    so the query SEEDS deterministic PII (email + IPv4 + phone) into
    every third document in-engine — both engines run the same seeding
    SQL, so the oracle still proves the redaction itself byte-for-byte
    (md5 of the redacted text). Counts are extracted pre-replacement
    per class; IP counting runs after the email pass so 'user7@10.0.…'
    style overlaps resolve identically in both engines.

    Scale: a narrow per-row map — no shuffle, no UDF, whole-stage
    codegen end to end; at 100 TB this is scan-bound, exactly what a
    redaction pass should be.
    """
    d = load_table(spark, sf_dir, "documents")
    seeded = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.lit("contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com tel 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" ip 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit("."),
            (F.floor(F.col("doc_id") / 7) % 256).cast("string"),
            F.lit(" "),
            F.col("text"),
        ),
    ).otherwise(F.col("text"))
    txt = seeded
    after_email = F.regexp_replace(txt, _EMAIL_RE, "<EMAIL>")
    redacted = F.regexp_replace(
        F.regexp_replace(after_email, _IP_RE, "<IP>"), _PHONE_RE, "<PHONE>"
    )
    return (
        d.select(
            "doc_id",
            F.size(F.regexp_extract_all(txt, F.lit(_EMAIL_RE), F.lit(0)))
            .cast("int")
            .alias("n_email"),
            F.size(F.regexp_extract_all(after_email, F.lit(_IP_RE), F.lit(0)))
            .cast("int")
            .alias("n_ip"),
            F.md5(redacted).alias("redacted_md5"),
        )
        .orderBy("doc_id")
    )


CHUNK_CHARS = 500
CHUNK_STRIDE = 400  # 100-char overlap between consecutive chunks


@register(
    "chunk_documents",
    f"""
    WITH fanned AS (
      SELECT doc_id, text,
             unnest(range(0, (greatest(n_chars, 1) - 1) // {CHUNK_STRIDE} + 1)) AS gs
      FROM documents
    )
    SELECT doc_id,
           CAST(gs AS INT) AS chunk_id,
           CAST(length(substr(text, gs * {CHUNK_STRIDE} + 1, {CHUNK_CHARS})) AS INT) AS n_chunk_chars,
           md5(substr(text, gs * {CHUNK_STRIDE} + 1, {CHUNK_CHARS})) AS chunk_md5
    FROM fanned
    ORDER BY doc_id, chunk_id
    """,
    doc=f"fixed-window chunking ({CHUNK_CHARS} chars, stride {CHUNK_STRIDE}); md5 per chunk",
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: every document fans out to overlapping
    fixed-size character chunks (stride < size, so consecutive chunks
    share 100 chars — the standard RAG/pretraining re-chunking shape).
    md5 per chunk proves exact byte slicing across engines.

    Scale: explode(sequence) is a narrow fan-out — rows multiply ~n/STRIDE×
    within their input partition, no shuffle. At 100 TB the knob that
    matters is `spark.sql.files.maxPartitionBytes` (post-explode rows
    inflate a partition ~2.25× here); the ORDER BY is presentation-only
    and drops out of production pipelines.
    """
    d = load_table(spark, sf_dir, "documents")
    k_max = F.floor((F.greatest(F.col("n_chars"), F.lit(1)) - 1) / CHUNK_STRIDE).cast(
        "int"
    )
    chunk = F.expr(f"substring(text, chunk_id * {CHUNK_STRIDE} + 1, {CHUNK_CHARS})")
    return (
        d.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), k_max)).alias("chunk_id"),
            "text",
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("int").alias("chunk_id"),
            F.length(chunk).cast("int").alias("n_chunk_chars"),
            F.md5(chunk).alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_id")
    )


@register(
    "quality_percentile_filter",
    """
    WITH thr AS (
      SELECT quantile_cont(n_chars, 0.25) AS cutoff FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(min(n_chars) AS BIGINT) AS min_chars_kept
    FROM documents, thr
    WHERE n_chars >= cutoff
    GROUP BY lang
    ORDER BY lang
    """,
    doc="drop the bottom quartile by exact interpolated percentile; per-lang survivor stats",
)
def quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score-percentile filtering: drop the bottom quartile of the
    corpus by a quality score (here n_chars stands in for a model
    score column). The cutoff is the EXACT linearly-interpolated
    percentile — both engines implement the standard type-7 quantile,
    so the threshold, and therefore the kept set, match bit-for-bit;
    approx_percentile would not be oracle-checkable.

    Scale: exact global percentile is a two-phase agg (partial
    per-partition sort-free accumulation, single final merge) over ONE
    numeric column — cheap even at 100 TB because only the score
    column ships. The scalar threshold then broadcasts back onto the
    scan-filter (no second shuffle). For 100 TB with tight SLAs, swap
    in approx_percentile(score, p, err) and keep the same shape.
    """
    d = load_table(spark, sf_dir, "documents")
    thr = d.agg(F.expr("percentile(n_chars, 0.25)").alias("cutoff"))
    return (
        d.join(F.broadcast(thr))
        .filter(F.col("n_chars") >= F.col("cutoff"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("n_chars").alias("min_chars_kept"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Incremental ingestion dedup: the CONTINUOUS form of exact dedup — a
# persistent fingerprint store (md5(text) -> keeper doc + occurrence
# count) maintained across ingest batches, so each new batch dedupes
# against everything ever seen WITHOUT rescanning the corpus. This is
# the shape a 100 TB pipeline actually runs: the one-shot
# `dedup_exact` is the bootstrap, this is day 2.
#
# Mechanics per batch: pre-aggregate the batch to one row per
# fingerprint (min doc_id keeps the earliest copy; count tallies the
# batch's duplicates), then fold into the manifest-merged store via
# fold_into_rollup — stored rows for ONLY the touched fingerprints are
# read back (manifest-pruned buckets), combined (keeper = min, count =
# sum), and merged with snapshot-atomic commit. Cost per batch is
# O(|batch fingerprints|), independent of store size.
#
# The oracle replays the ingestion as ONE exact aggregation: any lost
# fold, double count, or keeper drift between the two batch applies
# breaks the value hash. md5 is the cross-engine-portable fingerprint.
# ---------------------------------------------------------------------------
@register(
    "dedup_incremental_ingest",
    """
    SELECT md5(text) AS fp,
           CAST(min(doc_id) AS BIGINT) AS keeper_doc_id,
           CAST(count(*) AS BIGINT) AS n_seen
    FROM documents
    GROUP BY md5(text)
    ORDER BY keeper_doc_id
    """,
    doc="persistent fingerprint store: two ingest batches == one exact dedup agg",
    executes_on_construct=True,
)
def dedup_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from sf_etl_spark.streaming.pipelines import fold_into_rollup, read_merge_target

    d = load_table(spark, sf_dir, "documents")
    store = tempfile.mkdtemp(prefix="dedup_inc_") + "/fingerprints"
    # batch boundary mid-corpus: fingerprints spanning it exercise the
    # fold path (keeper min + count sum), not just insert
    mid = d.agg(F.expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY doc_id)")).first()[0]
    for batch in (d.filter(F.col("doc_id") <= mid), d.filter(F.col("doc_id") > mid)):
        delta = (
            batch.select(F.md5(F.encode("text", "utf-8")).alias("fp"), "doc_id")
            .groupBy("fp")
            .agg(
                F.min("doc_id").alias("keeper_doc_id"),
                F.count(F.lit(1)).alias("n_seen"),
            )
        )
        fold_into_rollup(
            delta, ["fp"], {"keeper_doc_id": "min", "n_seen": "sum"}, store
        )
    return (
        read_merge_target(spark, store)
        .select("fp", "keeper_doc_id", "n_seen")
        .orderBy("keeper_doc_id")
    )


# ---------------------------------------------------------------------------
# Feature hashing (the "hashing trick") — fixed-width categorical
# encoding with no vocabulary pass: bucket = hash(feature) % D. THE
# standard encoder for unbounded-cardinality categoricals in
# large-scale training pipelines (no dictionary to build, ship, or
# keep consistent across workers). D=32 here; collisions are part of
# the contract.
#
# Portability: the bucket hash is md5-prefix % D (bit-specified on
# both engines) — Spark's xxhash64/hash would be cheaper per row but
# is not reproducible outside Spark, and a training pipeline's
# feature mapping MUST be recomputable everywhere (serving parity).
# Scale: narrow map + one partial-agged shuffle on (user, bucket);
# the wide vector serializes via fixed-order concat (array positions,
# not float math).
# ---------------------------------------------------------------------------
_FH_D = 32


@register(
    "feature_hashing",
    f"""
    WITH feats AS (
      SELECT user_id,
             CAST(CAST(concat('0x', substring(
                    md5(concat(event_type, '#', CAST(isodow(ts) - 1 AS VARCHAR))),
                    1, 8)) AS BIGINT) % {_FH_D} AS INT) AS bucket
      FROM events
    ),
    cnt AS (
      SELECT user_id, bucket, CAST(count(*) AS BIGINT) AS n
      FROM feats GROUP BY user_id, bucket
    )
    SELECT user_id,
           string_agg(CAST(bucket AS VARCHAR) || ':' || CAST(n AS VARCHAR), ' '
                      ORDER BY bucket) AS hashed_features
    FROM cnt
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc=f"hashing-trick encoding: (event_type, weekday) -> {_FH_D} md5 buckets per user",
)
def feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    feats = e.select(
        "user_id",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("event_type"),
                            F.lit("#"),
                            F.weekday("ts").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % _FH_D
        )
        .cast("int")
        .alias("bucket"),
    )
    cnt = feats.groupBy("user_id", "bucket").agg(F.count(F.lit(1)).alias("n"))
    return (
        cnt.groupBy("user_id")
        .agg(
            F.concat_ws(
                " ",
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("bucket"),
                            F.concat_ws(
                                ":",
                                F.col("bucket").cast("string"),
                                F.col("n").cast("string"),
                            ).alias("kv"),
                        )
                    )
                ).getField("kv"),
            ).alias("hashed_features")
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Smoothed target encoding (m-estimate / CatBoost-style prior
# blending) — the third leg of the categorical-feature trio beside
# `feature_hashing` (vocabulary-free buckets) and the equi-depth
# binning lanes: enc(c) = (pos(c) + m·prior) / (n(c) + m), shrinking
# small categories toward the global rate so rare levels don't
# memorize their few labels. Here: order priority encoded against
# the "order is high-value" target (total price above the global
# mean — itself computed in-engine).
#
# Determinism: counts are exact integers; prior, the m·prior product,
# the numerator add, and the final divide are each a SINGLE IEEE op
# in a fixed order, so both engines produce bit-equal doubles with
# no rounding hop. Scale: two partial-agged passes (global stats =
# one 1-row broadcast; per-category stats = |categories| rows), then
# a narrow map — the encoding table is dimension-sized and broadcast
# back to label rows at serving time.
# ---------------------------------------------------------------------------
_TE_M = 10.0


@register(
    "target_encoding_smoothed",
    f"""
    WITH g AS (
      SELECT CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
               / count(*) AS mean_price
      FROM orders
    ), lab AS (
      SELECT o_orderpriority,
             CASE WHEN o_totalprice > g.mean_price THEN 1 ELSE 0 END AS y
      FROM orders, g
    ), cat AS (
      SELECT o_orderpriority,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS n_pos
      FROM lab GROUP BY o_orderpriority
    ), pri AS (
      SELECT CAST(sum(n_pos) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS prior FROM cat
    )
    SELECT cat.o_orderpriority, cat.n, cat.n_pos,
           pri.prior,
           (CAST(cat.n_pos AS DOUBLE) + ({_TE_M} * pri.prior))
             / (CAST(cat.n AS DOUBLE) + {_TE_M}) AS encoding
    FROM cat, pri
    ORDER BY cat.o_orderpriority
    """,
    doc="m-estimate smoothed target encoding of order priority, bit-equal doubles",
)
def target_encoding_smoothed(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    g = o.agg(
        (
            F.sum(F.col("o_totalprice").cast("decimal(38,10)"))
            .cast("string")
            .cast("double")
            / F.count(F.lit(1))
        ).alias("mean_price")
    )
    lab = o.crossJoin(F.broadcast(g)).select(
        "o_orderpriority",
        F.when(F.col("o_totalprice") > F.col("mean_price"), 1).otherwise(0).alias("y"),
    )
    cat = lab.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("n_pos")
    )
    pri = cat.agg(
        (F.sum("n_pos").cast("double") / F.sum("n").cast("double")).alias("prior")
    )
    return (
        cat.crossJoin(F.broadcast(pri))
        .select(
            "o_orderpriority",
            "n",
            F.col("n_pos").cast("bigint").alias("n_pos"),
            "prior",
            (
                (F.col("n_pos").cast("double") + (F.lit(_TE_M) * F.col("prior")))
                / (F.col("n").cast("double") + F.lit(_TE_M))
            ).alias("encoding"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# EXACT proportional stratified sampling — the allocation-correct
# sibling of `sample_per_label_cap` (which takes a fixed per-class
# cap). Here the total sample size is EXACT (= _STRAT_N rows) and
# per-stratum counts follow largest-remainder (Hamilton) rounding of
# proportional quotas: base_h = floor(N·n_h / n), and the leftover
# r = N − Σ base_h goes to the r strata with the largest remainders
# (ties broken on stratum name). Everything is INTEGER arithmetic —
# no double division anywhere in the allocation, so both engines
# agree exactly. Row selection within a stratum is the house salted-
# md5 order (deterministic under retry; never rand()).
#
# Scale (r7 verdict task 1b — the |strata|-partition full-fact rank
# is GONE): the allocation lives on a |strata|-row frame (fixed
# domain: 5 order priorities) — windows over it are free, and it
# re-enters the plan as a broadcast-joined dimension. Row selection
# is a HASH-THRESHOLD PREFILTER + exact rank over survivors: the
# stratum order is salted-md5 ascending, and the md5's u32 prefix is
# uniform, so the global top-k of a stratum lies under the threshold
# T = 2^32·(OVERSAMPLE·k/n) with probability 1 − exp(−Θ(k·OVERSAMPLE))
# — astronomically certain at OVERSAMPLE=8, and NOT assumed: a
# per-stratum count + `assert_true` FAILS LOUD at run time if any
# stratum's survivor set undershoots its allocation (then the answer
# would be wrong, so no silent fallback). Survivors are a downward-
# closed prefix of the md5 order (equal-length lowercase hex sorts
# numerically), so ranks over survivors EQUAL global ranks — the
# sample is exactly the full-rank sample, but the rank window sees
# ~OVERSAMPLE·k rows per stratum instead of the whole fact, and the
# fact itself is touched only by a narrow scan-side filter (no
# fact-wide shuffle at all).
# ---------------------------------------------------------------------------
_STRAT_N = 1000
_STRAT_SALT = "strat:v1:"
_STRAT_OVERSAMPLE = 8


@register(
    "stratified_sample_exact",
    f"""
    WITH s AS (
      SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY o_orderpriority
    ), t AS (
      SELECT *, sum(n) OVER () AS tot FROM s
    ), q AS (
      SELECT o_orderpriority,
             ({_STRAT_N} * n) // tot AS base,
             ({_STRAT_N} * n) % tot AS rem
      FROM t
    ), a AS (
      SELECT *,
             row_number() OVER (ORDER BY rem DESC, o_orderpriority) AS rk,
             {_STRAT_N} - sum(base) OVER () AS extra
      FROM q
    ), alloc AS (
      SELECT o_orderpriority,
             base + CASE WHEN rk <= extra THEN 1 ELSE 0 END AS k
      FROM a
    ), ranked AS (
      SELECT o_orderkey, o_orderpriority,
             row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY md5('{_STRAT_SALT}' || CAST(o_orderkey AS VARCHAR)), o_orderkey
             ) AS rn
      FROM orders
    )
    SELECT r.o_orderpriority, r.o_orderkey, CAST(r.rn AS INT) AS rn
    FROM ranked r JOIN alloc USING (o_orderpriority)
    WHERE r.rn <= alloc.k
    ORDER BY o_orderpriority, rn
    """,
    doc=f"exact {_STRAT_N}-row proportional stratified sample (largest-remainder allocation)",
)
def stratified_sample_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    stats = o.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n"))
    w_all = Window.partitionBy()
    t = stats.withColumn("tot", F.sum("n").over(w_all))
    q = t.select(
        "o_orderpriority",
        "n",
        F.expr(f"({_STRAT_N} * n) div tot").alias("base"),
        F.expr(f"({_STRAT_N} * n) % tot").alias("rem"),
    )
    a = q.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.desc("rem"), F.asc("o_orderpriority")))
        .alias("rk"),
        (F.lit(_STRAT_N) - F.sum("base").over(w_all)).alias("extra"),
    )
    alloc = a.select(
        "o_orderpriority",
        "n",
        (F.col("base") + F.when(F.col("rk") <= F.col("extra"), 1).otherwise(0)).alias("k"),
    ).select(
        "o_orderpriority",
        "k",
        # u32 threshold: ceil-ish of 2^32 * OVERSAMPLE*k/n, integer-
        # exact (2^35·k fits int64 for any k the N-row budget allows)
        F.expr(
            f"least({(1 << 32) - 1}, "
            f"({(1 << 32) * _STRAT_OVERSAMPLE} * k) div n + 1)"
        ).alias("thr"),
    )
    md5col = F.md5(F.concat(F.lit(_STRAT_SALT), F.col("o_orderkey").cast("string")))
    u32 = F.conv(F.substring(md5col, 1, 8), 16, 10).cast("bigint")
    surv = (
        o.select("o_orderkey", "o_orderpriority")
        .join(F.broadcast(alloc), "o_orderpriority")
        .filter(u32 <= F.col("thr"))  # narrow scan-side prefilter
    )
    # loud exactness guard: every stratum's survivor prefix must cover
    # its allocation, else the rank below would silently be wrong. The
    # check hangs off ALLOC (left join), not off the survivors — a
    # stratum with ZERO survivors still gets its assert row evaluated
    # on the broadcast build side. Cost: the narrow 2-column fact scan
    # repeats under the count; production would localCheckpoint the
    # ~OVERSAMPLE·N-row survivor frame instead — there is still no
    # fact-wide shuffle anywhere.
    surv_cnt = surv.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("_n_surv")
    )
    check = alloc.join(surv_cnt, "o_orderpriority", "left").select(
        "o_orderpriority",
        F.assert_true(
            F.coalesce(F.col("_n_surv"), F.lit(0)) >= F.col("k"),
            F.concat(
                F.lit(
                    "stratified_sample_exact: hash-threshold prefilter "
                    f"(OVERSAMPLE={_STRAT_OVERSAMPLE}) undershot the "
                    "allocation in stratum "
                ),
                F.col("o_orderpriority"),
            ),
        ).alias("_g"),
    )
    guarded = surv.join(F.broadcast(check), "o_orderpriority").filter(
        F.col("_g").isNull()
    )
    w_strat = Window.partitionBy("o_orderpriority").orderBy(
        md5col, F.col("o_orderkey")
    )
    ranked = guarded.select(
        "o_orderkey",
        "o_orderpriority",
        "k",
        F.row_number().over(w_strat).alias("rn"),
    )
    return (
        ranked.filter(F.col("rn") <= F.col("k"))
        .select("o_orderpriority", "o_orderkey", "rn")
        .orderBy("o_orderpriority", "rn")
    )


# ---------------------------------------------------------------------------
# Deterministic weighted priority sampling — pick k rows with
# inclusion preference proportional to a weight, reproducibly (the
# corpus-sampling primitive for quality-weighted training mixes; the
# unweighted salted-hash variants above can't express "prefer heavy
# documents"). Each row gets priority = hash/weight: a salted-md5
# uniform divided by the integer weight, so heavier rows
# stochastically-but-deterministically sink toward the front of the
# ascending order (Duffield et al.'s priority-sampling shape). Both
# operands are integers that convert to double exactly as specified
# by IEEE round-to-nearest, and a single division is correctly
# rounded — NO libm call anywhere, so the ordering is bit-identical
# across engines (an exp/ln-based Efraimidis–Spirakis key would hang
# the hash gate on libm's unspecified last ulp).
#
# Scale: ORDER BY + LIMIT plans as TakeOrderedAndProject — per-
# partition top-k then a k·P-row merge, never a global sort shuffle.
# ---------------------------------------------------------------------------
_WSP_K = 200
_WSP_SALT = "wsp:v1:"


@register(
    "weighted_sample_priority",
    f"""
    WITH w AS (
      SELECT o_orderkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             CAST({_sql_md5_u64(f"'{_WSP_SALT}' || CAST(o_orderkey AS VARCHAR)")} AS DOUBLE)
               / CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS DOUBLE)
               AS priority
      FROM orders
    )
    SELECT o_orderkey, cents, priority
    FROM w
    ORDER BY priority, o_orderkey
    LIMIT {_WSP_K}
    """,
    doc=f"deterministic weighted priority sample (top-{_WSP_K} by hash/weight, libm-free)",
)
def weighted_sample_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    h = _md5_u64(F.concat(F.lit(_WSP_SALT), F.col("o_orderkey").cast("string")))
    return (
        o.select(
            "o_orderkey",
            cents.alias("cents"),
            (h.cast("double") / cents.cast("double")).alias("priority"),
        )
        .orderBy("priority", "o_orderkey")
        .limit(_WSP_K)
    )
