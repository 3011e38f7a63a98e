"""Bloom-filter join pruning — kill shuffle traffic for selective
semi joins before it exists.

At 100 TB the dominant cost of ``fact SEMI JOIN dim_subset`` is
shuffling every fact row to the join stage, even though only a few
percent survive. A Bloom filter built from the build-side keys and
broadcast to the probe side drops most non-matching rows AT THE SCAN,
so they never enter the exchange. Spark's own runtime row-level
filtering (`spark.sql.optimizer.runtime.bloomFilter.enabled`) does
this for some plan shapes; `bloom_filter_agg` is not exposed as a
public SQL function in this build (UNRESOLVED_ROUTINE — probed), so
this module builds the same structure from public DataFrame ops:

  build side:  k=3 seeded xxhash64 positions per key →
               (word = pos/64, mask = 1 << pos%64) →
               groupBy(word).bit_or(mask) → one MAP<INT,BIGINT> row
  probe side:  the bitmap as a dense ARRAY<BIGINT> literal + an AND of
               k bit tests — a codegen'd narrow filter, no Python, no
               UDF.

The filter is one-sided (false positives only), so callers MUST keep
the exact join afterwards; ``bloom_prune_literal`` is a bandwidth
optimization, never a correctness device. With m bits / n keys / k=3
the false-positive rate is ≈ (1 - e^{-kn/m})^k — m=2^17 holds ~1% up
to ~15k keys and costs 16 KiB broadcast.

Reference parity: the reference has no joins (SURVEY.md §2.2); this is
engine scale surface, same family as operators/skew.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Fixed hash seeds — part of the operator contract (deterministic
# across runs and across build/probe sides).
_SEEDS = (101, 211, 307)
_M_BITS = 1 << 17


def _positions(key: F.Column) -> list[F.Column]:
    return [F.pmod(F.xxhash64(key, F.lit(s)), F.lit(_M_BITS)) for s in _SEEDS]


def bloom_build(keys: DataFrame, key_col: str) -> DataFrame:
    """Aggregate build-side keys into a 1-row DataFrame holding the
    Bloom bitmap as MAP<word_index, 64-bit word>.

    Scale: the explode is 3 rows per key, partial-agged (bit_or is
    associative/commutative) before one shuffle onto <= m/64 words,
    then a single collect_list into one row — the map is at most
    m/64 entries (2048 longs), broadcastable by
    construction.
    """
    pos = F.explode(F.array(*_positions(F.col(key_col)))).alias("pos")
    words = (
        keys.select(pos)
        .select(
            (F.col("pos") / 64).cast("int").alias("word"),
            # call_function: the python shiftleft() wrapper only takes a
            # literal int for numBits; the SQL function takes a column
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), F.pmod(F.col("pos"), F.lit(64)).cast("int")
            ).alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )
    return words.agg(
        F.map_from_entries(F.collect_list(F.struct("word", "bits"))).alias("__bloom")
    )


def bloom_prune_literal(probe: DataFrame, key_col: str, bloom: DataFrame) -> DataFrame:
    """Filter probe rows whose key cannot be in the build set. The
    bitmap is materialized once and embedded as a dense ARRAY<BIGINT>
    literal, so the bit tests are a plain Filter directly on the probe
    scan. False positives pass through — follow with the exact join.

    Why a literal: broadcasting the 1-row map through a crossJoin keeps
    everything lazy, but Catalyst's PushLeftSemiLeftAntiThroughJoin
    pushes the exact semi join BELOW the bloom cross-join (observed on
    this build), so the prune ends up above the join it was meant to
    feed. Embedding
    the bitmap as a literal is exactly how Spark's own runtime bloom
    filters land after subquery materialization (InSubqueryExec):
    the filter then sits under every downstream exchange by
    construction. The materialization is bounded by the operator, not
    the data — m/64 longs (16 KiB) regardless of
    corpus size — the same contract as the centroid/bucket-id collects
    documented in PLANS.md.
    """
    row = bloom.collect()[0][0] or {}
    dense = [int(row.get(i, 0)) for i in range(_M_BITS // 64)]
    arr = F.lit(dense)
    tests = [
        (
            F.element_at(arr, (p / 64).cast("int") + 1).bitwiseAND(
                F.call_function(
                    "shiftleft", F.lit(1).cast("long"), F.pmod(p, F.lit(64)).cast("int")
                )
            )
        )
        != 0
        for p in _positions(F.col(key_col))
    ]
    cond = tests[0]
    for t in tests[1:]:
        cond = cond & t
    return probe.filter(cond)
