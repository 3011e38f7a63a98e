"""Skew-aware join recipes for hot-key fact/fact joins.

At 100 TB a single hot join key (the null-ish customer, the
monitoring user, the empty-string document) lands one shuffle
partition with 1000× the median load and the stage never finishes.
Two remedies, in preference order:

1. **AQE skew-join splitting** (`spark.sql.adaptive.skewJoin.enabled`,
   on in our session factory): Spark splits oversized partitions at
   runtime. Zero code — use it first.
2. **Explicit salting** (this module) for when AQE can't help:
   aggregation-after-join pipelines where the *map-side* explode of a
   replicated build side is cheaper than runtime splitting, or
   engines/versions without AQE.

Salting contract: the probe (large, skewed) side gets a deterministic
per-row salt in [0, n); the build side is replicated n× with every
salt value; the join key becomes (key, salt). Join results are
row-for-row identical to the unsalted join — verified by the
``salted_join_revenue`` oracle query registered in queries/relational.

Reference parity: the reference has no joins at all (SURVEY.md §2.2);
this is scale surface for the Spark engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"


def salt_probe(df: DataFrame, n: int, uniq_col: str | None = None) -> DataFrame:
    """Add a deterministic salt in [0, n) to the probe side.

    xxhash64 over the full row (not just the join key!) spreads a hot
    key's rows across all n buckets; hashing only the key would put
    every hot-key row in ONE bucket and defeat the salting. Row-hash
    is deterministic, so retried tasks re-salt identically — no
    correctness risk under speculative execution, unlike rand().

    Limitations of whole-row hashing, and the ``uniq_col`` remedy:

    * rows that are EXACT duplicates (the null-ish / empty-string hot
      key whose payload is also identical) hash to one salt bucket and
      are not spread at all;
    * xxhash64 cannot hash map-typed columns (hash expressions reject
      MapType), so frames with maps fail outright.

    Pass ``uniq_col`` naming a per-row-distinct column (a PK, a line
    number) and the salt hashes ONLY that column — duplicate-proof,
    map-safe, still deterministic under retries. Whole-row hashing
    remains the zero-requirements default for frames without a key.
    """
    src = F.col(uniq_col) if uniq_col else F.struct(*df.columns)
    return df.withColumn(SALT_COL, F.pmod(F.xxhash64(src), F.lit(n)).cast("int"))


def replicate_build(df: DataFrame, n: int) -> DataFrame:
    """Replicate the build side n× with salt 0..n-1 (map-side explode,
    no shuffle; n× the build bytes is the price of the skew fix)."""
    return df.withColumn(
        SALT_COL, F.explode(F.sequence(F.lit(0), F.lit(n - 1)).cast("array<int>"))
    )


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    on: list[str],
    n: int = 16,
) -> DataFrame:
    """Skew-resistant inner equi-join: (key, salt) join of the salted
    probe against the n×-replicated build. Result ≡ probe.join(build,
    on) row-for-row (every probe row carries exactly one salt and
    every build key exists at every salt); the shuffle spreads each
    hot key over n partitions."""
    p = salt_probe(probe, n)
    b = replicate_build(build, n)
    return p.join(b, on + [SALT_COL]).drop(SALT_COL)


def null_skew_left_join(
    facts: DataFrame,
    dim: DataFrame,
    fk: str,
    pk: str,
) -> DataFrame:
    """Left join that routes NULL-key fact rows AROUND the join.

    The classic outer-join skew nobody salts for: every NULL foreign
    key hashes to the SAME shuffle partition, so one task receives all
    of them (at 100 TB, a nullable FK with 10% nulls sends 10 TB to
    one executor). NULL never matches anything in a left join, so the
    fix is free: split the fact stream on key nullability, join ONLY
    the non-null branch, and union the null branch back with the dim
    columns as literal NULLs — same rows, no skewed partition, and the
    join input carries an IsNotNull filter the scan can push.
    """
    from pyspark.sql import functions as F

    dim_cols = [c for c in dim.columns if c != pk]
    overlap = set(dim_cols) & set(facts.columns)
    if overlap:
        # the null branch would need the dim columns as NULL literals
        # beside the fact columns; a name collision makes the union
        # ambiguous — fail loud instead of silently doubling a column
        raise ValueError(
            f"dim non-key columns collide with fact columns: {sorted(overlap)}"
        )
    # drop by COLUMN REFERENCE, not name: if fk == pk, drop(pk) by
    # name would remove the fact key too and break the union below
    nn = facts.filter(F.col(fk).isNotNull()).join(
        dim, facts[fk] == dim[pk], "left"
    ).drop(dim[pk])
    nulls = facts.filter(F.col(fk).isNull()).select(
        "*", *[F.lit(None).cast(dim.schema[c].dataType).alias(c) for c in dim_cols]
    )
    return nn.unionByName(nulls)
