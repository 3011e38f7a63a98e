"""Connected-components operators: the O(log n) large-star/small-star
algorithm against ground truth, its round bound on the adversarial
chain graph, and the automatic fallback inside connected_components."""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F

from sf_etl_spark.operators.graph import connected_components, star_components


def test_star_chain_10k_converges_in_log_rounds(spark):
    """A 10k-vertex path is the worst case for label propagation
    (diameter = rounds); the star algorithm must finish in O(log n)."""
    n = 10_000
    verts = spark.range(n).select(F.col("id").alias("vertex"))
    edges = spark.range(n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    # log2(10000) ~ 13.3; allow constant-factor slack but nothing
    # remotely linear in n: star_components raises past max_iter
    comp = star_components(verts, edges, max_iter=2 * math.ceil(math.log2(n)))
    stats = comp.agg(
        F.count_distinct("component").alias("nc"), F.max("component").alias("mx")
    ).collect()[0]
    assert stats["nc"] == 1 and stats["mx"] == 0


def test_star_random_graphs_vs_union_find(spark):
    rng = random.Random(7)
    for trial in range(3):
        n = 40
        verts = list(range(n))
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(10, 35))
        ]
        edges = [(a, b) for a, b in edges if a != b]

        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comp_min: dict[int, int] = {}
        for v in verts:
            r = find(v)
            comp_min[r] = min(comp_min.get(r, v), v)
        want = {v: comp_min[find(v)] for v in verts}

        vdf = spark.createDataFrame([(v,) for v in verts], "vertex bigint")
        edf = spark.createDataFrame(edges or [(0, 0)], "src bigint, dst bigint")
        got = {
            r["vertex"]: r["component"]
            for r in star_components(vdf, edf).collect()
        }
        assert got == want, f"trial {trial}"


def test_connected_components_falls_back_to_star_on_chains(spark):
    """A diameter (199) past the label-propagation budget: the cheap
    phase gives up and the star phase still produces exact labels."""
    n = 200
    verts = spark.range(n).select(F.col("id").alias("vertex"))
    edges = spark.range(n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    comp = connected_components(verts, edges)
    stats = comp.agg(
        F.count_distinct("component").alias("nc"), F.max("component").alias("mx")
    ).collect()[0]
    assert stats["nc"] == 1 and stats["mx"] == 0


def test_pagerank_hand_checkable_star(spark):
    """Undirected star c0-{s1,s2}: hub gets the mass. Closed-form for
    the 1-iteration bidirectional star with N=3: hub collects
    (1-d)/3 + d*(1/3 + 1/3) and each leaf (1-d)/3 + d*(1/3)/2."""
    from sf_etl_spark.operators.graph import pagerank

    pairs = spark.createDataFrame([("c0", "s1"), ("c0", "s2")], "c string, s string")
    edges = pairs.selectExpr("c AS src", "s AS dst").unionAll(
        pairs.selectExpr("s AS src", "c AS dst")
    )
    got = {r.node: r.pr for r in pagerank(edges, iterations=1).collect()}
    assert set(got) == {"c0", "s1", "s2"}
    third = 1.0 / 3.0
    # recompute through the exact decimal(38,10) lane the operator uses
    from decimal import Decimal

    def dlane(xs):
        return float(str(sum(Decimal(repr(x)).quantize(Decimal("1E-10")) for x in xs)))

    hub = (1.0 - 0.85) / 3.0 + 0.85 * dlane([third, third])
    leaf = (1.0 - 0.85) / 3.0 + 0.85 * dlane([third / 2.0])
    assert abs(got["c0"] - hub) < 1e-12
    assert abs(got["s1"] - leaf) < 1e-12 and got["s1"] == got["s2"]
    # mass is conserved up to the decimal-lane rounding
    assert abs(sum(got.values()) - 1.0) < 1e-6


def test_pagerank_more_iterations_converge(spark):
    """Rank ordering is stable and mass stays ~1 across iterations."""
    from sf_etl_spark.operators.graph import pagerank

    pairs = spark.createDataFrame(
        [("a", "x"), ("b", "x"), ("c", "x"), ("c", "y")], "l string, r string"
    )
    edges = pairs.selectExpr("l AS src", "r AS dst").unionAll(
        pairs.selectExpr("r AS src", "l AS dst")
    )
    got = {r.node: r.pr for r in pagerank(edges, iterations=4).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-6
    # x (degree 3) outranks y (degree 1) and every left node
    assert got["x"] == max(got.values())


def test_pagerank_keeps_zero_indegree_nodes(spark):
    """A genuinely directed graph routinely has nodes nobody links TO
    (every node still appears as a src, per the contract). They must
    keep their damped-teleport rank (1-d)/n every iteration AND keep
    contributing to their out-neighbors — the regression dropped them
    from the rank vector after iteration 1."""
    from sf_etl_spark.operators.graph import pagerank

    # a -> b, b -> c, c -> b : 'a' has no in-edges but must persist
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "b")], "src string, dst string"
    )
    got = {r.node: r.pr for r in pagerank(edges, iterations=3).collect()}
    assert set(got) == {"a", "b", "c"}  # nobody dropped
    floor = (1.0 - 0.85) / 3.0
    assert abs(got["a"] - floor) < 1e-9  # teleport-only rank, every iter
    # b receives a's full (damped) rank each iteration; with 'a' dropped
    # after iter 1, b's rank at iter>=2 would miss that contribution
    assert got["b"] > got["c"] > got["a"]


def test_pagerank_golden_ranks(spark):
    """Golden ranks for a 5-node graph at iterations=5, captured before
    the checkpoint_interval knob was removed and identical at local[1]
    and local[4]. Exact equality, not approx: the fan-in sum is an
    exact DECIMAL fold, so neither the shuffle partition count nor the
    edges' partitioning may move a bit."""
    from sf_etl_spark.operators.graph import pagerank

    pairs = spark.createDataFrame(
        [("a", "x"), ("b", "x"), ("c", "x"), ("c", "y"), ("y", "b")],
        "l string, r string",
    )
    edges = pairs.selectExpr("l AS src", "r AS dst").unionAll(
        pairs.selectExpr("r AS src", "l AS dst")
    )
    golden = {
        "a": 0.105016995905,
        "b": 0.18115909567,
        "c": 0.18115909567,
        "x": 0.31899651738000007,
        "y": 0.21366829512,
    }
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    try:
        for parts in (1, 7):
            spark.conf.set(key, str(parts))
            got = pagerank(edges.repartition(parts), iterations=5).collect()
            assert {r.node: r.pr for r in got} == golden, parts
    finally:
        spark.conf.set(key, prev)


def test_bfs_lazy_visited_union(spark):
    """r15 optimization: visited is a lazy union of the materialized
    per-round frontiers; distances on a known graph stay exact."""
    from sf_etl_spark.operators.graph import bfs_hops

    # path a-b-c-d plus a shortcut a-c: min-hops must take the shortcut
    e = [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c")]
    edges = spark.createDataFrame(
        e + [(y, x) for x, y in e], "src string, dst string"
    )
    src = spark.createDataFrame([("a",)], "node string")
    got = {r["node"]: r["hops"] for r in bfs_hops(edges, src, max_hops=4).collect()}
    assert got == {"a": 0, "b": 1, "c": 1, "d": 2}
