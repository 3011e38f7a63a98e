"""Connected components over a pair graph — the clustering stage of
near-duplicate removal.

Pair-finding ops (``dedup_minhash_lsh``, ``dedup_exact_substring``,
``ann_srp_lsh_pairs``) emit EDGES; production dedup needs the
transitive closure: duplicate CLUSTERS, a canonical representative
per cluster, and the non-canonical rows dropped. This is min-label
propagation (the Pregel/GraphX connected-components recipe) in plain
DataFrame ops — no GraphFrames dependency.

Scale notes:
- Each iteration is one join + one min-aggregate, both hash-
  partitioned on the vertex id — the shuffle partitioning is stable
  across iterations so AQE/exchange reuse keeps re-shuffling cheap.
- Iterations needed = graph diameter under min-propagation; dedup
  graphs are dense clumps (near-cliques), so diameters are small.
  For adversarial long-chain graphs, :func:`star_components`
  (alternating large-star/small-star, Kiveris et al. "Connected
  Components in MapReduce and Beyond") halves the effective diameter
  per round → O(log n) rounds; :func:`connected_components` falls
  back to it automatically when min-label propagation has not
  converged after ``_LABEL_ROUNDS``.
- ``localCheckpoint`` truncates lineage each round; without it the
  plan doubles per iteration and analysis time explodes.
- The driver-side loop tests ONE scalar (changed-count) per round —
  the data never leaves the cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# connected_components' budget: min-label propagation rounds before
# the star fallback, and total rounds across both phases
_LABEL_ROUNDS = 8
_MAX_ITER = 25


def connected_components(vertices: DataFrame, edges: DataFrame) -> DataFrame:
    """Label every ``vertex`` of ``vertices`` with the minimum vertex id
    reachable from it over the ``src``/``dst`` pairs of ``edges`` (= its
    component id). Vertices absent from ``edges`` come out as
    singleton components.

    Strategy: min-label propagation for up to ``_LABEL_ROUNDS`` (one
    join + one min-agg per round — cheapest per round, and dedup
    clump graphs converge in 2-3); if the diameter is larger than
    that (adversarial chains), restart on :func:`star_components`,
    whose O(log n) round bound is worth its extra per-round jobs.
    Raises if not converged in ``_MAX_ITER`` total iterations."""
    # checkpoint the symmetrized edges ONCE: the loop re-references
    # them every round, and a lazy plan would re-derive the edge list
    # (often an expensive pair-finding pipeline) per iteration
    sym = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .union(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .distinct()
        .localCheckpoint()
    )
    labels = vertices.select(
        F.col("vertex").alias("v"), F.col("vertex").alias("label")
    ).localCheckpoint()

    for _ in range(_LABEL_ROUNDS):
        msgs = (
            sym.join(labels, sym.a == labels.v)
            .select(F.col("b").alias("v"), F.col("label").alias("nlabel"))
            .groupBy("v")
            .agg(F.min("nlabel").alias("nlabel"))
        )
        # checkpoint BEFORE the convergence count so the join runs
        # once per round — the count and the next round's labels both
        # read the materialized result
        upd = labels.join(msgs, "v", "left").select(
            "v",
            "label",
            F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))).alias(
                "new_label"
            ),
        ).localCheckpoint()
        changed = upd.filter(F.col("new_label") < F.col("label")).count()
        labels = upd.select("v", F.col("new_label").alias("label"))
        if changed == 0:
            return labels.select(
                F.col("v").alias("vertex"), F.col("label").alias("component")
            )
    # diameter exceeded the cheap phase: the O(log n) algorithm takes
    # over from the original edges (restarting costs less than the
    # O(diameter) rounds propagation would still need)
    return star_components(vertices, edges, max_iter=_MAX_ITER - _LABEL_ROUNDS)


def star_components(
    vertices: DataFrame | None, edges: DataFrame, max_iter: int = _MAX_ITER
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    (Kiveris et al.): edge rewiring that attaches nodes ever closer to
    their component minimum, converging to star graphs centered on the
    minima in O(log n) rounds — pointer doubling, independent of graph
    diameter (a length-n chain needs ~log2 n rounds, not n).

    Per round, on the canonical edge set E = {(u, v): u > v}:

    * large-star — every node attaches its strictly LARGER neighbors
      to the minimum of its closed neighborhood: halves the distance
      of far nodes to the minimum;
    * small-star — every node attaches its smaller-or-equal neighbors
      (and itself) to its minimum SMALLER neighbor: flattens local
      chains into stars.

    Both steps preserve connectivity and never create a component
    bridge, so the fixpoint (edge set stable under both) is exactly
    the star decomposition; labels read off the final edges. Each
    step is one groupBy-min + one equi-join on the node id. Columns
    are those of :func:`connected_components`.

    ``vertices=None`` labels exactly the ENDPOINTS of ``edges``,
    derived from the already-materialized canonical edge set instead
    of the caller's (possibly expensive) edge-derivation subtree —
    when the vertex universe IS "whatever the pair finder connected"
    (the linkage lane), passing the mpairs-derived union here
    recomputed that whole subtree in the final read-off job for zero
    information (r16 optimization; interleaved A/B 26.8 -> 21.4 s at
    the sf1 probe). Callers with isolated vertices (or vertices whose
    only edges are self-loops, which the canonicalization drops) must
    still pass them explicitly to get their singleton rows."""
    E = (
        edges.select(F.col("src").alias("x"), F.col("dst").alias("y"))
        .filter(F.col("x") != F.col("y"))
        .select(F.greatest("x", "y").alias("u"), F.least("x", "y").alias("v"))
        .distinct()
        .localCheckpoint()
    )
    if vertices is None:
        # scanning the checkpointed blocks twice is cheap; rebuilding
        # the caller's edge lineage twice is not
        vertices = (
            E.select(F.col("u").alias("vertex"))
            .union(E.select(F.col("v").alias("vertex")))
            .distinct()
        )
    # the canonical edge count, carried across rounds in Python: each
    # round's fixpoint test needs |E| and |e2|, and |E| is exactly the
    # previous round's |e2| — recounting the materialized frame every
    # round was one redundant job per round (r15 optimization round)
    e_count = E.count()
    converged = False
    for _ in range(max_iter):
        # -- large-star --
        sym = E.select("u", "v").union(
            E.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("u", "mv").alias("m"))
        )
        # (larger neighbor, neighborhood min): m <= u < v, so the
        # output is already canonical and self-loop-free. e1 stays
        # LAZY: its two consumers (the small-star min and the
        # small-star join) share the distinct's exchange via
        # ReuseExchange, so folding both stars into e2's one job beats
        # materializing the intermediate (r15 optimization round:
        # 6.7 s → 5.7 s best-of-3 on the linkage match graph, one
        # localCheckpoint job per round removed).
        e1 = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # -- small-star -- (canonical E already orients u -> smaller v)
        mins_s = e1.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            e1.join(mins_s, "u")
            .select(F.col("v").alias("x"), F.col("m").alias("y"))
            .union(mins_s.select(F.col("u").alias("x"), F.col("m").alias("y")))
        )
        e2 = (
            ss.filter(F.col("x") != F.col("y"))
            .select(F.greatest("x", "y").alias("u"), F.least("x", "y").alias("v"))
            .distinct()
            .localCheckpoint()
        )
        # fixpoint test on the canonical sets (both distinct, so set
        # equality = equal counts + empty left-anti difference); the
        # anti-join probe only runs on rounds where the counts agree
        e2_count = e2.count()
        if e2_count == e_count and e2.join(E, ["u", "v"], "left_anti").limit(1).count() == 0:
            E = e2
            converged = True
            break
        E = e2
        e_count = e2_count
    if not converged:
        raise RuntimeError(f"star_components did not converge in {max_iter} iterations")
    # stars: every edge is (member, component min); minima and
    # singletons label themselves
    memb = E.groupBy("u").agg(F.min("v").alias("label"))
    return (
        vertices.select(F.col("vertex").alias("v"))
        .join(memb.select(F.col("u").alias("v"), "label"), "v", "left")
        .select(
            F.col("v").alias("vertex"),
            F.coalesce("label", F.col("v")).alias("component"),
        )
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Synchronous power-iteration PageRank over a directed edge set,
    in plain DataFrame ops (no GraphFrames).

    Contract: every node must appear as a ``src`` at least once (no
    dangling nodes) — callers with undirected graphs get this for free
    by unioning both orientations. The node universe is the distinct
    ``src`` set; a dst-only node VIOLATES the contract and since the
    r6 zero-union rework would surface in the output with a rank
    inconsistent with the n_nodes denominator (r1-r5 silently dropped
    it) — symmetrize or add self-loops first, as both registered
    lanes do.

    Determinism: the per-edge contribution pr(u)/outdeg(u) is a single
    IEEE divide, and the per-node fan-in sum goes through the exact
    DECIMAL(38,10) lane (cast → sum → string → double, the
    repo-wide SUMD pattern), so the result is bit-identical regardless
    of aggregation order — an ANSI-SQL oracle can replay it. Scale 10,
    not higher: Spark casts double→decimal through the SHORTEST string
    representation while DuckDB rounds the exact binary value; past
    ~scale 15 the two disagree in the last digit (measured — scale 18
    broke the hash by 1 ulp), at scale 10 they agree.

    Scale: each iteration is ONE shuffle join of ranks onto edges
    (both hash-partitioned on the src key, stable across iterations →
    exchange reuse) plus one partial-agged shuffle on dst — the
    node-universe re-entry rides the aggregation as a zero-
    contribution union (narrow, no join; see below), so there is no
    second join per iteration. The rank vector is O(nodes); edges are
    never re-derived (pass a materialized/cached frame for big
    graphs).

    Lineage policy (r15 optimization round, A/B-measured): each
    iteration's rank vector is referenced exactly once, so a K-deep
    lazy chain WOULD execute as one job — but materializing each
    round's ranks is what lets AQE see their true (tiny) size and
    promote the edges⋈ranks join to a broadcast; in the lazy chain the
    rank subtree has no runtime size and the joins fall back to
    sort-merge (customer↔supplier graph at sf0.1: lazy 5.6 s vs
    per-round cuts 3.3 s, interleaved best-of-3). So every round is
    cut except the FINAL one — the caller's terminal action consumes
    that chain immediately, and AQE still broadcasts because the
    PREVIOUS round was materialized.
    """
    # Materialize the edge relation ONCE at entry: callers hand in a
    # lazy edge derivation (joins/distincts), and deg, n, the rank
    # init, e2, and every iteration would otherwise each re-execute it
    # from the source scans (the pathology connected_components
    # documents; measured ~4 derivations → 1 on the customer↔supplier
    # lane). e2 is materialized too so iterations read (edge, outdeg)
    # rows directly instead of replaying the deg join.
    edges = edges.localCheckpoint()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("outdeg"))
    # n_nodes: ONE bounded scalar to the driver (same policy as the
    # components rounds) — cheaper than carrying a 1-row broadcast
    # nested-loop join through every iteration.
    n_nodes = deg.count()
    if n_nodes == 0:
        # empty edge set: return the empty rank vector instead of a
        # ZeroDivisionError from the teleport term (the r1-r5 shape)
        return deg.select(F.col("src").alias("node"), F.lit(0.0).alias("pr"))
    e2 = edges.join(deg, "src").localCheckpoint()
    # The node universe, kept across iterations: rebuilding ranks from
    # the fan-in sums alone would DROP zero-in-degree nodes (a genuinely
    # directed graph routinely has them) — they'd lose their (1-d)/n
    # teleport rank AND stop contributing to their out-neighbors from
    # iteration 2 on, silently corrupting downstream ranks. Instead of
    # re-joining the universe onto the fan-in sums each iteration (the
    # r1-r5 shape: one extra shuffle join per round), every node
    # enters the aggregation itself with an exact-zero contribution —
    # the union is narrow, the groupBy shuffle already exists, and an
    # exact DECIMAL zero term cannot perturb the fold.
    dec = "decimal(38,10)"
    zeros = (
        deg.select(F.col("src").alias("node"), F.lit(0.0).cast(dec).alias("c"))
        .localCheckpoint()
    )
    ranks = zeros.select("node", F.lit(1.0 / n_nodes).alias("pr"))
    teleport = (1.0 - damping) / n_nodes  # same IEEE divide the SQL ran
    for it in range(iterations):
        contrib = e2.join(ranks, e2["src"] == ranks["node"]).select(
            F.col("dst").alias("node"),
            (F.col("pr") / F.col("outdeg")).cast(dec).alias("c"),
        )
        ranks = (
            contrib.unionByName(zeros)
            .groupBy("node")
            .agg(F.sum("c").cast("string").cast("double").alias("s"))
            .select(
                "node",
                # no in-edges => fan-in sum is exactly 0 (the zero
                # row), keeping the damped-teleport floor (true
                # PageRank), not a dropped row
                (F.lit(teleport) + F.lit(damping) * F.col("s")).alias("pr"),
            )
        )
        # Cut the lineage after every round so AQE sees the ranks'
        # true size (see docstring) — except the LAST: the caller's
        # terminal action is about to consume the chain anyway.
        if it + 1 < iterations:
            ranks = ranks.localCheckpoint()
    return ranks


def bfs_hops(edges: DataFrame, sources: DataFrame, max_hops: int) -> DataFrame:
    """Breadth-first min-hop distances from a source node set, bounded
    by ``max_hops`` rounds. Returns ``(node, hops)`` — the recursive-
    CTE ``min(d)`` fixpoint, computed frontier-synchronously (each
    node is labeled the FIRST round it is reached, which is its
    minimum hop count; later arrivals are dropped by the anti-join).

    ``sources`` must be a 1-column ``node`` frame (hops 0 rows).

    Scale: per round ONE frontier⋈edges equi-join (frontier is the
    small side — broadcastable when it fits) + a partial-agged
    distinct + an anti-join against visited. Each round's frontier is
    ``localCheckpoint``'d so round k never replays rounds 1..k-1; the
    visited set is the LAZY union of those materialized per-round
    frames (scanning k small materialized frames is free — the pre-r15
    shape re-materialized the whole growing set every round, one extra
    job per hop for zero compute saved). The only driver traffic is
    one bounded scalar per round (frontier size, for the early-exit —
    the connected_components policy). State is O(reached nodes);
    rounds bounded by ``max_hops``, the graph analogue of a watermark
    bound on stream state.
    """
    edges = edges.select(
        F.col("src").alias("_src"), F.col("dst").alias("_dst")
    ).localCheckpoint()
    first = sources.select("node", F.lit(0).alias("hops")).localCheckpoint()
    visited = first
    frontier = first.select("node")
    for d in range(1, max_hops + 1):
        nxt = (
            edges.join(frontier, edges["_src"] == frontier["node"])
            .select(F.col("_dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .select("node", F.lit(d).alias("hops"))
            .localCheckpoint()
        )
        if nxt.count() == 0:  # bounded scalar, one per round
            break
        # lazy union of materialized rounds — no re-materialization
        visited = visited.unionByName(nxt)
        frontier = nxt.select("node")
    return visited
