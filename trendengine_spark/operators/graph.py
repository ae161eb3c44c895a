"""Graph traversal operators (BFS frontiers).

Complements the connected-components labeler in
:mod:`trendengine_spark.operators.dedup` (``dedup_clusters`` —
pointer-jumping min-label fixpoint): where CC answers "which
component", k-hop BFS answers "how far" — the reach/expansion
primitive behind co-occurrence recommendations, blast-radius
analysis, and feature neighborhoods.

Scale shape per hop: one equi-join of the current frontier against
the edge list (shuffle keyed by the edge source — co-partitions
across hops), one distinct, one anti-join against the visited set.
Frontier and visited sets carry a single key column, so the state
crossing the network is minimal. Lineage grows linearly with hops;
past a handful of hops ``localCheckpoint`` bounds re-analysis cost
(the same cadence-based discipline as the CC loop, and the same
trade: truncated lineage means executor loss recomputes from the
checkpoint, not the source).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: uncached ``khop_frontiers`` levels are ``localCheckpoint``-ed every
#: this many hops (lineage bound; a no-op below 4 hops)
_KHOP_CHECKPOINT_EVERY = 4


def khop_frontiers(
    edges: DataFrame,
    seed: DataFrame,
    k: int,
    src_col: str = "a",
    dst_col: str = "b",
    key_col: str = "k",
    cache_key: str | None = None,
) -> DataFrame:
    """Exact BFS levels: nodes at hop distance 1..``k`` from the seed
    set (hop = shortest distance; a node appears at its FIRST level
    only). ``edges`` is directed (``src_col`` → ``dst_col``) — pass
    the symmetrized union for undirected semantics. Returns
    (``key_col``, ``hop``).

    ``cache_key`` (r8): each level's frontier is referenced three
    times downstream (the output union, the visited union, the next
    hop's probe), so without materialization hop h's subplan is
    re-executed O(k − h) times. Passing a key persists each level via
    ``owned_cache`` under ``{cache_key}.h{hop}`` — re-invocation
    replaces the previous epoch's entries, keeping the JVM cache set
    bounded. This is the VERDICT-r7 fix for the recursive-CTE query's
    per-level re-execution (Spark's native WITH RECURSIVE re-runs the
    step subplan per level; the loop + per-level cache is the
    scale-shaped rendering of the same traversal).
    """
    from trendengine_spark.operators.util import owned_cache

    e = edges.select(
        F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst")
    )
    visited = seed.select(F.col(key_col).alias("_k")).distinct()
    frontier = visited
    out: DataFrame | None = None
    for hop in range(1, k + 1):
        nxt = (
            e.join(frontier, e._src == frontier._k)
            .select(F.col("_dst").alias("_k"))
            .distinct()
            .join(visited, "_k", "left_anti")
        )
        if cache_key is not None:
            nxt = owned_cache(nxt, f"{cache_key}.h{hop}")
        elif hop % _KHOP_CHECKPOINT_EVERY == 0:
            nxt = nxt.localCheckpoint()
        level = nxt.select(
            F.col("_k").alias(key_col), F.lit(hop).alias("hop")
        )
        out = level if out is None else out.unionAll(level)
        visited = visited.unionAll(nxt.select("_k"))
        frontier = nxt
    return out


def label_propagation(
    edges: DataFrame,
    iters: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007 — public method, own implementation): every node
    starts as its own label; each round a node adopts the MOST
    FREQUENT label among its neighbors AND itself (the self-vote
    breaks the classic synchronous-LPA 2-cycle — a bare edge pair
    oscillates forever without it, found by test); ties → smallest
    label, so the fixpoint is deterministic and
    partitioning-independent.

    The capability connected components cannot express: two dense
    cliques joined by one bridge edge are ONE component but TWO
    communities — majority vote never lets a single bridge overwhelm
    a clique's internal consensus, while min-label CC floods through
    it (tested with exactly that topology).

    Scale shape per round: one join of the label table to the edge
    list (shuffle keyed by node id — co-partitions across rounds),
    one (node, label) count aggregate (partial+final: a hub's votes
    partial-aggregate map-side), one per-node argmax via max(struct)
    — NO window, so hot nodes stay AQE-splittable. Labels are
    ``localCheckpoint``-ed per round (the iterative-loop lineage
    discipline shared with CC/pagerank). Undirectedness is the
    caller's contract: pass each edge once; both directions are
    derived here.

    Exactly ``iters`` rounds run, with no convergence probe: callers
    that want the fixpoint round count measure it and pass it as
    ``iters`` (``tools/stress_lpa.py`` does).

    Returns (node, community) — community = the converged label.
    """
    und = edges.select(
        F.col(src_col).alias("a"), F.col(dst_col).alias("b")
    ).union(
        edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b"))
    )
    und = und.distinct()
    nodes = und.select(F.col("a")).distinct()
    # self-loops carry each node's own vote through the same join
    und = und.union(
        nodes.select(F.col("a"), F.col("a").alias("b"))
    )
    und = und.localCheckpoint()
    labels = (
        nodes.select(F.col("a").alias("node"))
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(iters):
        votes = (
            und.join(
                labels.withColumnRenamed("node", "b"), "b"
            )  # neighbor b's label votes for node a
            .groupBy(F.col("a").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        # argmax(n) with smallest-label tie-break, windowless and
        # type-generic: min(struct(-n, label)) orders by -n (largest
        # count first) then by label ascending — struct comparison is
        # lexicographic, so the label component needs only to be
        # orderable (string/date node ids work, not just numeric)
        labels = (
            votes.groupBy("node")
            .agg(
                F.min(
                    F.struct((-F.col("n")).alias("neg_n"), F.col("label"))
                ).alias("w")
            )
            .select("node", F.col("w.label").alias("label"))
            .localCheckpoint()
        )
    return labels.select("node", F.col("label").alias("community"))


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> float:
    """Newman modularity of a node partition: Q = Σ_c (e_c/m −
    (d_c/2m)²) over communities c, where e_c = intra-community
    edges, d_c = total degree inside c, m = edge count — THE
    standard "is this community structure real" score (Q ≈ 0 for a
    trivial one-community partition; ≳0.3 indicates genuine
    structure). ``edges`` undirected-once (same contract as
    :func:`label_propagation`); ``labels`` = (node, community).

    Exact-integer identity (r9): Q = intra/m − Σ_c d_c²/(4m²)
    = (4·m·intra − Σ_c d_c²) / (4m²), so the whole score is three
    integer aggregates — total edges m, intra-community edge count
    (a plain filtered count, no per-community grouping), and the sum
    of squared community degree sums — each finishing as ONE row.
    Nothing per-community ever reaches the driver (the r8 version
    collected one row per community, which on a fragmented partition
    — LPA pre-convergence, communities ≈ nodes — degenerated to an
    O(nodes) collect); the per-community degree grouping now ends in
    a final single-row SUM on the executors. The one float division
    of two exact integers is correctly rounded and engine-portable
    (the oracle-twin discipline: DuckDB computing the same integers
    produces the bit-identical double).
    """
    e = edges.select(
        F.col(src_col).alias("a"), F.col(dst_col).alias("b")
    )
    m = e.count()
    if m == 0:
        return 0.0
    la = labels.select(
        F.col("node").alias("a"), F.col("community").alias("ca")
    )
    lb = labels.select(
        F.col("node").alias("b"), F.col("community").alias("cb")
    )
    intra = (
        e.join(la, "a")
        .join(lb, "b")
        .filter(F.col("ca") == F.col("cb"))
        .count()
    )
    # Σ_c d_c² as one row: per-community degree sums stay distributed,
    # squared and re-summed executor-side (decimal sum: a community
    # holding every endpoint gives d_c = 2m, d_c² = 4m² — past BIGINT
    # at lake scale)
    sum_d2 = int(
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
        .join(labels, "node")
        .groupBy("community")
        .agg(F.sum("d").alias("d_c"))
        .agg(
            F.sum(
                (F.col("d_c") * F.col("d_c")).cast("decimal(38,0)")
            ).alias("s")
        )
        .collect()[0]["s"]  # bounded: exactly one row
    )
    return float(4 * m * intra - sum_d2) / float(4 * m * m)
