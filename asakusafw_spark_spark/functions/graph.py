"""Iterative link-analysis over an edge table: fixed-point PageRank.

The engine already has the CONNECTIVITY side of graph processing
(large-star/small-star connected components in :mod:`.dedup`); this
module adds the CENTRALITY side — PageRank over an arbitrary directed
edge DataFrame, the canonical iterative-batch workload (each iteration
is one join + one aggregation, the exact shape the reference's
iterative-batch extension schedules round by round).

Determinism contract (what makes a cross-engine value-hash oracle
possible for an iterative float algorithm): ranks are FIXED-POINT
integers — ``scale`` units represent probability 1.0 — and every step
is integer arithmetic with floor division:

    rank0(v)   = scale DIV N
    contrib(v) = SUM over in-edges (u, v) of rank(u) DIV outdeg(u)
    rank'(v)   = (scale * (100 - damping)) DIV (100 * N)
               + (damping * contrib(v)) DIV 100

(``damping`` is an integer percentage.)  Floor division on
non-negative integers is identical in every engine, so a DuckDB twin
unrolling the same iterations matches bit-for-bit — no IEEE
reduction-order caveats.  The quantization error is < iterations x
(in-degree + 2) units, i.e. < 1e-9 of total mass at the default
scale; dangling-node mass is dropped (the standard simplification —
documented, and identical on both sides).

Scale shape (100 TB): the edge table is deduplicated, joined ONCE with
out-degrees, hash-partitioned by ``src`` and persisted — every
iteration then reuses that partitioning for its join (only the slim
(node, rank) frame reshuffles) and runs one map-side-combined
aggregation by ``dst``.  Lineage is cut by persisting the rank frame
every ``materialize_every`` rounds (and at the end), so 50 iterations
neither build a 50-deep plan nor pay an eager job per round.
Driver-side state is two scalars (N and the base term).

Reference parity: extensions/iterativebatch (IterativeBatchExecutor
round loop) — this is the same per-round recompute schedule expressed
as a data-parallel loop; SURVEY.md §3.3.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from ..caching import own, persist

__all__ = ["pagerank", "bfs_levels", "triangle_count"]


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping: int = 85,
    scale: int = 10**12,
    num_partitions: "int | None" = None,
    materialize_every: int = 5,
    sources: "DataFrame | None" = None,
    node_col: str = "node",
) -> DataFrame:
    """PageRank over directed ``edges`` → ``(node, rank)`` with
    ``rank`` a fixed-point BIGINT (``scale`` = mass 1.0; divide by
    ``scale`` for the float value).  Duplicate edges count once;
    self-loops participate like any edge.  See the module docstring
    for the exact integer-arithmetic contract.

    ``sources`` switches to PERSONALIZED PageRank (random walk with
    restart): the teleport term and the initial mass go only to the
    source cohort —

        rank0(v)  = scale DIV |S|            if v in S else 0
        rank'(v)  = [v in S] * (scale * (100 - damping)) DIV (100 * |S|)
                  + (damping * contrib(v)) DIV 100

    — the standard relatedness-to-a-cohort ranking (recommendations,
    seed-expansion), same integer determinism contract.  Sources not
    present in any edge still appear in the output (they hold teleport
    mass).
    """
    if iterations < 1:
        raise ValueError("pagerank: iterations must be >= 1")
    if not (0 <= damping <= 100):
        raise ValueError("pagerank: damping must be an integer percent 0..100")
    if scale < 10**6:
        raise ValueError("pagerank: scale must be >= 1e6 (quantization)")
    s_count = None
    if sources is not None:
        src_nodes = sources.select(F.col(node_col).alias("node")).distinct()
        # validate BEFORE the first persist (a raise after it would leave
        # a cache entry no caller holds a frame to release) and so before
        # the n == 0 early exit: empty sources + empty edges must raise
        s_count = src_nodes.count()
        if s_count == 0:
            raise ValueError("pagerank: sources is empty")

    # repartition FIRST, dedupe second: HashPartitioning(src) satisfies
    # the distinct's ClusteredDistribution(src, dst), so the dedupe (and
    # the outdeg aggregate, and the iteration joins) all reuse the ONE
    # edge shuffle — distinct-then-repartition moved the edge list twice
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if num_partitions:
        e = e.repartition(num_partitions, "src")
    else:
        e = e.repartition("src")
    e = e.dropDuplicates(["src", "dst"])

    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # one persisted, src-partitioned (src, dst, outdeg) frame: every
    # iteration's join reuses this partitioning — only the slim rank
    # frame moves
    linked = e.join(outdeg, "src").persist(StorageLevel.MEMORY_AND_DISK)

    # derive nodes from LINKED, not e: e's lineage (the caller's edge
    # build, often a multi-table join) would otherwise be recomputed a
    # second time just to list the vertices; linked is the persisted
    # copy of the same pairs
    nodes = linked.select(F.col("src").alias("node")).union(
        linked.select(F.col("dst").alias("node"))
    )
    if sources is not None:
        nodes = nodes.union(src_nodes)  # isolated sources stay ranked
    nodes = nodes.distinct().persist(StorageLevel.MEMORY_AND_DISK)
    n = nodes.count()
    if n == 0:
        linked.unpersist()
        nodes.unpersist()
        return nodes.withColumn("rank", F.lit(0).cast("long"))

    if sources is None:
        base = (scale * (100 - damping)) // (100 * n)  # python ints: exact
        base_col = F.lit(base).cast("long")
        ranks = nodes.select(
            "node", F.lit(scale // n).cast("long").alias("rank")
        )
    else:
        base_s = (scale * (100 - damping)) // (100 * s_count)
        flagged = nodes.join(
            src_nodes.withColumn("__is_src__", F.lit(True)), "node", "left"
        ).persist(StorageLevel.MEMORY_AND_DISK)
        nodes.unpersist()
        nodes = flagged
        base_col = F.when(
            F.col("__is_src__"), F.lit(base_s).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        ranks = nodes.select(
            "node",
            F.when(F.col("__is_src__"), F.lit(scale // s_count).cast("long"))
            .otherwise(F.lit(0).cast("long"))
            .alias("rank"),
        )
    last_persisted = None

    for i in range(iterations):
        contribs = (
            linked.join(ranks, linked["src"] == ranks["node"])
            .select(
                F.col("dst").alias("node"),
                F.expr("rank DIV outdeg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = nodes.join(contribs, "node", "left").select(
            "node",
            (
                base_col
                + F.expr(f"({damping} * coalesce(contrib, 0L)) DIV 100")
            ).cast("long").alias("rank"),
        )
        # materialize every few rounds (and always at the end, so the
        # returned frame survives unpersisting its inputs): a handful
        # of lazy join+agg layers is cheaper for Catalyst than an
        # eager job + cache hop PER iteration — at bench scale that
        # halved wall-clock
        if (i + 1) % materialize_every == 0 or i == iterations - 1:
            ranks = ranks.persist(StorageLevel.MEMORY_AND_DISK)
            ranks.count()
            if last_persisted is not None:
                last_persisted.unpersist()
            last_persisted = ranks

    linked.unpersist()
    nodes.unpersist()
    if last_persisted is not None:
        # the final ranks frame stays persisted (the returned frame IS
        # the cached one): the caller's cache scope owns it, and releases
        # the blocks after the caller's action completes
        own(last_persisted)
    return ranks


def bfs_levels(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    max_iters: int = 10,
) -> DataFrame:
    """Multi-source BFS → ``(node, level)``: the minimum hop count from
    any node in ``sources`` (level 0), following directed edges, out to
    ``max_iters`` hops; unreached nodes are absent.  Levels are exact
    integers, so — like :func:`pagerank` — a DuckDB twin unrolling the
    same relaxation rounds hash-matches exactly.

    Scale shape: FRONTIER iteration, not full relaxation — round i
    joins only the level-(i-1) frontier (nodes first reached last
    round) against the edge table, anti-joins the visited set, and
    stops early when the frontier empties.  Each round is one shuffle
    join + one anti-join.  Every level frame is ``localCheckpoint``-ed
    (the :func:`~..functions.dedup.dup_clusters` pattern): a persisted
    frame keeps its FULL logical plan, and because each level's plan
    embeds the plans of every earlier level (through the visited-set
    anti-join) the uncheckpointed lineage grows EXPONENTIALLY with
    depth — the r10 10× probe OOM'd the driver on plan-tree size alone
    at ~8 levels.  Checkpointing makes each level a flat leaf, so the
    round-i plan is O(i) leaves.  Frontier BFS computes the same fixed
    point as the oracle's level-wise relaxation: a node's level is the
    round that first reaches it.

    Reference parity: the other canonical iterative-batch workload
    (SURVEY §3.3) — connected components (functions/dedup.py) covers
    undirected connectivity; this covers directed distance.
    """
    if max_iters < 0:
        raise ValueError("bfs_levels: max_iters must be >= 0")
    # repartition FIRST, dedupe second — the src-hash partitioning
    # satisfies the distinct's clustering, so the edge list moves once
    # (see pagerank)
    e = edges.select(F.col(src).alias("__s__"), F.col(dst).alias("__d__"))
    e = (
        e.repartition("__s__")
        .dropDuplicates(["__s__", "__d__"])
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    l0 = (
        sources.select(F.col(node_col).alias("node"))
        .distinct()
        .withColumn("level", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    # one checkpointed frame PER LEVEL: the anti-join sees the lazy
    # union of flat leaf scans (O(i) plan), and the eager checkpoint
    # doubles as the per-round materialization
    levels = [l0]
    frontier = l0.select("node")

    for i in range(1, max_iters + 1):
        visited_nodes = levels[0].select("node")
        for lv in levels[1:]:
            visited_nodes = visited_nodes.union(lv.select("node"))
        nxt = (
            frontier.join(e, frontier["node"] == e["__s__"])
            .select(F.col("__d__").alias("node"))
            .distinct()
            .join(visited_nodes, "node", "left_anti")
            .withColumn("level", F.lit(i).cast("long"))
        ).localCheckpoint(eager=True)
        if nxt.count() == 0:
            break
        levels.append(nxt)
        frontier = nxt.select("node")

    out = levels[0]
    for lv in levels[1:]:
        out = out.union(lv)
    e.unpersist()
    return out


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Exact triangle count of the UNDIRECTED simple graph induced by
    ``edges`` (direction ignored, duplicates and self-loops dropped) →
    a single-row ``(n_triangles)`` frame.  The motif member of the
    graph family; on a dedup-pair graph it measures duplicate-cluster
    density (every 3-clique is three pairwise near-dups agreeing).

    Scale shape — DEGREE ORIENTATION (the standard m^1.5 bound): each
    edge is directed from its (degree, id)-smaller endpoint to the
    larger, so every wedge is built from the LOW-degree side — a
    degree-D hub contributes O(D) oriented out-edges only if nothing
    cheaper closes the wedge, bounding the wedge join to O(m^1.5)
    regardless of hubs (a node-id orientation would explode a popular
    hub into O(D^2) wedges).  One join builds wedges, one equi-join
    closes them: because orientation follows the same total order used
    to order the wedge pair, the closing edge (v, w) is oriented
    exactly v→w — a plain equi-join, no OR-of-directions.

    The count is orientation-independent, so the DuckDB twin uses the
    simple a<b<c three-way join — same number, strict hash oracle.
    """
    a, b = F.col(src), F.col(dst)
    # persist-on-fanout, same discipline as pagerank's linked frame:
    # `und` feeds THREE plan branches (two degree scans + the wedge
    # base) and `oriented` three more (both wedge sides + the closing
    # join).  Without the persists Spark recomputes the INPUT lineage
    # per branch — on a near-dup pair graph that lineage is the whole
    # banded cosine pair generation, and the sf1 probe measured the
    # query at ~3-4x its persisted cost (106 -> ~35 s).  Both frames
    # are bounded by the deduplicated edge list (slim 2-3 columns).
    # The returned frame references both lazily, so they must outlive
    # this call: ``persist`` registers them with the caller's cache
    # scope, which reclaims the blocks once the caller's action is done.
    und = (
        edges.where(a != b)
        .select(
            F.least(a, b).alias("a"), F.greatest(a, b).alias("b")
        )
        .distinct()
        .transform(persist)
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .union(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    deg_a = deg.select(
        F.col("node").alias("__na__"), F.col("deg").alias("deg_a")
    )
    deg_b = deg.select(
        F.col("node").alias("__nb__"), F.col("deg").alias("deg_b")
    )
    keyed = (
        und.join(deg_a, und["a"] == deg_a["__na__"])
        .join(deg_b, und["b"] == deg_b["__nb__"])
        .select(
            "a", "b",
            F.struct(
                F.col("deg_a").alias("d"), F.col("a").alias("n")
            ).alias("ka"),
            F.struct(
                F.col("deg_b").alias("d"), F.col("b").alias("n")
            ).alias("kb"),
        )
    )
    oriented = keyed.select(
        F.when(F.col("ka") < F.col("kb"), F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(F.col("ka") < F.col("kb"), F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(F.col("ka") < F.col("kb"), F.col("kb")).otherwise(F.col("ka")).alias("kv"),
    ).transform(persist)
    o1 = oriented.select(
        F.col("u"), F.col("v").alias("w1"), F.col("kv").alias("k1")
    )
    o2 = oriented.select(
        F.col("u"), F.col("v").alias("w2"), F.col("kv").alias("k2")
    )
    wedges = o1.join(o2, "u").where(F.col("k1") < F.col("k2")).select(
        F.col("w1").alias("x"), F.col("w2").alias("y")
    )
    closing = oriented.select(
        F.col("u").alias("x"), F.col("v").alias("y")
    )
    tri = wedges.join(closing, ["x", "y"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )
    return tri
