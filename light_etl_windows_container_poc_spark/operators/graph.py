"""Iterative graph algorithms as DataFrame join loops (no GraphX needed).

Same loop shape as ``dedup.connected_components_stats``: each round is
one join against the edge relation plus one aggregate on the node key —
at cluster scale the edge relation is the only large input and it is
persisted once.

One cut rule for every round loop: a round ends in ``rounds.cut``, which
checkpoints it with one action whose row count is the loop's size or
emptiness test, and releases the round it supersedes, so plans stay
bounded and no dead round stays persisted. A checkpoint the returned
frame still reads is never released.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rounds import cut, release


def pagerank(edges: DataFrame, damping: float = 0.85,
             iterations: int = 10,
             dangling_correction: bool = True) -> DataFrame:
    """PageRank over a directed edge list (src, dst) → (node, pr).

    Callers with an undirected graph pass both edge directions — such
    graphs have no dangling nodes, so they can pass
    ``dangling_correction=False`` and save one aggregate per round.
    With the correction on, lost mass redistributes uniformly via a
    broadcast 1-row cross join (no driver collect), keeping Σpr = 1.

    Per-round work is ONE join + ONE aggregation: out-degree is folded
    into a persisted weighted-edge relation up front. Rounds 1..n-1 cut
    lineage with a lazy checkpoint and fuse into the final round's
    ``cut``, the call's one round job (a lost partition re-runs every
    round). The returned DataFrame is then materialized, so every
    internal cache (edge list, node set, weighted edges) and every
    intermediate round is RELEASED before return — a long-lived curation
    session never accumulates pinned graph caches. Partitioning is sized
    to the rank relation (≥1 partition per ~100k nodes): a 30-node graph
    must not pay 32-partition shuffle scheduling, a 1e9-node graph still
    spreads.
    """
    spark = edges.sparkSession
    # the edge list may carry an arbitrarily expensive upstream plan
    # (pagerank_words: text explode + self-join); persist it so the two
    # setup actions (node count, weighted-edge materialization) and the
    # per-round joins never recompute it
    edges = edges.select("src", "dst").persist()
    nodes_cached = (edges.select(F.col("src").alias("node"))
                    .union(edges.select(F.col("dst").alias("node")))
                    .distinct().persist())
    n = nodes_cached.count()
    nparts = max(1, min(spark.sparkContext.defaultParallelism,
                        n // 100_000 + 1))
    nodes = nodes_cached.coalesce(nparts)
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    w_edges = (edges.join(outdeg, "src")
               .select("src", "dst",
                       (F.lit(1.0) / F.col("outdeg")).alias("w"))
               .coalesce(nparts).persist())
    w_edges.count()
    edges.unpersist()
    pr = nodes.withColumn("pr", F.lit(1.0 / n))
    lazy_rounds = []
    for it in range(iterations):
        if it:
            pr = pr.localCheckpoint(eager=False)
            lazy_rounds.append(pr)
        contrib = (w_edges.join(pr.withColumnRenamed("node", "src"), "src")
                   .groupBy("dst")
                   .agg(F.sum(F.col("pr") * F.col("w")).alias("mass")))
        new_pr = (nodes.join(contrib, nodes.node == contrib.dst, "left")
                  .select("node", F.coalesce(F.col("mass"), F.lit(0.0))
                          .alias("mass")))
        if dangling_correction:
            lost = contrib.agg(
                ((F.lit(1.0) - F.coalesce(F.sum("mass"), F.lit(0.0))) / n)
                .alias("lost"))
            new_pr = (new_pr.crossJoin(F.broadcast(lost))
                      .select("node", (F.col("mass") + F.col("lost"))
                              .alias("mass")))
        pr = (new_pr.select("node",
                            (F.lit((1.0 - damping) / n)
                             + F.lit(damping) * F.col("mass")).alias("pr"))
              .coalesce(nparts))
    pr, _ = cut(pr)
    release(*lazy_rounds)
    w_edges.unpersist()
    nodes_cached.unpersist()
    return pr


def triangle_count(pairs: DataFrame) -> DataFrame:
    """Global triangle count over an undirected edge list of UNIQUE
    ordered pairs (a < b) → a 1-row (n_edges, n_triangles).

    The standard distributed shape: edges are re-oriented along the
    (degree, id) total order — every edge points from its lower-degree
    endpoint to the higher (id breaks ties), so each triangle is counted
    exactly once by joining u→v, v→w wedges against the closing edge
    u→w. Two equi-joins, no orientation blowup, no post-division. The
    degree orientation is what makes the wedge count survive skew: a
    hub of degree d has out-degree O(√m) under this order (every
    out-neighbor has degree ≥ its own), so wedge volume is O(m^1.5)
    instead of Σ deg² — an id-ordered orientation would let one low-id
    hub generate O(d²) wedges. Costs one degree aggregation + one
    broadcast-ready join up front; counting is orientation-invariant so
    results are identical.

    The result is computed eagerly (it is one row) so the edge cache the
    plan reads three times can be released before returning — no pinned
    caches outlive the call."""
    deg = (pairs.select(F.col("a_id").alias("x"))
           .unionAll(pairs.select(F.col("b_id").alias("x")))
           .groupBy("x").agg(F.count(F.lit(1)).alias("d")))
    da = deg.select(F.col("x").alias("a_id"), F.col("d").alias("da"))
    db = deg.select(F.col("x").alias("b_id"), F.col("d").alias("db"))
    a_first = (F.col("da") < F.col("db")) | \
        ((F.col("da") == F.col("db")) & (F.col("a_id") < F.col("b_id")))
    e = (pairs.select("a_id", "b_id").join(da, "a_id").join(db, "b_id")
         .select(F.when(a_first, F.col("a_id")).otherwise(F.col("b_id"))
                 .alias("u"),
                 F.when(a_first, F.col("b_id")).otherwise(F.col("a_id"))
                 .alias("v")))
    # persisted because the plan reads e three times (wedge twice +
    # closing edge) and `pairs` may carry an expensive upstream; released
    # below once the 1-row result is materialized
    e = e.persist()
    wedge = (e.alias("ab")
             .join(e.alias("bc"), F.col("ab.v") == F.col("bc.u"))
             .select(F.col("ab.u").alias("a"), F.col("ab.v").alias("b"),
                     F.col("bc.v").alias("c")))
    closing = e.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = wedge.join(closing, ["a", "c"])
    out = (e.agg(F.count(F.lit(1)).alias("n_edges"))
           .crossJoin(tri.agg(F.count(F.lit(1)).alias("n_triangles")))
           .localCheckpoint(eager=True))
    e.unpersist()
    return out


def label_propagation(edges: DataFrame, rounds: int) -> DataFrame:
    """Synchronous frequency-weighted label propagation → (node, label).

    ``edges`` is a SYMMETRIC (u, v) relation; the node set is its
    distinct ``u`` side (symmetry makes that every endpoint), each node
    seeded with its own id. Per round every node adopts the label most
    frequent among its neighbors under the TOTAL order (count DESC,
    label ASC) — deterministic for any partitioning, unlike classic
    randomized LPA, so an oracle can replay the exact label states.

    Per-round work is one join (shuffle on the neighbor key) + one
    count + one top-1 window, all keyed on the node id so the exchanges
    reuse one partitioning; lineage is cut per round like ``pagerank``.
    At cluster scale the edge relation is persisted once and each round
    moves |E| label rows, never the full graph structure.
    """
    from pyspark.sql import Window

    edges = edges.select("u", "v").persist()
    labels, _ = cut(edges.select(F.col("u").alias("node")).distinct()
                    .select("node", F.col("node").alias("label")))
    top1 = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("label"))
    for _ in range(rounds):
        freq = (edges.join(labels.withColumnRenamed("node", "v"), "v")
                .groupBy(F.col("u").alias("node"), "label")
                .agg(F.count(F.lit(1)).alias("c")))
        labels, _ = cut(freq.withColumn("rn", F.row_number().over(top1))
                        .filter(F.col("rn") == 1).select("node", "label"),
                        labels)
    edges.unpersist()
    return labels


def _canon(edges: DataFrame) -> DataFrame:
    """Canonical undirected form (hi, lo), deduped — the fixpoint test
    and symmetrization both work off this."""
    return (edges.select(F.greatest("u", "v").alias("hi"),
                         F.least("u", "v").alias("lo"))
            .filter(F.col("hi") != F.col("lo")).distinct())


def connected_components_star(pairs: DataFrame, max_phases: int = 40,
                              ) -> tuple[DataFrame, int]:
    """Connected components in O(log·) rounds via alternating
    large-star / small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond") → ((node, component), phases_used).

    dedup.connected_components propagates min labels ONE HOP per round
    — O(diameter) shuffles, fine for near-dup cliques but quadratic
    wall-clock on a path-shaped component (its own docstring defers to
    this algorithm). Here every phase rewires edges toward the
    component minimum with pointer-doubling effect:

      large-star(u): every neighbor v > u re-attaches to
                     m = min(Γ(u) ∪ {u})
      small-star(u): every neighbor v < u (and u itself) re-attaches
                     to m = min of those neighbors

    Both preserve connectivity (each replaced edge stays in the same
    component through m), monotonically shrink the potential, and at
    the fixpoint every component is a star centered at its minimum —
    the component map is then just the remaining edge list. Convergence
    for a 200-node path: 6 phases vs 100+ min-label rounds (tested).

    Each phase is two grouped aggregations + a join, all keyed on the
    node id; the fixpoint test compares canonical edge sets. Each phase
    ends in one ``cut``.
    """
    nodes = (pairs.select(F.col("a_id").alias("n"))
             .union(pairs.select(F.col("b_id").alias("n"))).distinct()
             .localCheckpoint(eager=False))  # materializes in final join
    cur, prev_n = cut(_canon(pairs.select(F.col("a_id").alias("u"),
                                          F.col("b_id").alias("v"))))
    phases = 0
    for _ in range(max_phases):
        sym = (cur.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
               .unionAll(cur.select(F.col("lo").alias("u"),
                                    F.col("hi").alias("v"))))
        # large-star: group the SYMMETRIC view by u
        m = (sym.groupBy("u").agg(F.min("v").alias("mn"))
             .select("u", F.least("mn", "u").alias("m")))
        # large-star output is already (hi, lo)-oriented (every emitted
        # edge is (v, m) with m ≤ u < v) and small-star is
        # duplicate-insensitive, so it feeds small-star as it is
        low = (sym.filter(F.col("v") > F.col("u")).join(m, "u")
               .select(F.col("v").alias("u"), F.col("m").alias("v")))

        # small-star: group edges by their LARGER endpoint; every
        # smaller neighbor AND u itself re-attach to the smallest
        m2 = low.groupBy("u").agg(F.min("v").alias("m"))
        ss = (low.join(m2, "u")
              .select(F.col("v").alias("u"), F.col("m").alias("v"))
              .unionAll(m2.select(F.col("u"), F.col("m").alias("v"))))
        nxt, n = cut(_canon(ss))
        phases += 1
        # fixpoint test: both are DISTINCT canonical edge sets, so unequal
        # counts prove inequality, and equal counts with nxt \ cur empty
        # prove equality; cur is released only after that check reads it
        same = (n == prev_n
                and nxt.exceptAll(cur).limit(1).count() == 0)
        release(cur)
        prev_n, cur = n, nxt
        if same:
            break
    else:  # pragma: no cover - certification graphs converge fast
        raise RuntimeError(f"star CC did not converge in {max_phases}")
    comp = (nodes.join(cur.select(F.col("hi").alias("n"),
                                  F.col("lo").alias("c")), "n", "left")
            .groupBy("n").agg(F.min(F.coalesce(F.col("c"), F.col("n")))
                              .alias("component"))
            .select(F.col("n").alias("node"), "component"))
    return comp, phases


def k_core(pairs: DataFrame, k: int, rounds: int,
           ) -> tuple[DataFrame, bool]:
    """Fixed-round k-core peel → ((node,), converged).

    Round i removes every node with fewer than ``k`` neighbors among
    round i-1's survivors; the true k-core is this peel's fixpoint.
    ``rounds`` is a FIXED budget so a relational oracle can replay the
    exact same peel; ``converged`` reports whether the last round
    changed nothing (alive sets shrink monotonically, so equal COUNTS
    mean equal sets). Per round: one join + one grouped count, keyed on
    the node id; lineage cut per round.
    """
    sym = (pairs.select(F.col("a_id").alias("u"), F.col("b_id").alias("v"))
           .unionAll(pairs.select(F.col("b_id").alias("u"),
                                  F.col("a_id").alias("v")))
           .distinct().persist())
    alive, prev_count = cut(sym.select(F.col("u").alias("n")).distinct())
    converged = False
    for _ in range(rounds):
        deg = (sym.join(alive.withColumnRenamed("n", "u"), "u")
               .join(alive.withColumnRenamed("n", "v"), "v")
               .groupBy("u").agg(F.count(F.lit(1)).alias("d")))
        alive, cur = cut(deg.filter(F.col("d") >= k)
                         .select(F.col("u").alias("n")), alive)
        converged = cur == prev_count
        prev_count = cur
    sym.unpersist()
    return alive, converged
