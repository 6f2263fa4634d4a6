"""Level-synchronous BFS (SURVEY.md §2.3 J1/J2, §3.2).

The reference's direction-optimizing hybrid engine
(/root/reference/mpi/bfs.hpp:2651-2940) produces *some* valid BFS
predecessor tree (first-writer-wins CAS, bfs.hpp:1302). Here the same
semantics are one join formulation — frontier ⋈ adjacency, dedup by
min(parent) (a deterministic, spec-valid choice per FIXTURES.md §3) —
iterated in a driver loop with a global barrier per level, exactly
Pregel's model.

Why there is no bottom-up variant: top-down vs bottom-up is a physical
strategy for the same logical semi-join. In Spark the analogous runtime
choice (broadcast the small side, re-plan per level) is made by AQE from
actual frontier sizes, so the engine keeps ONE logical formulation and
lets the optimizer pick the physical plan — that is the Spark-first
translation of the reference's α/β direction heuristics
(bfs.hpp:2799-2829, parameters.h:87-89).

Scale notes:
  * The per-level join shuffles on src; pre-partitioning the edge table
    by src (``repartition("src")`` + persist, done in ``bfs``) makes
    every level reuse that exchange — only the (small) frontier moves.
  * ``localCheckpoint`` every level cuts the lineage chain that
    otherwise grows linearly with depth (the classic iterative-Spark
    failure mode; SURVEY.md §7.3).
  * The visited set stays distributed; the only driver-side value per
    level is the frontier count (the reference allreduces nq_size the
    same way, bfs.hpp:1163).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from graph500_spark.functions.confscope import scoped_session_confs
from graph500_spark.functions.literal import literal_frame
from graph500_spark.functions.plantrunc import truncate_plan_lazy
from graph500_spark.functions.sizing import resolve_shuffle_partitions

PRED_SCHEMA = T.StructType(
    [
        T.StructField("vertex", T.LongType(), False),
        T.StructField("pred", T.LongType(), True),
        T.StructField("depth", T.IntegerType(), True),
    ]
)


def bfs(
    spark: SparkSession,
    edges_clean: DataFrame,
    root: int,
    max_depth: int | None = None,
    prepartition: bool = True,
    shuffle_partitions: int | str | None = "auto",
    broadcast_rows: int = 2_000_000,
    edge_count: int | None = None,
) -> DataFrame:
    """BFS from ``root`` over a symmetrized, deduped edge list.

    Returns [vertex, pred, depth] for every *reached* vertex
    (root has pred == root, depth == 0 — the spec convention,
    /root/reference/mpi/validate.hpp:530). Unreached vertices are simply
    absent (≈ the reference's -1 entries).

    ``shuffle_partitions`` overrides spark.sql.shuffle.partitions for
    the duration of the loop (restored after): per-level shuffles are
    tiny relative to the input, and at small/medium scale the fixed
    cost of many near-empty reduce tasks dominates. The default
    ``"auto"`` applies the round-11 s24 rule — ~2M edge rows per
    shuffle partition, engaged only when the derived width EXCEEDS
    the session value (functions/sizing.py) — using ``edge_count``
    when the caller knows |E| (then the override also sizes the
    prepartition layout, since nothing has materialized yet), else a
    count of the persisted prepartitioned table (then only the
    per-level shuffles widen; the layout was already built). ``None``
    opts out entirely: the session value and AQE coalescing govern.

    Job structure: the root seed is a one-row frame built on the JVM
    (functions/literal.py — no Python worker), lazily checkpointed so
    the first level's broadcast build caches it. Each new frontier is
    lazily checkpointed and materialized by its own count — one job
    per level; ``reached`` is kept as a union of the
    already-checkpointed per-level frontiers, never re-materialized —
    re-checkpointing the union every level would recopy all reached
    rows, turning total work into O(n · depth). The seed build and the
    loop run inside the conf scope, so an exception anywhere restores
    the session width and releases the scope lock.

    Join strategy: checkpointed DataFrames carry no size statistics, so
    Catalyst alone would plan every level as a shuffle join and move the
    (large, persisted) edge table each iteration. The driver, however,
    knows the exact frontier and reached counts from the previous
    level's job, and injects ``broadcast()`` hints while they are under
    ``broadcast_rows`` — the Spark-first analog of the reference's
    direction-optimization heuristics (bfs.hpp:2799-2829): small
    frontier → map-side join against the stationary edge table; huge
    frontier (cluster scale) → fall back to shuffle join automatically.
    """
    edges = edges_clean.select("src", "dst")
    if prepartition:
        edges = edges.repartition("src").persist()

    try:
        sp_override = resolve_shuffle_partitions(
            spark,
            shuffle_partitions,
            edge_count,
            edges.count if prepartition else None,
        )
        # conf scoping serializes across driver threads; the seed
        # build runs inside the scope, so a failure restores it
        with scoped_session_confs(
            spark, {"spark.sql.shuffle.partitions": sp_override}
        ):
            frontier = literal_frame(
                spark, [(root, root, 0)], PRED_SCHEMA
            ).transform(truncate_plan_lazy)
            reached = frontier
            depth = 0
            n_frontier = 1
            n_reached = 1

            while True:
                if max_depth is not None and depth >= max_depth:
                    break
                depth += 1
                # One logical step: frontier ⋈ adjacency → candidate
                # (dst, src), keep min(src) per dst, drop already-reached.
                frontier_side = frontier.select(F.col("vertex").alias("src"))
                if n_frontier <= broadcast_rows:
                    frontier_side = F.broadcast(frontier_side)
                reached_side = reached.select("vertex")
                if n_reached <= broadcast_rows:
                    reached_side = F.broadcast(reached_side)
                # Join order depends on whether `reached` broadcasts:
                #  * broadcastable → anti-join FIRST: candidates pointing
                #    at already-reached vertices (the majority on hub
                #    levels) die map-side, and only genuinely-new ones
                #    enter the groupBy shuffle;
                #  * too big to broadcast → groupBy FIRST: the partial
                #    (map-side) min-aggregation collapses duplicate dsts
                #    before the shuffle, and the shuffled anti-join then
                #    reuses the groupBy's hash partitioning on vertex.
                candidates = edges.join(frontier_side, "src").select(
                    F.col("dst").alias("vertex"), F.col("src").alias("pred")
                )
                if n_reached <= broadcast_rows:
                    candidates = (
                        candidates.join(reached_side, "vertex", "left_anti")
                        .groupBy("vertex")
                        .agg(F.min("pred").alias("pred"))
                    )
                else:
                    candidates = (
                        candidates.groupBy("vertex")
                        .agg(F.min("pred").alias("pred"))
                        .join(reached_side, "vertex", "left_anti")
                    )
                candidates = candidates.withColumn("depth", F.lit(depth))
                # localCheckpoint makes the frontier a LEAF plan: without
                # it every level's plan tree embeds the previous level's
                # twice (join + anti-join) — exponential plan-tree growth
                # that overflows the JVM stack on deep graphs (persist()
                # alone does not truncate the logical plan). The LAZY form
                # fuses the materialization into the count below — one
                # driver barrier per level instead of two (guide §1.2/§5).
                new_frontier = candidates.transform(truncate_plan_lazy)
                n_new = new_frontier.count()
                if n_new == 0:
                    break
                reached = reached.unionByName(new_frontier)
                n_frontier = n_new
                n_reached += n_new
                frontier = new_frontier
    finally:
        if prepartition:
            edges.unpersist()
    return reached


MULTI_PRED_SCHEMA = T.StructType(
    [
        T.StructField("root", T.LongType(), False),
        T.StructField("vertex", T.LongType(), False),
        T.StructField("pred", T.LongType(), True),
        T.StructField("depth", T.IntegerType(), True),
    ]
)

MULTI_DEPTH_SCHEMA = T.StructType(
    [
        T.StructField("root", T.LongType(), False),
        T.StructField("vertex", T.LongType(), False),
        T.StructField("depth", T.IntegerType(), True),
    ]
)


def bfs_multi(
    spark: SparkSession,
    edges_clean: DataFrame,
    roots: list[int],
    max_depth: int | None = None,
    prepartition: bool = True,
    shuffle_partitions: int | str | None = "auto",
    broadcast_rows: int = 2_000_000,
    edge_count: int | None = None,
    with_pred: bool = True,
) -> DataFrame:
    """Batched multi-source BFS: all ``roots`` advance in ONE shared
    frontier keyed by (root, vertex) — returns [root, vertex, pred,
    depth], per-root results identical to ``bfs(root)``.

    ``with_pred=False`` (guide §2.3, project before the exchange):
    depth-only consumers (closeness, eccentricity, mean path length)
    never read ``pred``, so the per-level candidate rows carry only
    (root, vertex) — a third fewer bytes through every level's
    exchange — and the min-parent aggregate becomes a plain distinct.
    The (root, vertex, depth) sets are bit-identical either way: a
    vertex's BFS level does not depend on which parent wins the
    tie-break. Returns [root, vertex, depth] in this mode.

    Why this exists: the reference's benchmark phase runs 64 BFS
    sequentially (mpi/main.cc:34-178), and a level-synchronous loop
    pays a driver barrier + job-scheduling floor PER LEVEL PER ROOT.
    Batching B roots divides that fixed cost by B — each level is one
    job whose join carries B frontiers — and the edge table stays
    persisted/partitioned across the whole batch. Per-level work is
    the union of the per-root works (the data cost is unchanged);
    what shrinks is the O(depth · B) scheduling term, which dominates
    until data cost takes over. The level loop runs until ALL roots'
    frontiers are exhausted (max over roots of eccentricity).

    Same join-strategy heuristics as ``bfs``, with counts summed over
    the batch: the broadcast decision is about total bytes moved, not
    per-root logical size."""
    edges = edges_clean.select("src", "dst")
    if prepartition:
        edges = edges.repartition("src").persist()

    try:
        sp_override = resolve_shuffle_partitions(
            spark,
            shuffle_partitions,
            edge_count,
            edges.count if prepartition else None,
        )
        # conf scoping serializes across driver threads; the seed
        # build runs inside the scope, so a failure restores it
        with scoped_session_confs(
            spark, {"spark.sql.shuffle.partitions": sp_override}
        ):
            if with_pred:
                seed = literal_frame(
                    spark, [(r, r, r, 0) for r in roots], MULTI_PRED_SCHEMA
                )
            else:
                seed = literal_frame(
                    spark, [(r, r, 0) for r in roots], MULTI_DEPTH_SCHEMA
                )
            frontier = seed.transform(truncate_plan_lazy)
            reached = frontier
            depth = 0
            n_frontier = len(roots)
            n_reached = len(roots)

            while True:
                if max_depth is not None and depth >= max_depth:
                    break
                depth += 1
                frontier_side = frontier.select(
                    "root", F.col("vertex").alias("src")
                )
                if n_frontier <= broadcast_rows:
                    frontier_side = F.broadcast(frontier_side)
                reached_side = reached.select("root", "vertex")
                if n_reached <= broadcast_rows:
                    reached_side = F.broadcast(reached_side)
                if with_pred:
                    candidates = edges.join(frontier_side, "src").select(
                        "root",
                        F.col("dst").alias("vertex"),
                        F.col("src").alias("pred"),
                    )
                    if n_reached <= broadcast_rows:
                        candidates = (
                            candidates.join(
                                reached_side, ["root", "vertex"], "left_anti"
                            )
                            .groupBy("root", "vertex")
                            .agg(F.min("pred").alias("pred"))
                        )
                    else:
                        candidates = (
                            candidates.groupBy("root", "vertex")
                            .agg(F.min("pred").alias("pred"))
                            .join(
                                reached_side, ["root", "vertex"], "left_anti"
                            )
                        )
                else:
                    candidates = edges.join(frontier_side, "src").select(
                        "root", F.col("dst").alias("vertex")
                    )
                    if n_reached <= broadcast_rows:
                        candidates = candidates.join(
                            reached_side, ["root", "vertex"], "left_anti"
                        ).dropDuplicates(["root", "vertex"])
                    else:
                        candidates = candidates.dropDuplicates(
                            ["root", "vertex"]
                        ).join(reached_side, ["root", "vertex"], "left_anti")
                candidates = candidates.withColumn("depth", F.lit(depth))
                # lazy checkpoint + count = one driver barrier per level
                new_frontier = candidates.transform(truncate_plan_lazy)
                n_new = new_frontier.count()
                if n_new == 0:
                    break
                reached = reached.unionByName(new_frontier)
                n_frontier = n_new
                n_reached += n_new
                frontier = new_frontier
    finally:
        if prepartition:
            edges.unpersist()
    return reached


def bfs_fixed_depth(
    spark: SparkSession,
    edges_clean: DataFrame,
    root: int,
    k: int,
    prepartition: bool = True,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """BFS truncated at depth k — the SQL-expressible form (a k-fold
    join chain the DuckDB oracle reproduces exactly). Same per-level
    semantics as ``bfs`` (min-parent, first level wins)."""
    return bfs(
        spark,
        edges_clean,
        root,
        max_depth=k,
        prepartition=prepartition,
        shuffle_partitions=shuffle_partitions,
    )


HARMONIC_SCALE = 1_000_000


def harmonic_closeness_sampled(
    spark: SparkSession,
    edges_clean: DataFrame,
    roots: list[int],
    **bfs_kwargs,
) -> DataFrame:
    """Sampled harmonic centrality: H(v) ≈ Σ_{r∈roots, r≠v} 1/d(r, v)
    over a root sample — the standard scalable estimator (exact
    closeness needs all-pairs distances). Returns [vertex, n_sources,
    harmonic_q] with the reciprocal depths quantized to integers
    (round(10^6/d)) so the aggregation is exact and order-free.

    Built directly on ``bfs_multi``: one batched traversal provides
    every sampled source's distances, so the estimator costs one
    multi-frontier BFS, not |roots| sequential ones. Disconnected
    (root, vertex) pairs contribute nothing — harmonic centrality's
    standard treatment of unreachable nodes. Runs the traversal
    pred-free (``with_pred=False``): only depths are consumed, so the
    per-level exchanges carry (root, vertex) rows — same level sets,
    a third fewer shuffled bytes."""
    bfs_kwargs.setdefault("with_pred", False)
    depths = bfs_multi(spark, edges_clean, roots, **bfs_kwargs).filter(
        F.col("depth") > 0
    )
    return depths.groupBy("vertex").agg(
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        F.sum(
            F.expr(f"cast(round({HARMONIC_SCALE}.0 / depth) as bigint)")
        ).alias("harmonic_q"),
    )


def diameter_double_sweep(
    spark: SparkSession,
    edges_clean: DataFrame,
    root: int,
    **bfs_kwargs,
) -> DataFrame:
    """Double-sweep diameter lower bound (Magnien-Latapy-Habib 2009):
    BFS from ``root``, BFS again from the farthest vertex found — the
    second eccentricity is a lower bound on the graph diameter that is
    exact on trees and empirically tight on real-world graphs, at the
    cost of TWO traversals instead of |V|.

    Returns one row [start_root, far_vertex, ecc1, far_vertex2,
    diameter_lb]. Farthest vertices are picked deterministically
    (depth desc, vertex asc); the mid-sweep pick is a 1-row driver
    finish (same bounded budget as root sampling in plans/runner.py).

    Ref context: the reference reports BFS depth statistics per run
    (mpi/main.cc:147-178) but has no diameter estimator; this is the
    standard scalable bound built on the same traversal core."""
    d1 = bfs(spark, edges_clean, root, **bfs_kwargs)
    far1 = (
        d1.orderBy(F.col("depth").desc(), F.col("vertex").asc())
        .limit(1)
        .collect()[0]
    )
    d2 = bfs(spark, edges_clean, int(far1["vertex"]), **bfs_kwargs)
    return (
        d2.agg(
            F.max(
                F.struct(
                    F.col("depth").alias("d"),
                    (-F.col("vertex")).alias("nv"),
                )
            ).alias("b")
        )
        .select(
            F.lit(int(root)).cast("long").alias("start_root"),
            F.lit(int(far1["vertex"])).cast("long").alias("far_vertex"),
            F.lit(int(far1["depth"])).cast("integer").alias("ecc1"),
            (-F.col("b.nv")).cast("long").alias("far_vertex2"),
            F.col("b.d").cast("integer").alias("diameter_lb"),
        )
    )
