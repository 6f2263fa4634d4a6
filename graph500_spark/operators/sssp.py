"""Single-source shortest paths over weighted edges (SURVEY.md §7.2.8).

The reference generates edge weights (generator/graph_generator.hpp:479-506)
and declares the SSSP entry point but leaves it empty
(/root/reference/mpi/bfs.hpp:2569-2571, ``run_sssp { }``) — this module
supplies the capability the reference stubs out, Spark-first.

Algorithm: iterated relaxation (Bellman-Ford rounds) with a *delta
frontier* — only vertices whose (dist, pred) entry improved in the
previous round propose relaxations in the next, so per-round work is
proportional to the changing set, not the whole graph (the DataFrame
analog of delta-stepping's request generation).

Determinism: the tentative entry per vertex is the lexicographic
minimum of (dist, pred) structs, so the final tree is unique:
dist(v) is the true shortest distance and pred(v) = min{u :
dist(u) + w(u,v) = dist(v)} — an oracle-checkable property (the
queries registry pairs this with a DuckDB recursive-CTE oracle).

Scale notes: a round touches only the changed set; there is no
union + min-aggregation over all of ``dist``. The frontier (last
round's improved entries) is broadcast onto the edge list and reduced
to one min (dist, pred) offer per vertex — the round's only shuffle
while the joins broadcast. The offers are left-joined against
``dist`` to keep the ones that beat the current entry; those become
the next frontier (lazy checkpoint, materialized by the round's count)
and are folded into ``dist`` as ``dist ⋈anti improved ∪ improved``
under a lazy checkpoint that the next round's join materializes.
Every join side is broadcast while its driver-known row count stays
under ``broadcast_rows``: the frontier and the improved keys by their
counts, ``dist`` by an upper bound (seed rows + every round's improved
count, no count job) — past it the join falls back to a shuffle join.
Rounds ≤ hop-diameter of the shortest-path tree (weights ≥ 1 ⇒
finite).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from graph500_spark.functions.confscope import scoped_session_confs
from graph500_spark.functions.literal import literal_frame
from graph500_spark.functions.plantrunc import truncate_plan_lazy
from graph500_spark.functions.sizing import resolve_shuffle_partitions

DIST_SCHEMA = T.StructType(
    [
        T.StructField("vertex", T.LongType(), False),
        T.StructField("dist", T.LongType(), True),
        T.StructField("pred", T.LongType(), True),
    ]
)


def sssp(
    spark: SparkSession,
    edges_weighted: DataFrame,
    root: int,
    max_rounds: int | None = None,
    shuffle_partitions: int | str | None = "auto",
    broadcast_rows: int = 2_000_000,
    edge_count: int | None = None,
) -> DataFrame:
    """Shortest-path tree from ``root``: [vertex, dist, pred] for every
    reachable vertex (root has dist 0, pred == root). Input:
    [src, dst, weight] with integer weights ≥ 1, already symmetrized
    if undirected semantics are wanted.
    """
    # volume-derived default ("auto", functions/sizing.py): the edge
    # table is NOT persisted here, so auto engages only when the
    # caller supplies edge_count — never a scan over unpersisted
    # lineage just to size shuffles.
    sp_override = resolve_shuffle_partitions(
        spark, shuffle_partitions, edge_count
    )
    with scoped_session_confs(
        spark, {"spark.sql.shuffle.partitions": sp_override}
    ):
        seed = literal_frame(spark, [(root, 0, root)], DIST_SCHEMA)
        return _relax_rounds(
            edges_weighted, seed, 1, [], max_rounds, broadcast_rows
        )


def _relax_rounds(
    edges_weighted: DataFrame,
    seed: DataFrame,
    n_seed: int,
    group: list[str],
    max_rounds: int | None,
    broadcast_rows: int,
) -> DataFrame:
    """The delta-frontier loop shared by ``sssp`` (``group`` empty) and
    ``sssp_multi`` (``group == ["source"]``): state rows are keyed by
    ``group + ["vertex"]`` and carry (dist, pred)."""
    key = [*group, "vertex"]
    edges = edges_weighted.select("src", "dst", "weight")

    def bc(df, n):
        return F.broadcast(df) if n <= broadcast_rows else df

    dist = seed.transform(truncate_plan_lazy)
    frontier, n_frontier = dist, n_seed
    # upper bound on dist's rows: every improved row is either a new
    # vertex or replaces one, so seed + Σ improved never undercounts
    n_dist = n_seed
    rounds = 0
    while max_rounds is None or rounds < max_rounds:
        rounds += 1
        f_side = frontier.select(
            *group, F.col("vertex").alias("src"), F.col("dist").alias("f_dist")
        )
        offers = (
            edges.join(bc(f_side, n_frontier), "src")
            .groupBy(*group, F.col("dst").alias("vertex"))
            .agg(
                F.min(
                    F.struct(
                        (F.col("f_dist") + F.col("weight")).alias("dist"),
                        F.col("src").alias("pred"),
                    )
                ).alias("best")
            )
            .select(*key, "best.dist", "best.pred")
        )
        old = dist.select(
            *key, F.col("dist").alias("o_dist"), F.col("pred").alias("o_pred")
        )
        # improved = offers that beat the current entry (new vertex or
        # a struct-smaller (dist, pred)) — the next frontier. LAZY: the
        # count below materializes it; no separate checkpoint job.
        improved = (
            offers.join(bc(old, n_dist), key, "left")
            .filter(
                F.col("o_dist").isNull()
                | (F.col("dist") < F.col("o_dist"))
                | (
                    (F.col("dist") == F.col("o_dist"))
                    & (F.col("pred") < F.col("o_pred"))
                )
            )
            .select(*key, "dist", "pred")
            .transform(truncate_plan_lazy)
        )
        n_new = improved.count()
        if n_new == 0:
            break
        # the union appends improved's partitions to dist's; a narrow
        # coalesce back to the wider input keeps the state's width (and
        # every later scan's task count) flat over rounds. The
        # checkpoint keeps the state a LEAF plan (it is referenced
        # twice per round); the next round's join computes it
        width = max(
            dist.rdd.getNumPartitions(), improved.rdd.getNumPartitions()
        )
        dist = (
            dist.join(bc(improved.select(*key), n_new), key, "left_anti")
            .unionByName(improved)
            .coalesce(width)
            .transform(truncate_plan_lazy)
        )
        frontier, n_frontier = improved, n_new
        n_dist += n_new
    return dist


# ---------------------------------------------------------------------------
# SSSP validation — the shortest-path analog of the Graph500 BFS spec
# checks (mpi/validate.hpp:489-802); the reference never wrote these
# because run_sssp itself is empty. Same shape: each check is a pure
# DataFrame query returning violation rows; empty == pass.
# ---------------------------------------------------------------------------


def check_dist_ranges(dist_df: DataFrame, nglobalverts: int) -> DataFrame:
    """Check 1: parent ids in range, distances non-negative."""
    return dist_df.filter(
        (F.col("pred") < 0)
        | (F.col("pred") >= F.lit(nglobalverts))
        | (F.col("dist") < 0)
    ).select("vertex", "dist", "pred")


def check_root_dist(dist_df: DataFrame, root: int) -> DataFrame:
    """Check 2: dist[root]==0 with pred==root; no non-root vertex is
    its own parent."""
    bad_root = dist_df.filter(
        (F.col("vertex") == F.lit(root))
        & ((F.col("dist") != 0) | (F.col("pred") != F.col("vertex")))
    )
    self_parent = dist_df.filter(
        (F.col("vertex") != F.lit(root)) & (F.col("pred") == F.col("vertex"))
    )
    return bad_root.unionByName(self_parent).select("vertex", "dist", "pred")


def check_tree_weights(
    edges_weighted: DataFrame, dist_df: DataFrame, root: int
) -> DataFrame:
    """Check 3: every non-root entry's claimed parent edge exists and
    dist[v] == dist[pred[v]] + weight(pred[v], v). A missing edge
    (left-join null) is a violation too — this subsumes the BFS
    tree-edge-existence check."""
    claims = dist_df.filter(F.col("vertex") != F.lit(root)).select(
        "vertex", "dist", "pred"
    )
    parent = dist_df.select(
        F.col("vertex").alias("p_vertex"), F.col("dist").alias("p_dist")
    )
    edge_w = edges_weighted.select(
        F.col("src").alias("e_src"),
        F.col("dst").alias("e_dst"),
        F.col("weight").alias("e_w"),
    )
    return (
        claims.join(parent, claims.pred == parent.p_vertex, "left")
        .join(
            edge_w,
            (F.col("pred") == F.col("e_src"))
            & (F.col("vertex") == F.col("e_dst")),
            "left",
        )
        .filter(
            F.col("p_dist").isNull()
            | F.col("e_w").isNull()
            | (F.col("dist") != F.col("p_dist") + F.col("e_w"))
        )
        .select("vertex", "dist", "pred")
    )


def check_no_relaxable_edge(
    edges_weighted: DataFrame, dist_df: DataFrame
) -> DataFrame:
    """Check 4 (optimality): no edge (u,v,w) with u reached admits
    dist[v] > dist[u] + w, and no edge leaves the reached set (v
    unreached while u reached). This is the Bellman-Ford fixpoint
    condition — together with checks 1-3 it proves the distances are
    exactly the shortest-path metric."""
    u = dist_df.select(
        F.col("vertex").alias("src"), F.col("dist").alias("u_dist")
    )
    v = dist_df.select(
        F.col("vertex").alias("dst"), F.col("dist").alias("v_dist")
    )
    return (
        edges_weighted.join(u, "src", "inner")
        .join(v, "dst", "left")
        .filter(
            F.col("v_dist").isNull()
            | (F.col("v_dist") > F.col("u_dist") + F.col("weight"))
        )
        .select("src", "dst", "weight", "u_dist", "v_dist")
    )


def validate_sssp(
    edges_weighted: DataFrame,
    dist_df: DataFrame,
    root: int,
    nglobalverts: int,
) -> DataFrame:
    """All four checks → [check: string, violations: long] summary
    (same reporting convention as validate.validate_bfs)."""
    checks = {
        "dist_ranges": check_dist_ranges(dist_df, nglobalverts),
        "root_dist": check_root_dist(dist_df, root),
        "tree_weights": check_tree_weights(edges_weighted, dist_df, root),
        "no_relaxable_edge": check_no_relaxable_edge(
            edges_weighted, dist_df
        ),
    }
    out = None
    for name, df in checks.items():
        one = df.agg(F.count(F.lit(1)).alias("violations")).select(
            F.lit(name).alias("check"), "violations"
        )
        out = one if out is None else out.unionByName(one)
    return out


def sssp_multi(
    spark: SparkSession,
    edges_weighted: DataFrame,
    roots: list[int],
    max_rounds: int | None = None,
    shuffle_partitions: int | str | None = "auto",
    broadcast_rows: int = 2_000_000,
    edge_count: int | None = None,
) -> DataFrame:
    """[source, vertex, dist, pred] — k shortest-path trees through
    ONE shared delta-frontier loop: the operators/bfs.py::bfs_multi
    batching applied to weighted relaxation. Per-root results are
    identical to sequential sssp() (the state is keyed by
    (source, vertex), so trees never interact); the win is the
    reference's 64-root batching story — the per-round scheduling
    floor and the edge-table scan are paid once per BATCH, not once
    per root (the bench's bfs_s16 sequential-vs-batched pair measures
    that floor directly).

    Scale shape per round: the single-source round keyed by
    (source, vertex) — the frontier broadcast onto the edge list, one
    (source, vertex) min-struct shuffle with map-side partials, a left
    join against ``dist`` and an anti-join + union fold of the
    improved rows into it. Each join side is broadcast while its TOTAL
    rows across sources stay under ``broadcast_rows`` (driver-known
    counts; for ``dist`` the running bound roots + Σ improved)."""
    sp_override = resolve_shuffle_partitions(
        spark, shuffle_partitions, edge_count
    )
    with scoped_session_confs(
        spark, {"spark.sql.shuffle.partitions": sp_override}
    ):
        seed = literal_frame(
            spark,
            [(r, r, 0, r) for r in roots],
            "source long, vertex long, dist long, pred long",
        )
        return _relax_rounds(
            edges_weighted, seed, len(roots), ["source"], max_rounds,
            broadcast_rows,
        )
