"""Sampled betweenness centrality (Brandes 2001, root-sampled) —
level-synchronous forward path counting + backward dependency
accumulation, batched over all sample roots in one (root, vertex)
keyed dataflow (the bfs_multi discipline).

Cross-engine exactness: Brandes' dependency recursion
    δ(v) = Σ_{w : child} (σ(v)/σ(w)) · (1 + δ(w))
is float-valued, and grouped double sums are shuffle-order-dependent —
the obstruction that keeps most iterative float algorithms out of the
value-hash gate. Removed here by specifying the operator in FIXED
POINT: δ is carried as integer micro-units (δ_q = δ·10⁶) and each
term is one half-up integer rounding
    term_q = (σ_v·(10⁶ + δ_q(w)) + σ_w div 2) div σ_w
— all-integer arithmetic, so per-level sums are exact and
shuffle-order-free, and the DuckDB oracle (same unrolled levels, same
expression) lands on identical bits. Path counts σ are exact integers
throughout (they are sums over parents).

Scale shape: forward pass = one equi-join of the previous level's σ
onto the edge list per level (map-side-partial sums); backward pass =
the same join shape along reversed level order. State is keyed by
(root, vertex) so the whole sample batch advances per level — the
per-level scheduling floor is paid once per batch, not once per root
(measured 1.8-2.3× for 4 roots on the BFS benches). localCheckpoint
per level keeps plan depth O(1).

Reference scope: the reference computes no centralities (BFS only —
/root/reference/mpi/bfs.hpp); this is engine capability beyond parity,
built on the same traversal machinery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from graph500_spark.functions.confscope import (
    acquire_scoped_conf,
    release_scoped_conf,
)
from graph500_spark.functions.literal import literal_frame
from graph500_spark.functions.plantrunc import (
    truncate_plan,
    truncate_plan_lazy,
)

BC_SCALE = 1_000_000


def betweenness_sampled(
    spark: SparkSession,
    edges_clean: DataFrame,
    roots: list[int],
    max_depth: int = 32,
    shuffle_partitions: int | None = None,
    broadcast_rows: int = 2_000_000,
    keep_pairs: bool = True,
) -> DataFrame:
    """[vertex, bc_q] — betweenness contribution sums (micro-units)
    over the sampled roots, excluding each root's own row (Brandes
    accumulates δ only at non-roots). Unreached vertices are absent.

    Join strategy: level/σ/δ frames are checkpoint leaves with no
    Catalyst stats, so without hints every per-level join would
    shuffle the STATIONARY edge cache — twice per level across the
    two passes. The driver knows every level's row count (the forward
    loop counts each level) and injects broadcast() while a side fits
    under ``broadcast_rows``; past that the joins degrade to shuffle
    joins (the bfs.py discipline).
    """
    saved_sp = None
    if shuffle_partitions is not None:
        saved_sp = acquire_scoped_conf(
            spark, "spark.sql.shuffle.partitions", shuffle_partitions
        )
    try:
        edges = edges_clean.select("src", "dst").persist()
        # ---- forward: depths + exact path counts per (root, vertex)
        frontier = literal_frame(
            spark,
            [(r, r, 0, 1) for r in roots],
            "root long, vertex long, depth int, sigma long",
        ).transform(truncate_plan_lazy)
        levels = [frontier]
        # `seen` stays a LAZY union of the checkpointed levels (each
        # leaf is cached; never recopied into a new checkpoint — the
        # same O(n·depth)-copy avoidance bfs.py uses), and emptiness
        # is a count() over the freshly checkpointed level instead of
        # a separate .rdd.isEmpty() job.
        seen = frontier.select("root", "vertex")
        depth = 0
        level_counts = [len(roots)]
        n_seen = len(roots)

        def bc(df, n):
            return F.broadcast(df) if n <= broadcast_rows else df

        # In the broadcast regime the forward pass ALSO materializes
        # each level's TREE-PAIR table — the post-anti-join, pre-agg
        # fan-out rows (root, v at lvl, w newly reached, σ_v). That
        # multiset is exactly "edges from level l to level l+1 per
        # root", i.e. the rows the backward pass used to RE-DERIVE by
        # joining the full edge cache twice per level; caching them
        # turns every backward level into one broadcast join over
        # already-computed pairs (guide §2.4: don't recompute a join
        # whose output you already had). The pairs checkpoint is lazy
        # and chains under the level's count, so the forward pass
        # still pays ONE driver barrier per level. Past broadcast_rows
        # the pairs are not kept (caching edge-scale rows per level is
        # the wrong trade at cluster scale) and the backward pass
        # falls back to the re-join form below.
        pairs_by_level: list | None = [] if keep_pairs else None
        while depth < max_depth:
            prev = levels[-1]
            joined = edges.join(
                bc(
                    prev.withColumnRenamed("vertex", "src"),
                    level_counts[-1],
                ),
                "src",
            )
            in_regime = (
                pairs_by_level is not None
                and level_counts[-1] <= broadcast_rows
                and n_seen <= broadcast_rows
            )
            if in_regime:
                pairs = (
                    joined.select(
                        "root",
                        F.col("src").alias("v"),
                        F.col("dst").alias("w"),
                        F.col("sigma").alias("sigma_v"),
                    )
                    .join(
                        bc(
                            seen.select(
                                "root", F.col("vertex").alias("w")
                            ),
                            n_seen,
                        ),
                        ["root", "w"],
                        "left_anti",
                    )
                    .transform(truncate_plan_lazy)
                )
                nxt = (
                    pairs.groupBy("root", F.col("w").alias("vertex"))
                    .agg(F.sum("sigma_v").alias("sigma"))
                    .select(
                        "root",
                        "vertex",
                        F.lit(depth + 1).cast("int").alias("depth"),
                        "sigma",
                    )
                    # one count materializes nxt AND the chained pairs
                    .transform(truncate_plan_lazy)
                )
            else:
                pairs_by_level = None  # fall back for the whole query
                pairs = None
                nxt = (
                    joined.select(
                        "root", F.col("dst").alias("vertex"), "sigma"
                    )
                    .join(
                        bc(seen, n_seen), ["root", "vertex"], "left_anti"
                    )
                    .groupBy("root", "vertex")
                    .agg(F.sum("sigma").alias("sigma"))
                    .select(
                        "root",
                        "vertex",
                        F.lit(depth + 1).cast("int").alias("depth"),
                        "sigma",
                    )
                    .transform(truncate_plan_lazy)
                )
            n_nxt = nxt.count()
            if n_nxt == 0:
                break
            if pairs_by_level is not None:
                pairs_by_level.append(pairs)
            levels.append(nxt)
            level_counts.append(n_nxt)
            n_seen += n_nxt
            seen = seen.unionAll(nxt.select("root", "vertex"))
            depth += 1
        else:
            raise RuntimeError(f"bfs exceeded max_depth={max_depth}")

        # ---- backward: δ_q accumulation from the deepest level up.
        # In the broadcast regime each per-level δ is a LAZY
        # checkpoint leaf: no separate materialization job — the next
        # level's (blocking) broadcast build computes and caches it
        # before its second consumer (the final accumulation) runs, so
        # the backward pass pays zero standalone driver barriers. Past
        # broadcast_rows the eager form stays: a lazy leaf with two
        # consumers and no blocking build risks double compute.
        def tp_bk(df, n_rows):
            return df.transform(
                truncate_plan_lazy
                if n_rows <= broadcast_rows
                else truncate_plan
            )

        delta = tp_bk(
            levels[-1].select(
                "root", "vertex", F.lit(0).cast("long").alias("delta_q")
            ),
            level_counts[-1],
        )
        # deepest-level vertices carry δ = 0 but still appear in the
        # output (bc_q = 0 unless another root contributes) — same
        # row universe as the oracle's level union
        acc_parts = [delta.filter(F.col("vertex") != F.col("root"))]
        for lvl in range(len(levels) - 2, -1, -1):
            cur = levels[lvl]
            n_child = level_counts[lvl + 1]
            child = levels[lvl + 1].select(
                "root",
                F.col("vertex").alias("dst"),
                F.col("sigma").alias("sigma_w"),
            ).join(
                bc(
                    delta.select(
                        "root",
                        F.col("vertex").alias("dst"),
                        F.col("delta_q").alias("dq_w"),
                    ),
                    n_child,
                ),
                ["root", "dst"],
            )
            # each tree edge (v at lvl) -> (w at lvl+1) contributes
            # (σ_v·(SCALE+δ_q(w)) + σ_w div 2) div σ_w  — half-up
            # integer rounding, exact and order-free under the sum
            if pairs_by_level is not None:
                # broadcast regime: the tree pairs were materialized by
                # the forward pass — one broadcast join of the child
                # state over the cached pairs replaces the two
                # full-edge-cache joins (same (v, w) multiset, same
                # term expression, bit-identical integer sums)
                contrib = (
                    pairs_by_level[lvl]
                    .join(
                        bc(
                            child.select(
                                "root",
                                F.col("dst").alias("w"),
                                "sigma_w",
                                "dq_w",
                            ),
                            n_child,
                        ),
                        ["root", "w"],
                    )
                    .select(
                        "root",
                        F.col("v").alias("vertex"),
                        F.expr(
                            f"(sigma_v * ({BC_SCALE} + dq_w)"
                            " + sigma_w div 2) div sigma_w"
                        ).alias("term_q"),
                    )
                    .groupBy("root", "vertex")
                    .agg(F.sum("term_q").cast("long").alias("delta_q"))
                )
            else:
                contrib = (
                    edges.join(
                        bc(
                            cur.select(
                                "root",
                                F.col("vertex").alias("src"),
                                F.col("sigma").alias("sigma_v"),
                            ),
                            level_counts[lvl],
                        ),
                        "src",
                    )
                    .join(bc(child, n_child), ["root", "dst"])
                    .select(
                        "root",
                        F.col("src").alias("vertex"),
                        F.expr(
                            f"(sigma_v * ({BC_SCALE} + dq_w)"
                            " + sigma_w div 2) div sigma_w"
                        ).alias("term_q"),
                    )
                    .groupBy("root", "vertex")
                    .agg(F.sum("term_q").cast("long").alias("delta_q"))
                )
            delta = tp_bk(
                cur.select("root", "vertex")
                .join(contrib, ["root", "vertex"], "left")
                .select(
                    "root",
                    "vertex",
                    F.coalesce("delta_q", F.lit(0)).cast("long").alias(
                        "delta_q"
                    ),
                ),
                level_counts[lvl],
            )
            acc_parts.append(
                delta.filter(F.col("vertex") != F.col("root"))
            )
        edges.unpersist()
        out = acc_parts[0]
        for p in acc_parts[1:]:
            out = out.unionAll(p)
        return out.groupBy("vertex").agg(
            F.sum("delta_q").cast("long").alias("bc_q")
        )
    finally:
        release_scoped_conf(
            spark, "spark.sql.shuffle.partitions", saved_sp
        )


def betweenness_sampled_sql(
    edges_raw_sql: str, roots: list[int], depth_bound: int = 12
) -> str:
    """Unrolled oracle: the recursive-CTE depth table (as in
    bfs_multi_sql), then per-level σ and δ_q CTEs mirroring the
    engine's integer arithmetic exactly. Levels beyond the true
    eccentricity are empty CTEs (no-ops)."""
    roots_values = ", ".join(f"(CAST({r} AS BIGINT))" for r in roots)
    parts = [
        f"WITH RECURSIVE raw AS ({edges_raw_sql})",
        "nl AS (SELECT src, dst FROM raw WHERE src <> dst)",
        "clean AS MATERIALIZED (SELECT DISTINCT src, dst FROM"
        " (SELECT src, dst FROM nl UNION ALL"
        "  SELECT dst AS src, src AS dst FROM nl))",
        f"roots(root) AS (VALUES {roots_values})",
        "walk(root, vertex, depth) AS ("
        " SELECT root, root, CAST(0 AS INTEGER) FROM roots"
        " UNION"
        " SELECT w.root, e.dst, CAST(w.depth + 1 AS INTEGER)"
        f" FROM clean e JOIN walk w ON e.src = w.vertex"
        f" WHERE w.depth < {depth_bound})",
        "depths AS MATERIALIZED (SELECT root, vertex,"
        " MIN(depth) AS depth FROM walk GROUP BY root, vertex)",
        "s0 AS MATERIALIZED (SELECT root, root AS vertex,"
        " CAST(1 AS BIGINT) AS sigma FROM roots)",
    ]
    for i in range(1, depth_bound + 1):
        parts.append(
            f"s{i} AS MATERIALIZED (SELECT d.root, d.vertex,"
            " CAST(SUM(p.sigma) AS BIGINT) AS sigma"
            " FROM depths d JOIN clean e ON e.dst = d.vertex"
            f" JOIN s{i-1} p ON p.root = d.root AND p.vertex = e.src"
            f" JOIN depths dp ON dp.root = d.root AND dp.vertex = e.src"
            f" AND dp.depth = {i-1}"
            f" WHERE d.depth = {i} GROUP BY d.root, d.vertex)"
        )
    # δ at the deepest bound level = 0
    parts.append(
        f"d{depth_bound} AS MATERIALIZED (SELECT root, vertex,"
        f" CAST(0 AS BIGINT) AS delta_q FROM s{depth_bound})"
    )
    for i in range(depth_bound - 1, -1, -1):
        parts.append(
            f"c{i} AS MATERIALIZED (SELECT v.root, v.vertex,"
            " CAST(SUM((v.sigma * (1000000 + w.delta_q)"
            " + w.sigma // 2) // w.sigma) AS BIGINT) AS delta_q"
            f" FROM s{i} v JOIN clean e ON e.src = v.vertex"
            f" JOIN (SELECT s.root, s.vertex, s.sigma, d.delta_q"
            f"       FROM s{i+1} s JOIN d{i+1} d"
            "        ON d.root = s.root AND d.vertex = s.vertex) w"
            " ON w.root = v.root AND w.vertex = e.dst"
            " GROUP BY v.root, v.vertex)"
        )
        parts.append(
            f"d{i} AS MATERIALIZED (SELECT s.root, s.vertex,"
            " CAST(COALESCE(c.delta_q, 0) AS BIGINT) AS delta_q"
            f" FROM s{i} s LEFT JOIN c{i} c"
            " ON c.root = s.root AND c.vertex = s.vertex)"
        )
    union = " UNION ALL ".join(
        f"SELECT root, vertex, delta_q FROM d{i}"
        f" WHERE vertex <> root"
        for i in range(depth_bound)
    )
    return (
        ", ".join(parts)
        + f", acc AS ({union})"
        + " SELECT vertex, CAST(SUM(delta_q) AS BIGINT) AS bc_q"
        + " FROM acc GROUP BY vertex"
    )


KATZ_SCALE = 1_000_000
KATZ_ALPHA_DEN = 8  # α = 1/8 as a power-of-two divisor — integer-exact


def katz_centrality(
    spark: SparkSession,
    edges_clean: DataFrame,
    n_iterations: int = 6,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """[vertex, katz_q] — Katz centrality (damped walk counting)
    k(v) = Σ_t α^t · #walks_t(→v), truncated at n_iterations, in
    integer micro-units.

    Specified in fixed point like betweenness: α = 1/8 is a
    power-of-two integer divisor, each edge's per-round contribution
    is one truncating integer division
        term_q = (SCALE + k_q(u)) div 8
    so every round's sums are exact and shuffle-order-free — an
    unrolled-CTE oracle lands on identical bits. Per round: one
    equi-join of the state onto the edge list + a map-side-partial
    sum (the pagerank plan without the degree normalization).
    Vertices with no in-walks score 0 and are included."""
    from graph500_spark.operators.pregel import pregel

    verts = (
        edges_clean.select(F.col("src").alias("vertex"))
        .distinct()
        .select("vertex", F.lit(0).cast("long").alias("katz_q"))
    )
    out = pregel(
        spark,
        edges_clean.select("src", "dst"),
        verts,
        send=lambda j: j.select(
            F.col("dst").alias("vertex"),
            F.expr(f"({KATZ_SCALE} + katz_q) div {KATZ_ALPHA_DEN}").alias(
                "msg"
            ),
        ),
        merge=[F.sum("msg").cast("long").alias("msg")],
        apply_fn=lambda st, inbox: st.join(inbox, "vertex", "left").select(
            "vertex",
            F.coalesce("msg", F.lit(0)).cast("long").alias("katz_q"),
        ),
        n_supersteps=n_iterations,
        shuffle_partitions=shuffle_partitions,
    )
    return out


def katz_centrality_sql(clean_sql: str, n_iterations: int = 6) -> str:
    parts = [
        f"WITH clean AS ({clean_sql})",
        "k0 AS MATERIALIZED (SELECT vertex,"
        " CAST(0 AS BIGINT) AS katz_q FROM"
        " (SELECT DISTINCT src AS vertex FROM clean))",
    ]
    for i in range(1, n_iterations + 1):
        parts.append(
            f"m{i} AS MATERIALIZED (SELECT e.dst AS vertex,"
            f" CAST(SUM((1000000 + p.katz_q) // {KATZ_ALPHA_DEN})"
            " AS BIGINT) AS msg"
            f" FROM clean e JOIN k{i-1} p ON p.vertex = e.src"
            " GROUP BY e.dst)"
        )
        parts.append(
            f"k{i} AS MATERIALIZED (SELECT k.vertex,"
            " CAST(COALESCE(m.msg, 0) AS BIGINT) AS katz_q"
            f" FROM k0 k LEFT JOIN m{i} m ON m.vertex = k.vertex)"
        )
    return (
        ", ".join(parts)
        + f" SELECT vertex, katz_q FROM k{n_iterations}"
    )
