"""Deterministic BFS-root sampling (SURVEY.md O4).

Ref: find_roots, /root/reference/mpi/benchmark_helper.hpp:475-508 —
candidates are drawn from the shared MRG double stream as
root = int((d0 + d1) * nverts) % nverts (two doubles per candidate,
stream position = counter), rejected if a duplicate of an
already-chosen root or if the vertex has no edges; stops after
num_roots accepted or when counter exceeds 2*nverts.

Order sensitivity: the accepted set depends on replaying the exact
candidate sequence — a distributed `limit` would be wrong (SURVEY.md
§7.3). The candidate stream is generated driver-side (it is 64 items
plus a handful of rejections); only the degree-membership test touches
the cluster, in batches, via a semi-join of a JVM-built literal frame
(functions/literal.py) against the has-edge vertex set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graph500_spark.functions import prng
from graph500_spark.functions.literal import literal_frame


def candidate_stream(nverts: int, start_counter: int, count: int) -> list[int]:
    """The raw candidate roots from stream positions
    [start_counter, start_counter + 2*count), two doubles each."""
    d = prng.make_random_numbers(2 * count, prng_seed1(), prng_seed2(), start_counter)
    out = []
    for i in range(count):
        out.append(int((d[2 * i] + d[2 * i + 1]) * nverts) % nverts)
    return out


def prng_seed1() -> int:
    return 2


def prng_seed2() -> int:
    return 3


def find_roots(
    spark: SparkSession,
    edges: DataFrame,
    nverts: int,
    num_roots: int = 64,
    batch: int = 256,
) -> list[int]:
    """Replay the reference's root-selection sequence.

    ``edges`` is any raw/clean edge list; membership = vertex has >= 1
    incident edge (has_edge, graph_constructor.hpp:101-110).
    """
    has_edge = (
        edges.select(F.explode(F.array("src", "dst")).alias("v"))
        .distinct()
        .persist()
    )
    roots: list[int] = []
    counter = 0
    limit = 2 * nverts
    try:
        while len(roots) < num_roots and counter <= limit:
            cands = candidate_stream(nverts, counter, batch)
            uniq = list(dict.fromkeys(cands))
            member_rows = (
                literal_frame(spark, [(v,) for v in uniq], "v long")
                .join(has_edge, "v", "left_semi")
                .collect()
            )
            members = {r["v"] for r in member_rows}
            for cand in cands:
                counter += 2
                if counter > limit:
                    break
                if cand in roots:
                    continue
                if cand in members:
                    roots.append(cand)
                    if len(roots) == num_roots:
                        break
    finally:
        has_edge.unpersist()
    return roots
