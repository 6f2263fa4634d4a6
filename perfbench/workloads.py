"""The benchmark's workloads: one pipeline iteration each, plus its checks.

Every call into the package goes through a module attribute
(``generator.generate_kronecker_edges``, ``sssp_mod.sssp``, ...), the
same way ``plans.runner`` calls them, so the tracer in ``spans.py`` can
wrap the layers without editing the package.
"""

from __future__ import annotations

import hashlib
import time
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import SparkSession

from graph500_spark.operators import centrality, components, graph_build
from graph500_spark.operators import pagerank as pagerank_mod
from graph500_spark.operators import roots as roots_mod
from graph500_spark.operators import sssp as sssp_mod
from graph500_spark.plans import runner
from graph500_spark.sources import generator

from oracle import PF_NEDGE, Graph
from spans import Tracer, settle, tree_cpu_s

EDGEFACTOR = 16
PAGERANK_ITERATIONS = 10
# the layers from generation until the clean graph is counted
CONSTRUCT = ("generator", "graph_build")


@dataclass(frozen=True)
class Workload:
    name: str
    scale: int
    num_roots: int
    kernels: bool = False


WORKLOADS = {
    w.name: w
    for w in [
        Workload("g500_seq", scale=13, num_roots=1),
        Workload("kernels", scale=6, num_roots=4, kernels=True),
    ]
}

# sha256 prefix of the sorted integer kernel outputs with the spec seeds
# (2, 3), per scale. PageRank's floats are checked against the reference
# with a tolerance instead: a different summation order may flip their
# last rounded digit.
PINNED = {
    6: {"cc": "cd7d4b2eb2191823", "betweenness": "44298ca028a8a5a5"},
    10: {"cc": "ab6cc7887d4d1655", "betweenness": "32535ed4ff8bf8fe"},
}


def seeds_for(seed: int, iteration: int) -> tuple[int, int]:
    """Generator seeds of a run's iteration; seed 0, iteration 0 gives the
    spec's (2, 3)."""
    return (generator.USERSEED1 + seed,
            generator.USERSEED2 + seed + iteration)


@contextmanager
def inputs(seeds: tuple[int, int]):
    """Bind the workload's generator seeds, as the module attribute
    ``plans.runner`` calls."""
    gen = generator.generate_kronecker_edges

    def generate(spark, scale, edgefactor=16, **kwargs):
        kwargs.setdefault("userseed1", seeds[0])
        kwargs.setdefault("userseed2", seeds[1])
        return gen(spark, scale, edgefactor, **kwargs)

    generator.generate_kronecker_edges = generate
    try:
        yield
    finally:
        generator.generate_kronecker_edges = gen


class Check:
    """Counts attempted and failed operations of one run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


def _digest(rows) -> str:
    return hashlib.sha256(repr(sorted(rows)).encode()).hexdigest()[:16]


def run_iteration(spark: SparkSession, wl: Workload, scale: int,
                  oracle: Graph, golden: bool, check: Check,
                  tracer: Tracer) -> dict:
    """One pipeline iteration inside ``inputs`` and ``tracer.installed()``:
    the Spark work, timed, then the checks of its outputs. Returns the
    timings (and, for the runner, its per-root figures); ``{}`` when the
    runner's validation gate fails."""
    t0, cpu0 = time.monotonic(), tree_cpu_s()
    if wl.kernels:
        out = _kernels(spark, scale, wl.num_roots)
    else:
        try:
            result = runner.run_benchmark(
                spark, scale=scale, edgefactor=EDGEFACTOR,
                num_roots=wl.num_roots,
            )
            _, teps = runner.benchmark_statistics(spark, result)
            hm_teps = teps.collect()[0]["harmonic_mean_teps"]
        except AssertionError as exc:  # the runner's validation gate
            for _ in range(wl.num_roots):
                check.op(False, f"validation: {str(exc)[:200]}")
            return {}
    wall = time.monotonic() - t0
    tracer.stop()  # the checks below are not the program's work
    settle()  # the background work the iteration started, to its end
    timing = {"wall_s": wall, "cpu_s": tree_cpu_s() - cpu0}
    timing["construct_s"] = sum(tracer.wall[k] for k in CONSTRUCT)
    timing["construct_cpu_s"] = sum(tracer.cpu[k] for k in CONSTRUCT)
    if wl.kernels:
        return {**timing,
                "digests": _check_kernels(out, scale, oracle, golden, check)}
    _check_roots(result.runs, hm_teps, wl, scale, oracle, golden, check)
    return {
        **timing,
        "bfs_s": [r["bfs_time"] for r in result.runs],
        "validate_s": [r["validate_time"] for r in result.runs],
        "harmonic_mean_teps": hm_teps,
    }


def _check_roots(runs, hm_teps, wl, scale, oracle, golden, check) -> None:
    """Every root's edge count against the reference (and the golden with
    the spec seeds), and the statistics layer's harmonic mean. The
    runner's validation gate has passed: it raises otherwise."""
    distinct = len({r["root"] for r in runs}) == len(runs) == wl.num_roots
    spe = [r["bfs_time"] / max(1.0, r["edge_count"]) for r in runs]
    check.op(abs(hm_teps * sum(spe) / len(spe) - 1) < 1e-9,
             f"harmonic_mean_teps {hm_teps} != 1/mean(seconds per edge)")
    for r in runs:
        want = oracle.edge_visit_count(r["root"])
        if golden and scale in PF_NEDGE:
            want = PF_NEDGE[scale]
        check.op(distinct and int(r["edge_count"]) == want,
                 f"root {r['root']}: edge_count {r['edge_count']} != {want}")


def _kernels(spark, scale, num_roots) -> dict:
    """The weighted graph, built on the payload path (no int32 narrowing),
    ``num_roots`` sampled roots, then sssp from the first root with its
    validation, components, PageRank and betweenness over the roots.
    Returns the collected outputs."""
    nverts = 1 << scale
    raw = generator.generate_kronecker_edges(
        spark, scale, EDGEFACTOR, weighted=True
    ).persist()
    raw.count()
    clean = graph_build.build_clean_edges(raw).persist()
    n_clean = clean.count()
    try:
        roots = roots_mod.find_roots(spark, raw, nverts, num_roots)
        dist = sssp_mod.sssp(spark, clean, roots[0],
                             edge_count=n_clean).persist()
        sssp_viol = sum(
            r["violations"] for r in
            sssp_mod.validate_sssp(clean, dist, roots[0], nverts).collect()
        )
        reached = [r["vertex"] for r in dist.select("vertex").collect()]
        dist.unpersist()
        cc = [tuple(r) for r in components.connected_components(
            spark, clean).collect()]
        pr = [tuple(r) for r in pagerank_mod.pagerank(
            spark, clean, PAGERANK_ITERATIONS).collect()]
        bc = [tuple(r) for r in centrality.betweenness_sampled(
            spark, clean, roots).collect()]
    finally:
        clean.unpersist()
        raw.unpersist()
    return {"roots": roots, "sssp_viol": sssp_viol, "reached": reached,
            "cc": cc, "pr": pr, "bc": bc}


def _check_kernels(out, scale, oracle, golden, check) -> dict:
    """The kernels' outputs against the reference; with the spec seeds
    also the pinned digests. Returns the digests."""
    roots = out["roots"]
    check.op(
        out["sssp_viol"] == 0
        and sorted(out["reached"]) == oracle.reached(roots[0]).tolist(),
        f"sssp: {out['sssp_viol']} violations or reached set differs",
    )
    lab = oracle.labels
    want = sorted((int(v), int(lab[v])) for v in oracle.non_isolated())
    check.op(sorted(out["cc"]) == want, "components differ from reference")
    verts, ranks = oracle.pagerank(PAGERANK_ITERATIONS)
    got = dict(out["pr"])
    # norm_rank is rounded to 5 decimals, and a different summation
    # order may flip the last digit
    check.op(
        len(got) == len(verts) and all(
            abs(got.get(int(v), -1.0) - x) <= 2e-5
            for v, x in zip(verts, ranks)
        ),
        "pagerank differs from reference",
    )
    check.op(
        dict(out["bc"]) == oracle.betweenness(roots, centrality.BC_SCALE),
        "betweenness differs from reference",
    )
    digests = {"cc": _digest(out["cc"]), "betweenness": _digest(out["bc"])}
    pinned = PINNED.get(scale) if golden else None
    if pinned is not None:
        check.op(digests == pinned, f"digests {digests} != {pinned}")
    return digests
