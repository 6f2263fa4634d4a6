"""Reference results computed in NumPy on the driver, independent of Spark.

The benchmark regenerates each workload's raw edge list with the
package's own NumPy R-MAT kernel (``rmat_edges_numpy``, the function the
Spark generator runs inside ``mapInPandas``) and derives the expected
outputs here with plain array code: the clean edge count, the
connected-component labels, each BFS root's reached set and TEPS edge
count, PageRank and sampled Brandes betweenness. The Spark results are
compared against these, so a seed that no golden value covers is still
checked end to end.
"""

from __future__ import annotations

import numpy as np

from graph500_spark.sources.generator import rmat_edges_numpy

# the reference's pf_nedge table: the TEPS edge count of the sampled roots
# at edgefactor 16, seeds (2, 3), which all fall in the giant component;
# tests/test_golden_parity.py pins the same values for the first root
PF_NEDGE = {10: 16_383, 12: 65_535, 16: 1_048_570}


class Graph:
    """Raw and clean edge arrays of one generated graph plus lazily
    computed reference results."""

    def __init__(self, scale: int, edgefactor: int, seeds: tuple[int, int]):
        self.nverts = 1 << scale
        idx = np.arange(self.nverts * edgefactor, dtype=np.int64)
        self.src, self.dst = rmat_edges_numpy(scale, idx, *seeds)
        # construction keeps one row per ordered pair (with or without a
        # weight payload): the symmetric closure of the distinct pairs
        loop = self.src == self.dst
        lo = np.minimum(self.src, self.dst)[~loop]
        hi = np.maximum(self.src, self.dst)[~loop]
        canon = np.unique(lo * self.nverts + hi)
        self.n_clean = 2 * len(canon)
        lo, hi = canon // self.nverts, canon % self.nverts
        pairs = np.concatenate([np.stack([lo, hi], 1), np.stack([hi, lo], 1)])
        # CSR of the deduped symmetric simple graph (no self loops)
        order = np.lexsort((pairs[:, 1], pairs[:, 0]))
        self.cs, self.cd = pairs[order, 0], pairs[order, 1]
        self.indptr = np.searchsorted(
            self.cs, np.arange(self.nverts + 1)
        )
        self._labels: np.ndarray | None = None

    @property
    def labels(self) -> np.ndarray:
        """Connected-component label (min vertex id) of every vertex."""
        if self._labels is None:
            lab = np.arange(self.nverts, dtype=np.int64)
            while True:
                new = lab.copy()
                np.minimum.at(new, self.cs, lab[self.cd])
                new = new[new]  # pointer jumping
                if np.array_equal(new, lab):
                    break
                lab = new
            self._labels = lab
        return self._labels

    def non_isolated(self) -> np.ndarray:
        return np.unique(self.cs)

    def edge_visit_count(self, root: int) -> int:
        """Raw edges (duplicates and self loops included) with both
        endpoints in ``root``'s BFS tree, i.e. its component."""
        return int(np.count_nonzero(self.labels[self.src] == self.labels[root]))

    def reached(self, root: int) -> np.ndarray:
        comp = np.flatnonzero(self.labels == self.labels[root])
        if len(comp) == 1:
            return comp  # a root with only self loops reaches itself
        return np.intersect1d(comp, self.non_isolated())

    def pagerank(self, n_iterations: int) -> tuple[np.ndarray, np.ndarray]:
        """(vertices, rank x n) by the operator's power-method formula."""
        verts = self.non_isolated()
        n = len(verts)
        deg = np.diff(self.indptr).astype(np.float64)
        rank = np.zeros(self.nverts)
        rank[verts] = 1.0 / n
        for _ in range(n_iterations):
            contrib = np.zeros(self.nverts)
            contrib[verts] = rank[verts] / deg[verts]
            mass = np.bincount(self.cd, weights=contrib[self.cs],
                               minlength=self.nverts)
            rank = (1.0 - 0.85) / n + 0.85 * mass
        return verts, rank[verts] * n

    def betweenness(self, roots: list[int], bc_scale: int) -> dict[int, int]:
        """Brandes accumulation in the operator's fixed-point integer
        form: per tree edge (v, w), (σ_v·(S + δ_w) + σ_w div 2) div σ_w."""
        total = np.zeros(self.nverts, dtype=np.int64)
        hit = np.zeros(self.nverts, dtype=bool)
        for r in roots:
            depth = np.full(self.nverts, -1, dtype=np.int64)
            sigma = np.zeros(self.nverts, dtype=np.int64)
            depth[r], sigma[r] = 0, 1
            frontier = np.array([r])
            tree: list[tuple[np.ndarray, np.ndarray]] = []
            while True:
                counts = self.indptr[frontier + 1] - self.indptr[frontier]
                v = np.repeat(frontier, counts)
                offs = np.arange(len(v)) - np.repeat(
                    np.cumsum(counts) - counts, counts
                )
                w = self.cd[np.repeat(self.indptr[frontier], counts) + offs]
                new = depth[w] == -1
                v, w = v[new], w[new]
                if not len(w):
                    break
                frontier = np.unique(w)
                depth[frontier] = len(tree) + 1
                np.add.at(sigma, w, sigma[v])
                tree.append((v, w))
            delta = np.zeros(self.nverts, dtype=np.int64)
            for v, w in reversed(tree):
                terms = (
                    sigma[v] * (bc_scale + delta[w]) + sigma[w] // 2
                ) // sigma[w]
                np.add.at(delta, v, terms)
            reached = np.flatnonzero(depth >= 0)
            reached = reached[reached != r]
            total[reached] += delta[reached]
            hit[reached] = True
        return {int(x): int(total[x]) for x in np.flatnonzero(hit)}
