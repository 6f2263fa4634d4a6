"""Per-layer tracing from outside the package.

``Tracer.installed()`` replaces each layer function with a wrapper on the
module attribute its callers look up (``plans.runner`` calls
``bfs_mod.bfs``, ``validate.validate_bfs``, ...). A wrapper charges the
wall time since the previous switch to the layer that was active, makes
its own layer active and sets it as the Spark job group. The group stays
set after the call returns, until the next wrapped call, so the caller's
own ``count()``/``collect()`` that forces a lazy result is charged to the
layer that built it. A call nested inside another layer's function hands
the group back to that layer when it returns.

Every switch also reads the CPU time of this process and all its
descendants (the driver JVM and PySpark's Python workers) from ``/proc``,
so each layer gets ``cpu_s`` next to ``wall_s``. The kernel does not
charge time the hypervisor steals to processes, so CPU time follows host
contention far less than wall time does. Untraced runs use the same
wrappers with ``groups=False``: the clocks only, no job groups, no REST
reads.

Stage and task figures per job group come from the Spark UI's REST API
on the driver (localhost).
"""

from __future__ import annotations

import json
import os
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from datetime import datetime
from pathlib import Path

from graph500_spark.operators import bfs as bfs_mod
from graph500_spark.operators import centrality, components, graph_build
from graph500_spark.operators import pagerank as pagerank_mod
from graph500_spark.operators import roots as roots_mod
from graph500_spark.operators import sssp as sssp_mod
from graph500_spark.operators import stats, validate
from graph500_spark.plans import runner
from graph500_spark.sources import generator

# layer -> the (module, attribute) pairs its wrappers replace
LAYERS = {
    "generator": [(generator, "generate_kronecker_edges")],
    "graph_build": [(graph_build, "build_clean_edges")],
    "roots": [(roots_mod, "find_roots")],
    "bfs": [(bfs_mod, "bfs"), (bfs_mod, "bfs_multi")],
    "validate": [
        (validate, "validate_bfs"), (validate, "validate_bfs_multi"),
        (validate, "edge_visit_count"), (validate, "edge_visit_counts_multi"),
        (sssp_mod, "validate_sssp"),
    ],
    "stats": [(stats, "run_statistics"), (stats, "teps_summary")],
    "runner": [(runner, "run_benchmark")],
    "sssp": [(sssp_mod, "sssp")],
    "components": [(components, "connected_components")],
    "pagerank": [(pagerank_mod, "pagerank")],
    "centrality": [(centrality, "betweenness_sampled")],
}
COUNTERS = ["calls", "wall_s", "cpu_s", "stage_busy_s", "driver_idle_s",
            "task_cpu_s", "jobs", "stages", "tasks", "shuffle_write_mb"]
_TICK = os.sysconf("SC_CLK_TCK")
SETTLE_LIMIT_S = 20.0  # longest wait for the process tree to go idle


def descendants() -> list[int]:
    """Pids of every live descendant of this process."""
    children: dict[int, list[int]] = {}
    for p in Path("/proc").iterdir():
        if p.name.isdigit():
            try:
                ppid = int((p / "stat").read_text().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(p.name))
    out, todo = [], [os.getpid()]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and its descendants,
    including exited children they have reaped."""
    ticks = 0
    for pid in [os.getpid()] + descendants():
        try:
            f = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / _TICK


def settle() -> None:
    """Wait until the process tree is nearly idle: under a tenth of a core
    over half a second. Background work that a phase started, such as JIT
    compilation in a cold JVM, then ends before the next CPU reading
    instead of running on into whatever is measured next."""
    deadline = time.monotonic() + SETTLE_LIMIT_S
    last = tree_cpu_s()
    while time.monotonic() < deadline:
        time.sleep(0.5)
        now = tree_cpu_s()
        if now - last < 0.05:
            return
        last = now


class Tracer:
    """Per-layer wall and CPU clocks; with ``groups`` also the Spark job
    group of the active layer, for ``layer_metrics``."""

    def __init__(self, spark, groups: bool = True):
        self.sc = spark.sparkContext
        self.groups = groups
        self.active: str | None = None
        self.since = 0.0
        self.cpu_since = 0.0
        self.stack: list[str] = []  # layers of the wrapped calls running
        self.calls: dict[str, int] = defaultdict(int)
        self.wall: dict[str, float] = defaultdict(float)
        self.cpu: dict[str, float] = defaultdict(float)
        self.returned: dict[str, object] = {}  # last result per layer
        self.overhead = 0.0  # seconds spent in the tracer's own calls

    def _switch(self, layer: str | None) -> None:
        now, cpu = time.monotonic(), tree_cpu_s()
        if self.active is not None:
            self.wall[self.active] += now - self.since
            self.cpu[self.active] += cpu - self.cpu_since
        self.active, self.since, self.cpu_since = layer, now, cpu
        if self.groups:
            if layer is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(layer, layer)
        self.overhead += time.monotonic() - now

    def stop(self) -> None:
        """Close the active layer's clocks; nothing is charged until the
        next wrapped call."""
        self._switch(None)

    def _wrap(self, layer: str, fn):
        def traced(*args, **kwargs):
            self.calls[layer] += 1
            self._switch(layer)
            self.stack.append(layer)
            try:
                self.returned[layer] = fn(*args, **kwargs)
                return self.returned[layer]
            finally:
                self.stack.pop()
                # called from another layer's function: hand the group
                # back to it; from the runner or the benchmark: stay
                caller = self.stack[-1] if self.stack else "runner"
                if caller != "runner":
                    self._switch(caller)

        return traced

    @contextmanager
    def installed(self):
        saved = []
        for layer, attrs in LAYERS.items():
            for mod, name in attrs:
                fn = getattr(mod, name)
                saved.append((mod, name, fn))
                setattr(mod, name, self._wrap(layer, fn))
        try:
            yield self
        finally:
            self.stop()
            for mod, name, fn in saved:
                setattr(mod, name, fn)


def _rest(sc, path: str):
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def _ts(s: str) -> float:
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").timestamp()


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


class Watermark:
    """REST state before a traced iteration: the last job id and the
    driver's cumulative GC time."""

    def __init__(self, sc):
        drain(sc)
        self.job = max((j["jobId"] for j in _rest(sc, "jobs")), default=-1)
        self.gc_ms = _gc_ms(sc)


def drain(sc) -> None:
    """Wait until the listener bus has delivered every event to the
    status store the REST API reads."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def _gc_ms(sc) -> int:
    return sum(e["totalGCTime"] for e in _rest(sc, "executors"))


def layer_metrics(tracer: Tracer, mark: Watermark) -> dict[str, float]:
    """Per-layer counters for the jobs started after ``mark``."""
    sc = tracer.sc
    drain(sc)
    jobs = sorted(_rest(sc, "jobs"), key=lambda j: j["jobId"])
    complete = {s["stageId"]: s for s in _rest(sc, "stages?status=complete")}
    # a stage belongs to the first job listing it; later jobs that reuse
    # its shuffle output list it as skipped
    owner: dict[int, dict] = {}
    for j in jobs:
        for i in j["stageIds"]:
            owner.setdefault(i, j)
    out: dict[str, float] = {}
    for layer in LAYERS:
        mine = {j["jobId"] for j in jobs
                if j["jobId"] > mark.job and j.get("jobGroup") == layer}
        st = [complete[i] for i, j in owner.items()
              if i in complete and j["jobId"] in mine]
        busy = _union_s([
            (_ts(s["submissionTime"]), _ts(s["completionTime"])) for s in st
        ])
        wall = tracer.wall.get(layer, 0.0)
        vals = {
            "calls": tracer.calls.get(layer, 0),
            "wall_s": wall,
            "cpu_s": tracer.cpu.get(layer, 0.0),
            "stage_busy_s": busy,
            "driver_idle_s": max(0.0, wall - busy),
            "task_cpu_s": sum(s["executorCpuTime"] for s in st) / 1e9,
            "jobs": len(mine),
            "stages": len(st),
            "tasks": sum(s["numCompleteTasks"] for s in st),
            "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in st) / 2**20,
        }
        for k in COUNTERS:
            out[f"{layer}.{k}"] = vals[k]
    out["jvm.gc_s"] = (_gc_ms(sc) - mark.gc_ms) / 1000.0
    out["trace.overhead_s"] = tracer.overhead
    return out
