"""Graph500 pipeline benchmark for graph500_spark.

    python3 perfbench/run.py --workload g500_seq --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root. One driver process on ``local[nproc]``:
set-up (session start and first job), then cold pipeline iterations of
the workload, at least one, while the next would end within
``--seconds``. The end-to-end figures are CPU seconds of the process
tree. Every iteration's outputs are checked against NumPy reference
results (``oracle.py``) and, with the spec seeds, against the reference's
golden values. The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed``, ``metrics``. With ``--trace 1`` every
iteration is traced and the metrics are the per-layer counters
(``spans.py``). See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# per process, so that runs sharing a checkout never share scratch space
WORK = ROOT / ".perfbench_work" / str(os.getpid())

DRIVER_MEM = "3g"  # one local-mode JVM on a shared 15 GiB host
STEAL_LIMIT = 0.05  # share of CPU time stolen by the hypervisor


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _steal(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def _peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM)."""
    kb = 0
    for pid in pids:
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024


def _prepare_env(nproc: int) -> None:
    """Keep the JVM, its Python workers and every scratch file inside the
    checkout, and let workers import the package from any cwd."""
    for d in ("local", "tmp", "warehouse"):
        (WORK / d).mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    sys.path.insert(0, str(ROOT))


def _start_session(nproc: int):
    from graph500_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        extra_conf={
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            # the traced iteration reads every job and stage back
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def _shutdown(spark) -> None:
    """Stop Spark, end the gateway JVM and wait for every process this
    run started to exit."""
    from pyspark import SparkContext

    from spans import descendants

    pids = descendants()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if Path(f"/proc/{p}").exists()]
        time.sleep(0.2)
    for pid in pids:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def _git_sha() -> str:
    head = ROOT / ".git" / "HEAD"
    try:
        ref = head.read_text().strip()
        if ref.startswith("ref: "):
            return (ROOT / ".git" / ref[5:]).read_text().strip()
        return ref
    except OSError:
        return "unknown"


def _iteration(spark, wl, scale, seeds, check, tracer) -> dict:
    """One checked pipeline iteration on the graph of ``seeds``, with
    ``tracer``'s wrappers installed; an exception is a failed operation
    and yields ``{}``."""
    from oracle import Graph
    from workloads import inputs, run_iteration

    oracle = Graph(scale, 16, seeds)
    with inputs(seeds), tracer.installed():
        try:
            out = run_iteration(spark, wl, scale, oracle, seeds == (2, 3),
                                check, tracer)
        except Exception as exc:  # counted as a failed operation
            traceback.print_exc(file=sys.stderr)
            check.op(False, f"{type(exc).__name__}: {exc}"[:300])
            return {}
    out["oracle"] = oracle
    return out


def run(args) -> int:
    nproc = os.cpu_count() or 1
    _prepare_env(nproc)
    # imported after the environment is set: it imports the package
    from spans import descendants, settle, tree_cpu_s
    from workloads import WORKLOADS, Check

    wl = WORKLOADS[args.workload]
    scale = args.scale or wl.scale
    check = Check()
    stat0 = _cpu_times()
    t, cpu0 = time.monotonic(), tree_cpu_s()
    spark = _start_session(nproc)
    try:
        settle()
        setup_s = tree_cpu_s() - cpu0
        setup_wall_s = time.monotonic() - t
        iters, layers = _measure(spark, wl, scale, args, check)
        sc = spark.sparkContext
        header = {
            "workload": wl.name, "seed": args.seed, "scale": scale,
            "trace": args.trace, "iterations": len(iters),
            "setup_wall_s": setup_wall_s,
            "master": sc.master,
            "defaultParallelism": sc.defaultParallelism,
            "spark.sql.shuffle.partitions":
                spark.conf.get("spark.sql.shuffle.partitions"),
            "spark": spark.version,
            "java": sc._jvm.System.getProperty("java.version"),
            "python": sys.version.split()[0], "git_sha": _git_sha(),
            "nproc": nproc,
            "peak_rss_mb": round(_peak_rss_mb(descendants()), 1),
        }
    finally:
        _shutdown(spark)
    iters = [it for it in iters if it]  # failed iterations yield {}
    med = statistics.median

    metrics = {}
    if layers:
        for k in layers[0]:
            metrics[k] = (med([m[k] for m in layers]), _unit(k))
    elif iters:
        metrics = {
            "setup_s": (setup_s, "s"),
            "cpu_s": (med([it["cpu_s"] for it in iters]), "s"),
        }
    steal = _steal(stat0, _cpu_times())
    header.update({
        "steal_frac": round(steal, 4),
        "steal_over_limit": steal > STEAL_LIMIT,
        "errors": check.errors[:10],
        "digests": [it["digests"] for it in iters if "digests" in it],
        "per_iteration": [
            {k: v for k, v in it.items() if k not in ("oracle", "digests")}
            for it in iters
        ],
    })
    print(json.dumps({"header": header}))
    print(json.dumps({
        "correct": check.failed == 0 and bool(metrics),
        "attempted": max(1, check.attempted),
        "failed": check.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


def _measure(spark, wl, scale, args, check):
    """Whole iterations, each on its own graph, until the next would
    overrun ``--seconds``; with ``--trace 1`` every iteration is traced
    and yields its per-layer counters."""
    from workloads import seeds_for
    import spans

    out: list[dict] = []
    layers: list[dict] = []
    t0 = time.monotonic()
    while not out or (time.monotonic() - t0) * (1 + 1 / len(out)) \
            <= args.seconds:
        seeds = seeds_for(args.seed, len(out))
        tracer = spans.Tracer(spark, groups=bool(args.trace))
        mark = spans.Watermark(spark.sparkContext) if args.trace else None
        out.append(_iteration(spark, wl, scale, seeds, check, tracer))
        if args.trace:
            layers.append(spans.layer_metrics(tracer, mark))
            _count_clean(tracer, out[-1], layers[-1], check)
    return out, layers


def _count_clean(tracer, it: dict, vals: dict, check) -> None:
    """Adds graph_build.keep_ratio: the traced iteration's raw and clean
    tables counted again, outside any layer; the clean count is checked
    against the reference."""
    raw = tracer.returned.get("generator")
    clean = tracer.returned.get("graph_build")
    vals["graph_build.keep_ratio"] = 0.0
    if raw is not None and clean is not None and it:
        n_clean, want = clean.count(), it["oracle"].n_clean
        check.op(n_clean == want, f"clean edges {n_clean} != {want}")
        vals["graph_build.keep_ratio"] = n_clean / raw.count()


def _unit(name: str) -> str:
    key = name.rsplit(".", 1)[1]
    if key.endswith("_s"):
        return "s"
    if key.endswith("_mb"):
        return "MB"
    return "ratio" if key == "keep_ratio" else "count"


def smoke() -> int:
    """Every workload at SCALE 10, untraced and traced, with the spec
    seeds: all checks pass (every root's edge count is pf_nedge[10] =
    16,383) and every metric BENCHMARK.json names is emitted."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ok = True
    for wl in spec["workloads"]:
        for trace in (0, 1):
            names = {m["name"] for m in
                     spec["per_layer" if trace else "end_to_end"]}
            out = subprocess.run(
                [sys.executable, str(HERE / "run.py"),
                 "--workload", wl["name"], "--seed", "0", "--seconds", "1",
                 "--trace", str(trace), "--scale", "10"],
                cwd=ROOT, capture_output=True, text=True, timeout=600,
            )
            lines = out.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if lines else {}
            missing = names - set(res.get("metrics", {}))
            good = (out.returncode == 0 and res.get("correct")
                    and res.get("failed") == 0 and not missing)
            ok &= bool(good)
            print(wl["name"], f"trace={trace}", "ok" if good else "FAIL",
                  f"missing={sorted(missing)}" if missing else "",
                  "" if good else out.stderr[-2000:], flush=True)
    return 0 if ok else 1


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=0,
                   help="0 runs the spec's generator seeds (2, 3)")
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=int, default=None,
                   help="override the workload's SCALE (smoke runs use 10)")
    p.add_argument("--smoke", action="store_true",
                   help="run every workload at SCALE 10 and check the output")
    args = p.parse_args(argv)
    if args.smoke:
        return smoke()
    if args.workload is None:
        p.error("--workload is required")
    try:
        return run(args)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
        try:
            WORK.parent.rmdir()
        except OSError:  # another run's scratch space is still there
            pass


if __name__ == "__main__":
    sys.exit(main())
