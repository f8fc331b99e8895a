"""Benchmark of the record-linkage engine's production entry points.

    python3 perfbench/run.py --workload full_rebuild --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout, on ``local[nproc]`` in this one
process. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` untraced and traced
operations alternate and the metrics are per layer (see ``trace.py``).

Everything it writes stays under ``.perfbench/`` in the checkout: inputs
cached by (workload, seed, size), and a per-run work directory that is
removed on exit.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark"
WARMUP_OPS = 1  # the cold operation, which compiles the plans
# A run's figure moves with the host's load from run to run, not with the
# number of operations in it: over ten seeds the IQR/median of wall_s was
# no wider with two timed operations than with three. Two keep a set of
# runs inside its time budget on a contended host.
MIN_TIMED_OPS = 2
CACHE_ENTRIES_KEPT = 12  # per workload
JVM_HEAP = "1g"  # fixed far below host RAM so peak RSS can repeat


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------- processes


def _process_tree(pid: int) -> list[int]:
    out, i = [pid], 0
    while i < len(out):
        p = out[i]
        i += 1
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    out.extend(int(c) for c in f.read().split())
        except OSError:  # the process ended while we walked
            continue
    return out


def reset_peak_rss() -> None:
    """Restart VmHWM of this process tree (Linux ``clear_refs`` 5), so the
    peak covers one operation only. Without permission the peak also covers
    everything before it."""
    for p in _process_tree(os.getpid()):
        try:
            with open(f"/proc/{p}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process, the JVM and its Python workers."""
    total_kb = 0
    for p in _process_tree(os.getpid()):
        try:
            with open(f"/proc/{p}/status") as f:
                total_kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except (OSError, StopIteration):  # ended, or a kernel thread
            continue
    return total_kb * 1024 / 1e6


# --------------------------------------------------------------- session


class Context:
    def __init__(self, seed: int, cache: str, work: str, cores: int):
        self.seed, self.cache, self.work, self.cores = seed, cache, work, cores
        self.spark = None
        self.tracer = None

    def span(self, layer: str, name: str):
        if self.tracer is not None and self.tracer.active:
            return self.tracer.span(layer, name)
        return contextlib.nullcontext()


def _spark_env(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the work directory; let the workers import the program."""
    for d in ("local", "tmp", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable


def start_session(ctx: Context, event_log: bool):
    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.session import (
        get_spark,
    )

    conf = {
        "spark.driver.memory": JVM_HEAP,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(ctx.work, "local"),
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(ctx.work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(
        "perfbench", cores=ctx.cores, shuffle_partitions=2 * ctx.cores, extra_conf=conf
    )


def warm_query(spark) -> None:
    """A small query through the JVM, a Python worker and codegen."""
    import pandas as pd
    from pyspark.sql import functions as F

    def plus_one(s):
        return s + 1

    # real types, not the postponed strings this module's annotations give
    plus_one.__annotations__ = {"s": pd.Series, "return": pd.Series}
    plus_one = F.pandas_udf(plus_one, "long")
    spark.range(1000, numPartitions=4).groupBy((F.col("id") % 7).alias("k")).agg(
        F.sum(plus_one("id"))
    ).collect()


def stop_session(spark) -> None:
    """Stop the SparkContext, then the JVM, and wait until every process
    they started (the JVM, Python daemons and workers) has ended."""
    from pyspark import SparkContext

    started = [p for p in _process_tree(os.getpid()) if p != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits on EOF
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while started and time.monotonic() < deadline:
        started = [p for p in started if _alive(p)]
        time.sleep(0.1)
    for p in started:  # orphaned workers that outlived the JVM
        with contextlib.suppress(ProcessLookupError):
            os.kill(p, signal.SIGKILL)


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; an exited process awaiting its reaper
    (state Z) counts as ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# ------------------------------------------------------------------ runs


def _sweep_dead_work_dirs(parent: str) -> None:
    """Remove work directories left by runs that were killed."""
    for name in os.listdir(parent) if os.path.isdir(parent) else []:
        if name.isdigit() and not _alive(int(name)):
            shutil.rmtree(os.path.join(parent, name), ignore_errors=True)


def _prune_cache(parent: str, workload: str) -> None:
    entries = [
        os.path.join(parent, e) for e in os.listdir(parent)
        if e.startswith(workload + "-") and ".tmp" not in e
    ]
    entries.sort(key=os.path.getmtime)
    for e in entries[:-CACHE_ENTRIES_KEPT]:
        shutil.rmtree(e, ignore_errors=True)


def _run_op(wl, i: int, traced: bool, tracer=None):
    """One timed operation -> (wall seconds, OpResult, root span or None)."""
    from perfbench.workloads import OpResult

    wl.before(i)
    reset_peak_rss()
    root = None
    t0 = time.perf_counter()
    try:
        if traced:
            root = tracer.open("op", f"op{i}")
        try:
            wl.call()
        finally:
            if root is not None:
                tracer.close(root)
        wall = time.perf_counter() - t0
        peak = peak_rss_mb()
        res = wl.after(traced)
    except Exception:  # a failing operation is counted, not fatal
        wall = time.perf_counter() - t0
        peak = peak_rss_mb()
        _log(f"operation {i} raised:\n{traceback.format_exc()}")
        res = OpResult(0.0, 0.0, "raised")
    if res.error:
        _log(f"operation {i} failed: {res.error}")
    res.peak_rss_mb = peak
    _log(
        f"op {i} traced={int(traced)} wall={wall:.3f}s f1={res.f1:.4f} "
        f"write={res.write_mb:.4f}MB peak_rss={peak:.0f}MB"
    )
    return wall, res, root


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench import trace as tr
    from perfbench.workloads import WORKLOADS

    cls = WORKLOADS[workload]
    base = os.path.join(ROOT, ".perfbench")
    cache_parent = os.path.join(base, "cache")
    cache = os.path.join(cache_parent, f"{workload}-seed{seed}-n{cls.size}")
    work = os.path.join(base, "work", str(os.getpid()))
    os.makedirs(cache, exist_ok=True)
    _sweep_dead_work_dirs(os.path.dirname(work))
    shutil.rmtree(work, ignore_errors=True)
    _spark_env(work)
    cores = len(os.sched_getaffinity(0))
    ctx = Context(seed, cache, work, cores)
    try:
        # set-up, once and cold: importing pyspark and the program, the JVM
        # launch, the session and the warm-up query; the seeds of a set of
        # runs supply its spread
        t0 = time.perf_counter()
        ctx.spark = start_session(ctx, event_log=trace)
        warm_query(ctx.spark)
        setup = time.perf_counter() - t0
        _log(f"setup {setup:.3f}s")
        uninstall = None
        if trace:
            sc = ctx.spark.sparkContext
            ctx.tracer = tr.Tracer(lambda tag: sc.setLocalProperty(tr.SPAN_PROPERTY, tag))
            uninstall = tr.install(ctx.tracer)
        try:
            wl = cls(ctx)
            t0 = time.perf_counter()
            wl.prepare()
            t1 = time.perf_counter()
            for k in range(WARMUP_OPS):
                wl.before(f"warm{k}")
                wl.call()
            _log(f"prepare {t1 - t0:.3f}s warm-up {time.perf_counter() - t1:.3f}s")
            ops = []
            t0 = time.perf_counter()
            i = 0
            while wl.has_next():
                # a traced run repeats blocks of untraced, traced, traced,
                # untraced operations, so the overhead estimate is not
                # biased by warm-up still going on
                block = 4 if trace else 1
                if (
                    i % block == 0 and i >= max(block, MIN_TIMED_OPS)
                    and time.perf_counter() - t0 >= seconds
                ):
                    break
                traced = trace and i % 4 in (1, 2)
                ops.append(_run_op(wl, i, traced, ctx.tracer))
                i += 1
                if ops[-1][1].error:
                    break
            t1 = time.perf_counter()
            if not ops[-1][1].error:
                ops[-1][1].error = wl.finish()
                if ops[-1][1].error:
                    _log(f"final check failed: {ops[-1][1].error}")
            _log(f"final check {time.perf_counter() - t1:.3f}s")
        finally:
            if uninstall is not None:
                uninstall()
        stop_session(ctx.spark)
        ctx.spark = None
        failed = sum(1 for _, r, _ in ops if r.error)
        result = {"correct": failed == 0, "attempted": len(ops), "failed": failed}
        if trace:
            result["metrics"] = _trace_metrics(ctx, ops, work)
        else:
            result["metrics"] = _e2e_metrics(ops, setup)
        return result
    finally:
        if ctx.spark is not None:
            with contextlib.suppress(Exception):
                stop_session(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
        _prune_cache(cache_parent, workload)


def _e2e_metrics(ops, setup) -> dict:
    def med(xs):
        return statistics.median(xs)

    return {
        "wall_s": {"value": med([w for w, _, _ in ops]), "unit": "s"},
        "setup_s": {"value": setup, "unit": "s"},
        "pairwise_f1": {"value": med([r.f1 for _, r, _ in ops]), "unit": "ratio"},
        "write_mb": {"value": med([r.write_mb for _, r, _ in ops]), "unit": "MB"},
        "peak_rss_mb": {"value": med([r.peak_rss_mb for _, r, _ in ops]), "unit": "MB"},
    }


def _trace_metrics(ctx, ops, work) -> dict:
    from perfbench import trace as tr

    logdir = os.path.join(work, "eventlog")
    stats = {}
    for name in os.listdir(logdir):
        with open(os.path.join(logdir, name)) as f:
            stats.update(tr.parse_event_log(f))
    per_op = []
    for _, res, root in ops:
        if root is None or res.error:
            continue
        m = tr.op_metrics(ctx.tracer, root, stats, ctx.cores)
        c = res.counts
        m["pairs.candidates"] = c.get("candidates", 0)
        m["scoring.pairs_per_s"] = (
            c.get("scored", 0) / m["scoring.wall_s"] if m["scoring.wall_s"] > 0 else 0.0
        )
        m["scoring.match_ratio"] = (
            c["matches"] / c["candidates"] if c.get("candidates") else 0.0
        )
        per_op.append(m)
    traced = [w for w, r, root in ops if root is not None]
    untraced = [w for w, r, root in ops if root is None]
    out = {}
    for name, unit, _ in tr.per_layer_metrics():
        if name == "trace.overhead_s":
            value = (
                statistics.median(traced) - statistics.median(untraced)
                if traced and untraced else 0.0  # a failure ended the run early
            )
        else:
            value = statistics.median([m[name] for m in per_op]) if per_op else 0.0
        out[name] = {"value": value, "unit": unit}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # import the benchmark as the package ``perfbench`` and the program from
    # the checkout root, never this directory's modules as top-level names
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    if importlib.util.find_spec(PKG) is None:
        _log(f"package {PKG} not found under {ROOT}: run from a source checkout")
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
