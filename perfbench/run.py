"""Benchmark entry point.

    python3 perfbench/run.py --workload binning_fit --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. One process is the one caller of a
closed loop: it starts a local Spark session (``local[N]``, N = min(4,
cores)), builds the workload's inputs from ``--seed``, sets up, then runs
the workload's cycle back to back for ``--seconds`` and checks every
cycle's output. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Everything the run writes stays under ``.perfbench_work/`` in the
checkout and is removed at exit. README.md in this directory says what
each workload and metric is for.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import shutil
import statistics
import subprocess
import sys
import time

from tracing import SPANS, Tracer, jvm_gc_seconds, spark_group_metrics
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# set-up builds and loads the inputs this many times; setup_s is session
# start + their median + the one-time model fit and warm-up cycles
SETUP_REPS = 3
# the seed whose outputs are pinned in PINNED below
PINNED_SEED = 0
PINNED = {
    "binning_fit": {
        "categorical_shipmode": "4bb4fc7f516efbd7",
        "continuous": "1fb014fe06eadbbf",
        "narrow_process": "9e5e7bbd29b56f6a",
        "numeric_discount": "c4dbc2a4b1a219d3",
        "numeric_price": "132ff5798d74b487",
        "numeric_quantity": "399b1503b87bd766",
        "piecewise": "11ac1739bbc6c749",
        "scorecard": "835753eb0966684d",
    },
    "score_dedup": {
        "dedup_distributed": "cec4acef5b261bbc",
        "dedup_driver": "cec4acef5b261bbc",
        "monitor": "413c94d83f914246",
        "score": "9c2b7ab0ee3653df",
    },
}


def host_yardstick() -> dict:
    """Fixed non-Spark work, recorded beside every run so that host
    drift between runs can be told apart from code changes."""
    import numpy as np

    best_loop = best_mm = float("inf")
    a = np.random.default_rng(0).standard_normal((512, 512))
    for _ in range(3):
        t = time.perf_counter()
        s = 0
        for i in range(1_000_000):
            s += i * i
        best_loop = min(best_loop, time.perf_counter() - t)
        t = time.perf_counter()
        (a @ a).sum()
        best_mm = min(best_mm, time.perf_counter() - t)
    return {"py_loop_ms": best_loop * 1e3, "matmul_512_ms": best_mm * 1e3}


def tail(values: list[float]) -> tuple[float, float, int] | None:
    """The highest percentile with at least ten samples beyond it, as
    (percentile, value, samples beyond); None below eleven samples."""
    n = len(values)
    if n < 11:
        return None
    k = n - 11
    return 100.0 * (k + 1) / n, sorted(values)[k], n - 1 - k


def isolate_environment(work_root: str, trace: bool) -> None:
    """Make the library and its Spark workers importable from the
    checkout, and keep Spark's and Python's scratch files inside it."""
    sys.path.insert(0, ROOT)
    # Spark's Python workers (mapInArrow, UDFs) import the package too;
    # they inherit PYTHONPATH from the JVM, which inherits it from here
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tmp = os.path.join(work_root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    # every JVM, the spark-submit launcher's included: temp files in the
    # checkout and no hsperfdata file in the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    # the Spark UI (and its REST API) is on only in the traced run
    if trace:
        os.environ["SPARK_GRAFT_UI"] = "1"
    else:
        os.environ.pop("SPARK_GRAFT_UI", None)


def stop_spark(spark) -> None:
    """Stop the session and the JVM it started, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, work_root: str) -> tuple[dict, list[str]]:
    from optbinning_spark import get_spark

    tracer = Tracer()
    if args.trace:
        tracer.install()
    lines: list[str] = []
    problems: list[str] = []
    cpus = min(4, os.cpu_count() or 1)

    t = time.perf_counter()
    spark = get_spark("perfbench", cpus=cpus)
    session_s = time.perf_counter() - t
    try:
        spark.sparkContext.setLogLevel("ERROR")
        wl = WORKLOADS[args.workload](spark, args.seed)
        order_rng = random.Random(args.seed)
        ops = wl.ops

        # set-up: build and load the inputs SETUP_REPS times (the last
        # set is the one used), then fit what the calls need and run the
        # warm-up cycles; the first one's outputs are the reference
        rep_s = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            rep_dir = os.path.join(work_root, f"inputs{rep}")
            os.makedirs(rep_dir)
            wl.prepare(rep_dir)
            rep_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        if args.trace:
            # the one-time fit (score_dedup's 16-variable wide scorecard)
            # is traced too and printed as its own ledger
            tracer.call_id, tracer.active = "fit_model", True
        wl.fit_model()
        tracer.active = False
        fit_s = time.perf_counter() - t
        ref = None
        for _ in range(wl.warmup_cycles):
            digests, bad = wl.call(order_rng.sample(ops, len(ops)), tracer.span)
            problems += [f"set-up: {b}" for b in bad]
            if ref is None:
                ref = digests
            elif digests != ref:
                problems.append("set-up: warm-up outputs differ")
        warm_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(rep_s) + warm_s
        pinned = PINNED.get(args.workload) if args.seed == PINNED_SEED else None
        if pinned:
            for op, want in pinned.items():
                if ref.get(op) != want:
                    problems.append(f"{op}: digest {ref.get(op)} != pinned {want}")

        sc = spark.sparkContext
        walls, traced_walls, untraced_walls = [], [], []
        layer_rows: list[dict] = []
        attempted = failed = 0
        t_loop = time.perf_counter()
        while (time.perf_counter() - t_loop < args.seconds
               or (args.trace and attempted < 2)):
            traced = bool(args.trace) and attempted % 2 == 0
            group = f"perfbench-call-{attempted}"
            if args.trace:
                sc.setJobGroup(group, f"perfbench {args.workload}")
            order = order_rng.sample(ops, len(ops))
            tracer.call_id = attempted
            gc0 = jvm_gc_seconds(spark) if traced else 0.0
            cpu0 = time.process_time()
            tracer.active = traced
            t = time.perf_counter()
            try:
                digests, bad = wl.call(order, tracer.span)
            except Exception as exc:  # a failed call is counted, not fatal
                digests, bad = None, [f"raised {exc!r}"[:400]]
            wall = time.perf_counter() - t
            tracer.active = False
            cpu = time.process_time() - cpu0
            attempted += 1
            if digests is not None and digests != ref:
                changed = sorted(k for k in digests if digests[k] != ref.get(k))
                bad = bad + [f"outputs changed from set-up: {changed}"]
            if bad:
                failed += 1
                print(f"call {attempted - 1} failed: {bad}", file=sys.stderr)
                continue
            walls.append(wall)
            if not args.trace:
                continue
            (traced_walls if traced else untraced_walls).append(wall)
            if traced:
                row = {"wall": wall, "driver.py_cpu_s": cpu,
                       "jvm.gc_s": jvm_gc_seconds(spark) - gc0,
                       **spark_group_metrics(spark, group),
                       **tracer.call_summary(attempted - 1)}
                if row.pop("spark.jobs_unseen"):
                    problems.append(f"call {attempted - 1}: REST API did "
                                    "not report every job of the call")
                layer_rows.append(row)
        loop_s = time.perf_counter() - t_loop
    finally:
        stop_spark(spark)

    lines.append("digests " + json.dumps(ref, sort_keys=True))
    lines.append(f"workload {args.workload} seed {args.seed} "
                 f"local[{cpus}] calls {attempted} failed {failed} "
                 f"loop {loop_s:.1f} s")
    lines.append(f"setup_s {setup_s:.3f} s = session {session_s:.3f} s + "
                 f"median of input loads {[round(x, 3) for x in rep_s]} + "
                 f"model fit and {wl.warmup_cycles} warm-up cycle(s) {warm_s:.3f} s")
    if args.trace:
        fit_summary = tracer.call_summary("fit_model")
        if fit_summary["self"]:
            ledger("set-up model fit (cold, once)", fit_s, fit_summary, lines)
        metrics = layer_metrics(layer_rows, wl, session_s, traced_walls,
                                untraced_walls, lines)
        for name, (_, workload) in SPANS.items():
            if workload == args.workload and not any(
                    name in r["count"] for r in layer_rows):
                problems.append(f"span {name} never fired on {workload}")
    else:
        metrics = e2e_metrics(walls, wl, setup_s, attempted, failed, lines)
    return {"correct": not problems and failed == 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}, lines + problems


def e2e_metrics(walls, wl, setup_s, attempted, failed, lines):
    # with no passing call the run is incorrect anyway; 0 keeps the JSON valid
    p50 = statistics.median(walls) if walls else 0.0
    rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    rows_per_s = wl.rows_per_call * len(walls) / sum(walls) if walls else 0.0
    t = tail(walls)
    lines.append(f"call_s.p50 {p50:.4f} s over {len(walls)} calls "
                 f"{[round(w, 3) for w in walls]}")
    lines.append(
        f"call_s.tail p{t[0]:.0f} {t[1]:.4f} s ({t[2]} samples beyond, "
        f"n={len(walls)})" if t else
        f"call_s.tail n/a (n={len(walls)} calls, needs 11 for ten beyond; "
        f"max {max(walls, default=0.0):.4f} s)")
    lines.append(f"rows_per_s {rows_per_s:.1f} 1/s "
                 f"({wl.rows_per_call} rows per call)")
    lines.append(f"failed_ratio {failed / max(1, attempted):.4f} "
                 f"({failed}/{attempted})")
    lines.append(f"py_rss_peak_mb {rss_mb:.1f} MB")
    return {
        "call_s.p50": {"value": p50, "unit": "s"},
        "rows_per_s": {"value": rows_per_s, "unit": "1/s"},
        "py_rss_peak_mb": {"value": rss_mb, "unit": "MB"},
        "setup_s": {"value": setup_s, "unit": "s"},
    }


# per-layer time metrics: the inclusive time of a span per call.
# scorecard.fit is reported as self time (scorecard.fit_self_s) instead,
# since its children are the binning process and MLlib spans.
LAYER_TIMES = {f"{name}_s": name for name in SPANS if name != "scorecard.fit"}
LAYER_COUNTS = {
    "operators.aggregation_calls": "operators.aggregation",
    "core.solver_calls": "core.solver",
}
SPARK_METRICS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "spark.job_busy_s": "s",
    "spark.outside_jobs_s": "s", "spark.input_bytes": "B",
    "spark.shuffle_write_bytes": "B", "spark.executor_cpu_s": "s",
    "driver.py_cpu_s": "s", "jvm.gc_s": "s",
}


def ledger(title, wall, summary, lines):
    """Self time by layer; with the residual outside every span it adds
    up to ``wall``."""
    lines.append(f"{title}: wall {wall:.3f} s; self time by layer:")
    for name, s in sorted(summary["self"].items(), key=lambda kv: -kv[1]):
        lines.append(f"  {name:40s} {s:8.3f} s  {100 * s / wall:5.1f}%")
    res = wall - sum(summary["self"].values())
    lines.append(f"  {'residual (outside every span)':40s} {res:8.3f} s  "
                 f"{100 * res / wall:5.1f}%")


def layer_metrics(rows, wl, session_s, traced_walls, untraced_walls, lines):
    """Per-layer metrics: medians over the traced calls."""
    per_call: dict[str, list[float]] = {}
    for r in rows:
        vals = {m: r["total"].get(s, 0.0) for m, s in LAYER_TIMES.items()}
        vals.update({m: r["count"].get(s, 0) for m, s in LAYER_COUNTS.items()})
        vals["scorecard.fit_self_s"] = r["self"].get("scorecard.fit", 0.0)
        n_fits = r["count"].get("scorecard.fit", 0)
        vals["scorecard.mllib_fallback_ratio"] = (
            r["count"].get("scorecard.mllib_fit", 0) / n_fits if n_fits else 0.0)
        vals.update({m: r[m] for m in SPARK_METRICS if m in r})
        vals["spark.outside_jobs_s"] = r["wall"] - r["spark.job_busy_s"]
        vals["trace.residual_s"] = r["wall"] - sum(r["self"].values())
        for m, v in vals.items():
            per_call.setdefault(m, []).append(v)

    def med(values):
        return statistics.median(values) if values else 0.0

    units = {**{m: "s" for m in LAYER_TIMES},
             **{m: "count" for m in LAYER_COUNTS}, **SPARK_METRICS,
             "scorecard.fit_self_s": "s",
             "scorecard.mllib_fallback_ratio": "ratio",
             "trace.residual_s": "s"}
    metrics = {"session.get_spark_s": {"value": session_s, "unit": "s"}}
    metrics.update({m: {"value": med(per_call.get(m, [])), "unit": u}
                    for m, u in units.items()})
    # closure rounds and edges of the forced distributed closure, from
    # the public stats= dict of duplicate_clusters
    cc = getattr(wl, "cc_stats", {}).get("distributed", {})
    metrics["pipeline.dedup.cc_rounds"] = {"value": cc.get("rounds", 0),
                                           "unit": "count"}
    metrics["pipeline.dedup.edges"] = {"value": cc.get("edges", 0),
                                       "unit": "count"}
    p_traced, p_untraced = med(traced_walls), med(untraced_walls)
    metrics["trace.call_s.p50"] = {"value": p_traced, "unit": "s"}
    metrics["trace.untraced_call_s.p50"] = {"value": p_untraced, "unit": "s"}
    metrics["trace.overhead_ratio"] = {
        "value": p_traced / p_untraced if p_untraced else 0.0, "unit": "ratio"}

    if rows:
        r = sorted(rows, key=lambda x: x["wall"])[(len(rows) - 1) // 2]
        ledger("median traced call", r["wall"], r, lines)
    lines.append(f"tracing overhead: traced call p50 {p_traced:.3f} s vs "
                 f"untraced p50 {p_untraced:.3f} s in this run "
                 f"({len(traced_walls)} traced, {len(untraced_walls)} untraced)")
    return metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=PINNED_SEED)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    work_root = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    isolate_environment(work_root, bool(args.trace))
    try:
        yard0 = host_yardstick()
        result, lines = run(args, work_root)
        yard1 = host_yardstick()
    finally:
        shutil.rmtree(work_root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work_root))
        except OSError:
            pass
    for line in lines:
        print(line)
    print("host yardstick (start, end): " + ", ".join(
        f"{k} {yard0[k]:.2f} / {yard1[k]:.2f}" for k in yard0))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
