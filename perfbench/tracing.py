"""Per-layer tracing for the traced run (``--trace 1``).

Layers are the library's modules. Spans are recorded from the
benchmark's side only: the library is not edited. ``install`` replaces
each traced public function by a wrapper **in the namespace that looks
it up** (``binning.py`` binds ``solve_binary`` by name at import, so the
wrapper goes on ``optbinning_spark.binning.solve_binary``, not on
``core.solver``). A wrapper costs one attribute test while the tracer is
inactive, so untraced calls in a traced run go through the same code.

Spark-side numbers come from the Spark REST API (UI on in traced runs
only) for the jobs of a benchmark-set job group, and JVM GC time from
the GarbageCollector MXBeans through py4j.
"""

from __future__ import annotations

import functools
import importlib
import json
import time
import urllib.request
from datetime import datetime

# span name -> (where it is looked up, workload predicted to use it).
# A target is "module:attr" or "module:Class.method".
SPANS = {
    "binning_process.fit": (
        ["optbinning_spark.binning_process:BinningProcess.fit"],
        "binning_fit"),
    "binning_process.transform": (
        ["optbinning_spark.binning_process:BinningProcess.transform"],
        "binning_fit"),
    "binning.fit": (
        ["optbinning_spark.binning:OptimalBinning.fit",
         "optbinning_spark.binning:ContinuousOptimalBinning.fit"],
        "binning_fit"),
    "binning.table_build": (
        ["optbinning_spark.operators.binning_table:BinningTableBinary.build",
         "optbinning_spark.operators.binning_table:BinningTableContinuous.build"],
        "binning_fit"),
    "operators.aggregation": (
        ["optbinning_spark.binning:bin_stats",
         "optbinning_spark.binning:categorical_value_stats",
         "optbinning_spark.binning_process:assemble_bin_stats",
         "optbinning_spark.operators.aggregation:value_stats",
         "optbinning_spark.operators.aggregation:bucket_value_stats",
         "optbinning_spark.operators.aggregation:bin_stats",
         "optbinning_spark.operators.aggregation:bin_stats_from_values",
         "optbinning_spark.operators.aggregation:categorical_value_stats",
         "optbinning_spark.operators.aggregation:stacked_bin_stats"],
        "binning_fit"),
    "operators.prebinning": (
        ["optbinning_spark.binning:compute_prebins",
         "optbinning_spark.operators.prebinning:compute_prebins",
         "optbinning_spark.operators.prebinning:value_histogram"],
        "binning_fit"),
    "core.solver": (
        ["optbinning_spark.binning:solve_binary",
         "optbinning_spark.binning:solve_continuous"],
        "binning_fit"),
    "core.tree": (
        ["optbinning_spark.binning:cart_splits",
         "optbinning_spark.binning_process:cart_splits",
         "optbinning_spark.core.tree:cart_splits"],
        "binning_fit"),
    "piecewise.fit": (
        ["optbinning_spark.piecewise:OptimalPWBinning.fit"], "binning_fit"),
    "scorecard.fit": (
        ["optbinning_spark.scorecard:Scorecard.fit"], "binning_fit"),
    "scorecard.mllib_fit": (
        ["pyspark.ml.classification:LogisticRegression.fit"], "binning_fit"),
    "scorecard.table": (
        ["optbinning_spark.scorecard:Scorecard.table"], "binning_fit"),
    "scorecard.score": (
        ["optbinning_spark.scorecard:Scorecard.score"], "score_dedup"),
    "monitoring.fit": (
        ["optbinning_spark.monitoring:ScorecardMonitoring.fit"],
        "score_dedup"),
    "pipeline.dedup.duplicate_clusters": (
        ["optbinning_spark.pipeline.dedup:duplicate_clusters"],
        "score_dedup"),
    "pipeline.dedup.connected_components": (
        ["optbinning_spark.pipeline.dedup:connected_components"],
        "score_dedup"),
}
# spans the benchmark opens around its own actions and checks
BENCH_SPANS = ("bench.sink",)


class Tracer:
    """Spans of the current run: [name, start, end, parent, call id],
    kept in memory and summarised at the end."""

    def __init__(self):
        self.active = False
        self.call_id = None
        self.spans: list[list] = []
        self._stack: list[int] = []

    def span(self, name):
        return _Span(self, name)

    def _open(self, name) -> int:
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter(), None, parent,
                           self.call_id])
        self._stack.append(idx)
        return idx

    def _close(self, idx):
        self.spans[idx][2] = time.perf_counter()
        self._stack.pop()

    def wrap(self, fn, name):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            idx = self._open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self._close(idx)

        traced.perfbench_original = fn
        return traced

    def install(self):
        """Wrap every target in SPANS; a missing target is an error, so a
        rename in the library cannot silently zero a layer."""
        for name, (targets, _) in SPANS.items():
            for target in targets:
                mod_name, attr = target.split(":")
                owner = importlib.import_module(mod_name)
                *path, leaf = attr.split(".")
                for part in path:
                    owner = getattr(owner, part)
                fn = getattr(owner, leaf)  # AttributeError on a rename
                if hasattr(fn, "perfbench_original"):
                    raise RuntimeError(f"{target} wrapped twice")
                setattr(owner, leaf, self.wrap(fn, name))

    def call_summary(self, call_id) -> dict:
        """Per-layer times and counts of one traced call."""
        spans = [(i, s) for i, s in enumerate(self.spans) if s[4] == call_id]
        by_idx = dict(spans)
        child_time: dict[int, float] = {}
        for i, (name, t0, t1, parent, _) in spans:
            if parent is not None:
                child_time[parent] = child_time.get(parent, 0.0) + (t1 - t0)
        total: dict[str, float] = {}
        self_time: dict[str, float] = {}
        count: dict[str, int] = {}
        for i, (name, t0, t1, parent, _) in spans:
            self_time[name] = (self_time.get(name, 0.0)
                               + (t1 - t0) - child_time.get(i, 0.0))
            # inclusive time and count only for the outermost span of a
            # name, so a re-entrant call is not counted twice
            p, nested = parent, False
            while p is not None:
                if by_idx[p][0] == name:
                    nested = True
                    break
                p = by_idx[p][3]
            if not nested:
                total[name] = total.get(name, 0.0) + (t1 - t0)
                count[name] = count.get(name, 0) + 1
        return {"total": total, "self": self_time, "count": count}


class _Span:
    def __init__(self, tracer, name):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        self.idx = self.tracer._open(self.name) if self.tracer.active else None

    def __exit__(self, *exc):
        if self.idx is not None:
            self.tracer._close(self.idx)


# --- Spark and JVM side --------------------------------------------------

def jvm_gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def _ts(s: str) -> float:
    return datetime.strptime(s.replace("GMT", "+0000"),
                             "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _union_seconds(intervals) -> float:
    busy, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            busy += b - a
            end = b
        elif b > end:
            busy += b - end
            end = b
    return busy


def spark_group_metrics(spark, group: str, timeout_s: float = 20.0) -> dict:
    """Job, stage and task metrics of every job in ``group``, read from
    the REST API once the status store has seen all of them end."""
    sc = spark.sparkContext
    want = set(sc.statusTracker().getJobIdsForGroup(group))
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    deadline = time.monotonic() + timeout_s
    while True:
        jobs = [j for j in _get_json(f"{base}/jobs")
                if j["jobId"] in want]
        done = [j for j in jobs if j["status"] != "RUNNING"
                and "completionTime" in j]
        if len(done) == len(want) or time.monotonic() > deadline:
            break
        time.sleep(0.05)
    stage_ids = {s for j in done for s in j["stageIds"]}
    stages = [s for s in _get_json(f"{base}/stages")
              if s["stageId"] in stage_ids and s["status"] != "SKIPPED"]
    return {
        "spark.jobs": len(want),
        "spark.stages": len(stages),
        "spark.tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"]
                           for s in stages),
        "spark.failed_tasks": sum(s["numFailedTasks"] for s in stages),
        "spark.job_busy_s": _union_seconds(
            (_ts(j["submissionTime"]), _ts(j["completionTime"]))
            for j in done),
        "spark.input_bytes": sum(s["inputBytes"] for s in stages),
        "spark.shuffle_write_bytes": sum(s["shuffleWriteBytes"]
                                         for s in stages),
        "spark.executor_cpu_s": sum(s["executorCpuTime"]
                                    for s in stages) / 1e9,
        "spark.jobs_unseen": len(want) - len(done),
    }
