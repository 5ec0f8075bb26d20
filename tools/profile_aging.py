"""Session-aging profiler for the bench harness.

Round-4 verdict: wide_process_fit measures 9.5s when it runs 19th in
the bench session vs 5.6s in a fresh session under the identical
best-of-3 protocol. This script isolates that gap and A/Bs candidate
fixes, printing one JSON line per run:

    python tools/profile_aging.py fresh          # baseline, no load
    python tools/profile_aging.py aged           # replay the 18-query
                                                 # bench prefix first

Fix toggles (env):
    SPARK_GRAFT_PYGC=1        python-side del+gc.collect() before the
                              JVM System.gc() between queries (py4j
                              holds JVM refs until Python GC runs, so
                              a JVM-only GC cannot free plans /
                              broadcasts still pinned from Python)
    SPARK_GRAFT_PERIODIC_GC=30s   spark.cleaner.periodicGC.interval
    SPARK_GRAFT_NO_PERSIST=1  disable the wide-fit MEMORY_AND_DISK
                              persist (binning_process._PERSIST)
    SPARK_GRAFT_NO_SPREAD=1   disable the wide-fit repartition spread
                              (binning_process._SPREAD)

The two fit toggles rebind binning_process's module constants in this
process; the library itself reads no environment variables.

Instrumentation per measurement: JVM GC cumulative time/count, heap
used, and shuffle/block file count under the session's local dirs.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from optbinning_spark import get_spark  # noqa: E402

PREFIX = [
    "optimal_binning_table", "optimal_woe_transform", "binning_table_fixed",
    "woe_transform", "uniform_binning_table", "event_rate_order", "psi",
    "ks", "doc_token_stats", "exact_dedup", "minhash_signatures",
    "jaccard_pairs", "embedding_topk", "continuous_binning_table",
    "categorical_optimal_binning", "binning_process_summary",
    "scorecard_scores", "sketch_binning_table",
]


def jvm_stats(spark):
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    gc_ms = sum(b.getCollectionTime() for b in beans)
    gc_n = sum(b.getCollectionCount() for b in beans)
    rt = jvm.java.lang.Runtime.getRuntime()
    heap_mb = (rt.totalMemory() - rt.freeMemory()) / 1e6
    nfiles = 0
    for d in glob.glob("/tmp/blockmgr-*"):
        for _root, _dirs, files in os.walk(d):
            nfiles += len(files)
    return {"gc_ms": gc_ms, "gc_n": gc_n, "heap_mb": round(heap_mb),
            "blockmgr_files": nfiles}


def apply_fit_toggles():
    """Rebind the wide-fit constants named by the env toggles."""
    from optbinning_spark import binning_process as bp

    if os.environ.get("SPARK_GRAFT_NO_PERSIST"):
        bp._PERSIST = False
    if os.environ.get("SPARK_GRAFT_NO_SPREAD"):
        bp._SPREAD = False


def run_query(spark, fn, sf_dir, reps=3):
    best = None
    for _ in range(reps):
        t0 = time.time()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
        spark.catalog.clearCache()
        if os.environ.get("SPARK_GRAFT_PYGC"):
            del df
            import gc
            gc.collect()
    spark._jvm.System.gc()
    return best


def main():
    mode = sys.argv[1] if len(sys.argv) > 1 else "aged"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    apply_fit_toggles()
    spark = get_spark("aging_profile")
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    qs = entry_mod.queries()
    warm_dir = "/root/testdata/sf0.001"
    for warm_q in ("optimal_binning_table", "minhash_signatures",
                   "scorecard_scores", "jaccard_pairs", "wide_process_fit",
                   "ann_topk", "near_dup_cosine_bucketed"):
        try:
            qs[warm_q](spark, warm_dir).write.format("noop").mode(
                "overwrite").save()
        except Exception:
            pass

    out = {"mode": mode,
           "toggles": {k: v for k, v in os.environ.items()
                       if k.startswith("SPARK_GRAFT_")}}
    out["stats_start"] = jvm_stats(spark)
    if mode == "aged":
        t0 = time.time()
        for name in PREFIX:
            run_query(spark, qs[name], sf_dir, reps=3)
        out["prefix_sec"] = round(time.time() - t0, 1)
        out["stats_after_prefix"] = jvm_stats(spark)
    probes = {}
    for name in ("wide_process_fit", "ann_topk", "sketch_binning_table"):
        probes[name] = round(run_query(spark, qs[name], sf_dir, reps=3), 3)
    out["probes"] = probes
    out["stats_end"] = jvm_stats(spark)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
