"""Quantify the connected-components 100x claim (r11 verdict #8).

The alternating large-star/small-star loop (pipeline/dedup.py
connected_components) is pinned by tests at 256 edges / 2 rounds;
this tool measures it at a 10^7-edge synthetic graph built to be
ADVERSARIAL for the claims that matter at 100 TB:

- a 2M-edge CHAIN (diameter 2M): kills O(diameter) label
  propagation; the star loop must stay at O(log^2 n) rounds,
- a power-law hub family (Zipf-ish degrees, max-degree hub ~10^5):
  the skew case the groupBy-min partials + AQE skew join absorb,
- uniform random blobs over a 10M-node range: the bulk shape.

All three families are GENERATED DISTRIBUTED (spark.range +
column expressions — nothing driver-side), the loop is forced onto
the distributed path (driver_threshold=0), and the run records
rounds, wall seconds, and per-round shuffle read/write bytes from
the Spark UI REST API. Output: one JSON line (paste the SCALING.md
row from it).

Usage: python tools/measure_cc_scale.py [n_edges_millions (default 10)]

``--driver`` mode times the DRIVER closure instead (the path every
edge set of at most ``driver_threshold`` = 1M edges takes: one fetch
of the edge list, labelled on the driver) on the same graph shape at
0.1, 0.5 and 1 M edges, and records the Python process's maxrss
before and after each size. maxrss is a high-water mark, so the sizes
run in increasing order and the rise per size is what the fetch and
the labelling added on top of every smaller size. One JSON line per
size.

Usage: python tools/measure_cc_scale.py --driver [repeats (default 3)]
"""

from __future__ import annotations

import json
import os
import resource
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from optbinning_spark import get_spark  # noqa: E402
from optbinning_spark.pipeline.dedup import connected_components  # noqa: E402


def _shuffle_totals(spark):
    """Total shuffle read/write bytes across completed stages, from
    the local UI REST API (None when the UI is off)."""
    try:
        ui = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        with urllib.request.urlopen(
                f"{ui}/api/v1/applications/{app}/stages?status=complete",
                timeout=10) as r:
            stages = json.load(r)
        return (sum(s.get("shuffleReadBytes", 0) for s in stages),
                sum(s.get("shuffleWriteBytes", 0) for s in stages))
    except Exception:
        return None


def build_graph(spark, n_edges_m: float):
    """~n_edges_m million edges: 20% chain, 40% power-law, 40% blobs,
    in disjoint node-id ranges so the output is interpretable."""
    n = int(n_edges_m * 1_000_000)
    n_chain, n_pl = n // 5, (2 * n) // 5
    n_blob = n - n_chain - n_pl
    chain = spark.range(n_chain).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    # Zipf-ish hubs: hub id ~ floor(u^-0.8) capped, attached to a
    # uniform node — heaviest hub collects ~n_pl * P(hub=1) edges
    pl = spark.range(n_pl).select(
        (F.lit(10_000_000)
         + F.least(F.floor(F.pow(F.rand(11) + 1e-12, F.lit(-0.8))),
                   F.lit(200_000)).cast("long")).alias("id_a"),
        (F.lit(10_000_000)
         + F.floor(F.rand(12) * 1_000_000).cast("long")).alias("id_b"))
    blobs = spark.range(n_blob).select(
        (F.lit(30_000_000)
         + F.floor(F.rand(13) * 10_000_000).cast("long")).alias("id_a"),
        (F.lit(30_000_000)
         + F.floor(F.rand(14) * 10_000_000).cast("long")).alias("id_b"))
    return chain.unionByName(pl).unionByName(blobs)


def _maxrss_mb() -> float:
    """This process's peak resident set size so far (Linux: KiB)."""
    return round(resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, 1)


def driver_main(repeats: int) -> None:
    spark = get_spark("cc_driver")
    spark.sparkContext.setLogLevel("ERROR")
    for n_edges_m in (0.1, 0.5, 1.0):
        pairs = build_graph(spark, n_edges_m).localCheckpoint(eager=True)
        rss0 = _maxrss_mb()
        walls = []
        for _ in range(repeats):
            stats: dict = {}
            t0 = time.perf_counter()
            cc = connected_components(pairs, stats=stats)
            walls.append(round(time.perf_counter() - t0, 3))
        rss1 = _maxrss_mb()
        assert stats["path"] == "driver", stats
        chain = (cc.where(F.col("node") < 10_000_000)
                 .agg(F.countDistinct("component").alias("c"),
                      F.min("component").alias("m")).first())
        assert (chain["c"], chain["m"]) == (1, 0), chain
        print(json.dumps({
            "edges": stats["edges"],
            "path": stats["path"],
            "wall_s": walls,
            "nodes": cc.count(),
            "py_maxrss_mb_before": rss0,
            "py_maxrss_mb_after": rss1,
        }), flush=True)
    spark.stop()


def main():
    if sys.argv[1:2] == ["--driver"]:
        driver_main(int(sys.argv[2]) if len(sys.argv) > 2 else 3)
        return
    n_edges_m = float(sys.argv[1]) if len(sys.argv) > 1 else 10.0
    # the shuffle-byte telemetry comes from the UI REST API; the
    # session factory keeps the UI off unless this is exported
    # (r12 verdict #4: the 10^7-edge row recorded null bytes because
    # the UI was disabled)
    os.environ.setdefault("SPARK_GRAFT_UI", "1")
    spark = get_spark("cc_scale")
    spark.sparkContext.setLogLevel("ERROR")
    pairs = build_graph(spark, n_edges_m)
    # materialize the graph OUTSIDE the timed region (generation cost
    # is not the loop's cost)
    pairs = pairs.localCheckpoint(eager=True)
    sh0 = _shuffle_totals(spark)
    stats: dict = {}
    t0 = time.time()
    cc = connected_components(pairs, driver_threshold=0, stats=stats)
    n_nodes = cc.count()
    wall = round(time.time() - t0, 2)
    sh1 = _shuffle_totals(spark)
    # invariants: the 2M-node chain collapses to ONE component with
    # min id 0; total components sane
    chain_comp = (cc.where(F.col("node") < 10_000_000)
                  .agg(F.countDistinct("component").alias("c"),
                       F.min("component").alias("m")).first())
    n_comp = cc.select("component").distinct().count()
    out = {
        "edges": stats.get("edges"),
        "path": stats.get("path"),
        "rounds": stats.get("rounds"),
        "wall_sec": wall,
        "nodes": n_nodes,
        "components": n_comp,
        "chain_components": chain_comp["c"],
        "chain_min_label": chain_comp["m"],
        "shuffle_read_bytes": (sh1[0] - sh0[0]) if sh0 and sh1 else None,
        "shuffle_write_bytes": (sh1[1] - sh0[1]) if sh0 and sh1 else None,
    }
    assert out["chain_components"] == 1, out
    assert out["chain_min_label"] == 0, out
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
