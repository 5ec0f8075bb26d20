"""Crossover regression watch (VERDICT r7 ask #8).

The engine hard-wires a measured round-6 decision: n-gram hot-key
counting defaults to ONE window (``use_window=True``) — measured ~2x
faster than the two-phase groupBy+join in every regime
(tools/ab_window_vs_agg.py).

A Spark-version or data-shape change can silently flip that
crossover. ``bench.py`` re-times both sides every round and flags
``regression_watch_failed`` in its contract line; this file makes the
same check a HARD pytest failure when ``SPARK_GRAFT_SLOW=1`` (timing
asserts are env-gated so host-contention noise cannot flake the
default suite), plus an always-on value-identity check that both
window modes compute the same answer.
"""

from __future__ import annotations

import os
import time

import pytest


def test_window_modes_value_identical(spark):
    """use_window=True/False are two physical plans for ONE logical
    result — they must agree row-for-row (the precondition for the
    timing watch to be about performance only)."""
    from optbinning_spark.pipeline.dedup import (
        duplicate_ngram_spans,
        ngram_jaccard_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for fn, kw in ((ngram_jaccard_pairs, {}),
                   (duplicate_ngram_spans, {"n": 5})):
        a = sorted(map(tuple, fn(docs, use_window=True, **kw).collect()))
        b = sorted(map(tuple, fn(docs, use_window=False, **kw).collect()))
        assert a == b, f"{fn.__name__}: window modes disagree"


def _min_of(build, spark, reps=3):
    import gc

    best = None
    for _ in range(reps):
        t0 = time.time()
        build().write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
        spark.catalog.clearCache()
        gc.collect()
    spark._jvm.System.gc()
    return best


@pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_SLOW") != "1",
    reason="timing crossover watch — run with SPARK_GRAFT_SLOW=1; "
    "bench.py runs the same watch every round (regression_watch_failed)",
)
def test_window_beats_two_phase_crossover(spark):
    """The window default must not have INVERTED (margin 1.15 over a
    measured ~2x advantage)."""
    from optbinning_spark.pipeline.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    t_win = _min_of(lambda: ngram_jaccard_pairs(docs, use_window=True),
                    spark)
    t_agg = _min_of(lambda: ngram_jaccard_pairs(docs, use_window=False),
                    spark)
    assert t_win <= t_agg * 1.15, (
        f"window/two-phase crossover INVERTED: window {t_win:.2f}s vs "
        f"two-phase {t_agg:.2f}s — re-run tools/ab_window_vs_agg.py and "
        f"re-pick the use_window default")


def test_canary_host_ratio_math():
    """The r15 cross-round canary normalization: median now/prev ratio
    over shared numeric probes, clamped to [0.33, 3.0]; None when
    either side is missing (pre-r15 baselines have no canary) or no
    probe is shared."""
    import bench

    f = bench._canary_host_ratio
    assert f(None, {"a_s": 1.0}) is None
    assert f({"a_s": 1.0}, None) is None
    assert f({"a_s": 1.0}, {"b_s": 1.0}) is None
    # median of {2.0, 3.0} = 2.5; error keys / zero values ignored
    assert f({"a_s": 2.0, "b_s": 3.0, "error": "x", "z_s": 0.0},
             {"a_s": 1.0, "b_s": 1.0, "z_s": 1.0}) == 2.5
    # odd count -> middle element (inside the clamp band)
    assert f({"a_s": 1.5, "b_s": 2.0, "c_s": 2.5},
             {"a_s": 1.0, "b_s": 1.0, "c_s": 1.0}) == 2.0
    # clamp: a wild probe cannot assert/excuse a 10x drift
    assert f({"a_s": 100.0}, {"a_s": 1.0}) == 3.0
    assert f({"a_s": 1.0}, {"a_s": 100.0}) == 0.33


def test_prev_bench_queries_source_round_and_canary():
    """_prev_bench_queries must report, per query, WHICH round's
    number forms the min baseline (the A/B needs the right commit)
    and each round's canary (the normalization needs the right
    yardstick)."""
    import bench

    pq = bench._prev_bench_queries()
    if pq is None:  # round 1: nothing to check
        return
    assert set(pq["source_round"]) == set(pq["queries"])
    for k, n in pq["source_round"].items():
        assert n in pq["rounds"]
        assert pq["rounds"][n]["file"] == f"BENCH_r{n:02d}.json" or \
            pq["rounds"][n]["file"].startswith("BENCH_r")
    # the min must equal the named round's own recorded value
    import json
    import os

    here = os.path.dirname(os.path.abspath(bench.__file__))
    for k, n in list(pq["source_round"].items())[:5]:
        src = json.load(open(os.path.join(here, pq["rounds"][n]["file"])))
        assert src["parsed"]["queries"][k] == pq["queries"][k]


def test_round_commit_resolves_baseline_artifacts():
    """Every git-TRACKED BENCH_r*.json must resolve to the commit that
    shipped it (the A/B checks out that tree as 'the previous round's
    code'). Restricted to tracked artifacts because the driver
    deposits the current round's file untracked before judging — that
    file legitimately has no introducing commit (r15 verdict ask #1)."""
    import bench

    arts = bench._tracked_bench_artifacts()[-2:]
    for a in arts:
        sha = bench._round_commit(os.path.basename(a))
        assert sha and len(sha) == 40, a


def test_untracked_bench_deposit_excluded(tmp_path):
    """An untracked BENCH_r99.json (the driver's post-snapshot deposit
    shape) must not appear in the tracked-artifact enumeration nor
    shift the cross-round yardstick's newest round."""
    import bench

    here = os.path.dirname(os.path.abspath(bench.__file__))
    fake = os.path.join(here, "BENCH_r99.json")
    assert not os.path.exists(fake), "stale fixture left behind"
    with open(fake, "w") as f:
        f.write('{"parsed": {"queries": {"q1": 0.001}}}')
    try:
        arts = [os.path.basename(a)
                for a in bench._tracked_bench_artifacts()]
        assert "BENCH_r99.json" not in arts
        pq = bench._prev_bench_queries()
        if pq is not None:
            assert pq["round"] != 99
            assert 99 not in pq["rounds"]
    finally:
        os.unlink(fake)
