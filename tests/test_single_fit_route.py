"""The single-variable numerical fit has one route for the binary,
continuous and multiclass targets, and one split proposer shared with
BinningProcess: the clean filters apply on every route, mdlp is refused
on a continuous target on both fits, an unknown prebinning method is
refused before any Spark job, and quantile splits picked from the
probe's grid leave no empty prebin in either fit. BinningProcess
refuses the target types the single binners refuse (mdlp on a
continuous target, a categorical variable with a multiclass target)
before any Spark job when the type is passed."""

import numpy as np
import pytest

from optbinning_spark import (
    BinningProcess,
    ContinuousOptimalBinning,
    MulticlassOptimalBinning,
    OptimalBinning,
)


@pytest.fixture(scope="module")
def frame(spark):
    rng = np.random.RandomState(5)
    rows = []
    for i in range(3000):
        # uniform integers 0..59 plus ten far outliers
        x = 1000.0 + i if i < 10 else float(rng.randint(0, 60))
        r = rng.rand()
        y = 0 if r < 0.2 + min(x, 60) / 150 else (1 if r < 0.7 else 2)
        yc = float(np.round(x / 10 + rng.normal(), 6))
        rows.append((x, int(y), yc))
    return spark.createDataFrame(rows, "x double, y int, yc double")


@pytest.mark.parametrize("bounds,kept", [
    ({"fix_ub": 35.0}, "x <= 35"),
    ({"fix_lb": 10.0, "fix_ub": 35.0}, "x >= 10 AND x <= 35"),
    # IQR rule on the clean values: only the ten far outliers go
    ({"outlier_detector": "range"}, "x < 1000"),
])
def test_multiclass_user_splits_apply_clean_filters(frame, bounds, kept):
    """The user-splits route counts only the rows the clean filters
    keep, like every other route (it used to count every row)."""
    n_kept = frame.filter(kept).count()
    assert n_kept < frame.count()
    for kw in ({"user_splits": [15.0, 30.0]}, {}):
        m = MulticlassOptimalBinning(**kw, **bounds).fit(frame, "x", "y")
        assert m.binning_table.build()["count"].iloc[-1] == n_kept, kw


def test_mdlp_refused_on_continuous_target(frame):
    with pytest.raises(ValueError, match="mdlp requires a binary target"):
        ContinuousOptimalBinning(prebinning_method="mdlp")
    bp = BinningProcess(["x"], prebinning_method="mdlp")
    with pytest.raises(ValueError, match="mdlp requires a binary target"):
        bp.fit(frame, "yc")


@pytest.mark.parametrize("cls", [OptimalBinning, ContinuousOptimalBinning,
                                 MulticlassOptimalBinning])
def test_unknown_prebinning_method_refused_before_any_job(spark, cls):
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None))
    for kw in ({}, {"user_splits": [1.0, 2.0]}):
        with pytest.raises(ValueError, match="prebinning_method"):
            cls(prebinning_method="quantil", **kw)
    assert len(tracker.getJobIdsForGroup(None)) == before
    for method in ("cart", "quantile", "uniform", "quantile_exact"):
        assert cls(prebinning_method=method).prebinning_method == method


@pytest.mark.parametrize("target", ["continuous", "multiclass"])
def test_quantile_grid_splits_leave_no_empty_prebin(spark, monkeypatch,
                                                    target):
    """On the bucketized route both fits pick quantile splits from the
    probe's grid and snap them to bucket edges. A column whose smallest
    value fills the 13/256 grid point (one row in eight is 0) has a
    grid split at its minimum: snapped, it is dropped instead of
    leaving an empty first prebin (the process fit used to keep it)."""
    cls = (ContinuousOptimalBinning if target == "continuous"
           else MulticlassOptimalBinning)
    seen = []
    fin = cls._finalize_numerical
    monkeypatch.setattr(
        cls, "_finalize_numerical",
        lambda self, s, st: seen.append((np.asarray(s), st))
        or fin(self, s, st))
    rng = np.random.RandomState(2)
    n = 6000
    x = np.where(np.arange(n) % 8 == 0, 0.0,
                 np.round(rng.uniform(1, 1000, n), 6))  # ~5250 distinct
    y = ((x / 250).astype(int) if target == "multiclass"
         else x / 100 + rng.rand(n))
    df = spark.createDataFrame(
        [(float(a), b.item()) for a, b in zip(x, y)],
        f"x double, y {'int' if target == 'multiclass' else 'double'}")

    BinningProcess(["x"], prebinning_method="quantile",
                   probe_mode="exact").fit(df, "y", target_type=target)
    cls(prebinning_method="quantile").fit(df, "x", "y")
    assert len(seen) == 2
    for splits, stats in seen:
        assert splits.size and splits[0] > 0.0
        counts = (stats.clean["n_records"] if target == "continuous"
                  else sum(stats.clean.values()))
        assert (counts > 0).all()


def _jobs_in(spark, group, fn):
    """Run ``fn`` under a job group; return the group's job ids."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return sc.statusTracker().getJobIdsForGroup(group)


def test_process_mdlp_refused_on_passed_continuous_before_any_job(
        spark, frame):
    """A passed continuous target refuses mdlp before the stacked
    aggregation or the probe run (it used to run both first)."""
    bp = BinningProcess(["x"], prebinning_method="mdlp")

    def fit():
        with pytest.raises(ValueError, match="mdlp requires a binary target"):
            bp.fit(frame, "yc", target_type="continuous")

    assert _jobs_in(spark, "mdlp_passed_continuous", fit) == []


def test_process_multiclass_categorical_refused(spark, frame):
    """A categorical variable with a multiclass target raises the single
    binner's ValueError: before any Spark job when the target type is
    passed, and before any finalize when it is inferred (both used to
    end in an AttributeError after the stacked aggregation)."""
    from pyspark.sql import functions as F

    df = frame.withColumn(
        "c", F.when(F.col("x") < 30, "lo").otherwise("hi"))
    bp = BinningProcess(["x", "c"])
    msg = "categorical feature with multiclass target is not supported"
    with pytest.raises(ValueError, match=msg):
        MulticlassOptimalBinning().fit(df, "c", "y")

    def passed():
        with pytest.raises(ValueError, match=msg):
            bp.fit(df, "y", target_type="multiclass")

    assert _jobs_in(spark, "multiclass_categorical_passed", passed) == []
    for kw in ({}, {"categorical_variables": ["x"]}):
        with pytest.raises(ValueError, match=msg):
            BinningProcess(["x", "c"], **kw).fit(df, "y")
