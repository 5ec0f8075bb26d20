"""Trends are checked against the solver's trend table before any Spark
job runs, peak_heuristic / valley_heuristic solve as the exact
peak / valley, and ``status`` reports the solver's status."""

import numpy as np
import pytest

from optbinning_spark import (
    BinningProcess,
    ContinuousOptimalBinning,
    MulticlassOptimalBinning,
    OptimalBinning,
)
from optbinning_spark.scenario_binning import SBOptimalBinning
from tests.test_single_fit_route import _jobs_in


@pytest.fixture(scope="module")
def frame(spark):
    rng = np.random.RandomState(11)
    rows = []
    for _ in range(2000):
        x = float(rng.randint(0, 40))
        # event rate rises then falls in x: a peak
        y = int(rng.rand() < 0.15 + 0.6 * np.exp(-((x - 22) / 9) ** 2))
        rows.append((x, y, 0, float(x / 10 + rng.normal())))
    return spark.createDataFrame(rows, "x double, y int, y0 int, yc double")


@pytest.mark.parametrize("make", [
    lambda: OptimalBinning(monotonic_trend="sideways"),
    lambda: ContinuousOptimalBinning(monotonic_trend="sideways"),
    lambda: MulticlassOptimalBinning(monotonic_trend="sideways"),
    lambda: MulticlassOptimalBinning(monotonic_trends=["ascending", "up"]),
    lambda: SBOptimalBinning(monotonic_trend="auto"),
    lambda: SBOptimalBinning(monotonic_trend="sideways"),
], ids=["binary", "continuous", "multiclass", "multiclass_per_class",
        "scenario_auto", "scenario_unknown"])
def test_unknown_trend_refused_in_init(spark, make):
    def build():
        with pytest.raises(ValueError, match="unsupported monotonic_trend"):
            make()

    assert _jobs_in(spark, "trend_init", build) == []


@pytest.mark.parametrize("kw", [
    {"monotonic_trend": "sideways"},
    {"binning_fit_params": {"x": {"monotonic_trend": "sideways"}}},
], ids=["process", "fit_params"])
def test_process_trend_refused_before_any_job(spark, frame, kw):
    bp = BinningProcess(["x"], **kw)

    def fit():
        with pytest.raises(ValueError, match="unsupported monotonic_trend"):
            bp.fit(frame, "y")

    assert _jobs_in(spark, "trend_process", fit) == []


@pytest.mark.parametrize("cls,y", [(OptimalBinning, "y"),
                                   (ContinuousOptimalBinning, "yc")])
@pytest.mark.parametrize("shape", ["peak", "valley"])
def test_heuristic_trend_fits_as_exact(frame, cls, y, shape):
    exact = cls(monotonic_trend=shape).fit(frame, "x", y)
    heur = cls(monotonic_trend=f"{shape}_heuristic").fit(frame, "x", y)
    assert list(heur.splits) == list(exact.splits)
    assert heur.solution_.objective == exact.solution_.objective
    assert heur.status == exact.status == "OPTIMAL"


def test_status_reports_solver_status(frame):
    ob = OptimalBinning().fit(frame, "x", "y")
    assert ob.status == ob.solution_.status == "OPTIMAL"
    # one class only: no bin has both events and non-events
    single = OptimalBinning().fit(frame, "x", "y0")
    assert single.status == "INFEASIBLE"
    assert len(single.splits) == 0
    sb = SBOptimalBinning(monotonic_trend="ascending")
    assert sb.fit(frame, "x", "y", "y0").status == sb.solution_.status
