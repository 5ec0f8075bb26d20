"""A binary fit refuses labels outside {0, 1}.

Rows whose label is neither 0 nor 1 fall in neither class sum of the
binary aggregation, so a fit used to drop them silently: 150 NaN labels
of 1,500 rows gave a table totalling 1,350 rows with finite WoE, and
labels 2 and 3 vanished the same way. The aggregation now counts them
beside the class sums, and every route that reads that count raises a
named ``ValueError`` before the solve, with no extra Spark action (a
NULL label is still filtered before the fit, as before).
"""

import numpy as np
import pytest

from optbinning_spark import BinningProcess, OptimalBinning

N = 1_500
MESSAGE = r"label outside \{0, 1\}"


def _frame(spark, labels):
    rng = np.random.default_rng(3)
    rows = [(float(rng.integers(0, 40)),           # moderate cardinality
             float(rng.normal(100.0, 30.0)),       # one value per row
             "abcde"[int(rng.integers(0, 5))],
             float(lab))
            for lab in labels]
    return spark.createDataFrame(
        rows, "q double, price double, cat string, y double")


def _labels(kind):
    rng = np.random.default_rng(7)
    y = (rng.random(N) < 0.3).astype(float)
    if kind == "nan":
        y[::10] = np.nan                           # 150 of 1,500
    else:
        y = rng.integers(0, 4, N).astype(float)    # y in {0, 1, 2, 3}
    return y


ROUTES = {
    # histogram: one LIMIT-guarded value_stats aggregation
    "exact": (dict(), "q"),
    # past the distinct-value cap: probe, then bucket_value_stats
    "overflow": (dict(), "price"),
    # splits known: one bin_stats aggregation
    "user_splits": (dict(user_splits=[10.0, 20.0, 30.0]), "q"),
    "quantile_exact": (dict(prebinning_method="quantile_exact"), "q"),
    "categorical": (dict(dtype="categorical"), "cat"),
}


@pytest.fixture(scope="module", params=["nan", "0123"])
def bad_frame(request, spark):
    return _frame(spark, _labels(request.param))


@pytest.mark.parametrize("route", sorted(ROUTES))
def test_single_fit_refuses_bad_labels(bad_frame, route, monkeypatch):
    from optbinning_spark.operators import prebinning

    kw, x = ROUTES[route]
    if route == "overflow":
        # a cap below price's cardinality, so the fit takes the
        # bucketized route without a large frame
        monkeypatch.setattr(prebinning, "MAX_HISTOGRAM_BUCKETS", 16)
    with pytest.raises(ValueError, match=MESSAGE):
        OptimalBinning(**kw).fit(bad_frame, x, "y")


def test_process_fit_refuses_bad_labels(bad_frame):
    with pytest.raises(ValueError, match=MESSAGE):
        BinningProcess(["q", "price", "cat"], categorical_variables=["cat"]
                       ).fit(bad_frame, "y", target_type="binary")


def test_valid_labels_fit_every_row(spark):
    y = _labels("nan")
    y[np.isnan(y)] = 1.0
    df = _frame(spark, y)
    for route, (kw, x) in ROUTES.items():
        if route == "overflow":
            continue
        t = OptimalBinning(**kw).fit(df, x, "y").binning_table.build()
        assert int(t["count"].iloc[-1]) == N, route
