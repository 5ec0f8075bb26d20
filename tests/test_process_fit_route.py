"""The BinningProcess fit has one route — the stacked aggregation —
for every prebinning method: uniform prebinning against a pandas
recount on the narrow, overflow and wide shapes, a categorical past
the stacked collect's LIMIT allowance, and the method name check."""

import numpy as np
import pandas as pd
import pytest

from optbinning_spark import BinningProcess
from optbinning_spark.binning import OptimalBinning

N = 9000
SPECIAL = -1.0


@pytest.fixture(scope="module")
def frame():
    rng = np.random.RandomState(11)
    i = np.arange(N)
    lo = rng.randint(0, 30, N).astype(float)
    lo[i % 50 == 0] = SPECIAL
    lo_obj = lo.astype(object)
    lo_obj[i % 71 == 0] = None
    hi = np.round(rng.uniform(-500, 1500, N), 3)   # ~9000 distinct
    cat = np.array(list("abcdefg"), dtype=object)[rng.randint(0, 7, N)]
    cat[i % 83 == 0] = None
    p = 0.15 + 0.3 * (lo > 15) + 0.3 * (hi > 800)
    y = (rng.rand(N) < p).astype(int)
    w = (1 + i % 3).astype(float)
    pdf = pd.DataFrame({"lo": lo_obj, "hi": hi, "cat": cat, "y": y,
                        "w": w})
    for j in range(5):
        pdf[f"k{j}"] = ((i * (j + 2)) % 17).astype(float)
    return pdf


def _capture(monkeypatch):
    """Record the (prebin splits, stats) each binner is finalized
    with."""
    seen = {}
    fin_num = OptimalBinning._finalize_numerical
    fin_cat = OptimalBinning._finalize_categorical

    def num(self, prebin_splits, stats):
        seen[self.name] = (np.asarray(prebin_splits, dtype=float), stats)
        return fin_num(self, prebin_splits, stats)

    def cat(self, cats, missing, specials, x="", tail=None):
        seen[self.name] = (cats, missing, specials)
        return fin_cat(self, cats, missing, specials, x, tail=tail)

    monkeypatch.setattr(OptimalBinning, "_finalize_numerical", num)
    monkeypatch.setattr(OptimalBinning, "_finalize_categorical", cat)
    return seen


def _weighted(sub):
    ev = float(sub.loc[sub["y"] == 1, "w"].sum())
    return float(sub["w"].sum()) - ev, ev


@pytest.mark.parametrize("names", [
    ["lo", "cat"],                                       # narrow, exact
    ["lo", "hi", "cat"],                                 # narrow overflow
    ["lo", "hi", "cat", "k0", "k1", "k2", "k3", "k4"],   # wide
])
def test_uniform_fit_matches_pandas_recount(spark, frame, monkeypatch,
                                            names):
    df = spark.createDataFrame(
        frame, "lo double, hi double, cat string, y int, w double, "
        "k0 double, k1 double, k2 double, k3 double, k4 double")
    seen = _capture(monkeypatch)
    bp = BinningProcess(names, categorical_variables=["cat"],
                        special_codes=[SPECIAL],
                        prebinning_method="uniform", max_n_prebins=12)
    bp.fit(df, "y", sample_weight="w")
    assert bp._target_type == "binary"

    for v in names:
        col = frame[v]
        if v == "cat":
            cats, missing, _ = seen[v]
            present = frame[col.notna()]
            want = {k: _weighted(g) for k, g in present.groupby("cat")}
            got = {k: (s["n_nonevent"], s["n_event"])
                   for k, s in cats.items()}
            assert got == want
            assert (missing["n_nonevent"], missing["n_event"]) == \
                _weighted(frame[col.isna()])
            continue
        prebins, stats = seen[v]
        x = col.astype(float)
        special = x == SPECIAL
        clean = frame[x.notna() & ~special]
        cx = clean[v].astype(float).to_numpy()
        mn, mx = cx.min(), cx.max()
        step = (mx - mn) / 12
        want_splits = np.unique(
            np.array([mn + k * step for k in range(1, 12)]))
        np.testing.assert_array_equal(prebins, want_splits)

        idx = np.digitize(cx, want_splits, right=False)
        for b in range(len(want_splits) + 1):
            ne, ev = _weighted(clean[idx == b])
            assert stats.clean["n_nonevent"][b] == ne, (v, b)
            assert stats.clean["n_event"][b] == ev, (v, b)
        assert (stats.missing["n_nonevent"], stats.missing["n_event"]) \
            == _weighted(frame[x.isna()])
        if special.any():
            sp = stats.specials[next(iter(stats.specials))]
            assert (sp["n_nonevent"], sp["n_event"]) == \
                _weighted(frame[special])


def test_categorical_past_limit_allowance_completes(spark):
    """120k categories overflow the stacked collect's 100k-per-
    categorical LIMIT allowance on both the narrow and the probe-routed
    attempt (a float target keeps the narrow LIMIT at one row per
    group); the fit re-runs the aggregation unbounded and every row is
    accounted for."""
    from pyspark.sql import functions as F

    n = 125_000
    df = spark.range(n).select(
        F.concat(F.lit("c"), (F.col("id") % 120_000).cast("string"))
        .alias("cat"),
        (F.col("id") % 50).cast("double").alias("num"),
        (F.col("id") % 3 == 0).cast("double").alias("y"),
    )
    bp = BinningProcess(["cat", "num"], categorical_variables=["cat"])
    bp.fit(df, "y")
    for v in ("cat", "num"):
        tbl = bp.get_binned_variable(v).binning_table.build()
        assert tbl.loc[tbl["bin"] == "Totals", "count"].iloc[0] == n, v


def test_unknown_prebinning_method_is_rejected():
    with pytest.raises(ValueError, match="prebinning_method"):
        BinningProcess(["x"], prebinning_method="quantil")
