import numpy as np
import pytest
from pyspark.sql import functions as F

from optbinning_spark import BinningProcess, MulticlassOptimalBinning
from optbinning_spark.monitoring import ScorecardMonitoring
from optbinning_spark.scorecard import Scorecard


@pytest.fixture(scope="module")
def wide_df(spark):
    rng = np.random.RandomState(42)
    rows = []
    for i in range(4000):
        x1 = float(rng.uniform(0, 100))       # strong signal
        x2 = float(rng.normal(50, 10))        # weak signal
        x3 = float(rng.uniform(0, 1))         # no signal
        cat = "abc"[i % 3]                    # categorical signal
        p = 0.05 + 0.6 * x1 / 100 + {"a": 0.0, "b": 0.1, "c": 0.2}[cat]
        y = int(rng.rand() < min(p, 0.95))
        rows.append((i, x1, x2, x3, cat, y))
    return spark.createDataFrame(
        rows, "id long, x1 double, x2 double, x3 double, cat string, y int"
    )


@pytest.fixture(scope="module")
def fitted_process(wide_df):
    bp = BinningProcess(
        ["x1", "x2", "x3", "cat"],
        # min well above noise-level IV (~0.01) so the no-signal
        # variables are excluded deterministically
        selection_criteria={"iv": {"min": 0.05, "strategy": "highest", "top": 3}},
        prebinning_method="quantile",
    )
    bp.fit(wide_df, "y")
    return bp


def test_process_selection(fitted_process):
    assert fitted_process._target_type == "binary"
    summary = fitted_process.summary()
    assert len(summary) == 4
    ivs = dict(zip(summary["name"], summary["iv"]))
    assert ivs["x1"] > ivs["x3"]
    assert "x1" in fitted_process.support_
    assert "x3" not in fitted_process.support_


def test_process_dtype_inference(fitted_process):
    assert fitted_process._dtypes["cat"] == "categorical"
    assert fitted_process._dtypes["x1"] == "numerical"


def test_process_transform_one_pass(fitted_process, wide_df):
    out = fitted_process.transform(wide_df, keep_cols=["id", "y"])
    assert set(out.columns) == {"id", "y", *fitted_process.support_}
    # woe columns are numeric and non-null
    for v in fitted_process.support_:
        assert out.filter(F.col(v).isNull()).count() == 0


def test_per_variable_overrides(wide_df):
    bp = BinningProcess(
        ["x1", "x2"],
        prebinning_method="quantile",
        binning_fit_params={"x2": {"max_n_bins": 2}},
        binning_transform_params={"x2": {"metric": "indices"}},
    )
    bp.fit(wide_df, "y")
    t2 = bp.get_binned_variable("x2").binning_table
    assert sum(1 for k in t2.kinds if k == "clean") <= 2
    out = bp.transform(wide_df)
    vals = {r["x2"] for r in out.select("x2").distinct().collect()}
    assert vals <= {-1, 0, 1}  # indices metric


def test_process_json_roundtrip(fitted_process, wide_df, tmp_path):
    p = str(tmp_path / "bp.json")
    fitted_process.to_json(p)
    bp2 = BinningProcess.read_json(p)
    a = fitted_process.transform(wide_df).toPandas()
    b = bp2.transform(wide_df).toPandas()
    assert a.equals(b)


def test_scorecard_pdo_odds(fitted_process, wide_df):
    sc = Scorecard(
        fitted_process,
        scaling_method="pdo_odds",
        scaling_method_params={"pdo": 20, "odds": 50, "scorecard_points": 600},
    )
    sc.fit(wide_df, "y")
    tab = sc.table()
    assert {"variable", "bin", "points"} <= set(tab.columns)
    scored = sc.score(wide_df)
    stats = scored.agg(F.min("score"), F.max("score")).first()
    assert stats[0] < stats[1]
    # higher score should mean lower event rate (pdo_odds is reversed)
    lo = scored.filter(F.col("score") < stats[0] + (stats[1] - stats[0]) / 3)
    hi = scored.filter(F.col("score") > stats[1] - (stats[1] - stats[0]) / 3)
    assert lo.agg(F.avg("y")).first()[0] > hi.agg(F.avg("y")).first()[0]


def test_scorecard_proba_calibration(fitted_process, wide_df):
    sc = Scorecard(fitted_process)
    sc.fit(wide_df, "y")
    avg_p = sc.predict_proba(wide_df).agg(F.avg("proba")).first()[0]
    base = wide_df.agg(F.avg("y")).first()[0]
    assert avg_p == pytest.approx(base, abs=0.02)


def test_scorecard_min_max_rounding(fitted_process, wide_df):
    sc = Scorecard(
        fitted_process,
        scaling_method="min_max",
        scaling_method_params={"min": 0, "max": 100},
        rounding=True,
    )
    sc.fit(wide_df, "y")
    stats = sc.score(wide_df).agg(F.min("score"), F.max("score")).first()
    assert stats[0] >= -1.0 and stats[1] <= 101.0
    for pts in sc.points_.values():
        assert np.allclose(pts, np.round(pts))


def test_monitoring(fitted_process, wide_df):
    sc = Scorecard(fitted_process)
    sc.fit(wide_df, "y")
    exp = wide_df.filter(F.col("id") % 2 == 0)
    act = wide_df.filter(F.col("id") % 2 == 1)
    mon = ScorecardMonitoring(sc, psi_n_bins=8).fit(act, exp, "y")
    rep = mon.psi_report()
    assert rep["psi"] < 0.1  # same distribution
    assert rep["level"] == "insignificant"
    tests = mon.tests_table()
    assert (tests["p_value"] >= 0).all() and (tests["p_value"] <= 1).all()
    perf = mon.performance_report(act)
    assert perf["auc"] > 0.6  # real signal present
    vp = mon.variable_psi_table(act, exp)
    assert set(vp["variable"]) == set(sc.selected_)


def test_multiclass_binning(spark):
    rng = np.random.RandomState(3)
    rows = []
    for i in range(3000):
        x = float(rng.uniform(0, 90))
        cls = int(x // 30)  # 3 classes by range, with noise
        if rng.rand() < 0.2:
            cls = int(rng.randint(0, 3))
        rows.append((x, cls))
    df = spark.createDataFrame(rows, "x double, y int")
    mb = MulticlassOptimalBinning(prebinning_method="quantile")
    mb.fit(df, "x", "y")
    t = mb.binning_table
    assert t.js > 0
    assert len(mb.classes_) == 3
    out = mb.transform(df, "x", metric="mean_woe", out_col="mw")
    assert out.filter(F.col("mw").isNull()).count() == 0
    # weighted_mean_woe also works
    out2 = mb.transform(df, "x", metric="weighted_mean_woe", out_col="w2")
    assert out2.select("w2").distinct().count() >= 2


def test_multiclass_auto_decides_and_enforces_peak(spark):
    """End-to-end reference-semantics check (multiclass_binning.py:
    97-106 + multiclass_cp.py per-class y[c,i]/t[c]): with
    monotonic_trend='auto', the middle class of a 3-band feature is
    one-vs-rest peak-shaped; auto must RESOLVE it to 'peak' (not
    silently drop to unconstrained) and the merged table's class rates
    must satisfy the change-point semantics."""
    rng = np.random.RandomState(3)
    rows = []
    for i in range(3000):
        x = float(rng.uniform(0, 90))
        cls = int(x // 30)
        if rng.rand() < 0.2:
            cls = int(rng.randint(0, 3))
        rows.append((x, cls))
    df = spark.createDataFrame(rows, "x double, y int")
    mb = MulticlassOptimalBinning(prebinning_method="quantile")
    mb.fit(df, "x", "y")
    trends = mb.resolved_trends_
    assert any(t in ("peak", "valley") for t in trends), trends
    # every resolved trend is enforced on the final merged (clean) bins
    clean = [i for i, k in enumerate(mb._table.kinds) if k == "clean"]
    Mm = np.asarray(mb._table.M, dtype=float)[clean]
    cnt = Mm.sum(axis=1)
    from tests.test_solver import _leg_feasible

    for c, tr in enumerate(trends):
        rates = list(Mm[:, c] / np.maximum(cnt, 1e-15))
        assert _leg_feasible(rates, tr), (c, tr, rates)
    # and the solve is still the exact optimum under those constraints
    from tests.test_solver import _brute_force_multiclass

    prebin_M = np.asarray(mb._prebin_class_counts_, dtype=float)
    if prebin_M.shape[0] <= 12:
        b_obj, _ = _brute_force_multiclass(prebin_M, trends)
        assert mb.solution_.objective == pytest.approx(b_obj)


def test_multiclass_binning_process(spark):
    """Whole-process multiclass fit: target type + class list inferred
    inside the fused probe job; per-variable binners get classes_."""
    rng = np.random.RandomState(7)
    rows = []
    for i in range(3000):
        x1 = float(rng.uniform(0, 90))
        x2 = float(rng.normal(30, 8))
        cls = int(x1 // 30)
        if rng.rand() < 0.2:
            cls = int(rng.randint(0, 3))
        rows.append((x1, x2, cls))
    df = spark.createDataFrame(rows, "x1 double, x2 double, y int")
    bp = BinningProcess(["x1", "x2"]).fit(df, "y")
    assert bp._target_type == "multiclass"
    assert bp._classes == [0, 1, 2]
    assert all(list(b.classes_) == [0, 1, 2] for b in bp._binners.values())
    out = bp.transform(df, metric="mean_woe")
    assert out.filter(F.col("x1").isNull()).count() == 0
    s = bp.summary()
    assert set(s["name"]) == {"x1", "x2"}


def test_multiclass_rejects_categorical(spark):
    df = spark.createDataFrame([("a", 0), ("b", 1), ("c", 2)],
                               "cat string, y int")
    mb = MulticlassOptimalBinning()
    with pytest.raises(ValueError):
        mb.fit(df, "cat", "y")


def test_continuous_process(spark):
    rng = np.random.RandomState(5)
    rows = []
    for i in range(2000):
        x = float(rng.uniform(0, 10))
        rows.append((x, float(3 * x + rng.normal(0, 1))))
    df = spark.createDataFrame(rows, "x double, y double")
    bp = BinningProcess(["x"], prebinning_method="quantile")
    bp.fit(df, "y")
    assert bp._target_type == "continuous"
    sc = Scorecard(bp)
    sc.fit(df, "y")
    pred = sc.predict(df)
    # R2 of binned linear model should be high on a linear relation
    from optbinning_spark.monitoring import ScorecardMonitoring

    mon = ScorecardMonitoring(sc).fit(df, df, "y")
    assert mon.performance_report(df)["r2"] > 0.8


def test_scorecard_save_load_roundtrip(spark, tmp_path):
    import pyspark.sql.functions as F

    from optbinning_spark.binning_process import BinningProcess
    from optbinning_spark.scorecard import Scorecard

    df = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .withColumn("y", (F.col("l_returnflag") == "R").cast("int"))
    )
    bp = BinningProcess(
        ["l_quantity", "l_extendedprice", "l_linestatus"],
        prebinning_method="quantile",
    )
    sc = Scorecard(
        bp,
        scaling_method="pdo_odds",
        scaling_method_params={"pdo": 20, "odds": 50, "scorecard_points": 600},
    ).fit(df, "y")
    path = str(tmp_path / "scorecard.json")
    sc.save(path)
    sc2 = Scorecard.load(path)
    a = sc.score(df).select("score").toPandas()["score"].values
    b = sc2.score(df).select("score").toPandas()["score"].values
    import numpy as np

    np.testing.assert_allclose(a, b, rtol=1e-12)
    pa = sc.predict_proba(df).select("proba").toPandas()["proba"].values
    pb = sc2.predict_proba(df).select("proba").toPandas()["proba"].values
    np.testing.assert_allclose(pa, pb, rtol=1e-12)
    # table reconstructable
    t = sc2.table()
    assert set(t["variable"]) == set(sc.selected_)


def test_scorecard_huber_estimator(spark):
    """estimator='huber' (HuberRegressor-equivalent IRLS): robust to
    target outliers that skew the plain linear estimator."""
    rng = np.random.RandomState(9)
    rows = []
    for i in range(3000):
        x = float(rng.uniform(0, 10))
        y = float(3 * x + rng.normal(0, 0.5))
        if i % 25 == 0:
            y += 200.0
        rows.append((x, y))
    df = spark.createDataFrame(rows, "x double, y double")

    preds = {}
    for est in ("linear", "huber"):
        bp = BinningProcess(["x"], prebinning_method="quantile")
        sc = Scorecard(bp, estimator=est)
        sc.fit(df, "y")
        p = sc.predict(df.select("x").distinct())
        preds[est] = {r["x"]: r["prediction"] for r in p.collect()}
    xs = sorted(preds["huber"])
    huber_err = np.mean([abs(preds["huber"][x] - 3 * x) for x in xs])
    linear_err = np.mean([abs(preds["linear"][x] - 3 * x) for x in xs])
    assert huber_err < linear_err  # robust fit ignores the +200 spikes
    assert huber_err < 2.0


def test_huber_sample_prefilter_identical_fit(spark):
    """The hash-threshold prefilter on the robust estimator's bounded
    driver sample must be invisible: with max_driver_rows below the
    row count (prefilter active, n > 2*cap) the fitted coefficients
    and intercept are bit-identical to the exact unfiltered top-k
    pass (sample_prefilter=False)."""
    rng = np.random.RandomState(3)
    rows = [(float(rng.uniform(0, 10)), float(rng.uniform(0, 5)),
             float(rng.normal(0, 1)))
            for _ in range(4000)]
    df = spark.createDataFrame(rows, "a double, b double, y double")
    coefs = {}
    for flag in (True, False):
        bp = BinningProcess(["a", "b"], prebinning_method="quantile")
        sc = Scorecard(bp, estimator="huber",
                       estimator_params={"max_driver_rows": 500,
                                         "sample_prefilter": flag})
        sc.fit(df, "y")
        coefs[flag] = (dict(sc.coef_), sc.intercept_)
    assert coefs[True] == coefs[False]


def test_process_reference_api_surface(spark, tmp_path):
    """fit_disk/transform_disk aliases, get_support views,
    update_binned_variable, fit_from_dict (reference
    binning_process.py:637-1048)."""
    from optbinning_spark import OptimalBinning

    rng = np.random.RandomState(17)
    rows = [
        (float(rng.uniform(0, 10)), float(rng.uniform(0, 5)),
         int(rng.rand() < 0.3))
        for _ in range(1500)
    ]
    df = spark.createDataFrame(rows, "a double, b double, y int")
    src = str(tmp_path / "in.parquet")
    dst = str(tmp_path / "out.parquet")
    df.write.parquet(src)

    bp = BinningProcess(["a", "b"], prebinning_method="quantile")
    bp.fit_disk(spark, src, "y")
    mask = bp.get_support()
    assert mask.dtype == bool and len(mask) == 2
    assert list(bp.get_support(indices=True)) == [0, 1]
    assert bp.get_support(names=True) == ["a", "b"]

    bp.transform_disk(spark, src, dst, metric="woe", chunksize=10_000)
    out = spark.read.parquet(dst)
    assert out.count() == 1500

    # swap in a refit binner for one variable
    ob = OptimalBinning(prebinning_method="uniform")
    ob.fit(df, "a", "y")
    bp.update_binned_variable("a", ob)
    assert bp.get_binned_variable("a") is ob

    # rebuild a process from fitted objects
    ob_b = OptimalBinning(prebinning_method="quantile")
    ob_b.fit(df, "b", "y")
    bp2 = BinningProcess(["a", "b"])
    bp2.fit_from_dict({"a": ob, "b": ob_b})
    assert bp2._target_type == "binary"
    assert set(bp2.summary()["name"]) == {"a", "b"}
    t = bp2.transform(df, metric="woe")
    assert t.count() == 1500


def test_scorecard_decision_function_and_transform(fitted_process, wide_df):
    sc = Scorecard(fitted_process, scaling_method="pdo_odds",
                   scaling_method_params={"pdo": 20, "odds": 50,
                                          "scorecard_points": 600})
    sc.fit(wide_df, "y")
    dec = sc.decision_function(wide_df).select("decision").limit(5).collect()
    proba = sc.predict_proba(wide_df).select("proba").limit(5).collect()
    for d, p in zip(dec, proba):
        assert p["proba"] == pytest.approx(
            1.0 / (1.0 + np.exp(-d["decision"])), rel=1e-9)
    t = sc.transform(wide_df)
    pts_cols = [c for c in t.columns if c.endswith("_points")]
    assert len(pts_cols) == len(sc.selected_)


def test_sketch_accessors(spark):
    from optbinning_spark import OptimalBinningSketch

    rng = np.random.RandomState(18)
    rows = [(float(rng.uniform(0, 10)), int(rng.rand() < 0.2 + 0.05 * 0))
            for _ in range(2000)]
    df = spark.createDataFrame(rows, "x double, y int")
    sk = OptimalBinningSketch()
    sk.add(df, "x", "y")
    sk2 = OptimalBinningSketch()
    sk2.add(df, "x", "y")
    assert sk.mergeable(sk2)
    sk.merge(sk2)
    assert len(sk.splits) >= 0 and sk.status in ("OPTIMAL", "INFEASIBLE")
    out = sk.transform(df, "x", metric="woe", out_col="w")
    assert out.filter(F.col("w").isNull()).count() == 0
    assert "batches added" in sk.information()


def test_monitoring_reference_surface(fitted_process, wide_df, spark):
    """system_stability_report / target_analysis / psi_variable_table
    styles (reference monitoring.py:154-420)."""
    from optbinning_spark.monitoring import ScorecardMonitoring

    sc = Scorecard(fitted_process)
    sc.fit(wide_df, "y")
    act = wide_df.limit(800)
    exp = wide_df
    mon = ScorecardMonitoring(sc).fit(act, exp, "y")

    ta = mon.target_analysis()
    assert set(ta["population"]) == {"Actual", "Expected"}
    assert (ta["n_records"] > 0).all()

    rep = mon.system_stability_report()
    assert "Population Stability Index" in rep

    det = mon.psi_variable_table(act, exp, style="detailed")
    summ = mon.psi_variable_table(act, exp, style="summary")
    # per-bin contributions sum to the summary PSI exactly
    for _, row in summ.iterrows():
        s = det[det["variable"] == row["variable"]]["psi"].sum()
        assert s == pytest.approx(row["psi"], rel=1e-12)
    one = mon.psi_variable_table(act, exp, name=summ["variable"].iloc[0])
    assert len(one) == 1
    assert "ScorecardMonitoring" in mon.information()


def test_monitoring_continuous_target_analysis(spark):
    rng = np.random.RandomState(21)
    rows = [(float(rng.uniform(0, 10)), float(rng.normal(5, 2)))
            for _ in range(2000)]
    df = spark.createDataFrame(rows, "x double, y double")
    bp = BinningProcess(["x"], prebinning_method="quantile")
    sc = Scorecard(bp)
    sc.fit(df, "y")
    from optbinning_spark.monitoring import ScorecardMonitoring

    mon = ScorecardMonitoring(sc).fit(df.limit(900), df, "y")
    ta = mon.target_analysis()
    assert {"mean", "std", "p25", "median", "p75"} <= set(ta.columns)
    assert ta["mean"].between(4, 6).all()


@pytest.fixture(scope="module")
def mixed_df(spark):
    rng = np.random.RandomState(3)
    rows = []
    for i in range(6000):
        small = float(rng.randint(0, 40))          # 40 distinct
        big = float(np.round(rng.uniform(0, 1000), 6))  # ~6000 distinct
        cat = "uvwxyz"[i % 6]
        spec = -9.0 if i % 97 == 0 else small
        p = 0.1 + 0.5 * big / 1000 + 0.2 * (small > 20)
        y = int(rng.rand() < min(p, 0.95))
        yc = float(np.round(10 * p + rng.normal(), 6))
        w = float(1 + (i % 3))
        rows.append((spec, small, big, cat, y, yc, w))
    return spark.createDataFrame(
        rows, "xs double, xm double, xb double, cat string, y int, "
        "yc double, w double")


@pytest.mark.parametrize("method,target", [
    ("cart", "binary"), ("mdlp", "binary"), ("quantile", "binary"),
    ("uniform", "binary"), ("cart", "continuous"),
])
def test_process_fit_matches_single_variable_fits(mixed_df, method, target):
    """Each variable of a process fit equals a single-variable fit with
    the same settings — same splits, same bin table — across a
    user-split numeric with a special code, an exact-path numeric
    (its splits come from the proposer both fits share), a categorical,
    and weights. The high-cardinality numeric takes the bucketized
    route, whose bucket edges come from the process probe's value
    sample and so differ from the single-variable fit's; its table is
    checked against a raw recount instead."""
    import pandas as pd

    from optbinning_spark.binning import (
        ContinuousOptimalBinning,
        OptimalBinning,
    )

    df = mixed_df
    y = "y" if target == "binary" else "yc"
    cls = OptimalBinning if target == "binary" else ContinuousOptimalBinning
    user = {"xs": {"user_splits": [10.0, 20.0, 30.0]}}
    bp = BinningProcess(
        ["xs", "xm", "xb", "cat"], categorical_variables=["cat"],
        special_codes=[-9.0], binning_fit_params=user,
        prebinning_method=method)
    bp.fit(df, y, sample_weight="w")
    assert bp._target_type == target
    for v, kw in (("xs", user["xs"]), ("xm", {}),
                  ("cat", {"dtype": "categorical"})):
        ob = cls(name=v, special_codes=[-9.0], prebinning_method=method,
                 **kw)
        ob.fit(df, v, y, sample_weight="w")
        pb = bp.get_binned_variable(v)
        if v != "cat":
            assert list(pb.splits) == list(ob.splits), v
        pd.testing.assert_frame_equal(
            pb.binning_table.build(), ob.binning_table.build())

    ob = bp.get_binned_variable("xb")
    splits = list(ob.splits)
    assert splits, "xb should produce splits"
    tbl = ob.binning_table.build(add_totals=False)
    clean = tbl[~tbl["bin"].isin(["Special", "Missing"])]
    b = F.lit(0)
    for s in splits:
        b = b + (F.col("xb") >= F.lit(float(s))).cast("int")
    chk = (
        df.groupBy(b.alias("bin"))
        .agg(F.sum("w").alias("n"))
        .orderBy("bin").collect()
    )
    np.testing.assert_allclose(
        np.array(clean["count"], dtype=float),
        np.array([r["n"] for r in chk], dtype=float))


def test_rounding_preserves_min_max_total_score():
    """Reference RoundingMIP semantics (rounding.py:13-110): the
    rounded points preserve the minimum and maximum achievable TOTAL
    score (rint of the raw extremes), with minimal L1 movement —
    verified against an exhaustive floor/ceil search."""
    import itertools

    from optbinning_spark.scorecard import _round_points_minmax

    rng = np.random.RandomState(3)
    for _ in range(20):
        raw = {
            f"v{i}": rng.uniform(-30, 30, rng.randint(2, 5))
            for i in range(3)
        }
        out = _round_points_minmax(raw)
        min_point = np.rint(sum(r.min() for r in raw.values()))
        max_point = np.rint(sum(r.max() for r in raw.values()))
        assert sum(p.min() for p in out.values()) >= min_point
        assert sum(p.max() for p in out.values()) <= max_point
        got_cost = sum(
            np.abs(out[v] - raw[v]).sum() for v in raw
        )
        # exhaustive optimum over floor/ceil choices
        names = list(raw)
        flat = [(v, j) for v in names for j in range(len(raw[v]))]
        best = None
        for bits in itertools.product([0, 1], repeat=len(flat)):
            cand = {v: np.floor(raw[v]).copy() for v in names}
            for (v, j), b in zip(flat, bits):
                cand[v][j] += b
            if sum(c.min() for c in cand.values()) < min_point:
                continue
            if sum(c.max() for c in cand.values()) > max_point:
                continue
            cost = sum(np.abs(cand[v] - raw[v]).sum() for v in names)
            if best is None or cost < best:
                best = cost
        assert best is not None
        assert got_cost <= best + 1e-9


def test_custom_estimator_plugin(fitted_process, wide_df):
    """X1: any object with fit(X, y, sample_weight) + coef_/intercept_
    drives the scorecard (reference scorecard.py:37-39)."""

    class RidgeLike:
        def fit(self, X, y, sample_weight=None):
            w = np.ones(len(X)) if sample_weight is None else sample_weight
            A = np.hstack([X, np.ones((len(X), 1))])
            Aw = A * w[:, None]
            beta = np.linalg.solve(
                A.T @ Aw + 0.1 * np.eye(A.shape[1]), Aw.T @ y
            )
            self.coef_ = beta[:-1]
            self.intercept_ = beta[-1]
            return self

    sc = Scorecard(
        fitted_process,
        estimator=RidgeLike(),
        scaling_method="pdo_odds",
        scaling_method_params={"pdo": 20, "odds": 50, "scorecard_points": 600},
    )
    sc.fit(wide_df, "y")
    assert set(sc.coef_) == set(sc.selected_)
    scores = sc.score(wide_df).select("score").limit(5).collect()
    assert all(np.isfinite(r["score"]) for r in scores)
    # save tags the custom estimator instead of failing to serialize
    import tempfile, os

    p = os.path.join(tempfile.mkdtemp(), "sc.json")
    sc.save(p)
    assert Scorecard.load(p).estimator.startswith("custom:")


def test_huber_fit_deterministic(fitted_process, wide_df):
    """Two consecutive huber fits produce identical coefficients (the
    driver sample is order-stabilized, not an arbitrary limit)."""
    df = wide_df.withColumn("yc", F.col("x1") * 2.0 + F.col("x2"))
    coefs = []
    for _ in range(2):
        bp = BinningProcess(["x1", "x2"], prebinning_method="quantile")
        sc = Scorecard(bp, estimator="huber")
        sc.fit(df, "yc")
        coefs.append(sorted(sc.coef_.items()))
    assert coefs[0] == coefs[1]


def test_huber_capped_sample_spans_distribution(spark):
    """max_driver_rows smaller than the table: the driver sample is
    xxhash64-ordered (uniform over the WoE/label distribution), so the
    capped huber fit still recovers the true slope.  A prefix sample
    over orderBy(features) would collect only the lowest-WoE bin — a
    constant design column — and the fit would degenerate."""
    rng = np.random.RandomState(11)
    rows = []
    for _ in range(4000):
        x = float(rng.uniform(0, 10))
        rows.append((x, float(3 * x + rng.normal(0, 0.5))))
    df = spark.createDataFrame(rows, "x double, y double")
    bp = BinningProcess(["x"], prebinning_method="quantile")
    sc = Scorecard(bp, estimator="huber",
                   estimator_params={"max_driver_rows": 400})
    sc.fit(df, "y")
    p = sc.predict(df.select("x").distinct())
    err = np.mean([abs(r["prediction"] - 3 * r["x"]) for r in p.collect()])
    assert err < 2.0
