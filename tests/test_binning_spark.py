import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from optbinning_spark import ContinuousOptimalBinning, OptimalBinning


@pytest.fixture(scope="module")
def binary_df(spark):
    # deterministic ramp: event rate rises with x; NaN + special codes
    rows = []
    rng = np.random.RandomState(42)
    for i in range(2000):
        x = float(i % 100)
        y = int(rng.rand() < (0.1 + 0.8 * (x / 100.0)))
        rows.append((i, x, y))
    # missing block and special block with distinctive target rates
    for i in range(2000, 2100):
        rows.append((i, float("nan"), 1))
    for i in range(2100, 2200):
        rows.append((i, -9.0, 0))
    return spark.createDataFrame(rows, "id long, x double, y int")


def test_binary_fit_ascending(binary_df):
    ob = OptimalBinning(
        prebinning_method="quantile", monotonic_trend="ascending",
        special_codes=[-9.0],
    )
    ob.fit(binary_df, "x", "y")
    t = ob.binning_table
    rates = [r for r, k in zip(t.event_rate, t.kinds) if k == "clean"]
    assert all(rates[i + 1] >= rates[i] for i in range(len(rates) - 1))
    # missing and special rows are present with their counts
    assert t.missing_stats["n_event"] == 100
    assert t.special_stats["special"]["n_nonevent"] == 100
    # totals reconcile
    assert t.count.sum() == 2200


def test_auto_resolves_ascending(binary_df):
    ob = OptimalBinning(prebinning_method="quantile", monotonic_trend="auto",
                        special_codes=[-9.0])
    ob.fit(binary_df, "x", "y")
    assert ob.solution_.trend == "ascending"


def test_special_codes_dict(binary_df):
    df = binary_df.union(
        binary_df.sparkSession.createDataFrame(
            [(9000, -8.0, 1)] * 50, "id long, x double, y int"
        )
    )
    ob = OptimalBinning(
        prebinning_method="quantile",
        monotonic_trend="ascending",
        special_codes={"sp_a": [-9.0], "sp_b": [-8.0]},
    )
    ob.fit(df, "x", "y")
    t = ob.binning_table
    assert t.special_stats["sp_a"]["n_nonevent"] == 100
    assert t.special_stats["sp_b"]["n_event"] == 50


def test_woe_transform_roundtrip(binary_df):
    ob = OptimalBinning(prebinning_method="quantile",
                        monotonic_trend="ascending", special_codes=[-9.0])
    ob.fit(binary_df, "x", "y")
    out = ob.transform(binary_df, "x", metric="woe", out_col="woe")
    vals = {r["woe"] for r in out.select("woe").distinct().collect()}
    table_woes = {
        round(w, 10)
        for w, k in zip(ob.binning_table.woe, ob.binning_table.kinds)
        if k == "clean"
    }
    assert {round(v, 10) for v in vals if v != 0.0} <= table_woes | {0.0}
    # missing/special rows map to the configured default 0.0
    miss = out.filter(F.isnan("x")).select("woe").distinct().collect()
    assert [r["woe"] for r in miss] == [0.0]


def test_indices_and_bins_metrics(binary_df):
    ob = OptimalBinning(prebinning_method="quantile",
                        monotonic_trend="ascending", special_codes=[-9.0])
    ob.fit(binary_df, "x", "y")
    out = ob.transform(binary_df, "x", metric="indices", out_col="idx")
    idxs = {r["idx"] for r in out.select("idx").distinct().collect()}
    n_clean = sum(1 for k in ob.binning_table.kinds if k == "clean")
    assert idxs <= set(range(-1, n_clean))
    out2 = ob.transform(binary_df, "x", metric="bins", out_col="b",
                        metric_special="empirical", metric_missing="empirical")
    labels = {r["b"] for r in out2.select("b").distinct().collect()}
    assert "Missing" in labels and "Special" in labels


def test_user_splits(binary_df):
    ob = OptimalBinning(user_splits=[25.0, 50.0, 75.0], monotonic_trend=None,
                        special_codes=[-9.0])
    ob.fit(binary_df, "x", "y")
    assert list(ob.splits) == [25.0, 50.0, 75.0]


def test_json_roundtrip(binary_df, tmp_path):
    ob = OptimalBinning(prebinning_method="quantile",
                        monotonic_trend="ascending", special_codes=[-9.0])
    ob.fit(binary_df, "x", "y")
    p = str(tmp_path / "model.json")
    ob.to_json(p)
    ob2 = OptimalBinning.read_json(p)
    assert list(ob2.splits) == list(ob.splits)
    a = ob.transform(binary_df, "x", out_col="w1")
    b = ob2.transform(binary_df, "x", out_col="w1")
    assert a.select("w1").subtract(b.select("w1")).count() == 0


def test_categorical_binning(spark):
    rows = []
    rng = np.random.RandomState(7)
    rates = {"a": 0.1, "b": 0.3, "c": 0.5, "d": 0.7, "e": 0.9}
    for i in range(3000):
        c = "abcde"[i % 5]
        rows.append((i, c, int(rng.rand() < rates[c])))
    for i in range(3000, 3010):
        rows.append((i, "rare", 1))
    df = spark.createDataFrame(rows, "id long, cat string, y int")
    ob = OptimalBinning(monotonic_trend="ascending", cat_cutoff=0.01)
    ob.fit(df, "cat", "y")
    t = ob.binning_table
    # rare category routed to others
    assert ob._others_categories == ["rare"]
    flat = [c for b in ob._bin_categories for c in b]
    assert sorted(flat) == ["a", "b", "c", "d", "e"]
    # transform unknown category -> default 0
    new = spark.createDataFrame([(1, "zz", 0)], "id long, cat string, y int")
    out = ob.transform(new, "cat", out_col="w")
    assert out.first()["w"] == 0.0


def test_continuous_binning(spark):
    rows = []
    for i in range(3000):
        x = float(i % 100)
        rows.append((i, x, 10.0 + x * 0.5 + (i % 7) * 0.01))
    df = spark.createDataFrame(rows, "id long, x double, y double")
    cb = ContinuousOptimalBinning(prebinning_method="quantile",
                                  monotonic_trend="ascending")
    cb.fit(df, "x", "y")
    t = cb.binning_table
    means = [m for m, k in zip(t.mean, t.kinds) if k == "clean"]
    assert all(means[i + 1] >= means[i] for i in range(len(means) - 1))
    out = cb.transform(df, "x", metric="mean", out_col="m")
    assert out.filter(F.col("m").isNull()).count() == 0


def test_analysis_stats(binary_df):
    ob = OptimalBinning(prebinning_method="quantile",
                        monotonic_trend="ascending", special_codes=[-9.0])
    ob.fit(binary_df, "x", "y")
    a = ob.binning_table.analysis()
    assert 0 <= a["gini"] <= 1
    assert 0 <= a["ks"] <= 1
    assert a["iv"] > 0
    assert 0 <= a["quality_score"] <= 1


def test_categorical_high_cardinality_truncation(spark):
    """Bounded driver collect for high-cardinality categoricals: with a
    small max_categories the tail is folded into the others bin and
    totals are conserved."""
    import pyspark.sql.functions as F

    from optbinning_spark.operators.aggregation import categorical_value_stats

    df = (
        spark.range(0, 5000)
        .withColumn("cat", F.concat(F.lit("c"), (F.col("id") % 500)))
        .withColumn("y", (F.col("id") % 3 == 0).cast("int"))
    )
    cats, missing, specials, tail = categorical_value_stats(
        df, "cat", "y", None, target_type="binary", max_categories=100
    )
    assert len(cats) <= 116
    assert tail is not None
    total = sum(v["n_nonevent"] + v["n_event"] for v in cats.values())
    total += tail["n_nonevent"] + tail["n_event"]
    assert total == 5000


def test_class_weight_equals_explicit_sample_weight(spark):
    """A12: class_weight dict is identical to supplying the same
    per-class sample weights; 'balanced' reweights to equal class
    mass."""
    import numpy as np
    import pyspark.sql.functions as F

    from optbinning_spark.binning import OptimalBinning

    df = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .withColumn("y", (F.col("l_returnflag") == "R").cast("int"))
    )
    obc = OptimalBinning(prebinning_method="quantile",
                         class_weight={0: 1.0, 1: 2.5})
    obc.fit(df, "l_extendedprice", "y")
    wdf = df.withColumn(
        "w", F.when(F.col("y") == 1, 2.5).otherwise(1.0))
    obw = OptimalBinning(prebinning_method="quantile")
    obw.fit(wdf, "l_extendedprice", "y", sample_weight="w")
    np.testing.assert_allclose(obc.splits, obw.splits)
    np.testing.assert_allclose(
        obc.binning_table.build()["count"].values,
        obw.binning_table.build()["count"].values,
    )

    obb = OptimalBinning(prebinning_method="quantile",
                         class_weight="balanced")
    obb.fit(df, "l_extendedprice", "y")
    t = obb.binning_table.build(add_totals=True)
    tot = t.iloc[-1]
    assert tot["n_nonevent"] == pytest.approx(tot["n_event"], rel=1e-9)


def test_fused_value_stats_matches_bin_stats(binary_df):
    """The fused single-aggregation path (value_stats +
    driver-side re-bucketing) must reproduce bin_stats exactly."""
    from optbinning_spark.operators.aggregation import (
        bin_stats, bin_stats_from_values, value_stats,
    )

    df = binary_df.select(
        F.col("x").alias("__x"), F.col("y").alias("__y")
    )
    vs = value_stats(
        df, "__x", "__y", None, special_codes=[-9.0], target_type="binary"
    )
    assert vs is not None
    values, per_value, missing, specials = vs
    splits = [10.0, 35.5, 70.0]
    fused = bin_stats_from_values(values, per_value, missing, specials,
                                  splits, "binary")
    direct = bin_stats(
        df, "__x", "__y", None, splits=splits,
        special_codes=[-9.0], target_type="binary",
    )
    for m in ("n_nonevent", "n_event"):
        np.testing.assert_allclose(fused.clean[m], direct.clean[m])
        assert fused.missing[m] == direct.missing[m]
    assert fused.specials.keys() == direct.specials.keys()
    for g in fused.specials:
        for m in ("n_nonevent", "n_event"):
            assert fused.specials[g][m] == direct.specials[g][m]


def _recount_fit(binner, df, target_type, classes=None):
    """The fit re-done in independent passes: CART prebins from a
    pandas per-value histogram of ``df``'s (x, y), then per-prebin
    statistics from ``bin_stats`` on those prebins, then the binner's
    own driver solve. Returns the fitted ``binner``."""
    from optbinning_spark.core.tree import cart_splits
    from optbinning_spark.operators.aggregation import bin_stats

    pdf = df.toPandas()
    if target_type == "continuous":
        pdf["y2"] = pdf["y"] * pdf["y"]
        g = pdf.groupby("x").agg(n=("y", "size"), s1=("y", "sum"),
                                 s2=("y2", "sum")).sort_index()
        hist = g[["n", "s1", "s2"]].to_numpy(dtype=float)
        total, task = hist[:, 0].sum(), "regression"
    else:
        g = pd.crosstab(pdf["x"], pdf["y"]).reindex(
            columns=classes or [0, 1], fill_value=0).sort_index()
        hist = g.to_numpy(dtype=float)
        total, task = hist.sum(), "classification"
    prebins = np.unique(cart_splits(
        g.index.to_numpy(dtype=float), hist, task=task,
        max_leaf_nodes=binner.max_n_prebins,
        min_samples_leaf=binner.min_prebin_size * total))
    stats = bin_stats(df, "x", "y", None, splits=prebins,
                      target_type=target_type, classes=classes)
    binner._resolved_dtype = "numerical"
    if classes is not None:
        binner.classes_ = classes
    binner._finalize_numerical(prebins, stats)
    binner._fitted = True
    return binner


def test_fused_fit_matches_multipass(spark):
    """The one-aggregation CART fit equals a multi-pass recount
    (pandas histogram -> cart_splits -> bin_stats -> solve) on splits
    and table values."""
    rows = []
    rng = np.random.RandomState(7)
    for i in range(3000):
        x = float(rng.randint(0, 60))
        y = int(rng.rand() < (0.05 + 0.9 * (x / 60.0)))
        rows.append((x, y))
    df = spark.createDataFrame(rows, "x double, y int")

    ob_fused = OptimalBinning(prebinning_method="cart")
    ob_fused.fit(df, "x", "y")
    ob_multi = _recount_fit(
        OptimalBinning(prebinning_method="cart"), df, "binary")

    np.testing.assert_allclose(ob_fused.splits, ob_multi.splits)
    np.testing.assert_allclose(
        ob_fused.binning_table.event_rate, ob_multi.binning_table.event_rate
    )


def test_fused_fit_matches_multipass_multiclass(spark):
    from optbinning_spark import MulticlassOptimalBinning

    rng = np.random.RandomState(3)
    rows = []
    for _ in range(4000):
        x = float(rng.randint(0, 80))
        r = rng.rand()
        y = 0 if r < 0.2 + x / 160 else (1 if r < 0.7 else 2)
        rows.append((x, int(y)))
    df = spark.createDataFrame(rows, "x double, y int")

    m_fused = MulticlassOptimalBinning(prebinning_method="cart")
    m_fused.fit(df, "x", "y")
    m_multi = _recount_fit(
        MulticlassOptimalBinning(prebinning_method="cart"), df,
        "multiclass", classes=[0, 1, 2])
    np.testing.assert_allclose(m_fused.splits, m_multi.splits)
    assert m_fused.binning_table.build().equals(m_multi.binning_table.build())
    # multiclass surfaces the REAL solver status (the anytime joint
    # enumeration can return FEASIBLE/UNKNOWN; the base class constant
    # would mask it)
    assert m_fused.status == m_fused.solution_.status
    assert m_fused.status in ("OPTIMAL", "FEASIBLE")


def test_fused_fit_matches_multipass_continuous(spark):
    rng = np.random.RandomState(8)
    rows = [(float(rng.randint(0, 70)), float(rng.normal(0, 1)))
            for _ in range(3000)]
    rows = [(x, y + 0.1 * x) for x, y in rows]
    df = spark.createDataFrame(rows, "x double, y double")

    c_fused = ContinuousOptimalBinning(prebinning_method="cart")
    c_fused.fit(df, "x", "y")
    c_multi = _recount_fit(
        ContinuousOptimalBinning(prebinning_method="cart"), df, "continuous")
    np.testing.assert_allclose(c_fused.splits, c_multi.splits)
    t1, t2 = c_fused.binning_table.build(), c_multi.binning_table.build()
    assert list(t1["bin"]) == list(t2["bin"])
    for col in ("count", "sum", "mean", "std", "woe", "iv"):
        np.testing.assert_allclose(
            t1[col].astype(float), t2[col].astype(float),
            rtol=1e-12, equal_nan=True,
        )


def test_high_cardinality_bucket_fit_is_exact(spark):
    """Overflow (bucketized) fit: splits snap to quantile-bucket edges
    so the one-aggregation driver re-reduce must EQUAL an independent
    re-aggregation of the raw rows against the fitted splits."""
    from optbinning_spark import OptimalBinning

    df = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet").selectExpr(
        "l_extendedprice as x", 'cast(l_returnflag = "R" as int) as y')
    # force the overflow (bucketized) path at this scale factor
    import optbinning_spark.operators.prebinning as PB
    orig = PB.MAX_HISTOGRAM_BUCKETS
    PB.MAX_HISTOGRAM_BUCKETS = 64
    try:
        ob = OptimalBinning(name="x").fit(df, "x", "y")
    finally:
        PB.MAX_HISTOGRAM_BUCKETS = orig
    splits = list(ob.splits)
    assert len(splits) >= 2
    tbl = ob.binning_table.build(add_totals=False)
    clean = tbl[~tbl["bin"].isin(["Special", "Missing"])]
    # independent recount with digitize semantics on raw rows
    b = F.lit(0)
    for s in splits:
        b = b + (F.col("x") >= F.lit(float(s))).cast("int")
    chk = (
        df.groupBy(b.alias("bin"))
        .agg(F.count("*").alias("n"), F.sum("y").alias("ev"))
        .orderBy("bin").collect()
    )
    assert [int(c) for c in clean["count"]] == [r["n"] for r in chk]
    assert [int(e) for e in clean["n_event"]] == [r["ev"] for r in chk]


def test_high_cardinality_continuous_bucket_fit_is_exact(spark):
    from optbinning_spark import ContinuousOptimalBinning

    df = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet").selectExpr(
        "l_extendedprice as x", "l_quantity as y")
    import optbinning_spark.operators.prebinning as PB
    orig = PB.MAX_HISTOGRAM_BUCKETS
    PB.MAX_HISTOGRAM_BUCKETS = 64
    try:
        ob = ContinuousOptimalBinning(name="x").fit(df, "x", "y")
    finally:
        PB.MAX_HISTOGRAM_BUCKETS = orig
    splits = list(ob.splits)
    assert len(splits) >= 2
    tbl = ob.binning_table.build(add_totals=False)
    clean = tbl[~tbl["bin"].isin(["Special", "Missing"])]
    b = F.lit(0)
    for s in splits:
        b = b + (F.col("x") >= F.lit(float(s))).cast("int")
    chk = (
        df.groupBy(b.alias("bin"))
        .agg(F.count("*").alias("n"), F.sum("y").alias("s"))
        .orderBy("bin").collect()
    )
    assert [int(c) for c in clean["count"]] == [r["n"] for r in chk]
    import numpy as _np
    _np.testing.assert_allclose(
        _np.array(clean["sum"], dtype=float),
        _np.array([r["s"] for r in chk], dtype=float), rtol=1e-9)


def test_prebinning_kwargs_passthrough(spark):
    """X4: prebinning_kwargs overrides the derived CART defaults at
    both the single-variable and process level (per-variable wins)."""
    from optbinning_spark import BinningProcess
    from optbinning_spark.binning import OptimalBinning

    li = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .withColumn("y", (F.col("l_returnflag") == "R").cast("int"))
    )
    b = OptimalBinning(prebinning_kwargs={"max_leaf_nodes": 4}).fit(
        li, "l_extendedprice", "y")
    assert len(b.splits) <= 3

    bp = BinningProcess(
        ["l_extendedprice", "l_discount"],
        prebinning_kwargs={"max_leaf_nodes": 3},
        binning_fit_params={
            "l_extendedprice": {"prebinning_kwargs": {"max_leaf_nodes": 2}}
        },
    ).fit(li, "y")
    assert len(bp.get_binned_variable("l_extendedprice").splits) <= 1
    assert len(bp.get_binned_variable("l_discount").splits) <= 2


def test_degenerate_inputs_fit_and_transform(spark):
    """Constant column -> single (-inf, inf) bin; all-NULL column ->
    Missing-only; NaN values route to Missing and transform cleanly.
    On EXACT IV ties the DP prefers fewer bins (parsimony)."""
    import pyspark.sql.functions as F

    from optbinning_spark import OptimalBinning

    df = spark.range(1000).select(
        F.lit(5.0).alias("const_x"),
        (F.col("id") % 3 == 0).cast("int").alias("y"),
        F.when(F.col("id") % 10 == 0, float("nan"))
        .otherwise(F.col("id").cast("double")).alias("nan_x"),
        F.lit(None).cast("double").alias("null_x"),
    )
    # constant: one clean bin, zero splits, transform all-zero woe
    ob = OptimalBinning(prebinning_method="quantile", max_n_prebins=4,
                        monotonic_trend=None)
    ob.fit(df, "const_x", "y")
    assert len(ob.splits) == 0
    t = ob.binning_table.build(add_totals=False)
    assert t.loc[0, "bin"] == "(-inf, inf)"
    assert t.loc[0, "count"] == 1000

    # all-NULL: everything lands in Missing; transform yields the
    # missing metric (0) for every row without errors
    ob2 = OptimalBinning(prebinning_method="quantile", max_n_prebins=4,
                         monotonic_trend=None)
    ob2.fit(df, "null_x", "y")
    t2 = ob2.binning_table.build(add_totals=False)
    assert t2[t2["bin"] == "Missing"]["count"].iloc[0] == 1000
    out2 = ob2.transform(df, "null_x", metric="woe", out_col="w")
    r2 = out2.agg(F.count("w"), F.sum(F.abs("w"))).first()
    assert r2[0] == 1000 and r2[1] == 0.0

    # NaN mixes: 100 NaN rows -> Missing; clean rows transform finite
    ob3 = OptimalBinning(prebinning_method="quantile", max_n_prebins=4,
                         monotonic_trend=None)
    ob3.fit(df, "nan_x", "y")
    t3 = ob3.binning_table.build(add_totals=False)
    assert t3[t3["bin"] == "Missing"]["count"].iloc[0] == 100
    assert t3["count"].sum() == 1000
    out3 = ob3.transform(df, "nan_x", metric="woe", out_col="w")
    assert out3.filter(F.isnan("w") | F.col("w").isNull()).count() == 0


def test_numeric_bin_expr_null_to_null(spark):
    """Docstring contract: NULL in -> NULL out (regression: NULL used
    to fall through every WHEN into the last bin). NaN still lands in
    the last bin, matching np.digitize."""
    from optbinning_spark.operators.preprocessing import numeric_bin_expr

    df = spark.createDataFrame(
        [(1.0,), (15.0,), (None,), (float("nan"),)], "x: double")
    rows = df.select(
        numeric_bin_expr(F.col("x"), [10.0, 20.0]).alias("b")).collect()
    assert [r["b"] for r in rows] == [0, 1, None, 2]


def test_binning_2d_one_sided_user_splits_rejected(spark):
    import pytest as _pt

    from optbinning_spark.binning_2d import OptimalBinning2D

    with _pt.raises(ValueError):
        OptimalBinning2D(user_splits_x=[25.0])


def test_fused_fit_single_action_routing(spark, monkeypatch):
    """A moderate-cardinality numerical fit runs the guarded
    distinct-value aggregation as its ONLY data pass (at most 2 Spark
    jobs for the whole fit, no bucket aggregation), while a forced
    overflow routes through the probe + bucketized aggregation
    (test_high_cardinality_bucket_fit_is_exact covers the value
    equality; test_plan_quality::test_fit_action_counts the actions)."""
    from optbinning_spark import binning
    from optbinning_spark.operators import aggregation

    calls = []
    for mod, name in ((aggregation, "value_stats"),
                      (aggregation, "bucket_value_stats"),
                      (binning, "bin_stats")):
        fn = getattr(mod, name)
        monkeypatch.setattr(
            mod, name,
            lambda *a, _fn=fn, _n=name, **k: calls.append(_n) or _fn(*a, **k))

    df = spark.read.parquet(
        "/root/testdata/sf0.001/lineitem.parquet").selectExpr(
        "l_quantity as x", 'cast(l_returnflag = "R" as int) as y')
    df.count()  # warm the scan so job counting sees only the fit
    st = spark.sparkContext._jsc.sc().statusTracker()
    n0 = len(st.getJobIdsForGroup(None))
    OptimalBinning().fit(df, "x", "y")
    n_jobs = len(st.getJobIdsForGroup(None)) - n0
    assert calls == ["value_stats"]  # exact path: no probe, no buckets
    assert n_jobs <= 2, n_jobs  # one action (exchange + collect wave)

    import optbinning_spark.operators.prebinning as PB
    calls.clear()
    monkeypatch.setattr(PB, "MAX_HISTOGRAM_BUCKETS", 2)  # cap 32 < 50
    ob2 = OptimalBinning().fit(df, "x", "y")
    assert calls == ["value_stats", "bucket_value_stats"]
    assert ob2.binning_table.count.sum() == df.count()
