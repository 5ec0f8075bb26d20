"""Scorecard expressions are rendered as ONE parsed SQL string.

Exactness: every scoring entry point (``score``, ``predict_proba``,
``decision_function``, ``predict``, ``transform``) must equal, with
``==``, a NumPy evaluation of the fitted tables — ``np.digitize`` over
each variable's ``_splits`` (or its category lists), 0.0 for missing
and special values, terms summed left to right in ``selected_`` order.
The frames carry NULL and NaN x, list and dict special codes (an int
code on a double column), a categorical variable with an unseen
category, a column name with a space and a nested (dotted) reference.

Build cost: ``score`` on a 16-variable scorecard must parse one
``F.expr`` and build no ``F.when``/``F.lit`` nodes, so a return to
node-by-node construction (~500 py4j round trips) fails on a count.
"""

import json
import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from optbinning_spark import BinningProcess
from optbinning_spark.operators.preprocessing import normalize_special_codes
from optbinning_spark.scorecard import Scorecard

NAN = float("nan")
VARS = ["x num", "amt", "grade", "rate"]
SCHEMA = ("id long, `x num` double, amt double, grade string, rate double,"
          " y int, yc double")


def _rows(seed, n, unseen=False):
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        u = rng.random()
        x = (None if u < 0.03 else NAN if u < 0.06 else -999.0 if u < 0.1
             else float(rng.normal(0, 2)))
        u = rng.random()
        amt = (-1.0 if u < 0.04 else 9999.0 if u < 0.07
               else float(rng.exponential(50)))
        u = rng.random()
        grade = (None if u < 0.04 else "unk" if u < 0.07
                 else "zz" if unseen and u < 0.1
                 else "abcde"[int(rng.integers(0, 5))])
        rate = None if rng.random() < 0.03 else float(rng.uniform(0, 1))
        lo = (0.5 * (x if x is not None and x == x and x > -900 else 0.0)
              + 0.01 * min(amt, 200) - 0.3 * (grade == "a") + (rate or 0.5))
        y = int(rng.random() < 1 / (1 + math.exp(-lo + 1)))
        rows.append((i, x, amt, grade, rate, y, lo + float(rng.normal())))
    return rows


@pytest.fixture(scope="module")
def frames(spark):
    fit = spark.createDataFrame(_rows(3, 3000), SCHEMA)
    score = spark.createDataFrame(_rows(4, 1500, unseen=True), SCHEMA)
    return fit, score


def _process():
    return BinningProcess(
        VARS, categorical_variables=["grade"],
        special_codes={"x num": [-999], "amt": {"neg": [-1.0],
                                                "cap": [9999]},
                       "grade": ["unk"]},
        prebinning_method="quantile")


@pytest.fixture(scope="module")
def binary_sc(frames):
    return Scorecard(
        _process(), scaling_method="pdo_odds",
        scaling_method_params={"pdo": 20, "odds": 50,
                               "scorecard_points": 600}).fit(frames[0], "y")


@pytest.fixture(scope="module")
def continuous_sc(frames):
    return Scorecard(_process()).fit(frames[0], "yc")


def _terms(sc, pdf, values):
    """Per-variable contribution arrays in ``selected_`` order."""
    bp = sc.binning_process
    out = []
    for v in sc.selected_:
        b = bp.get_binned_variable(v)
        vals = np.asarray(values[v], dtype=float)
        codes = [c for g in normalize_special_codes(b.special_codes).values()
                 for c in g]
        x = pdf[v].to_numpy(dtype=object)
        t = np.zeros(len(x))
        for i, xi in enumerate(x):
            if xi is None or (isinstance(xi, float) and xi != xi):
                continue
            if any(xi == c for c in codes):
                continue
            if bp._dtypes[v] == "numerical":
                t[i] = vals[np.digitize(xi, b._splits, right=False)]
            else:
                for j, cats in enumerate(b._bin_categories):
                    if xi in cats:
                        t[i] = vals[j]
                        break
        out.append(t)
    return out


def _left_sum(start, terms):
    total = np.full(len(terms[0]), float(start))
    for t in terms:
        total = total + t
    return total


def _linear(sc, pdf):
    metric = {v: sc.coef_[v] * sc._variable_bin_metric(v)[2]
              for v in sc.selected_}
    return _left_sum(sc.intercept_, _terms(sc, pdf, metric))


def _collect(df, col):
    return df.orderBy("id").select(col).toPandas()[col].to_numpy()


def _pdf(df):
    # object dtype keeps NULL (None) apart from NaN
    rows = df.orderBy("id").collect()
    return pd.DataFrame({v: pd.Series([r[v] for r in rows], dtype=object)
                         for v in VARS})


def _assert_same(got, want):
    got = np.asarray(got, dtype=float)
    want = np.asarray(want, dtype=float)
    assert got.shape == want.shape
    bad = np.flatnonzero(got != want)
    assert bad.size == 0, (bad[:5], got[bad[:5]], want[bad[:5]])


def test_fixture_covers_the_edge_values(binary_sc, frames):
    assert set(binary_sc.selected_) == set(VARS)
    assert binary_sc.binning_process._dtypes["grade"] == "categorical"
    pdf = _pdf(frames[1])
    x = pdf["x num"]
    assert x.map(lambda v: v is None).any()
    assert x.map(lambda v: v is not None and v != v).any()
    assert (x == -999.0).any() and (pdf["amt"] == 9999.0).any()
    assert (pdf["grade"] == "zz").any()


@pytest.mark.parametrize("kind", ["binary", "continuous"])
def test_scoring_equals_numpy_tables(kind, spark, binary_sc, continuous_sc,
                                     frames):
    sc = binary_sc if kind == "binary" else continuous_sc
    df = frames[1]
    pdf = _pdf(df)
    points = _terms(sc, pdf, sc.points_)
    _assert_same(_collect(sc.score(df), "score"),
                 _left_sum(sc.base_points_, points))
    lin = _linear(sc, pdf)
    _assert_same(_collect(sc.decision_function(df), "decision"), lin)
    tr = sc.transform(df).orderBy("id").toPandas()
    for v, t in zip(sc.selected_, points):
        _assert_same(tr[f"{v}_points"], t)
    pred = _collect(sc.predict(df), "prediction")
    if kind == "binary":
        # Spark's exp is java.lang.StrictMath.exp (fdlibm), which does
        # not round like NumPy's exp in the last place: take it from the
        # JVM for each distinct linear predictor, the rest in NumPy.
        jexp = {t: spark._jvm.java.lang.StrictMath.exp(float(-t))
                for t in set(lin.tolist())}
        proba = 1.0 / (1.0 + np.array([jexp[t] for t in lin.tolist()]))
        _assert_same(_collect(sc.predict_proba(df), "proba"), proba)
        _assert_same(pred, (proba >= 0.5).astype(int))
    else:
        _assert_same(pred, lin)


def _rename(node, old, new):
    if isinstance(node, dict):
        return {(new if k == old else k): _rename(v, old, new)
                for k, v in node.items()}
    if isinstance(node, list):
        return [_rename(v, old, new) for v in node]
    return new if node == old else node


def test_save_load_score_round_trip(binary_sc, frames, tmp_path):
    df = frames[1]
    path = tmp_path / "sc.json"
    binary_sc.save(str(path))
    loaded = Scorecard.load(str(path))
    want = _collect(binary_sc.score(df), "score")
    _assert_same(_collect(loaded.score(df), "score"), want)
    _assert_same(_collect(loaded.predict_proba(df), "proba"),
                 _collect(binary_sc.predict_proba(df), "proba"))

    # A variable addressed by a dotted name is a nested field, resolved
    # the way F.col resolves it: the same model over info.rate scores
    # a frame whose rate sits inside a struct identically.
    with open(path) as f:
        d = json.load(f)
    nested_path = tmp_path / "nested.json"
    with open(nested_path, "w") as f:
        json.dump(_rename(d, "rate", "info.rate"), f)
    nested = Scorecard.load(str(nested_path))
    ndf = df.withColumn("info", F.struct(F.col("rate"))).drop("rate")
    _assert_same(_collect(nested.score(ndf), "score"), want)
    _assert_same(
        nested.transform(ndf).orderBy("id").toPandas()["info.rate_points"],
        binary_sc.transform(df).orderBy("id").toPandas()["rate_points"])


def test_score_builds_one_parsed_expression(spark, monkeypatch):
    rng = np.random.default_rng(0)
    n, k = 2000, 16
    X = rng.normal(size=(n, k))
    y = (rng.random(n) < 1 / (1 + np.exp(-X[:, :4].sum(axis=1)))).astype(int)
    names = [f"v{i}" for i in range(k)]
    df = spark.createDataFrame(
        [tuple(map(float, r)) + (int(t),) for r, t in zip(X, y)],
        ", ".join(f"{c} double" for c in names) + ", y int")
    sc = Scorecard(BinningProcess(names, prebinning_method="quantile"))
    sc.fit(df, "y")
    assert len(sc.selected_) == k

    calls = {"when": 0, "lit": 0, "expr": 0}

    def counted(name):
        fn = getattr(F, name)

        def wrapper(*a, **kw):
            calls[name] += 1
            return fn(*a, **kw)
        return wrapper

    for name in calls:
        monkeypatch.setattr(F, name, counted(name))
    scored = sc.score(df)
    assert calls == {"when": 0, "lit": 0, "expr": 1}
    assert "score" in scored.columns
