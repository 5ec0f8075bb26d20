"""Data-sized driver tables arrive as Arrow columns, not py4j Rows.

Two tables the engine brings to the driver can be large by
construction: the Scorecard estimator's compressed design (up to
``max_driver_rows`` rows) and the edge list ``connected_components``
closes on the driver (up to ``driver_threshold`` edges). Both are
fetched with one ``toArrow()`` and read as NumPy columns. Pinned here:

- exactness: logistic and linear coefficients and ``score()`` are
  ``==`` to a reference built the Row way — ``collect()`` of the same
  ordered design plus a float loop — and the MLlib fallback still
  takes over one row past ``max_driver_rows``, with coefficients
  within ``rtol=1e-4`` of the driver solve;
- the NULL-label and NaN-label refusals keep their messages on both
  sides of ``max_driver_rows``;
- the driver closure equals a dict union-find on random multigraphs,
  on string ids and on 0 edges, and reports the same ``stats``;
- ``collect`` raises while the fit and the closure run, so a return
  to Row transfer fails here on the patch, not on a timing.
"""

import random

import numpy as np
import pytest

from optbinning_spark import BinningProcess
from optbinning_spark.pipeline import dedup
from optbinning_spark.pipeline.dedup import connected_components
from optbinning_spark.scorecard import Scorecard, _driver_logistic, _driver_wls

VARS = ["a", "b", "c"]
SCHEMA = "id long, a double, b double, c string, y int, yc double"
SCALING = dict(scaling_method="pdo_odds",
               scaling_method_params={"pdo": 20, "odds": 50,
                                      "scorecard_points": 600})


def _rows(n, seed=5):
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        a = float(rng.normal())
        b = float(rng.exponential(3.0))
        c = "pqrst"[int(rng.integers(0, 5))]
        lo = 0.8 * a + 0.2 * b - 0.3 * (c == "p") - 0.5
        yi = int(rng.random() < 1 / (1 + np.exp(-lo)))
        yci = lo + float(rng.normal())
        rows.append((i, a, b, c, yi, yci))
    return rows


@pytest.fixture(scope="module")
def frame(spark):
    return spark.createDataFrame(_rows(1500), SCHEMA)


def _refuse_collect(monkeypatch, df):
    def refuse(self):
        raise AssertionError("DataFrame.collect on an Arrow-only path")

    monkeypatch.setattr(type(df), "collect", refuse)


def _fit_spying(monkeypatch, df, target, **kw):
    """Scorecard fit (prefitted binning) with collect refused; returns
    the scorecard and every frame fetched through toArrow."""
    bp = BinningProcess(VARS, categorical_variables=["c"]).fit(df, target)
    fetched = []
    to_arrow = type(df).toArrow

    def spy(self):
        fetched.append(self)
        return to_arrow(self)

    with monkeypatch.context() as m:
        m.setattr(type(df), "toArrow", spy)
        _refuse_collect(m, df)
        sc = Scorecard(bp, **SCALING, **kw).fit(df, target)
    return sc, fetched


def _scores(sc, df):
    return [r["score"] for r in
            sc.score(df).select("id", "score").orderBy("id").collect()]


@pytest.mark.parametrize("kind,target,solve", [
    ("logistic", "y", _driver_logistic),
    ("linear", "yc", _driver_wls),
])
def test_estimator_design_equals_row_collect_reference(
        frame, monkeypatch, kind, target, solve):
    sc, fetched = _fit_spying(monkeypatch, frame, target, estimator=kind)
    assert len(fetched) == 1
    rows = fetched[0].collect()
    sel = sc.selected_
    X = np.array([[float(r[v]) for v in sel] for r in rows])
    yy = np.array([float(r[target]) for r in rows])
    ww = np.array([float(r["__w"]) for r in rows])
    coef, intercept = solve(X, yy, ww)
    assert [sc.coef_[v] for v in sel] == coef
    assert sc.intercept_ == intercept

    ref = Scorecard(sc.binning_process, estimator=kind, **SCALING)
    ref._target_type = sc._target_type
    ref.selected_ = sel
    ref.coef_ = dict(zip(sel, coef))
    ref.intercept_ = intercept
    ref._build_points()
    ref._fitted = True
    assert _scores(sc, frame) == _scores(ref, frame)

    # the cap is inclusive: at exactly len(rows) rows the driver
    # solves; one row fewer and the MLlib estimator takes over
    at_cap = Scorecard(sc.binning_process, estimator=kind, **SCALING,
                       estimator_params={"max_driver_rows": len(rows)})
    assert at_cap.fit(frame, target).coef_ == sc.coef_

    def no_driver_solve(*a, **k):
        raise AssertionError("driver solve above max_driver_rows")

    monkeypatch.setattr(
        "optbinning_spark.scorecard." + solve.__name__, no_driver_solve)
    over = Scorecard(sc.binning_process, estimator=kind, **SCALING,
                     estimator_params={"max_driver_rows": len(rows) - 1})
    over.fit(frame, target)
    assert list(over.coef_) == sel
    np.testing.assert_allclose([over.coef_[v] for v in sel], coef, rtol=1e-4)
    np.testing.assert_allclose(over.intercept_, intercept, rtol=1e-4)


@pytest.mark.parametrize("cap", [100_000, 1], ids=["driver", "mllib"])
@pytest.mark.parametrize("kind", ["logistic", "linear"])
@pytest.mark.parametrize("bad,message", [
    (None, "null in the estimator design"),
    (float("nan"), "non-finite value in the estimator design"),
])
def test_null_and_nan_labels_keep_their_refusals(spark, kind, bad, message,
                                                 cap):
    """Refused on both sides of ``max_driver_rows``: above it the
    offending group sorts first in the size-probe fetch, so MLlib never
    fits biased group means or meets a NULL/NaN label."""
    label = "y" if kind == "logistic" else "yc"
    # both labels as doubles, so either can carry a NaN
    rows = [(*r[:4], float(r[4]), r[5]) for r in _rows(600)]
    rows[7] = (*rows[7][:4], bad, rows[7][5]) if label == "y" \
        else (*rows[7][:5], bad)
    df = spark.createDataFrame(
        rows, "id long, a double, b double, c string, y double, yc double")
    with pytest.raises(ValueError, match=message):
        Scorecard(BinningProcess(VARS, categorical_variables=["c"]),
                  estimator=kind,
                  estimator_params={"max_driver_rows": cap}).fit(df, label)


def _dict_components(edges):
    """Reference closure: Python dict union-find, min id as root."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        if a == b:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _random_multigraphs(seed, count):
    rng = random.Random(seed)
    for _ in range(count):
        n = rng.randint(2, 80)
        yield [(rng.randint(0, n), rng.randint(0, n))
               for _ in range(rng.randint(1, 150))]


def test_min_label_kernel_equals_dict_union_find():
    for edges in _random_multigraphs(41, 60):
        src = np.array([a for a, b in edges if a != b], dtype=np.int64)
        dst = np.array([b for a, b in edges if a != b], dtype=np.int64)
        ids, labels = dedup._min_label_components(src, dst)
        assert dict(zip(ids.tolist(), labels.tolist())) == \
            _dict_components(edges)
    words = np.array(["k", "b", "zz", "a", "m"], dtype=object)
    ids, labels = dedup._min_label_components(words[[0, 2, 4]],
                                              words[[1, 3, 0]])
    assert dict(zip(ids, labels)) == {
        "a": "a", "zz": "a", "b": "b", "k": "b", "m": "b"}


def _driver_closure(spark, monkeypatch, edges, ddl):
    df = spark.createDataFrame(edges, ddl)
    stats = {}
    with monkeypatch.context() as m:
        _refuse_collect(m, df)
        cc = connected_components(df, stats=stats)
    got = {r["node"]: r["component"] for r in cc.collect()}
    assert cc.schema.fieldNames() == ["node", "component"]
    assert cc.schema["node"].dataType == df.schema["id_a"].dataType
    n_edges = len({(a, b) for a, b in edges if a != b})
    assert stats == {"path": "driver", "edges": n_edges, "rounds": 0}
    return got


def test_driver_closure_equals_dict_union_find(spark, monkeypatch):
    for edges in _random_multigraphs(7, 5):
        assert _driver_closure(
            spark, monkeypatch, edges, "id_a long, id_b long") == \
            _dict_components(edges)


def test_driver_closure_on_string_ids(spark, monkeypatch):
    edges = [(f"doc{a}", f"doc{b}") for a, b in
             next(_random_multigraphs(3, 1))]
    assert _driver_closure(
        spark, monkeypatch, edges, "id_a string, id_b string") == \
        _dict_components(edges)


def test_driver_closure_on_zero_edges(spark, monkeypatch):
    assert _driver_closure(spark, monkeypatch, [], "id_a long, id_b long") \
        == {}
    # self-loops are dropped before the closure: 0 edges again
    assert _driver_closure(
        spark, monkeypatch, [(4, 4), (9, 9)], "id_a long, id_b long") == {}


@pytest.mark.parametrize("kind", ["logistic", "linear"])
@pytest.mark.parametrize("bad,message", [
    (None, "null in the estimator design"),
    (float("nan"), "non-finite value in the estimator design"),
])
def test_null_and_nan_labels_refused_with_regularization(spark, kind, bad,
                                                         message):
    """``regParam > 0`` always fits through MLlib; the bad-first fetch
    (one row) still runs first, so 10% NULL or NaN labels raise the
    same named refusals instead of MLlib's raw Spark error or a silent
    fit on biased group means."""
    label = "y" if kind == "logistic" else "yc"
    rows = [(*r[:4], float(r[4]), r[5]) for r in _rows(1_500)]
    for i in range(0, len(rows), 10):
        rows[i] = (*rows[i][:4], bad, rows[i][5]) if label == "y" \
            else (*rows[i][:5], bad)
    df = spark.createDataFrame(
        rows, "id long, a double, b double, c string, y double, yc double")
    with pytest.raises(ValueError, match=message):
        Scorecard(BinningProcess(VARS, categorical_variables=["c"]),
                  estimator=kind,
                  estimator_params={"regParam": 1e-6}).fit(df, label)
