"""The binning transforms are rendered as ONE parsed SQL CASE per variable.

Exactness: every metric (``woe``, ``event_rate``, ``mean``, ``indices``,
``bins`` and the multiclass ``mean_woe``) must equal, with ``==``, a
NumPy evaluation of the fitted table — ``np.digitize`` over ``_splits``
(or membership in the category lists), the missing policy for NULL and
NaN, each special group's policy for its codes, and the metric's
default for an unseen category. Policies are numbers and
``"empirical"``; special codes come as a list and as a dict; the
columns are named with a space and addressed through a dotted (nested)
reference.

Build cost: a 16-variable ``BinningProcess.transform`` parses one
``F.expr`` per variable and builds no ``F.when``/``F.lit`` node.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from optbinning_spark import (
    BinningProcess,
    ContinuousOptimalBinning,
    MulticlassOptimalBinning,
    OptimalBinning,
)
from optbinning_spark.operators.preprocessing import normalize_special_codes

NAN = float("nan")
SCHEMA = ("id long, `x num` double, c string, rate double, y int,"
          " yc double, y3 int")
DICT_CODES = {"a": [-999], "b": [-1.0]}


def _rows(seed, n, unseen=False):
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        u = rng.random()
        x = (None if u < 0.03 else NAN if u < 0.06 else -999.0 if u < 0.1
             else -1.0 if u < 0.13 else float(rng.normal(0, 2)))
        u = rng.random()
        c = (None if u < 0.04 else "unk" if u < 0.08
             else "zz" if unseen and u < 0.12
             else "abcde"[int(rng.integers(0, 5))])
        rate = NAN if rng.random() < 0.03 else float(rng.uniform(0, 1))
        lo = (0.5 * (x if x is not None and x == x and x > -1 else 0.0)
              - 0.4 * (c == "a") + (rate if rate == rate else 0.5))
        y = int(rng.random() < 1 / (1 + np.exp(-lo + 0.5)))
        y3 = int(rng.integers(0, 3)) if rng.random() < 0.5 else int(lo > 0.3)
        rows.append((i, x, c, rate, y, lo + float(rng.normal()), y3))
    return rows


@pytest.fixture(scope="module")
def frames(spark):
    fit = spark.createDataFrame(_rows(1, 3000), SCHEMA)
    score = spark.createDataFrame(_rows(2, 1500, unseen=True), SCHEMA)
    return fit, score


@pytest.fixture(scope="module")
def fitted(frames):
    fit = frames[0]
    return {
        "binary": OptimalBinning(special_codes=DICT_CODES).fit(
            fit, "x num", "y"),
        "categorical": OptimalBinning(
            dtype="categorical", special_codes=["unk", -999]).fit(
                fit, "c", "y"),
        "continuous": ContinuousOptimalBinning(special_codes=[-999]).fit(
            fit, "x num", "yc"),
        "multiclass": MulticlassOptimalBinning(special_codes=[-999, -1.0]).fit(
            fit, "x num", "y3"),
        "rate": OptimalBinning().fit(fit, "rate", "y"),
    }


def _is_missing(v):
    return v is None or (isinstance(v, float) and v != v)


def _expected(b, xs, metric, special, missing, categorical=False):
    """NumPy/Python evaluation of one transform from the fitted table."""
    t = b._table
    kinds, labels = list(t.kinds), list(t.labels)
    n_clean = kinds.count("clean")
    groups = normalize_special_codes(b.special_codes)
    n_special = max(len(groups), 1)
    if metric == "bins":
        vals, default = labels[:n_clean], "unknown"
    elif metric == "indices":
        vals, default = list(range(n_clean)), -1
    else:
        vals, default = [float(v) for v in getattr(t, metric)[:n_clean]], 0.0

    def row_stat(label):
        if label in labels:
            return float(getattr(t, metric)[labels.index(label)])
        return 0.0

    def resolve(policy, kind, gi=0, g=None):
        if metric == "mean_woe":
            return policy
        if metric == "bins":
            if kind == "missing":
                return "Missing"
            return g if isinstance(b.special_codes, dict) else "Special"
        if metric == "indices":
            # a literal int is emitted as is; any other policy emits
            # the special/missing bin's own index
            if isinstance(policy, int):
                return policy
            return n_clean + gi if kind == "special" else n_clean + n_special
        if policy != "empirical":
            return policy
        if kind == "missing":
            return row_stat("Missing")
        return row_stat(f"Special: {g}" if isinstance(b.special_codes, dict)
                        else "Special")

    typed = {g: [c for c in codes if isinstance(c, str) == categorical]
             for g, codes in groups.items()}
    out = []
    for x in xs:
        if _is_missing(x):
            out.append(resolve(missing, "missing"))
            continue
        hit = next(((gi, g) for gi, (g, codes) in enumerate(typed.items())
                    if any(x == c for c in codes)), None)
        if hit is not None:
            out.append(resolve(special, "special", *hit))
        elif categorical:
            j = next((j for j, cats in enumerate(b._bin_categories)
                      if x in cats), None)
            out.append(default if j is None else vals[j])
        else:
            out.append(vals[int(np.digitize(x, b._splits, right=False))])
    return out


def _spark_values(df, expr):
    return [r["v"] for r in df.select("id", expr.alias("v"))
            .orderBy("id").collect()]


def _assert_same(got, want):
    assert len(got) == len(want)
    bad = [i for i, (g, w) in enumerate(zip(got, want)) if g != w]
    assert not bad, [(got[i], want[i]) for i in bad[:5]]


POLICIES = [(0, 0), (0.5, -1.25), ("empirical", "empirical")]


@pytest.mark.parametrize("special,missing", POLICIES)
@pytest.mark.parametrize("metric", ["woe", "event_rate", "indices", "bins"])
@pytest.mark.parametrize("case", ["binary", "categorical"])
def test_binary_transform_equals_numpy(frames, fitted, case, metric,
                                       special, missing):
    if metric == "indices" and isinstance(special, float):
        special, missing = 7, -3
    b = fitted[case]
    col = "x num" if case == "binary" else "c"
    df = frames[1]
    xs = [r[col] for r in df.select("id", F.col(f"`{col}`").alias(col))
          .orderBy("id").collect()]
    got = _spark_values(df, b.transform_column_expr(
        col, metric=metric, metric_special=special, metric_missing=missing))
    _assert_same(got, _expected(b, xs, metric, special, missing,
                                categorical=case == "categorical"))


@pytest.mark.parametrize("special,missing", POLICIES)
@pytest.mark.parametrize("metric", ["mean", "indices", "bins"])
def test_continuous_transform_equals_numpy(frames, fitted, metric, special,
                                           missing):
    b = fitted["continuous"]
    df = frames[1]
    xs = [r["x"] for r in df.select("id", F.col("`x num`").alias("x"))
          .orderBy("id").collect()]
    got = _spark_values(df, b.transform_column_expr(
        "x num", metric=metric, metric_special=special,
        metric_missing=missing))
    _assert_same(got, _expected(b, xs, metric, special, missing))


@pytest.mark.parametrize("special,missing", [(0, 0), (0.25, -2.5)])
def test_multiclass_mean_woe_equals_numpy(frames, fitted, special, missing):
    b = fitted["multiclass"]
    df = frames[1]
    xs = [r["x"] for r in df.select("id", F.col("`x num`").alias("x"))
          .orderBy("id").collect()]
    got = [r["x num_mean_woe"] for r in b.transform(
        df, "x num", metric_special=special, metric_missing=missing)
        .orderBy("id").collect()]
    _assert_same(got, _expected(b, xs, "mean_woe", special, missing))


def test_dotted_name_reads_the_nested_field(frames, fitted):
    b = fitted["rate"]
    df = frames[1]
    ndf = df.withColumn("info", F.struct(F.col("rate"))).drop("rate")
    xs = [r["rate"] for r in df.orderBy("id").collect()]
    for metric in ("woe", "bins"):
        got = _spark_values(ndf, b.transform_column_expr(
            "info.rate", metric=metric))
        _assert_same(got, _expected(b, xs, metric, 0, 0))
        _assert_same(got, _spark_values(df, b.transform_column_expr(
            "rate", metric=metric)))


def test_process_transform_builds_one_expression_per_variable(
        spark, monkeypatch):
    rng = np.random.default_rng(0)
    n, k = 2000, 16
    X = rng.normal(size=(n, k))
    y = (rng.random(n) < 1 / (1 + np.exp(-X[:, :4].sum(axis=1)))).astype(int)
    names = [f"v{i}" for i in range(k)]
    df = spark.createDataFrame(
        [tuple(map(float, r)) + (int(t),) for r, t in zip(X, y)],
        ", ".join(f"{c} double" for c in names) + ", y int")
    bp = BinningProcess(names, prebinning_method="quantile").fit(df, "y")
    assert len(bp.support_) == k

    calls = {"when": 0, "lit": 0, "expr": 0}

    def counted(name):
        fn = getattr(F, name)

        def wrapper(*a, **kw):
            calls[name] += 1
            return fn(*a, **kw)
        return wrapper

    for name in calls:
        monkeypatch.setattr(F, name, counted(name))
    out = bp.transform(df, keep_cols=["y"])
    assert calls == {"when": 0, "lit": 0, "expr": k}
    assert out.columns == ["y", *bp.support_]
