"""Pre-binning (split-proposal) operators, Spark-first.

Reference: optbinning/binning/prebinning.py:63-142 (CART / quantile /
uniform via sklearn), mdlp.py (entropy splits). Spark design:

- uniform:   one min/max aggregation -> linspace on the driver.
- quantile:  ``DataFrame.approxQuantile`` (Greenwald-Khanna — the same
             sketch family the reference's distributed path uses,
             bsketch.py/gk.py).
- quantile_exact: exact ``percentile`` SQL aggregate — deterministic
             and DuckDB-oracle-checkable.
- cart/mdlp: ONE histogram aggregation (exact distinct values up to
             16 x MAX_HISTOGRAM_BUCKETS, else MAX_HISTOGRAM_BUCKETS
             approx-quantile buckets) -> driver-side best-first CART /
             MDLP on the sufficient statistics. A single-feature tree
             depends only on (value, class weights), so this
             reproduces the reference's geometry without sklearn and
             with a bounded collect.

The single-variable binners take only ``quantile_exact`` from here
(their histogram fit proposes splits with ``binning.propose_splits``);
the scenario, 2-D, piecewise and MDLP fitters use the rest. Every
function takes an already-"clean" column (missing/special rows nulled
by ``clean_value_expr``) so no extra filter pass is needed.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.tree import cart_splits, mdlp_splits

MAX_HISTOGRAM_BUCKETS = 256


def uniform_prebins(df: DataFrame, col: str, n_prebins: int) -> np.ndarray:
    row = df.agg(
        F.min(col).alias("mn"), F.max(col).alias("mx")
    ).first()
    mn, mx = row["mn"], row["mx"]
    if mn is None or mx is None or mn == mx:
        return np.array([])
    edges = np.linspace(mn, mx, n_prebins + 1)[1:-1]
    return np.unique(edges)


def quantile_prebins(
    df: DataFrame, col: str, n_prebins: int, relative_error: float = 1e-4
) -> np.ndarray:
    probs = list(np.linspace(0, 1, n_prebins + 1)[1:-1])
    qs = df.approxQuantile(col, probs, relative_error)
    return np.unique(np.asarray(qs, dtype=float))


def quantile_exact_prebins(df: DataFrame, col: str, n_prebins: int) -> np.ndarray:
    """Exact percentiles via the SQL ``percentile`` aggregate — one
    pass, deterministic, linear interpolation (matches DuckDB
    quantile_cont)."""
    probs = np.linspace(0, 1, n_prebins + 1)[1:-1]
    arr = F.percentile(F.col(col), F.array(*[F.lit(float(p)) for p in probs]))
    row = df.agg(arr.alias("qs")).first()
    if row["qs"] is None:
        return np.array([])
    return np.unique(np.asarray([q for q in row["qs"] if q is not None], dtype=float))


def value_histogram(
    df: DataFrame,
    col: str,
    y_col: str,
    w_col: str | None,
    *,
    task: str = "classification",
    classes: list | None = None,
    max_buckets: int = MAX_HISTOGRAM_BUCKETS,
    relative_error: float = 1e-4,
):
    """One aggregation producing the CART/MDLP sufficient statistics.

    Returns (values, stats): sorted representative values and, for
    classification, per-class weight columns; for regression,
    (count, sum_y, sum_y2) columns.

    For scale: the grouping key is a quantile bucket (<= max_buckets),
    so the shuffled state is bounded regardless of input rows — the
    same histogram-compression contract MLlib trees and LightGBM use.
    """
    w = F.col(w_col) if w_col else F.lit(1.0)
    clean = df.filter(F.col(col).isNotNull() & ~F.isnan(F.col(col)))

    # Exact distinct-value path first: a 1-feature CART depends only on
    # per-distinct-value class weights, so when the cardinality is
    # modest the splits reproduce sklearn's midpoint thresholds
    # exactly (reference prebinning.py:103-132 parity). The LIMIT
    # bounds the collect; an overflow falls back to quantile buckets.
    exact_cap = max_buckets * 16
    if task == "classification":
        exact_aggs = [
            F.sum(F.when(F.col(y_col) == c, w).otherwise(F.lit(0.0))).alias(f"w_{i}")
            for i, c in enumerate(classes)
        ]
    else:
        yv = F.col(y_col)
        exact_aggs = [
            F.sum(w).alias("cnt"),
            F.sum(w * yv).alias("s1"),
            F.sum(w * yv * yv).alias("s2"),
        ]
    rows = (
        clean.groupBy(F.col(col).alias("__v"))
        .agg(*exact_aggs)
        .limit(exact_cap + 1)
        .collect()
    )
    if rows and len(rows) <= exact_cap:
        rows.sort(key=lambda r: r["__v"])
        values = np.array([r["__v"] for r in rows], dtype=float)
        if task == "classification":
            stats = np.array(
                [[r[f"w_{i}"] or 0.0 for i in range(len(classes))] for r in rows]
            )
        else:
            stats = np.array(
                [[r["cnt"], r["s1"], r["s2"]] for r in rows], dtype=float
            )
        return values, stats

    edges = sorted(set(clean.approxQuantile(
        col, list(np.linspace(0, 1, max_buckets + 1)[1:-1]), relative_error,
    )))
    if edges:
        # Bucketizer = JVM binary search against the edge array. A CASE
        # chain here would exceed the 64KB codegen method limit at
        # hundreds of branches; Bucketizer keeps whole-stage codegen.
        from pyspark.ml.feature import Bucketizer

        buck = Bucketizer(
            splits=[-float("inf")] + [float(e) for e in edges] + [float("inf")],
            inputCol=col,
            outputCol="__bucket",
            handleInvalid="skip",
        )
        cols = [col, y_col] + ([w_col] if w_col else [])
        clean = buck.transform(clean.select(*cols))
        bucket = F.col("__bucket").cast("int")
    else:
        bucket = F.lit(0)

    if task == "classification":
        aggs = [
            F.sum(F.when(F.col(y_col) == c, w).otherwise(F.lit(0.0))).alias(f"w_{i}")
            for i, c in enumerate(classes)
        ]
    else:
        y = F.col(y_col)
        aggs = [
            F.sum(w).alias("cnt"),
            F.sum(w * y).alias("s1"),
            F.sum(w * y * y).alias("s2"),
        ]
    rows = (
        clean.groupBy(bucket.alias("bucket"))
        .agg(F.max(F.col(col)).alias("vmax"), *aggs)
        .collect()
    )
    rows.sort(key=lambda r: r["bucket"])
    values = np.array([r["vmax"] for r in rows], dtype=float)
    if task == "classification":
        stats = np.array(
            [[r[f"w_{i}"] or 0.0 for i in range(len(classes))] for r in rows]
        )
    else:
        stats = np.array([[r["cnt"], r["s1"], r["s2"]] for r in rows], dtype=float)
    return values, stats


def compute_prebins(
    df: DataFrame,
    col: str,
    y_col: str,
    w_col: str | None,
    *,
    method: str = "cart",
    max_n_prebins: int = 20,
    min_prebin_size: float = 0.05,
    task: str = "classification",
    classes: list | None = None,
    total_weight: float | None = None,
) -> np.ndarray:
    """Dispatch split proposal. ``df`` must already have missing/special
    nulled in ``col`` (clean_value_expr)."""
    clean = df.filter(F.col(col).isNotNull())
    if method == "uniform":
        return uniform_prebins(clean, col, max_n_prebins)
    if method == "quantile":
        return quantile_prebins(clean, col, max_n_prebins)
    if method == "quantile_exact":
        return quantile_exact_prebins(clean, col, max_n_prebins)
    if method in ("cart", "mdlp"):
        values, stats = value_histogram(
            df, col, y_col, w_col, task=task, classes=classes,
        )
        if len(values) < 2:
            return np.array([])
        if method == "mdlp":
            if task != "classification":
                raise ValueError("mdlp requires a classification target")
            return mdlp_splits(values, stats)
        if total_weight is None:
            total_weight = float(
                stats.sum() if task == "classification" else stats[:, 0].sum()
            )
        return cart_splits(
            values,
            stats,
            task=task,
            max_leaf_nodes=max_n_prebins,
            min_samples_leaf=min_prebin_size * total_weight,
        )
    raise ValueError(f"unknown prebinning method: {method}")
