"""Per-bin sufficient-statistics aggregations — the engine's hot path.

Reference: per-prebin weighted counts (optbinning/binning/binning.py:
1085-1104 binary; continuous_binning.py:906-938; multiclass_binning.py:
790-846) plus missing/special variants (binning_statistics.py:112-222).

Spark design: ONE ``groupBy(sample_class, bin)`` hash aggregation per
variable — partial aggregation on the map side means the shuffled
state is <= (n_prebins + n_special_groups + 2) rows per variable no
matter how many input rows. This is the reference's add/merge sketch
contract (bsketch.py) expressed as Spark's native partial/final agg.

The multi-variable variant stacks per-variable structs and aggregates
by (variable, sample_class, bin) in a single shuffle — replacing the
reference's per-variable thread fan-out (binning_process.py:1140-1172)
and its one-column-at-a-time disk scan (fit_disk).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .fastlit import sql_ident
from .preprocessing import (
    CLEAN,
    MISSING,
    categorical_bin_expr,
    numeric_bin_expr,
    sample_class_expr,
)


class BinStats:
    """Collected per-bin statistics for one variable (driver-side)."""

    __slots__ = ("clean", "missing", "specials", "n_bins")

    def __init__(self, clean, missing, specials, n_bins):
        self.clean = clean  # dict metric -> np.ndarray[n_bins]
        self.missing = missing  # dict metric -> float
        self.specials = specials  # dict group -> dict metric -> float
        self.n_bins = n_bins


# A binary aggregation also counts the rows whose label is neither 0
# nor 1 (NaN included; a NULL label is not counted): they fall in
# neither class sum, so without this count a fit would silently drop
# them. Every collect of a binary aggregation passes its rows through
# ``check_binary_labels`` before the solve.
N_BAD_LABEL = "__n_bad_label"


def _agg_exprs(y_col: str, w_col: str | None, target_type: str, classes=None):
    w = F.col(w_col) if w_col else F.lit(1.0)
    y = F.col(y_col)
    if target_type == "binary":
        q = sql_ident(y_col)
        return [
            F.coalesce(F.sum(F.when(y == 0, w)), F.lit(0.0)).alias("n_nonevent"),
            F.coalesce(F.sum(F.when(y == 1, w)), F.lit(0.0)).alias("n_event"),
            # one parsed expression: a Column-built one costs ~10 more
            # py4j round trips per aggregation
            F.expr(f"count(CASE WHEN NOT ({q} = 0 OR {q} = 1) THEN 1 END)"
                   ).alias(N_BAD_LABEL),
        ]
    if target_type == "continuous":
        return [
            F.coalesce(F.sum(w), F.lit(0.0)).alias("n_records"),
            F.coalesce(F.sum(w * y), F.lit(0.0)).alias("sum_y"),
            F.coalesce(F.sum(w * y * y), F.lit(0.0)).alias("sum_y2"),
            F.min(y).alias("min_y"),
            F.max(y).alias("max_y"),
            F.coalesce(F.sum(F.when(y == 0, w)), F.lit(0.0)).alias("n_zeros"),
        ]
    if target_type == "multiclass":
        return [
            F.coalesce(F.sum(F.when(y == c, w)), F.lit(0.0)).alias(f"n_event_{i}")
            for i, c in enumerate(classes)
        ]
    raise ValueError(target_type)


def check_binary_labels(rows, target_type: str = "binary") -> None:
    """Refuse a binary fit whose collected aggregate ``rows`` counted
    labels outside {0, 1} (see ``N_BAD_LABEL``)."""
    if target_type != "binary":
        return
    n_bad = sum(r[N_BAD_LABEL] or 0 for r in rows)
    if n_bad:
        raise ValueError(
            f"binary target: {n_bad} row(s) have a label outside {{0, 1}} "
            "(NaN included); filter or recode them, or fit a continuous "
            "or multiclass binner")


def _metric_names(target_type: str, classes=None) -> list[str]:
    if target_type == "binary":
        return ["n_nonevent", "n_event"]
    if target_type == "continuous":
        return ["n_records", "sum_y", "sum_y2", "min_y", "max_y", "n_zeros"]
    return [f"n_event_{i}" for i in range(len(classes))]


def _metric_value(r, m):
    """Metric ``m`` of one collected aggregate row: a NULL sum reads 0.0
    and a NULL min/max reads NaN."""
    v = r[m]
    if v is not None:
        return v
    return np.nan if m in ("min_y", "max_y") else 0.0


def row_metrics(r, metrics) -> dict:
    """Decode one collected aggregate row (see ``_metric_value``)."""
    return {m: _metric_value(r, m) for m in metrics}


def split_value_rows(rows, metrics, key):
    """Split collected per-(sample_class, ``key``) rows into the clean
    rows with a non-NULL ``key`` (sorted by it), the per-value metric
    arrays of those rows, the missing metrics and the per-group special
    metrics."""
    clean_rows = sorted(
        (r for r in rows if r["sample_class"] == CLEAN and r[key] is not None),
        key=lambda r: r[key],
    )
    per_value = {
        m: np.array([_metric_value(r, m) for r in clean_rows], dtype=float)
        for m in metrics
    }
    missing = {m: 0.0 for m in metrics}
    specials: dict[str, dict[str, float]] = {}
    for r in rows:
        sc = r["sample_class"]
        if sc == CLEAN:
            continue
        if sc == MISSING:
            missing = row_metrics(r, metrics)
        else:
            specials[sc.split(":", 1)[1] if ":" in sc else sc] = (
                row_metrics(r, metrics))
    return clean_rows, per_value, missing, specials


def value_stats(
    df: DataFrame,
    col: str,
    y_col: str,
    w_col: str | None,
    *,
    special_codes=None,
    target_type: str = "binary",
    classes=None,
    max_values: int = 50_000,
):
    """ONE aggregation over (sample_class, distinct clean value)
    producing per-distinct-value sufficient statistics PLUS the
    special/missing stats — the histogram fit: the same collect feeds
    the split proposal, the per-prebin statistics (additive
    re-bucketing on the driver), and the special/missing bin rows, so
    a whole numerical fit is a single Spark job.

    Returns (values, metric_dict_of_per_value_arrays, missing,
    specials) or None when the distinct-value cardinality exceeds
    ``max_values``: a LIMIT bounds the collect, and on overflow the
    caller probes quantile edges and runs ``bucket_value_stats``.
    """
    from .preprocessing import normalize_special_codes

    c = F.col(col)
    sclass = sample_class_expr(c, "numerical", special_codes)
    v = F.when(sclass == CLEAN, c)
    n_groups = len(normalize_special_codes(special_codes))
    cap = max_values + n_groups + 2
    rows = (
        df.groupBy(sclass.alias("sample_class"), v.alias("__v"))
        .agg(*_agg_exprs(y_col, w_col, target_type, classes))
        .limit(cap + 1)
        .collect()
    )
    if len(rows) > cap:
        return None
    check_binary_labels(rows, target_type)
    clean_rows, per_value, missing, specials = split_value_rows(
        rows, _metric_names(target_type, classes), "__v")
    values = np.array([r["__v"] for r in clean_rows], dtype=float)
    return values, per_value, missing, specials


def bucket_value_stats(
    df: DataFrame,
    col: str,
    y_col: str,
    w_col: str | None,
    *,
    edges: list[float],
    special_codes=None,
    target_type: str = "binary",
    classes=None,
):
    """High-cardinality variant of ``value_stats``: ONE aggregation over
    (sample_class, quantile bucket) — same return contract plus the
    per-bucket lower edges, so the caller can snap proposed splits to
    bucket boundaries and the driver re-reduce stays EXACT (a whole
    bucket is always on one side of a snapped split).

    With this, a high-cardinality fit needs no bin-stats scan after the
    split proposal. The shuffled state is <= (n_buckets + n_specials +
    2) groups regardless of input rows.
    """
    from pyspark.ml.feature import Bucketizer

    c = F.col(col)
    sclass = sample_class_expr(c, "numerical", special_codes)
    v = F.when(sclass == CLEAN, c)
    E = [-float("inf")] + [float(e) for e in edges] + [float("inf")]
    # NULL (special/missing rows) -> NaN -> the Bucketizer's invalid
    # bucket; their stats are grouped by sample_class regardless
    work = df.withColumn("__cv", F.coalesce(v, F.lit(float("nan"))))
    work = Bucketizer(
        splits=E, inputCol="__cv", outputCol="__bkt", handleInvalid="keep"
    ).transform(work)
    rows = (
        work.groupBy(
            sclass.alias("sample_class"),
            F.when(sclass == CLEAN, F.col("__bkt").cast("int")).alias("__b"),
        )
        .agg(
            F.max(v).alias("__vmax"),
            *_agg_exprs(y_col, w_col, target_type, classes),
        )
        .collect()
    )
    check_binary_labels(rows, target_type)
    clean_rows, per_value, missing, specials = split_value_rows(
        rows, _metric_names(target_type, classes), "__b")
    values = np.array([r["__vmax"] for r in clean_rows], dtype=float)
    lower_edges = np.array([E[r["__b"]] for r in clean_rows], dtype=float)
    return values, per_value, missing, specials, lower_edges


def weighted_percentile(
    values: np.ndarray, counts: np.ndarray, probs
) -> np.ndarray:
    """np.percentile(expanded_array, p, 'linear') computed from
    (distinct value, count) pairs — exact for integer counts, the
    natural generalization for fractional weights. Lets the quantile
    prebinning method reproduce the reference's EXACT KBinsDiscretizer
    edges from the same single-aggregation histogram the cart path
    uses (reference prebinning.py:95-101)."""
    values = np.asarray(values, dtype=float)
    c = np.cumsum(np.asarray(counts, dtype=float))
    W = c[-1]
    out = []
    for p in np.asarray(probs, dtype=float):
        h = p * (W - 1.0)
        lo, hi = np.floor(h), np.ceil(h)
        vlo = values[min(int(np.searchsorted(c, lo, side="right")),
                         len(values) - 1)]
        vhi = values[min(int(np.searchsorted(c, hi, side="right")),
                         len(values) - 1)]
        out.append(vlo + (h - lo) * (vhi - vlo))
    return np.asarray(out, dtype=float)


def snap_splits_to_edges(
    splits: np.ndarray, values: np.ndarray, lower_edges: np.ndarray
) -> np.ndarray:
    """Snap proposed thresholds (midpoints between per-bucket max
    values) to the bucket lower edge they fall under, so that every
    bucket lies entirely on one side — making the driver re-reduce of
    bucket statistics exact AND consistent with the transform-time
    ``digitize(x, splits)`` on raw values."""
    out = []
    for t in np.asarray(splits, dtype=float):
        j = int(np.searchsorted(values, t))
        if 1 <= j < len(lower_edges) and np.isfinite(lower_edges[j]):
            out.append(float(lower_edges[j]))
    return np.unique(np.asarray(out, dtype=float))


def bin_stats_from_values(
    values: np.ndarray,
    per_value: dict,
    missing: dict,
    specials: dict,
    splits,
    target_type: str = "binary",
) -> BinStats:
    """Driver-side re-bucketing of per-distinct-value statistics into
    per-prebin statistics — exact, because every metric is additive
    (or min/max) over rows sharing a value."""
    splits = np.asarray(splits, dtype=float)
    n_bins = len(splits) + 1 if splits.size else 1
    idx = (
        np.digitize(values, splits, right=False)
        if splits.size
        else np.zeros(len(values), dtype=int)
    )
    clean = {}
    for m, arr in per_value.items():
        if m in ("min_y", "max_y"):
            out = np.full(n_bins, np.nan)
            red = np.fmin if m == "min_y" else np.fmax
            for b in range(n_bins):
                sel = arr[idx == b]
                if sel.size:
                    out[b] = red.reduce(sel)
            clean[m] = out
        else:
            clean[m] = np.bincount(idx, weights=arr, minlength=n_bins)
    return BinStats(clean, missing, specials, n_bins)


def bin_stats(
    df: DataFrame,
    col: str,
    y_col: str,
    w_col: str | None,
    *,
    dtype: str = "numerical",
    splits=None,
    bin_categories: list[list] | None = None,
    special_codes=None,
    target_type: str = "binary",
    classes=None,
) -> BinStats:
    """One-pass grouped aggregation producing the full BinStats."""
    c = F.col(col)
    sclass = sample_class_expr(c, dtype, special_codes)
    if dtype == "categorical":
        bin_e = categorical_bin_expr(c, bin_categories or [])
        n_bins = len(bin_categories or [])
    else:
        bin_e = numeric_bin_expr(c, splits if splits is not None else [])
        n_bins = (len(splits) + 1) if splits is not None and len(splits) else 1
    bin_e = F.when(sclass == CLEAN, bin_e)

    rows = (
        df.groupBy(sclass.alias("sample_class"), bin_e.alias("bin"))
        .agg(*_agg_exprs(y_col, w_col, target_type, classes))
        .collect()
    )
    check_binary_labels(rows, target_type)
    return assemble_bin_stats(rows, n_bins, target_type, classes)


def assemble_bin_stats(rows, n_bins, target_type, classes=None) -> BinStats:
    metrics = _metric_names(target_type, classes)
    clean = {m: np.zeros(n_bins) for m in metrics}
    if target_type == "continuous":
        clean["min_y"] = np.full(n_bins, np.nan)
        clean["max_y"] = np.full(n_bins, np.nan)
    missing = {m: 0.0 for m in metrics}
    specials: dict[str, dict[str, float]] = {}
    for r in rows:
        sc = r["sample_class"]
        vals = row_metrics(r, metrics)
        if sc == CLEAN:
            b = r["bin"]
            if b is None:
                # unknown category at fit time: fold into bin 0 guard
                continue
            b = int(b)
            if 0 <= b < n_bins:
                for m in metrics:
                    clean[m][b] = vals[m]
        elif sc == MISSING:
            missing = vals
        else:
            group = sc.split(":", 1)[1] if ":" in sc else sc
            specials[group] = vals
    return BinStats(clean, missing, specials, n_bins)


def categorical_value_stats(
    df: DataFrame,
    col: str,
    y_col: str,
    w_col: str | None,
    *,
    special_codes=None,
    target_type: str = "binary",
    classes=None,
    max_categories: int = 100_000,
):
    """Per-category sufficient statistics in ONE aggregation — this is
    simultaneously the event-rate ordering input (J4), the cat_cutoff
    input (P8), and the prebin statistics (each category is a prebin
    after ordinal ordering). Reference does three passes
    (preprocessing.py:24-42); Spark needs one.

    Returns (rows_by_category, missing_stats, special_stats_by_group,
    tail_stats-or-None).

    High-cardinality safety: the driver only ever collects the top
    ``max_categories`` categories by record count — a distributed
    TakeOrdered over the already-reduced per-category aggregate, NOT a
    global sort — plus one totals row; the truncated tail's aggregate
    statistics are the residual (totals minus collected) and are
    returned separately so callers can fold them into the "others"
    bin. At 100 TB with millions of categories the collect stays
    bounded; hot categories are absorbed by map-side partial agg.
    """
    c = F.col(col)
    sclass = sample_class_expr(c, "categorical", special_codes)
    metrics = _metric_names(target_type, classes)
    keys = [
        sclass.alias("sample_class"),
        F.when(sclass == CLEAN, c).alias("category"),
    ]
    grouped = df.groupBy(*keys).agg(
        *_agg_exprs(y_col, w_col, target_type, classes)
    )

    size_expr = (
        F.col("n_records")
        if target_type == "continuous"
        else sum(
            (F.col(m) for m in metrics if m.startswith("n_")), F.lit(0.0)
        )
    )
    rows = (
        grouped.orderBy(F.desc(size_expr))
        .limit(max_categories + 16)  # non-clean rows ride along
        .collect()
    )
    truncated = len(rows) >= max_categories + 16
    if not truncated:
        check_binary_labels(rows, target_type)
    cats: dict = {}
    missing = {m: 0.0 for m in metrics}
    specials: dict[str, dict[str, float]] = {}
    for r in rows:
        vals = {m: (r[m] if r[m] is not None else 0.0) for m in metrics}
        if r["sample_class"] == CLEAN:
            if r["category"] is not None:
                cats[r["category"]] = vals
        elif r["sample_class"] == MISSING:
            missing = vals
        else:
            g = r["sample_class"].split(":", 1)[1]
            specials[g] = vals

    tail = None
    if len(cats) > max_categories or truncated:
        # truncated: recover the tail's aggregate as totals - collected
        additive = [m for m in metrics if m not in ("min_y", "max_y")]
        clean = F.col("sample_class") == CLEAN
        tot = (
            grouped.agg(
                *[F.sum(F.when(clean, F.col(m))).alias(m) for m in additive],
                # the label check over every group, the tail's included
                *([F.sum(N_BAD_LABEL).alias(N_BAD_LABEL)]
                  if target_type == "binary" else []))
            .collect()[0]
        )
        check_binary_labels([tot], target_type)
        tail = {
            m: float(tot[m] or 0.0) - sum(v[m] for v in cats.values())
            for m in additive
        }
        if all(abs(v) < 1e-9 for v in tail.values()):
            tail = None
    return cats, missing, specials, tail


def stacked_bin_stats(
    df: DataFrame,
    variables: list[dict],
    y_col: str,
    w_col: str | None,
    *,
    target_type: str = "binary",
    classes=None,
):
    """Multi-variable single-shuffle aggregation.

    ``variables``: list of dicts with keys name, dtype, splits /
    bin_categories, special_codes. Builds one struct per variable,
    explodes, and aggregates by (variable, sample_class, bin): the
    entire BinningProcess fit is ONE wide aggregation whose output is
    <= sum_v (n_bins_v + specials + 2) rows.
    """
    structs = []
    meta = {}
    for v in variables:
        name = v["name"]
        c = F.col(name)
        sclass = sample_class_expr(c, v.get("dtype", "numerical"), v.get("special_codes"))
        if v.get("dtype") == "categorical":
            bin_e = categorical_bin_expr(c, v.get("bin_categories") or [])
            n_bins = len(v.get("bin_categories") or [])
        else:
            splits = v.get("splits")
            splits = splits if splits is not None else []
            bin_e = numeric_bin_expr(c, splits)
            n_bins = len(splits) + 1 if len(splits) else 1
        meta[name] = n_bins
        structs.append(
            F.struct(
                F.lit(name).alias("variable"),
                sclass.alias("sample_class"),
                F.when(sclass == CLEAN, bin_e).alias("bin"),
            )
        )
    exploded = df.select(
        F.explode(F.array(*structs)).alias("v"),
        *( [F.col(y_col)] + ([F.col(w_col)] if w_col else []) ),
    ).select("v.variable", "v.sample_class", "v.bin", *([y_col] + ([w_col] if w_col else [])))
    rows = (
        exploded.groupBy("variable", "sample_class", "bin")
        .agg(*_agg_exprs(y_col, w_col, target_type, classes))
        .collect()
    )
    check_binary_labels(rows, target_type)
    by_var: dict[str, list] = {v["name"]: [] for v in variables}
    for r in rows:
        by_var[r["variable"]].append(r)
    return {
        name: assemble_bin_stats(rs, meta[name], target_type, classes)
        for name, rs in by_var.items()
    }
