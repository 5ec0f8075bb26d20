"""OptimalBinning — Spark-native optimal binning of one variable.

API surface mirrors the reference's ``optbinning.OptimalBinning`` /
``ContinuousOptimalBinning`` (reference: optbinning/binning/binning.py,
continuous_binning.py) but is DataFrame-first: ``fit`` takes a Spark
DataFrame plus column names, ``transform`` returns the DataFrame with
an appended metric column built from pure expressions (no UDF, no
shuffle).

Execution profile per fit (numerical feature):
  job 1  - split proposal (min/max agg, quantile sketch, or histogram
           agg for CART/MDLP)
  job 2  - ONE groupBy(sample_class, bin) aggregation -> <= ~25 rows
  driver - exact DP solve + binning-table build (microseconds-ms)
Transform is map-only. Nothing else touches the data; this is the
plan shape that survives 100 TB.
"""

from __future__ import annotations

import json

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .core.auto_monotonic import resolve_trend
from .core.solver import solve_binary, solve_continuous
from .core.tree import cart_splits
from .operators.aggregation import bin_stats, categorical_value_stats
from .operators.binning_table import (
    BinningTableBinary,
    BinningTableContinuous,
    merge_segments,
    merge_segments_max,
    merge_segments_min,
    splits_from_segments,
)
from .operators.fastlit import double_array_lit
from .operators.prebinning import compute_prebins
from .operators.transform import transform_expr


def refine_pure_prebins(splits, count_vecs):
    """Reference _compute_prebins merge loop (binning.py:1105-1145) on
    additive per-prebin count vectors. A prebin is "pure" when the
    first two vectors (n_nonevent, n_event) have a zero; split i is
    dropped when bin i is pure, and the last split when either of the
    last two bins is pure. Returns (splits, merged count_vecs)."""
    splits = np.asarray(splits, dtype=float)
    vecs = [np.asarray(v, dtype=float) for v in count_vecs]
    while len(splits):
        ne, ev = vecs[0], vecs[1]
        mask_remove = (ne == 0) | (ev == 0)
        if not mask_remove.any():
            break
        mask_splits = np.concatenate(
            [mask_remove[:-2], [mask_remove[-2] | mask_remove[-1]]]
        )
        keep = ~mask_splits
        new_splits = splits[keep]
        # old bin i -> new bin = #kept splits before its lower edge
        new_idx = np.concatenate([[0], np.cumsum(keep.astype(int))])
        n_new = len(new_splits) + 1
        vecs = [
            np.bincount(new_idx, weights=v, minlength=n_new) for v in vecs
        ]
        splits = new_splits
    return splits, vecs


def _infer_dtype(df: DataFrame, col: str) -> str:
    kind = dict(df.dtypes)[col]
    return "categorical" if kind in ("string", "boolean") else "numerical"


class _BaseOptimalBinning:
    _target_type = "binary"

    def __init__(
        self,
        name: str = "",
        dtype: str | None = None,
        prebinning_method: str = "cart",
        max_n_prebins: int = 20,
        min_prebin_size: float = 0.05,
        min_n_bins: int | None = None,
        max_n_bins: int | None = None,
        min_bin_size: float | None = None,
        max_bin_size: float | None = None,
        monotonic_trend: str | None = "auto",
        max_pvalue: float | None = None,
        gamma: float = 0.0,
        special_codes=None,
        split_digits: int | None = None,
        cat_cutoff: float | None = None,
        user_splits=None,
        show_digits: int = 2,
        class_weight=None,
        outlier_detector: str | None = None,
        outlier_params: dict | None = None,
        fix_lb: float | None = None,
        fix_ub: float | None = None,
        prebinning_kwargs: dict | None = None,
    ):
        self.name = name
        self.dtype = dtype
        self.prebinning_method = prebinning_method
        self.max_n_prebins = max_n_prebins
        self.min_prebin_size = min_prebin_size
        self.min_n_bins = min_n_bins
        self.max_n_bins = max_n_bins
        self.min_bin_size = min_bin_size
        self.max_bin_size = max_bin_size
        self.monotonic_trend = monotonic_trend
        self.max_pvalue = max_pvalue
        self.gamma = gamma
        self.special_codes = special_codes
        self.split_digits = split_digits
        self.cat_cutoff = cat_cutoff
        self.user_splits = user_splits
        self.show_digits = show_digits
        self.class_weight = class_weight
        if outlier_detector is not None and outlier_detector not in (
            "range", "zscore"
        ):
            raise ValueError(
                'outlier_detector must be "range", "zscore" or None'
            )
        self.outlier_detector = outlier_detector
        self.outlier_params = outlier_params
        self.fix_lb = fix_lb
        self.fix_ub = fix_ub
        # X4 (reference binning.py:427-430): pre-binning parameter
        # pass-through — overrides the derived CART/MDLP defaults
        self.prebinning_kwargs = dict(prebinning_kwargs or {})
        if fix_lb is not None and fix_ub is not None and fix_lb > fix_ub:
            raise ValueError("fix_lb must be <= fix_ub")

        self._fitted = False
        self._splits: np.ndarray = np.array([])
        self._bin_categories: list[list] | None = None
        self._others_categories: list = []
        self._table = None
        self.solution_ = None

    # -- public API -----------------------------------------------------
    @property
    def binning_table(self):
        self._check_fitted()
        return self._table

    @property
    def splits(self) -> np.ndarray:
        self._check_fitted()
        return self._splits

    @property
    def status(self) -> str:
        """Solver status (reference binning.py:1178-1187). The DP
        solver is exact, so a fitted model is always OPTIMAL."""
        self._check_fitted()
        return "OPTIMAL"

    def fit(self, df: DataFrame, x: str, y: str, sample_weight: str | None = None):
        self.name = self.name or x
        dtype = self.dtype or _infer_dtype(df, x)
        self._resolved_dtype = dtype
        df = df.filter(F.col(y).isNotNull())
        if self.class_weight is not None and self._target_type == "binary":
            # A12 (reference preprocessing.py:181-186): class weights
            # fold into sample weights; "balanced" = N / (k * n_class)
            # from one tiny aggregation
            if self.class_weight == "balanced":
                counts = {
                    r[y]: r["count"]
                    for r in df.groupBy(y).count().collect()
                }
                total = sum(counts.values())
                cw = {c: total / (len(counts) * n) for c, n in counts.items()}
            elif isinstance(self.class_weight, dict):
                cw = self.class_weight
            else:
                raise ValueError("class_weight must be 'balanced' or a dict")
            wexpr = F.when(F.col(y) == 0, F.lit(float(cw.get(0, 1.0)))).otherwise(
                F.lit(float(cw.get(1, 1.0)))
            )
            if sample_weight:
                wexpr = wexpr * F.col(sample_weight)
            df = df.withColumn("__cw", wexpr)
            sample_weight = "__cw"
        if dtype == "categorical":
            self._fit_categorical(df, x, y, sample_weight)
        else:
            self._fit_numerical(df, x, y, sample_weight)
        self._fitted = True
        return self

    def transform(
        self,
        df: DataFrame,
        x: str,
        metric: str = "woe",
        metric_special=0,
        metric_missing=0,
        out_col: str | None = None,
    ) -> DataFrame:
        self._check_fitted()
        expr = self.transform_column_expr(
            x, metric=metric, metric_special=metric_special,
            metric_missing=metric_missing,
        )
        return df.withColumn(out_col or f"{x}_{metric}", expr)

    def transform_column_expr(
        self, x: str, metric: str = "woe", metric_special=0, metric_missing=0
    ):
        """The transform of column ``x`` as one Column (one parsed SQL
        CASE, see ``operators.transform``)."""
        self._check_fitted()
        return transform_expr(
            x,
            dtype=self._resolved_dtype,
            splits=self._splits,
            bin_categories=self._bin_categories,
            table=self._table,
            metric=metric,
            metric_special=metric_special,
            metric_missing=metric_missing,
            special_codes=self.special_codes,
            show_digits=self.show_digits,
        )

    def fit_transform(self, df, x, y, sample_weight=None, metric="woe", **kw):
        return self.fit(df, x, y, sample_weight).transform(df, x, metric=metric, **kw)

    def information(self, print_level: int = 1) -> str:
        """Fit report (reference binning.py information(); the solver
        here is the exact DP, so solver stats are the DP's). Returns
        the report string and prints it."""
        self._check_fitted()
        t = self._table
        lines = [
            f"{type(self).__name__}",
            f"  name                 : {self.name}",
            f"  dtype                : {self._resolved_dtype}",
            f"  status               : OPTIMAL (exact DP)",
            f"  prebinning method    : {self.prebinning_method}",
            f"  monotonic trend      : {self.monotonic_trend}",
            f"  n bins               : "
            f"{sum(1 for k in t.kinds if k == 'clean')}",
        ]
        if print_level > 1:
            for attr in ("iv", "js", "gini", "ks"):
                if hasattr(t, attr):
                    lines.append(
                        f"  {attr:<21}: {float(getattr(t, attr)):.8f}"
                    )
        report = "\n".join(lines)
        print(report)
        return report

    # -- persistence (reference binning.py:1189-1256) -------------------
    def to_dict(self) -> dict:
        self._check_fitted()
        return {
            "class": type(self).__name__,
            "name": self.name,
            "dtype": self._resolved_dtype,
            "target_type": self._target_type,
            "splits": [float(s) for s in self._splits],
            "bin_categories": self._bin_categories,
            "others_categories": list(self._others_categories),
            "special_codes": self.special_codes,
            "show_digits": self.show_digits,
            "table": self._table_state(),
        }

    def to_json(self, path: str):
        with open(path, "w") as f:
            json.dump(self.to_dict(), f)

    @classmethod
    def read_json(cls, path: str):
        with open(path) as f:
            return cls.from_dict(json.load(f))

    @classmethod
    def from_dict(cls, d: dict):
        obj = cls(name=d["name"], special_codes=d.get("special_codes"),
                  show_digits=d.get("show_digits", 2))
        obj._resolved_dtype = d["dtype"]
        obj._splits = np.array(d["splits"], dtype=float)
        obj._bin_categories = d.get("bin_categories")
        obj._others_categories = d.get("others_categories", [])
        obj._restore_table(d["table"])
        obj._fitted = True
        return obj

    def _check_fitted(self):
        if not self._fitted:
            raise RuntimeError("OptimalBinning is not fitted")

    # -- shared helpers -------------------------------------------------
    def _round_splits(self, splits: np.ndarray) -> np.ndarray:
        if self.split_digits is not None:
            splits = np.round(splits, self.split_digits)
        return np.unique(splits)


    def _apply_clean_filters(self, proj):
        """P4-P6 (reference preprocessing.py:228-261): outlier removal,
        then bound clamping, on CLEAN rows only — special/missing rows
        are kept for their own bin statistics. The detector is fit on
        the unfiltered clean values (reference order). When both
        fix_lb and fix_ub are given we apply both bounds (the
        reference's elif chain only applies fix_lb, contradicting its
        own lb<=ub validation — clearly unintended)."""
        from .operators.preprocessing import clean_value_expr

        if (
            self.outlier_detector is None
            and self.fix_lb is None
            and self.fix_ub is None
        ):
            return proj
        cv = clean_value_expr(F.col("__x"), "numerical", self.special_codes)
        drop = F.lit(False)
        if self.outlier_detector is not None:
            from .operators.outlier import (
                ModifiedZScoreDetector,
                RangeDetector,
            )

            det = (
                RangeDetector(**(self.outlier_params or {}))
                if self.outlier_detector == "range"
                else ModifiedZScoreDetector(**(self.outlier_params or {}))
            )
            det.fit(
                proj.select(cv.alias("__cx")).filter(F.col("__cx").isNotNull()),
                "__cx",
            )
            drop = drop | det.outlier_predicate(cv)
        if self.fix_lb is not None:
            drop = drop | (cv < float(self.fix_lb))
        if self.fix_ub is not None:
            drop = drop | (cv > float(self.fix_ub))
        return proj.filter(cv.isNull() | ~drop)


    def _fused_fit(self, proj, wcol, task, classes=None,
                   target_type=None) -> str:
        """Single-aggregation fit: per-distinct-value sufficient stats
        (+ special/missing rows) collected once; CART/MDLP/uniform
        splits and exact per-prebin statistics both derive from that
        histogram on the driver; the quantile method computes EXACT
        weighted percentiles from the same histogram (reference
        KBinsDiscretizer parity) or, on overflow, picks edges from the
        probe's quantile grid (already bucket boundaries). Returns
        'done', or 'skip' (user splits / quantile_exact — caller runs
        the multi-pass path), or 'overflow' (cardinality probe failed —
        caller runs the multi-pass path and skips the already-failed
        exact probe)."""
        method = self.prebinning_method
        if self.user_splits is not None or method not in (
            "cart", "mdlp", "uniform", "quantile"
        ):
            return "skip"
        from .core.tree import mdlp_splits
        from .operators.aggregation import bin_stats_from_values, value_stats
        from .operators.prebinning import MAX_HISTOGRAM_BUCKETS

        target_type = target_type or (
            "continuous" if task == "regression" else "binary"
        )
        # Optimistic single-action fit (r18, guide §2.6 "fewer
        # actions"): run the LIMIT-guarded distinct-value aggregation
        # FIRST — for every column whose true cardinality fits the
        # histogram cap (the calibrated regime: fit oracles pin
        # moderate-cardinality columns by contract) the WHOLE fit is
        # ONE Spark action, where the previous shape always paid a
        # separate HLL/percentile probe action before it. The LIMIT
        # backstop detects overflow; only then does the probe run
        # (its quantile edges / min / max are only consumed by the
        # bucketized path), so a high-cardinality fit pays 3 actions
        # instead of 2 — the wasted work is one grouped shuffle whose
        # per-partition width map-side partial aggregation bounds.
        # Routing note vs the probe-first shape: a column is now
        # routed by its TRUE cardinality, not the HLL estimate — the
        # two differ only when the rsd=0.05 estimate misses by >10%
        # (outputs verified byte-identical across the full registry at
        # sf0.001/0.01/0.1).
        from .operators.preprocessing import clean_value_expr

        cap = MAX_HISTOGRAM_BUCKETS * 16
        cx = clean_value_expr(F.col("__x"), "numerical", self.special_codes)
        self._probe_edges = None
        lower_edges = None
        vs = value_stats(
            proj, "__x", "__y", wcol,
            special_codes=self.special_codes,
            target_type=target_type,
            classes=classes,
            max_values=cap,
            guarded=False,  # no probe ran — the LIMIT is the guard
        )
        probe = None
        if vs is None:
            # Overflow: high cardinality. One probe action gets the
            # quantile bucket edges + exact min/max, then ONE
            # (sample_class, quantile bucket) aggregation — splits are
            # snapped to bucket boundaries so the driver re-reduce
            # stays exact (no further scan).
            # probabilities passed as ONE array literal — a Python
            # list here expands to one py4j round-trip per element
            # (~2s of driver latency for 254 probs); the ndarray
            # literal is a single call
            probs = np.linspace(0, 1, MAX_HISTOGRAM_BUCKETS + 1)[1:-1]
            probe = proj.agg(
                F.percentile_approx(cx, double_array_lit(probs),
                                    F.lit(2_000)).alias("edges"),
                F.min(cx).alias("vmin"),
                F.max(cx).alias("vmax"),
            ).first()
            edges = sorted({float(e) for e in (probe["edges"] or [])})
            self._probe_edges = edges
            if not edges:
                return "overflow"
            if method == "uniform":
                # uniform splits are not bucket-aligned; the probe's
                # exact min/max + one bin_stats job finishes the fit
                prebin_splits = self._round_splits(np.unique(np.linspace(
                    float(probe["vmin"]), float(probe["vmax"]),
                    self.max_n_prebins + 1,
                )[1:-1]))
                stats = bin_stats(
                    proj, "__x", "__y", wcol, dtype="numerical",
                    splits=prebin_splits,
                    special_codes=self.special_codes,
                    target_type=target_type, classes=classes,
                )
                self._finalize_numerical(prebin_splits, stats)
                return "done"
            from .operators.aggregation import bucket_value_stats

            values, per_value, missing, specials, lower_edges = (
                bucket_value_stats(
                    proj, "__x", "__y", wcol, edges=edges,
                    special_codes=self.special_codes,
                    target_type=target_type, classes=classes,
                )
            )
        else:
            values, per_value, missing, specials = vs
        if target_type == "multiclass":
            hist = np.column_stack(
                [per_value[f"n_event_{i}"] for i in range(len(classes))]
            )
        elif task == "classification":
            hist = np.column_stack(
                [per_value["n_nonevent"], per_value["n_event"]]
            )
        else:
            hist = np.column_stack(
                [per_value["n_records"], per_value["sum_y"], per_value["sum_y2"]]
            )
        if len(values) < 2:
            prebin_splits = np.array([])
        elif method == "quantile":
            tgt = np.linspace(0, 1, self.max_n_prebins + 1)[1:-1]
            if lower_edges is not None:
                # overflow: pick the probe-grid percentile nearest each
                # target probability — grid values are bucket
                # boundaries, so the driver re-reduce stays exact
                raw = [float(e) for e in (probe["edges"] or [])]
                N = MAX_HISTOGRAM_BUCKETS
                idx = np.clip(
                    np.round(tgt * N).astype(int), 1, len(raw))
                prebin_splits = np.unique([raw[i - 1] for i in idx])
            else:
                from .operators.aggregation import weighted_percentile

                cnts = (
                    hist.sum(axis=1)
                    if task == "classification"
                    else hist[:, 0]
                )
                prebin_splits = np.unique(
                    weighted_percentile(values, cnts, tgt))
        elif method == "uniform":
            prebin_splits = np.unique(
                np.linspace(values[0], values[-1], self.max_n_prebins + 1)[1:-1]
            )
        elif method == "mdlp":
            if task != "classification":
                raise ValueError("mdlp requires a binary target")
            prebin_splits = mdlp_splits(values, hist, **self.prebinning_kwargs)
        else:
            kw = dict(
                max_leaf_nodes=self.max_n_prebins,
                min_samples_leaf=self.min_prebin_size * float(
                    hist.sum() if task == "classification" else hist[:, 0].sum()
                ),
            )
            kw.update(self.prebinning_kwargs)
            prebin_splits = cart_splits(values, hist, task=task, **kw)
        if lower_edges is not None and prebin_splits.size:
            from .operators.aggregation import snap_splits_to_edges

            prebin_splits = snap_splits_to_edges(
                prebin_splits, values, lower_edges
            )
        prebin_splits = self._round_splits(prebin_splits)
        stats = bin_stats_from_values(
            values, per_value, missing, specials, prebin_splits, target_type
        )
        self._finalize_numerical(prebin_splits, stats)
        return "done"


class OptimalBinning(_BaseOptimalBinning):
    """Binary-target optimal binning (reference OptimalBinning)."""

    _target_type = "binary"

    def __init__(self, *args, divergence: str = "iv",
                 min_bin_n_event=None, max_bin_n_event=None,
                 min_bin_n_nonevent=None, max_bin_n_nonevent=None,
                 min_event_rate_diff: float = 0.0, **kw):
        super().__init__(*args, **kw)
        self.divergence = divergence
        self.min_bin_n_event = min_bin_n_event
        self.max_bin_n_event = max_bin_n_event
        self.min_bin_n_nonevent = min_bin_n_nonevent
        self.max_bin_n_nonevent = max_bin_n_nonevent
        self.min_event_rate_diff = min_event_rate_diff

    def _solve(self, ne: np.ndarray, ev: np.ndarray, trend: str | None):
        return solve_binary(
            ne, ev,
            divergence=self.divergence,
            monotonic_trend=trend,
            min_n_bins=self.min_n_bins,
            max_n_bins=self.max_n_bins,
            min_bin_size=self.min_bin_size,
            max_bin_size=self.max_bin_size,
            min_bin_n_event=self.min_bin_n_event,
            max_bin_n_event=self.max_bin_n_event,
            min_bin_n_nonevent=self.min_bin_n_nonevent,
            max_bin_n_nonevent=self.max_bin_n_nonevent,
            min_event_rate_diff=self.min_event_rate_diff,
            max_pvalue=self.max_pvalue,
            gamma=self.gamma,
        )

    def _fit_numerical(self, df, x, y, w):
        from .operators.preprocessing import clean_value_expr

        # Project to the 2-3 needed columns. Column pruning means the
        # slice is tiny relative to the table.
        proj = df.select(
            F.col(x).cast("double").alias("__x"), F.col(y).alias("__y"),
            *([F.col(w).alias("__w")] if w else []),
        )
        proj = self._apply_clean_filters(proj)
        # No spread() here: the numeric fit aggregation is cheap per
        # row, so the round-robin shuffle costs more than it buys
        # (measured 2.4x slower at sf0.1) and adds an AQE stage job
        # per action, breaking the 2-action/<=4-job fit contract.
        # Scan parallelism comes from input splits on a real cluster.
        wcol = "__w" if w else None
        # Fused single-job path: for histogram-driven split proposals
        # the per-distinct-value stats feed the tree AND re-bucket into
        # exact per-prebin stats on the driver — the whole fit is ONE
        # aggregation (falls back below on cardinality overflow).
        fused = self._fused_fit(proj, wcol, "classification")
        if fused == "done":
            return
        # Multi-pass path: cache the projection for the 2-3 passes
        # (split proposal + bin-stats); at scale this converts the
        # repeated wide scans into one.
        multi_pass = self.user_splits is None
        if multi_pass:
            proj = proj.cache()
        try:
            clean = proj.withColumn(
                "__clean_x",
                clean_value_expr(F.col("__x"), "numerical", self.special_codes),
            )
            if self.user_splits is not None:
                prebin_splits = np.unique(np.asarray(self.user_splits, dtype=float))
            else:
                prebin_splits = compute_prebins(
                    clean, "__clean_x", "__y", wcol,
                    method=self.prebinning_method,
                    max_n_prebins=self.max_n_prebins,
                    min_prebin_size=self.min_prebin_size,
                    task="classification",
                    classes=[0, 1],
                    skip_exact=fused == "overflow",
                    bucket_edges=getattr(self, "_probe_edges", None),
                )
            prebin_splits = self._round_splits(prebin_splits)

            stats = bin_stats(
                proj, "__x", "__y", wcol,
                dtype="numerical", splits=prebin_splits,
                special_codes=self.special_codes, target_type="binary",
            )
        finally:
            if multi_pass:
                proj.unpersist()
        self._finalize_numerical(prebin_splits, stats)

    def _finalize_numerical(self, prebin_splits, stats):
        """Driver-side solve + table build from collected BinStats
        (shared by single-variable fit and BinningProcess batching)."""
        ne, ev = stats.clean["n_nonevent"], stats.clean["n_event"]
        if self.divergence in ("iv", "js"):
            # reference pre-binning refinement (binning.py:1105-1145):
            # iteratively drop the split of a pure prebin (the LAST
            # split goes when either of the last two bins is pure)
            # BEFORE optimizing — counts are additive, so the merge is
            # a driver re-reduce, not a re-scan. This reproduces the
            # reference's candidate set (and therefore its optimum)
            # exactly; skipping it would let the DP reach strictly
            # better partitions the reference cannot express.
            prebin_splits, (ne, ev) = refine_pure_prebins(
                prebin_splits, [ne, ev]
            )
        cnt = ne + ev
        with np.errstate(divide="ignore", invalid="ignore"):
            rates = np.where(cnt > 0, ev / np.maximum(cnt, 1e-15), 0.0)
        trend = resolve_trend(self.monotonic_trend, rates, cnt)
        sol = self._solve(ne, ev, trend)
        self.solution_ = sol
        self._splits = splits_from_segments(prebin_splits, sol.segments)
        self._table = BinningTableBinary(
            splits=self._splits,
            n_nonevent=merge_segments(ne, sol.segments),
            n_event=merge_segments(ev, sol.segments),
            special_stats=stats.specials,
            missing_stats=stats.missing,
            dtype="numerical",
            show_digits=self.show_digits,
        )

    def _fit_categorical(self, df, x, y, w):
        cats, missing, specials, tail = categorical_value_stats(
            df, x, y, w, special_codes=self.special_codes,
            target_type="binary",
        )
        self._finalize_categorical(cats, missing, specials, x, tail=tail)

    def _finalize_categorical(self, cats, missing, specials, x="", tail=None):
        if not cats:
            raise ValueError(f"no categories found for {x}")
        total = sum(v["n_nonevent"] + v["n_event"] for v in cats.values())
        if self.user_splits is not None:
            # B6 categorical user split groups (reference
            # preprocessing.py:321-374): each user group is a prebin;
            # categories not in any group go to others (U3)
            groups = [list(g) for g in self.user_splits]
            in_group = {c for g in groups for c in g}
            others = [c for c in cats if c not in in_group]
            gstats = []
            for g in groups:
                g_ne = sum(cats[c]["n_nonevent"] for c in g if c in cats)
                g_ev = sum(cats[c]["n_event"] for c in g if c in cats)
                gstats.append((g, g_ne, g_ev))
            gstats.sort(
                key=lambda t: (t[2] / max(t[1] + t[2], 1e-15), str(t[0]))
            )
            cat_list = [c for g, _, _ in gstats for c in g]
            prebin_groups = []
            pos = 0
            for g, _, _ in gstats:
                prebin_groups.append(list(range(pos, pos + len(g))))
                pos += len(g)
            ne_p = np.array([g[1] for g in gstats], dtype=float)
            ev_p = np.array([g[2] for g in gstats], dtype=float)
            ne = ne_p
            ev = ev_p
            self._finalize_categorical_solve(
                cats, missing, specials, cat_list, prebin_groups,
                ne_p, ev_p, others, tail)
            return
        others, keep = [], {}
        for c, v in cats.items():
            cnt = v["n_nonevent"] + v["n_event"]
            if self.cat_cutoff is not None and cnt < self.cat_cutoff * total:
                others.append(c)
            else:
                keep[c] = v
        # J4: event-rate ordinal ordering (ties broken by category for
        # determinism)
        ordered = sorted(
            keep.items(),
            key=lambda kv: (
                kv[1]["n_event"] / max(kv[1]["n_nonevent"] + kv[1]["n_event"], 1e-15),
                str(kv[0]),
            ),
        )
        cat_list = [c for c, _ in ordered]
        ne = np.array([v["n_nonevent"] for _, v in ordered])
        ev = np.array([v["n_event"] for _, v in ordered])

        # pre-merge to max_n_prebins via histogram CART on ordinals
        if len(cat_list) > self.max_n_prebins:
            thr = cart_splits(
                np.arange(len(cat_list), dtype=float),
                np.column_stack([ne, ev]),
                task="classification",
                max_leaf_nodes=self.max_n_prebins,
                min_samples_leaf=self.min_prebin_size * (ne.sum() + ev.sum()),
            )
            edges = np.searchsorted(np.arange(len(cat_list)), thr).astype(int)
            groups = np.digitize(np.arange(len(cat_list)), thr)
            prebin_groups = [
                [i for i in range(len(cat_list)) if groups[i] == g]
                for g in range(groups.max() + 1)
            ]
            ne_p = np.array([ne[g].sum() for g in prebin_groups])
            ev_p = np.array([ev[g].sum() for g in prebin_groups])
        else:
            prebin_groups = [[i] for i in range(len(cat_list))]
            ne_p, ev_p = ne, ev

        self._finalize_categorical_solve(
            cats, missing, specials, cat_list, prebin_groups, ne_p, ev_p,
            others, tail)

    def _finalize_categorical_solve(self, cats, missing, specials, cat_list,
                                    prebin_groups, ne_p, ev_p, others, tail):
        cnt = ne_p + ev_p
        with np.errstate(divide="ignore", invalid="ignore"):
            rates = np.where(cnt > 0, ev_p / np.maximum(cnt, 1e-15), 0.0)
        trend = resolve_trend(self.monotonic_trend, rates, cnt)
        sol = self._solve(ne_p, ev_p, trend)
        self.solution_ = sol

        bin_categories = []
        for s, e in sol.segments:
            members = []
            for gi in range(s, e + 1):
                members.extend(cat_list[i] for i in prebin_groups[gi])
            bin_categories.append(members)
        self._bin_categories = bin_categories
        self._others_categories = others
        ne_b = merge_segments(ne_p, sol.segments)
        ev_b = merge_segments(ev_p, sol.segments)
        spec = dict(specials)
        if others or tail:
            o_ne = sum(cats[c]["n_nonevent"] for c in others)
            o_ev = sum(cats[c]["n_event"] for c in others)
            if tail:  # truncated high-cardinality residual -> others
                o_ne += tail.get("n_nonevent", 0.0)
                o_ev += tail.get("n_event", 0.0)
            spec = {"others": {"n_nonevent": o_ne, "n_event": o_ev}, **spec}
        self._table = BinningTableBinary(
            splits=np.array([]),
            n_nonevent=ne_b,
            n_event=ev_b,
            special_stats=spec,
            missing_stats=missing,
            dtype="categorical",
            bin_categories=bin_categories,
            show_digits=self.show_digits,
        )

    def _table_state(self):
        t = self._table
        return {
            "n_nonevent": [float(v) for v in t.ne_all],
            "n_event": [float(v) for v in t.ev_all],
            "labels": list(t.labels),
            "kinds": list(t.kinds),
        }

    def _restore_table(self, s):
        n_clean = sum(1 for k in s["kinds"] if k == "clean")
        spec = {}
        missing = {"n_nonevent": 0.0, "n_event": 0.0}
        for i, k in enumerate(s["kinds"]):
            if k == "special":
                g = s["labels"][i].split(": ", 1)[-1]
                spec[g if g != "Special" else "special"] = {
                    "n_nonevent": s["n_nonevent"][i], "n_event": s["n_event"][i]
                }
            elif k == "missing":
                missing = {"n_nonevent": s["n_nonevent"][i],
                           "n_event": s["n_event"][i]}
        self._table = BinningTableBinary(
            splits=self._splits,
            n_nonevent=np.array(s["n_nonevent"][:n_clean]),
            n_event=np.array(s["n_event"][:n_clean]),
            special_stats=spec,
            missing_stats=missing,
            dtype=self._resolved_dtype,
            bin_categories=self._bin_categories,
            show_digits=self.show_digits,
        )


class ContinuousOptimalBinning(_BaseOptimalBinning):
    """Continuous-target optimal binning (reference
    ContinuousOptimalBinning, continuous_binning.py)."""

    _target_type = "continuous"

    def __init__(self, *args, min_mean_diff: float = 0.0, **kw):
        super().__init__(*args, **kw)
        self.min_mean_diff = min_mean_diff

    def _fit_numerical(self, df, x, y, w):
        from .operators.preprocessing import clean_value_expr

        proj = df.select(
            F.col(x).cast("double").alias("__x"), F.col(y).alias("__y"),
            *([F.col(w).alias("__w")] if w else []),
        )
        proj = self._apply_clean_filters(proj)
        # No spread(): see _fit_numerical above — cheap per-row work,
        # the repartition shuffle is a net loss + breaks the job contract.
        wcol = "__w" if w else None
        fused = self._fused_fit(proj, wcol, "regression")
        if fused == "done":
            return
        multi_pass = self.user_splits is None
        if multi_pass:
            proj = proj.cache()
        try:
            clean = proj.withColumn(
                "__clean_x",
                clean_value_expr(F.col("__x"), "numerical", self.special_codes),
            )
            if self.user_splits is not None:
                prebin_splits = np.unique(np.asarray(self.user_splits, dtype=float))
            else:
                method = self.prebinning_method
                if method == "mdlp":
                    raise ValueError("mdlp requires a binary target")
                prebin_splits = compute_prebins(
                    clean, "__clean_x", "__y", wcol,
                    method=method,
                    max_n_prebins=self.max_n_prebins,
                    min_prebin_size=self.min_prebin_size,
                    task="regression",
                    skip_exact=fused == "overflow",
                    bucket_edges=getattr(self, "_probe_edges", None),
                )
            prebin_splits = self._round_splits(prebin_splits)

            stats = bin_stats(
                proj, "__x", "__y", wcol,
                dtype="numerical", splits=prebin_splits,
                special_codes=self.special_codes, target_type="continuous",
            )
        finally:
            if multi_pass:
                proj.unpersist()
        self._finalize_numerical(prebin_splits, stats)

    def _finalize_numerical(self, prebin_splits, stats):
        cnt = stats.clean["n_records"]
        s1 = stats.clean["sum_y"]
        s2 = stats.clean["sum_y2"]
        with np.errstate(divide="ignore", invalid="ignore"):
            means = np.where(cnt > 0, s1 / np.maximum(cnt, 1e-15), 0.0)
        trend = resolve_trend(self.monotonic_trend, means, cnt)
        sol = solve_continuous(
            cnt, s1, s2,
            monotonic_trend=trend,
            min_n_bins=self.min_n_bins,
            max_n_bins=self.max_n_bins,
            min_bin_size=self.min_bin_size,
            max_bin_size=self.max_bin_size,
            min_mean_diff=self.min_mean_diff,
            max_pvalue=self.max_pvalue,
        )
        self.solution_ = sol
        self._splits = splits_from_segments(prebin_splits, sol.segments)
        self._table = BinningTableContinuous(
            splits=self._splits,
            n_records=merge_segments(cnt, sol.segments),
            sums=merge_segments(s1, sol.segments),
            ssums=merge_segments(s2, sol.segments),
            min_y=merge_segments_min(stats.clean["min_y"], sol.segments),
            max_y=merge_segments_max(stats.clean["max_y"], sol.segments),
            n_zeros=merge_segments(stats.clean["n_zeros"], sol.segments),
            special_stats=stats.specials,
            missing_stats=stats.missing,
            dtype="numerical",
            show_digits=self.show_digits,
        )

    def _fit_categorical(self, df, x, y, w):
        cats, missing, specials, tail = categorical_value_stats(
            df, x, y, w, special_codes=self.special_codes,
            target_type="continuous",
        )
        self._finalize_categorical(cats, missing, specials, x, tail=tail)

    def _finalize_categorical(self, cats, missing, specials, x="", tail=None):
        if not cats:
            raise ValueError(f"no categories found for {x}")
        total = sum(v["n_records"] for v in cats.values())
        others, keep = [], {}
        for c, v in cats.items():
            if self.cat_cutoff is not None and v["n_records"] < self.cat_cutoff * total:
                others.append(c)
            else:
                keep[c] = v
        ordered = sorted(
            keep.items(),
            key=lambda kv: (kv[1]["sum_y"] / max(kv[1]["n_records"], 1e-15), str(kv[0])),
        )
        cat_list = [c for c, _ in ordered]
        cnt = np.array([v["n_records"] for _, v in ordered])
        s1 = np.array([v["sum_y"] for _, v in ordered])
        s2 = np.array([v["sum_y2"] for _, v in ordered])
        mn = np.array([v["min_y"] for _, v in ordered])
        mx = np.array([v["max_y"] for _, v in ordered])
        zz = np.array([v["n_zeros"] for _, v in ordered])

        prebin_groups = [[i] for i in range(len(cat_list))]
        means = s1 / np.maximum(cnt, 1e-15)
        trend = resolve_trend(self.monotonic_trend, means, cnt)
        sol = solve_continuous(
            cnt, s1, s2,
            monotonic_trend=trend,
            min_n_bins=self.min_n_bins,
            max_n_bins=self.max_n_bins,
            min_bin_size=self.min_bin_size,
            max_bin_size=self.max_bin_size,
            min_mean_diff=self.min_mean_diff,
            max_pvalue=self.max_pvalue,
        )
        self.solution_ = sol
        bin_categories = [
            [cat_list[i] for g in range(s, e + 1) for i in prebin_groups[g]]
            for s, e in sol.segments
        ]
        self._bin_categories = bin_categories
        self._others_categories = others
        self._table = BinningTableContinuous(
            splits=np.array([]),
            n_records=merge_segments(cnt, sol.segments),
            sums=merge_segments(s1, sol.segments),
            ssums=merge_segments(s2, sol.segments),
            min_y=merge_segments_min(mn, sol.segments),
            max_y=merge_segments_max(mx, sol.segments),
            n_zeros=merge_segments(zz, sol.segments),
            special_stats=specials,
            missing_stats=missing,
            dtype="categorical",
            bin_categories=bin_categories,
            show_digits=self.show_digits,
        )

    def _table_state(self):
        t = self._table
        return {
            "count": [float(v) for v in t.count],
            "mean": [float(v) for v in t.mean],
            "labels": list(t.labels),
            "kinds": list(t.kinds),
        }

    def _restore_table(self, s):
        # minimal restore: rebuild mean-only table for transform use
        n_clean = sum(1 for k in s["kinds"] if k == "clean")
        cnt = np.array(s["count"][:n_clean])
        mean = np.array(s["mean"][:n_clean])
        self._table = BinningTableContinuous(
            splits=self._splits,
            n_records=cnt,
            sums=mean * cnt,
            ssums=np.zeros(n_clean),
            min_y=np.full(n_clean, np.nan),
            max_y=np.full(n_clean, np.nan),
            n_zeros=np.zeros(n_clean),
            special_stats={},
            missing_stats={},
            dtype=self._resolved_dtype,
            bin_categories=self._bin_categories,
            show_digits=self.show_digits,
        )
