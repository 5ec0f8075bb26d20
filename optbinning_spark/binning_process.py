"""BinningProcess — multi-variable binning with selection criteria.

Reference: optbinning/binning/binning_process.py. The reference fans
out per-variable fits across joblib threads and (in fit_disk) reads
one column at a time. The Spark-native fit gets every variable's
statistics from ONE stacked aggregation grouped by (variable, sample
class, exact value or bucket, category), so the number of Spark
actions does not grow with the variable count:

  narrow  - (< _WIDE_FIT variables, probe_mode="approx") the stacked
            aggregation alone, every numeric grouped by exact value,
            LIMIT-guarded, with target-type inference riding along:
            ONE action. A numeric past the exact-value cap re-routes
            the fit through the probe below (3 actions).
  probe   - one aggregation: per-variable cardinality and quantile
            edges (exact min/max for uniform prebinning) plus the
            target type
  stacked - the stacked aggregation, with high-cardinality numerics
            and fixed (user or uniform) splits bucketized
  driver  - split proposal, per-prebin statistics, per-variable DP
            solve and table build, all from the one collected table

Transform emits every selected variable's CASE expression in a single
projection — one map-only pass for the whole matrix.
"""

from __future__ import annotations

import json

import numpy as np
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .binning import (
    AUTO_TRENDS,
    ContinuousOptimalBinning,
    OptimalBinning,
    _infer_dtype,
    propose_splits,
    uniform_splits,
)
from .core.solver import check_trend
from .core.tree import cart_splits  # noqa: F401  (re-exported)
from .multiclass_binning import CATEGORICAL_REFUSAL, MulticlassOptimalBinning
from .operators.aggregation import (  # noqa: F401  (assemble_bin_stats is re-exported)
    _agg_exprs,
    _metric_names,
    assemble_bin_stats,
    bin_stats_from_values,
    check_binary_labels,
    row_metrics,
    split_value_rows,
)
from .operators.fastlit import double_array_lit
from .operators.preprocessing import (
    CLEAN,
    MISSING,
    clean_value_expr,
    normalize_special_codes,
    sample_class_code_expr,
    sample_class_code_names,
)
from .sources.tables import spread

# Fits of at least _WIDE_FIT variables are CPU-bound in the exploded
# stacked aggregation: they spread the working set over every core and
# persist it between the probe and the stats action. Narrower fits do
# neither (the shuffle costs more than it buys) and try the one-action
# narrow fit first. tools/profile_aging.py re-runs the spread/persist
# experiment by rebinding these module constants.
_WIDE_FIT = 8
_SPREAD = True
_PERSIST = True
_PERSIST_LEVEL = StorageLevel.MEMORY_AND_DISK
# probe percentile-sketch accuracy, and the value-hash sample modulus
# of its quantile edges (1 value in _PROBE_MOD)
_PROBE_ACC = 1000
_PROBE_MOD = 50
# numerics up to _PER_VAR_CAP distinct values group by exact value;
# past it they group by one of _N_HIST quantile buckets
_PER_VAR_CAP = 4096
_N_HIST = 256
_PREBINNING_METHODS = ("cart", "mdlp", "quantile", "uniform")


class _DictRow:
    """Row-like dict wrapper for the collected stacked rows."""

    __slots__ = ("_d",)

    def __init__(self, d):
        self._d = d

    def __getitem__(self, k):
        return self._d[k]


class BinningProcess:
    def __init__(
        self,
        variable_names: list[str],
        *,
        categorical_variables: list[str] | None = None,
        special_codes=None,
        selection_criteria: dict | None = None,
        fixed_variables: list[str] | None = None,
        binning_fit_params: dict[str, dict] | None = None,
        binning_transform_params: dict[str, dict] | None = None,
        max_n_prebins: int = 20,
        min_prebin_size: float = 0.05,
        min_n_bins: int | None = None,
        max_n_bins: int | None = None,
        min_bin_size: float | None = None,
        max_bin_size: float | None = None,
        monotonic_trend: str | None = "auto",
        max_pvalue: float | None = None,
        prebinning_method: str = "cart",
        prebinning_kwargs: dict | None = None,
        probe_mode: str = "approx",
    ):
        self.variable_names = list(variable_names)
        self.categorical_variables = set(categorical_variables or [])
        self.special_codes = special_codes
        self.selection_criteria = selection_criteria
        self.fixed_variables = set(fixed_variables or [])
        self.binning_fit_params = binning_fit_params or {}
        self.binning_transform_params = binning_transform_params or {}
        self.max_n_prebins = max_n_prebins
        self.min_prebin_size = min_prebin_size
        self.min_n_bins = min_n_bins
        self.max_n_bins = max_n_bins
        self.min_bin_size = min_bin_size
        self.max_bin_size = max_bin_size
        self.monotonic_trend = monotonic_trend
        self.max_pvalue = max_pvalue
        if prebinning_method not in _PREBINNING_METHODS:
            raise ValueError(
                f"prebinning_method must be one of {_PREBINNING_METHODS}; "
                f"got {prebinning_method!r}")
        self.prebinning_method = prebinning_method
        self.prebinning_kwargs = dict(prebinning_kwargs or {})
        # probe accuracy for the fit's split-proposal probe.
        # "approx" (production default): HLL cardinality + sampled
        # percentile_approx bucket edges — one cheap pass at any scale.
        # "exact": exact count_distinct + exact full-data percentile
        # edges — every quantity the probe feeds into split proposal
        # becomes deterministic and independently replayable (the
        # cardinality-gated-exact pattern binning_2d._quantile_axis_splits
        # established). Meant for audit/oracle runs at sizes where an
        # exact percentile aggregation is affordable; identical plan
        # shape (still ONE probe action + ONE stats action).
        if probe_mode not in ("approx", "exact"):
            raise ValueError('probe_mode must be "approx" or "exact"')
        self.probe_mode = probe_mode

        self._binners: dict[str, object] = {}
        self._support: dict[str, bool] = {}
        self._target_type: str | None = None
        self._fitted = False

    # ------------------------------------------------------------------
    def fit(self, df: DataFrame, y: str, sample_weight: str | None = None,
            target_type: str | None = None):
        # every trend is checked before the first Spark job
        check_trend(self.monotonic_trend, also=AUTO_TRENDS)
        for params in self.binning_fit_params.values():
            check_trend(params.get("monotonic_trend"), also=AUTO_TRENDS)
        # target-type and class-list inference ride the fit's own
        # actions (see _fused_fit_stats)
        self._target_type = target_type
        self._classes = None
        df = df.filter(F.col(y).isNotNull())

        dtypes = {}
        for v in self.variable_names:
            dtypes[v] = (
                "categorical"
                if v in self.categorical_variables
                else _infer_dtype(df, v)
            )
        self._dtypes = dtypes

        numeric = [v for v in self.variable_names if dtypes[v] == "numerical"]
        categorical = [v for v in self.variable_names if dtypes[v] == "categorical"]
        wide = len(self.variable_names) >= _WIDE_FIT
        # a passed target type is refused before any Spark job
        self._check_target(numeric, categorical)

        # normalized working frame: cleaned numeric cols (missing/special
        # -> NULL) so downstream passes need no per-variable filters.
        # Per-row fit cost scales with the variable count, so the
        # single-row-group repartition (spread) is a measured win only
        # for WIDE fits: at 16 vars the probe + stacked aggregation are
        # CPU-bound and a one-row-group scan pins them to one core
        # (measured 14.7s -> ~7.5s at sf0.1), while at <= 7 vars the
        # shuffle costs more than the parallelism buys (and the narrow
        # fit keeps its one-action plan, test_plan_quality).
        # On a real cluster the input has many splits and spread() is a
        # no-op either way.
        work = df.select(
            *dict.fromkeys(
                [y] + ([sample_weight] if sample_weight else [])
                + self.variable_names)
        )
        if wide and _SPREAD:
            work = spread(df.sparkSession, work)
        # ONE select for all clean columns — a withColumn loop re-runs
        # analysis per column (quadratic in variable count; measurable
        # driver latency on wide fits)
        work = work.select(
            "*",
            *[
                clean_value_expr(
                    F.col(v).cast("double"), "numerical", self._codes_for(v)
                ).alias(f"__clean_{v}")
                for v in numeric
            ],
        )
        # raw numeric columns with NO special codes are dead weight
        # past this point (their sample class is derivable from the
        # clean column — see _stacked_rows), so dropping them here
        # shrinks the spread shuffle and the persisted cache by roughly
        # half on the common all-clean wide fit
        droppable = [
            v for v in numeric
            if not normalize_special_codes(self._codes_for(v))
        ]
        if droppable:
            work = work.drop(*droppable)
        # A wide fit reads the working set exactly TWICE (probe action +
        # stats action); persisting the cleaned frame lets the second
        # action skip the scan + broadcast join + spread exchange.
        # Measured A/B (fresh sessions, best-of-3, 16-var fit at
        # sf0.1): spread+persist 5.43s, no-persist 7.07s, no-spread
        # 7.11s, neither 6.21s — each is a clear win WITH the other.
        # The trade holds at 10x data (organic sf1, 6M joined rows):
        # persist 6.72s vs no-persist 6.91s, narrowing as the scan
        # parallelizes better. MEMORY_AND_DISK spills instead of OOMing.
        persisted = None
        if wide and _PERSIST:
            work = persisted = work.persist(_PERSIST_LEVEL)
        try:
            splits_by_var, stats_by_var = self._fused_fit_stats(
                work, numeric, categorical, y, sample_weight, wide)
        finally:
            if persisted is not None:
                persisted.unpersist()
        classes = self._classes
        # an inferred target type is refused before any finalize
        self._check_target(numeric, categorical)

        # driver: per-variable solve via the single-variable finalizers
        for v in self.variable_names:
            b = self._make_binner(v, dtypes[v], splits_by_var.get(v))
            b._resolved_dtype = dtypes[v]
            if self._target_type == "multiclass":
                b.classes_ = list(classes)
            if dtypes[v] == "numerical":
                b._finalize_numerical(splits_by_var[v], stats_by_var[v])
            else:
                cats, missing, specials = stats_by_var[v]
                b._finalize_categorical(cats, missing, specials, v)
            b._fitted = True
            self._binners[v] = b

        self._apply_selection()
        self._fitted = True
        return self

    def _check_target(self, numeric, categorical):
        """The single binners' named refusals of a target type: a
        categorical variable with a multiclass target, and mdlp
        prebinning of a numeric variable (one without user splits) with
        a continuous target."""
        tt = self._target_type
        if tt == "multiclass" and categorical:
            raise ValueError(CATEGORICAL_REFUSAL)
        if tt == "continuous" and self.prebinning_method == "mdlp" and any(
                self._fit_param(v, "user_splits", None) is None
                for v in numeric):
            raise ValueError("mdlp requires a binary target")

    # ------------------------------------------------------------------
    def _codes_for(self, v):
        # special_codes may be global or per-variable dict of dicts
        if isinstance(self.special_codes, dict) and v in self.special_codes:
            return self.special_codes[v]
        return self.special_codes if not isinstance(self.special_codes, dict) else None

    def _fit_param(self, v, name, default):
        return self.binning_fit_params.get(v, {}).get(name, default)

    def _prebin_kwargs(self, v, defaults: dict) -> dict:
        """X4: derived CART/MDLP defaults, overridden by process-level
        then per-variable prebinning_kwargs."""
        kw = dict(defaults)
        kw.update(self.prebinning_kwargs)
        kw.update(self._fit_param(v, "prebinning_kwargs", {}))
        return kw

    def _make_binner(self, v, dtype, splits):
        common = dict(
            name=v,
            dtype=dtype,
            max_n_prebins=self.max_n_prebins,
            min_prebin_size=self.min_prebin_size,
            min_n_bins=self._fit_param(v, "min_n_bins", self.min_n_bins),
            max_n_bins=self._fit_param(v, "max_n_bins", self.max_n_bins),
            min_bin_size=self._fit_param(v, "min_bin_size", self.min_bin_size),
            max_bin_size=self._fit_param(v, "max_bin_size", self.max_bin_size),
            monotonic_trend=self._fit_param(
                v, "monotonic_trend", self.monotonic_trend
            ),
            max_pvalue=self._fit_param(v, "max_pvalue", self.max_pvalue),
            special_codes=self._codes_for(v),
            cat_cutoff=self._fit_param(v, "cat_cutoff", None),
            prebinning_kwargs=self._prebin_kwargs(v, {}),
        )
        if self._target_type == "binary":
            return OptimalBinning(**common)
        if self._target_type == "continuous":
            return ContinuousOptimalBinning(**common)
        return MulticlassOptimalBinning(**common)

    # ------------------------------------------------------------------
    def _fused_fit_stats(self, work, numeric, categorical, y, w, wide):
        """Whole-process fit: split proposal AND per-prebin statistics
        for every variable from ONE stacked aggregation grouped by
        (variable, sample_class, distinct-value-or-bucket, category) —
        the multi-variable analog of the single-variable histogram fit
        (binning.py ``_BaseOptimalBinning._fit_numerical``); both
        propose splits with ``binning.propose_splits``.

        Narrow fits try that aggregation alone first (one action, see
        _optimistic_narrow_fit). Otherwise a probe aggregation
        (per-variable cardinality + quantile edges, or exact min/max
        for uniform prebinning) routes each numeric: low-cardinality
        variables group by exact distinct value (sklearn-CART-exact
        splits, golden parity); high-cardinality variables group by
        quantile bucket with splits snapped to bucket edges so the
        driver re-reduce stays exact; variables whose splits are known
        before the aggregation (user or uniform) group by final bin.

        Returns (splits_by_var, stats_by_var).
        """
        method = self.prebinning_method

        user = {
            v: np.unique(np.asarray(
                self._fit_param(v, "user_splits", None), dtype=float))
            for v in numeric
            if self._fit_param(v, "user_splits", None) is not None
        }
        todo = [v for v in numeric if v not in user]

        # fold target-type / class-list inference into the fit's own
        # actions (no separate distinct() scan)
        need_tt = self._target_type is None
        need_classes = (
            self._target_type == "multiclass" and self._classes is None
        )
        y_float = dict(work.dtypes).get(y, "double") in (
            "double", "float") or dict(work.dtypes).get(y, "").startswith(
            "decimal")

        # ---- r18 optimistic single-action narrow fit -----------------
        # Narrow fits (no spread/persist pairing) skip the probe ACTION
        # entirely: every todo variable is optimistically routed to the
        # exact distinct-value path, and the stacked collect's LIMIT
        # guard detects overflow (falling back to the probe-routed
        # shape below — 3 actions on genuinely high-cardinality inputs,
        # 1 on the calibrated common case). Narrow fits deliberately
        # get NO repartition: an interleaved A/B at sf0.1 showed the
        # shuffle costing ~3x the whole fit (binning_process_summary
        # 1.4s unshuffled vs 4.6s shuffled). Gated off for
        # probe_mode="exact" (the deterministic-probe contract needs
        # the probe).
        if not wide and self.probe_mode == "approx":
            out = self._optimistic_narrow_fit(
                work, numeric, categorical, user, y, w,
                need_tt, need_classes, y_float)
            if out is not None:
                return out
        # splits known before the stacked aggregation: user splits,
        # plus uniform splits from the probe's exact min/max
        fixed = dict(user)
        probs = np.linspace(0, 1, _N_HIST + 1)[1:-1]
        if todo or need_tt or need_classes:
            probe_aggs = []
            # ONE shared literal Column for the probability grid and
            # accuracy: F.lit over a 255-element array costs ~500 py4j
            # round-trips; rebuilding it inside the per-variable loop
            # multiplied that into ~7k driver calls (~2 s of socket
            # latency on a 16-variable fit). Columns are immutable —
            # one literal serves every percentile_approx.
            probs_lit = double_array_lit(probs)
            # sketch accuracy 1000 (rank error ~0.1%, vs the 0.4%
            # bucket width the 256-edge grid needs) and a 2% value
            # sample: the percentile sketches dominate the probe on
            # wide fits, and an interleaved A/B at organic sf1 (6M
            # joined rows, r6) read (2000, 20) as the consistently
            # slowest corner — min-of-3 9.5s vs 6.8-7.6s for any
            # cheaper setting, with the edges only seeding bucket
            # boundaries for the high-cardinality snapping path
            acc_lit = F.lit(_PROBE_ACC)
            sample_mod = F.lit(_PROBE_MOD)
            exact_probe = self.probe_mode == "exact"
            for v in todo:
                cv = F.col(f"__clean_{v}")
                if method == "uniform":
                    probe_aggs.append(F.min(cv).alias(f"mn_{v}"))
                    probe_aggs.append(F.max(cv).alias(f"mx_{v}"))
                    continue
                if exact_probe:
                    # exact mode: deterministic, replayable probe —
                    # exact distinct count (the small/big gate becomes
                    # a pure function of the data) and exact full-data
                    # percentile edges (Spark percentile == linear
                    # interpolation == DuckDB quantile_cont)
                    probe_aggs.append(
                        F.count_distinct(cv).alias(f"nd_{v}"))
                    probe_aggs.append(
                        F.percentile(cv, probs_lit).alias(f"q_{v}"))
                    continue
                # NB: the distinct count must run over ALL rows — the
                # sample gate below is a VALUE-hash sample (whole values in
                # or out), so a sampled count would read ~nd/20 for any
                # mid-cardinality column and misclassify it as exact-
                # path "small", changing the produced splits.
                probe_aggs.append(
                    F.approx_count_distinct(
                        f"__clean_{v}", rsd=0.05).alias(f"nd_{v}")
                )
                # quantile-grid edges from an INLINE ~2% sample (same
                # single action): the edges only seed bucket
                # boundaries for the high-cardinality snapping path —
                # full-scan sketch insertion per variable is the probe
                # bottleneck at any scale; at 100 TB you'd sample for
                # edge-finding anyway. The sample gate is a VALUE hash
                # (rand() is rejected inside aggregates): for the
                # high-cardinality columns that actually use these
                # edges, values are near-unique so this is row
                # sampling, and it is fully deterministic.
                probe_aggs.append(
                    F.percentile_approx(
                        F.when(F.pmod(F.hash(cv), sample_mod) == 0, cv),
                        probs_lit, acc_lit,
                    ).alias(f"q_{v}")
                )
            if need_tt and y_float:
                # float target: binary iff values ⊆ {0, 1}; a single
                # flag aggregate suffices (no distinct-value state)
                probe_aggs.append(F.max(
                    F.when(~F.col(y).isin(0.0, 1.0), 1).otherwise(0)
                ).alias("__y_non01"))
            elif need_tt or need_classes:
                # integral target: class list needed anyway (≤~100
                # classes by contract, like the reference)
                probe_aggs.append(F.sort_array(
                    F.collect_set(F.col(y))).alias("__y_classes"))
            probe = work.agg(*probe_aggs).first()
            if need_tt:
                if y_float:
                    self._target_type = (
                        "continuous" if probe["__y_non01"] else "binary")
                else:
                    ycls = [v for v in probe["__y_classes"] if v is not None]
                    if set(ycls) <= {0, 1}:
                        self._target_type = "binary"
                    else:
                        self._target_type = "multiclass"
                        self._classes = ycls
            elif need_classes:
                self._classes = [
                    v for v in probe["__y_classes"] if v is not None]

        big, edges_by_var, raw_edges_by_var = [], {}, {}
        for v in todo:
            if method == "uniform":
                fixed[v] = uniform_splits(
                    probe[f"mn_{v}"], probe[f"mx_{v}"], self.max_n_prebins)
                continue
            raw = [float(e) for e in (probe[f"q_{v}"] or [])]
            edges = sorted(set(raw))
            if probe[f"nd_{v}"] > _PER_VAR_CAP * 1.1 and edges:
                big.append(v)
                edges_by_var[v] = edges
                raw_edges_by_var[v] = raw
        # fixed-split variables ride the bucket path with the final
        # splits AS the bucket edges: per-bucket stats ARE the per-bin
        # stats (left-closed Bucketizer == digitize right=False)
        for v, us in fixed.items():
            if us.size:
                big.append(v)
                edges_by_var[v] = [float(e) for e in us]

        stacked = (work, numeric, categorical, big, edges_by_var, y, w,
                   self._target_type, self._classes)
        rows = self._stacked_rows(*stacked)
        if rows is None:
            # numerics are bounded by the probe's routing, so only a
            # categorical past the LIMIT's 100k-categories allowance
            # lands here: re-run the same aggregation unbounded
            rows = self._stacked_rows(*stacked, bounded=False)
        return self._reduce_stacked(
            rows, numeric, categorical, fixed, edges_by_var,
            raw_edges_by_var)

    # ------------------------------------------------------------------
    def _optimistic_narrow_fit(self, work, numeric, categorical, user,
                               y, w, need_tt, need_classes, y_float):
        """Single-action narrow fit (see the call site comment).
        Returns (splits_by_var, stats_by_var) or None when the LIMIT
        guard trips — the caller then runs the probe-routed shape.
        Target-type / class-list inference folds INTO the same action:
        float targets aggregate the continuous-metric superset plus a
        non-{0,1} flag (binary metrics then derive exactly on the
        driver: y in {0,1} makes sum(w*y) identical to sum(w | y=1));
        integral targets add the raw target to the group key
        (per-class weighted counts merge exactly on the driver)."""
        big, edges_by_var = [], {}
        # user-split variables ride the bucket path with the final
        # splits AS the bucket edges — they never need the probe
        for v, us in user.items():
            if us.size:
                big.append(v)
                edges_by_var[v] = [float(e) for e in us]
        tt = self._target_type
        mode = "std"
        if need_tt:
            mode = "float_infer" if y_float else "ygroup"
        elif need_classes:
            mode = "ygroup"

        big_ids = {i for i, v in enumerate(numeric) if v in edges_by_var}

        def _too_wide(rows):
            # per-variable routing gate, mirroring the probe's
            # nd <= 1.1 * _PER_VAR_CAP rule (true cardinality here
            # instead of the rsd=0.05 HLL estimate — they differ only
            # when HLL misses by >10%): any non-bucketized numeric
            # variable past the cap re-routes the WHOLE fit through
            # the probe path, where it takes the bucketized shape.
            # The collect's own LIMIT (sized for the full variable
            # set) stays the driver-memory backstop.
            seen: dict[int, set] = {}
            for r in rows:
                vid = r["variable"]
                if (vid < len(numeric) and vid not in big_ids
                        and r["sample_class"] == 0
                        and r["gv"] is not None):
                    seen.setdefault(vid, set()).add(r["gv"])
            lim = _PER_VAR_CAP * 1.1
            return any(len(s) > lim for s in seen.values())

        stacked = (work, numeric, categorical, big, edges_by_var, y, w)
        if mode == "std":
            rows = self._stacked_rows(*stacked, tt, None)
            if rows is None or _too_wide(rows):
                return None
        elif mode == "float_infer":
            agg_cols = _agg_exprs("__y", "__w", "continuous") + [
                F.max(F.when(~F.col("__y").isin(0.0, 1.0), 1)
                      .otherwise(0)).alias("__non01")]
            rows = self._stacked_rows(
                *stacked, "continuous", None, agg_cols=agg_cols)
            if rows is None or _too_wide(rows):
                return None
            if any(r["__non01"] for r in rows):
                tt = "continuous"
            else:
                tt = "binary"
                rows = [_DictRow({
                    "variable": r["variable"],
                    "sample_class": r["sample_class"],
                    "gv": r["gv"], "key": r["key"], "vmax": r["vmax"],
                    "n_event": r["sum_y"] or 0.0,
                    "n_nonevent": (r["n_records"] or 0.0)
                    - (r["sum_y"] or 0.0),
                }) for r in rows]
            self._target_type = tt
        else:  # ygroup: integral target (or explicit multiclass)
            agg_cols = [
                F.coalesce(F.sum(F.col("__w")), F.lit(0.0)).alias("__cw")]
            rows = self._stacked_rows(
                *stacked, None, None,
                agg_cols=agg_cols, group_y=True, cap_mult=8)
            if rows is None or _too_wide(rows):
                return None
            ycls = [v for v in sorted({r["__y"] for r in rows})
                    if v is not None]
            if self._target_type == "multiclass" or not set(ycls) <= {0, 1}:
                tt = "multiclass"
                classes = ycls
                self._classes = classes
            else:
                tt = "binary"
                classes = None
            self._target_type = tt
            # exact driver-side merge of the per-(group, target-class)
            # weighted counts into the standard metric rows (every
            # metric here is a sum, so the two-stage sum is exact)
            merged: dict = {}
            for r in rows:
                k = (r["variable"], r["sample_class"], r["gv"], r["key"])
                slot = merged.setdefault(k, {"vmax": None, "cw": {}})
                if r["vmax"] is not None and (
                        slot["vmax"] is None or r["vmax"] > slot["vmax"]):
                    slot["vmax"] = r["vmax"]
                slot["cw"][r["__y"]] = (
                    slot["cw"].get(r["__y"], 0.0) + (r["__cw"] or 0.0))
            out_rows = []
            for (vv, sc, gv, key), slot in merged.items():
                d = {"variable": vv, "sample_class": sc, "gv": gv,
                     "key": key, "vmax": slot["vmax"]}
                if tt == "binary":
                    d["n_event"] = slot["cw"].get(1, 0.0)
                    d["n_nonevent"] = slot["cw"].get(0, 0.0)
                else:
                    for i, c in enumerate(classes):
                        d[f"n_event_{i}"] = slot["cw"].get(c, 0.0)
                out_rows.append(_DictRow(d))
            rows = out_rows
        return self._reduce_stacked(
            rows, numeric, categorical, user, edges_by_var, {})

    # ------------------------------------------------------------------
    def _stacked_rows(self, work, numeric, categorical, big,
                      edges_by_var, y, w, tt, classes, *, agg_cols=None,
                      group_y=False, cap_mult=1, bounded=True):
        """Build and collect the combined stacked aggregation (the fit's
        stats action). Returns the collected rows, or None when the
        LIMIT guard trips (never when ``bounded`` is False).
        ``agg_cols`` overrides the per-group aggregate expressions and
        ``group_y`` adds the raw target to the group key — the
        optimistic narrow path uses both to fold target-type inference
        into this single action."""
        from pyspark.ml.feature import Bucketizer

        if big:
            buck = Bucketizer(
                splitsArray=[
                    [-float("inf")] + edges_by_var[v] + [float("inf")]
                    for v in big
                ],
                inputCols=[f"__clean_{v}" for v in big],
                outputCols=[f"__bkt_{v}" for v in big],
                handleInvalid="keep",
            )
            work = buck.transform(work)

        # hot-path key encoding: variable and sample_class are INTs in
        # the exploded structs (per-row string allocation across
        # n_vars x n_rows exploded records measurably dominates the
        # aggregation hash cost); they decode back to names once on
        # the tiny collected result in _reduce_stacked
        var_id = {v: i for i, v in enumerate(list(numeric) + list(categorical))}
        structs = []
        for v in numeric:
            cv = F.col(f"__clean_{v}")
            codes = self._codes_for(v)
            if normalize_special_codes(codes):
                scode = sample_class_code_expr(
                    F.col(v).cast("double"), "numerical", codes)
            else:
                # no special codes: clean NULL <=> raw missing, so the
                # sample class derives from the clean column alone and
                # fit() can drop the raw column from the shuffled /
                # cached working set (roughly halves its width on the
                # common all-clean wide fit)
                scode = F.when(cv.isNull(), F.lit(1)).otherwise(F.lit(0))
            gv = (
                F.when(cv.isNotNull(), F.col(f"__bkt_{v}").cast("double"))
                if v in edges_by_var
                else cv
            )
            structs.append(F.struct(
                F.lit(var_id[v]).alias("variable"),
                scode.alias("sample_class"),
                gv.alias("gv"),
                F.lit(None).cast("string").alias("key"),
                cv.alias("cval"),
            ))
        for v in categorical:
            c = F.col(v)
            scode = sample_class_code_expr(c, "categorical", self._codes_for(v))
            structs.append(F.struct(
                F.lit(var_id[v]).alias("variable"),
                scode.alias("sample_class"),
                F.lit(None).cast("double").alias("gv"),
                F.when(scode == 0, c.cast("string")).alias("key"),
                F.lit(None).cast("double").alias("cval"),
            ))
        wcol = F.col(w) if w else F.lit(1.0)
        exploded = work.select(
            F.explode(F.array(*structs)).alias("s"),
            F.col(y).alias("__y"), wcol.alias("__w"),
        ).select("s.variable", "s.sample_class", "s.gv", "s.key",
                 "s.cval", "__y", "__w")
        keys = ["variable", "sample_class", "gv", "key"] + (
            ["__y"] if group_y else [])
        grouped = exploded.groupBy(*keys).agg(
            F.max("cval").alias("vmax"),
            *(agg_cols if agg_cols is not None
              else _agg_exprs("__y", "__w", tt, classes)))
        if not bounded:
            rows = grouped.collect()
        else:
            # bounded collect: exact values are LIMIT-backstopped;
            # buckets and special/missing groups are bounded by
            # construction; the allowance covers 100k categories per
            # categorical
            small_n = len(numeric) - len(big)
            cap = (
                _PER_VAR_CAP * 2 * max(small_n, 1)
                + (_N_HIST + 2) * max(len(big), 1)
                + 100_000 * max(len(categorical), 1)
                + 4 * len(self.variable_names)
            ) * cap_mult
            rows = grouped.limit(cap + 1).collect()
            if len(rows) > cap:
                return None
        if agg_cols is None:
            check_binary_labels(rows, tt)
        return rows

    # ------------------------------------------------------------------
    def _reduce_stacked(self, rows, numeric, categorical, fixed,
                        edges_by_var, raw_edges_by_var):
        """Driver-side reduction of the collected stacked rows into
        (splits_by_var, stats_by_var) — split proposal AND per-prebin
        statistics from the one collect. ``fixed`` maps the variables
        whose splits were known before the aggregation to them."""
        tt = self._target_type
        metrics = _metric_names(tt, self._classes)

        # decode int keys back to the name/string view the per-variable
        # reducers consume (one pass over the tiny collected result)
        var_list = list(numeric) + list(categorical)
        code_names = {
            v: sample_class_code_names(self._codes_for(v))
            for v in self.variable_names
        }
        by_var: dict[str, list] = {v: [] for v in self.variable_names}
        for r in rows:
            d = (r.asDict() if hasattr(r, "asDict")
                 else dict(r._d) if isinstance(r, _DictRow) else dict(r))
            vname = var_list[d["variable"]]
            d["variable"] = vname
            d["sample_class"] = code_names[vname][d["sample_class"]]
            by_var[vname].append(_DictRow(d))

        splits_by_var: dict[str, np.ndarray] = {}
        stats_by_var = {}
        for v in numeric:
            clean_rows, per_value, missing, specials = split_value_rows(
                by_var[v], metrics, "gv")
            if v in edges_by_var:
                values = np.array(
                    [r["vmax"] for r in clean_rows], dtype=float)
                E = [-float("inf")] + edges_by_var[v] + [float("inf")]
                lower_edges = np.array(
                    [E[int(r["gv"])] for r in clean_rows], dtype=float)
            else:
                values = np.array([r["gv"] for r in clean_rows], dtype=float)
                lower_edges = None
            if v in fixed:
                splits = fixed[v]
            else:
                splits = propose_splits(
                    values, per_value, self.prebinning_method,
                    target_type=tt,
                    max_n_prebins=self.max_n_prebins,
                    min_prebin_size=self.min_prebin_size,
                    prebinning_kwargs=self._prebin_kwargs(v, {}),
                    grid=raw_edges_by_var.get(v), lower_edges=lower_edges)
            splits_by_var[v] = splits
            stats_by_var[v] = bin_stats_from_values(
                values, per_value, missing, specials, splits, tt
            )
        for v in categorical:
            cats, missing, specials = {}, {m: 0.0 for m in metrics}, {}
            for r in by_var[v]:
                if r["sample_class"] == CLEAN:
                    if r["key"] is not None:
                        cats[r["key"]] = row_metrics(r, metrics)
                elif r["sample_class"] == MISSING:
                    missing = row_metrics(r, metrics)
                else:
                    specials[r["sample_class"].split(":", 1)[1]] = (
                        row_metrics(r, metrics))
            stats_by_var[v] = (cats, missing, specials)
        return splits_by_var, stats_by_var

    # ------------------------------------------------------------------
    def _variable_metrics(self, v):
        b = self._binners[v]
        t = b.binning_table
        if self._target_type == "binary":
            a = t.analysis(bayes=False)
            return {
                "iv": a["iv"], "js": a["js"], "gini": a["gini"], "ks": a["ks"],
                "quality_score": a["quality_score"], "n_bins": a["n_bins"],
            }
        if self._target_type == "continuous":
            return {
                "iv": t.iv,
                "n_bins": int(sum(1 for k in t.kinds if k == "clean")),
            }
        return {
            "js": t.js,
            "n_bins": int(sum(1 for k in t.kinds if k == "clean")),
        }

    def _apply_selection(self):
        metrics = {v: self._variable_metrics(v) for v in self.variable_names}
        self._metrics = metrics
        support = {v: True for v in self.variable_names}
        crit = self.selection_criteria or {}
        for metric, rules in crit.items():
            vals = {
                v: metrics[v].get(metric)
                for v in self.variable_names
                if metrics[v].get(metric) is not None
            }
            if "min" in rules:
                for v, x in vals.items():
                    if x < rules["min"]:
                        support[v] = False
            if "max" in rules:
                for v, x in vals.items():
                    if x > rules["max"]:
                        support[v] = False
            if "top" in rules:
                top = rules["top"]
                strategy = rules.get("strategy", "highest")
                eligible = [v for v in vals if support[v]]
                if isinstance(top, float) and 0 < top < 1:
                    top = max(1, int(round(top * len(eligible))))
                ordered = sorted(
                    eligible, key=lambda v: vals[v], reverse=(strategy == "highest")
                )
                for v in ordered[top:]:
                    support[v] = False
        for v in self.fixed_variables:
            support[v] = True
        self._support = support

    # ------------------------------------------------------------------
    @property
    def support_(self):
        self._check_fitted()
        return [v for v in self.variable_names if self._support[v]]

    def get_binned_variable(self, name):
        self._check_fitted()
        return self._binners[name]

    def summary(self):
        """Per-variable summary table (reference
        binning_process.py:437-474)."""
        import pandas as pd

        rows = []
        for v in self.variable_names:
            r = {"name": v, "dtype": self._dtypes[v],
                 "selected": self._support[v]}
            r.update(self._metrics[v])
            rows.append(r)
        return pd.DataFrame(rows)

    def information(self, print_level: int = 1) -> str:
        """Process-level fit report (reference binning_process.py
        information()). Returns the report string and prints it."""
        self._check_fitted()
        n_sel = sum(1 for v in self.variable_names if self._support[v])
        lines = [
            "BinningProcess",
            f"  target type          : {self._target_type}",
            f"  n variables          : {len(self.variable_names)}",
            f"  n selected           : {n_sel}",
            f"  prebinning method    : {self.prebinning_method}",
        ]
        if print_level > 1:
            for v in self.variable_names:
                m = self._metrics[v]
                metric_txt = ", ".join(
                    f"{k}={m[k]:.6f}" for k in sorted(m)
                    if isinstance(m[k], float)
                )
                sel = "*" if self._support[v] else " "
                lines.append(f"  {sel} {v:<20} {metric_txt}")
        report = "\n".join(lines)
        print(report)
        return report

    def transform(self, df: DataFrame, metric: str | None = None,
                  metric_special=0, metric_missing=0,
                  keep_cols: list[str] | None = None) -> DataFrame:
        """One map-only projection for all selected variables."""
        self._check_fitted()
        default_metric = metric or (
            "woe" if self._target_type == "binary" else
            "mean" if self._target_type == "continuous" else "mean_woe"
        )
        cols = [F.col(c) for c in (keep_cols or [])]
        for v in self.support_:
            p = self.binning_transform_params.get(v, {})
            m = p.get("metric", default_metric)
            b = self._binners[v]
            expr = b.transform_column_expr(
                v, metric=m,
                metric_special=p.get("metric_special", metric_special),
                metric_missing=p.get("metric_missing", metric_missing),
            )
            cols.append(expr.alias(v))
        return df.select(*cols)

    def fit_transform(self, df, y, sample_weight=None, metric=None, **kw):
        return self.fit(df, y, sample_weight).transform(df, metric=metric, **kw)

    # -- file variants (reference fit_disk / transform_disk) ------------
    def fit_from_file(self, spark, path: str, y: str, fmt: str = "parquet", **kw):
        """S3: the reference reads one column at a time; Spark's
        columnar scan prunes to exactly the needed columns in one
        pass."""
        reader = spark.read.format(fmt)
        if fmt == "csv":
            reader = reader.option("header", True).option("inferSchema", True)
        df = reader.load(path).select(*self.variable_names, y)
        return self.fit(df, y, **kw)

    def transform_file(self, spark, in_path: str, out_path: str,
                       fmt: str = "parquet", **kw):
        """S4: pipelined map-only transform, no chunk loop needed."""
        reader = spark.read.format(fmt)
        if fmt == "csv":
            reader = reader.option("header", True).option("inferSchema", True)
        df = reader.load(in_path)
        self.transform(df, **kw).write.mode("overwrite").parquet(out_path)

    # -- reference-API surface (binning_process.py:637-1050) -------------
    def fit_disk(self, spark, input_path: str, y: str, fmt: str = "parquet",
                 **kw):
        """Reference ``fit_disk`` — same contract as fit_from_file."""
        return self.fit_from_file(spark, input_path, y, fmt=fmt, **kw)

    def transform_disk(self, spark, input_path: str, output_path: str,
                       fmt: str = "parquet", chunksize=None, **kw):
        """Reference ``transform_disk``. ``chunksize`` is accepted for
        API parity and ignored: Spark's pipelined columnar scan IS the
        chunk loop (binning_process.py:837-891)."""
        return self.transform_file(spark, input_path, output_path,
                                   fmt=fmt, **kw)

    def fit_transform_disk(self, spark, input_path: str, output_path: str,
                           y: str, fmt: str = "parquet", chunksize=None,
                           sample_weight=None, **kw):
        self.fit_from_file(spark, input_path, y, fmt=fmt,
                           sample_weight=sample_weight)
        self.transform_file(spark, input_path, output_path, fmt=fmt, **kw)
        return self

    def fit_from_dict(self, dict_optb: dict):
        """Fit from already-fitted OptimalBinning objects (reference
        binning_process.py:660-680). All objects must share one target
        type; selection metrics are recomputed from their tables."""
        from .multiclass_binning import MulticlassOptimalBinning

        if set(dict_optb) != set(self.variable_names):
            raise ValueError(
                "dict_optb keys must match variable_names exactly"
            )
        kinds = {type(b).__name__ for b in dict_optb.values()}
        types = {
            "OptimalBinning": "binary",
            "OptimalPWBinning": "binary",
            "ContinuousOptimalBinning": "continuous",
            "ContinuousOptimalPWBinning": "continuous",
            "MulticlassOptimalBinning": "multiclass",
        }
        tt = {types[k] for k in kinds if k in types}
        if len(tt) != 1:
            raise TypeError(
                f"all objects must share one target type; got {kinds}"
            )
        self._target_type = tt.pop()
        self._binners = dict(dict_optb)
        self._dtypes = {
            v: getattr(b, "_dtype", None) or "numerical"
            for v, b in dict_optb.items()
        }
        self._fitted = True
        self._apply_selection()
        return self

    def update_binned_variable(self, name: str, optb):
        """Replace the fitted binning object for one variable
        (reference binning_process.py:963-1016); selection metrics for
        the variable are refreshed."""
        self._check_fitted()
        if name not in self.variable_names:
            raise ValueError(f"{name} does not match a binned variable")
        expected = {
            "binary": ("OptimalBinning", "OptimalPWBinning"),
            "continuous": (
                "ContinuousOptimalBinning", "ContinuousOptimalPWBinning"
            ),
            "multiclass": ("MulticlassOptimalBinning",),
        }[self._target_type]
        if type(optb).__name__ not in expected:
            raise TypeError(
                f"target is {self._target_type}; object must be one of "
                f"{expected}, got {type(optb).__name__}"
            )
        self._binners[name] = optb
        self._metrics[name] = self._variable_metrics(name)

    def get_support(self, indices: bool = False, names: bool = False):
        """Mask / integer index / name view of the selected variables
        (reference binning_process.py:1018-1048)."""
        self._check_fitted()
        if indices and names:
            raise ValueError("indices and names are mutually exclusive")
        mask = np.array(
            [self._support[v] for v in self.variable_names], dtype=bool
        )
        if indices:
            return np.flatnonzero(mask)
        if names:
            return [v for v, m in zip(self.variable_names, mask) if m]
        return mask

    # -- persistence -----------------------------------------------------
    def to_dict(self):
        self._check_fitted()
        return {
            "class": "BinningProcess",
            "target_type": self._target_type,
            "variable_names": self.variable_names,
            "dtypes": self._dtypes,
            "support": self._support,
            "metrics": self._metrics,
            "binners": {v: b.to_dict() for v, b in self._binners.items()},
        }

    def to_json(self, path):
        with open(path, "w") as f:
            json.dump(self.to_dict(), f)

    @classmethod
    def read_json(cls, path):
        with open(path) as f:
            d = json.load(f)
        return cls.read_json_dict(d)

    @classmethod
    def read_json_dict(cls, d):
        obj = cls(d["variable_names"])
        obj._target_type = d["target_type"]
        obj._dtypes = d["dtypes"]
        obj._support = d["support"]
        obj._metrics = d["metrics"]
        klass = {
            "binary": OptimalBinning,
            "continuous": ContinuousOptimalBinning,
            "multiclass": MulticlassOptimalBinning,
        }[d["target_type"]]
        obj._binners = {v: klass.from_dict(s) for v, s in d["binners"].items()}
        obj._fitted = True
        return obj

    def _check_fitted(self):
        if not self._fitted:
            raise RuntimeError("BinningProcess is not fitted")
