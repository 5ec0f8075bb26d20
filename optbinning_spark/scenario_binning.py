"""Stochastic / scenario-based optimal binning (O9).

Reference: optbinning/binning/uncertainty/binning_scenarios.py
(SBOptimalBinning) + cp.py:175-263 (build_model_scenarios). The
extensive form of stochastic binning: several scenarios (distinct
populations of the same variable), one SHARED split set maximizing the
scenario-weighted sum of IVs, with monotonicity / bin-size /
min-rate-diff / max-pvalue constraints enforced per scenario.

Spark design: scenarios live in ONE DataFrame tagged by a scenario
column (the reference takes a list of arrays — a union with a literal
scenario tag reproduces that). Pre-binning pools all scenarios
(binning_scenarios.py:627-647 concatenates them); the per-scenario
per-prebin counts come from a single
``groupBy(scenario, sample_class, bin)`` aggregation — one shuffle of
<= (n_scenarios x n_prebins) groups; the shared-solution DP runs on
the driver (core/solver.py:solve_scenarios).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .core.solver import solve_scenarios
from .operators.aggregation import _agg_exprs
from .operators.binning_table import (
    BinningTableBinary,
    merge_segments as _merge_segments,
    splits_from_segments,
)
from .operators.prebinning import compute_prebins
from .operators.preprocessing import (
    CLEAN,
    MISSING,
    numeric_bin_expr,
    sample_class_expr,
)
from .operators.transform import transform_expr


class SBOptimalBinning:
    """Scenario-based optimal binning for a binary target."""

    def __init__(
        self,
        name: str = "",
        prebinning_method: str = "cart",
        max_n_prebins: int = 20,
        min_prebin_size: float = 0.05,
        min_n_bins: int | None = None,
        max_n_bins: int | None = None,
        min_bin_size: float | None = None,
        max_bin_size: float | None = None,
        monotonic_trend: str | None = None,
        min_event_rate_diff: float = 0.0,
        max_pvalue: float | None = None,
        special_codes=None,
        user_splits=None,
        split_digits: int | None = None,
        show_digits: int = 2,
    ):
        self.name = name
        self.prebinning_method = prebinning_method
        self.max_n_prebins = max_n_prebins
        self.min_prebin_size = min_prebin_size
        self.min_n_bins = min_n_bins
        self.max_n_bins = max_n_bins
        self.min_bin_size = min_bin_size
        self.max_bin_size = max_bin_size
        self.monotonic_trend = monotonic_trend
        self.min_event_rate_diff = min_event_rate_diff
        self.max_pvalue = max_pvalue
        self.special_codes = special_codes
        self.user_splits = user_splits
        self.split_digits = split_digits
        self.show_digits = show_digits
        self._fitted = False

    # ------------------------------------------------------------------
    def fit(
        self,
        df: DataFrame,
        x: str,
        y: str,
        scenario_col: str,
        scenario_weights: dict | None = None,
    ):
        self.name = self.name or x
        df = df.filter(F.col(y).isNotNull())
        c = F.col(x).cast("double")

        # 1. pooled pre-binning (reference concatenates scenarios)
        if self.user_splits is not None:
            prebin_splits = np.unique(np.asarray(self.user_splits, dtype=float))
        else:
            from .operators.preprocessing import clean_value_expr

            clean = df.withColumn(
                "__clean_x", clean_value_expr(c, "numerical", self.special_codes)
            )
            prebin_splits = compute_prebins(
                clean, "__clean_x", y, None,
                method=self.prebinning_method,
                max_n_prebins=self.max_n_prebins,
                min_prebin_size=self.min_prebin_size,
                task="classification",
                classes=[0, 1],
            )
        if self.split_digits is not None:
            prebin_splits = np.unique(np.round(prebin_splits, self.split_digits))

        # 2. ONE aggregation: (scenario, sample_class, bin) counts
        sclass = sample_class_expr(c, "numerical", self.special_codes)
        bin_e = F.when(sclass == CLEAN, numeric_bin_expr(c, prebin_splits))
        rows = (
            df.groupBy(
                F.col(scenario_col).alias("__scenario"),
                sclass.alias("sample_class"),
                bin_e.alias("bin"),
            )
            .agg(*_agg_exprs(y, None, "binary"))
            .collect()
        )

        scenarios = sorted({r["__scenario"] for r in rows})
        self.scenarios_ = scenarios
        s_idx = {s: k for k, s in enumerate(scenarios)}
        n_bins = len(prebin_splits) + 1 if len(prebin_splits) else 1
        n_s = len(scenarios)
        NE = np.zeros((n_bins, n_s))
        EV = np.zeros((n_bins, n_s))
        miss = np.zeros((2, n_s))  # [ne/ev, scenario]
        spec = np.zeros((2, n_s))
        for r in rows:
            k = s_idx[r["__scenario"]]
            ne = float(r["n_nonevent"] or 0.0)
            ev = float(r["n_event"] or 0.0)
            if r["sample_class"] == CLEAN and r["bin"] is not None:
                b = int(r["bin"])
                if 0 <= b < n_bins:
                    NE[b, k] += ne
                    EV[b, k] += ev
            elif r["sample_class"] == MISSING:
                miss[:, k] += (ne, ev)
            else:
                spec[:, k] += (ne, ev)

        # reference scenario refinement (binning_scenarios.py:674-731):
        # drop the split of a prebin that is pure in ANY scenario (same
        # last-two-bins OR convention); counts merge additively
        while len(prebin_splits):
            mask_remove = ((NE == 0) | (EV == 0)).any(axis=1)
            if not mask_remove.any():
                break
            mask_splits = np.concatenate(
                [mask_remove[:-2], [mask_remove[-2] | mask_remove[-1]]]
            )
            keep = ~mask_splits
            prebin_splits = prebin_splits[keep]
            new_idx = np.concatenate([[0], np.cumsum(keep.astype(int))])
            n_new = len(prebin_splits) + 1
            NE = np.stack(
                [np.bincount(new_idx, weights=NE[:, k2], minlength=n_new)
                 for k2 in range(n_s)], axis=1)
            EV = np.stack(
                [np.bincount(new_idx, weights=EV[:, k2], minlength=n_new)
                 for k2 in range(n_s)], axis=1)

        w = None
        if scenario_weights is not None:
            w = np.array([float(scenario_weights[s]) for s in scenarios])

        # 3. driver solve — shared partition
        sol = solve_scenarios(
            NE, EV,
            weights=w,
            monotonic_trend=self.monotonic_trend,
            min_n_bins=self.min_n_bins,
            max_n_bins=self.max_n_bins,
            min_bin_size=self.min_bin_size,
            max_bin_size=self.max_bin_size,
            min_event_rate_diff=self.min_event_rate_diff,
            max_pvalue=self.max_pvalue,
        )
        self.solution_ = sol
        self._splits = splits_from_segments(prebin_splits, sol.segments)

        # 4. per-scenario + combined binning tables
        def _mk_table(ne_v, ev_v, miss_v, spec_v):
            return BinningTableBinary(
                splits=self._splits,
                n_nonevent=_merge_segments(ne_v, sol.segments),
                n_event=_merge_segments(ev_v, sol.segments),
                special_stats=(
                    {"Special": {"n_nonevent": spec_v[0], "n_event": spec_v[1]}}
                    if spec_v[0] or spec_v[1] else {}
                ),
                missing_stats={"n_nonevent": miss_v[0], "n_event": miss_v[1]},
                dtype="numerical",
                show_digits=self.show_digits,
            )

        self.binning_tables_ = [
            _mk_table(NE[:, k], EV[:, k], miss[:, k], spec[:, k])
            for k in range(n_s)
        ]
        self._table = _mk_table(NE.sum(axis=1), EV.sum(axis=1),
                                miss.sum(axis=1), spec.sum(axis=1))
        self._fitted = True
        return self

    # ------------------------------------------------------------------
    @property
    def splits(self) -> np.ndarray:
        self._check_fitted()
        return self._splits

    @property
    def status(self) -> str:
        """Solver status (reference binning.py:1178-1187)."""
        self._check_fitted()
        return "OPTIMAL"

    def binning_table_scenario(self, scenario_id: int):
        """Binning table of a single scenario (reference
        binning_scenarios.py binning_table_scenario)."""
        self._check_fitted()
        if not (0 <= int(scenario_id) < len(self.binning_tables_)):
            raise ValueError(
                f"scenario_id must be in [0, {len(self.binning_tables_)}); "
                f"got {scenario_id}")
        return self.binning_tables_[int(scenario_id)]

    def fit_transform(self, df, x, y, scenario_col,
                      scenario_weights: dict | None = None,
                      metric: str = "woe", out_col: str | None = None):
        """fit + transform of the same scenario-tagged frame (reference
        binning_scenarios.py fit_transform)."""
        self.fit(df, x, y, scenario_col, scenario_weights)
        kw = {}
        if out_col is not None:
            kw["out_col"] = out_col
        return self.transform(df, x, metric=metric, **kw)

    @property
    def binning_table(self):
        self._check_fitted()
        return self._table

    def transform(self, df: DataFrame, x: str, metric: str = "woe",
                  metric_special=0, metric_missing=0,
                  out_col: str | None = None) -> DataFrame:
        """WoE/event-rate transform with the combined table (the
        reference transforms with the shared solution)."""
        self._check_fitted()
        expr = transform_expr(
            x,
            dtype="numerical",
            splits=self._splits,
            table=self._table,
            metric=metric,
            metric_special=metric_special,
            metric_missing=metric_missing,
            special_codes=self.special_codes,
            show_digits=self.show_digits,
        )
        return df.withColumn(out_col or f"{x}_{metric}", expr)

    def _check_fitted(self):
        if not self._fitted:
            raise ValueError("SBOptimalBinning is not fitted")
