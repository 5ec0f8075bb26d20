"""MulticlassOptimalBinning — numerical feature, multiclass target.

Reference: optbinning/binning/multiclass_binning.py (numerical only;
categorical x multiclass is rejected, binning_process.py:109-111).
Objective is the summed one-vs-rest Jensen-Shannon divergence
(multiclass_cp.py); per-class monotonic trends are resolved
independently (multiclass_binning.py:671-789).

Spark plan shape: the binary fit's (``_BaseOptimalBinning._fit_numerical``)
with a per-class count column (A4) in every aggregation, after one
distinct-class collect; driver DP solve.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from .binning import AUTO_TRENDS, _BaseOptimalBinning
from .core.auto_monotonic import decide_trend
from .core.solver import NODE_BUDGET, check_trend, solve_multiclass
from .operators.binning_table import (
    format_bin_label,
    merge_segments,
    splits_from_segments,
)

_EPS = 1e-15


class MulticlassBinningTable:
    def __init__(self, *, splits, n_event_by_class, classes, special_stats,
                 missing_stats, show_digits=2):
        self.splits = np.asarray(splits, dtype=float)
        self.classes = list(classes)
        M = np.asarray(n_event_by_class, dtype=float)  # [bin, class]
        labels, kinds = [], []
        bounds = np.concatenate([[-np.inf], self.splits, [np.inf]])
        for i in range(M.shape[0]):
            labels.append(format_bin_label(bounds[i], bounds[i + 1], show_digits))
            kinds.append("clean")
        extra = []
        for g, st in special_stats.items():
            labels.append(f"Special: {g}" if g != "special" else "Special")
            kinds.append("special")
            extra.append([st.get(f"n_event_{i}", 0.0) for i in range(len(classes))])
        labels.append("Missing")
        kinds.append("missing")
        extra.append(
            [missing_stats.get(f"n_event_{i}", 0.0) for i in range(len(classes))]
        )
        self.M = np.vstack([M] + [np.array(extra)]) if extra else M
        self.labels, self.kinds = labels, kinds
        self.count = self.M.sum(axis=1)
        total = self.count.sum()
        self.count_pct = self.count / max(total, _EPS)
        totals_c = self.M.sum(axis=0)
        # one-vs-rest WoE per class (binary formula per class)
        ne = self.count[:, None] - self.M
        t_ev = totals_c
        t_ne = total - totals_c
        with np.errstate(divide="ignore", invalid="ignore"):
            p = self.M / np.maximum(t_ev, _EPS)
            q = ne / np.maximum(t_ne, _EPS)
            self.woe_by_class = np.where(
                (p > 0) & (q > 0), np.log(np.maximum(q, _EPS) / np.maximum(p, _EPS)), 0.0
            )
        self.mean_woe = self.woe_by_class.mean(axis=1)
        w = totals_c / max(totals_c.sum(), _EPS)
        self.weighted_mean_woe = (self.woe_by_class * w[None, :]).sum(axis=1)
        from .core.metrics import jensen_shannon

        js = np.zeros(self.M.shape[0])
        for c in range(len(classes)):
            js = js + jensen_shannon(p[:, c], q[:, c])
        self.js_per_bin = js
        self.js = float(js.sum())

    def build(self, add_totals: bool = True):
        import pandas as pd

        data = {"bin": self.labels, "count": self.count,
                "count_pct": self.count_pct}
        for i, c in enumerate(self.classes):
            data[f"n_event_{c}"] = self.M[:, i]
        for i, c in enumerate(self.classes):
            with np.errstate(divide="ignore", invalid="ignore"):
                data[f"event_rate_{c}"] = np.where(
                    self.count > 0, self.M[:, i] / np.maximum(self.count, _EPS), 0.0
                )
        data["mean_woe"] = self.mean_woe
        data["js"] = self.js_per_bin
        df = pd.DataFrame(data)
        if add_totals:
            row = {"bin": "Totals", "count": self.count.sum(), "count_pct": 1.0,
                   "mean_woe": np.nan, "js": self.js}
            for i, c in enumerate(self.classes):
                row[f"n_event_{c}"] = self.M[:, i].sum()
                row[f"event_rate_{c}"] = self.M[:, i].sum() / max(self.count.sum(), _EPS)
            df = pd.concat([df, pd.DataFrame([row])], ignore_index=True)
        return df

    def analysis(self, print_output: bool = False) -> dict:
        """Multiclass binning-table analysis (reference
        binning_statistics.py:1398-1468): chi2 tests between
        consecutive bins' class counts, JS-normalized quality score,
        per-class monotonic trends."""
        from .core.metrics import (
            cramer_v_multi,
            hhi,
            multiclass_binning_quality_score,
            type_of_monotonic_trend,
        )
        from .core.special_math import chi2_contingency_2xk

        clean = np.array([k == "clean" for k in self.kinds])
        Mc = self.M[clean]
        tstats, pvals = [], []
        for i in range(len(Mc) - 1):
            st, pv = chi2_contingency_2xk(Mc[i:i + 2, :])
            tstats.append(st)
            pvals.append(pv)
        _, cv = cramer_v_multi(Mc) if len(Mc) >= 2 else (0.0, 0.0)
        hhi_n = float(hhi(self.count, normalized=True))
        cnt = self.count[clean]
        with np.errstate(divide="ignore", invalid="ignore"):
            er = Mc / np.maximum(cnt[:, None], _EPS)
        trends = {
            str(c): type_of_monotonic_trend(er[:, i])
            for i, c in enumerate(self.classes)
        }
        result = {
            "js": self.js,
            "hhi": float(hhi(self.count)),
            "hhi_norm": hhi_n,
            "cramer_v": cv,
            "quality_score": multiclass_binning_quality_score(
                self.js, len(self.classes), pvals, hhi_n),
            "monotonic_trends": trends,
            "chi2_pvalues": pvals,
            "n_bins": int(clean.sum()),
        }
        if print_output:
            from .operators.binning_table import _tests_table_string

            mono = "".join(
                "    Class {:>2}            {:>15}\n".format(i, t)
                for i, t in enumerate(trends.values())
            )
            report = (
                "-------------------------------------------------\n"
                "OptimalBinning: Multiclass Binning Table Analysis\n"
                "-------------------------------------------------\n"
                "\n"
                "  General metrics"
                "\n\n"
                "    JS (Jensen-Shannon) {:>15.8f}\n"
                "    HHI                 {:>15.8f}\n"
                "    HHI (normalized)    {:>15.8f}\n"
                "    Cramer's V          {:>15.8f}\n"
                "    Quality score       {:>15.8f}\n"
                "\n"
                "  Monotonic trend\n\n{}\n"
                "  Significance tests\n\n{}\n"
            ).format(
                result["js"], result["hhi"], result["hhi_norm"],
                result["cramer_v"], result["quality_score"], mono,
                _tests_table_string({
                    "Bin A": np.arange(len(pvals)),
                    "Bin B": np.arange(len(pvals)) + 1,
                    "t-statistic": tstats,
                    "p-value": pvals,
                }),
            )
            print(report)
        return result

    def plot(self, add_special: bool = True, add_missing: bool = True,
             show_bin_labels: bool = False, savefig: str | None = None):
        """Count bars + mean-WoE line (reference
        binning_statistics.py:1228-1395)."""
        from .operators.binning_table import _plot_bin_table

        _plot_bin_table(
            self.labels, self.kinds, self.count, None, self.mean_woe,
            "mean_woe", add_special, add_missing, show_bin_labels,
            savefig, stacked=False,
        )

    def to_spark(self, spark):
        return spark.createDataFrame(self.build(add_totals=False))


CATEGORICAL_REFUSAL = (
    "categorical feature with multiclass target is not supported "
    "(reference binning_process.py:109-111)"
)


class MulticlassOptimalBinning(_BaseOptimalBinning):
    _target_type = "multiclass"

    @property
    def classes(self):
        """Target classes seen at fit (reference
        multiclass_binning.py classes property)."""
        self._check_fitted()
        return np.asarray(self._table.classes)

    def __init__(self, *args, monotonic_trends=None,
                 solver_node_budget: int = NODE_BUDGET, **kw):
        """``monotonic_trends``: optional per-class list; each entry is
        one of the reference's eight values (None/'none', 'ascending',
        'descending', 'concave', 'convex', 'peak', 'valley',
        'peak_heuristic', 'valley_heuristic') or an auto mode resolved
        per class (reference multiclass_binning.py:98-106). All are
        enforced exactly; an invalid value raises ValueError here.
        Limit: at most 12 classes may carry peak/valley trends
        simultaneously (the joint solve tracks one phase bit per such
        class — see core/solver.py solve_multiclass).

        ``solver_node_budget``: node cap for the anytime shape search
        that concave/convex per-class trends route through
        (this engine's analog of the reference's CP ``time_limit``,
        deterministic instead of wall-clock). If ``status`` reads
        FEASIBLE (best-under-budget) or UNKNOWN (exhausted, nothing
        proven), raising this is the lever that buys a proof."""
        kw.setdefault("monotonic_trend", "auto")
        super().__init__(*args, **kw)
        for t in monotonic_trends or ():
            check_trend(t, also=AUTO_TRENDS)
        # list of per-class trends, or None -> resolve per class
        self.monotonic_trends = monotonic_trends
        self.solver_node_budget = solver_node_budget

    def _fit_categorical(self, df, x, y, w):
        raise ValueError(CATEGORICAL_REFUSAL)

    def _fit_classes(self, df, y):
        classes = [
            r[0]
            for r in df.select(y).distinct().orderBy(y).collect()
            if r[0] is not None
        ]
        if len(classes) > 100:
            raise ValueError("multiclass target with >100 classes")
        self.classes_ = classes
        return classes

    def _finalize_numerical(self, prebin_splits, stats):
        classes = self.classes_
        M = np.column_stack(
            [stats.clean[f"n_event_{i}"] for i in range(len(classes))]
        )
        cnt = M.sum(axis=1)
        # per-class trend resolution (one-vs-rest event rates)
        def _auto_trend(c, mode):
            with np.errstate(divide="ignore", invalid="ignore"):
                r = np.where(cnt > 0, M[:, c] / np.maximum(cnt, _EPS), 0.0)
            mode = "auto_asc_desc" if mode == "auto_asc_desc" else "auto"
            # peak/valley kept as-is: solve_multiclass carries
            # per-class phase state (reference multiclass_cp.py
            # y[c,i]/t[c] change-point variables)
            return decide_trend(r, cnt, mode=mode)

        if self.monotonic_trends is not None:
            # per-class list; auto entries resolved per class
            # (reference multiclass_binning.py:711-735)
            trends = [
                _auto_trend(c, t) if t in AUTO_TRENDS else t
                for c, t in enumerate(self.monotonic_trends)
            ]
        elif self.monotonic_trend in AUTO_TRENDS:
            trends = [
                _auto_trend(c, self.monotonic_trend)
                for c in range(len(classes))
            ]
        elif self.monotonic_trend in (None, "none"):
            trends = [None] * len(classes)
        else:
            trends = [self.monotonic_trend] * len(classes)
        self.resolved_trends_ = trends
        self._prebin_class_counts_ = M

        sol = solve_multiclass(
            M,
            monotonic_trends=trends,
            min_n_bins=self.min_n_bins,
            max_n_bins=self.max_n_bins,
            min_bin_size=self.min_bin_size,
            node_budget=self.solver_node_budget,
        )
        self.solution_ = sol
        self._splits = splits_from_segments(prebin_splits, sol.segments)
        Mm = np.column_stack(
            [merge_segments(M[:, c], sol.segments) for c in range(len(classes))]
        )
        self._table = MulticlassBinningTable(
            splits=self._splits,
            n_event_by_class=Mm,
            classes=classes,
            special_stats=stats.specials,
            missing_stats=stats.missing,
            show_digits=self.show_digits,
        )

    def transform_column_expr(self, x, metric="mean_woe", metric_special=0,
                              metric_missing=0):
        """The transform of column ``x`` as one parsed SQL CASE
        (``operators.transform.case_sql``)."""
        self._check_fitted()
        t = self._table
        if metric == "mean_woe":
            vals = [float(v) for v in t.mean_woe[: len(self._splits) + 1]]
        elif metric == "weighted_mean_woe":
            vals = [float(v) for v in t.weighted_mean_woe[: len(self._splits) + 1]]
        elif metric == "indices":
            vals = list(range(len(self._splits) + 1))
        elif metric == "bins":
            vals = t.labels[: len(self._splits) + 1]
        else:
            raise ValueError(f"unknown multiclass metric {metric}")
        from .operators.preprocessing import normalize_special_codes
        from .operators.transform import case_sql

        return F.expr(case_sql(
            x, dtype="numerical", values=vals, missing=metric_missing,
            specials=[(codes, metric_special) for codes in
                      normalize_special_codes(self.special_codes).values()],
            splits=self._splits))

    def transform(self, df, x, metric="mean_woe", metric_special=0,
                  metric_missing=0, out_col=None):
        expr = self.transform_column_expr(
            x, metric, metric_special, metric_missing
        )
        return df.withColumn(out_col or f"{x}_{metric}", expr)

    def _table_state(self):
        t = self._table
        return {
            "M": t.M.tolist(),
            "classes": t.classes,
            "labels": list(t.labels),
            "kinds": list(t.kinds),
        }

    def _restore_table(self, s):
        n_clean = sum(1 for k in s["kinds"] if k == "clean")
        self._table = MulticlassBinningTable(
            splits=self._splits,
            n_event_by_class=np.array(s["M"][:n_clean]),
            classes=s["classes"],
            special_stats={},
            missing_stats={},
            show_digits=self.show_digits,
        )
