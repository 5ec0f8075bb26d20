"""Scorecard monitoring: PSI, per-bin significance tests, performance.

Reference: optbinning/scorecard/monitoring.py:225-817. The join-shaped
computation (J6) aligns the actual and expected populations on the
same bins: ONE groupBy(bin) aggregation per population (or a single
pass with a population tag), then driver-side metrics on the tiny
aligned table.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .core import metrics as M
from .core.special_math import chi2_contingency_2xk, welch_ttest_from_stats

_EPS = 1e-15


def _psi_level(psi: float) -> str:
    if psi < 0.1:
        return "insignificant"
    if psi < 0.25:
        return "requires investigation"
    return "significant"


class ScorecardMonitoring:
    def __init__(self, scorecard, psi_n_bins: int = 20):
        self.scorecard = scorecard
        self.psi_n_bins = psi_n_bins
        self._fitted = False

    def fit(self, actual: DataFrame, expected: DataFrame, y: str):
        """One tagged union of the scored populations, scored ONCE: the
        union carries a lazy localCheckpoint, the score-edge pass
        (``approxQuantile`` over its expected rows) materializes it,
        and the per-(bin, population) aggregation — plus, for a
        continuous target, the target-distribution aggregation — reads
        that materialization. Neither population is scanned, joined or
        scored twice. The edges equal those of the expected population
        alone: the union keeps the expected frame's partitions in their
        order, and the actual rows' partitions are empty after the
        filter, so the per-partition quantile summaries and their merge
        are unchanged. All tables derive from the collected per-bin
        counts."""
        sc = self.scorecard
        self._y = y

        both = (
            sc.score(actual, "__score")
            .select("__score", F.lit("A").alias("__pop"),
                    F.col(y).alias("__y"))
            .unionByName(
                sc.score(expected, "__score")
                .select("__score", F.lit("E").alias("__pop"),
                        F.col(y).alias("__y")))
            .localCheckpoint(eager=False)
        )
        # score bins from the EXPECTED population quantiles (reference
        # uses expected as the baseline)
        probs = list(np.linspace(0, 1, self.psi_n_bins + 1)[1:-1])
        edges = sorted(set(
            both.filter(F.col("__pop") == "E")
            .approxQuantile("__score", probs, 1e-4)
        ))
        self._score_edges = edges
        from .operators.fastlit import sql_ident
        from .operators.preprocessing import numeric_bin_sql

        b = F.expr(numeric_bin_sql(sql_ident("__score"), edges))
        binary = sc._target_type == "binary"
        aggs = [F.count("*").alias("n")]
        if binary:
            aggs.append(F.sum("__y").alias("n_event"))
        else:
            aggs += [
                F.sum("__y").alias("s1"),
                F.sum(F.col("__y") * F.col("__y")).alias("s2"),
            ]
        rows = both.groupBy(b.alias("bin"), "__pop").agg(*aggs).collect()

        n_bins = len(edges) + 1
        self._counts = {"A": np.zeros(n_bins), "E": np.zeros(n_bins)}
        self._events = {"A": np.zeros(n_bins), "E": np.zeros(n_bins)}
        self._s1 = {"A": np.zeros(n_bins), "E": np.zeros(n_bins)}
        self._s2 = {"A": np.zeros(n_bins), "E": np.zeros(n_bins)}
        for r in rows:
            pop = r["__pop"]
            i = int(r["bin"])
            self._counts[pop][i] = r["n"]
            if binary:
                self._events[pop][i] = r["n_event"] or 0
            else:
                self._s1[pop][i] = r["s1"] or 0.0
                self._s2[pop][i] = r["s2"] or 0.0
        self._binary = binary
        if not binary:
            # A8 target distribution per population (reference
            # monitoring.py:696-712): one grouped aggregation
            drows = both.groupBy("__pop").agg(
                F.count("*").alias("n_records"),
                F.avg("__y").alias("mean"),
                F.stddev("__y").alias("std"),
                F.percentile_approx("__y", [0.25, 0.5, 0.75], 10_000).alias("q"),
            ).collect()
            self._target_dist = {
                r["__pop"]: {
                    "n_records": float(r["n_records"]),
                    "mean": float(r["mean"]),
                    "std": float(r["std"] or 0.0),
                    "p25": float(r["q"][0]),
                    "median": float(r["q"][1]),
                    "p75": float(r["q"][2]),
                }
                for r in drows
            }
        self._fitted = True
        return self

    # ------------------------------------------------------------------
    def psi_table(self) -> pd.DataFrame:
        self._check_fitted()
        ca, ce = self._counts["A"], self._counts["E"]
        pa = ca / max(ca.sum(), _EPS)
        pe = ce / max(ce.sum(), _EPS)
        with np.errstate(divide="ignore", invalid="ignore"):
            contrib = np.where(
                (pa > 0) & (pe > 0), (pa - pe) * np.log(pa / pe), 0.0
            )
        edges = np.concatenate([[-np.inf], self._score_edges, [np.inf]])
        labels = [
            f"[{edges[i]:.2f}, {edges[i+1]:.2f})" for i in range(len(edges) - 1)
        ]
        return pd.DataFrame(
            {
                "bin": labels,
                "count_a": ca,
                "count_e": ce,
                "count_pct_a": pa,
                "count_pct_e": pe,
                "psi": contrib,
            }
        )

    def psi_total(self) -> float:
        return float(self.psi_table()["psi"].sum())

    def psi_report(self) -> dict:
        psi = self.psi_total()
        return {"psi": psi, "level": _psi_level(psi)}

    # ------------------------------------------------------------------
    def tests_table(self) -> pd.DataFrame:
        """Per-bin significance tests actual vs expected: chi2 on event
        counts (binary) or Welch t-test on score moments (continuous)
        (reference monitoring.py:483-637)."""
        self._check_fitted()
        rows = []
        n_bins = len(self._counts["A"])
        for i in range(n_bins):
            ca, ce = self._counts["A"][i], self._counts["E"][i]
            if self._binary:
                ea, ee = self._events["A"][i], self._events["E"][i]
                stat, p = chi2_contingency_2xk(
                    np.array([[ca - ea, ea], [ce - ee, ee]])
                )
            else:
                if ca > 1 and ce > 1:
                    ma = self._s1["A"][i] / max(ca, _EPS)
                    me = self._s1["E"][i] / max(ce, _EPS)
                    va = max(self._s2["A"][i] - ca * ma * ma, 0.0) / (ca - 1)
                    ve = max(self._s2["E"][i] - ce * me * me, 0.0) / (ce - 1)
                    stat, p = welch_ttest_from_stats(
                        ma, np.sqrt(va), ca, me, np.sqrt(ve), ce
                    )
                else:
                    stat, p = 0.0, 1.0
            rows.append({"bin": i, "statistic": stat, "p_value": p})
        return pd.DataFrame(rows)

    # ------------------------------------------------------------------
    def variable_psi_table(self, actual: DataFrame, expected: DataFrame) -> pd.DataFrame:
        """Per-variable PSI summary (one row per variable) — the
        original surface; see psi_variable_table for the reference's
        name/style options."""
        return self.psi_variable_table(actual, expected, style="summary")

    def _variable_psi_detail(self, actual: DataFrame, expected: DataFrame) -> pd.DataFrame:
        """Per-(variable, bin) PSI contributions over each variable's
        fitted bins — a single tagged-union aggregation for ALL
        variables (U4)."""
        self._check_fitted()
        sc = self.scorecard
        bp = sc.binning_process
        both = actual.withColumn("__pop", F.lit("A")).unionByName(
            expected.withColumn("__pop", F.lit("E")), allowMissingColumns=True
        )
        structs = []
        for v in sc.selected_:
            b = bp.get_binned_variable(v)
            if bp._dtypes[v] == "numerical":
                from .operators.preprocessing import numeric_bin_expr

                e = numeric_bin_expr(
                    F.col(v).cast("double"), list(b._splits)
                ).cast("string")
            else:
                from .operators.preprocessing import categorical_bin_expr

                e = categorical_bin_expr(F.col(v), b._bin_categories or []).cast(
                    "string"
                )
            structs.append(
                F.struct(F.lit(v).alias("variable"), e.alias("bin"))
            )
        rows = (
            both.select(F.explode(F.array(*structs)).alias("s"), "__pop")
            .groupBy("s.variable", "s.bin", "__pop")
            .agg(F.count("*").alias("n"))
            .collect()
        )
        acc: dict[str, dict[str, dict[str, float]]] = {}
        for r in rows:
            acc.setdefault(r["variable"], {}).setdefault(
                r["bin"] or "null", {"A": 0.0, "E": 0.0}
            )[r["__pop"]] = r["n"]
        out = []
        for v, bins in acc.items():
            labels = list(bins.keys())
            ca = np.array([b["A"] for b in bins.values()])
            ce = np.array([b["E"] for b in bins.values()])
            pa = ca / max(ca.sum(), _EPS)
            pe = ce / max(ce.sum(), _EPS)
            # identical to jeffrey(pa+eps, pe+eps): summing these rows
            # reproduces the summary PSI exactly
            contrib = (pa - pe) * np.log((pa + _EPS) / (pe + _EPS))
            for lbl, a_, e_, c_ in zip(labels, ca, ce, contrib):
                out.append({
                    "variable": v, "bin": lbl, "count_a": a_,
                    "count_e": e_, "psi": float(c_),
                })
        return pd.DataFrame(out)

    # ------------------------------------------------------------------
    def performance_report(self, df: DataFrame) -> dict:
        """M12/M13 performance metrics on a scored population, computed
        with Spark aggregations (confusion counts / moments)."""
        self._check_fitted()
        sc = self.scorecard
        y = self._y
        if self._binary:
            scored = sc.predict_proba(df, "__p")
            agg = scored.agg(
                F.sum(F.when((F.col("__p") >= 0.5) & (F.col(y) == 1), 1).otherwise(0)).alias("tp"),
                F.sum(F.when((F.col("__p") >= 0.5) & (F.col(y) == 0), 1).otherwise(0)).alias("fp"),
                F.sum(F.when((F.col("__p") < 0.5) & (F.col(y) == 1), 1).otherwise(0)).alias("fn"),
                F.sum(F.when((F.col("__p") < 0.5) & (F.col(y) == 0), 1).otherwise(0)).alias("tn"),
            ).first()
            tp, fp, fn, tn = agg["tp"], agg["fp"], agg["fn"], agg["tn"]
            tpr = tp / max(tp + fn, 1)
            tnr = tn / max(tn + fp, 1)
            # AUC via MLlib
            from pyspark.ml.evaluation import BinaryClassificationEvaluator
            from pyspark.ml.feature import VectorAssembler  # noqa: F401

            ev = BinaryClassificationEvaluator(
                rawPredictionCol="__p", labelCol=y, metricName="areaUnderROC"
            )
            auc = ev.evaluate(scored.withColumn("__p", F.col("__p").cast("double")))
            return {
                "tp": tp, "fp": fp, "fn": fn, "tn": tn,
                "accuracy": (tp + tn) / max(tp + tn + fp + fn, 1),
                "tpr": tpr, "tnr": tnr,
                "balanced_accuracy": 0.5 * (tpr + tnr),
                "auc": auc, "gini": 2 * auc - 1,
            }
        pred = sc.predict(df, "__pred")
        err = F.col("__pred") - F.col(y)
        agg = pred.agg(
            F.count("*").alias("n"),
            F.avg(F.abs(err)).alias("mae"),
            F.avg(err * err).alias("mse"),
            F.avg(F.col(y)).alias("ybar"),
            F.sum(err * err).alias("sse"),
            F.sum(F.col(y) * F.col(y)).alias("syy"),
            F.sum(F.col(y)).alias("sy"),
            F.percentile(F.abs(err), F.lit(0.5)).alias("medae"),
            F.avg(F.abs(err) / F.greatest(F.abs(F.col(y)), F.lit(_EPS))).alias("mape"),
        ).first()
        sst = agg["syy"] - agg["sy"] ** 2 / agg["n"]
        return {
            "n": agg["n"],
            "mae": agg["mae"],
            "mse": agg["mse"],
            "rmse": float(np.sqrt(agg["mse"])),
            "median_ae": agg["medae"],
            "mape": agg["mape"],
            "r2": 1.0 - agg["sse"] / max(sst, _EPS),
        }

    # ------------------------------------------------------------------
    def target_analysis(self) -> pd.DataFrame:
        """Target distribution per population (reference
        monitoring.py:671-713, A8): event counts/rate for binary;
        mean/std/quartiles for continuous. Derived from stats gathered
        during fit — no extra Spark job."""
        self._check_fitted()
        if self._binary:
            rows = []
            for pop, label in (("A", "Actual"), ("E", "Expected")):
                n = float(self._counts[pop].sum())
                ev = float(self._events[pop].sum())
                rows.append({
                    "population": label,
                    "n_records": n,
                    "n_event": ev,
                    "n_nonevent": n - ev,
                    "event_rate": ev / max(n, _EPS),
                })
            return pd.DataFrame(rows)
        rows = []
        for pop, label in (("A", "Actual"), ("E", "Expected")):
            st = self._target_dist[pop]
            rows.append({"population": label, **st})
        return pd.DataFrame(rows)

    def system_stability_report(self) -> str:
        """Printed overview of system stability (reference
        monitoring.py:154-192, 341-349): total PSI with its
        significance level, the share of bins whose actual-vs-expected
        test rejects at 5%, and the target analysis."""
        self._check_fitted()
        rep = self.psi_report()
        tt = self.tests_table()
        n_sig = int((tt["p_value"] < 0.05).sum())
        lines = [
            "Scorecard monitoring: system stability report",
            "",
            f"  Population Stability Index (PSI): {rep['psi']:.6f}",
            f"    PSI level: {rep['level']}",
            "",
            f"  Significance tests (5% level): {n_sig}/{len(tt)} bins reject",
            "",
            "  Target analysis:",
        ]
        for _, r in self.target_analysis().iterrows():
            desc = ", ".join(
                f"{k}={v:.6g}" if isinstance(v, float) else f"{k}={v}"
                for k, v in r.items() if k != "population"
            )
            lines.append(f"    {r['population']}: {desc}")
        report = "\n".join(lines)
        print(report)
        return report

    def psi_variable_table(self, actual: DataFrame, expected: DataFrame,
                           name: str | None = None,
                           style: str = "summary") -> pd.DataFrame:
        """Reference psi_variable_table: 'summary' = one PSI row per
        variable; 'detailed' = per-bin PSI contributions; optional
        single-variable filter."""
        if style not in ("summary", "detailed"):
            raise ValueError('style must be "summary" or "detailed"')
        detailed = self._variable_psi_detail(actual, expected)
        if name is not None:
            if name not in set(detailed["variable"]):
                raise ValueError(f"{name} is not a monitored variable")
            detailed = detailed[detailed["variable"] == name]
        if style == "detailed":
            return detailed.reset_index(drop=True)
        out = (
            detailed.groupby("variable", sort=False)["psi"]
            .sum()
            .reset_index()
        )
        out["level"] = [_psi_level(p) for p in out["psi"]]
        return out

    def information(self, print_level: int = 1) -> str:
        self._check_fitted()
        lines = [
            "ScorecardMonitoring",
            f"  target type : {'binary' if self._binary else 'continuous'}",
            f"  score bins  : {len(self._counts['A'])}",
            f"  psi         : {self.psi_total():.6f}",
        ]
        report = "\n".join(lines)
        print(report)
        return report

    @property
    def psi_splits(self):
        """Score-bin split points used for the PSI analysis (reference
        monitoring.py psi_splits property)."""
        self._check_fitted()
        import numpy as np

        return np.asarray(self._score_edges, dtype=float)

    def psi_plot(self, savefig: str | None = None):
        """Actual-vs-expected score distribution bars with per-bin PSI
        line (reference monitoring.py psi_plot). Matplotlib-gated."""
        self._check_fitted()
        try:
            import matplotlib.pyplot as plt
        except ImportError as exc:
            raise ImportError(
                "psi_plot() requires matplotlib, which is not installed "
                "in this environment; use psi_table() for the data."
            ) from exc
        import numpy as np

        ca, ce = self._counts["A"], self._counts["E"]
        pa = ca / max(ca.sum(), _EPS)
        pe = ce / max(ce.sum(), _EPS)
        x = np.arange(len(pa))
        w = 0.4
        fig, ax = plt.subplots()
        ax.bar(x - w / 2, pa, w, label="Actual", color="tab:blue")
        ax.bar(x + w / 2, pe, w, label="Expected", color="tab:red")
        ax.set_xlabel("Score bin")
        ax.set_ylabel("Population share")
        ax.legend()
        if savefig is not None:
            fig.savefig(savefig)
            plt.close(fig)
        else:
            plt.show()

    def _check_fitted(self):
        if not self._fitted:
            raise RuntimeError("ScorecardMonitoring is not fitted")
