"""The benchmark's workloads: each is a fixed mix of library calls (one
cycle of the mix is one call), closed loop, one caller.

A workload builds its inputs from the seed in ``prepare`` and runs one
cycle in ``call``. A cycle returns a digest per operation (what the
pinned and cross-call checks compare) and a list of broken invariants.
See README.md for why each workload exists and what it should move.
"""

from __future__ import annotations

import hashlib
import json
import math

import numpy as np

from inputs import write_documents, write_orders_lineitem

WIDE_VARIABLES = [
    "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_shipdays",
    "o_custkey", "o_totalprice", "o_orderdays", "net_price",
    "disc_tax", "l_linestatus", "o_orderstatus", "o_orderpriority",
]
NARROW_PROCESS_VARIABLES = [
    "l_quantity", "l_discount", "l_tax", "l_linestatus", "l_shipmode"]
NARROW_CATEGORICAL = ["l_linestatus", "l_shipmode"]


def digest(obj) -> str:
    text = json.dumps(obj, sort_keys=True, separators=(",", ":"))
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def sig(x: float, digits: int = 6) -> float:
    """``x`` rounded to ``digits`` significant digits, with -0.0 folded
    into 0.0, so that last-ulp differences from Spark's summation order
    do not change a digest."""
    return float(f"{float(x):.{digits}g}") + 0.0


def _table_rows(table, cols) -> list:
    return [[sig(v) if isinstance(v, (float, int, np.number)) else str(v)
             for v in row]
            for row in table[cols].itertuples(index=False)]


class Workload:
    name = ""
    # the operations of one cycle; each call runs all of them once
    ops: list[str] = []
    # cycles run in set-up before timing; the first is cold
    warmup_cycles = 1

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed
        self.rows_per_call = 0

    def prepare(self, work_dir: str) -> None:
        """Write the seeded inputs under ``work_dir`` and load them."""
        raise NotImplementedError

    def fit_model(self) -> None:
        """One-time work the calls depend on (none by default)."""

    def _load(self, df, n_rows: int):
        n = df.count()
        if n != n_rows:
            raise RuntimeError(f"loaded {n} rows, generated {n_rows}")
        return df

    def run_op(self, op: str, span) -> tuple[object, list[str]]:
        """Run one operation; return (digest input, invariant problems)."""
        raise NotImplementedError

    def call(self, order: list[str], span) -> tuple[dict, list[str]]:
        digests, problems = {}, []
        for op in order:
            out, bad = self.run_op(op, span)
            digests[op] = digest(out)
            problems += [f"{op}: {b}" for b in bad]
        return digests, problems

    # shared input frames -------------------------------------------------
    def _lineitem(self, path):
        from pyspark.sql import functions as F

        return (
            self.spark.read.parquet(path)
            .withColumn("y", (F.col("l_returnflag") == "R").cast("int"))
            .withColumn("net_price",
                        F.col("l_extendedprice") * (1 - F.col("l_discount")))
        )

    def _wide(self, l_path, o_path):
        """lineitem broadcast-joined with orders, plus the derived
        columns of the 16-variable Home-Credit-shaped fit."""
        from pyspark.sql import functions as F

        li = self._lineitem(l_path)
        o = self.spark.read.parquet(o_path)
        df = li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)

        def days(c):
            return F.datediff(F.col(c), F.lit("1970-01-01").cast("date")
                              ).cast("double")

        return (df.withColumn("l_shipdays", days("l_shipdate"))
                .withColumn("o_orderdays", days("o_orderdate"))
                .withColumn("disc_tax", F.col("l_discount") + F.col("l_tax")))


def _total_problems(table, n_rows: int, what: str = "") -> list[str]:
    """A binning table's Totals row must count every input row."""
    total = int(table["count"].iloc[-1])
    return [] if total == n_rows else [f"{what}table total {total} != {n_rows}"]


class BinningFit(Workload):
    """The fit path: narrow single-variable fits, a piecewise fit, a
    five-variable process fit and a five-variable scorecard fit. Plan
    building, py4j, Catalyst and the driver solvers dominate; the data
    plane does little."""

    name = "binning_fit"
    n_rows = 30_000
    warmup_cycles = 2
    # At 600k rows the 16-variable scorecard's compressed design exceeds
    # the default 100k-row driver cap, so the estimator collects and
    # discards the design and falls back to MLlib. The five-variable
    # design here has a few thousand rows; the cap is scaled down so
    # this fit takes that same route.
    design_cap = 1_000

    ops = ["numeric_quantity", "numeric_price", "numeric_discount",
           "categorical_shipmode", "continuous", "narrow_process",
           "piecewise", "scorecard"]

    def prepare(self, work_dir):
        rng = np.random.default_rng(self.seed)
        l_path, _ = write_orders_lineitem(rng, self.n_rows, work_dir, "fit")
        self.li = self._load(self._lineitem(l_path), self.n_rows)
        self.rows_per_call = self.n_rows * len(self.ops)

    def _binning(self, cls, x, y, **kw):
        b = cls(name=x, **kw)
        b.fit(self.li, x, y)
        t = b.binning_table.build()
        return t, _total_problems(t, self.n_rows)

    def run_op(self, op, span):
        import optbinning_spark as ob
        from optbinning_spark.scorecard import Scorecard

        if op == "scorecard":
            sc = Scorecard(
                ob.BinningProcess(NARROW_PROCESS_VARIABLES,
                                  categorical_variables=NARROW_CATEGORICAL),
                estimator_params={"max_driver_rows": self.design_cap})
            sc.fit(self.li, "y")
            card = sc.table()
            s = sc.binning_process.summary()
            summary = [[n, int(b), sig(iv)] for n, b, iv in
                       zip(s["name"], s["n_bins"], s["iv"])]
            coefs = [sig(sc.coef_[v], 4) for v in sc.selected_]
            bad = []
            if not all(math.isfinite(c) for c in coefs + [sc.intercept_]):
                bad.append("non-finite coefficient")
            if len(card) == 0:
                bad.append("empty scorecard table")
            return {"summary": summary, "coef": coefs,
                    "intercept": sig(sc.intercept_, 4)}, bad
        if op == "narrow_process":
            bp = ob.BinningProcess(NARROW_PROCESS_VARIABLES,
                                   categorical_variables=NARROW_CATEGORICAL)
            bp.fit(self.li, "y")
            tables = []
            bad = []
            for v in NARROW_PROCESS_VARIABLES:
                t = bp.get_binned_variable(v).binning_table.build()
                bad += _total_problems(t, self.n_rows, f"{v} ")
                tables.append(_table_rows(t, ["bin", "count", "n_event", "woe"]))
            return tables, bad
        if op == "piecewise":
            pw = ob.OptimalPWBinning(name="l_quantity")
            pw.fit(self.li, "l_quantity", "y")
            t = pw.binning_table.build()
            return (_table_rows(t, ["bin", "count", "c0", "c1"]),
                    _total_problems(t, self.n_rows))
        if op == "continuous":
            t, bad = self._binning(ob.ContinuousOptimalBinning,
                                   "l_quantity", "net_price")
            return _table_rows(t, ["bin", "count", "mean", "woe"]), bad
        col, kw = {
            "numeric_quantity": ("l_quantity", {}),
            "numeric_price": ("l_extendedprice", {}),
            "numeric_discount": ("l_discount", {"monotonic_trend": "auto"}),
            "categorical_shipmode": ("l_shipmode", {"dtype": "categorical"}),
        }[op]
        t, bad = self._binning(ob.OptimalBinning, col, "y", **kw)
        return _table_rows(t, ["bin", "count", "n_event", "woe"]), bad


class ScoreDedup(Workload):
    """The read path and the dedup pipeline: a scorecard fitted once in
    set-up is scored and monitored every call (no fit aggregation, no
    solver), and the documents are clustered through both closures."""

    name = "score_dedup"
    n_expected = 20_000
    n_actual = 30_000
    n_docs = 1_500

    ops = ["score", "monitor", "dedup_driver", "dedup_distributed"]

    def prepare(self, work_dir):
        from optbinning_spark.sources.tables import spread

        rng = np.random.default_rng(self.seed)
        e = write_orders_lineitem(rng, self.n_expected, work_dir, "expected")
        a = write_orders_lineitem(rng, self.n_actual, work_dir, "actual",
                                  drift=0.3)
        d = write_documents(rng, self.n_docs, work_dir)
        self.expected = self._load(self._wide(*e), self.n_expected)
        self.actual = self._load(self._wide(*a), self.n_actual)
        self.docs = spread(self.spark, self._load(
            self.spark.read.parquet(d), self.n_docs))
        self.rows_per_call = (2 * self.n_actual + self.n_expected
                              + 2 * self.n_docs)

    def fit_model(self):
        import optbinning_spark as ob
        from optbinning_spark.scorecard import Scorecard

        self.sc = Scorecard(ob.BinningProcess(WIDE_VARIABLES))
        self.sc.fit(self.expected, "y")

    def call(self, order, span):
        self._closures, self.cc_stats = {}, {}
        digests, problems = super().call(order, span)
        if self._closures["driver"] != self._closures["distributed"]:
            problems.append("the distributed closure disagrees with the "
                            "driver closure")
        return digests, problems

    def _clusters(self, span, route, **kw):
        from optbinning_spark.pipeline import dedup

        stats = self.cc_stats[route] = {}
        df = dedup.duplicate_clusters(self.docs, n_hashes=8, band_size=2,
                                      stats=stats, **kw)
        with span("bench.sink"):
            rows = df.select("doc_id", "cluster_id", "is_canonical").collect()
        bad = []
        ids = {r.doc_id: r.cluster_id for r in rows}
        if len(rows) != self.n_docs or len(ids) != self.n_docs:
            bad.append(f"{len(rows)} rows for {self.n_docs} docs")
        if any(c > d for d, c in ids.items()):
            bad.append("cluster id above doc id")
        clusters = set(ids.values())
        canon = sum(1 for r in rows if r.is_canonical)
        if canon != len(clusters) or not clusters <= set(ids):
            bad.append(f"{canon} canonical rows for {len(clusters)} clusters")
        self._closures[route] = ids
        return {"clusters": len(clusters), "canonical": canon,
                "clustered_docs": sum(1 for d, c in ids.items() if d != c)}, bad

    def run_op(self, op, span):
        from pyspark.sql import functions as F

        if op == "score":
            scored = self.sc.score(self.actual)
            with span("bench.sink"):
                r = scored.agg(F.count("*").alias("n"),
                               F.sum("score").alias("s")).collect()[0]
            bad = []
            if r["n"] != self.n_actual:
                bad.append(f"scored {r['n']} rows of {self.n_actual}")
            if r["s"] is None or not math.isfinite(r["s"]):
                bad.append("non-finite score checksum")
            return {"rows": r["n"], "checksum": sig(r["s"] or 0.0, 8)}, bad
        if op == "monitor":
            from optbinning_spark.monitoring import ScorecardMonitoring

            m = ScorecardMonitoring(self.sc).fit(
                actual=self.actual, expected=self.expected, y="y")
            psi = m.psi_total()
            bad = [] if math.isfinite(psi) and psi >= 0 else [f"psi {psi}"]
            return {"psi": sig(psi)}, bad
        if op == "dedup_driver":
            return self._clusters(span, "driver")
        return self._clusters(span, "distributed", driver_threshold=0)


WORKLOADS = {w.name: w for w in (BinningFit, ScoreDedup)}
