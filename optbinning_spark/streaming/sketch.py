"""Streaming / distributed sketch binning: add - merge - solve.

Reference: optbinning/binning/distributed/binning_sketch.py (the
OptimalBinningSketch add/merge/solve API), bsketch.py (per-class GK
quantile sketches + categorical counters), gk.py.

Spark-native design: the reference's sketch contract IS Spark's
partial-aggregation contract, so each ``add`` folds a micro-batch
through ONE Spark aggregation into a tiny driver-side mergeable
state:

- numerical: per-class weighted centroid lists (value, weight),
  compressed to a bounded size by merging nearest neighbors — a
  deterministic mergeable quantile summary in the spirit of
  Greenwald-Khanna / t-digest (public algorithms; tolerance-based
  like the reference's rel=1e-2 sketch assertions);
- categorical: exact per-category counters (A9) — the partial agg is
  the sketch;
- missing/special: plain commutative counters.

``merge`` concatenates and compresses (order-independent); ``solve``
proposes quantile prebins from the combined sketch and runs the same
DP optimizer as the batch path. No watermarks or event-time windows:
the reference's state is order-independent (T4), so late data simply
merges in.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..binning import OptimalBinning
from ..core.auto_monotonic import resolve_trend
from ..operators.aggregation import BinStats
from ..operators.binning_table import merge_segments, splits_from_segments
from ..operators.preprocessing import (
    CLEAN,
    MISSING,
    sample_class_expr,
)

_EPS = 1e-15


class CentroidSketch:
    """Bounded weighted-centroid quantile summary; mergeable and
    order-insensitive after compression."""

    __slots__ = ("values", "weights", "max_size")

    def __init__(self, max_size: int = 1024):
        self.values = np.array([], dtype=float)
        self.weights = np.array([], dtype=float)
        self.max_size = max_size

    def add(self, values, weights):
        self.values = np.concatenate([self.values, np.asarray(values, dtype=float)])
        self.weights = np.concatenate(
            [self.weights, np.asarray(weights, dtype=float)]
        )
        self._compress()

    def merge(self, other: "CentroidSketch"):
        self.add(other.values, other.weights)

    def _compress(self):
        if len(self.values) == 0:
            return
        order = np.argsort(self.values)
        v, w = self.values[order], self.weights[order]
        # combine duplicates
        uv, inv = np.unique(v, return_inverse=True)
        uw = np.bincount(inv, weights=w)
        v, w = uv, uw
        while len(v) > self.max_size:
            # merge the closest adjacent pair (weighted mean), smallest
            # combined weight first for accuracy; vectorized one pass:
            # halve resolution by pairing adjacent centroids
            n = len(v)
            keep = n // 2
            pair_w = w[: 2 * keep : 2] + w[1 : 2 * keep : 2]
            pair_v = (
                v[: 2 * keep : 2] * w[: 2 * keep : 2]
                + v[1 : 2 * keep : 2] * w[1 : 2 * keep : 2]
            ) / np.maximum(pair_w, _EPS)
            if n % 2:
                v = np.concatenate([pair_v, v[-1:]])
                w = np.concatenate([pair_w, w[-1:]])
            else:
                v, w = pair_v, pair_w
        self.values, self.weights = v, w

    @property
    def total_weight(self):
        return float(self.weights.sum())

    @property
    def memory_size(self) -> int:
        """T5 state-size accounting (reference binning_sketch.py:518-519
        reports asizeof of the sketch): bytes held by the centroid
        arrays. Bounded by 2 * max_size * 8 after compression."""
        return int(self.values.nbytes + self.weights.nbytes)

    def quantiles(self, probs) -> np.ndarray:
        if len(self.values) == 0:
            return np.array([])
        cum = np.cumsum(self.weights)
        total = cum[-1]
        return np.interp(
            np.asarray(probs) * total, cum - self.weights / 2.0, self.values
        )

    def counts_between(self, splits) -> np.ndarray:
        """Histogram of sketch mass over split intervals."""
        if len(self.values) == 0:
            return np.zeros(len(splits) + 1)
        idx = np.digitize(self.values, splits, right=False)
        return np.bincount(idx, weights=self.weights, minlength=len(splits) + 1)


class OptimalBinningSketch:
    """Single-variable streaming binning (binary target)."""

    def __init__(
        self,
        name: str = "",
        dtype: str = "numerical",
        max_n_prebins: int = 20,
        min_prebin_size: float = 0.05,
        monotonic_trend: str | None = "auto",
        special_codes=None,
        sketch_size: int = 1024,
        sketch: str = "gk",
        eps: float | None = None,
        **solver_params,
    ):
        self.name = name
        self.dtype = dtype
        self.max_n_prebins = max_n_prebins
        self.min_prebin_size = min_prebin_size
        self.monotonic_trend = monotonic_trend
        self.special_codes = special_codes
        self.solver_params = solver_params
        self.sketch = sketch  # "gk"/"t-digest" accepted for API parity;
        # both map to the mergeable centroid sketch
        if eps is not None:
            # GK guarantees rank error eps with O(1/eps) state; size the
            # centroid sketch accordingly (bounded above for memory)
            sketch_size = int(min(65536, max(sketch_size, 1.0 / eps)))
        self.eps = eps
        # state
        self._sk = {0: CentroidSketch(sketch_size), 1: CentroidSketch(sketch_size)}
        self._cat: dict[str, np.ndarray] = {}
        self._missing = np.zeros(2)
        self._specials: dict[str, np.ndarray] = {}
        self.n_add = 0

    # -- T1: update ------------------------------------------------------
    def add(self, df: DataFrame, x: str, y: str, sample_weight: str | None = None):
        """Fold one (micro-)batch through a single Spark aggregation."""
        return self._fold_rows(self._batch_rows(df, x, y, sample_weight))

    def _batch_rows(self, df: DataFrame, x: str, y: str,
                    sample_weight: str | None = None) -> list:
        """The Spark side of add(): the bounded per-batch histogram
        rows, collected. Split from the driver-side fold so that
        independent shard adds can run their (two-action) aggregations
        concurrently — see add_shards — while folds stay sequential
        and state stays byte-identical to sequential add() calls."""
        c = F.col(x).cast("double") if self.dtype == "numerical" else F.col(x)
        sclass = sample_class_expr(c, self.dtype, self.special_codes)
        w = F.col(sample_weight) if sample_weight else F.lit(1.0)
        if self.dtype == "numerical":
            # bounded per-batch histogram: round clean values onto a
            # quantile-ish grid is wrong; instead aggregate per
            # (sample_class, y, bucketed value) with a per-batch
            # 512-bucket equi-width grid from the batch min/max.
            mm = df.select(
                F.min(F.when(sclass == CLEAN, c)).alias("mn"),
                F.max(F.when(sclass == CLEAN, c)).alias("mx"),
            ).first()
            mn, mx = mm["mn"], mm["mx"]
            if mn is None:
                grid = F.lit(0.0)
            elif mx == mn:
                grid = c
            else:
                step = (mx - mn) / 512.0
                grid = mn + F.floor((c - F.lit(mn)) / F.lit(step)) * step + step / 2.0
            key = F.when(sclass == CLEAN, grid)
        else:
            key = F.when(sclass == CLEAN, c)
        return (
            df.groupBy(
                sclass.alias("sc"), key.alias("k"), F.col(y).alias("yy")
            )
            .agg(F.sum(w).alias("w"))
            .collect()
        )

    def _fold_rows(self, rows: list):
        """The driver side of add(): fold collected histogram rows
        into the sketch state."""
        for r in rows:
            wv = float(r["w"] or 0.0)
            yy = int(r["yy"])
            if r["sc"] == CLEAN:
                if r["k"] is None:
                    continue
                if self.dtype == "numerical":
                    self._sk[yy].add([float(r["k"])], [wv])
                else:
                    arr = self._cat.setdefault(r["k"], np.zeros(2))
                    arr[yy] += wv
            elif r["sc"] == MISSING:
                self._missing[yy] += wv
            else:
                g = r["sc"].split(":", 1)[1]
                self._specials.setdefault(g, np.zeros(2))[yy] += wv
        self.n_add += 1
        self._last_solved = None
        return self

    # -- T2: combine -----------------------------------------------------
    def merge(self, other: "OptimalBinningSketch"):
        if self.dtype != other.dtype:
            raise ValueError("cannot merge sketches of different dtype")
        for k in (0, 1):
            self._sk[k].merge(other._sk[k])
        for cat, arr in other._cat.items():
            self._cat.setdefault(cat, np.zeros(2))
            self._cat[cat] += arr
        self._missing += other._missing
        for g, arr in other._specials.items():
            self._specials.setdefault(g, np.zeros(2))
            self._specials[g] += arr
        self.n_add += other.n_add
        self._last_solved = None
        return self

    # -- T3: emit --------------------------------------------------------
    def solve(self) -> OptimalBinning:
        """Run prebinning + DP on the sketch state; returns a fitted
        OptimalBinning usable for transform()."""
        ob = OptimalBinning(
            name=self.name,
            dtype=self.dtype,
            max_n_prebins=self.max_n_prebins,
            min_prebin_size=self.min_prebin_size,
            monotonic_trend=self.monotonic_trend,
            special_codes=self.special_codes,
            **self.solver_params,
        )
        ob._resolved_dtype = self.dtype
        missing = {
            "n_nonevent": float(self._missing[0]),
            "n_event": float(self._missing[1]),
        }
        specials = {
            g: {"n_nonevent": float(a[0]), "n_event": float(a[1])}
            for g, a in self._specials.items()
        }
        if self.dtype == "categorical":
            cats = {
                c: {"n_nonevent": float(a[0]), "n_event": float(a[1])}
                for c, a in self._cat.items()
            }
            ob._finalize_categorical(cats, missing, specials, self.name)
            ob._fitted = True
            self._record_progress(ob)
            return ob

        # numerical: quantile prebins from the merged e+ne sketch
        probs = np.linspace(0, 1, self.max_n_prebins + 1)[1:-1]
        splits = np.unique(self.quantile_splits(probs))
        ne = self._sk[0].counts_between(splits)
        ev = self._sk[1].counts_between(splits)
        stats = BinStats(
            clean={"n_nonevent": ne, "n_event": ev},
            missing=missing,
            specials=specials,
            n_bins=len(splits) + 1,
        )
        ob._finalize_numerical(splits, stats)
        ob._fitted = True
        self._record_progress(ob)
        return ob

    def quantile_splits(self, probs=None) -> np.ndarray:
        """Merged-sketch quantile estimates at the prebin targets
        (numerical only; one value per prob, duplicates NOT removed —
        solve() dedups before prebinning). Public introspection: the
        accuracy-contract query (q_sketch_binning_table) bands these
        against exact corpus ranks at the reference's rel=1e-2 sketch
        tolerance, and diagnostics can chart split drift across
        solves. Deterministic given the sketch state — the combined
        e+ne sketch is rebuilt the same way solve() builds it."""
        if self.dtype != "numerical":
            raise ValueError("quantile_splits is numerical-only")
        combined = CentroidSketch(self._sk[0].max_size * 2)
        combined.merge(self._sk[0])
        combined.merge(self._sk[1])
        if combined.total_weight <= 0:
            raise RuntimeError("sketch is empty; add data first")
        if probs is None:
            probs = np.linspace(0, 1, self.max_n_prebins + 1)[1:-1]
        return combined.quantiles(probs)

    def _record_progress(self, ob):
        tbl = ob.binning_table
        hist = getattr(self, "_progress", None)
        if hist is None:
            hist = self._progress = []
        hist.append({
            "n_add": self.n_add,
            "n_records": float(np.sum(tbl.count)),
            "divergence": float(getattr(tbl, "iv", 0.0)),
        })

    def plot_progress(self, savefig: str | None = None):
        """Divergence progress across solves (reference
        binning_sketch.py:944-961). Matplotlib-gated."""
        hist = getattr(self, "_progress", None)
        if not hist:
            raise RuntimeError("solve() has not been called yet")
        try:
            import matplotlib.pyplot as plt
        except ImportError as exc:
            raise ImportError(
                "plot_progress() requires matplotlib, which is not "
                "installed in this environment; read .progress_ instead."
            ) from exc
        xs = [h["n_records"] for h in hist]
        ys = [h["divergence"] for h in hist]
        fig, ax = plt.subplots()
        ax.plot(xs, ys, marker="o")
        ax.set_xlabel("Records")
        ax.set_ylabel("Divergence")
        if savefig is not None:
            fig.savefig(savefig)
            plt.close(fig)
        else:
            plt.show()

    @property
    def progress_(self) -> list:
        """Per-solve divergence history (n_add, n_records, divergence)."""
        return list(getattr(self, "_progress", []))

    # -- reference accessor surface (binning_sketch.py:518-647) ----------
    def mergeable(self, other) -> bool:
        """True when the two sketches share a signature and can merge
        (reference bsketch.py:176-195)."""
        return (
            isinstance(other, OptimalBinningSketch)
            and self.dtype == other.dtype
            and self.special_codes == other.special_codes
            and self.max_n_prebins == other.max_n_prebins
        )

    def _solved(self):
        if getattr(self, "_last_solved", None) is None:
            self._last_solved = self.solve()
        return self._last_solved

    @property
    def splits(self):
        return self._solved().splits

    @property
    def status(self):
        sol = self._solved().solution_
        return sol.status if sol is not None else "OPTIMAL"

    @property
    def binning_table(self):
        return self._solved().binning_table

    def transform(self, df: DataFrame, x: str, **kw) -> DataFrame:
        """Transform through the most recent solve."""
        return self._solved().transform(df, x, **kw)

    @property
    def memory_usage(self) -> int:
        """T5: total sketch state size in bytes (reference
        binning_sketch.py:518-519 reports MB via asizeof; this counts
        the actual array/dict payload — the part that grows)."""
        if self.dtype == "numerical":
            total = sum(sk.memory_size for sk in self._sk.values())
        else:
            # category -> per-class weight vector
            total = sum(
                len(str(k).encode()) + np.asarray(v).nbytes
                for k, v in self._cat.items()
            )
        # special/missing accumulators: fixed-size dicts of floats
        return int(total)

    def information(self) -> str:
        """Sketch state report (reference binning_sketch.py:494-568)."""
        lines = [
            "OptimalBinningSketch",
            f"  name           : {self.name}",
            f"  dtype          : {self.dtype}",
            f"  batches added  : {self.n_add}",
            f"  sketch memory  : {self.memory_usage * 1e-6:.6f} MB",
        ]
        if self.dtype == "numerical":
            lines.append(
                f"  sketch sizes   : ne={len(self._sk[0].values)}"
                f" ev={len(self._sk[1].values)}"
            )
        else:
            lines.append(f"  categories     : {len(self._cat)}")
        report = "\n".join(lines)
        print(report)
        return report


def add_shards(tasks: list, max_workers: int | None = None):
    """Run independent shard add()s with their Spark aggregations
    submitted concurrently from a small driver thread pool, folding
    each shard's collected rows into its sketch IN LIST ORDER.

    ``tasks``: list of (sketch, df, x, y) or (sketch, df, x, y,
    sample_weight) tuples. Returns the sketches in task order.

    Why: each numerical add() is two sequential Spark actions (grid
    min/max, then the grouped fold) over its shard, and a batch
    backfill of k shards runs 2k actions end to end. The actions of
    DIFFERENT shards are independent, so submitting them from driver
    threads lets the scheduler back-fill the tail of one shard's scan
    with the next shard's tasks (Spark schedules concurrent jobs FIFO
    — exactly the overlap shape of the optimization guide's
    "overlap independent jobs"). State stays byte-identical to
    sequential add() calls: only the cluster-side aggregations
    overlap; the driver-side folds run sequentially in task order
    (the collected histogram rows per shard are a deterministic
    aggregation result either way). Streaming frames are rejected —
    this is the batch/backfill entry point; foreachBatch micro-batches
    keep calling add() directly."""
    from concurrent.futures import ThreadPoolExecutor

    for t in tasks:
        if t[1].isStreaming:
            raise ValueError("add_shards is batch-only; use add() in "
                             "streaming foreachBatch sinks")
    if max_workers is None:
        max_workers = min(len(tasks), 4) or 1
    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        futs = [pool.submit(t[0]._batch_rows, *t[1:]) for t in tasks]
        rows_per_shard = [f.result() for f in futs]
    for t, rows in zip(tasks, rows_per_shard):
        t[0]._fold_rows(rows)
    return [t[0] for t in tasks]


class BinningProcessSketch:
    """Multi-variable sketch (reference binning_process_sketch.py):
    per-variable OptimalBinningSketch driven by one add() per batch."""

    def __init__(self, variable_names: list[str], *,
                 categorical_variables=None, special_codes=None, **params):
        self.variable_names = list(variable_names)
        cats = set(categorical_variables or [])
        self._sketches = {
            v: OptimalBinningSketch(
                name=v,
                dtype="categorical" if v in cats else "numerical",
                special_codes=special_codes,
                **params,
            )
            for v in variable_names
        }

    def add(self, df: DataFrame, y: str, sample_weight: str | None = None):
        for v in self.variable_names:
            self._sketches[v].add(df, v, y, sample_weight)
        return self

    def merge(self, other: "BinningProcessSketch"):
        for v in self.variable_names:
            self._sketches[v].merge(other._sketches[v])
        return self

    def solve(self) -> dict[str, OptimalBinning]:
        self._binners = {v: s.solve() for v, s in self._sketches.items()}
        return self._binners

    # -- reference surface (binning_process_sketch.py:369-633) ---------
    def _solved_binners(self):
        if getattr(self, "_binners", None) is None:
            self.solve()
        return self._binners

    def mergeable(self, other) -> bool:
        """True when every per-variable sketch pair shares a signature
        (reference binning_process_sketch.py:433-445)."""
        return (
            isinstance(other, BinningProcessSketch)
            and self.variable_names == other.variable_names
            and all(
                self._sketches[v].mergeable(other._sketches[v])
                for v in self.variable_names
            )
        )

    def get_binned_variable(self, name: str) -> OptimalBinningSketch:
        """The per-variable sketch (reference
        binning_process_sketch.py:587-604)."""
        if name not in self._sketches:
            raise ValueError(f"{name} is not a monitored variable")
        return self._sketches[name]

    def get_support(self, indices: bool = False, names: bool = False):
        """All variables are supported (the sketch process applies no
        selection criteria — reference binning_process_sketch.py:606-633
        mirrors BinningProcess.get_support)."""
        import numpy as np

        mask = np.ones(len(self.variable_names), dtype=bool)
        if indices:
            return np.arange(len(self.variable_names))
        if names:
            return list(self.variable_names)
        return mask

    def summary(self):
        """Per-variable summary over the latest solve (reference
        binning_process_sketch.py:394-413)."""
        import pandas as pd

        rows = []
        for v in self.variable_names:
            b = self._solved_binners()[v]
            t = b.binning_table
            rows.append({
                "name": v,
                "dtype": self._sketches[v].dtype,
                "status": "OPTIMAL",
                "n_bins": int(sum(k == "clean" for k in t.kinds)),
                "iv": float(getattr(t, "iv", 0.0)),
                "js": float(getattr(t, "js", 0.0)),
            })
        return pd.DataFrame(rows)

    def transform(self, df: DataFrame, metric: str = "woe",
                  metric_special=0, metric_missing=0,
                  keep_cols: list | None = None) -> DataFrame:
        """Transform every variable through its latest solve in one
        map-only projection (reference
        binning_process_sketch.py:482-585)."""
        binners = self._solved_binners()
        out_cols = [F.col(c) for c in (keep_cols or [])]
        for v in self.variable_names:
            out_cols.append(
                binners[v]
                .transform_column_expr(
                    v, metric=metric,
                    metric_special=metric_special,
                    metric_missing=metric_missing,
                )
                .alias(v)
            )
        return df.select(*out_cols)

    def information(self, print_level: int = 1) -> str:
        """Process-sketch state report (reference
        binning_process_sketch.py:369-392)."""
        n_add = max(
            (s.n_add for s in self._sketches.values()), default=0)
        lines = [
            "BinningProcessSketch",
            f"  variables      : {len(self.variable_names)}",
            f"  batches added  : {n_add}",
            f"  solved         : {getattr(self, '_binners', None) is not None}",
        ]
        report = "\n".join(lines)
        print(report)
        return report


def streaming_binning_query(
    stream_df: DataFrame,
    sketch: OptimalBinningSketch,
    x: str,
    y: str,
    *,
    solve_every: int = 1,
    on_solve=None,
):
    """Structured Streaming driver: foreachBatch folds each micro-batch
    into the sketch (T1) and re-solves every ``solve_every`` batches
    (T3). Returns the StreamingQuery; stop it via .stop().

    The sink contract mirrors the reference's blog-described usage:
    state lives in the mergeable sketch, so recovery = re-merge."""

    def _for_each_batch(batch_df, epoch_id):
        sketch.add(batch_df, x, y)
        if on_solve is not None and sketch.n_add % solve_every == 0:
            on_solve(sketch.solve(), epoch_id)

    return (
        stream_df.writeStream.outputMode("update")
        .foreachBatch(_for_each_batch)
        .start()
    )


def stateful_category_stats_stream(
    events: DataFrame,
    key_col: str,
    y_col: str,
):
    """Custom stateful streaming operator (applyInPandasWithState):
    per-key running (count, event count, event rate) — the A9 category
    counter maintained as MANAGED state instead of a foreachBatch-held
    sketch, so Spark checkpoints/restores it and a crashed query
    resumes exactly. Order-independent (additive state), no watermark
    required (T4 semantics). Returns a streaming DataFrame; attach any
    sink.

    This is the plumbing a per-domain streaming quality monitor needs
    at 100 TB: state is partitioned by key across executors, each
    micro-batch touches only the keys it contains, and emitted rows
    are the freshest per-key aggregates."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        f"{key_col} string, n long, n_event long, event_rate double"
    )
    state_schema = "n long, n_event long"

    def _update(key, pdfs, state: GroupState):
        n, ev = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += int(len(pdf))
            ev += int(pdf["__y"].sum())
        state.update((n, ev))
        yield pd.DataFrame(
            {
                key_col: [key[0]],
                "n": [n],
                "n_event": [ev],
                "event_rate": [ev / max(n, 1)],
            }
        )

    prepared = events.select(
        F.col(key_col).cast("string").alias(key_col),
        F.col(y_col).cast("long").alias("__y"),
    )
    return prepared.groupBy(key_col).applyInPandasWithState(
        _update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
