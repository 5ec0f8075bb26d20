"""Scorecard — binning + linear estimator + point scaling.

Reference: optbinning/scorecard/scorecard.py (pipeline), rounding.py
(MIP point rounding), plus monitoring in monitoring.py.

Spark design:
- binning_process.fit_transform produces the WoE matrix in one
  map-only projection;
- the estimator is MLlib LogisticRegression / LinearRegression
  (X1 pluggable-estimator surface; coefficients are what scorecard
  points need);
- scoring is a PURE COLUMN EXPRESSION: score(x) = base + sum of
  per-variable CASE(bin -> points). No vector assembly, no model
  object at inference time — a scorecard scored over 100 TB is a
  map-only scan, and predict_proba is the closed-form sigmoid of the
  same linear expression.
- that expression is rendered as ONE SQL string and parsed by a single
  ``F.expr``: built from F.when/F.lit/isin Column ops it cost a py4j
  round trip per node (~500 for 16 variables). Plan build + analysis
  of score() on a 16-variable scorecard: 307 ms -> 40 ms, and 400-500
  ms -> 60-65 ms on a busier host (4 vCPU, local[4]). Branch order,
  literal types and the left-to-right sum are the Column build's, so
  plans and scores are bit-identical; rendering is cheap, so uncached.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .binning_process import BinningProcess
from .operators.fastlit import sql_ident, sql_lit
from .operators.preprocessing import normalize_special_codes
from .operators.transform import case_sql

_EPS = 1e-15


def _round_points_minmax(points: dict) -> dict:
    """Reference-parity point rounding (rounding.py:13-110) WITHOUT an
    integer program. The reference MIP minimizes the L1 rounding error
    subject to Sum_i lb_i == rint(Sum_i min_j x_ij) and
    Sum_i ub_i == rint(Sum_i max_j x_ij), where lb_i/ub_i are free
    integers bounding variable i's rounded points below/above. Free
    bounds make the equalities equivalent to
        Sum_i min_j p_ij >= MinPoint  and  Sum_i max_j p_ij <= MaxPoint,
    i.e. the minimum and maximum achievable TOTAL scores are preserved.
    Clamping a point into [t_i, u_i] can only move it in one direction,
    so the objective splits into independent convex per-variable costs
    F_i(t) (raise low points to t) and G_i(u) (cap high points at u),
    and each side is a separable convex allocation solved exactly by
    the cheapest-marginal-move greedy below."""
    names = list(points)
    raw = {v: np.asarray(points[v], dtype=float) for v in names}
    min_point = float(np.rint(sum(r.min() for r in raw.values())))
    max_point = float(np.rint(sum(r.max() for r in raw.values())))
    p = {v: np.rint(raw[v]) for v in names}

    def l1(v, q):
        return float(np.abs(q - raw[v]).sum())

    # Greedy cheapest-marginal unit moves; exact for separable convex
    # costs (each clamp step's marginal is non-decreasing). The number
    # of steps is bounded by the rint slack, <= n_variables / 2 each
    # side; the 10k guard is a safety net only.
    for _ in range(10_000):  # raise minima until Sum min >= MinPoint
        if sum(q.min() for q in p.values()) >= min_point:
            break
        best = None
        for v in names:
            q = np.maximum(p[v], p[v].min() + 1)
            # r14 pinned compare: 9dp so an exact L1-marginal tie
            # keeps the EARLIER variable on both engines (the oracle
            # compares round(dc, 9) with the same earlier-wins CASE)
            dc = round(l1(v, q) - l1(v, p[v]), 9)
            if best is None or dc < best[0]:
                best = (dc, v, q)
        p[best[1]] = best[2]
    for _ in range(10_000):  # lower maxima until Sum max <= MaxPoint
        if sum(q.max() for q in p.values()) <= max_point:
            break
        best = None
        for v in names:
            if p[v].max() - 1 < p[v].min():
                continue  # flat variable: lowering would break Sum min
            q = np.minimum(p[v], p[v].max() - 1)
            dc = round(l1(v, q) - l1(v, p[v]), 9)
            if best is None or dc < best[0]:
                best = (dc, v, q)
        if best is None:  # degenerate: every variable flat
            break
        p[best[1]] = best[2]
    if (sum(q.min() for q in p.values()) < min_point
            or sum(q.max() for q in p.values()) > max_point):
        # Allocation infeasible (degenerate flat variables): mirror the
        # reference's back-up — plain nearest-integer rounding
        # (scorecard.py:696-701 falls back to np.rint when the MIP is
        # not OPTIMAL/FEASIBLE).
        return {v: np.rint(raw[v]) for v in names}
    return p


def _driver_wls(X, y, w):
    """Weighted least squares via CENTERED normal equations. Centering
    is an algebraic identity for the solution, but numerically
    essential here: the WoE/mean features are near-collinear with the
    intercept (large mean, small spread), so the uncentered Gram has
    cond ~ (mean/std)^2 and the solve loses ~8 digits — enough to make
    scores nondeterministic at rounding precision across collect
    orders. Centered, the system is O(1)-conditioned."""
    X = np.asarray(X, dtype=float)
    wsum = w.sum()
    xbar = (X * w[:, None]).sum(axis=0) / wsum
    ybar = float((y * w).sum() / wsum)
    Xc = X - xbar
    yc = y - ybar
    Xw = Xc * w[:, None]
    beta = np.linalg.solve(
        Xc.T @ Xw + 1e-12 * np.eye(X.shape[1]), Xw.T @ yc
    )
    intercept = ybar - float(xbar @ beta)
    return list(beta), intercept


def _driver_huber(X, y, w, epsilon=1.35, max_iter=100, tol=1e-9):
    """Huber-loss linear regression by IRLS with a robust (normalized
    MAD) concomitant scale — the HuberRegressor-equivalent estimator
    (reference scorecard.py:37-39 accepts any sklearn regressor;
    README's continuous example uses HuberRegressor(epsilon=1.35))."""
    A = np.hstack([X, np.ones((len(X), 1))])
    Aw = A * w[:, None]
    beta = np.linalg.solve(
        A.T @ Aw + 1e-12 * np.eye(A.shape[1]), Aw.T @ y
    )  # WLS start
    for _ in range(max_iter):
        r = y - A @ beta
        sigma = max(1.4826 * np.median(np.abs(r - np.median(r))), 1e-12)
        wi = w * np.minimum(1.0, epsilon * sigma / np.maximum(np.abs(r), 1e-12))
        Awi = A * wi[:, None]
        new = np.linalg.solve(
            A.T @ Awi + 1e-12 * np.eye(A.shape[1]), Awi.T @ y
        )
        if np.max(np.abs(new - beta)) < tol * (1.0 + np.max(np.abs(beta))):
            beta = new
            break
        beta = new
    return list(beta[:-1]), float(beta[-1])


def _driver_logistic(X, y, w, max_iter=100, tol=1e-10):
    """Weighted logistic regression by IRLS (Newton) — exact MLE on
    the compressed (X, label, weight) design."""
    A = np.hstack([X, np.ones((len(X), 1))])
    beta = np.zeros(A.shape[1])
    for _ in range(max_iter):
        z = A @ beta
        p = 1.0 / (1.0 + np.exp(-np.clip(z, -35, 35)))
        g = A.T @ (w * (y - p))
        W = w * p * (1.0 - p)
        H = A.T @ (A * W[:, None]) + 1e-10 * np.eye(A.shape[1])
        step = np.linalg.solve(H, g)
        beta = beta + step
        if np.max(np.abs(step)) < tol:
            break
    return list(beta[:-1]), float(beta[-1])


def _arrow_columns(df: DataFrame, cols, max_rows: int | None = None):
    """Fetch ``df`` to the driver with ONE ``toArrow()``; return
    ``(arrays, n_rows)`` with ``cols`` as float64 NumPy arrays in the
    frame's row order. ``arrays`` is None when any of ``cols`` carries
    a NULL (Arrow's per-column null counts replace a per-Row ``None``
    scan) or when ``n_rows`` exceeds ``max_rows``. Compared with
    ``collect()`` plus a float loop over py4j Rows the values are
    bit-identical (float() and astype(float) round alike), and a
    20,000 x 18 design moves in 0.05-0.08 s instead of 0.46-0.70 s
    (4 vCPU, local[4]).
    The Arrow table is dropped on return; only the arrays stay."""
    tbl = df.toArrow()
    n = tbl.num_rows
    if (max_rows is not None and n > max_rows) or any(
            tbl.column(c).null_count for c in cols):
        return None, n
    return [tbl.column(c).to_numpy().astype(float) for c in cols], n


def _design(cols, n_rows, k, order="C"):
    """(X, y, w) from fetched float64 columns: the first k are the
    features, stacked into an (n_rows, k) matrix in memory ``order``.
    The layout sets the BLAS summation order, hence the last ulp of
    the coefficients: each estimator keeps the layout it has always
    been fitted on (C for the compressed design, F for the robust
    sample, which was read through pandas)."""
    X = np.empty((n_rows, k), order=order)
    for j in range(k):
        X[:, j] = cols[j]
    return X, cols[k], cols[k + 1]


def _bp_row_count_hint(bp) -> int | None:
    """Total fitted row count from an already-fitted BinningProcess's
    first binning table (clean + special + missing bins sum to every
    non-null-target row of the fit input) — a free driver-side read
    that replaces the huber/custom sample prefilter's dedicated
    count() action. Returns None when no unweighted integral count is
    available (class-weighted binner, empty process): the caller then
    falls back to counting."""
    try:
        for v, b in bp._binners.items():
            if getattr(b, "class_weight", None) is not None:
                return None
            t = getattr(b, "_table", None)
            cnt = getattr(t, "count", None)
            if cnt is None:
                continue
            total = float(np.asarray(cnt, dtype=float).sum())
            if total > 0 and abs(total - round(total)) < 1e-6:
                return int(round(total))
        return None
    except Exception:
        return None


class Scorecard:
    def __init__(
        self,
        binning_process: BinningProcess,
        estimator: str = "auto",
        scaling_method: str | None = None,
        scaling_method_params: dict | None = None,
        intercept_based: bool = False,
        rounding: bool = False,
        estimator_params: dict | None = None,
    ):
        self.binning_process = binning_process
        self.estimator = estimator
        self.scaling_method = scaling_method
        self.scaling_method_params = scaling_method_params or {}
        self.intercept_based = intercept_based
        self.rounding = rounding
        self.estimator_params = estimator_params or {}
        self._fitted = False

    # ------------------------------------------------------------------
    def fit(self, df: DataFrame, y: str, sample_weight: str | None = None):
        bp = self.binning_process
        # Row-count hint for the robust-sample prefilter (r18): when
        # THIS call runs the binning pass on the SAME df, the fitted
        # binning tables already carry the total record count
        # (clean + special + missing bins sum to every non-null-y row)
        # — reusing it saves the prefilter's dedicated count() full
        # pass. Weighted fits keep the hint off (table counts are
        # weighted sums, not row counts). The hint only sizes the
        # filter threshold: a small hint keeps more rows (still exact),
        # a large one trips the short-result fallback — exactness never
        # depends on it.
        self._n_rows_hint = None
        if not bp._fitted:
            bp.fit(df, y, sample_weight)
            if sample_weight is None:
                self._n_rows_hint = _bp_row_count_hint(bp)
        self._target_type = bp._target_type
        if self._target_type == "multiclass":
            raise ValueError("Scorecard supports binary or continuous targets")

        woe = bp.transform(df, keep_cols=[y] + ([sample_weight] if sample_weight else []))
        self.selected_ = bp.support_

        coefs, intercept = self._fit_estimator(woe, y, sample_weight)
        self.coef_ = dict(zip(self.selected_, coefs))
        self.intercept_ = float(intercept)

        self._build_points()
        self._fitted = True
        return self

    def _fit_estimator(self, woe: DataFrame, y: str, w: str | None):
        from pyspark.ml.feature import VectorAssembler

        # Sufficient-statistics compression: every feature is binned,
        # so the WoE matrix has at most prod(n_bins) distinct rows.
        # Group identical (X, label) rows into one weighted row — the
        # weighted likelihood (logistic) / normal equations (linear)
        # are unchanged. The input is scanned once, by that groupBy;
        # the driver solve or MLlib then reads only the compressed
        # design, whatever its size.
        kind0 = self.estimator
        if kind0 == "auto":
            kind0 = "logistic" if self._target_type == "binary" else "linear"
        wexpr = F.col(w) if w is not None else F.lit(1.0)
        if kind0 == "huber" or not isinstance(kind0, str):
            # Custom estimator object (X1, reference scorecard.py:37-39
            # accepts any sklearn regressor/classifier) or Huber: the
            # loss may be nonlinear in per-row residuals, so the
            # (X, mean-label) group compression is invalid; the fit
            # runs on a bounded DETERMINISTIC and UNIFORM driver
            # sample.  Rows are ordered by a 64-bit hash of the full
            # row (TakeOrdered top-k, not a full sort), so the capped
            # sample spans the WoE/label distribution instead of its
            # lexicographically-smallest corner — at 100 TB an
            # orderBy(features) cap would hand the robust loss a
            # systematically event-free slice (WoE is monotone in
            # event rate).  Hash ties are identical rows, so two runs
            # collect the same design matrix bit-for-bit.
            cap = int(self.estimator_params.get("max_driver_rows", 100_000))
            sel = (
                woe.select(
                    *self.selected_, F.col(y).alias("__y"),
                    wexpr.alias("__w"),
                )
            )
            hkey = F.xxhash64(*self.selected_, F.col("__y"), F.col("__w"))
            order_cols = [hkey, *self.selected_, "__y", "__w"]
            # Arrow columns, not collect(): the 100k-row sample
            # arrives as columnar batches instead of 100k py4j Row
            # objects + a Python float loop — measured 2.2 s -> 0.24 s
            # at the sf0.1 anchor shape, bit-identical values.
            #
            # Hash-threshold prefilter (r17): orderBy+limit plans as
            # TakeOrderedAndProject — every partition keeps a cap-row
            # priority queue over the FULL table and the driver merges
            # the per-partition survivors single-threaded, so the pass
            # costs ~n tuple comparisons + a driver merge. hkey is the
            # PRIMARY sort key and xxhash64 is uniform over the signed
            # 64-bit range, so the cap-th smallest key sits near the
            # (cap/n)-quantile of that range: pre-filtering to
            # hkey <= T with T at 1.5x that quantile drops ~all
            # non-sample rows BEFORE the top-k machinery. Exactness is
            # guaranteed, not probabilistic: every excluded row has
            # hkey > T >= every survivor's hkey, so it ranks after the
            # whole survivor top-k under the full tuple order — IF the
            # filtered top-k comes back with cap rows, it IS the
            # unfiltered top-k (set equality, same order); a short
            # result (binomial shortfall at ~90 sigma, or a row count
            # near cap) falls back to the exact unfiltered pass.
            #
            # A null or NaN here poisons every coefficient downstream:
            # refuse both loudly.
            bad = (
                "null/NaN in the robust-estimator design matrix "
                "(WoE feature, label or weight) — refusing a "
                "silently-poisoned fit; filter or impute the "
                "offending rows before Scorecard.fit")
            cols = [*self.selected_, "__y", "__w"]
            got = None
            prefilter = bool(self.estimator_params.get(
                "sample_prefilter", True))
            # n only sizes the filter threshold (exactness is
            # structural — see above): prefer the free binning-pass
            # hint over a dedicated full-table count() action
            n_rows = 0
            if prefilter:
                n_rows = getattr(self, "_n_rows_hint", None) \
                    or sel.count()
            if prefilter and n_rows > 2 * cap:
                frac = 1.5 * cap / n_rows
                t_cut = int(-(2 ** 63) + frac * 2.0 ** 64)
                got = _arrow_columns(
                    sel.filter(hkey <= F.lit(t_cut))
                    .orderBy(*order_cols).limit(cap), cols)
                if got[1] < cap:
                    got = None  # margin failed: exact fallback
            if got is None:
                got = _arrow_columns(
                    sel.orderBy(*order_cols).limit(cap), cols)
            if got[0] is None:
                raise ValueError(bad)
            X, yy, ww = _design(*got, len(self.selected_), "F")
            del got
            if not (np.isfinite(X).all() and np.isfinite(yy).all()
                    and np.isfinite(ww).all()):
                raise ValueError(bad)
            if kind0 == "huber":
                return _driver_huber(
                    X, yy, ww,
                    epsilon=float(self.estimator_params.get("epsilon", 1.35)),
                )
            est = kind0
            try:
                est.fit(X, yy, sample_weight=ww)
            except TypeError:  # estimator without sample_weight support
                est.fit(X, yy)
            coef = np.ravel(np.asarray(est.coef_, dtype=float))
            intercept = np.ravel(np.asarray(
                getattr(est, "intercept_", 0.0), dtype=float))
            return list(coef), float(intercept[0] if intercept.size else 0.0)
        if kind0 == "logistic":
            design = (
                woe.groupBy(*self.selected_, y)
                .agg(F.sum(wexpr).alias("__w"))
            )
        else:
            # WLS on per-group label means with weight n preserves
            # X'WX and X'Wy, hence the coefficients. __badlab counts
            # NULL labels per group: Spark's sum SKIPS them in the
            # numerator while the denominator still counts their
            # weight, so a missing target would silently BIAS the
            # per-group mean (not even poison it) — refused below
            ycol = F.col(y).cast("double")
            design = woe.groupBy(*self.selected_).agg(
                F.sum(wexpr).alias("__w"),
                (F.sum(wexpr * F.col(y)) / F.sum(wexpr)).alias(y),
                F.sum(F.when(ycol.isNull(), F.lit(1))
                      .otherwise(F.lit(0))).alias("__badlab"),
            )
        # The design is computed ONCE per fit: a lazy local checkpoint
        # is materialized by the first action over it (the fetch below,
        # else MLlib's first job), and both the fetch and every MLlib
        # pass then read that materialization. Not cache(): AQE cannot
        # coalesce a cached plan's partitions
        # (spark.sql.optimizer.canChangeCachedPlanOutputPartitioning is
        # false), so a design of a few thousand rows kept
        # spark.sql.shuffle.partitions partitions and every LBFGS
        # iteration ran a multi-stage job; the checkpoint keeps the
        # partition count AQE chose (one, at such sizes), so each
        # iteration is one single-task job. Measured on the perfbench
        # binning_fit scorecard design (seed 0, warm, 4 vCPU,
        # local[4]): the MLlib fit 10 jobs / 45 tasks / 1.15-1.41 s ->
        # 8 jobs / 8 tasks / 0.52-0.67 s, coefficients equal to 2e-15.
        design = design.localCheckpoint(eager=False)
        kind = kind0

        # Driver solve on the fetched sufficient statistics when the
        # compressed design is small (it is, by construction: at most
        # prod(n_bins) * n_labels rows). One fetch replaces the
        # per-LBFGS-iteration job storm; results match an unregularized
        # MLlib fit to optimizer tolerance. Large compressed designs
        # (high-cardinality interactions) fall back to MLlib.
        reg = float(self.estimator_params.get("regParam", 0.0))
        max_driver_rows = int(self.estimator_params.get("max_driver_rows", 100_000))
        if reg == 0.0:
            # deterministic order: the normal-equation sums are float
            # and order-dependent at the last ulp; a stable orderBy
            # makes consecutive fits bit-identical. Fetched as Arrow
            # columns, not py4j Rows: the design can hold
            # max_driver_rows rows, and at 20k rows Rows plus a float
            # loop took ~10x the transfer time and raised the driver's
            # memory peak by ~11 MB more (4 vCPU).
            #
            # The sort key puts the groups that would bias or poison
            # every coefficient FIRST: a NULL (for the linear
            # estimator's label, counted per group by __badlab) ahead
            # of a NaN/Inf (Spark's sum PROPAGATES NaN through the
            # compression), in a WoE feature, the label or the weight.
            # On a clean design the key is 0 everywhere, so the row
            # order is the (features, label) order. The first fetched
            # row thus decides the refusal on both routes, including
            # above the cap, where MLlib would otherwise fit biased
            # group means (linear) or raise a raw Spark error
            # (logistic).
            cols = [*self.selected_, y, "__w"]
            nulls = [f"{sql_ident(c)} IS NULL" for c in cols]
            if kind != "logistic":
                nulls.append("`__badlab` > 0")
            nonfinite = [
                f"isnan({c}) OR abs({c}) = CAST('Infinity' AS DOUBLE)"
                for c in (f"CAST({sql_ident(v)} AS DOUBLE)" for v in cols)]
            bad_first = F.expr(
                f"CASE WHEN {' OR '.join(nulls)} THEN 2"
                f" WHEN {' OR '.join(nonfinite)} THEN 1 ELSE 0 END").desc()
            tbl = (design.orderBy(bad_first, *self.selected_, y)
                   .limit(max_driver_rows + 1).toArrow())
            n = tbl.num_rows
            first = {c: tbl.column(c)[0].as_py()
                     for c in tbl.column_names} if n else {}
            if (any(v is None for v in first.values())
                    or first.get("__badlab", 0) > 0):
                raise ValueError(
                    "null in the estimator design (WoE feature, label "
                    "or weight) — the target column carries missing "
                    "values; filter or impute the offending rows "
                    "before Scorecard.fit")
            if not np.isfinite([float(first[c]) for c in first]).all():
                raise ValueError(
                    "non-finite value in the estimator design (WoE "
                    "feature, label or weight) — the target column "
                    "carries NaN/Inf; filter or impute the offending "
                    "rows before Scorecard.fit")
            if n <= max_driver_rows:
                X, yy, ww = _design(
                    [tbl.column(c).to_numpy().astype(float) for c in cols],
                    n, len(self.selected_))
                del tbl
                if kind == "logistic":
                    return _driver_logistic(X, yy, ww)
                if kind == "linear":
                    return _driver_wls(X, yy, ww)
                raise ValueError(f"unknown estimator {kind}")
            del tbl

        assembled = VectorAssembler(
            inputCols=self.selected_, outputCol="__features").transform(design)
        common = dict(
            featuresCol="__features",
            labelCol=y,
            weightCol="__w",
            standardization=False,
            regParam=reg,
            maxIter=self.estimator_params.get("maxIter", 100),
        )
        if kind == "logistic":
            from pyspark.ml.classification import LogisticRegression

            model = LogisticRegression(**common).fit(assembled)
            return list(model.coefficients.toArray()), model.intercept
        if kind == "linear":
            from pyspark.ml.regression import LinearRegression

            model = LinearRegression(**common).fit(assembled)
            return list(model.coefficients.toArray()), model.intercept
        raise ValueError(f"unknown estimator {kind}")

    # ------------------------------------------------------------------
    def _variable_bin_metric(self, v):
        """The per-bin transform values the estimator consumed
        (woe for binary, mean for continuous), incl. special/missing
        rows (their transform value is the configured default 0)."""
        b = self.binning_process.get_binned_variable(v)
        t = b.binning_table
        n_clean = sum(1 for k in t.kinds if k == "clean")
        vals = t.woe if self._target_type == "binary" else t.mean
        clean_vals = np.asarray(vals[:n_clean], dtype=float)
        return b, t, clean_vals

    def _build_points(self):
        """O12/O13: scale raw per-bin contributions into points."""
        n = len(self.selected_)
        raw = {}
        for v in self.selected_:
            _, _, woes = self._variable_bin_metric(v)
            raw[v] = self.coef_[v] * woes
        method = self.scaling_method
        if method is None:
            points = {v: raw[v] for v in self.selected_}
            base = self.intercept_
        elif method == "pdo_odds":
            p = self.scaling_method_params
            pdo, odds, sp = p["pdo"], p["odds"], p["scorecard_points"]
            factor = pdo / np.log(2)
            offset = sp - factor * np.log(odds)
            # score = offset - factor * (intercept + sum raw_i)
            points = {
                v: -factor * raw[v] + offset / n - factor * self.intercept_ / n
                for v in self.selected_
            }
            base = 0.0
        elif method == "min_max":
            p = self.scaling_method_params
            smin = sum(r.min() for r in raw.values()) + self.intercept_
            smax = sum(r.max() for r in raw.values()) + self.intercept_
            lo, hi = p["min"], p["max"]
            slope = (hi - lo) / max(smax - smin, _EPS)
            shift = lo - slope * smin
            points = {
                v: slope * raw[v] + (shift + slope * self.intercept_) / n
                for v in self.selected_
            }
            base = 0.0
        else:
            raise ValueError(f"unknown scaling_method {method}")

        if self.intercept_based:
            # O13: re-base each variable's minimum to 0
            for v in self.selected_:
                m = points[v].min()
                points[v] = points[v] - m
                base += m
        if self.rounding:
            # reference-parity rounding: preserve the min and max
            # achievable total score (RoundingMIP semantics), not just
            # the sum
            points = _round_points_minmax(points)
            base = float(np.round(base))
        self.points_ = points
        self.base_points_ = float(base)

    # ------------------------------------------------------------------
    def information(self, print_level: int = 1) -> str:
        """Scorecard fit report (reference scorecard.py information()).
        Returns the report string and prints it."""
        self._check_fitted()
        lines = [
            "Scorecard",
            f"  target type          : {self._target_type}",
            f"  n selected variables : {len(self.selected_)}",
            f"  scaling method       : {self.scaling_method}",
            f"  intercept            : {self.intercept_:.8f}",
        ]
        if print_level > 1:
            for v in self.selected_:
                lines.append(f"    {v:<20} coef={self.coef_[v]:+.8f}")
        report = "\n".join(lines)
        print(report)
        return report

    def table(self, style: str = "summary"):
        """Scorecard table: union of per-variable binning tables with
        Coefficient and Points columns (reference scorecard.py:631-663)."""
        self._check_fitted()
        import pandas as pd

        frames = []
        for v in self.selected_:
            b, t, woes = self._variable_bin_metric(v)
            n_clean = len(woes)
            tab = t.build(add_totals=False).iloc[:n_clean].copy()
            tab.insert(0, "variable", v)
            tab["coefficient"] = self.coef_[v]
            tab["points"] = self.points_[v]
            frames.append(tab)
        out = pd.concat(frames, ignore_index=True)
        if style == "summary":
            keep = [c for c in ("variable", "bin", "count", "event_rate",
                                "woe", "mean", "coefficient", "points")
                    if c in out.columns]
            out = out[keep]
        return out

    def _case_sql(self, values: dict) -> list:
        """One ``case_sql`` per selected variable mapping its raw value
        to ``values[v][bin]``; missing and special values and unseen
        categories score 0.0."""
        bp = self.binning_process
        cases = []
        for v in self.selected_:
            b = bp.get_binned_variable(v)
            cases.append(case_sql(
                v, dtype=bp._dtypes[v],
                values=[float(p) for p in values[v]], missing=0.0,
                specials=[(codes, 0.0) for codes in normalize_special_codes(
                    b.special_codes).values()],
                splits=b._splits, bin_categories=b._bin_categories))
        return cases

    def _sum_sql(self, start: float, values: dict) -> str:
        """``start + case_1 + ... + case_n``, summed left to right."""
        return " + ".join([sql_lit(float(start))] + self._case_sql(values))

    def _points(self) -> dict:
        return {v: [float(p) for p in self.points_[v]] for v in self.selected_}

    def _linear_sql(self) -> str:
        """Intercept + sum of coef x bin woe (binary) or mean."""
        terms = {}
        for v in self.selected_:
            _, _, metric = self._variable_bin_metric(v)
            terms[v] = [float(self.coef_[v] * m) for m in metric]
        return self._sum_sql(self.intercept_, terms)

    def _proba_sql(self) -> str:
        return f"1.0D / (1.0D + exp(-({self._linear_sql()})))"

    def score_expr(self):
        """The scorecard as ONE column expression."""
        self._check_fitted()
        return F.expr(self._sum_sql(self.base_points_, self._points()))

    def score(self, df: DataFrame, out_col: str = "score") -> DataFrame:
        return df.withColumn(out_col, self.score_expr())

    def predict_proba_expr(self):
        """Closed-form sigmoid of the linear predictor — map-only
        scoring at any scale (binary only)."""
        self._check_fitted()
        return F.expr(self._proba_sql())

    def predict_proba(self, df: DataFrame, out_col: str = "proba") -> DataFrame:
        return df.withColumn(out_col, self.predict_proba_expr())

    def decision_function_expr(self):
        """The estimator's linear predictor (signed distance to the
        hyperplane in WoE space) — reference scorecard.py:375-395."""
        self._check_fitted()
        return F.expr(self._linear_sql())

    def decision_function(self, df: DataFrame,
                          out_col: str = "decision") -> DataFrame:
        return df.withColumn(out_col, self.decision_function_expr())

    def transform(self, df: DataFrame) -> DataFrame:
        """Per-variable points columns (reference scorecard.py:455-475:
        'transform the dataset into scores' of shape
        n_samples x n_features) plus the original columns."""
        self._check_fitted()
        cases = self._case_sql(self._points())
        return df.select("*", *(F.expr(c).alias(f"{v}_points")
                                for v, c in zip(self.selected_, cases)))

    def predict(self, df: DataFrame, out_col: str = "prediction") -> DataFrame:
        self._check_fitted()
        if self._target_type == "binary":
            sql = f"CAST({self._proba_sql()} >= 0.5D AS INT)"
        else:
            sql = self._linear_sql()
        return df.withColumn(out_col, F.expr(sql))

    # ------------------------------------------------------------------
    def save(self, path: str):
        """Persist the full scorecard as JSON (reference
        scorecard.py:507-539 uses pickle; JSON keeps the model
        readable and engine-portable). Load supports score /
        predict_proba / table without refitting."""
        self._check_fitted()
        import json

        d = {
            "class": "Scorecard",
            "binning_process": self.binning_process.to_dict(),
            # custom estimator objects are not JSON-serializable; the
            # saved model only needs the fitted points, so record a tag
            "estimator": (self.estimator if isinstance(self.estimator, str)
                          else f"custom:{type(self.estimator).__name__}"),
            "scaling_method": self.scaling_method,
            "scaling_method_params": self.scaling_method_params,
            "intercept_based": self.intercept_based,
            "rounding": self.rounding,
            "target_type": self._target_type,
            "selected": list(self.selected_),
            "coef": {v: float(c) for v, c in self.coef_.items()},
            "intercept": self.intercept_,
            "points": {v: [float(p) for p in pts]
                       for v, pts in self.points_.items()},
            "base_points": self.base_points_,
        }
        with open(path, "w") as f:
            json.dump(d, f)

    @classmethod
    def load(cls, path: str) -> "Scorecard":
        import json

        from .binning_process import BinningProcess

        with open(path) as f:
            d = json.load(f)
        bp = BinningProcess.read_json_dict(d["binning_process"])
        obj = cls(
            bp,
            estimator=d["estimator"],
            scaling_method=d["scaling_method"],
            scaling_method_params=d["scaling_method_params"],
            intercept_based=d["intercept_based"],
            rounding=d["rounding"],
        )
        obj._target_type = d["target_type"]
        obj.selected_ = list(d["selected"])
        obj.coef_ = {v: float(c) for v, c in d["coef"].items()}
        obj.intercept_ = float(d["intercept"])
        obj.points_ = {v: np.asarray(p, dtype=float)
                       for v, p in d["points"].items()}
        obj.base_points_ = float(d["base_points"])
        obj._fitted = True
        return obj

    def _check_fitted(self):
        if not self._fitted:
            raise RuntimeError("Scorecard is not fitted")
