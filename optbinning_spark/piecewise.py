"""OptimalPWBinning — piecewise-polynomial binning (O11, F6).

Reference: optbinning/binning/piecewise/ — an inner OptimalBinning
proposes bins; ropwr (cvxpy) fits a continuous piecewise polynomial of
the target over x; transform evaluates the polynomial (clipped).

Spark-native replacement: the piecewise least-squares fit with
smoothness constraints is an EXACT small KKT / active-set QP whose
coefficients are per-bin sufficient statistics (sum w*x^p, p <= 2d,
and sum w*y*x^p, p <= d) — ONE grouped aggregation for any degree.
Monotonic trends (ascending/descending/peak/valley) become
derivative-sign inequality rows; degree-d splines get C^{d-1}
derivative-continuity equality rows (continuous_deriv).

Transform (F6) is arithmetic on columns: a per-bin Horner polynomial
of (rescaled) x, clipped to [lb, ub] — map-only, SQL-expressible.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .binning import ContinuousOptimalBinning, OptimalBinning
from .operators.preprocessing import numeric_bin_expr

_EPS = 1e-15


def piecewise_polynomial_expr(col, splits, coefs, x_center=0.0,
                              x_scale=1.0, lb=None, ub=None):
    """Pure piecewise-polynomial column expression over fixed splits
    and per-bin coefficients on the rescaled input (reference
    piecewise/transformations.py:18-61 evaluation semantics): bin i is
    ``col < splits[i]`` first-match, each bin evaluates its polynomial
    by Horner on ``(col - x_center) / x_scale``, and the result is
    clipped to [lb, ub]. Map-only and SQL-replayable — shared by the
    fitted transform and by fixed-coefficient (oracle-checked)
    transforms."""
    xs = (col - F.lit(float(x_center))) / F.lit(float(x_scale))
    expr = None
    for i in range(len(splits) + 1):
        c = list(coefs[i])
        val = F.lit(float(c[-1]))
        for cc in c[-2::-1]:
            val = F.lit(float(cc)) + xs * val
        if i < len(splits):
            cond = col < float(splits[i])
            expr = F.when(cond, val) if expr is None else expr.when(cond, val)
        else:
            expr = expr.otherwise(val) if expr is not None else val
    if lb is not None:
        expr = F.greatest(expr, F.lit(float(lb)))
    if ub is not None:
        expr = F.least(expr, F.lit(float(ub)))
    return expr


def _active_set_qp(H, f, Aeq, G, h, max_iter=200):
    """Minimize 0.5 x'Hx - f'x s.t. Aeq x = 0, G x <= h, by a primal
    active-set method (tiny dense systems; <= ~40 constraints here).
    Standard textbook algorithm — add the most-violated inequality,
    drop constraints with negative multipliers, repeat.

    The KKT solve EQUILIBRATES before solving: H/f are divided by
    max|H| and every constraint row is scaled to unit norm (the
    multipliers are rescaled back, so drop decisions see true
    values). Raw moment matrices make the unscaled system mix
    O(1e8) objective entries with O(1) constraint rows — condition
    ~1e16 — and lstsq(rcond=None)'s singular-value cutoff then
    TRUNCATES the constraint block: the returned point silently
    fails to satisfy the "active" row, the multiplier sign flips,
    and the add/drop loop cycles to max_iter, returning an
    infeasible fit (a descending-constrained piecewise model that
    ascends — found by the r16 piecewise_qp_contract KKT certificate
    at sf0.1). Plain LU solve handles the equilibrated system
    exactly; lstsq remains only as the genuinely-singular fallback
    (degenerate empty-bin blocks, redundant rows). A residual
    violation after the loop raises instead of returning the bad
    fit."""
    n = H.shape[0]
    active: list[int] = []
    h_scale = max(float(np.abs(H).max()), 1.0)

    def solve_with(act):
        rows = [Aeq] if Aeq is not None and len(Aeq) else []
        rhs_c = [np.zeros(len(Aeq))] if Aeq is not None and len(Aeq) else []
        if act:
            rows.append(G[act])
            rhs_c.append(h[act])  # active inequalities hold AT the bound
        A = np.vstack(rows) if rows else np.zeros((0, n))
        m = A.shape[0]
        if m:
            norms = np.linalg.norm(A, axis=1)
            norms[norms == 0] = 1.0
            A_s = A / norms[:, None]
            b_s = np.concatenate(rhs_c) / norms
        else:
            A_s = A
            b_s = np.zeros(0)
        KKT = np.zeros((n + m, n + m))
        KKT[:n, :n] = H / h_scale
        if m:
            KKT[:n, n:] = A_s.T
            KKT[n:, :n] = A_s
        rhs = np.concatenate([f / h_scale, b_s])
        try:
            sol = np.linalg.solve(KKT, rhs)
            if not np.all(np.isfinite(sol)):
                raise np.linalg.LinAlgError("non-finite")
        except np.linalg.LinAlgError:
            sol = np.linalg.lstsq(KKT, rhs, rcond=None)[0]
        lam = sol[n:] * h_scale / norms if m else sol[n:]
        n_eq = len(Aeq) if Aeq is not None else 0
        return sol[:n], lam[n_eq:]

    x, lam = solve_with(active)
    for _ in range(max_iter):
        if G is not None and len(G):
            viol = G @ x - h
            worst = int(np.argmax(viol))
            if viol[worst] > 1e-9:
                if worst not in active:
                    active.append(worst)
                    x, lam = solve_with(active)
                    continue
        # drop threshold is RELATIVE to the multiplier scale: lam is
        # rescaled by h_scale/norms (h_scale up to ~1e8), so an
        # absolute -1e-9 would let scaled-space numerical noise —
        # O(0.1) after unscaling — trigger spurious drops and add/drop
        # cycling at extreme scales (mirrors the certificate's own
        # relative mu tolerance)
        if active and len(lam) and \
                lam.min() < -1e-9 * (1.0 + float(np.abs(lam).max())):
            active.pop(int(np.argmin(lam)))
            x, lam = solve_with(active)
            continue
        break
    if G is not None and len(G):
        resid = float((G @ x - h).max())
        if resid > 1e-6 * (1.0 + float(np.abs(x).max())):
            # The jump-to-KKT loop can stall when the working set turns
            # structurally singular (> n active rows): LU is backward
            # stable, so on some LAPACK builds a singular KKT "solves"
            # to finite garbage with a SMALL relative residual instead
            # of raising, the lstsq fallback never fires, and the
            # add/drop pair cycles to max_iter. Whether that manifests
            # is BLAS-build-dependent (the same seeds pass on builds
            # whose LU raises). Rather than perturb the converging
            # mainline (bit-stability of fitted outputs), rescue only
            # the stalled case with a method that cannot cycle; raise
            # only if the rescue cannot certify optimality either.
            x_r = _qp_rescue(H, f, Aeq, G, h)
            if x_r is not None:
                return x_r
            raise RuntimeError(
                "active-set QP did not reach a feasible point "
                f"(max constraint violation {resid:.3e}); the "
                "constrained piecewise fit would silently break its "
                "monotonicity/bound constraints — refusing instead")
    return x


def _qp_rescue(H, f, Aeq, G, h, sweeps=20000):
    """Fallback for QPs where the active-set loop stalls: dual
    projected coordinate ascent (Gauss-Seidel on the PSD dual —
    monotone, cannot cycle) to locate the active set, then one exact
    equality-KKT polish whose KKT conditions are VERIFIED (primal
    feasibility, dual nonnegativity, stationarity). For a convex QP a
    verified KKT point is the global optimum, so a polished return is
    exact, not approximate. If the polish does not verify, the dual
    iterate itself is returned only when it passes the same three
    checks (stationarity under the polish's bound, feasibility and
    complementarity under the caller's 1e-6 bound). Returns None when
    it cannot certify (indefinite H, unconverged dual) — the caller
    keeps its loud refusal for that case."""
    n = H.shape[0]
    h_scale = max(float(np.abs(H).max()), 1.0)
    Hs = H / h_scale
    fs = f / h_scale
    try:
        np.linalg.cholesky(Hs)
    except np.linalg.LinAlgError:
        return None  # not PD: the dual iteration has no guarantee
    k_eq = len(Aeq) if Aeq is not None and len(Aeq) else 0
    rows = [Aeq] if k_eq else []
    rhs_c = [np.zeros(k_eq)] if k_eq else []
    if G is not None and len(G):
        rows.append(G)
        rhs_c.append(h)
    C = np.vstack(rows)
    d = np.concatenate(rhs_c)
    norms = np.linalg.norm(C, axis=1)
    norms[norms == 0] = 1.0
    C_s = C / norms[:, None]
    d_s = d / norms
    M = C_s.shape[0]
    W = np.linalg.solve(Hs, C_s.T)          # Hs^-1 C', n x M
    D = np.einsum("ij,ji->i", C_s, W)       # C_i Hs^-1 C_i' >= 0
    x = np.linalg.solve(Hs, fs)
    lam = np.zeros(M)
    # x == Hs^-1 (fs - C_s' lam) is maintained by the incremental
    # updates, up to rounding.
    for _ in range(sweeps):
        delta = 0.0
        for i in range(M):
            if D[i] <= 0.0:
                continue
            g = float(C_s[i] @ x) - d_s[i]
            new = lam[i] + g / D[i]
            if i >= k_eq and new < 0.0:
                new = 0.0
            step = new - lam[i]
            if step != 0.0:
                lam[i] = new
                x = x - step * W[:, i]
                delta = max(delta, abs(step))
        if delta <= 1e-14 * (1.0 + float(np.abs(lam).max())):
            break
    xn = 1.0 + float(np.abs(x).max())
    # exact polish on the dual-identified active set
    lam_scale = 1.0 + float(np.abs(lam).max())
    act = [i for i in range(k_eq, M) if lam[i] > 1e-9 * lam_scale]
    A_p = C_s[list(range(k_eq)) + act]
    b_p = d_s[list(range(k_eq)) + act]
    mp = A_p.shape[0]
    KKT = np.zeros((n + mp, n + mp))
    KKT[:n, :n] = Hs
    if mp:
        KKT[:n, n:] = A_p.T
        KKT[n:, :n] = A_p
    rhs = np.concatenate([fs, b_p])
    sol = np.linalg.lstsq(KKT, rhs, rcond=None)[0]
    x_p, lam_p = sol[:n], sol[n:]
    if np.all(np.isfinite(x_p)):
        xpn = 1.0 + float(np.abs(x_p).max())
        feas = (G is None or not len(G)
                or float((G @ x_p - h).max()) <= 1e-9 * xpn)
        eq_ok = (not k_eq
                 or float(np.abs(Aeq @ x_p).max()) <= 1e-9 * xpn)
        dual_ok = (not mp or float(lam_p[k_eq:].min(initial=0.0))
                   >= -1e-9 * (1.0 + float(np.abs(lam_p).max())))
        stat = Hs @ x_p - fs + (A_p.T @ lam_p if mp else 0.0)
        stat_ok = float(np.abs(stat).max()) <= 1e-8 * (
            1.0 + float(np.abs(fs).max()) + float(np.abs(lam_p).max()))
        if feas and eq_ok and dual_ok and stat_ok:
            return x_p
    # polish unverified: accept the dual iterate only as a verified
    # KKT point (see docstring) — the incremental updates keep
    # stationarity only in exact arithmetic, so after up to `sweeps`
    # rounds of rounding it is checked, not assumed; else give up.
    viol_ok = (G is None or not len(G)
               or float((G @ x - h).max()) <= 1e-6 * xn)
    eq_ok = not k_eq or float(np.abs(Aeq @ x).max()) <= 1e-6 * xn
    comp = 0.0
    for i in range(k_eq, M):
        comp = max(comp, abs(lam[i] * (float(C_s[i] @ x) - d_s[i])))
    comp_ok = comp <= 1e-6 * (1.0 + float(np.abs(fs).max()))
    stat = Hs @ x - fs + C_s.T @ lam
    stat_ok = float(np.abs(stat).max()) <= 1e-8 * (
        1.0 + float(np.abs(fs).max()) + float(np.abs(lam).max()))
    if viol_ok and eq_ok and comp_ok and stat_ok:
        return x
    return None


def _penalized_logistic_1d(xs, n_event, n_total, C=1.0, max_iter=200,
                           tol=1e-12):
    """sklearn-equivalent L2-penalized logistic on a value histogram:
    minimize 0.5*w^2 + C * sum_i [n_i * logloss_i] with the intercept
    unpenalized (sklearn LogisticRegression defaults). Newton on two
    parameters."""
    beta = np.zeros(2)  # (intercept, slope)
    A = np.column_stack([np.ones_like(xs), xs])
    pen = np.diag([0.0, 1.0])
    for _ in range(max_iter):
        z = A @ beta
        p = 1.0 / (1.0 + np.exp(-np.clip(z, -35, 35)))
        g = C * A.T @ (n_event - n_total * p) - pen @ beta
        W = C * n_total * p * (1.0 - p)
        H = A.T @ (A * W[:, None]) + pen
        step = np.linalg.solve(H, g)
        beta = beta + step
        if np.max(np.abs(step)) < tol:
            break
    return beta


class OptimalPWBinning:
    def __init__(
        self,
        name: str = "",
        objective: str = "binary",  # "binary" | "continuous" (problem type)
        degree: int = 1,
        continuity: bool = True,
        continuous_deriv: bool = True,
        prebinning_method: str = "cart",  # reference piecewise/binning.py:184
        max_n_prebins: int = 20,
        min_prebin_size: float = 0.05,
        min_n_bins: int | None = None,
        max_n_bins: int | None = None,
        min_bin_size: float | None = None,
        max_bin_size: float | None = None,
        monotonic_trend: str | None = "auto",
        max_pvalue: float | None = None,
        special_codes=None,
        user_splits=None,
        outlier_detector: str | None = None,
        outlier_params: dict | None = None,
        loss: str = "l2",  # reference ropwr 'objective': l2|l1|huber|quantile
        h_epsilon: float = 1.35,
        quantile: float = 0.5,
        n_subsamples: int = 200_000,
        lb: float | None = None,
        ub: float | None = None,
        estimator=None,
    ):
        if not (0 <= int(degree) <= 5):
            raise ValueError("degree must be in [0, 5]")
        if loss not in ("l2", "l1", "huber", "quantile"):
            raise ValueError("loss must be l2|l1|huber|quantile")
        self.name = name
        self.objective = objective
        # X6 (reference piecewise/base.py:215-233): custom estimator
        # with fit + predict_proba for the binary target smoothing;
        # None -> the built-in penalized-logistic equivalent
        self.estimator = estimator
        self.degree = int(degree)
        self.continuity = continuity and self.degree >= 1
        # reference default: degree-d splines with C^{d-1} smoothness
        # (piecewise/binning.py:58-61); only meaningful above linear
        self.continuous_deriv = continuous_deriv
        self.prebinning_method = prebinning_method
        self.max_n_prebins = max_n_prebins
        self.min_prebin_size = min_prebin_size
        self.min_n_bins = min_n_bins
        self.max_n_bins = max_n_bins
        self.min_bin_size = min_bin_size
        self.max_bin_size = max_bin_size
        self.monotonic_trend = monotonic_trend
        self.max_pvalue = max_pvalue
        self.special_codes = special_codes
        self.user_splits = user_splits
        self.outlier_detector = outlier_detector
        self.outlier_params = outlier_params
        self.loss = loss
        self.h_epsilon = float(h_epsilon)
        self.quantile = float(quantile)
        self.n_subsamples = n_subsamples
        self.lb = lb
        self.ub = ub
        self._fitted = False

    def fit(self, df: DataFrame, x: str, y: str, lb=None, ub=None):
        self.name = self.name or x
        if lb is not None:
            self.lb = lb
        if ub is not None:
            self.ub = ub
        # stage 1: inner optimal binning proposes the knots (reference
        # piecewise/base.py:359-401 — the standard binary/continuous
        # OptimalBinning; concave/convex stay a QP-only constraint and
        # the inner binning runs with "auto")
        inner_trend = (
            "auto" if self.monotonic_trend in ("concave", "convex")
            else self.monotonic_trend
        )
        inner_kw = dict(
            prebinning_method=self.prebinning_method,
            max_n_prebins=self.max_n_prebins,
            min_prebin_size=self.min_prebin_size,
            min_n_bins=self.min_n_bins,
            max_n_bins=self.max_n_bins,
            min_bin_size=self.min_bin_size,
            max_bin_size=self.max_bin_size,
            monotonic_trend=inner_trend,
            max_pvalue=self.max_pvalue,
            special_codes=self.special_codes,
            user_splits=self.user_splits,
            outlier_detector=self.outlier_detector,
            outlier_params=self.outlier_params,
        )
        if self.objective == "binary":
            inner = OptimalBinning(**inner_kw)
        else:
            inner = ContinuousOptimalBinning(**inner_kw)
        inner.fit(df, x, y)
        self.splits_ = np.asarray(inner.splits, dtype=float)
        self.inner_ = inner

        if self.objective == "binary":
            self._fit_binary(df, x, y)
        else:
            self._fit_ls_on_target(df, x, y)
        if self.objective == "binary":
            t = inner.binning_table
            self._t_ne = float(np.sum(t.ne_all))
            self._t_ev = float(np.sum(t.ev_all))
            # reference default: NO clipping unless lb/ub passed
        self._fitted = True
        return self

    def _fit_binary(self, df, x, y):
        """Reference binary pipeline (piecewise/binning.py:345-360):
        smooth the target with an L2-penalized single-feature logistic
        regression (sklearn LogisticRegression C=1 semantics, intercept
        unpenalized), then least-squares fit the PREDICTED event rate
        over the bins. Sufficient statistics are the per-distinct-value
        class counts — one aggregation (shared histogram contract)."""
        from .operators.prebinning import value_histogram
        from .operators.preprocessing import clean_value_expr

        work = df.withColumn(
            "__pw_x",
            clean_value_expr(
                F.col(x).cast("double"), "numerical", self.special_codes
            ),
        )
        values, stats = value_histogram(
            work, "__pw_x", y, None, task="classification", classes=[0, 1]
        )
        n0, n1 = stats[:, 0], stats[:, 1]
        w = n0 + n1
        if self.estimator is not None:
            # custom smoother (X6): weighted two-rows-per-value design
            # reproduces the raw-row weighted likelihood exactly, so
            # any sklearn-style classifier with sample_weight support
            # plugs in without driver-side row expansion
            X_fit = np.concatenate([values, values]).reshape(-1, 1)
            y_fit = np.concatenate(
                [np.zeros(len(values)), np.ones(len(values))])
            w_fit = np.concatenate([n0, n1])
            import inspect

            try:
                params = inspect.signature(self.estimator.fit).parameters
                # EXPLICIT sample_weight parameter only: a **kwargs fit
                # may just forward to an inner estimator without weight
                # support, and passing sample_weight would crash where
                # the row-expansion fallback succeeds
                accepts_w = "sample_weight" in params
            except (TypeError, ValueError):  # C-implemented fit
                accepts_w = True
            if accepts_w:
                self.estimator.fit(X_fit, y_fit, sample_weight=w_fit)
            else:
                # Row-expansion fallback for estimators without
                # sample_weight: rescale so the smallest positive weight
                # rounds to >= 1 — fractional aggregated weights would
                # otherwise be truncated to zero repeated rows. Signature
                # inspection (not a bare except TypeError) so a
                # TypeError raised INSIDE a user estimator's fit
                # propagates instead of being silently retried.
                pos = w_fit[w_fit > 0]
                scale = (1.0 / float(pos.min())
                         if pos.size and float(pos.min()) < 1.0 else 1.0)
                # bound the blow-up: scale = 1/min_weight can multiply
                # the repeated-row total by max_w/min_w (one 1e-4
                # weight next to 1e6 counts would ask np.repeat for
                # ~1e10 rows). Cap the expanded design at ~1M rows —
                # beyond that the tiny weights are statistically
                # irrelevant to the fit anyway.
                total = float(w_fit.sum())
                max_rows = 1_000_000
                if total * scale > max_rows:
                    scale = max_rows / max(total, 1.0)
                w_int = np.rint(w_fit * scale).astype(int)
                keep = w_int > 0
                self.estimator.fit(
                    np.repeat(X_fit[keep], w_int[keep], axis=0),
                    np.repeat(y_fit[keep], w_int[keep]),
                )
            pred = np.asarray(
                self.estimator.predict_proba(values.reshape(-1, 1))
            )[:, -1]
        else:
            beta = _penalized_logistic_1d(values, n1, w)
            pred = 1.0 / (1.0 + np.exp(-(beta[0] + beta[1] * values)))
        # reference base.py:439-449: monotonic trend from the ACTUAL
        # per-bin event rates over the optimal splits
        idx = (np.digitize(values, self.splits_) if len(self.splits_)
               else np.zeros(len(values), dtype=int))
        k = len(self.splits_) + 1
        rates = np.array([
            n1[idx == b].sum() / max(w[idx == b].sum(), _EPS)
            for b in range(k)
        ])
        mono = self._resolve_monotonic(rates)
        self._fit_ls_points(values, pred, w, monotonic=mono,
                            xmin=float(values.min()), xmax=float(values.max()))

    @staticmethod
    def _resolve_monotonic_auto(bin_means: np.ndarray):
        """Reference base.py:439-450: classify the per-bin means; keep
        peak/valley as QP constraint families, drop only genuinely
        non-monotonic shapes."""
        from .core.metrics import type_of_monotonic_trend

        t = type_of_monotonic_trend(np.asarray(bin_means, dtype=float))
        if t in ("undefined", "no monotonic"):
            return None
        if "peak" in t:
            return "peak"
        if "valley" in t:
            return "valley"
        return t

    def _resolve_monotonic(self, bin_means: np.ndarray):
        if self.monotonic_trend == "auto":
            return self._resolve_monotonic_auto(bin_means)
        return self.monotonic_trend

    def _fit_ls_on_target(self, df, x, y):
        """Continuous objective: LSQ of y over x — one aggregation of
        per-bin moments sum(x^p) p<=2d and sum(y*x^p) p<=d. For
        degree>=2 x is first affinely rescaled to [-1, 1] (one cheap
        min/max agg) so the raw-moment normal equations stay
        conditioned; the rescale is folded into the transform.

        Robust losses (l1/huber/quantile) are not expressible as one
        moment aggregation; they run IRLS on a driver-side subsample —
        the reference's own n_subsamples mechanism
        (piecewise/base.py:412-427)."""
        from .operators.preprocessing import clean_value_expr

        xc = clean_value_expr(
            F.col(x).cast("double"), "numerical", self.special_codes
        )
        yc = F.col(y).cast("double")
        clean = df.select(xc.alias("__pw_x"), yc.alias("__pw_y")).filter(
            F.col("__pw_x").isNotNull()
            & F.col("__pw_y").isNotNull() & ~F.isnan(F.col("__pw_y"))
        )
        xc = F.col("__pw_x")
        yc = F.col("__pw_y")
        if self.loss != "l2":
            n_rows = clean.count()
            frac = min(1.0, 1.1 * self.n_subsamples / max(n_rows, 1))
            # Arrow toPandas, not collect(): the subsample is up to
            # n_subsamples (200k default) rows — columnar transfer
            # beats py4j Row objects ~10x at that size (same win
            # measured on the scorecard Huber sample path)
            pts = (clean.sample(False, frac, seed=42) if frac < 1.0
                   else clean).limit(self.n_subsamples).toPandas()
            xs = pts["__pw_x"].to_numpy(dtype=float)
            ys = pts["__pw_y"].to_numpy(dtype=float)
            # same loud-failure posture as the scorecard design
            # matrix: NaN x/y is routed to missing upstream, but
            # +/-Inf passes both the null and isnan filters and would
            # silently corrupt digitize/min/max below
            if not (np.isfinite(xs).all() and np.isfinite(ys).all()):
                raise ValueError(
                    "non-finite value in the piecewise subsample "
                    "after cleaning — x or y carries +/-Inf; add it "
                    "to special_codes or filter before fit")
            b_idx = (np.digitize(xs, self.splits_) if len(self.splits_)
                     else np.zeros(len(xs), dtype=int))
            k = len(self.splits_) + 1
            means = np.array([
                ys[b_idx == b].mean() if (b_idx == b).any() else np.nan
                for b in range(k)
            ])
            mono = self._resolve_monotonic(means[~np.isnan(means)]
                                           if np.isnan(means).any() else means)
            self._fit_ls_points(xs, ys, np.ones_like(xs), monotonic=mono,
                                xmin=float(xs.min()), xmax=float(xs.max()))
            return
        deg = self.degree
        if deg >= 2:
            r = clean.agg(F.min(xc).alias("mn"), F.max(xc).alias("mx")).first()
            self._set_scale(r["mn"], r["mx"])
        else:
            self._set_scale(None, None)
        xs = (xc - F.lit(self._xc)) / F.lit(self._xs)
        b = numeric_bin_expr(xc, self.splits_)
        aggs = [F.count("*").alias("n")]
        aggs += [
            F.sum(F.pow(xs, p)).alias(f"mx_{p}") for p in range(1, 2 * deg + 1)
        ]
        aggs += [
            F.sum(yc * F.pow(xs, p)).alias(f"my_{p}") for p in range(deg + 1)
        ]
        aggs += [F.min(xs).alias("mnx"), F.max(xs).alias("mxx")]
        rows = clean.groupBy(b.alias("bin")).agg(*aggs).collect()
        k = len(self.splits_) + 1
        Mx = np.zeros((2 * deg + 1, k))
        My = np.zeros((deg + 1, k))
        xmin, xmax = np.inf, -np.inf
        for r in rows:
            i = int(r["bin"])
            Mx[0, i] = r["n"]
            for p in range(1, 2 * deg + 1):
                Mx[p, i] = r[f"mx_{p}"]
            for p in range(deg + 1):
                My[p, i] = r[f"my_{p}"]
            xmin = min(xmin, r["mnx"])
            xmax = max(xmax, r["mxx"])
        # reference base.py:439-450 (continuous variant): auto trend
        # from the per-bin target means over the optimal splits
        means = My[0] / np.maximum(Mx[0], _EPS)
        mono = self._resolve_monotonic(means)
        self._solve_ls(Mx, My, monotonic=mono,
                       xmin=float(xmin) if np.isfinite(xmin) else None,
                       xmax=float(xmax) if np.isfinite(xmax) else None)

    def _set_scale(self, mn, mx):
        """Affine x -> (x - c)/s used for degree>=2 conditioning;
        identity for degree<=1 (exact backward parity)."""
        if mn is None or mx is None or not np.isfinite([mn, mx]).all() \
                or mx <= mn:
            self._xc, self._xs = 0.0, 1.0
        else:
            self._xc = (float(mx) + float(mn)) / 2.0
            self._xs = (float(mx) - float(mn)) / 2.0

    @property
    def _scaled_splits(self):
        return (np.asarray(self.splits_, dtype=float) - self._xc) / self._xs

    def _irls_weights(self, r):
        """Per-point IRLS multipliers for the robust losses (the
        classical majorize-minimize weights: l1 -> 1/|r|, huber ->
        min(1, h/|r|), quantile -> |tau - 1[r<0]|/|r|)."""
        ar = np.maximum(np.abs(r), 1e-8)
        if self.loss == "l1":
            return 1.0 / ar
        if self.loss == "huber":
            return np.minimum(1.0, self.h_epsilon / ar)
        if self.loss == "quantile":
            tau = self.quantile
            return np.where(r >= 0, tau, 1.0 - tau) / ar
        return np.ones_like(r)

    def _eval_points(self, xsc, idx):
        """Evaluate the fitted per-bin polynomials at scaled points."""
        out = np.zeros(len(xsc))
        for b in range(self.coefs_.shape[0]):
            m = idx == b
            if m.any():
                out[m] = np.polyval(self.coefs_[b][::-1], xsc[m])
        return out

    def _fit_ls_points(self, xs, ys, ws, monotonic=None, xmin=None, xmax=None):
        """Weighted LSQ sufficient stats from driver-side points; for
        robust losses, IRLS — each iteration re-solves the constrained
        QP with reweighted moments (weights are the standard
        majorize-minimize multipliers), so monotonicity/continuity/
        bound constraints hold at every iterate."""
        deg = self.degree
        if deg >= 2 and len(xs):
            self._set_scale(float(np.min(xs)), float(np.max(xs)))
        else:
            self._set_scale(None, None)
        xs = np.asarray(xs, dtype=float)
        ys = np.asarray(ys, dtype=float)
        ws = np.asarray(ws, dtype=float)
        xsc = (xs - self._xc) / self._xs
        k = len(self.splits_) + 1
        idx = np.digitize(xs, self.splits_) if len(self.splits_) else np.zeros(
            len(xs), dtype=int
        )
        sx_min = (xmin - self._xc) / self._xs if xmin is not None else None
        sx_max = (xmax - self._xc) / self._xs if xmax is not None else None
        xpow = np.vstack([xsc**p for p in range(2 * deg + 1)])

        def solve_weighted(w_eff):
            Mx = np.zeros((2 * deg + 1, k))
            My = np.zeros((deg + 1, k))
            for b in range(k):
                m = idx == b
                wm = w_eff[m]
                for p in range(2 * deg + 1):
                    Mx[p, b] = (wm * xpow[p][m]).sum()
                for p in range(deg + 1):
                    My[p, b] = (wm * ys[m] * xpow[p][m]).sum()
            self._solve_ls(Mx, My, monotonic=monotonic,
                           xmin=sx_min, xmax=sx_max)

        solve_weighted(ws)
        if self.loss == "l2":
            return
        for _ in range(40):
            prev = self.coefs_.copy()
            r = ys - self._eval_points(xsc, idx)
            solve_weighted(ws * self._irls_weights(r))
            if np.max(np.abs(self.coefs_ - prev)) < 1e-8 * (
                1.0 + np.max(np.abs(prev))
            ):
                break

    def _solve_ls(self, Mx, My, monotonic=None, xmin=None, xmax=None):
        """Exact KKT / active-set QP solve of the smoothness-
        constrained piecewise-polynomial LS (ropwr's L2 constraint
        families, piecewise/base.py:459-474):

        - objective: per-bin quadratic forms H_b[p,q] = sum(w x^{p+q}),
          f_b[p] = sum(w y x^p) — additive sufficient statistics;
        - equalities: value continuity at each knot, plus C^{d-1}
          derivative continuity when continuous_deriv (splines);
        - inequalities: derivative-sign monotonicity and lb/ub bounds,
          enforced at each piece's endpoints (+ midpoint for degree>=2,
          where the extremum can be interior).

        All arrays are in the rescaled x domain (see _set_scale)."""
        deg = self.degree
        k = Mx.shape[1]
        P = deg + 1  # params per bin
        H = np.zeros((P * k, P * k))
        f = np.zeros(P * k)
        for b in range(k):
            if Mx[0, b] <= 0:
                # tie degenerate bins via identity block (continuity
                # rows then pin them to the neighbours)
                for p in range(P):
                    H[P * b + p, P * b + p] = 1.0
                continue
            for p in range(P):
                for q in range(P):
                    H[P * b + p, P * b + q] = Mx[p + q, b]
                f[P * b + p] = My[p, b]

        splits = self._scaled_splits

        def deriv_row(b, t, order):
            """Row of d^order/dx^order at point t for bin b."""
            row = np.zeros(P * k)
            for j in range(order, P):
                c = 1.0
                for r in range(order):
                    c *= j - r
                row[P * b + j] = c * t ** (j - order)
            return row

        eq_rows = []
        if self.continuity:
            max_order = deg - 1 if (self.continuous_deriv and deg >= 2) else 0
            for j, s in enumerate(splits):
                for order in range(max_order + 1):
                    eq_rows.append(
                        deriv_row(j, s, order) - deriv_row(j + 1, s, order)
                    )
        A = np.array(eq_rows) if eq_rows else np.zeros((0, P * k))

        def piece_points(b):
            pts_all = (
                [xmin if xmin is not None else (splits[0] - 1.0 if len(splits) else 0.0)]
                + [float(s) for s in splits]
                + [xmax if xmax is not None else (splits[-1] + 1.0 if len(splits) else 1.0)]
            )
            lo_, hi_ = pts_all[b], pts_all[b + 1]
            if deg >= 2:
                return [lo_, 0.5 * (lo_ + hi_), hi_]
            return [lo_, hi_]

        def bound_rows():
            rows_, vals_ = [], []
            if (self.lb is not None or self.ub is not None) and xmin is not None:
                for b in range(k):
                    for t in piece_points(b):
                        if self.ub is not None:
                            rows_.append(deriv_row(b, t, 0))
                            vals_.append(float(self.ub))
                        if self.lb is not None:
                            rows_.append(-deriv_row(b, t, 0))
                            vals_.append(-float(self.lb))
            return rows_, vals_

        def slope_rows(signs):
            # signs[b] = +1 -> f' >= 0 on piece b; -1 -> f' <= 0; 0 free
            rows_, vals_ = [], []
            for b in range(k):
                if signs[b] == 0 or deg == 0:
                    continue
                pts = piece_points(b) if deg >= 2 else [piece_points(b)[0]]
                for t in pts:
                    rows_.append(-float(signs[b]) * deriv_row(b, t, 1))
                    vals_.append(0.0)
            return rows_, vals_

        def solve(G_rows, h_vals):
            if G_rows:
                return _active_set_qp(
                    H, f, A, np.array(G_rows), np.array(h_vals)
                )
            # Equality-only branch: route through the SAME equilibrated
            # KKT solve as the constrained path (_active_set_qp with an
            # empty inequality set). The raw-KKT lstsq(rcond=None) this
            # replaces had the exact bug class the r16 contract caught
            # on the constrained branch: O(1e8) raw-moment H rows next
            # to O(1) continuity rows push the condition past lstsq's
            # singular-value cutoff, which then silently TRUNCATES the
            # A block and returns a discontinuous "fit".
            theta_ = _active_set_qp(
                H, f, A, np.zeros((0, P * k)), np.zeros(0))
            if A.shape[0]:
                # post-solve continuity residual: fail loudly if the
                # equality block was not actually satisfied (singular
                # fallback can still drop it for degenerate systems)
                resid = float(np.abs(A @ theta_).max())
                if resid > 1e-6 * (1.0 + float(np.abs(theta_).max())):
                    raise RuntimeError(
                        "piecewise equality-constrained solve left a "
                        f"continuity residual of {resid:.3e}; the fit "
                        "would silently be discontinuous — refusing")
            return theta_

        def curvature_rows(sign):
            # sign=+1 -> convex (f'' >= 0), -1 -> concave: second-
            # derivative sign inside pieces (deg>=2) plus derivative
            # ordering across knots (covers deg==1 splines and non-C1
            # configurations)
            rows_, vals_ = [], []
            if deg >= 2:
                for b in range(k):
                    for t in piece_points(b):
                        rows_.append(-float(sign) * deriv_row(b, t, 2))
                        vals_.append(0.0)
            if deg >= 1:
                for j, s in enumerate(splits):
                    rows_.append(
                        -float(sign)
                        * (deriv_row(j + 1, s, 1) - deriv_row(j, s, 1))
                    )
                    vals_.append(0.0)
            return rows_, vals_

        br, bv = bound_rows()
        if monotonic in ("concave", "convex") and deg >= 1:
            sr, sv = curvature_rows(1 if monotonic == "convex" else -1)
            rows_used, vals_used = sr + br, sv + bv
            theta = solve(rows_used, vals_used)
        elif monotonic in ("peak", "valley") and deg >= 1:
            # ropwr's peak/valley families allow ONE trend change
            # point; the change position is not data-sized (k <= ~20),
            # so enumerate it and keep the lowest-objective solution
            # (reference piecewise monotonic_trend="peak"/"valley").
            up = 1 if monotonic == "peak" else -1
            best, best_obj = None, np.inf
            rows_used, vals_used = list(br), list(bv)
            for t in range(k + 1):
                signs = [up] * t + [-up] * (k - t)
                sr, sv = slope_rows(signs)
                theta_t = solve(sr + br, sv + bv)
                obj = 0.5 * theta_t @ H @ theta_t - f @ theta_t
                if obj < best_obj - 1e-12:
                    best, best_obj = theta_t, obj
                    rows_used, vals_used = sr + br, sv + bv
            theta = best
        else:
            G_rows, h_vals = list(br), list(bv)
            if monotonic in ("ascending", "descending") and deg >= 1:
                sgn = 1 if monotonic == "ascending" else -1
                sr, sv = slope_rows([sgn] * k)
                G_rows += sr
                h_vals += sv
            rows_used, vals_used = G_rows, h_vals
            theta = solve(rows_used, vals_used)
        # optimality-certificate capture (piecewise_qp_contract): the
        # final QP exactly as solved — the KKT check re-verifies theta
        # against THESE matrices, so any drift between the solver's
        # view and the recorded one is itself a contract failure.
        # Tiny dense arrays (P*k <= ~40 params); negligible to keep.
        self._last_qp_ = {
            "H": H, "f": f, "A": A,
            "G": (np.array(rows_used) if rows_used
                  else np.zeros((0, P * k))),
            "h": (np.array(vals_used, dtype=float) if vals_used
                  else np.zeros(0)),
            "theta": theta,
        }
        self.coefs_ = theta.reshape(k, P)
        self.coef0_ = self.coefs_[:, 0].copy()
        self.coef1_ = (
            self.coefs_[:, 1].copy() if deg >= 1 else np.zeros(k)
        )

    # ------------------------------------------------------------------
    def _empirical_value(self, stats: dict, metric: str):
        """Empirical special/missing metric from the inner binning
        table's stats dict (reference piecewise/transformations.py
        'empirical' policy)."""
        if self.objective == "binary":
            ne = float(stats.get("n_nonevent", 0.0))
            ev = float(stats.get("n_event", 0.0))
            er = ev / max(ev + ne, _EPS)
            if metric == "woe":
                p = min(max(er, 1e-12), 1 - 1e-12)
                ratio = float(self._t_ev) / max(float(self._t_ne), _EPS)
                return float(np.log((1.0 / p - 1.0) * ratio))
            return er
        n = float(stats.get("n_records", 0.0))
        s = float(stats.get("sum_y", stats.get("sum", 0.0)) or 0.0)
        return s / max(n, _EPS)

    def transform_expr(self, col, metric: str = "mean",
                       metric_special=0, metric_missing=0):
        self._check()
        expr = piecewise_polynomial_expr(
            col, list(self.splits_), self.coefs_,
            x_center=self._xc, x_scale=self._xs, lb=self.lb, ub=self.ub,
        )
        if metric == "woe":
            # reference transform_event_rate_to_woe
            # (transformations.py:19-37): log((1/er - 1) * tE/tNE) with
            # totals incl. special+missing
            p = F.greatest(F.least(expr, F.lit(1 - 1e-12)), F.lit(1e-12))
            ratio = float(self._t_ev) / max(float(self._t_ne), _EPS)
            expr = F.log((F.lit(1.0) / p - 1.0) * F.lit(ratio))
        elif metric not in ("mean", "event_rate"):
            raise ValueError(f"unknown metric {metric}")
        # special / missing routing (reference
        # piecewise/transformations.py:62-137): fixed value or
        # 'empirical' from the inner table's special/missing stats
        t = self.inner_.binning_table
        from .operators.preprocessing import normalize_special_codes

        groups = normalize_special_codes(self.special_codes)
        if groups:
            all_specials = [v for vs in groups.values() for v in vs]
            if metric_special == "empirical":
                agg: dict = {}
                for g_stats in t.special_stats.values():
                    for key, v in g_stats.items():
                        agg[key] = agg.get(key, 0.0) + float(v or 0.0)
                sp_val = self._empirical_value(agg, metric)
            else:
                sp_val = float(metric_special)
            expr = F.when(
                col.isin([float(v) for v in all_specials]), F.lit(sp_val)
            ).otherwise(expr)
        mi_val = (
            self._empirical_value(t.missing_stats, metric)
            if metric_missing == "empirical" else float(metric_missing)
        )
        expr = F.when(col.isNull() | F.isnan(col), F.lit(mi_val)).otherwise(expr)
        return expr

    def transform(self, df, x, metric="mean", out_col=None,
                  metric_special=0, metric_missing=0):
        return df.withColumn(
            out_col or f"{x}_pw",
            self.transform_expr(F.col(x).cast("double"), metric,
                                metric_special, metric_missing),
        )

    def divergences(self, df: DataFrame, x: str, y: str) -> dict:
        """Asymptotic divergences of the piecewise event-rate model
        (reference piecewise/metrics.py:38-90): per-sample
        pi = (1-er)/(1-p), qi = er/p, divergence averaged over clean
        samples. ONE aggregation over the transformed column."""
        self._check()
        from .operators.preprocessing import clean_value_expr

        xc = clean_value_expr(
            F.col(x).cast("double"), "numerical", self.special_codes
        )
        clean = df.select(xc.alias("__pw_x"), F.col(y).alias("__pw_y")).filter(
            F.col("__pw_x").isNotNull() & F.col("__pw_y").isNotNull()
        )
        xc = F.col("__pw_x")
        y = "__pw_y"
        er = self.transform_expr(xc, "event_rate")
        er = F.greatest(F.least(er, F.lit(1.0 - 1e-15)), F.lit(1e-15))
        t_ev, t_ne = self._t_ev, self._t_ne
        p = t_ev / max(t_ev + t_ne, _EPS)
        pi = (1.0 - er) / (1.0 - p)
        qi = er / p
        iv_term = (pi - qi) * F.log(pi / qi)
        m = (pi + qi) / 2
        js_term = 0.5 * (
            pi * F.log(pi / m) + qi * F.log(qi / m)
        )
        row = clean.agg(
            F.count("*").alias("n"),
            F.sum(iv_term).alias("iv"),
            F.sum(js_term).alias("js"),
        ).first()
        n = float(row["n"])
        return {
            "iv": float(row["iv"]) / n,
            "js": float(row["js"]) / n,
        }

    def _coefs_x_domain(self) -> np.ndarray:
        """Per-bin polynomial coefficients in the ORIGINAL x domain
        (ascending powers). Internally stored over the rescaled
        u = (x - xc)/xs; reference PWBinningTable reports x-domain
        c0..cd (piecewise/binning_statistics.py:160-171)."""
        from numpy.polynomial import Polynomial

        sub = Polynomial([-self._xc / self._xs, 1.0 / self._xs])
        out = []
        for b in range(self.coefs_.shape[0]):
            p = Polynomial(self.coefs_[b])(sub)
            c = np.zeros(self.coefs_.shape[1])
            c[: len(p.coef)] = p.coef
            out.append(c)
        return np.asarray(out)

    def fit_transform(self, df, x, y, metric=None, out_col=None,
                      lb=None, ub=None):
        """fit + transform in one call (reference piecewise/base.py)."""
        self.fit(df, x, y, lb=lb, ub=ub)
        kw = {}
        if metric is not None:
            kw["metric"] = metric
        if out_col is not None:
            kw["out_col"] = out_col
        return self.transform(df, x, **kw)

    @property
    def binning_table(self):
        """Reference PWBinningTable: the knot-bin counts plus per-bin
        polynomial coefficient columns c0..cd
        (piecewise/binning_statistics.py:31-171)."""
        self._check()
        return PWBinningTableView(self)

    @property
    def splits(self):
        self._check()
        return self.splits_

    def _check(self):
        if not self._fitted:
            raise RuntimeError("OptimalPWBinning is not fitted")

    @property
    def status(self) -> str:
        """Solver status (reference piecewise/base.py); the active-set
        QP converges to the KKT optimum."""
        self._check()
        return "OPTIMAL"


class ContinuousOptimalPWBinning(OptimalPWBinning):
    """Continuous-target piecewise binning (reference
    piecewise/continuous_binning.py) — OptimalPWBinning with the
    regression problem type preset."""

    def __init__(self, name: str = "", **kw):
        kw.pop("objective", None)
        super().__init__(name=name, objective="continuous", **kw)


class PWBinningTableView:
    """Piecewise binning table (reference
    piecewise/binning_statistics.py:31-171): the inner knot binning's
    table with per-bin polynomial coefficient columns ``c0..cd`` in
    the original x domain; special/missing rows carry the empirical
    event rate (binary) / mean (continuous) in ``c0``."""

    def __init__(self, pw: "OptimalPWBinning"):
        self._pw = pw
        self._inner = pw.inner_.binning_table

    def build(self, show_digits: int = 2,
              add_totals: bool = True) -> "pd.DataFrame":
        df = self._inner.build(
            add_totals=add_totals, show_digits=show_digits)
        coefs = self._pw._coefs_x_domain()
        k, n_coefs = coefs.shape
        n_extra = len(df) - k
        if self._pw.objective == "binary":
            empirical = list(df["event_rate"][k:])
        else:
            empirical = list(df["mean"][k:])
        for i in range(n_coefs):
            col = list(coefs[:, i])
            col += empirical if i == 0 else [0.0] * n_extra
            df[f"c{i}"] = col
        return df

    def analysis(self, *args, **kwargs):
        return self._inner.analysis(*args, **kwargs)

    def plot(self, *args, **kwargs):
        return self._inner.plot(*args, **kwargs)

    def to_spark(self, spark):
        return spark.createDataFrame(self.build(add_totals=False))
