"""Synthetic-corpus fuzz for the r15 piecewise-fit oracle.

The driver gate runs _sql_piecewise_transform against the lineitem
testdata only, so a corpus-shape divergence (quartile ties, near-pure
prebins, skewed value histograms, missing rows) would stay latent
until a different corpus hits it. This file front-runs that: random
integer-valued x with Bernoulli y (plus NULL/NaN rows), the SAME rows
fed to the engine (Spark) and to the oracle SQL (DuckDB view named
lineitem with the l_quantity / l_returnflag / key columns the SQL
expects), rounded-6dp outputs compared exactly.

Datasets that trip the oracle's loud gates (non-increasing quartile
edges, pure prebins, Newton non-convergence) are counted as gated —
the gate firing IS the designed behavior there — but the fuzz asserts
the gates are the ONLY divergence mode: whenever the oracle returns
rows, they must hash-match the engine.
"""

from __future__ import annotations

import zlib

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as E


def _dataset(rng, n):
    """Random corpus shaped like the query's lineitem inputs: small
    integer x (forces heavy ties and occasional equal quartiles),
    Bernoulli y with an x-dependent rate, ~2% NULL and ~1% NaN x."""
    lo = int(rng.integers(1, 5))
    hi = lo + int(rng.integers(3, 40))
    x = rng.integers(lo, hi + 1, n).astype(float)
    p = 0.15 + 0.5 * (x - lo) / max(hi - lo, 1) * rng.uniform(0.2, 1.0)
    y = (rng.uniform(size=n) < p).astype(int)
    x[rng.uniform(size=n) < 0.02] = np.nan
    xs = pd.Series(x, dtype="float64")
    xs[rng.uniform(size=n) < 0.01] = None
    return pd.DataFrame({
        "l_orderkey": np.arange(n, dtype=np.int64),
        "l_linenumber": np.ones(n, dtype=np.int64),
        "l_quantity": xs,
        "l_returnflag": np.where(y == 1, "R", "N"),
    })


@pytest.mark.parametrize("n_datasets", [
    3, pytest.param(15, marks=pytest.mark.full)])
def test_piecewise_oracle_matches_engine_on_synthetic(spark, n_datasets):
    from pyspark.sql import functions as F

    from optbinning_spark.piecewise import OptimalPWBinning

    rng = np.random.default_rng(zlib.crc32(b"piecewise_oracle_fuzz"))
    sql = E.oracle_sql()["piecewise_transform"]
    matched = gated = 0
    for t in range(n_datasets):
        pdf = _dataset(rng, n=int(rng.integers(2_000, 8_000)))
        con = duckdb.connect()
        con.register("lineitem", pdf)
        try:
            ora = con.execute(sql).fetchdf()
        except duckdb.Error as e:
            # the oracle's loud gates are designed behavior on
            # degenerate corpora — but they must be OUR gates, not an
            # arbitrary SQL failure
            assert "piecewise oracle" in str(e), (t, str(e)[:200])
            gated += 1
            continue
        df = spark.createDataFrame(pdf).withColumn(
            "y", (F.col("l_returnflag") == "R").cast("int"))
        pw = OptimalPWBinning(objective="binary", degree=1,
                              prebinning_method="quantile_exact",
                              max_n_prebins=4, min_n_bins=4,
                              monotonic_trend=None)
        pw.fit(df, "l_quantity", "y")
        out = pw.transform(df, "l_quantity", metric="event_rate",
                           out_col="p")
        eng = (out.select("l_orderkey", "l_linenumber",
                          (F.round("p", 6) + F.lit(0.0)).alias("p"))
               .toPandas())
        key = ["l_orderkey", "l_linenumber", "p"]
        a = eng.sort_values(key).reset_index(drop=True)
        b = ora.sort_values(key).reset_index(drop=True)
        assert len(a) == len(b), (t, len(a), len(b))
        assert np.array_equal(a["p"].to_numpy(), b["p"].to_numpy()), (
            t, float(np.abs(a["p"].to_numpy()
                            - b["p"].to_numpy()).max()))
        matched += 1
    # the gates may fire, but hash-matching must be the dominant mode
    assert matched >= max(1, n_datasets // 2), (matched, gated)


def test_active_set_qp_ill_conditioned_kkt_stays_feasible():
    """Regression for the r16 KKT-certificate find: raw-moment H
    (O(1e8) entries) with an O(1) slope constraint makes the KKT
    system condition ~1e16, and the old lstsq(rcond=None) solve
    TRUNCATED the constraint block — the 'active' row was silently
    not enforced, the multiplier sign flipped, and the add/drop loop
    cycled to max_iter before returning an infeasible fit (a
    descending-constrained model that ascended at sf0.1). The
    equilibrated solve must return the feasible constrained optimum.
    The exact system is the one captured from the sf0.1 repro (one
    bin, slope <= 0 on a strongly ascending target)."""
    import numpy as np

    from optbinning_spark.piecewise import _active_set_qp

    H = np.array([[6.000000e+05, 1.530043e+07],
                  [1.530043e+07, 5.152512e+08]])
    f = np.array([3.177120e+10, 8.104932e+11])
    A = np.zeros((0, 2))
    G = np.array([[0.0, 1.0]])   # slope <= 0
    h = np.array([0.0])
    x = _active_set_qp(H, f, A, G, h)
    # feasible: slope pinned at the bound (true optimum has the
    # constraint active with multiplier ~ +3e8)
    assert G @ x - h <= 1e-9 * (1 + np.abs(x).max())
    # and equal to the equality-constrained optimum: x1 = 0,
    # x0 = f0 / H00
    assert abs(x[1]) < 1e-9
    assert abs(x[0] - f[0] / H[0, 0]) < 1e-6 * abs(x[0])


def test_active_set_qp_refuses_on_unresolvable_violation():
    """The post-loop guard: if no feasible point is reached the
    solver must raise, not return a fit that breaks its declared
    constraints. Contradictory constraints (slope <= -1 AND
    slope >= +1 on the same coefficient) leave every KKT candidate
    violated."""
    import numpy as np
    import pytest as _pytest

    from optbinning_spark.piecewise import _active_set_qp

    H = np.eye(2)
    f = np.zeros(2)
    A = np.zeros((0, 2))
    G = np.array([[0.0, 1.0], [0.0, -1.0]])
    h = np.array([-1.0, -1.0])
    with _pytest.raises(RuntimeError, match="active-set QP"):
        _active_set_qp(H, f, A, G, h)


@pytest.mark.parametrize("n_probs", [40])
def test_active_set_qp_random_fuzz_vs_subset_enumeration(n_probs):
    """Exact combinatorial reference for the (now equilibrated)
    active-set QP: for random small strictly convex QPs, the global
    optimum is the best feasible equality-constrained solution over
    ALL subsets of inequality rows (<= 2^6 subsets). Half the
    problems are rescaled by 1e8 to sit in the ill-conditioned
    raw-moment regime the r16 bug lived in. The solver must match
    the enumerated optimum's objective and stay feasible."""
    import itertools as it

    import numpy as np

    from optbinning_spark.piecewise import _active_set_qp

    rng = np.random.default_rng(20260816)
    checked = 0
    for t in range(n_probs):
        n = int(rng.integers(2, 5))
        B = rng.normal(size=(n + 1, n))
        H = B.T @ B + 0.1 * np.eye(n)
        f = rng.normal(size=n)
        m = int(rng.integers(1, 7))
        G = rng.normal(size=(m, n))
        h = rng.normal(size=m) + 0.5
        scale = 1e8 if t % 2 else 1.0
        H2, f2 = H * scale, f * scale
        A = np.zeros((0, n))

        best = np.inf
        for r in range(m + 1):
            for sub in it.combinations(range(m), r):
                rows = G[list(sub)]
                M = np.zeros((n + r, n + r))
                M[:n, :n] = H2
                if r:
                    M[:n, n:] = rows.T
                    M[n:, :n] = rows
                rhs = np.concatenate([f2, h[list(sub)]])
                try:
                    sol = np.linalg.solve(M, rhs)
                except np.linalg.LinAlgError:
                    continue
                x = sol[:n]
                if (G @ x - h).max() > 1e-7:
                    continue
                obj = 0.5 * x @ H2 @ x - f2 @ x
                best = min(best, obj)
        if not np.isfinite(best):
            continue
        try:
            x = _active_set_qp(H2, f2, A, G, h)
        except RuntimeError:
            # loud refusal is only acceptable when genuinely stuck;
            # these random feasible problems must solve
            raise
        assert (G @ x - h).max() <= 1e-6 * (1 + np.abs(x).max()), t
        obj = 0.5 * x @ H2 @ x - f2 @ x
        assert obj <= best + 1e-6 * (1 + abs(best)), (
            t, obj, best, "active-set returned a suboptimal point")
        checked += 1
    assert checked >= n_probs * 3 // 4


def test_qp_rescue_solves_active_set_stalls_exactly():
    """Direct pin for the _qp_rescue fallback, independent of whether
    the host's LAPACK raises on singular KKT systems (builds whose LU
    returns finite garbage stall the active-set loop on these two
    seed-20260816 instances — t=3 and t=30 — and reach the rescue;
    builds whose LU raises never do). The rescue must return the
    enumerated global optimum, feasible, on both stall instances and
    on a scaled equality-constrained case."""
    import itertools as it

    import numpy as np

    from optbinning_spark.piecewise import _qp_rescue

    rng = np.random.default_rng(20260816)
    probs = []
    for t in range(40):
        n = int(rng.integers(2, 5))
        B = rng.normal(size=(n + 1, n))
        H = B.T @ B + 0.1 * np.eye(n)
        f = rng.normal(size=n)
        m = int(rng.integers(1, 7))
        G = rng.normal(size=(m, n))
        h = rng.normal(size=m) + 0.5
        scale = 1e8 if t % 2 else 1.0
        if t in (3, 30):
            probs.append((t, H * scale, f * scale, G, h))

    assert len(probs) == 2
    for t, H2, f2, G, h in probs:
        n = H2.shape[0]
        m = len(h)
        best = np.inf
        for r in range(m + 1):
            for sub in it.combinations(range(m), r):
                rows = G[list(sub)]
                M = np.zeros((n + r, n + r))
                M[:n, :n] = H2
                if r:
                    M[:n, n:] = rows.T
                    M[n:, :n] = rows
                rhs = np.concatenate([f2, h[list(sub)]])
                try:
                    sol = np.linalg.solve(M, rhs)
                except np.linalg.LinAlgError:
                    continue
                x = sol[:n]
                if (G @ x - h).max() > 1e-7:
                    continue
                best = min(best, 0.5 * x @ H2 @ x - f2 @ x)

        x = _qp_rescue(H2, f2, np.zeros((0, n)), G, h)
        if t == 3:
            # feasible stall instance: the rescue must return the
            # enumerated global optimum, feasible
            assert np.isfinite(best), t
            assert x is not None, t
            assert (G @ x - h).max() <= 1e-6 * (1 + np.abs(x).max()), t
            obj = 0.5 * x @ H2 @ x - f2 @ x
            assert obj <= best + 1e-6 * (1 + abs(best)), (t, obj, best)
        else:
            # t=30 is primal-INFEASIBLE (6 random halfplanes in 2D,
            # empty intersection — grid-verified min max-violation
            # 0.64): the rescue must refuse (None) so the caller's
            # loud RuntimeError survives, never return a point
            assert not np.isfinite(best), t
            assert x is None, t

    # equality rows exercise the free-multiplier branch: minimize at
    # scale with one continuity-style equality and box inequalities
    rng2 = np.random.default_rng(7)
    n = 4
    B = rng2.normal(size=(n + 2, n))
    H = (B.T @ B + 0.5 * np.eye(n)) * 1e8
    f = rng2.normal(size=n) * 1e8
    Aeq = np.array([[1.0, -1.0, 0.0, 0.0]])
    G = np.vstack([np.eye(n), -np.eye(n)])
    h = np.full(2 * n, 0.05)
    x = _qp_rescue(H, f, Aeq, G, h)
    assert x is not None
    assert abs(x[0] - x[1]) <= 1e-8
    assert (G @ x - h).max() <= 1e-6 * (1 + np.abs(x).max())
    # KKT-verified: x must beat every feasible perturbation we try
    obj = 0.5 * x @ H @ x - f @ x
    for _ in range(200):
        p = rng2.normal(size=n) * 0.01
        p[1] = p[0]
        xp = np.clip(x + p, -0.05, 0.05)
        xp[1] = xp[0]
        assert 0.5 * xp @ H @ xp - f @ xp >= obj - 1e-6 * (1 + abs(obj))


@pytest.mark.parametrize("drift", [0.0, 0.01])
def test_qp_rescue_unpolished_fallback_is_stationary_or_none(
        monkeypatch, drift):
    """When the KKT polish cannot verify, _qp_rescue may fall back to
    the raw dual iterate — but only to a KKT point. The polish is
    forced to fail (lstsq returns NaN). With drift > 0 the Hs^-1 C'
    columns the incremental updates move x along are also perturbed
    off their span, so the dual ascent still ends feasible and
    complementary while x leaves stationarity. The result must be
    either None or stationary: a multiplier fit on the active set must
    leave a residual within the polish path's scaled bound."""
    from optbinning_spark.piecewise import _qp_rescue

    lstsq, solve = np.linalg.lstsq, np.linalg.solve

    def broken_lstsq(a, b, rcond=None):
        return np.full(a.shape[1], np.nan), None, 0, None

    def drifting_solve(a, b):
        out = solve(a, b)
        if np.ndim(b) == 2:
            out = out + drift * np.cos(np.arange(out.size)).reshape(
                out.shape)
        return out

    rng = np.random.default_rng(1)
    n = 4
    B = rng.normal(size=(n + 2, n))
    H = B.T @ B + np.eye(n)
    f = rng.normal(size=n) * 2.0
    G = np.vstack([np.eye(n), -np.eye(n)])
    h = np.full(2 * n, 0.5)
    Aeq = np.array([[1.0, -1.0, 0.0, 0.0]])
    # the box binds: the unconstrained optimum lies outside it
    assert np.abs(solve(H, f)).max() > 0.5

    with monkeypatch.context() as m:
        m.setattr(np.linalg, "lstsq", broken_lstsq)
        m.setattr(np.linalg, "solve", drifting_solve)
        x = _qp_rescue(H, f, Aeq, G, h)
    if drift == 0.0:
        assert x is not None  # an exact dual iterate is accepted
    if x is None:
        return
    xn = 1.0 + np.abs(x).max()
    assert (G @ x - h).max() <= 1e-6 * xn
    active = G[G @ x - h >= -1e-6 * xn]
    A = np.vstack([Aeq, active])
    lam = lstsq(A.T, f - H @ x, rcond=None)[0]
    resid = H @ x - f + A.T @ lam
    assert np.abs(resid).max() <= 1e-8 * (
        1.0 + np.abs(f).max() + np.abs(lam).max())
    assert lam[len(Aeq):].min(initial=0.0) >= -1e-8 * (
        1.0 + np.abs(lam).max())
