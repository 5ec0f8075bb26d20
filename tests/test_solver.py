import numpy as np
import pytest

from optbinning_spark.core.metrics import jeffrey
from optbinning_spark.core.solver import solve_binary, solve_continuous, solve_multiclass


def _iv(ne, ev, segments):
    ne = np.asarray(ne, dtype=float)
    ev = np.asarray(ev, dtype=float)
    mne = np.array([ne[s : e + 1].sum() for s, e in segments])
    mev = np.array([ev[s : e + 1].sum() for s, e in segments])
    return jeffrey(mev / ev.sum(), mne / ne.sum(), return_sum=True)


def test_unconstrained_keeps_all_feasible_prebins():
    # finer partitions never decrease Jeffrey divergence
    ne = [50, 40, 30, 20, 10]
    ev = [10, 20, 30, 40, 50]
    sol = solve_binary(np.array(ne), np.array(ev), monotonic_trend=None)
    assert sol.status == "OPTIMAL"
    assert sol.segments == [(0, 0), (1, 1), (2, 2), (3, 3), (4, 4)]
    assert sol.objective == pytest.approx(_iv(ne, ev, sol.segments))


def test_pure_prebins_are_merged():
    # prebin 1 has zero events -> must be merged with a neighbor (B5
    # refinement subsumed by feasibility)
    ne = np.array([50.0, 30.0, 20.0, 10.0])
    ev = np.array([10.0, 0.0, 30.0, 50.0])
    sol = solve_binary(ne, ev, monotonic_trend="ascending")
    assert sol.status == "OPTIMAL"
    assert all(ev[s : e + 1].sum() > 0 for s, e in sol.segments)
    assert all(ne[s : e + 1].sum() > 0 for s, e in sol.segments)


def test_ascending_monotonic_enforced():
    ne = np.array([50.0, 20.0, 40.0, 10.0, 5.0])
    ev = np.array([10.0, 30.0, 20.0, 40.0, 50.0])
    sol = solve_binary(ne, ev, monotonic_trend="ascending")
    rates = [
        ev[s : e + 1].sum() / (ev[s : e + 1].sum() + ne[s : e + 1].sum())
        for s, e in sol.segments
    ]
    assert all(rates[i + 1] >= rates[i] for i in range(len(rates) - 1))


def test_descending_monotonic_enforced():
    ne = np.array([10.0, 30.0, 20.0, 40.0, 50.0])
    ev = np.array([50.0, 20.0, 40.0, 10.0, 5.0])
    sol = solve_binary(ne, ev, monotonic_trend="descending")
    rates = [
        ev[s : e + 1].sum() / (ev[s : e + 1].sum() + ne[s : e + 1].sum())
        for s, e in sol.segments
    ]
    assert all(rates[i + 1] <= rates[i] for i in range(len(rates) - 1))


def test_max_n_bins_respected():
    ne = np.array([50, 40, 30, 20, 10, 5], dtype=float)
    ev = np.array([5, 10, 20, 30, 40, 50], dtype=float)
    sol = solve_binary(ne, ev, monotonic_trend="ascending", max_n_bins=3)
    assert sol.n_bins <= 3


def test_min_bin_size_respected():
    ne = np.array([50, 40, 30, 20, 10], dtype=float)
    ev = np.array([5, 10, 20, 30, 40], dtype=float)
    total = ne.sum() + ev.sum()
    sol = solve_binary(ne, ev, monotonic_trend=None, min_bin_size=0.25)
    for s, e in sol.segments:
        assert ne[s : e + 1].sum() + ev[s : e + 1].sum() >= 0.25 * total


def test_peak_trend():
    # rates rise then fall
    ne = np.array([90, 60, 30, 60, 90], dtype=float)
    ev = np.array([10, 40, 70, 40, 10], dtype=float)
    sol = solve_binary(ne, ev, monotonic_trend="peak")
    rates = [
        ev[s : e + 1].sum() / (ev[s : e + 1].sum() + ne[s : e + 1].sum())
        for s, e in sol.segments
    ]
    k = int(np.argmax(rates))
    assert all(rates[i + 1] >= rates[i] for i in range(k))
    assert all(rates[i + 1] <= rates[i] for i in range(k, len(rates) - 1))
    assert sol.n_bins >= 3


def test_max_pvalue_constraint():
    # two nearly-identical adjacent distributions should be merged when
    # max_pvalue demands significance
    ne = np.array([50, 49, 10], dtype=float)
    ev = np.array([50, 51, 90], dtype=float)
    free = solve_binary(ne, ev, monotonic_trend="ascending")
    constrained = solve_binary(
        ne, ev, monotonic_trend="ascending", max_pvalue=0.05
    )
    assert free.n_bins == 3
    assert constrained.n_bins == 2


def test_auto_asc_desc_picks_better():
    ne = np.array([10, 30, 50], dtype=float)
    ev = np.array([50, 30, 10], dtype=float)
    sol = solve_binary(ne, ev, monotonic_trend="auto_asc_desc")
    assert sol.trend == "descending"


def test_continuous_monotonic_means():
    cnt = np.array([100, 100, 100, 100], dtype=float)
    s1 = np.array([100, 300, 200, 500], dtype=float)
    s2 = s1 * s1 / cnt + cnt  # some variance
    sol = solve_continuous(cnt, s1, s2, monotonic_trend="ascending")
    means = [s1[s : e + 1].sum() / cnt[s : e + 1].sum() for s, e in sol.segments]
    assert all(means[i + 1] >= means[i] for i in range(len(means) - 1))


def test_multiclass_solver():
    M = np.array(
        [[50, 10, 5], [30, 20, 10], [20, 30, 20], [10, 40, 40]], dtype=float
    )
    sol = solve_multiclass(M, min_n_bins=2)
    assert sol.status == "OPTIMAL"
    assert sol.n_bins >= 2
    # segments tile [0..3]
    flat = [i for s, e in sol.segments for i in range(s, e + 1)]
    assert flat == [0, 1, 2, 3]


def _brute_force_shape(ne, ev, shape, lo=1, hi=99):
    """Independent re-implementation of the reference's all-triples
    concave/convex constraint (cp.py:433-457) by full enumeration."""
    n = len(ne)
    t_ev, t_ne = ev.sum(), ne.sum()
    best = (-1e18, None)
    for mask in range(1 << (n - 1)):
        segs, s = [], 0
        for k in range(n - 1):
            if mask >> k & 1:
                segs.append((s, k))
                s = k + 1
        segs.append((s, n - 1))
        if not (lo <= len(segs) <= hi):
            continue
        evs = np.array([ev[a:b + 1].sum() for a, b in segs])
        nes = np.array([ne[a:b + 1].sum() for a, b in segs])
        if (evs <= 0).any() or (nes <= 0).any():
            continue
        er = evs / (evs + nes)
        m = len(segs)
        ok = True
        for a in range(m):
            for b in range(a + 1, m):
                for c in range(b + 1, m):
                    if shape == "concave" and er[a] + er[c] > 2 * er[b] + 1e-12:
                        ok = False
                    if shape == "convex" and er[a] + er[c] < 2 * er[b] - 1e-12:
                        ok = False
        if not ok:
            continue
        p, q = evs / t_ev, nes / t_ne
        iv = ((p - q) * np.log(p / q)).sum()
        if iv > best[0]:
            best = (iv, segs)
    return best


def test_concave_convex_exact_vs_brute_force():
    """The DFS shape enumerator returns the global optimum under the
    reference's ALL-triples curvature constraint — randomized
    cross-check against an independent full enumeration."""
    rng = np.random.RandomState(0)
    for trial in range(12):
        n = rng.randint(3, 10)
        ne = rng.randint(1, 50, n).astype(float)
        ev = rng.randint(1, 50, n).astype(float)
        for shape in ("concave", "convex"):
            sol = solve_binary(ne, ev, monotonic_trend=shape)
            bv, _ = _brute_force_shape(ne, ev, shape)
            assert sol.status == "OPTIMAL"
            assert abs(sol.objective - bv) < 1e-12, (trial, shape)


def test_concave_rejects_convex_profile_merge():
    """A sharply convex (valley) event-rate profile cannot keep its
    shape under a concave constraint: the solver must merge/rearrange
    rather than emit a valley sequence. (This is the case the old
    peak-approximation got wrong.)"""
    ne = np.array([20, 80, 80, 20], dtype=float)
    ev = np.array([80, 20, 20, 80], dtype=float)  # rates .8 .2 .2 .8
    sol = solve_binary(ne, ev, monotonic_trend="concave")
    evs = [ev[s:e + 1].sum() for s, e in sol.segments]
    nes = [ne[s:e + 1].sum() for s, e in sol.segments]
    er = [e_ / (e_ + n_) for e_, n_ in zip(evs, nes)]
    for a in range(len(er)):
        for b in range(a + 1, len(er)):
            for c in range(b + 1, len(er)):
                assert er[a] + er[c] <= 2 * er[b] + 1e-12


def test_dp_property_randomized_hypothesis():
    """Property: for every trend and constraint combo, the DP objective
    equals the exhaustive-enumeration maximum over feasible contiguous
    partitions (hypothesis-driven input generation)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    def brute(ne, ev, trend, min_n_bins, max_n_bins, min_bin_size):
        n = len(ne)
        t_ev, t_ne = ev.sum(), ne.sum()
        total = t_ev + t_ne
        best = None
        for mask in range(1 << (n - 1)):
            segs, s = [], 0
            for k in range(n - 1):
                if mask >> k & 1:
                    segs.append((s, k))
                    s = k + 1
            segs.append((s, n - 1))
            if not ((min_n_bins or 1) <= len(segs)
                    <= (max_n_bins or n)):
                continue
            evs = np.array([ev[a:b + 1].sum() for a, b in segs])
            nes = np.array([ne[a:b + 1].sum() for a, b in segs])
            if (evs <= 0).any() or (nes <= 0).any():
                continue
            if min_bin_size is not None and (
                    (evs + nes) < min_bin_size * total).any():
                continue
            er = evs / (evs + nes)
            if trend == "ascending" and not all(
                    er[i + 1] >= er[i] for i in range(len(er) - 1)):
                continue
            if trend == "descending" and not all(
                    er[i + 1] <= er[i] for i in range(len(er) - 1)):
                continue
            p, q = evs / t_ev, nes / t_ne
            iv = ((p - q) * np.log(p / q)).sum()
            if best is None or iv > best:
                best = iv
        return best

    @settings(max_examples=60, deadline=None)
    @given(
        st.lists(st.tuples(st.integers(1, 40), st.integers(1, 40)),
                 min_size=2, max_size=7),
        st.sampled_from([None, "ascending", "descending"]),
        st.sampled_from([None, 2]),
        st.sampled_from([None, 3]),
        st.sampled_from([None, 0.1]),
    )
    def check(pairs, trend, min_n_bins, max_n_bins, min_bin_size):
        ne = np.array([p[0] for p in pairs], dtype=float)
        ev = np.array([p[1] for p in pairs], dtype=float)
        sol = solve_binary(
            ne, ev, monotonic_trend=trend, min_n_bins=min_n_bins,
            max_n_bins=max_n_bins, min_bin_size=min_bin_size)
        expect = brute(ne, ev, trend, min_n_bins, max_n_bins, min_bin_size)
        if expect is None:
            assert sol.status == "INFEASIBLE"
        else:
            assert sol.status == "OPTIMAL"
            assert abs(sol.objective - expect) < 1e-12

    check()


@pytest.mark.parametrize("target", ["binary", "scenario"])
def test_shape_enum_node_budget_flat_profile(target):
    """Flat event rates defeat the concave/convex DFS pruning (the
    tree is the full 2^(n-1) prefix tree, ~4x per +2 prebins); the
    node budget must bound the solve to seconds and return a valid
    (anytime) solution instead of hanging the driver. The scenario
    target (two flat scenarios) runs the same budgeted search."""
    import time

    from optbinning_spark.core.solver import solve_scenarios

    n = 26
    t0 = time.time()
    if target == "binary":
        sol = solve_binary(np.full(n, 100.0), np.full(n, 50.0),
                           monotonic_trend="concave")
    else:
        sol = solve_scenarios(np.full((n, 2), 100.0), np.full((n, 2), 50.0),
                              monotonic_trend="concave")
    assert time.time() - t0 < 20.0
    assert sol.status in ("OPTIMAL", "FEASIBLE")
    # segments form a contiguous partition of [0, n)
    assert sol.segments[0][0] == 0 and sol.segments[-1][1] == n - 1
    for (a, b), (c, d) in zip(sol.segments, sol.segments[1:]):
        assert c == b + 1
    # flat profile: IV is 0 for any partition
    assert abs(sol.objective) < 1e-9


def test_shape_search_exhaustion_reports_unknown():
    """Budget exhaustion proves nothing: with no complete partition
    found and a DP relaxation (concave -> peak) whose optimum fails the
    all-triples check, a binary concave solve reads UNKNOWN, as a
    multiclass one does, not INFEASIBLE. The binary node budget has no
    public lever, so the shape search is called with budget 0."""
    from optbinning_spark.core import solver

    # event rates 0.1, 0.15, 0.6, 0.2: a peak, but not concave
    ev = np.array([10.0, 15.0, 60.0, 20.0])
    ne = 100.0 - ev
    with np.errstate(divide="ignore", invalid="ignore"):
        peak = solve_binary(ne, ev, monotonic_trend="peak")
    assert peak.n_bins == 4
    full = solve_binary(ne, ev, monotonic_trend="concave")
    assert full.status == "OPTIMAL" and full.n_bins < 4
    V = np.full((4, 4), solver.NEG)
    rates = np.zeros((4, 4, 1))
    for j in range(4):
        for i in range(j, 4):
            e, t = ev[j:i + 1].sum(), 100.0 * (i + 1 - j)
            p, q = e / ev.sum(), (t - e) / ne.sum()
            V[j, i] = (p - q) * np.log(p / q)
            rates[j, i, 0] = e / t
    segments, objective, status = solver._shape_search(
        V, 1, 4, rates, ["concave"], None, True, node_budget=0)
    assert (segments, objective, status) == ([(0, 3)], 0.0, "UNKNOWN")
    segments, objective, status = solver._shape_search(
        V, 1, 4, rates, ["concave"], None, True, node_budget=10**6)
    assert status == "OPTIMAL" and segments == full.segments


def test_shape_enum_still_exact_below_budget():
    """Real (non-flat) profiles stay on the exact DFS path."""
    import numpy as np

    from optbinning_spark.core.solver import solve_binary

    n = 12
    ev = np.linspace(10, 80, n)
    ne = 100 - ev
    sol = solve_binary(ne, ev, monotonic_trend="concave")
    assert sol.status == "OPTIMAL"


# ---------------------------------------------------------------------------
# multiclass per-class peak/valley (reference multiclass_cp.py y[c,i]/t[c])
# ---------------------------------------------------------------------------


def _mc_objective(M, segments):
    """Summed one-vs-rest JS over merged bins (same objective as
    solve_multiclass / reference multiclass_model_data)."""
    from optbinning_spark.core.metrics import DIVERGENCES

    js = DIVERGENCES["js"]
    M = np.asarray(M, dtype=float)
    totals = M.sum(axis=0)
    total_all = totals.sum()
    Mm = np.array([M[s : e + 1].sum(axis=0) for s, e in segments])
    cnt = Mm.sum(axis=1)
    val = 0.0
    for c in range(M.shape[1]):
        ev = Mm[:, c]
        ne = cnt - ev
        if (ev <= 0).any() or (ne <= 0).any():
            return None  # infeasible (pure bin for class c)
        val += js(ev / totals[c], ne / (total_all - totals[c])).sum()
    return val


def _leg_feasible(seq, trend):
    """Reference change-point semantics: pairwise within legs, no
    constraint across the boundary pair. Concave/convex: all-triples
    curvature (cp.py:433-457), same tolerance as _brute_force_shape."""
    m = len(seq)
    if trend is None:
        return True
    if trend in ("concave", "convex"):
        for a in range(m):
            for b in range(a + 1, m):
                for c in range(b + 1, m):
                    if trend == "concave" and seq[a] + seq[c] > 2 * seq[b] + 1e-12:
                        return False
                    if trend == "convex" and seq[a] + seq[c] < 2 * seq[b] - 1e-12:
                        return False
        return True
    asc = all(seq[i + 1] >= seq[i] for i in range(m - 1))
    desc = all(seq[i + 1] <= seq[i] for i in range(m - 1))
    if trend == "ascending":
        return asc
    if trend == "descending":
        return desc
    for s in range(-1, m):
        head = seq[: s + 1]
        tail = seq[s + 1 :]
        h_asc = all(head[i + 1] >= head[i] for i in range(len(head) - 1))
        h_desc = all(head[i + 1] <= head[i] for i in range(len(head) - 1))
        t_asc = all(tail[i + 1] >= tail[i] for i in range(len(tail) - 1))
        t_desc = all(tail[i + 1] <= tail[i] for i in range(len(tail) - 1))
        if trend == "peak" and h_asc and t_desc:
            return True
        if trend == "valley" and h_desc and t_asc:
            return True
    return False


def _brute_force_multiclass(M, trends, lo=1, hi=99, min_bin_size=None):
    """Exact enumeration of all contiguous partitions under the
    reference's per-class constraints — the optimum the CP-SAT model
    (multiclass_cp.py) finds."""
    M = np.asarray(M, dtype=float)
    n = M.shape[0]
    total_all = M.sum()
    best = (None, None)
    for mask in range(1 << (n - 1)):
        segs, s = [], 0
        for k in range(n - 1):
            if mask >> k & 1:
                segs.append((s, k))
                s = k + 1
        segs.append((s, n - 1))
        if not (lo <= len(segs) <= hi):
            continue
        Mm = np.array([M[a : b + 1].sum(axis=0) for a, b in segs])
        cnt = Mm.sum(axis=1)
        if min_bin_size is not None and (cnt < min_bin_size * total_all).any():
            continue
        obj = _mc_objective(M, segs)
        if obj is None:
            continue
        ok = True
        for c, tr in enumerate(trends):
            rates = Mm[:, c] / cnt
            if not _leg_feasible(list(rates), tr):
                ok = False
                break
        if not ok:
            continue
        if best[0] is None or obj > best[0]:
            best = (obj, segs)
    return best


def test_multiclass_peak_constraint_binds():
    # class 0 one-vs-rest rate rises then falls; class 1 is noise.
    # Unconstrained keeps every prebin; peak on class 0 must merge the
    # wiggle at the end.
    M = np.array(
        [[10, 40, 50], [30, 40, 30], [60, 20, 20], [30, 40, 30], [35, 40, 25]],
        dtype=float,
    )
    trends = ["peak", None, None]
    sol = solve_multiclass(M, monotonic_trends=trends)
    assert sol.status == "OPTIMAL"
    b_obj, b_segs = _brute_force_multiclass(M, trends)
    assert sol.objective == pytest.approx(b_obj)
    # the found partition satisfies the reference peak semantics
    Mm = np.array([M[a : b + 1].sum(axis=0) for a, b in sol.segments])
    rates = Mm[:, 0] / Mm.sum(axis=1)
    assert _leg_feasible(list(rates), "peak")
    # and the constraint genuinely binds vs unconstrained
    free = solve_multiclass(M)
    assert free.objective > sol.objective


def test_multiclass_valley_constraint_binds():
    M = np.array(
        [[60, 20, 20], [30, 40, 30], [10, 45, 45], [30, 40, 30], [55, 25, 20]],
        dtype=float,
    )
    trends = ["valley", None, None]
    sol = solve_multiclass(M, monotonic_trends=trends)
    assert sol.status == "OPTIMAL"
    b_obj, _ = _brute_force_multiclass(M, trends)
    assert sol.objective == pytest.approx(b_obj)
    Mm = np.array([M[a : b + 1].sum(axis=0) for a, b in sol.segments])
    rates = Mm[:, 0] / Mm.sum(axis=1)
    assert _leg_feasible(list(rates), "valley")


def test_multiclass_mixed_trends_brute_force_parity():
    """Randomized parity: DP == brute force for every mix of per-class
    trends, including multiple simultaneous peak/valley classes (each
    with its own change point, like the reference's per-class t[c])."""
    rng = np.random.default_rng(20260815)
    trend_menu = [None, "ascending", "descending", "peak", "valley"]
    for trial in range(40):
        n = int(rng.integers(3, 8))
        n_classes = int(rng.integers(2, 4))
        M = rng.integers(1, 60, size=(n, n_classes)).astype(float)
        trends = [
            trend_menu[int(rng.integers(0, len(trend_menu)))]
            for _ in range(n_classes)
        ]
        sol = solve_multiclass(M, monotonic_trends=trends)
        b_obj, b_segs = _brute_force_multiclass(M, trends)
        if b_obj is None:
            assert sol.status == "INFEASIBLE", (trial, trends)
        else:
            assert sol.status == "OPTIMAL", (trial, trends, b_segs)
            assert sol.objective == pytest.approx(b_obj), (
                trial, trends, sol.segments, b_segs,
            )
            # returned partition itself satisfies every per-class trend
            Mm = np.array([M[a: b + 1].sum(axis=0) for a, b in sol.segments])
            cnt = Mm.sum(axis=1)
            for c, tr in enumerate(trends):
                assert _leg_feasible(list(Mm[:, c] / cnt), tr), (trial, c, tr)


def test_multiclass_concave_convex_brute_force_parity():
    """Randomized parity for the joint DFS route: at least one class
    carries a concave/convex trend (the reference's all-triples
    curvature constraint, multiclass_cp.py mirroring cp.py:433-457),
    mixed freely with every other trend type on the other classes."""
    rng = np.random.default_rng(20260815 + 1)
    shape_menu = ["concave", "convex"]
    other_menu = [None, "ascending", "descending", "peak", "valley",
                  "concave", "convex"]
    for trial in range(40):
        n = int(rng.integers(3, 8))
        n_classes = int(rng.integers(2, 4))
        M = rng.integers(1, 60, size=(n, n_classes)).astype(float)
        trends = [
            other_menu[int(rng.integers(0, len(other_menu)))]
            for _ in range(n_classes)
        ]
        # guarantee the shaped route is exercised every trial
        trends[int(rng.integers(0, n_classes))] = shape_menu[trial % 2]
        sol = solve_multiclass(M, monotonic_trends=trends)
        b_obj, b_segs = _brute_force_multiclass(M, trends)
        if b_obj is None:
            assert sol.status == "INFEASIBLE", (trial, trends)
        else:
            assert sol.status == "OPTIMAL", (trial, trends, b_segs)
            assert sol.objective == pytest.approx(b_obj), (
                trial, trends, sol.segments, b_segs,
            )
            Mm = np.array([M[a: b + 1].sum(axis=0) for a, b in sol.segments])
            cnt = Mm.sum(axis=1)
            for c, tr in enumerate(trends):
                assert _leg_feasible(list(Mm[:, c] / cnt), tr), (trial, c, tr)


def test_multiclass_concave_constraint_binds():
    # class-0 one-vs-rest rates dip then recover (convex-ish wiggle):
    # unconstrained keeps every prebin; concave on class 0 must merge.
    M = np.array(
        [[50, 25, 25], [20, 40, 40], [10, 45, 45], [40, 30, 30]],
        dtype=float,
    )
    free = solve_multiclass(M, monotonic_trends=[None, None, None])
    con = solve_multiclass(M, monotonic_trends=["concave", None, None])
    assert free.status == "OPTIMAL" and con.status == "OPTIMAL"
    assert con.objective <= free.objective
    b_obj, _ = _brute_force_multiclass(M, ["concave", None, None])
    assert con.objective == pytest.approx(b_obj)
    Mm = np.array([M[a: b + 1].sum(axis=0) for a, b in con.segments])
    assert _leg_feasible(list(Mm[:, 0] / Mm.sum(axis=1)), "concave")


def test_multiclass_invalid_trend_raises():
    M = np.array([[10, 20], [30, 10], [20, 20]], dtype=float)
    with pytest.raises(ValueError, match="Invalid per-class monotonic"):
        solve_multiclass(M, monotonic_trends=["ascending", "sideways"])


def test_multiclass_boundary_pair_freedom():
    """The reference imposes NO constraint between the last first-leg
    bin and the first second-leg bin (mixed y pair => both big-M
    constraints slack). A profile whose descent opens above the
    ascent's close must therefore be feasible at full granularity."""
    # class-0 one-vs-rest rates by prebin: 0.2, 0.5, 0.7, 0.3 — with
    # t=1: asc {0.2, 0.5}, desc {0.7, 0.3}; boundary 0.5 -> 0.7 rises
    M = np.array(
        [[20, 40, 40], [50, 25, 25], [70, 15, 15], [30, 35, 35]], dtype=float
    )
    trends = ["peak", None, None]
    sol = solve_multiclass(M, monotonic_trends=trends)
    assert sol.status == "OPTIMAL"
    assert sol.n_bins == 4  # nothing needs merging
    b_obj, _ = _brute_force_multiclass(M, trends)
    assert sol.objective == pytest.approx(b_obj)


def test_multiclass_heuristic_trends_map_to_exact():
    M = np.array(
        [[10, 40, 50], [30, 40, 30], [60, 20, 20], [30, 40, 30], [35, 40, 25]],
        dtype=float,
    )
    a = solve_multiclass(M, monotonic_trends=["peak", None, None])
    b = solve_multiclass(M, monotonic_trends=["peak_heuristic", None, None])
    assert a.objective == pytest.approx(b.objective)
    assert a.segments == b.segments


def test_multiclass_min_bin_size_with_peak():
    rng = np.random.default_rng(7)
    M = rng.integers(5, 60, size=(6, 3)).astype(float)
    trends = ["peak", "valley", None]
    sol = solve_multiclass(M, monotonic_trends=trends, min_bin_size=0.15)
    b_obj, _ = _brute_force_multiclass(M, trends, min_bin_size=0.15)
    if b_obj is None:
        assert sol.status == "INFEASIBLE"
    else:
        assert sol.objective == pytest.approx(b_obj)
        total = M.sum()
        for a, b in sol.segments:
            assert M[a: b + 1].sum() >= 0.15 * total


def test_multiclass_enum_exhaustion_reports_unknown():
    """Budget exhaustion with nothing proven must NOT claim
    INFEASIBLE: with a zero node budget on a problem brute force says
    is feasible, the status is UNKNOWN (or FEASIBLE via the verified
    DP relaxation) — never a false infeasibility proof. node_budget is
    the public lever (plumbed through solve_multiclass and
    MulticlassOptimalBinning's solver_node_budget)."""
    rng = np.random.default_rng(3)
    M = rng.integers(10, 60, size=(5, 3)).astype(float)
    trends = ["concave", None, None]
    b_obj, _ = _brute_force_multiclass(M, trends)
    assert b_obj is not None  # feasible by construction
    sol = solve_multiclass(M, monotonic_trends=trends, node_budget=0)
    assert sol.status in ("UNKNOWN", "FEASIBLE")
    if sol.status == "FEASIBLE":
        # relaxation answer passed the all-triples check: must be a
        # genuinely feasible partition (objective <= brute optimum)
        assert sol.objective <= b_obj + 1e-9
    # raising the budget back to the default buys the proof
    full = solve_multiclass(M, monotonic_trends=trends)
    assert full.status == "OPTIMAL"
    assert full.objective == pytest.approx(b_obj)


def test_multiclass_enum_exhaustion_over_dp_cap_no_crash():
    """When exhaustion falls back to the mask DP but the mapped
    peak/valley class count exceeds its n_pv <= 12 cap, the solve
    returns UNKNOWN instead of raising the DP's phase-space
    ValueError."""
    rng = np.random.default_rng(4)
    n_classes = 13
    M = rng.integers(10, 60, size=(4, n_classes)).astype(float)
    trends = ["concave"] * n_classes
    sol = solve_multiclass(M, monotonic_trends=trends, node_budget=0)
    assert sol.status == "UNKNOWN"
    assert sol.segments == [(0, 3)]
