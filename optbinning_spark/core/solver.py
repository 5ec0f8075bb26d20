"""Optimal-binning solver: one exact partition DP and one budgeted shape
search over prebins.

The reference (optbinning) formulates bin selection as a CP-SAT /
MIP generalized-assignment problem over lower-triangular booleans
(reference: optbinning/binning/cp.py:17-584, mip.py:16-471) solved by
Google OR-Tools. OR-Tools is not available here, and it is also not
needed: the search space is contiguous partitions of n <= ~20 prebins,
which a dynamic program enumerates exactly.

arXiv:2001.08025 writes every target as one formulation, and so does
this module: pick the contiguous partition of the prebins that
maximizes a sum of per-bin terms V[j, i] (bin = prebins j..i) over the
feasible bins, with a bin count in [lo, hi] and pairwise constraints
between bins on a rate tensor rates[j, i, c]. The four public solvers
only build that model's data:

  target               rate components   peak/valley phase groups
  binary, continuous   1                 one group
  scenario             one per scenario  one group shared by all
  multiclass           one per class     one per peak/valley class

A trend (TRENDS) puts on a component either a fixed leg (ascending /
descending, with the min-diff), a leg pair inside its phase group
(peak / valley: one phase bit per group, first leg then second), or
the all-triples curvature rule (concave / convex). _partition_dp
solves everything but curvature exactly over states (phase mask, bins
used, last bin [j..i]), optionally gated by a p-value edge predicate
between consecutive bins; because candidate merged bins with zero
events or nonevents are infeasible states, it also subsumes the
reference's merge-pure-prebins refinement (binning.py:1085-1145).
Curvature (e_a + e_c <= 2 e_b for EVERY bin triple, cp.py:433-457)
does not fit a last-bin state, so any concave/convex component sends
the solve to _shape_search, a depth-first partition enumeration with
O(1) incremental pruning under a node budget.

Tie policy: every comparison — between DP candidates, DP terminal
states and completed partitions of the shape search — is
_better_pinned: objective rounded to 9dp, then the lowest boundary
mask, then the earlier candidate (a phase stay before a switch). That
is the total order the SQL enumeration oracles replay with
ORDER BY round(obj, 9) DESC, mask.
"""

from __future__ import annotations

import functools
from operator import gt, sub

import numpy as np

from .metrics import DIVERGENCES
from .special_math import chi2_contingency_2xk, welch_ttest_from_stats

NEG = -1e18
# extension attempts of the shape search: fully enumerates a flat
# 20-prebin profile (about 2-3 s)
NODE_BUDGET = 2_000_000

#: Every per-component trend the kernel solves. The binners accept
#: these plus the auto modes they resolve themselves;
#: peak_heuristic / valley_heuristic (the reference fixes the change
#: point by a scan) are solved as the exact peak / valley.
TRENDS = (None, "none", "ascending", "descending", "peak", "valley",
          "peak_heuristic", "valley_heuristic", "concave", "convex")
# first-leg direction of the legged trends (+1 ascending)
_LEG = {"ascending": 1.0, "descending": -1.0, "peak": 1.0, "valley": -1.0,
        "peak_heuristic": 1.0, "valley_heuristic": -1.0}
_PHASED = ("peak", "valley", "peak_heuristic", "valley_heuristic")
_CURVE = {"concave": 1.0, "convex": -1.0}
# curvature implies unimodality: the DP relaxation of a shape search
_RELAX = {"concave": "peak", "convex": "valley"}
_MAX_GROUPS = 12


def check_trend(trend, also=()) -> None:
    """Raise a named ValueError unless ``trend`` is in TRENDS or in
    ``also`` (the auto modes a caller resolves itself)."""
    if trend not in TRENDS and trend not in also:
        allowed = ", ".join(repr(t) for t in TRENDS + tuple(also))
        raise ValueError(
            f"unsupported monotonic_trend {trend!r}; allowed: {allowed}")


def _better_pinned(val, cmask, best_val, best_mask):
    """Pinned candidate comparison shared by the DP and the shape
    search: objective rounded to 9dp, residual ties break to the lowest
    boundary mask (bit j-1 set = split between prebin j-1 and j) — the
    same total order the SQL enumeration oracles apply via
    ORDER BY round(obj, 9) DESC, mask. Exact-objective ties are
    common on integer counts (mathematically equal IV reached by
    different partitions); without the pin the winner fell to float
    summation order, which differs between the DP's accumulation and
    an oracle's flat sum. The fast paths avoid round() outside the
    |d| <= 1e-9 band (rounding is monotone with grid 1e-9, so a gap
    > 1e-9 always survives the rounding).

    Known residual (r15 ADVICE #2): the 9dp band is not strictly
    decomposable across DP / memoized sub-states. Two prefix values
    within 1e-9 but not bitwise equal are collapsed at a sub-state
    (lowest mask kept); after a later V term is added, the DISCARDED
    prefix could round to a higher 9dp grid point in the oracle's
    flat sum — the near-boundary divergence class the r13 fuzz
    caught, now much rarer (33k stably-seeded profiles green,
    including the pinned counterexample) but not impossible. The
    same caveat applies to binning_2d.py _exact_cover's memoized
    accumulation. Comparing on exactly-representable scaled integers
    would close it where objectives permit (IV terms do not — they
    carry ln())."""
    # float() first: round() on a numpy scalar routes through np.round
    # at ~25x the cost of rounding a Python float
    val = float(val)
    best_val = float(best_val)
    d = val - best_val
    if d > 1e-9:
        return True
    if d < -1e-9:
        return False
    rv, rb = round(val, 9), round(best_val, 9)
    return rv > rb or (rv == rb and cmask < best_mask)


class BinSolution:
    """Solution of a solve: contiguous segments of prebin indices."""

    __slots__ = ("segments", "objective", "status", "trend")

    def __init__(self, segments, objective, status, trend):
        self.segments = segments  # list of (start, end) inclusive prebin spans
        self.objective = objective
        # "OPTIMAL" | "FEASIBLE" (best found under the node budget) |
        # "INFEASIBLE" (proven; one bin over all prebins) | "UNKNOWN"
        # (budget exhausted, nothing proven either way)
        self.status = status
        self.trend = trend

    @property
    def n_bins(self):
        return len(self.segments)


def _interval_sums(v: np.ndarray) -> np.ndarray:
    """S[j, i] = sum(v[j..i]) for j <= i (upper triangle)."""
    c = np.concatenate([[0.0], np.cumsum(v)])
    n = len(v)
    j = np.arange(n)[:, None]
    i = np.arange(n)[None, :]
    s = c[i + 1] - c[j]
    return np.where(j <= i, s, 0.0)


# ---------------------------------------------------------------------
# model-data builders
# ---------------------------------------------------------------------


def solve_binary(
    n_nonevent: np.ndarray,
    n_event: np.ndarray,
    *,
    divergence: str = "iv",
    monotonic_trend: str | None = None,
    min_n_bins: int | None = None,
    max_n_bins: int | None = None,
    min_bin_size: float | None = None,
    max_bin_size: float | None = None,
    min_bin_n_event: int | None = None,
    max_bin_n_event: int | None = None,
    min_bin_n_nonevent: int | None = None,
    max_bin_n_nonevent: int | None = None,
    min_event_rate_diff: float = 0.0,
    max_pvalue: float | None = None,
    gamma: float = 0.0,
) -> BinSolution:
    """Optimal contiguous partition of prebins for a binary target.

    Maximizes the total divergence between the event and non-event
    distributions over bins (reference objective, cp.py:140-174),
    optionally minus a ``gamma`` * largest-bin-share regularization
    (reference's dominance term, cp.py:176-199 analog). ``max_pvalue``
    bounds a chi2 test between consecutive bins.
    """
    ne = np.asarray(n_nonevent, dtype=float)
    ev = np.asarray(n_event, dtype=float)
    n = len(ne)
    if n == 0:
        return BinSolution([], 0.0, "INFEASIBLE", monotonic_trend)

    total_ne, total_ev = ne.sum(), ev.sum()
    total = total_ne + total_ev
    NE = _interval_sums(ne)
    EV = _interval_sums(ev)
    CNT = NE + EV

    div_fn = DIVERGENCES[divergence]
    with np.errstate(divide="ignore", invalid="ignore"):
        p = EV / max(total_ev, 1e-15)
        q = NE / max(total_ne, 1e-15)
        V = div_fn(p, q)
        # event rate of candidate bin [j..i]
        ER = np.where(CNT > 0, EV / np.maximum(CNT, 1e-15), 0.0)

    feas = np.triu(np.ones((n, n), dtype=bool))
    if divergence in ("iv", "js"):
        feas &= (EV > 0) & (NE > 0)
    else:
        feas &= CNT > 0
    if min_bin_size is not None:
        feas &= CNT >= min_bin_size * total
    if max_bin_size is not None:
        feas &= CNT <= max_bin_size * total
    if min_bin_n_event is not None:
        feas &= EV >= min_bin_n_event
    if max_bin_n_event is not None:
        feas &= EV <= max_bin_n_event
    if min_bin_n_nonevent is not None:
        feas &= NE >= min_bin_n_nonevent
    if max_bin_n_nonevent is not None:
        feas &= NE <= max_bin_n_nonevent
    V = np.where(feas, V, NEG)
    if gamma > 0:
        # dominance regularization: penalize large bins
        V = np.where(feas, V - gamma * CNT / max(total, 1e-15), NEG)

    pv_ok = None
    if max_pvalue is not None:
        @functools.cache
        def pv_ok(k, j, i):
            _, pv = chi2_contingency_2xk(np.array(
                [[NE[k, j - 1], EV[k, j - 1]], [NE[j, i], EV[j, i]]]))
            return pv <= max_pvalue

    return _solve_shared(V, ER[..., None], monotonic_trend, min_n_bins,
                         max_n_bins, min_event_rate_diff, pv_ok)


def solve_continuous(
    n_records: np.ndarray,
    sums: np.ndarray,
    ssums: np.ndarray,
    *,
    monotonic_trend: str | None = None,
    min_n_bins: int | None = None,
    max_n_bins: int | None = None,
    min_bin_size: float | None = None,
    max_bin_size: float | None = None,
    min_mean_diff: float = 0.0,
    max_pvalue: float | None = None,
) -> BinSolution:
    """Optimal partition for a continuous target.

    Objective: maximize sum over bins of |mean_bin - mean_total| — the
    continuous-target "IV" the reference reports (continuous_cp.py /
    binning_statistics.py:1629-1686). Monotonic trends constrain bin
    means; max_pvalue uses a Welch t-test between consecutive bins
    (binning_statistics.py:1987-2006).
    """
    cnt = np.asarray(n_records, dtype=float)
    s1 = np.asarray(sums, dtype=float)
    s2 = np.asarray(ssums, dtype=float)
    n = len(cnt)
    if n == 0:
        return BinSolution([], 0.0, "INFEASIBLE", monotonic_trend)

    total_n = cnt.sum()
    mean_total = s1.sum() / max(total_n, 1e-15)
    CNT = _interval_sums(cnt)
    S1 = _interval_sums(s1)
    S2 = _interval_sums(s2)
    with np.errstate(divide="ignore", invalid="ignore"):
        MEAN = np.where(CNT > 0, S1 / np.maximum(CNT, 1e-15), 0.0)
        VAR = np.where(
            CNT > 1,
            np.maximum(S2 - S1 * S1 / np.maximum(CNT, 1e-15), 0.0)
            / np.maximum(CNT - 1.0, 1e-15),
            0.0,
        )
    STD = np.sqrt(VAR)

    feas = np.triu(np.ones((n, n), dtype=bool)) & (CNT > 0)
    if min_bin_size is not None:
        feas &= CNT >= min_bin_size * total_n
    if max_bin_size is not None:
        feas &= CNT <= max_bin_size * total_n
    # reference objective (continuous_model_data, model_data.py:177+):
    # V[j,i] = |mean(bin) - total_mean|, NOT share-weighted — each
    # extra bin adds a positive term, matching the reference optimum
    V = np.where(feas, np.abs(MEAN - mean_total), NEG)

    pv_ok = None
    if max_pvalue is not None:
        @functools.cache
        def pv_ok(k, j, i):
            _, pv = welch_ttest_from_stats(
                MEAN[k, j - 1], STD[k, j - 1], CNT[k, j - 1],
                MEAN[j, i], STD[j, i], CNT[j, i])
            return pv <= max_pvalue

    return _solve_shared(V, MEAN[..., None], monotonic_trend, min_n_bins,
                         max_n_bins, min_mean_diff, pv_ok)


def solve_scenarios(
    n_nonevent: np.ndarray,
    n_event: np.ndarray,
    *,
    weights=None,
    monotonic_trend: str | None = None,
    min_n_bins: int | None = None,
    max_n_bins: int | None = None,
    min_bin_size: float | None = None,
    max_bin_size: float | None = None,
    min_event_rate_diff: float = 0.0,
    max_pvalue: float | None = None,
) -> BinSolution:
    """Stochastic (scenario) binning: one shared partition maximizing
    the scenario-weighted sum of IVs (reference
    cp.py:175-263 build_model_scenarios / binning_scenarios.py).

    ``n_nonevent`` / ``n_event`` are [prebin, scenario] matrices.
    Monotonicity, min_event_rate_diff, max_pvalue and bin-size bounds
    are enforced PER SCENARIO on each scenario's own counts/rates —
    the reference adds one constraint set per scenario; the peak/valley
    change point is shared across scenarios (its ``t`` variable is
    global), which the one shared phase group reproduces exactly.
    Scenarios are equally weighted when ``weights`` is None
    (binning_scenarios.py:348-349).
    """
    NEm = np.asarray(n_nonevent, dtype=float)
    EVm = np.asarray(n_event, dtype=float)
    n, n_s = NEm.shape
    if n == 0:
        return BinSolution([], 0.0, "INFEASIBLE", monotonic_trend)
    w = np.full(n_s, 1.0 / n_s) if weights is None else np.asarray(weights, float)

    iv = DIVERGENCES["iv"]
    feas = np.triu(np.ones((n, n), dtype=bool))
    V = np.zeros((n, n))
    ERs, NEs, EVs = [], [], []
    for s in range(n_s):
        NE = _interval_sums(NEm[:, s])
        EV = _interval_sums(EVm[:, s])
        CNT = NE + EV
        t_ne, t_ev = NEm[:, s].sum(), EVm[:, s].sum()
        feas &= (EV > 0) & (NE > 0)
        if min_bin_size is not None:
            feas &= CNT >= min_bin_size * (t_ne + t_ev)
        if max_bin_size is not None:
            feas &= CNT <= max_bin_size * (t_ne + t_ev)
        with np.errstate(divide="ignore", invalid="ignore"):
            V = V + w[s] * iv(EV / max(t_ev, 1e-15), NE / max(t_ne, 1e-15))
            ERs.append(np.where(CNT > 0, EV / np.maximum(CNT, 1e-15), 0.0))
        NEs.append(NE)
        EVs.append(EV)
    V = np.where(feas, V, NEG)

    pv_ok = None
    if max_pvalue is not None:
        @functools.cache
        def pv_ok(k, j, i):
            return all(
                chi2_contingency_2xk(np.array(
                    [[NE[k, j - 1], EV[k, j - 1]], [NE[j, i], EV[j, i]]])
                )[1] <= max_pvalue
                for NE, EV in zip(NEs, EVs))

    return _solve_shared(V, np.stack(ERs, axis=-1), monotonic_trend,
                         min_n_bins, max_n_bins, min_event_rate_diff, pv_ok)


def solve_multiclass(
    n_event_by_class: np.ndarray,
    *,
    monotonic_trends: list[str | None] | None = None,
    min_n_bins: int | None = None,
    max_n_bins: int | None = None,
    min_bin_size: float | None = None,
    node_budget: int = NODE_BUDGET,
) -> BinSolution:
    """Multiclass: maximize summed one-vs-rest JS divergence
    (reference multiclass_cp.py); each class's trend constrains its
    one-vs-rest event rate. Per-class trends: every TRENDS value
    (the reference's eight, multiclass_binning.py:98-106). Peak and
    valley carry per-class phase state — the reference gives each such
    class its own change-point variable (multiclass_cp.py
    decision_variables: y[c, i] / t[c]) with pairwise-within-leg
    constraints and NO constraint across the change point; one phase
    group per class reproduces that exactly, including the boundary
    freedom (a second-leg opener higher than the first-leg close is
    reachable by extending phase 0 through it). Concave/convex use the
    all-triples curvature rule (multiclass_cp.py mirrors
    cp.py:433-457), so any such class sends the whole solve to the
    shape search, which enforces every class's trend exactly. Unknown
    trend values raise ValueError (the reference validates the same
    set).

    Limits: the DP allocates 2**n_pv phase masks for n_pv peak/valley
    classes and is capped at n_pv <= 12. ``node_budget`` caps the
    shape search's extension attempts (deterministic analog of the
    reference CP solver's time_limit); exhaustion yields FEASIBLE
    (best found) or UNKNOWN, never a false INFEASIBLE."""
    M = np.asarray(n_event_by_class, dtype=float)  # [prebin, class]
    n, n_classes = M.shape
    if n == 0:
        return BinSolution([], 0.0, "INFEASIBLE", None)
    totals = M.sum(axis=0)
    total_all = totals.sum()

    CNTc = np.stack([_interval_sums(M[:, c]) for c in range(n_classes)], axis=-1)
    CNT = CNTc.sum(axis=-1)
    feas = np.triu(np.ones((n, n), dtype=bool)) & (CNT > 0)
    if min_bin_size is not None:
        feas &= CNT >= min_bin_size * total_all
    # one-vs-rest JS per class, summed
    V = np.zeros((n, n))
    RATEc = np.where(CNT[..., None] > 0, CNTc / np.maximum(CNT[..., None], 1e-15), 0.0)
    js = DIVERGENCES["js"]
    for c in range(n_classes):
        ev = CNTc[..., c]
        ne = CNT - ev
        t_ev = totals[c]
        t_ne = total_all - totals[c]
        p = ev / max(t_ev, 1e-15)
        q = ne / max(t_ne, 1e-15)
        V = V + js(p, q)
        feas &= (ev > 0) & (ne > 0)
    V = np.where(feas, V, NEG)

    trends = list(monotonic_trends or [None] * n_classes)
    bad = sorted({str(t) for t in trends if t not in TRENDS})
    if bad:
        raise ValueError(
            f"Invalid per-class monotonic trend(s) {bad}. Allowed: "
            "None, 'ascending', 'descending', 'concave', 'convex', "
            "'peak', 'valley', 'peak_heuristic', 'valley_heuristic'."
        )

    lo = max(1, min_n_bins or 1)
    hi = min(n, max_n_bins or n)
    segments, objective, status = _solve_trends(
        V, lo, hi, RATEc, trends, 0.0, None, False, node_budget)
    return BinSolution(segments, objective, status, None)


def _solve_shared(V, rates, trend, min_n_bins, max_n_bins, min_diff, pv_ok):
    """Solve with one trend shared by every rate component (binary,
    continuous and scenario targets). auto_asc_desc solves both
    directions and keeps descending only when it is better at the 9dp
    precision the oracles compare (ascending wins rounded ties)."""
    if trend == "auto_asc_desc":
        a, d = (_solve_shared(V, rates, t, min_n_bins, max_n_bins,
                              min_diff, pv_ok)
                for t in ("ascending", "descending"))
        return a if round(a.objective, 9) >= round(d.objective, 9) else d
    check_trend(trend, also=("auto_asc_desc",))
    n = V.shape[0]
    lo = max(1, min_n_bins or 1)
    hi = min(n, max_n_bins or n)
    segments, objective, status = _solve_trends(
        V, lo, hi, rates, [trend] * rates.shape[-1], min_diff, pv_ok, True)
    return BinSolution(segments, objective, status, trend)


# ---------------------------------------------------------------------
# the kernel
# ---------------------------------------------------------------------


def _solve_trends(V, lo, hi, rates, trends, min_diff, pv_ok, shared,
                  node_budget=NODE_BUDGET):
    """Route per-component ``trends`` to the DP, or to the shape search
    when any component is concave/convex. ``shared``: every phased
    component sits in ONE phase group (one change point for all);
    otherwise each has its own. Returns (segments, objective,
    status)."""
    if any(t in _CURVE for t in trends):
        return _shape_search(V, lo, hi, rates, trends, pv_ok, shared,
                             node_budget)
    return _partition_dp(V, lo, hi, rates, *_legs(trends, shared),
                         min_diff, pv_ok)


def _legs(trends, shared):
    """(fixed legs, phase groups) of per-component trends: a fixed leg
    is (component, +1 ascending / -1 descending); a phase group is a
    list of such pairs giving each member's first leg."""
    fixed = [(c, _LEG[t]) for c, t in enumerate(trends)
             if t in _LEG and t not in _PHASED]
    phased = [(c, _LEG[t]) for c, t in enumerate(trends) if t in _PHASED]
    groups = [phased] if shared and phased else [[p] for p in phased]
    return fixed, groups


def _edge_tests(rates, fixed, groups, min_diff):
    """Boolean [k, j, i] tensors of the leg tests between a previous bin
    [k..j-1] and the bin [j..i]: the AND of the fixed legs, and per
    phase group its (first leg, second leg) ANDs. A leg holds when
    sign * (rate[j..i] - rate[k..j-1]) >= min_diff. Only components
    that carry a leg get a tensor."""
    n = rates.shape[0]
    diff = {}
    for c in {c for c, _ in fixed} | {c for g in groups for c, _ in g}:
        prev = np.zeros((n, n))
        prev[:, 1:] = rates[:, :-1, c]  # prev[k, j] = rate of [k..j-1]
        diff[c] = rates[None, :, :, c] - prev[:, :, None]
    ones = np.ones((n, n, n), dtype=bool)

    def all_of(legs):
        out = ones
        for c, sign in legs:
            out = out & ((diff[c] if sign > 0 else -diff[c]) >= min_diff)
        return out

    return all_of(fixed), [(all_of(g), all_of([(c, -s) for c, s in g]))
                           for g in groups]


def _pick(vals, masks):
    """Pinned argmax along axis 0 for every trailing cell of ``vals``:
    the candidate a scan of axis 0 through _better_pinned keeps (the
    scan order is the caller's loop order). Only candidates within
    2e-9 of a cell's maximum can win it (a wider gap survives the 9dp
    rounding), so a cell with one such candidate takes it, exact ties
    take the lowest mask, and the rest go through the scalar compare.
    ``masks`` broadcasts against ``vals``. Returns (index, value)."""
    best = vals.max(axis=0)
    idx = vals.argmax(axis=0)
    near = vals >= best - 2e-9
    multi = (near.sum(axis=0) > 1) & (best > NEG / 2)
    if multi.any():
        masks = np.broadcast_to(masks, vals.shape)
        for cell in zip(*np.nonzero(multi)):
            col = (slice(None),) + cell
            cand = np.flatnonzero(near[col])
            v, m = vals[col][cand], masks[col][cand]
            if (v == v[0]).all():
                idx[cell] = cand[np.argmin(m)]
                continue
            w = 0
            for c in range(1, len(cand)):
                if _better_pinned(v[c], int(m[c]), v[w], int(m[w])):
                    w = c
            idx[cell] = cand[w]
    return idx, np.take_along_axis(vals, idx[None], axis=0)[0]


def _partition_dp(V, lo, hi, rates, fixed, groups, min_diff, pv_ok):
    """Exact DP over states (phase mask, bins used b, last bin [j..i]).
    Bit g of the phase mask is set once group g has switched to its
    second leg; a bin entering mask nm from a predecessor mask pm
    (a submask of nm) must pass the fixed legs and, per group, the
    first leg (bit clear) or the second leg (bit set). There is no
    constraint across the change point itself: a switch tests the
    second leg against the last first-leg bin, exactly as a stay.

    Each bin count b is one vectorized step over (k, j, i): the
    candidates of state (nm, b, j, i) are (k, pm) in loop order k,
    then pm (a stay, pm == nm, first); _pick applies the pinned order.
    p-values are evaluated lazily, once per (k, j, i) triple, and only
    for triples whose predecessor state is live."""
    n = V.shape[0]
    G = len(groups)
    if G > _MAX_GROUPS:
        raise ValueError(
            f"{G} peak/valley class trends: DP phase space 2^{G} "
            "is too large; constrain trends or use asc/desc/None"
        )
    n_masks = 1 << G
    vok = V > NEG / 2  # feasible bins ([j, i], upper triangle)
    fixed_ok, legs = _edge_tests(rates, fixed, groups, min_diff)
    edge = []  # edge[nm][k, j, i]: legs into phase mask nm
    for nm in range(n_masks):
        e = fixed_ok & vok[None]
        for g, pair in enumerate(legs):
            e = e & pair[(nm >> g) & 1]
        edge.append(e)
    subs = [[nm] + [pm for pm in range(n_masks) if pm != nm and pm & ~nm == 0]
            for nm in range(n_masks)]
    pv_state = None if pv_ok is None else np.zeros((n, n, n), dtype=np.int8)
    any_edge = functools.reduce(np.logical_or, edge)
    bits = np.zeros(n, dtype=np.int64)  # boundary bit of a bin starting at j
    bits[1:] = np.left_shift(1, np.arange(n - 1, dtype=np.int64))

    f = np.full((n_masks, hi + 1, n, n), NEG)
    msk = np.zeros((n_masks, hi + 1, n, n), dtype=np.int64)
    par_k = np.zeros((n_masks, hi + 1, n, n), dtype=np.int64)
    par_m = np.zeros((n_masks, hi + 1, n, n), dtype=np.int64)
    f[0, 1, 0] = np.where(vok[0], V[0], NEG)
    for b in range(2, hi + 1):
        # prev[pm, k, j]: best partition of [0..j-1] ending in [k..j-1]
        prev = np.full((n_masks, n, n), NEG)
        prev[:, :, 1:] = f[:, b - 1, :, :-1]
        live = prev > NEG / 2
        if not live.any():
            break
        pmask = np.zeros((n_masks, n, n), dtype=np.int64)
        pmask[:, :, 1:] = msk[:, b - 1, :, :-1]
        pmask |= bits
        if pv_state is not None:
            need = live.any(axis=0)[:, :, None] & any_edge & (pv_state == 0)
            for k, j, i in zip(*np.nonzero(need)):
                pv_state[k, j, i] = 1 if pv_ok(int(k), int(j), int(i)) else 2
        for nm in range(n_masks):
            s = subs[nm]
            e = edge[nm] if pv_state is None else edge[nm] & (pv_state == 1)
            cand = np.where(live[s][..., None] & e[None],
                            prev[s][..., None] + V, NEG)
            # candidate order: k outer, then pm
            cand = cand.transpose(1, 0, 2, 3).reshape(-1, n, n)
            cmask = pmask[s].transpose(1, 0, 2).reshape(-1, n, 1)
            idx, val = _pick(cand, cmask)
            f[nm, b] = val
            msk[nm, b] = np.take_along_axis(
                np.broadcast_to(cmask, cand.shape), idx[None], axis=0)[0]
            par_k[nm, b] = idx // len(s)
            par_m[nm, b] = np.asarray(s)[idx % len(s)]

    # terminal states covering prebin n-1, in (mask, b, j) order
    ends = f[:, lo:hi + 1, :, n - 1].reshape(-1, 1)
    if ends.size == 0 or ends.max() <= NEG / 2:
        # no feasible partition (e.g. every candidate bin pure)
        return [(0, n - 1)], 0.0, "INFEASIBLE"
    idx, val = _pick(ends, msk[:, lo:hi + 1, :, n - 1].reshape(-1, 1))
    nm, b, j = np.unravel_index(int(idx[0]), (n_masks, hi + 1 - lo, n))
    b += lo
    segments, i = [], n - 1
    while True:
        segments.append((int(j), i))
        if b == 1:
            break
        nm, j, i = par_m[nm, b, j, i], par_k[nm, b, j, i], int(j) - 1
        b -= 1
    segments.reverse()
    return segments, float(val[0]), "OPTIMAL"


def _phase_step(ph, legs, k, j, i):
    """Phase mask after bin [j..i] follows bin [k..j-1]: each group stays
    on its first leg while that leg holds and switches at the latest
    possible bin; None when a leg fails."""
    for g, (first, second) in enumerate(legs):
        if not ph >> g & 1 and first[k][j][i]:
            continue
        if not second[k][j][i]:
            return None
        ph |= 1 << g
    return ph


def _shape_search(V, lo, hi, rates, trends, pv_ok, shared, node_budget):
    """Exact solve with concave/convex components (reference
    cp.py:433-457): e_a + e_c <= 2 * e_b for EVERY bin triple a < b < c
    (concave; reversed for convex), which does not fit a last-bin DP
    state. Depth-first enumeration of partitions with O(1) incremental
    state per component: appending a bin of signed rate r to a curved
    component is feasible iff r <= m, where m = min over earlier bin
    pairs (a, b) of (2 e_b - e_a), updated as min(m, 2 r - max_rate);
    fixed legs test the previous bin; phase groups switch to their
    second leg at the latest possible bin (exact for left-to-right
    feasibility: a sequence is unimodal iff after its first strict
    break no reversal follows).

    Flat profiles defeat the pruning (the tree is every 2^(n-1)
    partition), so ``node_budget`` caps the extension attempts. On
    exhaustion the best complete partition found is FEASIBLE; if none
    was found, the DP relaxation (concave -> peak, convex -> valley) is
    kept, as FEASIBLE, only if its optimum passes the all-triples
    check; otherwise the status is UNKNOWN — exhaustion proves
    nothing."""
    n = V.shape[0]
    live = (V > NEG / 2).tolist()
    Vl = V.tolist()
    curved = [(c, _CURVE[t]) for c, t in enumerate(trends) if t in _CURVE]
    signed = rates[:, :, [c for c, _ in curved]] * np.array(
        [s for _, s in curved])
    R, R2 = signed.tolist(), (2.0 * signed).tolist()
    fixed, groups = _legs(trends, shared)
    fixed_ok = legs = None
    if fixed or groups:
        fixed_ok, legs = _edge_tests(rates, fixed, groups, 0.0)
        fixed_ok = fixed_ok.tolist()
        legs = [(a.tolist(), b.tolist()) for a, b in legs]
    inf = (np.inf,) * len(curved)

    best_val, best_mask, found = NEG, 0, False
    nodes = 0
    exhausted = False
    # frames: (start, bins so far, previous bin's start, value,
    # curvature bounds m, running max rates, phase mask, boundary
    # mask); the boundary mask (bit i = split after prebin i) keys the
    # pinned compare and encodes the partition
    stack = [(0, 0, -1, 0.0, inf, tuple(-x for x in inf), 0, 0)]
    while stack:
        start, nb, k, val, m, mx, ph, bmask = stack.pop()
        if nodes >= node_budget:
            exhausted = True
            break
        nodes += n - start
        # per-node invariants of the extension loop
        live_s, r_s, r2_s, v_s = live[start], R[start], R2[start], Vl[start]
        bound = tuple(y + 1e-12 for y in m) if nb >= 2 else None
        edges = nb and (legs is not None or pv_ok is not None)
        done = lo <= nb + 1 <= hi
        grow = nb + 1 < hi
        for i in range(start, n):
            if not live_s[i]:
                continue
            r = r_s[i]
            if bound is not None and any(map(gt, r, bound)):
                continue
            nph = ph
            if edges:
                if legs is not None:
                    if not fixed_ok[k][start][i]:
                        continue
                    nph = _phase_step(ph, legs, k, start, i)
                    if nph is None:
                        continue
                if pv_ok is not None and not pv_ok(k, start, i):
                    continue
            nval = val + v_s[i]
            if i == n - 1:
                if done and (not found or _better_pinned(
                        nval, bmask, best_val, best_mask)):
                    best_val, best_mask, found = nval, bmask, True
            elif grow:
                stack.append((
                    i + 1, nb + 1, start, nval,
                    m if nb < 1 else tuple(map(min, m, map(sub, r2_s[i], mx))),
                    tuple(map(max, mx, r)), nph, bmask | (1 << i)))
    if found:
        cuts = [i + 1 for i in range(n - 1) if best_mask >> i & 1]
        segments = list(zip([0] + cuts, [c - 1 for c in cuts] + [n - 1]))
        return (segments, float(best_val),
                "FEASIBLE" if exhausted else "OPTIMAL")
    if not exhausted:
        return [(0, n - 1)], 0.0, "INFEASIBLE"
    fixed, groups = _legs([_RELAX.get(t, t) for t in trends], shared)
    if len(groups) <= _MAX_GROUPS:
        segments, objective, status = _partition_dp(
            V, lo, hi, rates, fixed, groups, 0.0, pv_ok)
        sr = [R[j][i] for j, i in segments]
        if status == "OPTIMAL" and all(
                sr[a][c] + sr[e][c] <= 2.0 * sr[b][c] + 1e-12
                for c in range(len(curved))
                for a in range(len(sr))
                for b in range(a + 1, len(sr))
                for e in range(b + 1, len(sr))):
            return segments, objective, "FEASIBLE"
    return [(0, n - 1)], 0.0, "UNKNOWN"
