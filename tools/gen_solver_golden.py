"""Record the driver solver's answers on a fixed grid of small problems
to ``tests/data/solver_golden.json`` (read by
``tests/test_solver_golden.py``).

The grid covers every target (binary, continuous, scenario,
multiclass) x every trend the target accepts (concave/convex included)
x the constraint options (``max_pvalue``, the min-diff, ``min_n_bins``
/ ``max_n_bins``, ``gamma``, bin-size bounds, scenario weights, the
multiclass node budget) on seeded integer profiles of 2-10 prebins
(small integers make exact-objective ties common), plus a few 20-prebin
profiles. Each entry stores the inputs and the solver's
``(segments, objective.hex(), status)``.

Run from the checkout whose answers are the reference:
    python tools/gen_solver_golden.py [out.json]
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from optbinning_spark.core.solver import (  # noqa: E402
    solve_binary,
    solve_continuous,
    solve_multiclass,
    solve_scenarios,
)

SOLVERS = {
    "binary": solve_binary,
    "continuous": solve_continuous,
    "scenario": solve_scenarios,
    "multiclass": solve_multiclass,
}
TRENDS = [None, "ascending", "descending", "auto_asc_desc", "peak",
          "valley", "concave", "convex"]
OPTIONS = {
    "binary": [{}, {"max_pvalue": 0.05}, {"max_pvalue": 0.5},
               {"min_event_rate_diff": 0.02},
               {"min_n_bins": 2, "max_n_bins": 4}, {"gamma": 0.1},
               {"min_bin_size": 0.1, "max_bin_size": 0.6},
               {"divergence": "js"}, {"divergence": "hellinger"},
               {"divergence": "triangular", "min_bin_n_event": 3}],
    "continuous": [{}, {"max_pvalue": 0.05}, {"max_pvalue": 0.5},
                   {"min_mean_diff": 0.3},
                   {"min_n_bins": 2, "max_n_bins": 4},
                   {"min_bin_size": 0.1}],
    "scenario": [{}, {"weights": [0.7, 0.3]}, {"max_pvalue": 0.3},
                 {"min_event_rate_diff": 0.02},
                 {"min_n_bins": 2, "max_n_bins": 4},
                 {"min_bin_size": 0.1, "max_bin_size": 0.7}],
}
MC_TRENDS = [
    None, ["ascending", None, None], [None, "descending", "ascending"],
    ["peak", None, None], [None, "valley", None],
    ["peak", "valley", "ascending"], ["valley", "peak", None],
    ["peak_heuristic", "none", "valley_heuristic"],
    ["concave", None, None], [None, "convex", "descending"],
    ["concave", "peak", None], ["convex", "concave", "valley"],
]
MC_OPTIONS = [{}, {"min_n_bins": 2, "max_n_bins": 4},
              {"min_bin_size": 0.1}, {"node_budget": 40}]


def _profile(rng, target, n):
    """Seeded inputs of one problem: small integer counts (tie-heavy)
    or wider counts, as plain lists."""
    hi = int(rng.choice([6, 25, 200]))
    if target == "binary":
        return {"n_nonevent": rng.integers(0, hi, n).tolist(),
                "n_event": rng.integers(0, hi, n).tolist()}
    if target == "continuous":
        cnt = rng.integers(1, hi + 2, n)
        mean = np.round(rng.normal(0, 2, n), 3)
        var = np.round(rng.uniform(0.5, 3, n), 3)
        return {"n_records": cnt.tolist(),
                "sums": (cnt * mean).tolist(),
                "ssums": (cnt * (var + mean * mean)).tolist()}
    if target == "scenario":
        return {"n_nonevent": rng.integers(0, hi, (n, 2)).tolist(),
                "n_event": rng.integers(0, hi, (n, 2)).tolist()}
    return {"n_event_by_class": rng.integers(0, hi, (n, 3)).tolist()}


def _smooth(rng, target, n):
    """A realistic n-prebin profile: a smooth rate curve plus noise."""
    x = np.linspace(-1, 1, n)
    rate = np.clip(0.3 + 0.2 * np.sin(2 * x + rng.uniform(-1, 1))
                   + rng.normal(0, 0.03, n), 0.02, 0.98)
    cnt = rng.integers(200, 600, n)
    ev = np.round(cnt * rate)
    if target == "binary":
        return {"n_nonevent": (cnt - ev).tolist(), "n_event": ev.tolist()}
    if target == "continuous":
        mean = np.round(5 * rate, 3)
        return {"n_records": cnt.tolist(), "sums": (cnt * mean).tolist(),
                "ssums": (cnt * (1.0 + mean * mean)).tolist()}
    if target == "scenario":
        ev2 = np.round(cnt * np.clip(rate * 0.9, 0.01, 0.99))
        return {"n_nonevent": np.stack([cnt - ev, cnt - ev2], 1).tolist(),
                "n_event": np.stack([ev, ev2], 1).tolist()}
    ev2 = np.round(cnt * np.clip(0.5 - rate / 2, 0.01, 0.99))
    return {"n_event_by_class": np.stack(
        [ev, ev2, np.maximum(cnt - ev - ev2, 1)], 1).tolist()}


def cases():
    rng = np.random.default_rng(20010825)
    out = []
    for target in ("binary", "continuous", "scenario"):
        for trend in TRENDS:
            for opt in OPTIONS[target]:
                for rep in range(3):
                    n = int(rng.integers(2, 11))
                    out.append((target, {**_profile(rng, target, n),
                                         "monotonic_trend": trend, **opt}))
                if not opt or "max_pvalue" in opt:
                    out.append((target, {**_smooth(rng, target, 20),
                                         "monotonic_trend": trend, **opt}))
    for trends in MC_TRENDS:
        for opt in MC_OPTIONS:
            for rep in range(3):
                n = int(rng.integers(2, 11))
                out.append(("multiclass", {**_profile(rng, "multiclass", n),
                                           "monotonic_trends": trends,
                                           **opt}))
        out.append(("multiclass", {**_smooth(rng, "multiclass", 20),
                                    "monotonic_trends": trends}))
    # flat profiles: nothing prunes the concave/convex search
    for shape in ("concave", "convex"):
        out.append(("binary", {"n_nonevent": [100] * 12,
                               "n_event": [50] * 12,
                               "monotonic_trend": shape}))
        out.append(("scenario", {"n_nonevent": [[100, 80]] * 12,
                                 "n_event": [[50, 40]] * 12,
                                 "monotonic_trend": shape}))
        out.append(("multiclass", {"n_event_by_class": [[30, 20, 10]] * 12,
                                   "monotonic_trends": [shape, None, None]}))
    return out


def solve(target, args):
    kw = dict(args)
    arrays = [k for k in ("n_nonevent", "n_event", "n_records", "sums",
                          "ssums", "n_event_by_class") if k in kw]
    pos = [np.asarray(kw.pop(k), dtype=float) for k in arrays]
    sol = SOLVERS[target](*pos, **kw)
    return [[list(map(int, s)) for s in sol.segments],
            float(sol.objective).hex(), sol.status]


def main(path):
    rows = [{"id": f"{target}-{k}", "target": target, "args": args,
             "record": solve(target, args)}
            for k, (target, args) in enumerate(cases())]
    with open(path, "w") as fh:
        json.dump({"cases": rows}, fh, indent=0, sort_keys=True)
        fh.write("\n")
    print(f"{len(rows)} cases -> {path}")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1
         else os.path.join(ROOT, "tests", "data", "solver_golden.json"))
