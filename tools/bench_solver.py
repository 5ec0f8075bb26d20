"""Microbenchmark of the driver solver of the checkout this script lives
in: median CPU milliseconds per solve for every target x trend, with
and without ``max_pvalue``, at 5, 10 and 20 prebins.

Each cell solves the same seeded profiles (a smooth rate curve plus
noise, counts of a few hundred per prebin) ``--repeat`` times and
reports the median per-solve time; the flat-profile row is the shape
search's worst case (nothing prunes). For an A/B, run a copy of this
script inside each checkout, alternating, and compare medians:

    python tools/bench_solver.py --repeat 5 > new.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from optbinning_spark.core.solver import (  # noqa: E402
    solve_binary,
    solve_continuous,
    solve_multiclass,
    solve_scenarios,
)

TRENDS = [None, "ascending", "descending", "auto_asc_desc", "peak",
          "valley", "concave", "convex"]
MC_TRENDS = {
    "none": None,
    "asc": ["ascending", None, None],
    "peak": ["peak", None, None],
    "peak+valley": ["peak", "valley", None],
    "concave": ["concave", None, None],
    "convex+asc": ["convex", "ascending", None],
}


def profiles(n, k=4, seed=0):
    """k seeded smooth-plus-noise profiles: (counts, rates) per prebin."""
    rng = np.random.default_rng(seed + n)
    out = []
    for _ in range(k):
        x = np.linspace(-1, 1, n)
        rate = np.clip(0.3 + 0.2 * np.sin(2 * x + rng.uniform(-1, 1))
                       + rng.normal(0, 0.03, n), 0.02, 0.98)
        out.append((rng.integers(200, 600, n).astype(float), rate))
    return out


def problems(target, n):
    for cnt, rate in profiles(n):
        ev = np.round(cnt * rate)
        if target == "binary":
            yield (cnt - ev, ev)
        elif target == "continuous":
            mean = 5 * rate
            yield (cnt, cnt * mean, cnt * (1.0 + mean * mean))
        elif target == "scenario":
            ev2 = np.round(cnt * np.clip(rate * 0.9, 0.01, 0.99))
            yield (np.stack([cnt - ev, cnt - ev2], 1), np.stack([ev, ev2], 1))
        else:
            ev2 = np.round(cnt * np.clip(0.5 - rate / 2, 0.01, 0.99))
            yield (np.stack([ev, ev2, np.maximum(cnt - ev - ev2, 1)], 1),)


def timed(fn, args, kw, repeat):
    """Median process CPU seconds of one solve (CPU time, not wall
    time: other tenants of a shared host move it less)."""
    runs = []
    for _ in range(repeat):
        t = time.process_time()
        fn(*args, **kw)
        runs.append(time.process_time() - t)
    return float(np.median(runs))


def cells():
    solvers = {"binary": solve_binary, "continuous": solve_continuous,
               "scenario": solve_scenarios}
    for n in (5, 10, 20):
        for target, fn in solvers.items():
            for trend in TRENDS:
                for pv in (None, 0.05):
                    kw = {"monotonic_trend": trend, "max_pvalue": pv}
                    yield (n, target, str(trend), pv is not None, fn,
                           list(problems(target, n)), kw)
        for name, trends in MC_TRENDS.items():
            yield (n, "multiclass", name, False, solve_multiclass,
                   list(problems("multiclass", n)),
                   {"monotonic_trends": trends})
    yield (20, "binary", "concave(flat)", False, solve_binary,
           [(np.full(20, 100.0), np.full(20, 50.0))],
           {"monotonic_trend": "concave"})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--repeat", type=int, default=5)
    args = ap.parse_args()
    rows = []
    for n, target, trend, pv, fn, probs, kw in cells():
        rep = 1 if "flat" in trend else args.repeat
        ms = [1e3 * timed(fn, p, kw, rep) for p in probs]
        rows.append({"n": n, "target": target, "trend": trend,
                     "max_pvalue": pv, "ms": float(np.median(ms))})
    json.dump(rows, sys.stdout)
    print()


if __name__ == "__main__":
    main()
