"""The driver solver reproduces recorded answers bit for bit.

``tests/data/solver_golden.json`` holds 754 problems — every target
(binary, continuous, scenario, multiclass) x every trend it accepts
(concave/convex included) x ``max_pvalue``, the min-diff,
``min_n_bins``/``max_n_bins``, ``gamma``, bin-size bounds, scenario
weights and the multiclass node budget, on seeded integer profiles of
2-10 prebins plus 20-prebin ones — with the ``(segments,
objective.hex(), status)`` that ``tools/gen_solver_golden.py``
recorded from the per-target DPs and shape searches the one partition
kernel replaced.

An entry tagged ``by_design`` differs on purpose, and ``expected``
holds the kernel's answer:

- ``shape_ties``: a multiclass concave/convex solve now breaks
  objective ties like every other solve (9dp objective, then the
  lowest boundary mask); the old search kept the first partition it
  found. The objective bits and the status do not move.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from optbinning_spark.core.solver import (
    solve_binary,
    solve_continuous,
    solve_multiclass,
    solve_scenarios,
)

_SOLVERS = {
    "binary": solve_binary,
    "continuous": solve_continuous,
    "scenario": solve_scenarios,
    "multiclass": solve_multiclass,
}
_ARRAYS = ("n_nonevent", "n_event", "n_records", "sums", "ssums",
           "n_event_by_class")

with open(os.path.join(os.path.dirname(__file__), "data",
                       "solver_golden.json")) as _fh:
    _CASES = json.load(_fh)["cases"]


def _solve(target, args):
    kw = dict(args)
    arrays = [np.asarray(kw.pop(k), dtype=float) for k in _ARRAYS if k in kw]
    sol = _SOLVERS[target](*arrays, **kw)
    return [[list(map(int, s)) for s in sol.segments],
            float(sol.objective).hex(), sol.status]


def _mask(segments):
    return sum(1 << (j - 1) for j, _ in segments[1:])


@pytest.mark.parametrize("target", sorted(_SOLVERS))
def test_solver_matches_golden(target):
    cases = [c for c in _CASES if c["target"] == target]
    assert len(cases) > 100
    bad = []
    for case in cases:
        got = _solve(target, case["args"])
        want = case.get("expected", case["record"])
        if got != want:
            bad.append((case["id"], got, want))
    assert not bad, bad[:5]


def test_by_design_entries_keep_the_optimum():
    tagged = [c for c in _CASES if "by_design" in c]
    assert tagged
    for case in tagged:
        assert case["by_design"] == "shape_ties"
        new, old = case["expected"], case["record"]
        # same objective bits and status, a lower boundary mask
        assert new[1:] == old[1:]
        assert _mask(new[0]) < _mask(old[0])
