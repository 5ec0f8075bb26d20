"""Transform expressions: bin -> metric value as one parsed SQL CASE.

Reference: optbinning/binning/transformations.py:230-316 (binary woe /
event_rate / indices / bins), 388-452 (continuous mean), plus
special/missing policies and unknown-category defaults
(binning.py:385-396).

Spark design: the fitted bin-value mapping is tiny (<= ~25 entries), so
the transform is a <=25-branch CASE WHEN chain — whole-stage-codegen'd,
map-only, no shuffle, no UDF. Semantically it is a broadcast join
against the binning table; emitting it as an expression keeps the scan
pipeline narrow and lets Catalyst push surrounding filters through.

The CASE is rendered as ONE SQL string (``case_sql``) and parsed by a
single ``F.expr``: built from F.when/F.lit/isin Column ops it cost a
py4j round trip per node, and a 5-variable ``BinningProcess.transform``
took 0.175 s to build where it now takes 0.046 s (perfbench
binning_fit, traced, 4 vCPU). Branch order and literal types
(``sql_lit`` types a value as ``F.lit`` does) are the Column build's,
so plans and values are unchanged. ``case_sql`` is the library's one
transform CASE renderer: the binning transforms and every Scorecard
scoring expression call it. Numerical variables are read as DOUBLE,
as every fit reads them.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .fastlit import sql_ident, sql_lit
from .preprocessing import _typed_specials, normalize_special_codes


def _value_for(metric, table, kind, group=None):
    """Resolve the output value for special/missing rows: a fixed
    number or 'empirical' (use the bin's own statistic)."""
    idx = None
    for i, (k, lbl) in enumerate(zip(table.kinds, table.labels)):
        if k == kind and (group is None or lbl.endswith(group) or lbl == "Special"):
            idx = i
            break
    if idx is None:
        return 0.0
    if metric == "woe":
        return float(table.woe[idx])
    if metric == "event_rate":
        return float(table.event_rate[idx])
    if metric == "mean":
        return float(table.mean[idx])
    return 0.0


def case_sql(
    name: str,
    *,
    dtype: str,
    values,
    missing,
    specials=(),
    splits=None,
    bin_categories=None,
    default=0.0,
) -> str:
    """One variable's transform as a SQL CASE over column ``name``.

    Branches, first match wins: missing (NULL, plus NaN if numerical)
    -> ``missing``; each ``(codes, value)`` of ``specials`` -> value
    (codes of the other dtype dropped, an empty list left out); then
    numerical ``x < splits[i]`` -> ``values[i]`` with ELSE the last
    bin's value (``default`` if there are no values), or categorical
    ``x IN (bin_categories[i])`` -> ``values[i]`` with ELSE
    ``default`` (an unseen category). An empty IN list never matches a
    non-NULL value, so its branch is left out. Every value is rendered
    by ``sql_lit``: the caller's Python types set the literal types."""
    numerical = dtype != "categorical"
    c = f"CAST({sql_ident(name)} AS DOUBLE)" if numerical else sql_ident(name)
    whens = [(f"{c} IS NULL OR isnan({c})" if numerical
              else f"{c} IS NULL", missing)]
    for codes, value in specials:
        codes = _typed_specials(codes, dtype)
        if codes:
            whens.append((f"{c} IN ({', '.join(map(sql_lit, codes))})", value))
    if numerical:
        splits = list(splits if splits is not None else [])
        whens += [(f"{c} < {sql_lit(float(s))}", values[i])
                  for i, s in enumerate(splits)]
        last = values[len(splits)] if len(values) else default
    else:
        whens += [(f"{c} IN ({', '.join(map(sql_lit, cats))})", values[i])
                  for i, cats in enumerate(bin_categories or []) if cats]
        last = default
    return ("CASE" + "".join(f" WHEN {cond} THEN {sql_lit(v)}"
                             for cond, v in whens)
            + f" ELSE {sql_lit(last)} END")


def transform_expr(
    name: str,
    *,
    dtype: str = "numerical",
    splits=None,
    bin_categories=None,
    table=None,
    metric: str = "woe",
    metric_special=0,
    metric_missing=0,
    special_codes=None,
    show_digits: int = 2,
) -> Column:
    """The full transform expression for column ``name``: one parsed
    ``case_sql``.

    metric: woe | event_rate | indices | bins | mean
    metric_special / metric_missing: number or "empirical".
    """
    groups = normalize_special_codes(special_codes)

    if metric == "woe":
        clean_vals = [float(v) for v in table.woe[: _n_clean(table)]]
        default = 0.0
    elif metric == "event_rate":
        clean_vals = [float(v) for v in table.event_rate[: _n_clean(table)]]
        default = 0.0
    elif metric == "mean":
        clean_vals = [float(v) for v in table.mean[: _n_clean(table)]]
        default = 0.0
    elif metric == "indices":
        clean_vals = list(range(_n_clean(table)))
        default = -1
    elif metric == "bins":
        clean_vals = list(table.labels[: _n_clean(table)])
        default = "unknown"
    else:
        raise ValueError(f"unknown metric {metric}")

    # special/missing row resolution (reference transformations.py:
    # 152-226): metric='bins' always emits the label (group name for
    # dict special codes, else 'Special'/'Missing'); metric='indices'
    # emits the special/missing bin index unless the policy is a
    # literal int; otherwise a number or the bin's own 'empirical'
    # statistic.
    n_clean = len(clean_vals)
    n_special = max(len(groups), 1)
    special_is_dict = isinstance(special_codes, dict)

    def resolve(policy, kind, group=None, group_idx=0):
        if metric == "bins":
            if kind == "special":
                return group if special_is_dict else "Special"
            return "Missing"
        if metric == "indices":
            if isinstance(policy, int) and policy is not True:
                return policy
            if kind == "special":
                return n_clean + group_idx
            return n_clean + n_special
        if policy == "empirical":
            return _value_for(metric, table, kind, group)
        return policy

    return F.expr(case_sql(
        name, dtype=dtype, values=clean_vals,
        missing=resolve(metric_missing, "missing"),
        specials=[(codes, resolve(metric_special, "special", g, gi))
                  for gi, (g, codes) in enumerate(groups.items())],
        splits=splits, bin_categories=bin_categories, default=default))


def _n_clean(table) -> int:
    return int(sum(1 for k in table.kinds if k == "clean"))
