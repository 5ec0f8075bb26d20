"""Sample-class routing and value normalization as Spark expressions.

The reference physically splits each feature into clean / missing /
special / others numpy slices (reference: optbinning/binning/
preprocessing.py:45-285 ``split_data``). A Spark engine must never
materialize those slices: we derive a single ``sample_class`` column
with ``F.when`` chains and let every downstream aggregation group by
it — one pass, no data movement, Catalyst collapses the projections.

Semantics preserved:
- numeric missing = NULL **or** NaN (the reference's np.isnan /
  pd.isnull duality, preprocessing.py:188-191);
- special codes as a flat list -> one "special" group, or a dict of
  named groups -> one group per name, each becoming its own Special
  bin row (binning.py:225-232, binning_statistics.py:136-150);
- everything else is "clean".
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .fastlit import sql_lit

CLEAN = "clean"
MISSING = "missing"
SPECIAL_PREFIX = "special"


def normalize_special_codes(special_codes) -> dict[str, list]:
    """Return {group_name: [values...]}; list input becomes a single
    group named 'special'."""
    if special_codes is None:
        return {}
    if isinstance(special_codes, dict):
        return {str(k): list(v) for k, v in special_codes.items()}
    return {SPECIAL_PREFIX: list(special_codes)}


def missing_predicate(col: Column, dtype: str) -> Column:
    if dtype == "categorical":
        return col.isNull()
    return col.isNull() | F.isnan(col)


def _typed_specials(values, dtype: str) -> list:
    """Special codes that can match a column of this dtype. The
    reference's pandas ``isin`` is type-strict: a numeric code never
    matches a string category (and under ANSI Spark the coerced cast
    would error instead) — so string columns only compare against
    string codes."""
    if dtype == "categorical":
        return [v for v in values if isinstance(v, str)]
    return [v for v in values if not isinstance(v, str)]


def sample_class_expr(
    col: Column, dtype: str = "numerical", special_codes=None
) -> Column:
    """Build the sample_class routing column: 'missing',
    'special:<group>' or 'clean'."""
    groups = normalize_special_codes(special_codes)
    expr = F.when(missing_predicate(col, dtype), F.lit(MISSING))
    for name, values in groups.items():
        values = _typed_specials(values, dtype)
        if values:
            expr = expr.when(
                col.isin(values), F.lit(f"{SPECIAL_PREFIX}:{name}")
            )
    return expr.otherwise(F.lit(CLEAN))


def sample_class_code_expr(
    col: Column, dtype: str = "numerical", special_codes=None
) -> Column:
    """Integer-coded sample_class for hot aggregation paths: 0=clean,
    1=missing, 2+i = i-th special group (normalize_special_codes
    order, which is deterministic). String allocation per exploded row
    dominates the stacked-fit aggregation's hashing cost; decoding
    back to names happens once on the tiny collected result."""
    groups = normalize_special_codes(special_codes)
    expr = F.when(missing_predicate(col, dtype), F.lit(1))
    for i, (name, values) in enumerate(groups.items()):
        values = _typed_specials(values, dtype)
        if values:
            expr = expr.when(col.isin(values), F.lit(2 + i))
    return expr.otherwise(F.lit(0))


def sample_class_code_names(special_codes) -> dict[int, str]:
    """Decode map for sample_class_code_expr: code -> the string
    sample_class_expr would have produced."""
    out = {0: CLEAN, 1: MISSING}
    for i, name in enumerate(normalize_special_codes(special_codes)):
        out[2 + i] = f"{SPECIAL_PREFIX}:{name}"
    return out


def clean_value_expr(col: Column, dtype: str = "numerical", special_codes=None) -> Column:
    """Value with missing/special rows nulled out, so aggregations over
    the clean partition need no separate filter."""
    groups = normalize_special_codes(special_codes)
    cond = missing_predicate(col, dtype)
    for values in groups.values():
        values = _typed_specials(values, dtype)
        if values:
            cond = cond | col.isin(values)
    return F.when(~cond, col)


def numeric_bin_expr(col: Column, splits) -> Column:
    """Bin index for sorted splits: bin i  <=>  value in
    [splits[i-1], splits[i])  — np.digitize(x, splits, right=False)
    semantics (reference transformations.py:255-263). NULL in -> NULL out.

    A <=21-branch CASE WHEN chain: whole-stage-codegen'd, no join, no
    shuffle; the idiomatic Spark equivalent of a broadcast range join
    against the tiny splits table.
    """
    splits = list(splits)
    if not splits:
        return F.when(col.isNotNull(), F.lit(0))
    # the NULL guard must be explicit: NULL < x is NULL, so without it
    # NULL would fall through every WHEN into the otherwise() and land
    # in the LAST bin (observed skewing the streaming PSI monitor).
    # NaN deliberately still lands in the last bin — NaN < x is false,
    # matching np.digitize(nan) == len(splits).
    expr = F.when(col.isNull(), F.lit(None).cast("int")).when(
        col < float(splits[0]), F.lit(0))
    for i, s in enumerate(splits[1:], start=1):
        expr = expr.when(col < float(s), F.lit(i))
    return expr.otherwise(F.lit(len(splits)))


def numeric_bin_sql(col_sql: str, splits) -> str:
    """``numeric_bin_expr``'s exact branches and literal types as one
    SQL string over a rendered column, parsed in ONE ``F.expr`` round
    trip instead of ~3 py4j calls per edge."""
    splits = list(splits)
    if not splits:
        return f"CASE WHEN {col_sql} IS NOT NULL THEN 0 END"
    whens = "".join(
        f" WHEN {col_sql} < {sql_lit(float(s))} THEN {i}"
        for i, s in enumerate(splits))
    return (f"CASE WHEN {col_sql} IS NULL THEN CAST(NULL AS INT){whens}"
            f" ELSE {len(splits)} END")


def categorical_bin_expr(col: Column, bin_categories: list[list]) -> Column:
    """Bin index for categorical bins given the per-bin category lists
    (reference transformations.py:193-197). Unknown categories -> NULL
    (caller decides the unknown policy, binning.py:385-396)."""
    mapping = {}
    for b, cats in enumerate(bin_categories):
        for c in cats:
            mapping[c] = b
    expr = None
    for c, b in mapping.items():
        cond = col == F.lit(c)
        expr = F.when(cond, F.lit(b)) if expr is None else expr.when(cond, F.lit(b))
    if expr is None:
        return F.lit(None).cast("int")
    return expr
