"""Fast array<double> literals.

``F.lit(python_list)`` builds the Literal through one py4j round trip
PER ELEMENT (classic mode lowers a list to ``array(lit(x), ...)``), so
the driver-side cost of shipping a bounded lookup table into an
expression is ~0.45 ms x n elements: measured 1.86 s for the 4,096-
bucket DSIR/NB ratio tables — more than the whole cluster-side job it
parameterizes (r17 profiling; the py4j socket latency is the unit
cost, not serialization volume).

``double_array_lit`` renders the same values as ONE SQL ``array(...)``
expression string and parses it in a single ``F.expr`` call: 0.01 s at
4,096 elements, value-identical columns. Identity argument: Python
``repr`` of a float round-trips (shortest repr), and Spark's ``...D``
double literal parses with Java ``Double.parseDouble`` (correctly
rounded), so every element maps back to the exact same IEEE double the
list held. NaN/±Infinity render as explicit CASTs (no double-literal
grammar for them); nested lists recurse into nested arrays.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_INF = float("inf")


def _fmt_scalar(v) -> str:
    v = float(v)
    if v != v:
        return "CAST('NaN' AS DOUBLE)"
    if v == _INF:
        return "CAST('Infinity' AS DOUBLE)"
    if v == -_INF:
        return "CAST('-Infinity' AS DOUBLE)"
    return repr(v) + "D"


def _render(values) -> str:
    if isinstance(values, (list, tuple)) or (
        hasattr(values, "tolist") and hasattr(values, "__len__")
    ):
        items = list(values)
        if not items:
            # array() alone types as array<null>; pin the element type
            return "CAST(array() AS ARRAY<DOUBLE>)"
        return "array(" + ",".join(_render(x) for x in items) + ")"
    return _fmt_scalar(values)


def double_array_lit(values) -> Column:
    """One-call ``array<double>`` (or nested array) literal Column for
    a Python/numpy sequence of floats. Use for any bounded lookup
    table shipped into an expression (DSIR ratio tables, NB LLR
    weights, centroid/codebook matrices, percentile grids)."""
    return F.expr(_render(values))


_parser_checked_sessions: set = set()


def _assert_default_string_parser() -> None:
    """The rendered string literals below rely on the DEFAULT
    ``spark.sql.parser.escapedStringLiterals=false``: with the
    Hive-compat setting true, ``\\uXXXX`` escapes and doubled
    backslashes parse as literal characters and silently produce wrong
    tokenization/shingles/vocab maps. Fail loudly instead — checked
    once per active session (one conf round trip), never per render.

    The session is the Python handle ``SparkSession.getActiveSession()``
    returns, read directly: that call costs four py4j round trips, and
    this runs on every render (40 commands per perfbench score op)."""
    try:
        from pyspark.sql import SparkSession

        s = SparkSession._activeSession
    except Exception:
        return
    if s is None:
        return
    key = id(s._jsparkSession) if hasattr(s, "_jsparkSession") else id(s)
    if key in _parser_checked_sessions:
        return
    if str(s.conf.get("spark.sql.parser.escapedStringLiterals",
                      "false")).lower() == "true":
        raise RuntimeError(
            "spark.sql.parser.escapedStringLiterals=true is "
            "incompatible with optbinning_spark's rendered SQL string "
            "literals (backslash/\\uXXXX escapes would parse as "
            "literal characters and silently corrupt tokenization); "
            "unset the conf or use the Column-op paths")
    _parser_checked_sessions.add(key)


def sql_str_lit(s: str) -> str:
    """Spark-SQL single-quoted string literal (backslash escaping —
    the default non-escapedStringLiterals parser, asserted above;
    control characters render as unicode escapes so the rendered SQL
    is one printable line). The ONE escaping implementation — bpe.py
    and every other SQL-string builder import it from here."""
    _assert_default_string_parser()
    out = []
    for ch in s:
        if ch == "\\":
            out.append("\\\\")
        elif ch == "'":
            out.append("\\'")
        elif ord(ch) < 32 or ord(ch) == 127:
            out.append(f"\\u{ord(ch):04X}")
        else:
            out.append(ch)
    return "'" + "".join(out) + "'"


# backwards-compatible internal alias (pre-r18 name)
_fmt_str = sql_str_lit

def sql_lit(v) -> str:
    """SQL literal typed as ``F.lit(v)``/``isin(v)`` types the value
    (py4j: int32-range int -> INT, wider -> BIGINT; float -> DOUBLE via
    the round-trip repr; NumPy scalars unwrapped), so rendered
    comparisons coerce like Column-built ones. Other types raise."""
    if hasattr(v, "item"):
        v = v.item()
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v) if -2 ** 31 <= v < 2 ** 31 else f"{v}L"
    if isinstance(v, float):
        return _fmt_scalar(v)
    if isinstance(v, str):
        return sql_str_lit(v)
    raise TypeError(f"no SQL literal rendering for {type(v).__name__}: {v!r}")


def sql_ident(name: str) -> str:
    """Backtick-quoted identifier; a dotted name quotes each segment,
    so it resolves as a nested/qualified reference the way F.col does.
    The ONE quoting implementation for every SQL-string builder."""
    return ".".join(
        "`" + part.replace("`", "``") + "`" for part in name.split("."))


def str_int_map_sql(mapping: dict) -> str:
    """The SQL ``map(...)`` rendering behind ``str_int_map_lit`` —
    exposed so builders composing a larger single-round-trip
    expression string can inline it."""
    if not mapping:
        return "CAST(map() AS MAP<STRING,INT>)"
    parts = []
    for k, v in mapping.items():
        parts.append(_fmt_str(str(k)))
        parts.append(str(int(v)))
    return "map(" + ",".join(parts) + ")"


def str_int_map_lit(mapping: dict) -> Column:
    """One-call ``map<string,int>`` literal Column for a bounded
    Python dict (a pinned BPE vocab, a category code table). Same
    rationale as ``double_array_lit``: ``F.create_map(*lits)`` costs
    one py4j round trip per key AND per value (~0.45 ms each), so a
    130-symbol vocab burns ~0.12 s of pure driver socket latency per
    query construction; rendering the same pairs as ONE parsed
    ``map(...)`` expression is a single round trip at any size.
    Insertion order is preserved (matters only for duplicate keys,
    which a dict cannot hold)."""
    return F.expr(str_int_map_sql(mapping))
