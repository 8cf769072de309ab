"""Spark SQL expression text for wide projections.

Every PySpark ``Column`` call (``F.col``, ``.cast``, ``F.lit``,
``F.coalesce``, a lambda variable) costs py4j round trips to the driver
JVM: built call by call, the flagship's 64-, 65- and 160-column
projections take ~40 round trips per column, ~13,000 for one plan and
most of its build time. As SQL text a projection costs about one round
trip per column (py4j ships a list of strings element by element), and
the JVM parses it into the same expressions: the optimized plan does
not change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def ident(name: str) -> str:
    """Backtick-quoted identifier (a backtick in ``name`` is doubled)."""
    return "`" + name.replace("`", "``") + "`"


def literal(value: str) -> str:
    """Single-quoted string literal, backslash-escaped the way Spark's
    parser reads it (``spark.sql.parser.escapedStringLiterals`` off)."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def with_sql_columns(df: DataFrame, exprs: dict[str, str]) -> DataFrame:
    """Append one column per ``{name: SQL expression}`` in one
    ``selectExpr`` call. Unlike ``withColumns`` it never replaces a
    column: every name must be new to ``df``."""
    return df.selectExpr("*", *[f"{e} AS {ident(c)}" for c, e in exprs.items()])
