"""Quoting for values spliced into Spark SQL expression text.

Operators on the SCATS path build their columns as SQL text
(``selectExpr`` / ``where``): the JVM parses and analyses each step in one
Py4J call, where each ``pyspark.sql.functions`` call costs about 10-35
round trips on the driver, paid again by every batch job that builds the
plan.  Every name or string that reaches that text goes through one of
these two functions.
"""

from __future__ import annotations


def sql_ident(name: str) -> str:
    """``name`` as one backtick-quoted identifier (a top-level column
    name, never a dotted path)."""
    return "`" + name.replace("`", "``") + "`"


def sql_string(value: str) -> str:
    """``value`` as a single-quoted Spark SQL string literal."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
