"""Spark SQL text for expressions built as one ``F.expr`` parse.

Every ``pyspark.sql.functions`` call and Column operator is at least one
py4j round trip to the driver JVM, so a tree of n literals built from
Columns costs O(n) round trips, while the same tree written as SQL text
costs one parse. These helpers render identifiers and literals so that
the parsed tree is the one the Column calls would have built.
"""

from __future__ import annotations

import math


def sql_ident(name: str) -> str:
    """Backtick-quote an identifier."""
    return "`" + name.replace("`", "``") + "`"


def sql_string(text: str) -> str:
    """Single-quote a string literal (backslash escapes, Spark's default
    ``spark.sql.parser.escapedStringLiterals=false``)."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_double(value: float) -> str:
    """A DOUBLE literal that parses back to exactly ``value``, sign of zero
    and subnormals included: ``repr`` is the shortest string that round-trips
    and the ``D`` suffix makes Spark parse it with ``Double.parseDouble``
    (without it a plain decimal parses as DECIMAL). SQL has no literal for
    NaN or infinity, so a non-finite value raises ``ValueError``."""
    value = float(value)
    if not math.isfinite(value):
        raise ValueError(f"no SQL DOUBLE literal for {value!r}")
    return f"{value!r}D"
