"""Spark SQL text fragments for the noise plan builders.

The noise operators write their expressions as SQL text in pure Python
and hand Spark one ``F.expr`` per projected column, so building a plan
costs O(columns) JVM calls instead of one Py4J round trip per
expression node. Literals carry explicit types: a bare ``0.5`` parses
as a DECIMAL, not a DOUBLE.
"""

from __future__ import annotations

import math


def ident(name: str) -> str:
    """A column name as a quoted identifier."""
    return "`" + name.replace("`", "``") + "`"


def double(x: float) -> str:
    """A DOUBLE literal that parses back to exactly ``x``."""
    x = float(x)
    if not math.isfinite(x):
        raise ValueError(f"non-finite literal {x!r}")
    return f"{x!r}D"


def string(s: str) -> str:
    """A STRING literal (backslash escapes are on in Spark's parser)."""
    return "'" + str(s).replace("\\", "\\\\").replace("'", "\\'") + "'"


def string_array(values) -> str:
    """``array(...)`` of STRING literals; Catalyst folds it to one
    constant array."""
    return "array(" + ", ".join(string(v) for v in values) + ")"
