"""SQL-text fragments for stages built with ``selectExpr``/``filter``.

A stage built from ``Column`` objects costs at least one py4j round trip
per ``functions.*`` or ``Column`` call; the same stage as one
``selectExpr`` over SQL fragments costs a few per fragment. Helpers in
``functions/`` take SQL text and return SQL text, so a caller composes
a whole projection in Python strings and crosses to the JVM once. A
caller that needs a ``Column`` wraps the text in ``F.expr``.
"""

from __future__ import annotations


def literal(value: str | float | int) -> str:
    """Exact Spark SQL literal for a Python value.

    Strings: Spark's parser processes backslash escapes inside quotes,
    so every backslash is doubled and a quote escaped (``^\\S*`` reaches
    the parser as ``'^\\\\S*'``), and ``${`` is written ``\\u0024{`` so
    the parser's variable substitution cannot rewrite the text. Doubles
    carry a ``D`` suffix (the bare form parses as DECIMAL); integers
    type as INT, or BIGINT past the int range, as ``F.lit`` types them."""
    if isinstance(value, str):
        quoted = value.replace("\\", "\\\\").replace("'", "\\'").replace("${", "\\u0024{")
        return f"'{quoted}'"
    if isinstance(value, float):
        return f"{value!r}D"
    return str(value)


def ident(name: str) -> str:
    """Back-quoted SQL identifier for a column or field name."""
    return "`" + name.replace("`", "``") + "`"
