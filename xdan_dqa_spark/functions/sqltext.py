"""Helpers for writing Column expressions as Spark SQL expression text.

The flagship's expression layer (heuristics, category, score, keep, scrub)
is written once as SQL text over column names. ``selectExpr`` parses a
whole projection in one py4j call and ``F.expr`` parses one column in
three, where the same tree built node by node with
``pyspark.sql.functions`` costs one or more JVM round trips per node
(~5k round trips, ~1 s, for one ``score_webtext`` plan).
"""

from __future__ import annotations

import re

from pyspark.sql import Column

_NAME = re.compile(r"[A-Za-z_][A-Za-z0-9_.]*|`[^`]*`")
_ESCAPES = {"\\": "\\\\", "'": "\\'", "\t": "\\t", "\n": "\\n", "\r": "\\r"}


def lit(s: str) -> str:
    """``s`` as a Spark SQL string literal: raw ``r'…'`` when it holds a
    backslash (kept verbatim, so regexes read as written), a
    backslash-escaped literal when it holds a quote or a control
    character."""
    if "'" not in s and s.isprintable():
        return f"r'{s}'" if "\\" in s else f"'{s}'"
    return "'" + "".join(
        _ESCAPES.get(ch) or (f"\\u{ord(ch):04X}" if not ch.isprintable() else ch)
        for ch in s
    ) + "'"


def dbl(x: float) -> str:
    """A DOUBLE literal. A bare ``0.5`` is DECIMAL in Spark SQL; the ``D``
    suffix keeps every constant a double, as ``F.lit(float)`` makes it, and
    ``repr`` round-trips the exact value."""
    return repr(float(x)) + "D"


def arg(c: Column | str) -> str:
    """SQL text of an expression argument, safe to embed in a larger one.

    A ``str`` is SQL text already (usually a column name). A ``Column``
    must be a column reference, a literal or a Column built by ``F.expr``
    (every public expression function in this package returns one); Spark
    renders those back to SQL text. A Column built from operator nodes
    does not render as parseable SQL, so pass its name instead."""
    text = c if isinstance(c, str) else c._jc.node().sql()
    return text if _NAME.fullmatch(text) else f"({text})"


def quote(name: str) -> str:
    """A column name as a backquoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"
