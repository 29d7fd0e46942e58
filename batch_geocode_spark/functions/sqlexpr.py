"""SQL text as the one definition of the engine's column formulas.

Every formula in ``cells`` and ``geo`` is written once, as a builder of
SQL text; its Column helper parses that text with one ``F.expr`` call.
Building the same expression node by node through the Column API costs
a py4j round trip per node (two, with pyspark's call-site capture), so a
plan of a few hundred nodes spends most of its build time on the
gateway. The helpers keep their Column signatures by rendering each
argument back to SQL text:

- a column name (``str``) renders as its backtick-quoted identifier;
- a plain column reference (``F.col(name)``) renders the same way;
- a Column returned by a helper renders as the helper's SQL text.

Anything else raises ``TypeError``: an arbitrary Column has no SQL text
that is cheap and safe to recover.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_ATTRIBUTE = "org.apache.spark.sql.internal.UnresolvedAttribute"


def quote(name: str) -> str:
    """A column name as SQL, split on dots as ``F.col`` splits it, each
    part backtick-quoted; a name that already holds a backtick is taken
    as written."""
    if "`" in name:
        return name
    return ".".join(f"`{part}`" for part in name.split("."))


def sql_of(col: Column | str) -> str:
    """The SQL text of a helper argument (see the module docstring)."""
    if isinstance(col, str):
        return quote(col)
    if isinstance(col, Column):
        text = vars(col).get("_sql_text")
        if text is not None:
            return text
        node = col._jc.node()
        if node.getClass().getName() == _ATTRIBUTE:
            parts = node.nameParts().mkString("\0").split("\0")
            return ".".join("`" + p.replace("`", "``") + "`" for p in parts)
    raise TypeError(
        f"expected a column name, F.col(name) or a geo helper's output, got {col!r}"
    )


def expr(text: str, alias: str | None = None) -> Column:
    """``F.expr`` over ``text`` (named ``alias``), remembering the text so
    that a helper given this Column renders it back without the JVM."""
    col = F.expr(f"{text} AS {alias}" if alias else text)
    col._sql_text = text
    return col
