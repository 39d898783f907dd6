"""Projections written as SQL text, so a plan's width costs no JVM calls.

Every pyspark ``Column`` built in Python costs several py4j round trips, and
every list handed to the JVM one more per element, so a per-column
``select`` grows its driver-side build with the column count. ``project``
writes the whole projection as ONE SQL string: a ``struct`` of the output
columns, star-expanded. Catalyst folds the struct away
(``SimplifyExtractValueOps`` after ``CollapseProject``), so the optimized
plan is the one a per-column ``select`` builds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_STRUCT = "__projection"


def quote_ident(name: str) -> str:
    """``name`` as a backtick-quoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def project(df: DataFrame, items: list[tuple[str, str]]) -> DataFrame:
    """``df`` projected to ``items``, (output name, SQL expression) pairs in
    output order, in a fixed number of JVM calls. ``items`` is non-empty."""
    body = ", ".join(f"{expr} AS {quote_ident(name)}" for name, expr in items)
    return df.selectExpr(f"struct({body}) AS {_STRUCT}").selectExpr(f"{_STRUCT}.*")
