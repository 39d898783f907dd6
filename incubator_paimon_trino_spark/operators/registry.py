"""Query registry + determinism helpers for the DuckDB-oracle harness.

The driver runs each registered Spark query AND its oracle SQL side-by-side and
compares row-count + schema + order-insensitive value-hash. Two rules make that
comparison exact:

1. **Column names must match** — alias every computed column identically in the
   Spark code and the SQL.
2. **Float aggregation must be deterministic.** Spark sums shuffle partitions
   in nondeterministic order, so ``SUM(double)`` differs from DuckDB's
   sequential sum in the low bits. All driver-table doubles are 2-decimal
   values, so we cast to ``DECIMAL(18,2)`` *before* aggregating (exact,
   order-independent) and cast the final aggregate back to ``DOUBLE`` (exact
   conversion, bit-identical in both engines). ``dec2``/``avg_dec`` implement
   the Spark half; oracle SQL mirrors it textually.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from incubator_paimon_trino_spark.session import engine_conf

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a named query; ``oracle`` is the equivalent DuckDB SQL.

    Queries without an oracle get the driver's weaker rows-only check — reserve
    that for genuinely non-SQL-expressible operators (MinHash banding, stateful
    streaming, ...).

    The registered query is the query boundary: it puts the caller's session
    under ``session.ENGINE_CONF`` before building, so a query's results never
    depend on the host session's defaults or on what ran before it.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")

        @functools.wraps(fn)
        def query(spark: SparkSession, sf_dir: str) -> DataFrame:
            engine_conf(spark)
            return fn(spark, sf_dir)

        QUERIES[name] = query
        if oracle is not None:
            ORACLES[name] = oracle
        return query

    return deco


# ---------------------------------------------------------------------------
# determinism helpers (Spark side); oracle SQL mirrors these textually
# ---------------------------------------------------------------------------

def self_check(df: DataFrame, cond: Column, message: str) -> DataFrame:
    """Row-level in-query invariant: rows pass through unchanged, but any
    row violating ``cond`` fails the whole query loudly at execution time
    (``F.assert_true``). ``assert_true`` is non-foldable, so the filter
    survives optimization; its value is always NULL on passing rows, so
    ``isNull()`` keeps every row."""
    return df.filter(F.assert_true(cond, F.lit(message)).isNull())


def guard_empty(df: DataFrame, violations: DataFrame, message: str) -> DataFrame:
    """Plan-level in-query invariant: fail the query loudly if the
    ``violations`` frame is non-empty, else pass ``df`` through unchanged.
    The guard is a one-row broadcast cross join (the repo's sanctioned
    1-row crossJoin shape), so it adds no shuffle to ``df``'s plan."""
    guard = self_check(
        violations.agg(F.count(F.lit(1)).alias("_viol")),
        F.col("_viol") == 0,
        message,
    )
    return df.crossJoin(F.broadcast(guard)).drop("_viol")


def dec2(col: str | Column) -> Column:
    """Exact decimal view of a 2-decimal double column (order-independent agg).

    DECIMAL(9,2) keeps 3-way products within 38 digits of precision in BOTH
    engines' multiplication rules (Spark: p1+p2+1; DuckDB: w1+w2), so products
    like ``price * (1-disc) * (1+tax)`` stay exact — no precision-loss rounding
    that could diverge between engines.
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(9,2)")


def dsum(col: str | Column, alias: str) -> Column:
    """SUM(double) with a deterministic value: decimal-sum then cast to double."""
    return F.sum(dec2(col)).cast("double").alias(alias)


def davg(col: str | Column, alias: str) -> Column:
    """AVG as exact decimal sum divided by count in double arithmetic.

    Both engines compute double(exact_sum) / int64(count) — IEEE division of
    identical operands, bit-identical results.
    """
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(dec2(c)).cast("double") / F.count(c)).alias(alias)


def views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register driver tables as temp views so a query can use ``spark.sql``.

    The SQL surface (correlated subqueries, GROUPING SETS, EXISTS, ...) is part
    of the capability inventory — Catalyst compiles SQL and DataFrame calls to
    the same plans, so using ``spark.sql`` here is idiomatic, not a shortcut.
    """
    from incubator_paimon_trino_spark.sources import table as _table

    for n in names:
        _table(spark, sf_dir, n).createOrReplaceTempView(n)


# Oracle SQL textual equivalents (for f-string interpolation in oracle queries)
def sql_dsum(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(9,2))) AS DOUBLE) AS {alias}"


def sql_davg(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(9,2))) AS DOUBLE) / COUNT({expr}) AS {alias}"
