"""Flat-parquet table registry for the driver's test tables.

The reference resolves ``schema.table`` names through the Paimon catalog and
plans splits by hand (``TrinoMetadataBase.getTableHandle``,
``TrinoSplitManagerBase.getSplits`` — see SURVEY §2.A1/A3). On Spark, split
planning, filter/projection pushdown and partition pruning are Catalyst's job:
a plain ``spark.read.parquet`` scan gets all of it for free, so this registry
is deliberately thin.

Versioned lake tables (snapshots, merge-on-read, DDL) live in
``incubator_paimon_trino_spark.catalog`` — this module only maps the driver's
pre-generated flat parquet tables (TESTDATA.md) to DataFrames.
"""

from __future__ import annotations

import os
import weakref
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession

_T = TypeVar("_T")

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Plan memo: unexecuted logical plans only, never data or results — every
# action on a returned DataFrame scans the file again. Entries are held per
# SparkSession (a weak key; a session's conf, e.g. nanosAsLong, shapes its
# plans) under (kind, absolute path), and each stores the file's
# (mtime_ns, size): a rewritten file replaces its entry on the next lookup.
_plans: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()


def session_plan(
    spark: SparkSession, kind: str, path: str, build: Callable[[], _T]
) -> _T:
    """``build()``'s plan for the file at ``path``, built once per session
    and file identity. Repeated calls return the SAME object, so self-joins
    must use .alias()/column-name join conditions, not attribute-style
    ``a.col == b.col`` equality."""
    path = os.path.abspath(path)
    st = os.stat(path)
    ident = (st.st_mtime_ns, st.st_size)
    memo = _plans.setdefault(spark, {})
    hit = memo.get((kind, path))
    if hit is not None and hit[0] == ident:
        return hit[1]
    plan = build()
    memo[(kind, path)] = (ident, plan)
    return plan


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Return the driver table ``name`` under ``sf_dir`` as a DataFrame.

    Scans stay fully declarative so Catalyst pushes filters/projections into
    the parquet reader (`PushedFilters` / `ReadSchema` in the physical plan).

    ``events.ts`` has shipped in two physical encodings depending on the
    driver's generator version: parquet TIMESTAMP(NANOS) (which Spark's
    vectorized reader rejects — read as raw INT64 via ``nanosAsLong`` and
    truncate to micros) or plain TIMESTAMP(MICROS) (reads as TIMESTAMP_NTZ).
    Normalize both to session-TZ TimestampType so every downstream query and
    oracle sees one stable type.

    The plan is memoized per session and file identity (``session_plan``):
    schema inference against the footer costs ~0.1 s of py4j per read.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")

    def build() -> DataFrame:
        df = spark.read.parquet(path)
        if name == "events":
            df = normalize_events_ts(df)
        return df

    return session_plan(spark, "table", path, build)


# Scale-adaptive scan fan-out (input skew: one huge unsplittable file).
# Every driver table is ONE parquet file with ONE row group (verified via
# pyarrow), and Spark cannot split a row group, so every scan stage is
# exactly 1 task — all compute fused above the scan (broadcast-join probes,
# partial aggregates, explode+hash chains, Python workers) ran on 1 of 32
# cores. `fan_out` repartitions the scan output
# across `defaultParallelism` ONLY when the scan cannot reach that
# parallelism by itself (split count derived from file size /
# maxPartitionBytes, capped by the row-group count from the parquet
# footer). At cluster scale a 100 TB table produces
# ~800k splits, the gate is false, and this is a no-op — the fan-out is
# derived from input shape, not tuned to local mode.
#
# Partitioning is hashpartitioning on xxhash64(*key_cols) — deterministic
# under task retry (rand()-derived keys are not) and free
# of the sort-before-repartition toll that round-robin repartition(n) pays
# (measured on q1: 1.26s round-robin vs 0.99s hash). Callers pass key
# columns their query already reads so the exchange carries no extra bytes;
# near-unique combinations spread evenly. CORRECTNESS: only safe above
# order-insensitive consumers — exact (decimal/integer) aggregation, joins,
# windows, groupBy — never above a float SUM whose value depends on row
# order (the registry's DECIMAL(9,2) determinism contract already bans
# those).
def _scan_splits(path: str, max_partition_bytes: int) -> int:
    """Max useful split count of one parquet file: size-based split count
    capped by the row-group count (a split with no row-group midpoint in
    range produces zero rows)."""
    import pyarrow.parquet as pq

    groups = pq.ParquetFile(path).metadata.num_row_groups
    return min(max(1, os.path.getsize(path) // max_partition_bytes + 1), groups)


def _size_bytes(v: str) -> int:
    """Parse a Spark byte-size conf string ('134217728b', '128m', '1g')."""
    s = v.strip().lower().removesuffix("b")
    for suf, mult in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("t", 1 << 40)):
        if s.endswith(suf):
            return int(s[:-1]) * mult
    return int(s)


def fan_out(
    spark: SparkSession, sf_dir: str, name: str, *key_cols: str, raw: bool = False
) -> DataFrame:
    """``table()`` with the scan fanned out over ``defaultParallelism``
    partitions when (and only when) the file cannot split that far on its
    own. Filters/projections still push below the exchange into the scan
    (Catalyst pushes through RepartitionByExpression — pinned in
    tests/test_plan_quality.py), so predicate pushdown and column pruning
    are unaffected; ``key_cols`` must be columns the downstream query
    already reads.

    ``raw=True`` partitions on the columns THEMSELVES instead of
    xxhash64(cols) — for callers whose downstream operator (window, groupBy,
    join) clusters by exactly these columns: hashpartitioning(cols) then
    satisfies the operator's ClusteredDistribution and Spark plans NO second
    exchange (one shared exchange — pinned in
    tests/test_plan_quality.py::test_topn_uses_window_group_limit).
    Only for keys the operator itself would hash on anyway (same skew
    exposure either way); when the gate says the scan splits on its own,
    the caller gets the plain table and the operator inserts its usual
    AQE-coalescible exchange."""
    from pyspark.sql import functions as F

    df = table(spark, sf_dir, name)
    par = spark.sparkContext.defaultParallelism
    mpb = _size_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b"))
    if _scan_splits(os.path.join(sf_dir, f"{name}.parquet"), mpb) >= par:
        return df
    if raw:
        return df.repartition(par, *[F.col(c) for c in key_cols])
    return df.repartition(par, F.xxhash64(*key_cols))


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """``ts`` as session-TZ TimestampType from either encoding of the events
    file. Under ``ENGINE_CONF``'s ``nanosAsLong``, parquet TIMESTAMP(NANOS)
    reads as INT64 nanos: truncate to micros. TIMESTAMP(MICROS) reads as
    TIMESTAMP_NTZ: an identity cast, as the wall clock is UTC under the
    engine's UTC session timezone (the reference likewise packs UTC,
    TrinoPageSourceBase.java:216-219). The one place of this contract, for
    the batch loader and the streaming source (operators/events.py)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if isinstance(df.schema["ts"].dataType, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))
