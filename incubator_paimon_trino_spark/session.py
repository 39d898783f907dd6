"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]`` but every setting is chosen to also hold on
a 1000-executor cluster reading ~100 TB:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting, join
  strategy switch) — replaces the reference's hand-rolled split weighting
  (``TrinoSplitManagerBase.java:50-63``) with runtime re-planning.
- ``ENGINE_CONF`` — the runtime SQL conf that query results depend on: UTC
  session time (the reference packs timestamptz values as UTC,
  ``TrinoPageSourceBase.java:216-219``), the TIME type, and NANOS parquet
  timestamps read as INT64. ``get_spark`` builds every new session with it,
  and ``engine_conf`` puts any other session under it at the query boundary
  (``operators.registry.register``). Temporary overrides never write the
  caller's conf: they run on a ``scoped`` clone.
- Arrow enabled — all Python-side operators use vectorized Pandas UDFs, never
  row-at-a-time UDFs.
- shuffle partitions default to cores locally; on a real cluster AQE coalesces
  from a deliberately-high initial number, so we leave
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum`` unset locally
  and document it as the scale knob.
- the generated-class cache holds the engine's working set, so a query run
  again reuses its compiled classes instead of compiling and JIT-warming
  them anew — what Trino's cache of compiled page processors gives the
  reference. It is static conf: only session creation sets it.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import DataFrame, SparkSession

CODEGEN_CACHE_ENTRIES = 2000

ENGINE_CONF = {
    "spark.sql.session.timeZone": "UTC",
    # Spark 4.1 native TIME type (functions/types.py maps Paimon TIME(p))
    "spark.sql.timeType.enabled": "true",
    # events.ts may ship as parquet TIMESTAMP(NANOS), which the vectorized
    # reader rejects; read as INT64, sources.registry truncates it to micros
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def get_spark(
    app_name: str = "incubator_paimon_trino_spark",
    *,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """The engine's SparkSession. A new session gets every default below; on
    a live one, only the settings the caller passed (``shuffle_partitions``,
    ``extra_conf``) are applied, so a second call never resets conf the
    session's owner changed."""
    explicit = dict(extra_conf or {})
    if shuffle_partitions is not None:
        explicit["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if SparkSession.getActiveSession() is not None:
        builder = SparkSession.builder
        for k, v in explicit.items():
            builder = builder.config(k, v)
        return _warn_ignored(builder.getOrCreate(), extra_conf)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(map=ENGINE_CONF)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # INT96 (legacy default) parquet timestamps carry no min/max column
        # statistics; micros do — required for manifest-level file skipping
        # on event-time predicates (catalog/scan.py)
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # In local mode this one JVM is driver + all executors. Keep the
        # heap at 32g, ~6x the largest soak's working set (sf1): a heap far
        # larger (90g measured) lets G1 accumulate multi-second pauses that
        # land on whichever query runs late in a session. On a real cluster
        # driver/executor memory are deployment-sized; this is the local
        # default, overridable via SPARK_GRAFT_DRIVER_MEM.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # Generated classes kept for reuse (Spark's default: 100). One pass
        # of the 13 headline queries compiles ~240 classes (4–44 a query,
        # perfbench sf0.01) and a whole perfbench lake_ingest run under 200,
        # so at 100 every headline pass recompiled ~240 of them. 2000 holds
        # either working set 8x over; metaspace use did not grow with it
        # (162 MB against 166 MB at 100, 4 vCPUs, 3 traced runs each).
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return _warn_ignored(spark, extra_conf)


def _warn_ignored(spark: SparkSession, extra_conf: dict[str, str] | None) -> SparkSession:
    """``spark``, after warning about each ``extra_conf`` key not in force.
    On an existing session only runtime SQL conf applies; say so rather than
    run with a setting the caller believes is in force. A core key is read
    from the SparkContext: the session's conf echoes any non-static key it
    was handed, in force or not."""
    spark_conf = spark.sparkContext.getConf()
    for k, v in (extra_conf or {}).items():
        in_force = spark.conf.get(k, None) if k.startswith("spark.sql.") else spark_conf.get(k, None)
        if in_force != str(v):
            warnings.warn(
                f"get_spark: {k}={v} did not take effect (a session already existed)",
                stacklevel=3,
            )
    return spark


def engine_conf(spark: SparkSession) -> None:
    """Put ``spark`` under ``ENGINE_CONF``, writing only the keys that
    differ: on a ``get_spark`` session this writes nothing."""
    for k, v in ENGINE_CONF.items():
        if spark.conf.get(k, None) != v:
            spark.conf.set(k, v)


def scoped(spark: SparkSession, conf: dict[str, str]) -> SparkSession:
    """A clone of ``spark`` with ``conf`` on top. It shares the SparkContext
    and cached data and starts from a copy of ``spark``'s SQL conf; ``spark``
    itself is never written, so a temporary override cannot leak into a
    query planned meanwhile on another thread or around a nested call."""
    clone = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    for k, v in conf.items():
        clone.conf.set(k, v)
    return clone


def rebind(df: DataFrame, spark: SparkSession) -> DataFrame:
    """``df``'s logical plan as a DataFrame of ``spark``: planned and run
    under that session's conf."""
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, df._jdf.logicalPlan()
    )
    return DataFrame(jdf, spark)
