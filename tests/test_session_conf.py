"""The engine's session conf: ``ENGINE_CONF`` is set once at the query
boundary, and temporary overrides run on scoped clones that never write the
caller's session.

- A host session on Spark's defaults (another timezone, 200 shuffle
  partitions) gets the same results as the test session, and afterwards
  differs from its before-state only in ``ENGINE_CONF``'s keys.
- Two clamped streams on two threads each get their own state partition
  count while the host keeps its own.
- The events table reads the same ``ts`` from its NANOS and MICROS parquet
  encodings, batch and streaming.
"""

from __future__ import annotations

import sys
import threading
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tests.conftest import SF_SMOKE
from tools.check import digest

SHUFFLE = "spark.sql.shuffle.partitions"


def _clone(spark, shuffle_partitions: str):
    """A host session apart from the test session: a clone of its SQL conf
    at ``shuffle_partitions``."""
    from pyspark.sql import SparkSession

    host = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    host.conf.set(SHUFFLE, shuffle_partitions)
    return host


def test_get_spark_session_is_under_engine_conf(spark):
    """``get_spark`` builds its session with ``ENGINE_CONF``, so the query
    boundary's ``engine_conf`` has nothing to write there."""
    from incubator_paimon_trino_spark.session import ENGINE_CONF

    assert {k: spark.conf.get(k, None) for k in ENGINE_CONF} == ENGINE_CONF


def test_vanilla_host_gets_same_results_and_keeps_its_conf(spark):
    import __spark_entry__ as entry
    from incubator_paimon_trino_spark.session import ENGINE_CONF

    names = (
        "streaming_tumbling_counts",
        "events_tumbling_window",
        "lake_timestamp_precision",
        "q1_pricing_summary",
    )
    host = _clone(spark, "200")
    for k in ENGINE_CONF:
        host.conf.unset(k)
    host.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    before = host.conf.getAll
    assert all(before.get(k) != v for k, v in ENGINE_CONF.items())

    qs = entry.queries()

    def run(session, name):
        df = qs[name](session, SF_SMOKE)
        return digest(df.columns, [tuple(r) for r in df.collect()])

    on_host = {n: run(host, n) for n in names}
    assert on_host == {n: run(spark, n) for n in names}

    after = host.conf.getAll
    changed = {k for k in before.keys() | after.keys() if before.get(k) != after.get(k)}
    assert changed <= set(ENGINE_CONF), changed
    assert {k: after[k] for k in ENGINE_CONF} == ENGINE_CONF
    assert host.conf.get(SHUFFLE) == "200"


def test_concurrent_clamped_streams_keep_their_own_partitions(spark, tmp_path):
    """Clamps of 8 and 16 state partitions run at once on a host at 64: each
    stream's state lands in exactly its own partition count, and the host
    reads 64 all the while."""
    from pyspark.sql import functions as F

    from incubator_paimon_trino_spark.streaming import run_to_completion

    host = _clone(spark, "64")
    src = str(tmp_path / "src")
    host.range(2000).selectExpr("id % 200 AS k").write.parquet(src)

    seen: set[str] = set()
    done = threading.Event()

    def watch():
        while not done.is_set():
            seen.add(host.conf.get(SHUFFLE))
            time.sleep(0.005)

    parts: dict[int, int] = {}
    errors: list[Exception] = []
    start = threading.Barrier(2, timeout=60)

    def stream(splits: int):
        try:
            agg = host.readStream.schema("k bigint").parquet(src).groupBy("k").count()
            start.wait()
            out = run_to_completion(
                agg.withColumn("pid", F.spark_partition_id()),
                f"conc_splits_{splits}",
                "complete",
                input_splits=splits,
            )
            assert out.sparkSession is host
            parts[splits] = out.select("pid").distinct().count()
        except Exception as e:  # reported on the test thread
            errors.append(e)

    watcher = threading.Thread(target=watch)
    workers = [threading.Thread(target=stream, args=(n,)) for n in (1, 2)]
    watcher.start()
    for w in workers:
        w.start()
    for w in workers:
        w.join(timeout=300)
    done.set()
    watcher.join(timeout=10)
    assert not any(t.is_alive() for t in (*workers, watcher))
    assert not errors, errors
    assert parts == {1: 8, 2: 16}
    assert seen == {"64"}


def test_nanos_events_read_like_micros(spark, tmp_path):
    """``events.parquet`` with ``ts`` as parquet TIMESTAMP(NANOS) gives the
    same ``ts`` values as the MICROS file, batch and streaming."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from incubator_paimon_trino_spark.operators.events import _events_stream
    from incubator_paimon_trino_spark.sources.registry import table
    from incubator_paimon_trino_spark.streaming import run_to_completion

    micros = Path(SF_SMOKE) / "events.parquet"
    t = pq.read_table(micros)
    t = t.set_column(
        t.schema.get_field_index("ts"), "ts", t.column("ts").cast(pa.timestamp("ns"))
    )
    nanos_dir = tmp_path / "sf_nanos"
    nanos_dir.mkdir()
    pq.write_table(t, nanos_dir / "events.parquet", version="2.6")
    ts_type = pq.ParquetFile(nanos_dir / "events.parquet").schema.column(1).logical_type
    assert '"timeUnit": "nanoseconds"' in ts_type.to_json()

    def batch(sf_dir):
        return sorted(table(spark, str(sf_dir), "events").select("event_id", "ts").collect())

    def streamed(sf_dir, name):
        stream = _events_stream(spark, str(sf_dir)).select("event_id", "ts")
        return sorted(run_to_completion(stream, name, "append").collect())

    want = batch(SF_SMOKE)
    assert len(want) > 0
    assert batch(nanos_dir) == want
    assert streamed(nanos_dir, "events_nanos") == streamed(SF_SMOKE, "events_micros") == want
