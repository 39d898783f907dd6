"""Streaming over warehouse changelogs: file-stream pickup of commits,
watermarked windows, session windows, custom stateful operator."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from incubator_paimon_trino_spark.catalog import WarehouseCatalog
from incubator_paimon_trino_spark.catalog.metadata import load_snapshots
from incubator_paimon_trino_spark.streaming.changelog import (
    read_changelog_stream,
    run_to_completion,
    running_totals_stateful,
    sessionized_counts,
    windowed_counts,
)


@pytest.fixture()
def event_table(spark, tmp_path):
    cat = WarehouseCatalog(str(tmp_path / "wh"), spark)
    cat.create_database("s")
    cat.create_table(
        "s", "ev", [("user_id", "bigint"), ("ts", "timestamp"), ("value", "double")]
    )
    rows1 = [(1, "2024-01-01 00:00:10", 1.0), (1, "2024-01-01 00:01:00", 2.0), (2, "2024-01-01 00:00:30", 5.0)]
    rows2 = [(1, "2024-01-01 01:00:00", 3.0), (2, "2024-01-01 00:02:00", 7.0)]
    mk = lambda rows: spark.createDataFrame(rows, "user_id bigint, ts string, value double").selectExpr(  # noqa: E731
        "user_id", "CAST(ts AS TIMESTAMP) AS ts", "value"
    )
    cat.insert_into("s", "ev", mk(rows1))
    cat.insert_into("s", "ev", mk(rows2))
    return cat, "s.ev"


def test_stream_reads_all_commits(spark, event_table):
    cat, name = event_table
    out = run_to_completion(read_changelog_stream(cat, name), "raw_stream")
    assert out.count() == 5


def test_stream_picks_up_new_commit(spark, event_table):
    """A commit made between runs appears in the next stream run — the
    StartupMode/tail contract."""
    cat, name = event_table
    run_to_completion(read_changelog_stream(cat, name), "tail1")
    df = spark.createDataFrame([(9, "2024-01-01 02:00:00", 1.5)], "user_id bigint, ts string, value double")
    cat.insert_into("s", "ev", df.selectExpr("user_id", "CAST(ts AS TIMESTAMP) AS ts", "value"))
    out = run_to_completion(read_changelog_stream(cat, name), "tail2")
    assert out.count() == 6
    assert out.filter("user_id = 9").count() == 1


def test_windowed_counts_with_watermark(spark, event_table):
    cat, name = event_table
    agg = windowed_counts(read_changelog_stream(cat, name), "ts", "user_id", window="1 minute")
    out = run_to_completion(agg, "win").collect()
    by = {(r.window_start.strftime("%H:%M"), r.user_id): (r.n, r.total_value) for r in out}
    assert by[("00:00", 1)] == (1, 1.0)
    assert by[("00:01", 1)] == (1, 2.0)
    assert by[("00:00", 2)] == (1, 5.0)


def test_watermark_drops_late_rows(spark, tmp_path):
    """The actual late-data contract (SURVEY §2.B streaming row): once a
    window's state has been evicted by the watermark, a later-arriving row
    for that window is DROPPED from the aggregation (visible as
    numRowsDroppedByWatermark) — the already-emitted window never changes.

    Timeline (one micro-batch per commit via max_files_per_trigger; the
    watermark takes effect one batch after the data that advances it):
    commit 1 seeds window 00:00 and pushes the 10-min watermark to 01:50;
    commit 2 (on-time row) runs under that watermark and EVICTS the 00:00
    state at batch end; commit 3's 00:00:40 straggler then hits evicted
    state and is dropped. Update-mode nuance, pinned deliberately: a late
    row arriving while its window state is still live (i.e. in commit 2)
    would still aggregate — Spark only guarantees dropping after eviction,
    which is why production pipelines size the watermark to the real
    out-of-orderness bound."""
    import time as _time

    cat = WarehouseCatalog(str(tmp_path / "whl"), spark)
    cat.create_database("s")
    cat.create_table(
        "s", "late", [("user_id", "bigint"), ("ts", "timestamp"), ("value", "double")]
    )
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "user_id bigint, ts string, value double"
    ).selectExpr("user_id", "CAST(ts AS TIMESTAMP) AS ts", "value").coalesce(1)
    cat.insert_into("s", "late", mk([(1, "2024-01-01 00:00:30", 1.0),
                                     (1, "2024-01-01 02:00:00", 2.0)]))
    _time.sleep(1.1)  # distinct mtimes: the file source orders batches by them
    cat.insert_into("s", "late", mk([(1, "2024-01-01 02:01:00", 8.0)]))
    _time.sleep(1.1)
    cat.insert_into("s", "late", mk([(1, "2024-01-01 00:00:40", 4.0)]))  # late

    stream = read_changelog_stream(cat, "s.late", max_files_per_trigger=1)
    agg = windowed_counts(stream, "ts", "user_id", window="1 minute")
    q = (
        agg.writeStream.format("memory").queryName("late_drop")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in p["stateOperators"]
    )
    assert dropped == 1  # the straggler, and only the straggler

    out = spark.sql("SELECT * FROM late_drop").collect()
    # update-mode sink appends every per-batch update; counts only grow, so
    # the max per window is its final state
    final: dict = {}
    for r in out:
        k = (r.window_start.strftime("%H:%M"), r.user_id)
        final[k] = max(final.get(k, (0, 0.0)), (r.n, r.total_value))
    # window 00:00 still has ONE row and never saw the late value 4.0
    assert final[("00:00", 1)] == (1, 1.0)
    assert final[("02:00", 1)] == (1, 2.0)
    assert final[("02:01", 1)] == (1, 8.0)

    # control: the same data in ONE availableNow batch counts the straggler
    # (nothing is late when the watermark never advances mid-stream)
    agg2 = windowed_counts(read_changelog_stream(cat, "s.late"), "ts", "user_id",
                           window="1 minute")
    out2 = run_to_completion(agg2, "late_one_batch").collect()
    by2 = {(r.window_start.strftime("%H:%M"), r.user_id): (r.n, r.total_value) for r in out2}
    assert by2[("00:00", 1)] == (2, 5.0)


def test_session_windows(spark, event_table):
    cat, name = event_table
    agg = sessionized_counts(read_changelog_stream(cat, name), "ts", "user_id", gap="30 minutes")
    out = run_to_completion(agg, "sess", output_mode="complete").collect()
    per_user = {}
    for r in out:
        per_user.setdefault(r.user_id, []).append(r.n_events)
    # user 1: events at 00:00:10, 00:01 (one session) and 01:00 (second session)
    assert sorted(per_user[1]) == [1, 2]
    assert per_user[2] == [2]


def test_stateful_running_totals(spark, event_table):
    cat, name = event_table
    agg = running_totals_stateful(read_changelog_stream(cat, name), "user_id", "value")
    out = run_to_completion(agg, "state").collect()
    final = {r.user_id: (r.n_events, r.total_value) for r in out}
    assert final[1] == (3, 6.0)
    assert final[2] == (2, 12.0)


def test_pk_changelog_stream_exposes_row_kinds(spark, tmp_path):
    from pyspark.sql import functions as F

    cat = WarehouseCatalog(str(tmp_path / "wh2"), spark)
    cat.create_database("s")
    cat.create_table("s", "pk", [("k", "int"), ("v", "string")], primary_key=["k"])
    cat.insert_into("s", "pk", spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    cat.delete_where("s", "pk", F.col("k") == 1)
    out = run_to_completion(read_changelog_stream(cat, "s.pk"), "pkcl")
    kinds = {(r.k, r._row_kind) for r in out.collect()}
    assert kinds == {(1, "I"), (2, "I"), (1, "D")}


def test_startup_mode_from_snapshot(spark, event_table):
    """StartupMode.from-snapshot: commits before the pinned snapshot are
    excluded by the commit-id path predicate."""
    cat, name = event_table
    out = run_to_completion(
        read_changelog_stream(cat, name, startup_mode="from-snapshot", scan_snapshot_id=2),
        "from_snap",
    )
    # commit 2 only (2 rows); commit 1's 3 rows cut
    assert out.count() == 2
    assert {r.user_id for r in out.collect()} == {1, 2}
    assert out.filter("value IN (3.0, 7.0)").count() == 2


def test_startup_mode_from_timestamp(spark, event_table):
    cat, name = event_table
    tdir = cat._table_dir("s", "ev")
    snaps = load_snapshots(tdir)
    cut = snaps[1].timestamp_ms  # at commit 2's timestamp → commit 2 onward
    out = run_to_completion(
        read_changelog_stream(cat, name, startup_mode="from-timestamp", scan_timestamp_ms=cut),
        "from_ts",
    )
    assert out.count() == 2


def test_startup_mode_latest_tails_only_new_commits(spark, event_table):
    """StartupMode.latest: nothing from history; a commit made after stream
    definition is picked up."""
    cat, name = event_table
    stream = read_changelog_stream(cat, name, startup_mode="latest")
    assert run_to_completion(stream, "latest1").count() == 0
    df = spark.createDataFrame(
        [(7, "2024-01-02 00:00:00", 4.0)], "user_id bigint, ts string, value double"
    ).selectExpr("user_id", "CAST(ts AS TIMESTAMP) AS ts", "value")
    cat.insert_into("s", "ev", df)
    out = run_to_completion(read_changelog_stream(cat, name, startup_mode="latest"), "latest2")
    # the second stream pinned latest at snapshot 3's creation... it was
    # created AFTER commit 3 landed, so `latest` starts at 4: still empty
    assert out.count() == 0
    # but the first stream's pin (after commit 2) sees commit 3
    out1 = run_to_completion(stream, "latest3")
    assert out1.count() == 1 and out1.collect()[0].user_id == 7


def test_startup_mode_validation(spark, event_table):
    cat, name = event_table
    with pytest.raises(ValueError, match="scan_snapshot_id"):
        read_changelog_stream(cat, name, startup_mode="from-snapshot")
    with pytest.raises(ValueError, match="scan position"):
        read_changelog_stream(cat, name, scan_snapshot_id=1)
    with pytest.raises(ValueError, match="unknown startup_mode"):
        read_changelog_stream(cat, name, startup_mode="compacted-full")


def test_partitioned_table_stream_rebuilds_partition_columns(spark, tmp_path):
    """Partition values come from the file path (no directory inference),
    including across commits and for a PK table's system columns."""
    cat = WarehouseCatalog(str(tmp_path / "wh2"), spark)
    cat.create_database("s")
    cat.create_table(
        "s", "pev", [("k", "bigint"), ("pt", "string"), ("v", "double")],
        partitioned_by=["pt"],
    )
    cat.insert_into("s", "pev", spark.createDataFrame(
        [(1, "red", 1.0), (2, "blue", 2.0)], "k bigint, pt string, v double"))
    cat.insert_into("s", "pev", spark.createDataFrame(
        [(3, "red", 3.0)], "k bigint, pt string, v double"))
    stream = read_changelog_stream(cat, "s.pev")
    got = sorted(tuple(r) for r in run_to_completion(stream, "pev_all", "append").collect())
    assert got == [(1, "red", 1.0), (2, "blue", 2.0), (3, "red", 3.0)]

    cat.create_table(
        "s", "pkev", [("k", "bigint"), ("pt", "string"), ("v", "double")],
        primary_key=["k"], partitioned_by=["pt"],
    )
    cat.insert_into("s", "pkev", spark.createDataFrame(
        [(1, "red", 1.0)], "k bigint, pt string, v double"))
    stream = read_changelog_stream(cat, "s.pkev")
    rows = run_to_completion(stream, "pkev_all", "append").collect()
    assert [(r.k, r.pt, r.v, r._row_kind) for r in rows] == [(1, "red", 1.0, "I")]


def test_stream_sink_into_lake_table(spark, event_table, tmp_path):
    """Stream-in → lake → stream-out loop: a changelog stream from one table
    lands in another through the transactional commit path; a PK sink table
    upserts (merge engine applies), commits are time-travelable, and a
    second incremental run picks up only new data via the checkpoint."""
    from pyspark.sql import functions as F

    from incubator_paimon_trino_spark.streaming.changelog import write_stream_to_table

    cat, name = event_table
    cat.create_table(
        "s", "sink",
        [("user_id", "bigint"), ("ts", "timestamp"), ("value", "double")],
        primary_key=["user_id"],
    )
    ckpt = str(tmp_path / "ckpt")
    src = read_changelog_stream(cat, name)
    write_stream_to_table(src, cat, "s", "sink", ckpt, query_name="sink1")
    # PK table: latest row per user wins (merge-on-read over the commits)
    got = {r.user_id: r.value for r in cat.read_table("s.sink").collect()}
    assert set(got) == {1, 2}
    # snapshots exist and are time-travelable
    assert cat.read_table("s.sink$snapshots").count() >= 1

    # new source commit → only the delta flows on the next availableNow run
    cat.insert_into(
        "s", "ev",
        spark.createDataFrame([(3, "2024-01-02 00:00:00", 9.0)],
                              "user_id bigint, ts string, value double")
        .selectExpr("user_id", "CAST(ts AS TIMESTAMP) AS ts", "value"),
    )
    before = cat.read_table("s.sink$snapshots").count()
    src2 = read_changelog_stream(cat, name)
    write_stream_to_table(src2, cat, "s", "sink", ckpt, query_name="sink2")
    after_rows = {r.user_id for r in cat.read_table("s.sink").collect()}
    assert after_rows == {1, 2, 3}
    # checkpoint prevented re-ingesting the old commits as new snapshots
    assert cat.read_table("s.sink$snapshots").count() == before + 1


def test_pk_changelog_stream_sinks_into_pk_table(spark, tmp_path):
    """The full loop the module docstring promises: PK changelog source
    (with _seq/_row_kind riders) -> write_stream_to_table -> PK sink. The
    source's _seq is dropped at the sink (the sink assigns its own commit
    order) while _row_kind flows through, so deletes upsert away."""
    from pyspark.sql import functions as F

    from incubator_paimon_trino_spark.streaming.changelog import write_stream_to_table

    cat = WarehouseCatalog(str(tmp_path / "wh"), spark)
    cat.create_database("s")
    cat.create_table("s", "src", [("k", "bigint"), ("v", "string")], primary_key=["k"])
    cat.insert_into("s", "src", spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string"))
    cat.delete_where("s", "src", F.col("k") == 2)
    cat.create_table("s", "dst", [("k", "bigint"), ("v", "string")], primary_key=["k"])

    src = read_changelog_stream(cat, "s.src")
    assert "_seq" in src.columns and "_row_kind" in src.columns
    write_stream_to_table(src, cat, "s", "dst", str(tmp_path / "ckpt"))
    got = sorted(tuple(r) for r in cat.read_table("s.dst").collect())
    assert got == [(1, "a")]  # the -D row for k=2 merged its key away


def test_stream_rejects_renamed_column_history(spark, tmp_path):
    """A table whose column was renamed mid-history must refuse to stream:
    the file-stream source maps parquet columns by NAME, so pre-rename files
    would silently yield NULLs (the batch path maps by field id and stays
    correct — asserted here as the advertised alternative)."""
    cat = WarehouseCatalog(str(tmp_path / "wh"), spark)
    cat.create_database("s")
    cat.create_table("s", "rn", [("k", "bigint"), ("old_name", "string")])
    cat.insert_into("s", "rn", spark.createDataFrame([(1, "x")], "k bigint, old_name string"))
    cat.rename_column("s", "rn", "old_name", "new_name")
    cat.insert_into("s", "rn", spark.createDataFrame([(2, "y")], "k bigint, new_name string"))

    with pytest.raises(ValueError, match="renamed"):
        read_changelog_stream(cat, "s.rn")
    # batch path reads both generations correctly via field-id mapping
    got = sorted(tuple(r) for r in cat.read_table("s.rn").collect())
    assert got == [(1, "x"), (2, "y")]
