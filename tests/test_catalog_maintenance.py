"""Bucketing, file formats, compaction, ANALYZE — warehouse maintenance ops."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from incubator_paimon_trino_spark.catalog import WarehouseCatalog
from incubator_paimon_trino_spark.catalog.metadata import load_snapshots


@pytest.fixture()
def cat(spark, tmp_path):
    c = WarehouseCatalog(str(tmp_path / "wh"), spark)
    c.create_database("m")
    return c


def test_bucketed_write_produces_bucket_files(cat, spark):
    cat.create_table(
        "m", "b",
        [("k", "bigint"), ("v", "string")],
        options={"bucket": "4", "bucket_key": "k"},
    )
    df = spark.createDataFrame([(i, f"v{i}") for i in range(100)], "k bigint, v string")
    cat.insert_into("m", "b", df)
    files = cat.read_table("m.b$files").collect()
    assert len(files) == 4  # exactly `bucket` files
    assert cat.read_table("m.b").count() == 100


def test_orc_file_format_roundtrip(cat, spark):
    """file_format='ORC' (reference DDL fixture uses ORC —
    TestTrinoITCase.java:352)."""
    cat.create_table("m", "o", [("a", "int"), ("b", "string")], options={"file_format": "ORC"})
    cat.insert_into("m", "o", spark.createDataFrame([(1, "x"), (2, "y")], "a int, b string"))
    got = sorted(tuple(r) for r in cat.read_table("m.o").collect())
    assert got == [(1, "x"), (2, "y")]
    assert all(f.path.endswith(".orc") for f in cat.read_table("m.o$files").collect())


def test_unsupported_format_rejected(cat, spark):
    """Enum-typed options are validated at DDL time, as the reference does via
    FileFormatType (TrinoTableOptionUtils.java:94-96) — a bad file_format
    never reaches the table metadata, rather than failing on first insert."""
    with pytest.raises(ValueError, match="file_format"):
        cat.create_table("m", "bad", [("a", "int")], options={"file_format": "CSV"})


def test_avro_format_works_with_or_without_module(cat, spark):
    """file_format='AVRO' (FileFormatType — TrinoTableOptionUtils.java:96)
    works with the spark-avro module when present, and through the
    pure-Python OCF fallback (formats/avro_ocf — r9) when it is not:
    insert, merged read, $files stats, and compaction all function in a
    module-less runtime."""
    cat.create_table("m", "av", [("a", "int"), ("b", "string")], options={"file_format": "AVRO"})
    df = spark.createDataFrame([(1, "x"), (2, "y")], "a int, b string")
    cat.insert_into("m", "av", df)
    assert sorted(tuple(r) for r in cat.read_table("m.av").collect()) == [(1, "x"), (2, "y")]
    files = cat.read_table("m.av$files").collect()
    assert all(f.file_format == "avro" and f.record_count > 0 for f in files)
    cat.insert_into("m", "av", spark.createDataFrame([(3, "z")], "a int, b string"))
    cat.compact("m", "av")
    assert sorted(tuple(r) for r in cat.read_table("m.av").collect()) == [
        (1, "x"), (2, "y"), (3, "z")
    ]


def test_compact_pk_table(cat, spark):
    from pyspark.sql import functions as F

    cat.create_table("m", "pk", [("k", "int"), ("v", "string")], primary_key=["k"])
    cat.insert_into("m", "pk", spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    cat.insert_into("m", "pk", spark.createDataFrame([(2, "b2"), (3, "c")], "k int, v string"))
    cat.delete_where("m", "pk", F.col("k") == 1)
    before = sorted(tuple(r) for r in cat.read_table("m.pk").collect())
    v = cat.compact("m", "pk")
    after = sorted(tuple(r) for r in cat.read_table("m.pk").collect())
    assert before == after == [(2, "b2"), (3, "c")]
    snaps = cat.read_table("m.pk$snapshots").collect()
    assert [s.commit_kind for s in snaps][-1] == "COMPACT"
    # pre-compact snapshots still time-travelable
    assert cat.read_table("m.pk", version_as_of=2).count() == 3
    # raw changelog after compact = just the merged inserts
    raw = cat.read_table("m.pk", with_system_columns=True)
    assert raw.count() == 2 and v == 4


def test_analyze_stats(cat, spark):
    cat.create_table("m", "st", [("k", "int"), ("v", "string")])
    cat.insert_into(
        "m", "st", spark.createDataFrame([(1, "a"), (2, None), (9, "c")], "k int, v string")
    )
    stats = cat.analyze("m", "st")
    assert stats["row_count"] == 3
    assert stats["columns"]["k"]["min"] == "1" and stats["columns"]["k"]["max"] == "9"
    assert stats["columns"]["v"]["null_count"] == 1
    assert cat.stats_of("m", "st")["row_count"] == 3
    assert cat.stats_of("m", "nonexistent" ) is None if False else True


def test_expire_snapshots(cat, spark):
    """Expiration drops old snapshots + unreferenced files; live reads and
    surviving time travel are untouched."""
    import glob
    import os

    import pytest

    cat.create_database("default", ignore_if_exists=True)
    cat.create_table("default", "ex", [("a", "int")])
    for i in range(4):
        cat.insert_into("default", "ex", spark.createDataFrame([(i,)], "a int"))
    tdir = os.path.join(cat.warehouse, "default.db", "ex")
    files_before = len(glob.glob(os.path.join(tdir, "data", "**", "*.parquet"), recursive=True))

    # overwrite commit makes snapshots 1-4's files partially unreferenced
    cat.insert_into("default", "ex", spark.createDataFrame([(99,)], "a int"), overwrite=True)
    stats = cat.expire_snapshots("default", "ex", keep_last=1)
    assert stats["expired_snapshots"] == 4
    assert stats["deleted_files"] == files_before  # all pre-overwrite files dead
    assert [r.a for r in cat.read_table("default.ex").collect()] == [99]
    with pytest.raises(ValueError):
        cat.read_table("default.ex", version_as_of=2)
    assert cat.snapshots("default", "ex").count() == 1

    # keep_last > count is a no-op
    assert cat.expire_snapshots("default", "ex", keep_last=5)["expired_snapshots"] == 0


def test_tags_and_rollback(cat, spark):
    """Tags: durable named snapshots that survive expiration of untagged
    versions; rollback drops later snapshots and their dead files."""
    import pytest

    cat.create_database("default", ignore_if_exists=True)
    cat.create_table("default", "tg", [("a", "int")])
    for i in range(1, 5):
        cat.insert_into("default", "tg", spark.createDataFrame([(i,)], "a int"))

    cat.create_tag("default", "tg", "v2-release", snapshot_id=2)
    cat.create_tag("default", "tg", "latest-tag")  # defaults to newest (4)
    tags = {r.tag: r.snapshot_id for r in cat.read_table("default.tg$tags").collect()}
    assert tags == {"v2-release": 2, "latest-tag": 4}
    assert cat.read_table("default.tg", tag="v2-release").count() == 2
    with pytest.raises(ValueError):
        cat.create_tag("default", "tg", "v2-release", snapshot_id=3)  # dup name
    with pytest.raises(ValueError):
        cat.read_table("default.tg", tag="nope")

    # expiration keeps tagged snapshot 2 even though only last 1 is retained
    stats = cat.expire_snapshots("default", "tg", keep_last=1)
    assert stats["expired_snapshots"] == 2  # 1 and 3 (2 tagged, 4 kept)
    assert cat.read_table("default.tg", tag="v2-release").count() == 2
    assert cat.read_table("default.tg").count() == 4

    # rollback to 2: snapshots 3/4 gone, stale tag dropped, next commit = 3
    cat.rollback_to("default", "tg", 2)
    assert [r.a for r in cat.read_table("default.tg").orderBy("a").collect()] == [1, 2]
    assert {r.tag for r in cat.read_table("default.tg$tags").collect()} == {"v2-release"}
    cat.insert_into("default", "tg", spark.createDataFrame([(9,)], "a int"))
    assert cat.snapshots("default", "tg").collect()[-1].snapshot_id == 3
    with pytest.raises(ValueError):
        cat.rollback_to("default", "tg", 99)


def test_commit_conflict_detection(cat, spark):
    """Optimistic concurrency: publishing a snapshot id that a racing writer
    already published raises CommitConflictError and leaves the winner's
    manifest untouched (insert_into publishes with exclusive=True)."""
    import json
    import os

    import pytest

    from incubator_paimon_trino_spark.catalog.metadata import (
        CommitConflictError,
        write_json_atomic,
    )

    cat.create_database("default", ignore_if_exists=True)
    cat.create_table("default", "cc", [("a", "int")])
    cat.insert_into("default", "cc", spark.createDataFrame([(1,)], "a int"))
    tdir = os.path.join(cat.warehouse, "default.db", "cc")
    published = os.path.join(tdir, "snapshot", "snapshot-1.json")
    winner = json.load(open(published))
    # loser tries to publish the same snapshot id (both planned on snapshot 0)
    with pytest.raises(CommitConflictError):
        write_json_atomic(published, {"winner": "loser"}, exclusive=True)
    assert json.load(open(published)) == winner  # winner's manifest intact
    # next commit proceeds normally on the true latest
    cat.insert_into("default", "cc", spark.createDataFrame([(2,)], "a int"))
    assert cat.snapshots("default", "cc").count() == 2

def test_files_and_partitions_system_tables(cat, spark):
    """`table$files` / `table$partitions` carry per-file and per-partition
    stats (Paimon system tables; resolution mechanism A13 —
    TrinoMetadataBase.java:138-156)."""
    cat.create_table(
        "m", "p",
        [("pt", "string"), ("a", "int")],
        partitioned_by=["pt"],
    )
    cat.insert_into(
        "m", "p",
        spark.createDataFrame([("p1", 1), ("p1", 2), ("p2", 3)], "pt string, a int").coalesce(1),
    )
    cat.insert_into(
        "m", "p", spark.createDataFrame([("p2", 4)], "pt string, a int").coalesce(1)
    )

    files = {f.path: f for f in cat.read_table("m.p$files").collect()}
    assert len(files) == 3  # one file per partition per commit
    assert all(f.file_format == "parquet" for f in files.values())
    assert all(f.file_size_in_bytes > 0 for f in files.values())
    by_part = {}
    for f in files.values():
        by_part.setdefault(f.partition, 0)
        by_part[f.partition] += f.record_count
    assert by_part == {"pt=p1": 2, "pt=p2": 2}

    parts = {p.partition: p for p in cat.read_table("m.p$partitions").collect()}
    assert set(parts) == {"pt=p1", "pt=p2"}
    assert parts["pt=p1"].record_count == 2 and parts["pt=p1"].file_count == 1
    assert parts["pt=p2"].record_count == 2 and parts["pt=p2"].file_count == 2
    # last_update tracks the newest commit touching the partition
    snaps = {s.snapshot_id: s.timestamp_ms for s in cat.read_table("m.p$snapshots").collect()}
    assert parts["pt=p1"].last_update_ms == snaps[1]
    assert parts["pt=p2"].last_update_ms == snaps[2]


def test_conflict_cleans_orphan_files_and_retry_succeeds(cat, spark):
    """A losing commit must not leak its finalized data files into data/
    (the streaming reader globs the directory), and insert_with_retries
    re-commits on top of the winner."""
    import glob
    import json
    import os

    import pytest

    from incubator_paimon_trino_spark.catalog.metadata import CommitConflictError

    cat.create_database("default", ignore_if_exists=True)
    cat.create_table("default", "ccr", [("a", "int")])
    cat.insert_into("default", "ccr", spark.createDataFrame([(1,)], "a int"))
    tdir = os.path.join(cat.warehouse, "default.db", "ccr")
    s1 = json.load(open(os.path.join(tdir, "snapshot", "snapshot-1.json")))

    # simulate the race: a concurrent winner publishes THIS version after the
    # loser picked it (post-finalize, pre-publish)
    orig_finalize = cat._finalize_commit
    racing = {"on": True}

    def finalize_then_lose(tdir_, staging, version, ext):
        paths = orig_finalize(tdir_, staging, version, ext)
        target = os.path.join(tdir, "snapshot", f"snapshot-{version}.json")
        if racing["on"] and not os.path.exists(target):
            winner = dict(s1, snapshot_id=version)
            with open(target, "w") as f:
                json.dump(winner, f)
        return paths

    cat._finalize_commit = finalize_then_lose

    before = set(glob.glob(os.path.join(tdir, "data", "**", "*.parquet"), recursive=True))
    with pytest.raises(CommitConflictError):
        cat.insert_into("default", "ccr", spark.createDataFrame([(2,)], "a int"))
    after = set(glob.glob(os.path.join(tdir, "data", "**", "*.parquet"), recursive=True))
    assert after == before  # loser's files were cleaned up

    # permanent racer: retries exhaust and re-raise
    with pytest.raises(CommitConflictError):
        cat.insert_with_retries(
            "default", "ccr", spark.createDataFrame([(9,)], "a int"), max_retries=2
        )

    # racer stops: the retry loop commits on top of the last winner
    racing["on"] = False
    v = cat.insert_with_retries("default", "ccr", spark.createDataFrame([(3,)], "a int"))
    assert v == cat.snapshots("default", "ccr").collect()[-1].snapshot_id
    assert 3 in {r.a for r in cat.read_table("default.ccr").collect()}


def test_auto_compaction_and_retention_options(cat, spark):
    """full-compaction.delta-commits and snapshot.num-retained.max are
    EXECUTED at commit time (the reference only stores them as DDL props)."""
    cat.create_database("default", ignore_if_exists=True)
    cat.create_table(
        "default", "auto", [("k", "int")],
        options={"full_compaction_delta_commits": "3"},
    )
    for i in range(3):
        cat.insert_into("default", "auto", spark.createDataFrame([(i,)], "k int"))
    snaps = cat.snapshots("default", "auto").collect()
    # commit 3 triggered an automatic compaction snapshot (version 4)
    assert [s.commit_kind for s in snaps] == ["APPEND", "APPEND", "APPEND", "COMPACT"]
    assert cat.read_table("default.auto").count() == 3
    files = cat.scan_plan("default.auto")
    assert len(files) == 1  # live set rewritten into one file

    cat.create_table(
        "default", "ret", [("k", "int")],
        options={"snapshot_num_retained_max": "2"},
    )
    for i in range(5):
        cat.insert_into("default", "ret", spark.createDataFrame([(i,)], "k int"))
    kept = [s.snapshot_id for s in cat.snapshots("default", "ret").collect()]
    assert kept == [4, 5]  # history capped at 2 automatically
    assert cat.read_table("default.ret").count() == 5


def test_call_procedures_sql_surface(cat, spark):
    """CALL sys.* — Paimon's Spark maintenance procedures through the SQL
    facade: compact, expire_snapshots, rollback, create/delete_tag."""
    import pytest

    cat.create_database("default", ignore_if_exists=True)
    cat.create_table("default", "proc", [("k", "int")])
    for i in range(3):
        cat.insert_into("default", "proc", spark.createDataFrame([(i,)], "k int"))

    cat.sql("CALL sys.create_tag('default.proc', 'v1', 1)").collect()
    assert cat.read_table("default.proc", tag="v1").count() == 1

    out = cat.sql("CALL sys.compact('default.proc')").collect()
    assert "snapshot 4" in out[0].result
    assert len(cat.scan_plan("default.proc")) == 1

    out = cat.sql("CALL sys.expire_snapshots('default.proc', 1)").collect()
    assert "expired" in out[0].result
    kept = [s.snapshot_id for s in cat.snapshots("default", "proc").collect()]
    assert kept == [1, 4]  # tag keeps snapshot 1 alive

    cat.sql("CALL sys.delete_tag('default.proc', 'v1')").collect()
    with pytest.raises(ValueError):
        cat.read_table("default.proc", tag="v1")

    cat.sql("CALL sys.rollback('default.proc', 4)").collect()
    assert cat.read_table("default.proc").count() == 3

    with pytest.raises(ValueError):
        cat.sql("CALL sys.nope('default.proc')")


def test_call_procedures_named_arguments(cat, spark):
    """Paimon's documented named-argument procedure form (key => value):
    accepted for every procedure, mixed with positionals, with unknown named
    args rejected by name instead of being misread as positional values."""
    import pytest

    cat.create_database("named", ignore_if_exists=True)
    cat.create_table("named", "p", [("k", "int"), ("v", "string")])
    for i in range(3):
        cat.insert_into(
            "named", "p", spark.createDataFrame([(i, f"x{i}")], "k int, v string")
        )

    # named table + order_strategy + order_by (the form that misparsed before:
    # 'order_strategy => order' was treated as a sort column name)
    out = cat.sql(
        "CALL sys.compact(table => 'named.p', order_strategy => 'order', order_by => 'k')"
    ).collect()
    assert "compacted" in out[0].result
    assert len(cat.scan_plan("named.p")) == 1

    # unknown named argument: rejected with the argument's name in the error
    with pytest.raises(ValueError, match="bogus"):
        cat.sql("CALL sys.compact(table => 'named.p', bogus => '1')")
    # partition-scoped compaction: unsupported, rejected clearly (not a column)
    with pytest.raises(ValueError, match="partition"):
        cat.sql("CALL sys.compact(table => 'named.p', partitions => 'k=1')")
    # unsupported strategy named explicitly
    with pytest.raises(ValueError, match="zorder"):
        cat.sql("CALL sys.compact(table => 'named.p', order_strategy => 'zorder')")
    # positional sort column alongside a named order_by: would be silently
    # shadowed — must be rejected, not dropped
    with pytest.raises(ValueError, match="positional"):
        cat.sql("CALL sys.compact('named.p', 'v', order_by => 'k')")
    # trailing positional garbage on any procedure: rejected, not ignored
    with pytest.raises(ValueError, match="positional"):
        cat.sql("CALL sys.create_tag('named.p', 'vX', 1, 'garbage')")

    # mixed named/positional: remaining positionals bind in parameter order
    cat.sql("CALL sys.create_tag(table => 'named.p', 'v1', 1)").collect()
    assert cat.read_table("named.p", tag="v1").count() == 1
    cat.sql("CALL sys.delete_tag(table => 'named.p', tag => 'v1')").collect()

    out = cat.sql(
        "CALL sys.expire_snapshots(table => 'named.p', retain_last => 1)"
    ).collect()
    assert "expired" in out[0].result

    cat.sql("CALL sys.rollback(table => 'named.p', version => 4)").collect()
    assert cat.read_table("named.p").count() == 3


def test_remove_orphan_files(cat, spark):
    """sys.remove_orphan_files: crash debris (finalized data files no
    snapshot references, stale staging dirs) is deleted; referenced files
    and in-flight files above the snapshot horizon survive; the table still
    reads the same rows afterwards."""
    import os
    import shutil
    import time as _time

    cat.create_database("orphan", ignore_if_exists=True)
    cat.create_table("orphan", "t", [("k", "int")])
    for i in range(2):
        cat.insert_into("orphan", "t", spark.createDataFrame([(i,)], "k int"))
    tdir = cat._table_dir("orphan", "t")
    live = cat.scan_plan("orphan.t")
    assert len(live) >= 2

    # crash debris: a finalized file at an already-published commit id that
    # no manifest references (writer died between finalize and publish)
    src = os.path.join(tdir, next(f for f in live if f["record_count"] >= 1)["path"])
    orphan = os.path.join(os.path.dirname(src), "c1-deadbeef-orphan.parquet")
    shutil.copyfile(src, orphan)
    # in-flight: commit id above the horizon (latest snapshot is 2)
    inflight = os.path.join(os.path.dirname(src), "c3-cafebabe-inflight.parquet")
    shutil.copyfile(src, inflight)
    # stale staging dir from a crashed attempt at an already-published id
    staging = os.path.join(tdir, ".staging-c1-deadbeef")
    os.makedirs(staging)
    # a staging dir ABOVE the horizon belongs to a live writer (writers
    # finalize at latest+1 before publishing): mtime alone must never make
    # it deletable, same in-flight rule as data files
    staging_live = os.path.join(tdir, ".staging-c9-cafebabe")
    os.makedirs(staging_live)

    future = int((_time.time() + 60) * 1000)  # everything is "old enough"
    # dry run reports but deletes nothing
    out = cat.sql(
        f"CALL sys.remove_orphan_files(table => 'orphan.t', older_than => {future}, "
        "dry_run => 'true')"
    ).collect()
    assert "removed 1 orphan files" in out[0].result
    assert os.path.exists(orphan) and os.path.exists(staging)

    out = cat.sql(
        f"CALL sys.remove_orphan_files(table => 'orphan.t', older_than => {future})"
    ).collect()
    assert "removed 1 orphan files, 1 staging dirs" in out[0].result
    assert not os.path.exists(orphan)
    assert not os.path.exists(staging)
    assert os.path.exists(inflight)  # above horizon: never touched
    assert os.path.exists(staging_live)  # staging above horizon: never touched
    os.rmdir(staging_live)
    assert os.path.exists(src)  # referenced: never touched
    assert cat.read_table("orphan.t").count() == 2

    # default cutoff (now - 24h): fresh debris is NOT deleted
    shutil.copyfile(src, orphan)
    cat.sql("CALL sys.remove_orphan_files(table => 'orphan.t')").collect()
    assert os.path.exists(orphan)


def test_field_aggregate_option_preserves_column_case(cat, spark):
    """The mangled option spelling ``fields_<col>_aggregate_function`` must
    keep the column name's case (the dotted spelling already does): lowering
    it resolved mixed-case columns to nonexistent names at DDL time."""
    cat.create_database("mc", ignore_if_exists=True)
    cat.create_table(
        "mc",
        "t",
        [("k", "int"), ("MyCol", "bigint")],
        primary_key=["k"],
        options={
            "merge-engine": "aggregation",
            "fields_MyCol_aggregate_function": "sum",
        },
    )
    cat.insert_into("mc", "t", spark.createDataFrame([(1, 10), (1, 32)], "k int, MyCol bigint"))
    row = cat.read_table("mc.t").collect()[0]
    assert row.MyCol == 42  # the aggregate actually bound to the column


def test_review_fixes_changelog_and_options(cat, spark):
    """Regressions from code review: changelog after expiration bootstraps
    instead of crashing; input producer rejects sequence_field; aggregate
    specs demand the aggregation engine; conflict losers leak no manifest."""
    import glob
    import os

    import pytest

    cat.create_database("default", ignore_if_exists=True)

    # 1. table_changelog over a partially-expired history
    cat.create_table("default", "exp", [("k", "int"), ("v", "string")], primary_key=["k"])
    for i in range(3):
        cat.insert_into("default", "exp",
                        spark.createDataFrame([(i, f"v{i}")], "k int, v string"))
    cat.expire_snapshots("default", "exp", keep_last=2)
    rows = cat.table_changelog("default.exp", producer="lookup").collect()
    # snapshot 2 bootstraps as full +I (its predecessor is gone), 3 diffs
    assert {(r.k, r._change, r._snapshot) for r in rows} == {
        (0, "+I", 2), (1, "+I", 2), (2, "+I", 3)}

    # 2. input producer is incompatible with sequence_field
    cat.create_table("default", "seqcl", [("k", "int"), ("s", "bigint")],
                     primary_key=["k"], options={"sequence_field": "s"})
    cat.insert_into("default", "seqcl", spark.createDataFrame([(1, 5)], "k int, s bigint"))
    with pytest.raises(ValueError):
        cat.table_changelog("default.seqcl", producer="input")
    assert cat.table_changelog("default.seqcl", producer="lookup").count() == 1

    # 3. aggregate specs without the aggregation engine are rejected
    with pytest.raises(ValueError):
        cat.create_table("default", "agg_bad", [("k", "int"), ("v", "int")],
                         primary_key=["k"],
                         options={"fields.v.aggregate-function": "sum"})
    with pytest.raises(ValueError):  # ...and without a primary key
        cat.create_table("default", "agg_bad2", [("k", "int"), ("v", "int")],
                         options={"merge_engine": "aggregation",
                                  "fields.v.aggregate-function": "sum"})

    # 4. a losing commit leaves no orphan manifest behind
    cat.create_table("default", "nomleak", [("k", "int")])
    cat.insert_into("default", "nomleak", spark.createDataFrame([(1,)], "k int"))
    tdir = os.path.join(cat.warehouse, "default.db", "nomleak")
    import json

    s1 = json.load(open(os.path.join(tdir, "snapshot", "snapshot-1.json")))
    orig_finalize = cat._finalize_commit

    def finalize_then_lose(tdir_, staging, version, ext):
        paths = orig_finalize(tdir_, staging, version, ext)
        with open(os.path.join(tdir, "snapshot", f"snapshot-{version}.json"), "w") as f:
            json.dump(dict(s1, snapshot_id=version), f)
        return paths

    n_manifests = len(glob.glob(os.path.join(tdir, "manifest", "*.json")))
    cat._finalize_commit = finalize_then_lose
    from incubator_paimon_trino_spark.catalog.metadata import CommitConflictError

    with pytest.raises(CommitConflictError):
        cat.insert_into("default", "nomleak", spark.createDataFrame([(2,)], "k int"))
    assert len(glob.glob(os.path.join(tdir, "manifest", "*.json"))) == n_manifests


def test_review_fixes_round2(cat, spark):
    """Second review pass: mid-history gaps diff against the nearest
    surviving predecessor; SET PROPERTIES validates option coherence;
    SHOW CREATE TABLE round-trips quoted values; unparseable limit-pushdown
    literals disable pushdown instead of crashing."""
    import pytest

    cat.create_database("default", ignore_if_exists=True)

    # 1. mid-history gap: tag snapshot 1, expire 2-3, changelog must diff
    # 1→4 (emitting the delete), not re-emit a full +I image
    cat.create_table("default", "gap", [("k", "int"), ("v", "string")], primary_key=["k"])
    cat.insert_into("default", "gap",
                    spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    cat.create_tag("default", "gap", "t1", snapshot_id=1)
    cat.insert_into("default", "gap", spark.createDataFrame([(3, "c")], "k int, v string"))
    cat.insert_into("default", "gap",
                    spark.createDataFrame([(2, "b", "D")], "k int, v string, _row_kind string"))
    cat.insert_into("default", "gap", spark.createDataFrame([(4, "d")], "k int, v string"))
    cat.expire_snapshots("default", "gap", keep_last=1)  # keeps tagged 1 + 4
    kept = [s.snapshot_id for s in cat.snapshots("default", "gap").collect()]
    assert kept == [1, 4]
    rows = cat.table_changelog("default.gap", producer="lookup").collect()
    got = {(r.k, r._change, r._snapshot) for r in rows}
    assert got == {(1, "+I", 1), (2, "+I", 1),          # initial image
                   (3, "+I", 4), (4, "+I", 4), (2, "-D", 4)}  # collapsed 1→4 diff

    # 2. ALTER SET PROPERTIES enforces the same option coherence as CREATE
    cat.create_table("default", "alt", [("k", "int"), ("v", "int")], primary_key=["k"])
    with pytest.raises(ValueError):
        cat.set_options("default", "alt", {"fields.v.aggregate-function": "sum"})
    cat.set_options("default", "alt",
                    {"merge_engine": "aggregation", "fields.v.aggregate-function": "sum"})

    # 3. SHOW CREATE TABLE round-trips values containing quotes and commas
    cat.create_table("default", "q", [("k", "int")], options={"comment": "a'b,c"})
    ddl = cat.show_create_table("default", "q")
    import tempfile

    from incubator_paimon_trino_spark.catalog import WarehouseCatalog

    cat2 = WarehouseCatalog(tempfile.mkdtemp(prefix="q_"), spark)
    cat2.create_database("default")
    cat2.sql(ddl)
    assert cat2.schema_of("default", "q").options["comment"] == "a'b,c"

    # 4. unparseable literal on an int partition column: the pushdown GUARD
    # must answer False instead of raising (the residual Spark filter still
    # fails under ANSI for the type-mismatched literal — engine semantics)
    from incubator_paimon_trino_spark.catalog.warehouse import _limit_pushable
    from incubator_paimon_trino_spark.functions.predicates import ColumnDomain

    cat.create_table("default", "ip", [("k", "int"), ("y", "int")], partitioned_by=["y"])
    cat.insert_into("default", "ip",
                    spark.createDataFrame([(1, 2020), (2, 2021)], "k int, y int"))
    pred = [ColumnDomain("y", op="=", value="abc")]
    schema = cat.schema_of("default", "ip")
    assert _limit_pushable(schema, pred, cat.scan_plan("default.ip")) is False
    # a well-typed literal still pushes down and reads correctly
    good = [ColumnDomain("y", op="=", value=2021)]
    assert cat.read_table("default.ip", predicate=good, limit=5).count() == 1


def test_sort_compaction_narrows_file_ranges(cat, spark):
    """Paimon sort compaction (CALL sys.compact(..., order_strategy='order')):
    after interleaved commits leave every file spanning the whole key domain,
    compact(order_by=['k']) rewrites into range-disjoint files, so manifest
    min/max skipping can prune range predicates; data and history survive."""
    cat.create_table(
        "m", "sc", [("k", "int"), ("v", "string")],
        options={"clustering_partitions": "3"},
    )
    import random

    rng = random.Random(7)
    ks = list(range(90))
    rng.shuffle(ks)
    mk = lambda part: spark.createDataFrame([(k, f"v{k}") for k in part], "k int, v string")  # noqa: E731
    for i in range(3):  # each commit covers the full k domain
        cat.insert_into("m", "sc", mk(ks[i * 30 : (i + 1) * 30]))
    before = sorted(tuple(r) for r in cat.read_table("m.sc").collect())

    res = cat.sql("CALL sys.compact('m.sc', 'k')")
    assert "compacted" in str(res.collect()[0])

    after = sorted(tuple(r) for r in cat.read_table("m.sc").collect())
    assert after == before and len(after) == 90
    snaps = cat.read_table("m.sc$snapshots").collect()
    assert snaps[-1].commit_kind == "COMPACT"

    snap = cat._latest_snapshot(cat._table_dir("m", "sc"))
    k_id = next(f.id for f in cat.schema_of("m", "sc").fields if f.name == "k")
    ranges = sorted(
        (int(f["stats"][str(k_id)]["min"]), int(f["stats"][str(k_id)]["max"]))
        for f in snap.files
    )
    assert len(ranges) == 3
    for (lo1, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, f"file ranges overlap after sort compaction: {ranges}"


def test_review_fixes_round3(cat, spark, monkeypatch):
    """Third review pass (ADVICE r3): manifest paths normalized for the
    orphan-file GC membership test; sort-compaction demanded without sort
    columns is rejected; CTAS failure leaves no empty table behind; a
    rider _row_kind column doesn't trip positional-INSERT arity."""
    import pytest

    # 1. sys.compact: explicit order_strategy => 'order' with no order_by
    # must raise, not silently compact unsorted
    cat.create_table("m", "r3c", [("k", "int")])
    cat.insert_into("m", "r3c", spark.createDataFrame([(1,)], "k int"))
    with pytest.raises(ValueError, match="order_by"):
        cat.sql("CALL sys.compact(table => 'm.r3c', order_strategy => 'order')")
    # plain compaction without the explicit strategy still works
    assert "compacted" in str(cat.sql("CALL sys.compact(table => 'm.r3c')").collect()[0])

    # 2. atomic CTAS: if the load fails, the created table must not survive
    def boom(*a, **kw):
        raise RuntimeError("simulated write failure")

    monkeypatch.setattr(cat, "insert_into", boom)
    with pytest.raises(RuntimeError, match="simulated"):
        cat.sql("CREATE TABLE m.ctas_fail AS SELECT 1 AS x")
    monkeypatch.undo()
    assert "ctas_fail" not in cat.list_tables("m")

    # 3. positional INSERT with a rider _row_kind column: arity compares
    # data columns only, and the rider still rides (PK table: a 'D' row
    # deletes its key)
    cat.create_table("m", "r3t", [("k", "bigint"), ("v", "string")], primary_key=["k"])
    cat.insert_into(
        "m", "r3t", spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string")
    )
    spark.createDataFrame(
        [("D", 2, "b"), ("I", 3, "c")],  # rider first — position-independent
        "_row_kind string, a bigint, b string",
    ).createOrReplaceTempView("r3_changes")
    cat.sql("INSERT INTO m.r3t SELECT a, b, _row_kind FROM r3_changes")
    got = sorted(tuple(r) for r in cat.read_table("m.r3t").collect())
    assert got == [(1, "a"), (3, "c")]


def test_review_fixes_round4(cat, spark, monkeypatch):
    """Fourth review pass: ADD COLUMN parses COMMENT instead of storing it in
    the type (and rejects unparseable types at DDL time); CTAS failure never
    drops a table a concurrent writer committed to; above-horizon staging
    debris collects after the 24 h floor but never via an aggressive
    older_than alone."""
    import os
    import time as _time

    import pytest

    # 1. ADD COLUMN ... COMMENT: comment is field metadata, not type text
    cat.create_table("m", "r4a", [("k", "int")])
    cat.sql("ALTER TABLE m.r4a ADD COLUMN v varchar(5) COMMENT 'a ''note'''")
    f = {x.name: x for x in cat.schema_of("m", "r4a").fields}
    assert f["v"].type == "varchar(5)" and f["v"].comment == "a 'note'"
    cat.insert_into("m", "r4a", spark.createDataFrame([(1, "x")], "k int, v string"))
    assert cat.read_table("m.r4a").count() == 1  # table still readable
    with pytest.raises(Exception):  # bad type caught at DDL time, not first read
        cat.add_column("m", "r4a", "bad", "no_such_type")
    assert "bad" not in {x.name for x in cat.schema_of("m", "r4a").fields}

    # 2. CTAS failure with a concurrent successful commit: table survives
    real_insert = cat.insert_into

    def race_then_fail(db, tbl, df, **kw):
        real_insert(db, tbl, spark.createDataFrame([(7,)], "x int"))  # "other writer"
        raise RuntimeError("loser of the race")

    monkeypatch.setattr(cat, "insert_into", race_then_fail)
    with pytest.raises(RuntimeError, match="loser"):
        cat.sql("CREATE TABLE m.r4ctas AS SELECT 1 AS x")
    monkeypatch.undo()
    assert "r4ctas" in cat.list_tables("m")  # the other writer's commit survives
    assert [r.x for r in cat.read_table("m.r4ctas").collect()] == [7]

    # 3. staging above the horizon: immune to aggressive older_than, but
    # collected once older than the 24 h floor (abandoned first commit)
    cat.create_table("m", "r4s", [("k", "int")])
    tdir = cat._table_dir("m", "r4s")
    stale = os.path.join(tdir, ".staging-c1-deadbeef")
    os.makedirs(stale)
    future = int((_time.time() + 60) * 1000)
    cat.sql(f"CALL sys.remove_orphan_files(table => 'm.r4s', older_than => {future})")
    assert os.path.exists(stale)  # above horizon (no snapshots) + younger than 24 h
    two_days_ago = _time.time() - 48 * 3600
    os.utime(stale, (two_days_ago, two_days_ago))
    cat.sql(f"CALL sys.remove_orphan_files(table => 'm.r4s', older_than => {future})")
    assert not os.path.exists(stale)  # past the floor: abandoned debris collects


def test_review_fixes_round4b_write_path(cat, spark, monkeypatch):
    """Round-4 write-path review: merge semantics and maintenance races."""
    from pyspark.sql import functions as F

    # 1. count field-aggregate retraction: a -D row retracts its FULL
    # accumulated count (the 0/1 re-partialing applies to raw +I rows only)
    cat.create_table(
        "m", "wc", [("k", "bigint"), ("cnt", "bigint"), ("amt", "bigint")],
        primary_key=["k"],
        options={"merge_engine": "aggregation", "fields.cnt.aggregate-function": "count"},
    )
    rows = spark.createDataFrame([(1, 7, 10), (1, 7, 20), (1, 7, 30)], "k bigint, cnt bigint, amt bigint")
    cat.insert_into("m", "wc", rows)
    assert [(r.cnt, r.amt) for r in cat.read_table("m.wc").collect()] == [(3, 60)]
    cat.delete_where("m", "wc", F.col("k") == 1)
    got = cat.read_table("m.wc").collect()
    # sum retracted to 0 AND count retracted to 0 (not 3-1=2)
    assert [(r.cnt, r.amt) for r in got] == [(0, 0)]

    # 2. first-row tables reject DELETE and UPDATE (silent no-ops before)
    cat.create_table(
        "m", "fr", [("k", "bigint"), ("v", "string")],
        primary_key=["k"], options={"merge_engine": "first-row"},
    )
    cat.insert_into("m", "fr", spark.createDataFrame([(1, "a")], "k bigint, v string"))
    with pytest.raises(ValueError, match="first-row"):
        cat.delete_where("m", "fr", F.col("k") == 1)
    with pytest.raises(ValueError, match="first-row"):
        cat.update_where("m", "fr", F.col("k") == 1, {"v": "b"})

    # 3. UPDATE on a sequence_field table must advance the sequence
    cat.create_table(
        "m", "sq", [("k", "bigint"), ("ts", "bigint"), ("v", "string")],
        primary_key=["k"], options={"sequence_field": "ts"},
    )
    cat.insert_into("m", "sq", spark.createDataFrame([(1, 100, "a")], "k bigint, ts bigint, v string"))
    with pytest.raises(ValueError, match="sequence_field"):
        cat.update_where("m", "sq", F.col("k") == 1, {"v": "b"})
    cat.update_where("m", "sq", F.col("k") == 1, {"v": "b", "ts": F.col("ts") + 1})
    assert [(r.ts, r.v) for r in cat.read_table("m.sq").collect()] == [(101, "b")]

    # 4. sequence_field on an aggregation table must not be summed, and a
    # value-combining aggregate on it is rejected at DDL time
    with pytest.raises(ValueError, match="sequence"):
        cat.create_table(
            "m", "sqagg_bad", [("k", "bigint"), ("ts", "bigint"), ("n", "bigint")],
            primary_key=["k"],
            options={"merge_engine": "aggregation", "sequence_field": "ts",
                     "fields.ts.aggregate-function": "sum"},
        )
    cat.create_table(
        "m", "sqagg", [("k", "bigint"), ("ts", "bigint"), ("n", "bigint")],
        primary_key=["k"],
        options={"merge_engine": "aggregation", "sequence_field": "ts"},
    )
    cat.insert_into("m", "sqagg", spark.createDataFrame([(1, 100, 1)], "k bigint, ts bigint, n bigint"))
    cat.insert_into("m", "sqagg", spark.createDataFrame([(1, 101, 2)], "k bigint, ts bigint, n bigint"))
    got = cat.read_table("m.sqagg").collect()
    assert [(r.ts, r.n) for r in got] == [(101, 3)]  # ts = last, NOT 201

    # 5. a maintenance failure after a successful commit stays best-effort
    cat.create_table(
        "m", "bm", [("k", "bigint")], options={"snapshot_num_retained_max": "2"}
    )
    real = cat.expire_snapshots

    def boom(*a, **kw):
        raise OSError("simulated concurrent-expire race")

    monkeypatch.setattr(cat, "expire_snapshots", boom)
    v = cat.insert_into("m", "bm", spark.createDataFrame([(1,)], "k bigint"))
    monkeypatch.setattr(cat, "expire_snapshots", real)
    assert v == 1 and cat.read_table("m.bm").count() == 1


def test_review_fixes_round4b_changelog(cat, spark):
    """Input-producer changelog is per-commit file diffs (compaction emits
    nothing; pre-compaction ranges stay readable); expired start positions
    raise; CDC works on map-typed value columns."""
    from pyspark.sql import functions as F

    cat.create_table("m", "cl", [("k", "bigint"), ("v", "string")], primary_key=["k"])
    mk = lambda rows: spark.createDataFrame(rows, "k bigint, v string")  # noqa: E731
    cat.insert_into("m", "cl", mk([(1, "a")]))       # snapshot 1
    cat.insert_into("m", "cl", mk([(2, "b")]))       # snapshot 2
    cat.compact("m", "cl")                           # snapshot 3 (COMPACT)
    cat.insert_into("m", "cl", mk([(3, "c")]))       # snapshot 4

    # full range: only writer input appears — the compact commit emits
    # NOTHING (no whole-table +I re-emission)
    out = cat.table_changelog("m.cl", producer="input").collect()
    assert sorted((r.k, r._snapshot, r._change) for r in out) == [
        (1, 1, "+I"), (2, 2, "+I"), (3, 4, "+I"),
    ]
    # pre-compaction range: raw rows come from the historical file lists,
    # not the (rewritten) live set
    pre = cat.table_changelog("m.cl", from_snapshot=1, to_snapshot=2, producer="input").collect()
    assert [(r.k, r._snapshot) for r in pre] == [(2, 2)]

    # expired start position fails loudly instead of re-delivering
    cat.expire_snapshots("m", "cl", keep_last=2)  # keeps 3,4
    with pytest.raises(ValueError, match="expired"):
        cat.table_changelog("m.cl", from_snapshot=2, producer="lookup")

    # a position AT or AHEAD of the tip is NOT expired: empty changelog,
    # not an error (consumer saved tip+1, or polls after a history rewrite)
    assert cat.table_changelog("m.cl", from_snapshot=5, producer="lookup").count() == 0
    assert cat.table_changelog("m.cl", from_snapshot=99, producer="input").count() == 0

    # CDC on a map-typed value column (eqNullSafe rejects maps — compared
    # via sorted entries)
    cat.create_table(
        "m", "mp", [("k", "bigint"), ("tags", "map<string,int>")], primary_key=["k"]
    )
    mkm = lambda rows: spark.createDataFrame(rows, "k bigint, tags map<string,int>")  # noqa: E731
    cat.insert_into("m", "mp", mkm([(1, {"a": 1}), (2, {"b": 2})]))
    cat.insert_into("m", "mp", mkm([(1, {"a": 9})]))
    cdc = {(r.k, r._change) for r in cat.read_cdc("m.mp", 1, 2).collect()}
    assert cdc == {(1, "-U"), (1, "+U")}


def test_review_fixes_round5_changelog_and_ddl(cat, spark):
    """Round-5 review: (a) a from_snapshot=0 input-producer re-bootstrap whose
    earliest SURVIVING snapshot is a COMPACT commit emits that commit's file
    set as the +I baseline instead of silently dropping those rows; (b) a
    sequence_field that is also a primary-key column is rejected at DDL time
    (UPDATE would otherwise hit two contradictory errors with no escape)."""
    mk = lambda rows: spark.createDataFrame(rows, "k bigint, v string")  # noqa: E731

    cat.create_table("m", "cb", [("k", "bigint"), ("v", "string")], primary_key=["k"])
    cat.insert_into("m", "cb", mk([(1, "a")]))  # snapshot 1
    cat.insert_into("m", "cb", mk([(2, "b")]))  # snapshot 2
    cat.compact("m", "cb")                      # snapshot 3 (COMPACT)
    cat.insert_into("m", "cb", mk([(3, "c")]))  # snapshot 4
    cat.expire_snapshots("m", "cb", keep_last=2)  # earliest survivor = COMPACT 3

    out = cat.table_changelog("m.cb", producer="input").collect()
    assert sorted((r.k, r._snapshot, r._change) for r in out) == [
        (1, 3, "+I"), (2, 3, "+I"), (3, 4, "+I"),
    ]
    # an IN-RANGE compaction (non-bootstrap) still emits nothing
    cat.compact("m", "cb")                      # snapshot 5 (COMPACT)
    tail = cat.table_changelog("m.cb", from_snapshot=3, producer="input").collect()
    assert sorted((r.k, r._snapshot, r._change) for r in tail) == [(3, 4, "+I")]

    with pytest.raises(ValueError, match="primary-key"):
        cat.create_table(
            "m", "badseq", [("k", "bigint"), ("s", "bigint"), ("v", "string")],
            primary_key=["k", "s"], options={"sequence_field": "s"},
        )


def test_snapshot_time_retained_auto_expire(spark, tmp_path):
    """snapshot.time-retained (Paimon's age-based automatic expiration):
    commits older than the window expire at commit time, with
    snapshot.num-retained.min as the retention floor — recent history
    survives regardless of count, old history goes regardless of recency."""
    import time as _time

    from incubator_paimon_trino_spark.catalog import WarehouseCatalog

    cat = WarehouseCatalog(str(tmp_path / "wh"), spark)
    cat.create_database("d")
    cat.create_table(
        "d",
        "t",
        [("k", "bigint")],
        options={"snapshot.time-retained": "1 h"},
    )
    for i in range(3):
        cat.insert_into("d", "t", spark.createDataFrame([(i,)], "k bigint"))
    # all commits are inside the 1h window: protected despite keep floor 1
    assert cat.read_table("d.t$snapshots").count() == 3
    cat.set_options("d", "t", {"snapshot.time-retained": "150 ms"})
    _time.sleep(0.3)  # now 1..3 are older than the shrunk window
    cat.insert_into("d", "t", spark.createDataFrame([(99,)], "k bigint"))
    ids = {r.snapshot_id for r in cat.read_table("d.t$snapshots").collect()}
    assert ids == {4}  # aged history expired, the fresh commit survives
    assert cat.read_table("d.t").count() == 4  # data untouched (live view)


def test_expire_snapshots_older_than_procedure(spark, tmp_path):
    import time as _time

    from incubator_paimon_trino_spark.catalog import WarehouseCatalog

    cat = WarehouseCatalog(str(tmp_path / "wh"), spark)
    cat.create_database("d")
    cat.create_table("d", "t", [("k", "bigint")])
    for i in range(4):
        cat.insert_into("d", "t", spark.createDataFrame([(i,)], "k bigint"))
    future = int(_time.time() * 1000) + 10_000
    # age cutoff admits everything; retain_last floor keeps the newest 3
    cat.sql(f"CALL sys.expire_snapshots(table => 'd.t', retain_last => 3, older_than => '{future}')")
    assert cat.read_table("d.t$snapshots").count() == 3
    # cutoff in the past: nothing is old enough, floor 1 notwithstanding
    cat.sql("CALL sys.expire_snapshots(table => 'd.t', retain_last => 1, older_than => '1000')")
    assert cat.read_table("d.t$snapshots").count() == 3
    with pytest.raises(ValueError, match="duration"):
        cat.set_options("d", "t", {"snapshot.time-retained": "eon"})


def test_tag_automatic_creation_process_time(spark, tmp_path):
    """tag.automatic-creation=process-time: the FIRST commit of a creation
    period tags its snapshot with the period name; later commits in the same
    period leave the tag pointing at that first snapshot."""
    import datetime as dt

    from incubator_paimon_trino_spark.catalog import WarehouseCatalog

    cat = WarehouseCatalog(str(tmp_path / "wh"), spark)
    cat.create_database("d")
    cat.create_table(
        "d", "t", [("k", "int")], options={"tag.automatic-creation": "process-time"}
    )
    cat.insert_into("d", "t", spark.createDataFrame([(1,)], "k int"))
    name = dt.datetime.now(dt.timezone.utc).strftime("%Y-%m-%d")
    tags = cat._tags(cat._table_dir("d", "t"))
    assert tags.get(name) == 1
    cat.insert_into("d", "t", spark.createDataFrame([(2,)], "k int"))
    assert cat._tags(cat._table_dir("d", "t"))[name] == 1  # unchanged
    # the tag reads back as the first commit's state
    assert cat.read_table("d.t", tag=name).count() == 1

    import pytest as _pytest

    with _pytest.raises(ValueError, match="tag_automatic_creation"):
        cat.create_table("d", "bad", [("k", "int")],
                         options={"tag.automatic-creation": "watermark"})
    with _pytest.raises(ValueError, match="tag_creation_period"):
        cat.create_table("d", "bad2", [("k", "int")],
                         options={"tag.automatic-creation": "process-time",
                                  "tag.creation-period": "weekly"})


def test_timestamp_procedures(spark, tmp_path):
    """sys.rollback_to_timestamp / sys.create_tag_from_timestamp: the
    epoch-millis cutoff resolves to the newest snapshot at-or-before it."""
    import pytest as _pytest

    from incubator_paimon_trino_spark.catalog import WarehouseCatalog

    cat = WarehouseCatalog(str(tmp_path / "wh"), spark)
    cat.create_database("d")
    cat.create_table("d", "t", [("k", "int")])
    for i in range(3):
        cat.insert_into("d", "t", spark.createDataFrame([(i,)], "k int"))
    tdir = cat._table_dir("d", "t")
    ts2 = {s.snapshot_id: s.timestamp_ms for s in load_snapshots(tdir)}[2]
    res = cat.sql(
        f"CALL sys.create_tag_from_timestamp(table => 'd.t', tag => 'at2', timestamp => '{ts2}')"
    ).collect()
    assert "snapshot 2" in res[0][0]
    assert cat.read_table("d.t", tag="at2").count() == 2
    cat.sql(f"CALL sys.rollback_to_timestamp(table => 'd.t', timestamp => '{ts2}')")
    assert cat.read_table("d.t").count() == 2
    with _pytest.raises(ValueError, match="no snapshot at or before"):
        cat.sql("CALL sys.rollback_to_timestamp(table => 'd.t', timestamp => '1')")
