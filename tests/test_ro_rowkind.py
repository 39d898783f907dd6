"""$ro (read-optimized system table), rowkind.field, and the schema-evolution
option-tracking fixes (single-column options + aggregate keys follow renames;
drops refuse while an option names the column)."""

from __future__ import annotations

import pytest

from incubator_paimon_trino_spark.catalog import WarehouseCatalog


@pytest.fixture()
def cat(spark, tmp_path):
    return WarehouseCatalog(str(tmp_path / "wh"), spark)


def _pk_table(cat, spark, **opts):
    cat.create_database("d", ignore_if_exists=True)
    cat.create_table(
        "d", "t", [("k", "bigint"), ("v", "string")], primary_key=["k"], options=opts or None
    )


def test_ro_serves_compacted_state_without_merge(cat, spark):
    _pk_table(cat, spark)
    cat.insert_into("d", "t", spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string"))
    cat.insert_into("d", "t", spark.createDataFrame([(2, "b2"), (3, "c")], "k bigint, v string"))
    # never compacted: no read-optimized state exists yet
    assert cat.read_table("d.t$ro").count() == 0
    cat.compact("d", "t")
    cat.insert_into("d", "t", spark.createDataFrame([(4, "d")], "k bigint, v string"))
    ro = cat.read_table("d.t$ro")
    assert {(r.k, r.v) for r in ro.collect()} == {(1, "a"), (2, "b2"), (3, "c")}
    assert cat.read_table("d.t").count() == 4  # live read sees commit 4
    # the whole point: a raw file scan, ZERO merge shuffle in the plan
    plan = ro._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Sort" not in plan


def test_ro_survives_expiry_of_compact_snapshot(cat, spark):
    """Routine snapshot expiration removes the COMPACT snapshot JSON while
    the compacted FILES stay live (carried forward in newer snapshots) —
    $ro must keep serving them: the provenance marker lives in the manifest
    entries, not the expired snapshot metadata."""
    _pk_table(cat, spark)
    cat.insert_into("d", "t", spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string"))
    cat.compact("d", "t")  # snapshot 2 (COMPACT)
    cat.insert_into("d", "t", spark.createDataFrame([(3, "c")], "k bigint, v string"))
    cat.expire_snapshots("d", "t", keep_last=1)  # the COMPACT snapshot JSON dies
    assert {r.snapshot_id for r in cat.read_table("d.t$snapshots").collect()} == {3}
    ro = {(r.k, r.v) for r in cat.read_table("d.t$ro").collect()}
    assert ro == {(1, "a"), (2, "b")}  # still the at-compaction state
    assert cat.read_table("d.t").count() == 3


def test_ro_invalidated_by_overwrite(cat, spark):
    """An OVERWRITE/TRUNCATE replaces the live file set — $ro must never
    resurrect the pre-overwrite compacted rows; no read-optimized state
    exists again until the next compaction."""
    _pk_table(cat, spark)
    cat.insert_into("d", "t", spark.createDataFrame([(1, "a")], "k bigint, v string"))
    cat.compact("d", "t")
    assert cat.read_table("d.t$ro").count() == 1
    cat.insert_into(
        "d", "t", spark.createDataFrame([(9, "z")], "k bigint, v string"), overwrite=True
    )
    assert cat.read_table("d.t").count() == 1  # the overwrite's row
    assert cat.read_table("d.t$ro").count() == 0  # never the old compacted row
    cat.compact("d", "t")
    assert {(r.k, r.v) for r in cat.read_table("d.t$ro").collect()} == {(9, "z")}


def test_duration_spellings():
    from incubator_paimon_trino_spark.catalog.warehouse import _parse_duration_ms

    assert _parse_duration_ms("100") == 100
    assert _parse_duration_ms("100 ms") == 100
    assert _parse_duration_ms("30 s") == _parse_duration_ms("30 seconds") == 30000
    assert _parse_duration_ms("10 min") == _parse_duration_ms("10 minutes") == 600000
    assert _parse_duration_ms("2 h") == _parse_duration_ms("2 hours") == 7200000
    assert _parse_duration_ms("1 d") == _parse_duration_ms("1 day") == 86400000
    import pytest as _pt

    for bad in ("fortnight", "1 fortnight", "-5 s", "1.5 h", "30 ss", "500 mss"):
        # '30 ss' / '500 mss' are typos that must FAIL, not silently parse
        # at a wildly wrong magnitude (ss ≠ seconds, mss ≠ minutes)
        with _pt.raises(ValueError):
            _parse_duration_ms(bad)


def test_ro_char_padding_matches_read_table(cat, spark):
    cat.create_database("d")
    cat.create_table("d", "c", [("k", "bigint"), ("code", "char(4)")], primary_key=["k"])
    cat.insert_into("d", "c", spark.createDataFrame([(1, "ab")], "k bigint, code string"))
    cat.compact("d", "c")
    assert cat.read_table("d.c$ro").collect()[0].code == "ab  "


def test_rowkind_field_drives_merge(cat, spark):
    cat.create_database("d")
    cat.create_table(
        "d",
        "t",
        [("k", "bigint"), ("v", "string"), ("op", "string")],
        primary_key=["k"],
        options={"rowkind.field": "op"},
    )
    df1 = spark.createDataFrame(
        [(1, "a", "+I"), (2, "b", "I"), (3, "c", "insert")], "k bigint, v string, op string"
    )
    cat.insert_into("d", "t", df1)
    df2 = spark.createDataFrame(
        [(1, "a", "-D"), (2, "b2", "+U"), (3, "c", "-U")], "k bigint, v string, op string"
    )
    cat.insert_into("d", "t", df2)
    rows = {(r.k, r.v, r.op) for r in cat.read_table("d.t").collect()}
    # 1 deleted; 2 upserted; 3's -U image is DROPPED at ingestion (the
    # upsert-sink convention — see the CDC-pair test below), so 3 keeps its
    # prior value; the op column itself is stored data and reads back
    assert rows == {(2, "b2", "+U"), (3, "c", "insert")}
    # bad literal fails the write loudly, never silently inserts
    with pytest.raises(Exception, match="invalid rowkind"):
        cat.insert_into(
            "d",
            "t",
            spark.createDataFrame([(9, "x", "UPSERT")], "k bigint, v string, op string"),
        )


def test_rowkind_field_cdc_update_pair_in_one_batch(cat, spark):
    """The canonical CDC replay sends the (-U old image, +U new image) PAIR
    for an update — often in one batch, where a DataFrame has no arrival
    order. Treating -U as a delete would let the commit-level delete-last
    tie-break erase the key its paired +U upserts; dropping -U images at
    ingestion makes the pair a plain upsert."""
    cat.create_database("d")
    cat.create_table(
        "d",
        "t",
        [("k", "bigint"), ("v", "string"), ("op", "string")],
        primary_key=["k"],
        options={"rowkind.field": "op"},
    )
    cat.insert_into("d", "t", spark.createDataFrame([(1, "old", "+I")], "k bigint, v string, op string"))
    pair = spark.createDataFrame(
        [(1, "old", "-U"), (1, "new", "+U")], "k bigint, v string, op string"
    )
    cat.insert_into("d", "t", pair)
    rows = [(r.k, r.v) for r in cat.read_table("d.t").collect()]
    assert rows == [(1, "new")]


def test_rowkind_field_update_where_unaffected(cat, spark):
    """UPDATE rewrites rows with an explicit kind — it must never re-derive
    kinds from the stored op column (a stored '-D' would silently delete,
    a NULL would crash the write)."""
    cat.create_database("d")
    cat.create_table(
        "d",
        "t",
        [("k", "bigint"), ("v", "string"), ("op", "string")],
        primary_key=["k"],
        options={"rowkind.field": "op"},
    )
    cat.insert_into(
        "d",
        "t",
        spark.createDataFrame([(1, "a", "-D")], "k bigint, v string, op string"),
        row_kind="I",  # explicit-kind path stores op='-D' as plain data
    )
    from pyspark.sql import functions as F

    cat.update_where("d", "t", F.col("k") == 1, {"v": "updated"})
    rows = [(r.k, r.v, r.op) for r in cat.read_table("d.t").collect()]
    assert rows == [(1, "updated", "-D")]  # updated, NOT deleted or crashed


def test_rowkind_field_validation(cat, spark):
    cat.create_database("d")
    with pytest.raises(ValueError, match="primary-key"):
        cat.create_table(
            "d", "t1", [("k", "bigint"), ("op", "string")], options={"rowkind.field": "op"}
        )
    with pytest.raises(ValueError, match="not in columns"):
        cat.create_table(
            "d",
            "t2",
            [("k", "bigint")],
            primary_key=["k"],
            options={"rowkind.field": "nope"},
        )
    with pytest.raises(ValueError, match="string column"):
        cat.create_table(
            "d",
            "t3",
            [("k", "bigint"), ("op", "bigint")],
            primary_key=["k"],
            options={"rowkind.field": "op"},
        )


def test_rowkind_field_explicit_kind_wins(cat, spark):
    """An explicit row_kind argument or _row_kind column outranks the option
    (internal writers — DELETE, CDC apply — must keep working unchanged)."""
    cat.create_database("d")
    cat.create_table(
        "d",
        "t",
        [("k", "bigint"), ("op", "string")],
        primary_key=["k"],
        options={"rowkind.field": "op"},
    )
    cat.insert_into(
        "d", "t", spark.createDataFrame([(1, "+I")], "k bigint, op string")
    )
    # row_kind='D' wins over op='+I'
    cat.insert_into(
        "d",
        "t",
        spark.createDataFrame([(1, "+I")], "k bigint, op string"),
        row_kind="D",
    )
    assert cat.read_table("d.t").count() == 0


def test_rename_add_refuse_reserved_names(cat, spark):
    """Every DDL path enforces the reserved-name list — a column renamed to
    _zorder_key would be silently overwritten (and dropped) by the curve
    write-clustering scaffolding."""
    cat.create_database("d")
    cat.create_table("d", "t", [("k", "bigint"), ("v", "string")])
    for bad in ("_zorder_key", "_seq", "_row_kind", "_bucket"):
        with pytest.raises(ValueError, match="reserved"):
            cat.rename_column("d", "t", "v", bad)
        with pytest.raises(ValueError, match="reserved"):
            cat.add_column("d", "t", bad, "string")


def test_consumer_touch_keeps_caught_up_stream_alive(cat, spark):
    """A caught-up stream re-advances at an UNCHANGED position every
    checkpoint; the exclusive-create marker can't be rewritten, so liveness
    must flow through the marker's mtime — expiration would otherwise reap
    a live consumer 'expiration-time' after its last POSITION CHANGE."""
    import os as _os
    import time as _time

    cat.create_database("d")
    cat.create_table("d", "t", [("k", "bigint")], primary_key=["k"])
    cat.insert_into("d", "t", spark.createDataFrame([(1,)], "k bigint"))
    cat.insert_into("d", "t", spark.createDataFrame([(2,)], "k bigint"))
    cat.set_options("d", "t", {"consumer.expiration-time": "300 ms"})
    cat.advance_consumer("d", "t", "live", 2)
    _time.sleep(0.4)  # marker now older than the window...
    cat.advance_consumer("d", "t", "live", 2)  # ...but the stream just checkpointed
    stats = cat.expire_snapshots("d", "t", keep_last=1)
    assert stats["expired_consumers"] == 0  # touch proved liveness
    assert cat.consumer_progress("d", "t", "live") == 2
    # stop checkpointing → genuinely abandoned → reaped
    _time.sleep(0.4)
    stats = cat.expire_snapshots("d", "t", keep_last=1)
    assert stats["expired_consumers"] == 1


def test_single_column_options_follow_rename(cat, spark):
    cat.create_database("d")
    cat.create_table(
        "d",
        "t",
        [("k", "bigint"), ("v", "string"), ("seq", "bigint")],
        primary_key=["k"],
        options={"sequence_field": "seq"},
    )
    cat.insert_into(
        "d", "t", spark.createDataFrame([(1, "a", 10)], "k bigint, v string, seq bigint")
    )
    cat.rename_column("d", "t", "seq", "event_seq")
    assert cat.schema_of("d", "t").options["sequence_field"] == "event_seq"
    # merges keep working through the renamed sequence column
    cat.insert_into(
        "d",
        "t",
        spark.createDataFrame([(1, "OLD", 5)], "k bigint, v string, event_seq bigint"),
    )
    assert cat.read_table("d.t").collect()[0].v == "a"  # seq 10 outranks 5
    with pytest.raises(ValueError, match="sequence_field"):
        cat.drop_column("d", "t", "event_seq")


def test_aggregate_function_key_follows_rename_and_drop(cat, spark):
    cat.create_database("d")
    cat.create_table(
        "d",
        "t",
        [("k", "bigint"), ("total", "bigint"), ("note", "string")],
        primary_key=["k"],
        options={"merge_engine": "aggregation", "fields.total.aggregate-function": "sum"},
    )
    cat.insert_into("d", "t", spark.createDataFrame([(1, 10, "x")], "k bigint, total bigint, note string"))
    cat.rename_column("d", "t", "total", "grand_total")
    opts = cat.schema_of("d", "t").options
    assert "fields.total.aggregate-function" not in opts
    assert opts.get("fields.grand_total.aggregate-function") == "sum"
    cat.insert_into(
        "d", "t", spark.createDataFrame([(1, 5, "y")], "k bigint, grand_total bigint, note string")
    )
    assert cat.read_table("d.t").collect()[0].grand_total == 15  # still summing
    # dropping a non-key column takes its aggregate spec with it
    cat.drop_column("d", "t", "note")
    cat.set_options("d", "t", {"snapshot.num-retained.max": "10"})  # revalidates clean
