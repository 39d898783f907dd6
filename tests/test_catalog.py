"""Lake-catalog E2E mirroring the reference's ITCase golden scenarios
(``common-test/TestTrinoITCase.java`` fixtures, extracted in FIXTURES.md).
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from incubator_paimon_trino_spark.catalog import WarehouseCatalog
from incubator_paimon_trino_spark.catalog.metadata import load_snapshots


@pytest.fixture()
def cat(spark, tmp_path):
    return WarehouseCatalog(str(tmp_path / "wh"), spark)


T1_COLS = [("a", "int"), ("b", "bigint"), ("aCa", "string"), ("d", "string")]


def _mk_t1(cat, spark, db="default", name="t1"):
    cat.create_database(db, ignore_if_exists=True)
    cat.create_table(db, name, T1_COLS, primary_key=["a"])
    rows = [(1, 2, "1", "1", "I"), (3, 4, "2", "2", "I"), (5, 6, "3", "3", "I"), (3, 4, "2", "2", "D")]
    df = spark.createDataFrame(rows, "a int, b bigint, aCa string, d string, _row_kind string")
    cat.insert_into(db, name, df)


def test_f1_pk_delete_merge(cat, spark):
    """F1: +I(1),+I(3),+I(5),-D(3) in ONE commit → SELECT * yields keys {1,5}
    (TestTrinoITCase.java:89-94 → :270-271)."""
    _mk_t1(cat, spark)
    got = sorted(tuple(r) for r in cat.read_table("default.t1").collect())
    assert got == [(1, 2, "1", "1"), (5, 6, "3", "3")]
    # projection incl. the deliberately mixed-case column (:272)
    proj = sorted(tuple(r) for r in cat.read_table("default.t1").select("a", "aCa").collect())
    assert proj == [(1, "1"), (5, "3")]


def test_f2_time_travel(cat, spark):
    """F2: two commits; VERSION AS OF 1 → 2 rows, AS OF 2 → 4; TIMESTAMP
    between commits → 2 (TestTrinoITCase.java:517-536)."""
    cat.create_database("default", ignore_if_exists=True)
    cat.create_table("default", "t2", T1_COLS, primary_key=["a"])
    mk = lambda rows: spark.createDataFrame(rows, "a int, b bigint, aCa string, d string")  # noqa: E731
    cat.insert_into("default", "t2", mk([(1, 2, "1", "1"), (3, 4, "2", "2")]))
    t_between = int(time.time() * 1000)
    time.sleep(0.01)
    cat.insert_into("default", "t2", mk([(5, 6, "3", "3"), (7, 8, "4", "4")]))
    assert cat.read_table("default.t2", version_as_of=1).count() == 2
    assert cat.read_table("default.t2", version_as_of=2).count() == 4
    assert cat.read_table("default.t2", timestamp_as_of=t_between).count() == 2
    with pytest.raises(ValueError):
        cat.read_table("default.t2", version_as_of=99)
    # $snapshots system table (:284-289)
    snaps = cat.read_table("default.t2$snapshots").collect()
    assert [(s.snapshot_id, s.schema_id, s.commit_user, s.commit_kind) for s in snaps] == [
        (1, 0, "spark-graft", "APPEND"),
        (2, 0, "spark-graft", "APPEND"),
    ]


def test_f3_partitioned_append(cat, spark):
    """F3: append-only partitioned table; GROUP BY pt,a golden
    (TestTrinoITCase.java:298-303) and partition-scoped read."""
    from pyspark.sql import functions as F

    cat.create_database("default", ignore_if_exists=True)
    cat.create_table(
        "default",
        "t3",
        [("pt", "string"), ("a", "int"), ("b", "bigint"), ("c", "bigint"), ("d", "int")],
        partitioned_by=["pt"],
    )
    df = spark.createDataFrame(
        [("1", 1, 1, 1, 1), ("1", 1, 2, 2, 2), ("2", 3, 3, 3, 3)],
        "pt string, a int, b bigint, c bigint, d int",
    )
    cat.insert_into("default", "t3", df)
    got = (
        cat.read_table("default.t3")
        .groupBy("pt", "a")
        .agg(F.sum("b").alias("sb"), F.sum("d").alias("sd"))
        .orderBy("pt", "a")
        .collect()
    )
    assert [tuple(r) for r in got] == [("1", 1, 3, 3), ("2", 3, 3, 3)]
    assert cat.read_table("default.t3").filter(F.col("pt") == "1").count() == 2
    # partition pruning reaches the file listing
    plan = (
        cat.read_table("default.t3")
        .filter(F.col("pt") == "1")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan


def test_f6_empty_table(cat, spark):
    """F6: empty table SELECT * → [] (TestTrinoITCase.java:264-266)."""
    cat.create_database("default", ignore_if_exists=True)
    cat.create_table("default", "empty_t", [("a", "int"), ("b", "bigint")])
    assert cat.read_table("default.empty_t").count() == 0
    assert [f.name for f in cat.read_table("default.empty_t").schema.fields] == ["a", "b"]


def test_ddl_lifecycle(cat, spark):
    """A14-A19: databases, rename/drop table, add/rename/drop column,
    set options (TestTrinoITCase.java:327-501)."""
    cat.create_database("testdb")
    assert "testdb" in cat.list_databases()
    cat.create_table(
        "testdb",
        "orders",
        [("order_key", "bigint"), ("order_status", "string"), ("total_price", "double"), ("order_date", "date")],
        primary_key=["order_key", "order_date"],
        partitioned_by=["order_date"],
        options={"file_format": "PARQUET", "bucket": "2", "bucket_key": "order_key", "changelog_producer": "input"},
    )
    assert cat.list_tables("testdb") == ["orders"]
    # rename table (:364-407)
    cat.rename_table("testdb", "orders", "orders2")
    assert cat.list_tables("testdb") == ["orders2"]
    # column evolution (:409-479)
    cat.add_column("testdb", "orders2", "comment", "string")
    cat.rename_column("testdb", "orders2", "comment", "note")
    assert ("note", "string") in cat.describe("testdb", "orders2")
    cat.drop_column("testdb", "orders2", "note")
    assert all(n != "note" for n, _ in cat.describe("testdb", "orders2"))
    with pytest.raises(ValueError):
        cat.drop_column("testdb", "orders2", "order_key")  # PK protected
    # set properties (:481-501)
    cat.set_options("testdb", "orders2", {"write_only": "true"})
    opts = dict((r.key, r.value) for r in cat.read_table("testdb.orders2$options").collect())
    assert opts["write_only"] == "true" and opts["bucket"] == "2"
    cat.drop_table("testdb", "orders2")
    assert cat.list_tables("testdb") == []
    cat.drop_database("testdb")
    assert "testdb" not in cat.list_databases()


def test_schema_evolution_reads_old_files(cat, spark):
    """A18 contract: files written before add/rename stay readable; renamed
    column maps by field id; dropped column disappears; added column is NULL
    for old rows."""
    cat.create_database("default", ignore_if_exists=True)
    cat.create_table("default", "ev", [("id", "int"), ("v", "string")])
    cat.insert_into("default", "ev", spark.createDataFrame([(1, "one")], "id int, v string"))
    cat.add_column("default", "ev", "extra", "bigint")
    cat.rename_column("default", "ev", "v", "val")
    cat.insert_into(
        "default", "ev", spark.createDataFrame([(2, "two", 22)], "id int, val string, extra bigint")
    )
    got = {r.id: (r.val, r.extra) for r in cat.read_table("default.ev").collect()}
    assert got == {1: ("one", None), 2: ("two", 22)}
    cat.drop_column("default", "ev", "extra")
    got2 = {r.id: r.val for r in cat.read_table("default.ev").collect()}
    assert got2 == {1: "one", 2: "two"}
    assert "extra" not in cat.read_table("default.ev").columns


def test_delete_where_and_upsert(cat, spark):
    """Write-path extensions beyond the read-only reference: upsert by PK +
    delete_where."""
    _mk_t1(cat, spark)
    # upsert: new value for key 1 in a later commit wins
    cat.insert_into(
        "default", "t1", spark.createDataFrame([(1, 99, "x", "y")], "a int, b bigint, aCa string, d string")
    )
    got = {r.a: r.b for r in cat.read_table("default.t1").collect()}
    assert got == {1: 99, 5: 6}
    from pyspark.sql import functions as F

    cat.delete_where("default", "t1", F.col("a") == 5)
    assert {r.a for r in cat.read_table("default.t1").collect()} == {1}
    # raw changelog still shows everything
    raw = cat.read_table("default.t1", with_system_columns=True)
    assert raw.count() == 6 and {"_seq", "_row_kind"} <= set(raw.columns)


def test_merge_engines(cat, spark):
    """partial-update / aggregation / first-row merge engines
    (TrinoTableOptionUtils.java:98,113-118 enum surface)."""
    cat.create_database("default", ignore_if_exists=True)
    mk = lambda rows, ddl: spark.createDataFrame(rows, ddl)  # noqa: E731

    cat.create_table(
        "default", "pu", [("k", "int"), ("x", "string"), ("y", "string")],
        primary_key=["k"], options={"merge_engine": "partial-update"},
    )
    cat.insert_into("default", "pu", mk([(1, "a", None)], "k int, x string, y string"))
    cat.insert_into("default", "pu", mk([(1, None, "b")], "k int, x string, y string"))
    assert [tuple(r) for r in cat.read_table("default.pu").collect()] == [(1, "a", "b")]

    cat.create_table(
        "default", "agg", [("k", "int"), ("n", "bigint"), ("tag", "string")],
        primary_key=["k"], options={"merge_engine": "aggregation"},
    )
    cat.insert_into("default", "agg", mk([(1, 10, "t1"), (1, 5, "t2")], "k int, n bigint, tag string"))
    cat.insert_into("default", "agg", mk([(1, 1, "t3")], "k int, n bigint, tag string"))
    assert [tuple(r) for r in cat.read_table("default.agg").collect()] == [(1, 16, "t3")]

    cat.create_table(
        "default", "fr", [("k", "int"), ("v", "string")],
        primary_key=["k"], options={"merge_engine": "first-row"},
    )
    cat.insert_into("default", "fr", mk([(1, "first")], "k int, v string"))
    cat.insert_into("default", "fr", mk([(1, "second")], "k int, v string"))
    assert [tuple(r) for r in cat.read_table("default.fr").collect()] == [(1, "first")]


def test_overwrite_commit(cat, spark):
    cat.create_database("default", ignore_if_exists=True)
    cat.create_table("default", "ow", [("a", "int")])
    cat.insert_into("default", "ow", spark.createDataFrame([(1,), (2,)], "a int"))
    cat.insert_into("default", "ow", spark.createDataFrame([(9,)], "a int"), overwrite=True)
    assert [r.a for r in cat.read_table("default.ow").collect()] == [9]
    kinds = [r.commit_kind for r in cat.snapshots("default", "ow").collect()]
    assert kinds == ["APPEND", "OVERWRITE"]


def test_update_where(cat, spark):
    """UPDATE as an upsert commit: matching PK rows re-written with new values."""
    from pyspark.sql import functions as F

    _mk_t1(cat, spark)  # live keys {1, 5}
    cat.update_where("default", "t1", F.col("a") == 1, {"b": F.col("b") + 100, "d": "upd"})
    got = {r.a: (r.b, r.d) for r in cat.read_table("default.t1").collect()}
    assert got == {1: (102, "upd"), 5: (6, "3")}
    with pytest.raises(ValueError):
        cat.update_where("default", "t1", F.col("a") == 1, {"a": 9})  # PK col
    with pytest.raises(ValueError):
        cat.update_where("default", "t1", F.col("a") == 1, {"nope": 1})  # unknown col


def test_merge_into(cat, spark):
    """MERGE INTO: update-matched + insert-not-matched in one snapshot;
    delete-matched variant; all atomic (one commit per merge)."""
    _mk_t1(cat, spark)  # live keys {1, 5}
    src = spark.createDataFrame(
        [(1, 111, "u", "u"), (7, 77, "n", "n")], "a int, b bigint, aCa string, d string"
    )
    before = cat.snapshots("default", "t1").count()
    cat.merge_into("default", "t1", src, on=["a"])
    assert cat.snapshots("default", "t1").count() == before + 1  # atomic: ONE commit
    got = {r.a: r.b for r in cat.read_table("default.t1").collect()}
    assert got == {1: 111, 5: 6, 7: 77}

    # delete-matched: source names keys {5, 999}; only 5 exists → only 5 deleted
    src2 = spark.createDataFrame(
        [(5, 0, "", ""), (999, 0, "", "")], "a int, b bigint, aCa string, d string"
    )
    cat.merge_into("default", "t1", src2, on=["a"], when_matched="delete", when_not_matched=None)
    assert {r.a for r in cat.read_table("default.t1").collect()} == {1, 7}

    with pytest.raises(ValueError):
        cat.merge_into("default", "t1", src, on=["b"])  # keys must equal PK
    with pytest.raises(ValueError):
        cat.merge_into("default", "t1", src, on=["a"], when_matched=None, when_not_matched=None)


def test_sql_facade(cat, spark):
    """SQL entry point over lake tables: ITCase-golden queries run as SQL
    strings with db.table resolution, system tables, and time travel."""
    _mk_t1(cat, spark)  # PK table, merged live keys {1, 5}
    got = sorted(tuple(r) for r in cat.sql("SELECT * FROM default.t1").collect())
    assert got == [(1, 2, "1", "1"), (5, 6, "3", "3")]
    # projection + filter + agg through Spark SQL (ITCase :272-273 shapes)
    assert cat.sql("SELECT SUM(b) AS s FROM default.t1").collect()[0].s == 8
    assert cat.sql("SELECT a, aCa FROM default.t1 WHERE a < 4").collect()[0].a == 1
    # join of a lake table with itself via aliases (alias.column must not be
    # mis-resolved as a table reference)
    n = cat.sql(
        "SELECT x.a FROM default.t1 x JOIN default.t1 y ON x.a = y.a"
    ).count()
    assert n == 2
    # system table (A13)
    snaps = cat.sql("SELECT snapshot_id, commit_kind FROM default.t1$snapshots").collect()
    assert [(s.snapshot_id, s.commit_kind) for s in snaps] == [(1, "APPEND")]
    # time travel (A11): second commit, then pin version 1
    cat.insert_into(
        "default", "t1",
        spark.createDataFrame([(9, 9, "9", "9")], "a int, b bigint, aCa string, d string"),
    )
    assert cat.sql("SELECT COUNT(*) AS c FROM default.t1").collect()[0].c == 3
    assert cat.sql(
        "SELECT COUNT(*) AS c FROM default.t1 FOR VERSION AS OF 1"
    ).collect()[0].c == 2


def test_session_property_time_travel(cat, spark):
    """A12: scan_snapshot_id / scan_timestamp_millis session properties pin
    every read, explicit arguments win (TrinoSessionProperties.java:36-77)."""
    cat.create_database("default", ignore_if_exists=True)
    cat.create_table("default", "sp", [("a", "int")])
    cat.insert_into("default", "sp", spark.createDataFrame([(1,)], "a int"))
    cat.insert_into("default", "sp", spark.createDataFrame([(2,)], "a int"))
    try:
        spark.conf.set("spark.paimon.scan.snapshot-id", "1")
        assert cat.read_table("default.sp").count() == 1
        # explicit argument overrides the session property
        assert cat.read_table("default.sp", version_as_of=2).count() == 2
        # SQL facade reads through the same path
        assert cat.sql("SELECT COUNT(*) AS c FROM default.sp").collect()[0].c == 1
    finally:
        spark.conf.unset("spark.paimon.scan.snapshot-id")
    assert cat.read_table("default.sp").count() == 2


def test_incremental_read_and_audit_log(cat, spark):
    """incremental-between scan (delta file sets, no data read to plan) and
    the $audit_log system table exposing rowkind."""
    _mk_t1(cat, spark)  # commit 1: +I(1),+I(3),+I(5),-D(3)
    cat.insert_into(
        "default", "t1",
        spark.createDataFrame([(7, 8, "4", "4")], "a int, b bigint, aCa string, d string"),
    )
    inc = cat.read_incremental("default.t1", 1, 2)
    assert [(r.a, r._row_kind) for r in inc.collect()] == [(7, "I")]
    # (0, n] = full changelog up to n
    assert cat.read_incremental("default.t1", 0, 1).count() == 4
    # empty delta
    assert cat.read_incremental("default.t1", 2, 2).count() == 0
    with pytest.raises(ValueError):
        cat.read_incremental("default.t1", 2, 1)
    with pytest.raises(ValueError):
        cat.read_incremental("default.t1", 1, 99)

    audit = cat.read_table("default.t1$audit_log")
    got = sorted((r.rowkind, r.a) for r in audit.collect())
    assert got == [("D", 3), ("I", 1), ("I", 3), ("I", 5), ("I", 7)]
    # append-only tables: all +I
    cat.create_table("default", "ap", [("x", "int")])
    cat.insert_into("default", "ap", spark.createDataFrame([(1,), (2,)], "x int"))
    assert {r.rowkind for r in cat.read_table("default.ap$audit_log").collect()} == {"I"}


def test_sql_dml(cat, spark):
    """INSERT INTO / INSERT OVERWRITE / DELETE FROM / UPDATE as SQL strings —
    a write surface the read-only reference delegates away entirely."""
    _mk_t1(cat, spark)  # PK table, live keys {1, 5}
    cat.sql("INSERT INTO default.t1 SELECT 7 AS a, CAST(70 AS BIGINT) AS b, '7' AS aCa, '7' AS d")
    assert {r.a for r in cat.read_table("default.t1").collect()} == {1, 5, 7}
    # INSERT ... SELECT from another lake table reference
    cat.create_table("default", "t1copy", T1_COLS, primary_key=["a"])
    cat.sql("INSERT INTO default.t1copy SELECT * FROM default.t1")
    assert cat.read_table("default.t1copy").count() == 3
    # UPDATE
    cat.sql("UPDATE default.t1 SET b = b + 1000, d = 'upd' WHERE a = 5")
    got = {r.a: (r.b, r.d) for r in cat.read_table("default.t1").collect()}
    assert got[5] == (1006, "upd")
    # DELETE
    cat.sql("DELETE FROM default.t1 WHERE a = 1")
    assert {r.a for r in cat.read_table("default.t1").collect()} == {5, 7}
    # INSERT OVERWRITE on an append table
    cat.create_table("default", "ap2", [("x", "int")])
    cat.sql("INSERT INTO default.ap2 SELECT 1 AS x")
    cat.sql("INSERT OVERWRITE default.ap2 SELECT 2 AS x")
    assert [r.x for r in cat.read_table("default.ap2").collect()] == [2]


def test_sql_ddl(cat, spark):
    """Full DDL lifecycle as SQL strings, mirroring the ITCase DDL scenarios
    (TestTrinoITCase.java:327-501): schema + table create with properties,
    alter column add/rename/drop, set properties, shows, drops."""
    cat.sql("CREATE SCHEMA sales")
    assert "sales" in [r.schema for r in cat.sql("SHOW SCHEMAS").collect()]
    cat.sql(
        "CREATE TABLE sales.orders2 (k BIGINT, v STRING, pt STRING) "
        "WITH (primary_key = 'k', file_format = 'ORC', bucket = '2', bucket_key = 'k')"
    )
    assert [r.table for r in cat.sql("SHOW TABLES FROM sales").collect()] == ["orders2"]
    sch = cat.schema_of("sales", "orders2")
    # enum option values normalize at ingestion (exact-compare consumers)
    assert sch.primary_key == ["k"] and sch.options["file_format"] == "orc"

    cat.sql("INSERT INTO sales.orders2 SELECT CAST(1 AS BIGINT) AS k, 'a' AS v, 'p1' AS pt")
    cat.sql("ALTER TABLE sales.orders2 ADD COLUMN note STRING")
    cat.sql("ALTER TABLE sales.orders2 RENAME COLUMN v TO val")
    cols = {r.column: r.type for r in cat.sql("SHOW COLUMNS FROM sales.orders2").collect()}
    assert "note" in cols and "val" in cols and "v" not in cols
    # old ORC file still readable through the evolved schema (field ids)
    got = cat.sql("SELECT k, val, note FROM sales.orders2").collect()
    assert [(r.k, r.val, r.note) for r in got] == [(1, "a", None)]

    cat.sql("ALTER TABLE sales.orders2 DROP COLUMN note")
    cat.sql("ALTER TABLE sales.orders2 SET PROPERTIES compaction = 'full'")
    assert cat.schema_of("sales", "orders2").options["compaction"] == "full"
    cat.sql("ALTER TABLE sales.orders2 RENAME TO orders3")
    assert [r.table for r in cat.sql("SHOW TABLES FROM sales").collect()] == ["orders3"]
    cat.sql("DROP TABLE sales.orders3")
    cat.sql("DROP SCHEMA sales")
    assert "sales" not in [r.schema for r in cat.sql("SHOW SCHEMAS").collect()]


def test_insert_values_and_column_list(cat, spark):
    """SQL INSERT is positional: a VALUES tuple (synthetic col names) binds
    to the table's declared column order with assignment casts; an explicit
    column list binds positionally to the listed columns and NULL-fills the
    rest; name-matched SELECTs keep their name-based binding."""
    import pytest

    cat.sql("CREATE SCHEMA ins")
    cat.sql("CREATE TABLE ins.t (k BIGINT, v STRING, n DOUBLE)")
    cat.sql("INSERT INTO ins.t VALUES (1, 'a', 1.5)")  # int literal → BIGINT
    cat.sql("INSERT INTO ins.t (v, k) VALUES ('b', 2)")  # n NULL-filled
    cat.sql("INSERT INTO ins.t SELECT 9.0 AS n, CAST(3 AS BIGINT) AS k, 'c' AS v")
    got = {r.k: (r.v, r.n) for r in cat.sql("SELECT * FROM ins.t").collect()}
    assert got == {1: ("a", 1.5), 2: ("b", None), 3: ("c", 9.0)}

    with pytest.raises(ValueError, match="arity"):
        cat.sql("INSERT INTO ins.t VALUES (1, 'x')")
    with pytest.raises(ValueError, match="nope"):
        cat.sql("INSERT INTO ins.t (nope) VALUES (1)")


def test_truncate_and_full_table_delete(cat, spark):
    """TRUNCATE TABLE empties both table kinds via an overwrite commit
    (history stays time-travelable); DELETE without WHERE clears a PK table
    through -D changelog rows."""
    cat.sql("CREATE SCHEMA trunc")
    cat.sql("CREATE TABLE trunc.app (k BIGINT, v STRING)")
    cat.sql("INSERT INTO trunc.app VALUES (1, 'a'), (2, 'b')")
    cat.sql("TRUNCATE TABLE trunc.app")
    assert cat.sql("SELECT * FROM trunc.app").count() == 0
    # pre-truncate snapshot still time-travelable
    assert cat.sql("SELECT * FROM trunc.app FOR VERSION AS OF 1").count() == 2

    cat.sql("CREATE TABLE trunc.pk (k BIGINT, v STRING) WITH (primary_key = 'k')")
    cat.sql("INSERT INTO trunc.pk VALUES (1, 'a'), (2, 'b')")
    cat.sql("DELETE FROM trunc.pk")
    assert cat.sql("SELECT * FROM trunc.pk").count() == 0
    cat.sql("TRUNCATE TABLE trunc.pk")
    assert cat.sql("SELECT * FROM trunc.pk").count() == 0


def test_sql_insert_and_truncate_nested_and_timestamp_columns(cat, spark):
    """SQL INSERT (positional, and with a column list whose unlisted
    columns fill with typed NULLs) and TRUNCATE take their column types
    from the catalog's own parser: struct, array<struct>, timestamp_ntz and
    timestamp (local time zone) columns all commit, and the timestamp
    column keeps its local-time-zone type."""
    import datetime

    cat.create_database("ty")
    cat.create_table(
        "ty", "t",
        [
            ("k", "int"),
            ("s", "struct<a:int,b:string>"),
            ("arr", "array<struct<x:int,y:string>>"),
            ("tn", "timestamp_ntz"),
            ("tz", "timestamp"),
        ],
    )
    cat.sql(
        "INSERT INTO ty.t VALUES (1, named_struct('a', 1, 'b', 'x'), "
        "array(named_struct('x', 2, 'y', 'z')), "
        "TIMESTAMP_NTZ '2024-01-02 03:04:05', TIMESTAMP '2024-01-02 03:04:05')"
    )
    cat.sql("INSERT INTO ty.t (k, tn) VALUES (2, TIMESTAMP_NTZ '2024-05-06 07:08:09')")
    df = cat.read_table("ty.t")
    assert dict(df.dtypes)["tz"] == "timestamp"
    rows = {r.k: r for r in df.collect()}
    assert (rows[1].s.a, rows[1].s.b) == (1, "x")
    assert [(e.x, e.y) for e in rows[1].arr] == [(2, "z")]
    assert rows[1].tn == datetime.datetime(2024, 1, 2, 3, 4, 5)
    assert rows[1].tz is not None
    assert (rows[2].s, rows[2].arr, rows[2].tz) == (None, None, None)
    assert rows[2].tn == datetime.datetime(2024, 5, 6, 7, 8, 9)
    cat.sql("TRUNCATE TABLE ty.t")
    assert cat.read_table("ty.t").count() == 0


def test_create_table_as_select(cat, spark):
    """CTAS: schema derived from the SELECT via the A20 type mapping; WITH
    properties (primary_key included) apply to the created table."""
    cat.sql("CREATE SCHEMA ctas")
    cat.sql("CREATE TABLE ctas.src (k BIGINT, v STRING)")
    cat.sql("INSERT INTO ctas.src VALUES (1, 'a'), (2, 'b'), (2, 'b2')")

    cat.sql(
        "CREATE TABLE ctas.dst WITH (primary_key = 'k') AS "
        "SELECT k, UPPER(v) AS vu FROM ctas.src"
    )
    sch = cat.schema_of("ctas", "dst")
    assert sch.primary_key == ["k"]
    assert [(f.name, f.type.upper()) for f in sch.fields] == [
        ("k", "BIGINT"), ("vu", "STRING")
    ]
    # PK merge applied: one survivor per key (which duplicate of key 2 wins
    # within a single commit is writer-defined, like Paimon)
    got = {r.k: r.vu for r in cat.sql("SELECT * FROM ctas.dst").collect()}
    assert got[1] == "A" and got[2] in ("B", "B2") and len(got) == 2

    # plain CTAS without properties
    cat.sql("CREATE TABLE ctas.flat AS SELECT COUNT(*) AS n FROM ctas.src")
    assert cat.sql("SELECT * FROM ctas.flat").collect()[0].n == 3


def test_show_tables_like_with_escape(cat, spark):
    """SHOW TABLES ... LIKE with % / _ wildcards and ESCAPE — the Trino
    surface (testShowTablesLikeWithEscape,
    common-test/TestTrinoDistributedQuery.java:841). The escaped underscore
    must match a LITERAL underscore, not any character."""
    import pytest

    cat.sql("CREATE SCHEMA liketest")
    for t in ("ab_c", "abxc", "abc", "other"):
        cat.sql(f"CREATE TABLE liketest.{t} (k INT)")

    def names(q):
        return sorted(r.table for r in cat.sql(q).collect())

    assert names("SHOW TABLES FROM liketest LIKE 'ab%'") == ["ab_c", "abc", "abxc"]
    # unescaped _ is a single-char wildcard
    assert names("SHOW TABLES FROM liketest LIKE 'ab_c'") == ["ab_c", "abxc"]
    # escaped _ is a literal underscore
    assert names("SHOW TABLES FROM liketest LIKE 'ab\\_c' ESCAPE '\\'") == ["ab_c"]
    assert names("SHOW TABLES FROM liketest LIKE '%'") == ["ab_c", "abc", "abxc", "other"]
    assert names("SHOW TABLES FROM liketest LIKE 'zzz%'") == []
    with pytest.raises(ValueError, match="escape"):
        cat.sql("SHOW TABLES FROM liketest LIKE 'abc\\' ESCAPE '\\'")
    # schemas get the same pattern surface
    assert [r.schema for r in cat.sql("SHOW SCHEMAS LIKE 'like%'").collect()] == ["liketest"]
    assert cat.sql("SHOW SCHEMAS LIKE 'nope%'").count() == 0


def test_f4_complex_types(cat, spark):
    """F4 t4: map/struct/array columns through a PK lake table; SELECT *
    golden [[1, {1=2}, [2, male], [1, 2, 3]]] (TestTrinoITCase.java:258-261)."""
    cat.create_database("default", ignore_if_exists=True)
    cat.create_table(
        "default", "t4",
        [
            ("i", "int"),
            ("map", "map<string,string>"),
            ("innerrow", "struct<innercol1:int,innercol2:string>"),
            ("array", "array<int>"),
        ],
        primary_key=["i"],
    )
    df = spark.createDataFrame(
        [(1, {"1": "2"}, (2, "male"), [1, 2, 3])],
        "i int, map map<string,string>, innerrow struct<innercol1:int,innercol2:string>, array array<int>",
    )
    cat.insert_into("default", "t4", df)
    r = cat.read_table("default.t4").collect()[0]
    assert (r.i, dict(r.map), tuple(r.innerrow), list(r.array)) == (
        1, {"1": "2"}, (2, "male"), [1, 2, 3],
    )
    # nested access through the SQL facade (engine-side nested ops)
    got = cat.sql(
        "SELECT i, map['1'] AS m1, innerrow.innercol2 AS sex, array[1] AS second "
        "FROM default.t4"
    ).collect()[0]
    assert (got.i, got.m1, got.sex, got.second) == (1, "2", "male", 2)
    # upsert by PK replaces the nested row wholesale
    cat.insert_into(
        "default", "t4",
        spark.createDataFrame(
            [(1, {"9": "9"}, (9, "female"), [9])],
            "i int, map map<string,string>, innerrow struct<innercol1:int,innercol2:string>, array array<int>",
        ),
    )
    r2 = cat.read_table("default.t4").collect()[0]
    assert dict(r2.map) == {"9": "9"} and r2.innerrow.innercol2 == "female"


def test_f5_timestamp_precision_ladder(cat, spark):
    """F5 t99: timestamp(0/3/6) as NTZ + timestamptz as UTC-session timestamp;
    goldens from TestTrinoITCase.java:504-514."""
    import datetime as dt

    cat.create_database("default", ignore_if_exists=True)
    cat.create_table(
        "default", "t99",
        [
            ("i", "int"),
            ("createdtime", "timestamp_ntz"),
            ("updatedtime", "timestamp_ntz"),
            ("microtime", "timestamp_ntz"),
            ("localzonedtime", "timestamp"),
        ],
        primary_key=["i"],
    )
    base = dt.datetime(2023, 9, 12, 7, 54, 48)
    row = (
        1,
        base,
        base + dt.timedelta(milliseconds=1),
        base + dt.timedelta(microseconds=1001),
        base + dt.timedelta(milliseconds=2),
    )
    df = spark.createDataFrame(
        [row],
        "i int, createdtime timestamp_ntz, updatedtime timestamp_ntz, "
        "microtime timestamp_ntz, localzonedtime timestamp",
    )
    cat.insert_into("default", "t99", df)
    r = cat.read_table("default.t99").collect()[0]
    assert r.createdtime == base
    assert r.updatedtime == base + dt.timedelta(milliseconds=1)
    assert r.microtime == base + dt.timedelta(microseconds=1001)
    assert r.localzonedtime == base + dt.timedelta(milliseconds=2)  # UTC session


def test_read_cdc(cat, spark):
    """CDC diff between snapshots: +I for new keys, -U/+U pairs for changed
    rows, -D for deletes; unchanged keys emit nothing."""
    _mk_t1(cat, spark)  # v1: live {1:(2,..), 5:(6,..)}
    from pyspark.sql import functions as F

    cat.insert_into(  # v2: update 1, insert 7
        "default", "t1",
        spark.createDataFrame([(1, 99, "x", "x"), (7, 70, "7", "7")],
                              "a int, b bigint, aCa string, d string"),
    )
    cat.delete_where("default", "t1", F.col("a") == 5)  # v3: delete 5

    cdc = {(r.a, r._change): r.b for r in cat.read_cdc("default.t1", 1, 3).collect()}
    assert cdc == {
        (1, "-U"): 2, (1, "+U"): 99,   # update pair for key 1
        (7, "+I"): 70,                  # insert
        (5, "-D"): 6,                   # delete carries the old image
    }
    # from 0 = everything as inserts
    assert {r._change for r in cat.read_cdc("default.t1", 0, 1).collect()} == {"+I"}
    # no changes between identical snapshots
    assert cat.read_cdc("default.t1", 3, 3).count() == 0


def test_read_cdc_null_field_update(cat, spark):
    """A null->value (or value->null) field change must emit an update pair —
    regression for null-unsafe struct comparison."""
    cat.create_database("default", ignore_if_exists=True)
    cat.create_table("default", "cdcn", [("k", "int"), ("v", "string")], primary_key=["k"])
    mk = lambda rows: spark.createDataFrame(rows, "k int, v string")  # noqa: E731
    cat.insert_into("default", "cdcn", mk([(1, None), (2, "x"), (3, "same")]))
    cat.insert_into("default", "cdcn", mk([(1, "filled"), (2, None), (3, "same")]))
    cdc = {(r.k, r._change): r.v for r in cat.read_cdc("default.cdcn", 1, 2).collect()}
    assert cdc == {
        (1, "-U"): None, (1, "+U"): "filled",
        (2, "-U"): "x", (2, "+U"): None,
    }  # key 3 unchanged -> absent


def test_review_fixes(cat, spark):
    """Regressions from code review: quoted-literal table refs, reversed CDC
    range, stale bucket_key on rename, duplicate columns, empty-PK-table
    column order, footer-based record counts."""
    _mk_t1(cat, spark)
    # 1. a db.table occurrence inside a string literal must NOT be rewritten
    got = cat.sql("SELECT COUNT(*) AS n FROM default.t1 WHERE d = 'default.t1'").collect()
    assert got[0].n == 0
    # 2. reversed CDC range raises
    with pytest.raises(ValueError):
        cat.read_cdc("default.t1", 2, 1)
    # 3. rename keeps bucket_key usable; drop of bucket_key rejected
    cat.create_table(
        "default", "bk", [("k", "int"), ("v", "string")],
        options={"bucket": "2", "bucket_key": "k"},
    )
    cat.rename_column("default", "bk", "k", "id")
    assert cat.schema_of("default", "bk").options["bucket_key"] == "id"
    cat.insert_into("default", "bk", spark.createDataFrame([(1, "a")], "id int, v string"))
    with pytest.raises(ValueError):
        cat.drop_column("default", "bk", "id")
    # 4. duplicate column names rejected at create
    with pytest.raises(ValueError):
        cat.create_table("default", "dup", [("a", "int"), ("A", "string")])
    # 5. empty PK table reads with the same column order as after a commit
    cat.create_table("default", "vk", [("v", "string"), ("k", "int")], primary_key=["k"])
    empty_cols = cat.read_table("default.vk").columns
    cat.insert_into("default", "vk", spark.createDataFrame([("a", 1)], "v string, k int"))
    assert cat.read_table("default.vk").columns == empty_cols == ["v", "k"]
    # 6. record_count from footers matches committed rows
    assert cat.snapshots("default", "vk").collect()[-1].record_count == 1


def test_partitioned_multi_commit_read_and_special_values(cat, spark):
    """Partition columns are rebuilt from the file path (no directory
    inference): a plan mixing commit dirs must read cleanly, and %XX-escaped
    / '+' / null partition values must round-trip exactly."""
    cat.create_database("default", ignore_if_exists=True)
    cat.create_table(
        "default", "pmc", [("k", "int"), ("pt", "string"), ("v", "string")],
        partitioned_by=["pt"],
    )
    vals = ["plain", "has space", "a=b", "50%off", "c+d", None]
    for i, pv in enumerate(vals):
        df = spark.createDataFrame([(i, pv, f"row{i}")], "k int, pt string, v string")
        cat.insert_into("default", "pmc", df)
    got = {r.k: r.pt for r in cat.read_table("default.pmc").collect()}
    assert got == {i: pv for i, pv in enumerate(vals)}
    # partitioned + primary key: path columns coexist with _seq/_row_kind
    cat.create_table(
        "default", "pmk", [("k", "int"), ("pt", "string"), ("v", "string")],
        primary_key=["k"], partitioned_by=["pt"],
    )
    cat.insert_into("default", "pmk",
                    spark.createDataFrame([(1, "x", "old")], "k int, pt string, v string"))
    cat.insert_into("default", "pmk",
                    spark.createDataFrame([(1, "x", "new")], "k int, pt string, v string"))
    rows = cat.read_table("default.pmk").collect()
    assert [(r.k, r.pt, r.v) for r in rows] == [(1, "x", "new")]


def test_changelog_producer_modes(cat, spark):
    """table_changelog under input / lookup / none producers (the
    ChangelogProducer enum the reference stores as a DDL option)."""
    cat.create_database("default", ignore_if_exists=True)
    cat.create_table("default", "clp", [("k", "int"), ("v", "string")], primary_key=["k"])
    cat.insert_into("default", "clp",
                    spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    rows2 = [(1, "a2", "I"), (3, "c", "I"), (2, "b", "D")]
    cat.insert_into("default", "clp",
                    spark.createDataFrame(rows2, "k int, v string, _row_kind string"))

    # input: the writer's raw rows, tagged with their commit
    raw = {(r.k, r.v, r._change, r._snapshot)
           for r in cat.table_changelog("default.clp", producer="input").collect()}
    assert raw == {(1, "a", "+I", 1), (2, "b", "+I", 1),
                   (1, "a2", "+I", 2), (3, "c", "+I", 2), (2, "b", "-D", 2)}

    # lookup: complete diff stream with before-images
    look = {(r.k, r.v, r._change, r._snapshot)
            for r in cat.table_changelog("default.clp", producer="lookup").collect()}
    assert look == {(1, "a", "+I", 1), (2, "b", "+I", 1),
                    (1, "a", "-U", 2), (1, "a2", "+U", 2),
                    (3, "c", "+I", 2), (2, "b", "-D", 2)}

    # none (default): same minus the -U before-images
    none = {(r.k, r.v, r._change, r._snapshot)
            for r in cat.table_changelog("default.clp").collect()}
    assert none == {t for t in look if t[2] != "-U"}

    # range bounds: only commit 2
    tail = {r._snapshot for r in
            cat.table_changelog("default.clp", from_snapshot=1, producer="lookup").collect()}
    assert tail == {2}

    with pytest.raises(ValueError):
        cat.table_changelog("default.clp", producer="bogus")
    cat.create_table("default", "clp_append", [("k", "int")])
    with pytest.raises(ValueError):
        cat.table_changelog("default.clp_append", producer="input")


def test_sequence_field_merge_order(cat, spark):
    """sequence_field (Paimon CoreOption): merge-on-read orders by a USER
    column, so late-arriving rows with older business time lose to the
    already-stored newer version — commit order no longer decides."""
    cat.create_database("default", ignore_if_exists=True)
    cat.create_table(
        "default", "sq", [("k", "int"), ("v", "string"), ("event_seq", "bigint")],
        primary_key=["k"], options={"sequence_field": "event_seq"},
    )
    cat.insert_into("default", "sq",
                    spark.createDataFrame([(1, "newer", 100)], "k int, v string, event_seq bigint"))
    # second COMMIT carries an OLDER sequence value → must NOT win
    cat.insert_into("default", "sq",
                    spark.createDataFrame([(1, "stale", 50)], "k int, v string, event_seq bigint"))
    # and a genuinely newer one wins
    cat.insert_into("default", "sq",
                    spark.createDataFrame([(1, "newest", 200)], "k int, v string, event_seq bigint"))
    rows = cat.read_table("default.sq").collect()
    assert [(r.k, r.v, r.event_seq) for r in rows] == [(1, "newest", 200)]

    # compaction must PRESERVE business sequence: stamping the commit id
    # would let the next business-older insert overwrite the compacted state
    cat.compact("default", "sq")
    cat.insert_into("default", "sq",
                    spark.createDataFrame([(1, "stale2", 60)], "k int, v string, event_seq bigint"))
    rows = cat.read_table("default.sq").collect()
    assert [(r.k, r.v, r.event_seq) for r in rows] == [(1, "newest", 200)]

    import pytest

    with pytest.raises(ValueError):
        cat.create_table(
            "default", "sq_bad", [("k", "int"), ("v", "string")],
            primary_key=["k"], options={"sequence_field": "nope"},
        )
    # non-orderable sequence_field types are rejected at CREATE time (a
    # string column would cast to NULL _seq, making merge order undefined)
    with pytest.raises(ValueError):
        cat.create_table(
            "default", "sq_bad2", [("k", "int"), ("v", "string")],
            primary_key=["k"], options={"sequence_field": "v"},
        )
    # timestamp sequence_field: encodes as epoch micros (sub-second order)
    cat.create_table(
        "default", "sqts", [("k", "int"), ("v", "string"), ("evt", "timestamp")],
        primary_key=["k"], options={"sequence_field": "evt"},
    )
    import datetime as _dt

    t0 = _dt.datetime(2026, 1, 1, 0, 0, 0, 500000)
    t1 = _dt.datetime(2026, 1, 1, 0, 0, 0, 900000)  # same second, later micros
    cat.insert_into("default", "sqts",
                    spark.createDataFrame([(1, "late", t1)], "k int, v string, evt timestamp"))
    cat.insert_into("default", "sqts",
                    spark.createDataFrame([(1, "early", t0)], "k int, v string, evt timestamp"))
    assert [r.v for r in cat.read_table("default.sqts").collect()] == ["late"]


def test_merge_into_sql(cat, spark):
    """MERGE INTO through the SQL facade (whole-row form): upsert + insert
    in one atomic commit; a second MERGE with DELETE removes matches."""
    cat.create_database("default", ignore_if_exists=True)
    cat.create_table("default", "mt", [("k", "int"), ("v", "string")], primary_key=["k"])
    cat.insert_into("default", "mt",
                    spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    cat.create_table("default", "src", [("k", "int"), ("v", "string")])
    cat.insert_into("default", "src",
                    spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string"))

    cat.sql("""
      MERGE INTO default.mt USING default.src AS s ON mt.k = s.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *
    """)
    got = {r.k: r.v for r in cat.read_table("default.mt").collect()}
    assert got == {1: "a", 2: "B", 3: "c"}

    # bare (AS-less) source alias must parse too — review fix
    cat.sql("""
      MERGE INTO default.mt USING (SELECT 3 AS k, 'x' AS v) s ON mt.k = s.k
      WHEN MATCHED THEN DELETE
    """)
    got = {r.k: r.v for r in cat.read_table("default.mt").collect()}
    assert got == {1: "a", 2: "B"}

    import pytest

    with pytest.raises(ValueError):
        cat.sql("MERGE INTO default.mt USING default.src ON mt.k < s.k "
                "WHEN MATCHED THEN UPDATE SET *")


def test_show_create_table_roundtrip(cat, spark):
    """SHOW CREATE TABLE emits DDL the facade accepts back verbatim
    (TestTrinoITCase.java:315-331)."""
    cat.create_database("default", ignore_if_exists=True)
    cat.create_table(
        "default", "sct",
        [("k", "bigint"), ("pt", "string"), ("v", "double", "it's the 'value'")],
        primary_key=["k", "pt"], partitioned_by=["pt"],
        options={"bucket": "4", "file_format": "PARQUET"},
    )
    ddl = cat.sql("SHOW CREATE TABLE default.sct").collect()[0].create_table
    assert "default.sct" in ddl and "primary_key = 'k,pt'" in ddl
    assert "COMMENT 'it''s the ''value'''" in ddl  # comments survive, quoted
    # round-trip: run the emitted DDL against a fresh catalog
    import tempfile

    from incubator_paimon_trino_spark.catalog import WarehouseCatalog

    cat2 = WarehouseCatalog(tempfile.mkdtemp(prefix="sct_"), spark)
    cat2.create_database("default")
    cat2.sql(ddl)
    assert cat2.schema_of("default", "sct").primary_key == ["k", "pt"]
    assert cat2.schema_of("default", "sct").partition_keys == ["pt"]
    assert cat2.schema_of("default", "sct").options["bucket"] == "4"
    # the per-column comment round-trips through the emitted DDL
    f = {x.name: x.comment for x in cat2.schema_of("default", "sct").fields}
    assert f["v"] == "it's the 'value'" and f["k"] is None

    desc = {r.column: r.type for r in cat.sql("DESCRIBE default.sct").collect()}
    assert desc == {"k": "bigint", "pt": "string", "v": "double"}


def test_full_core_options_surface(cat, spark):
    """The reference reflects EVERY Paimon CoreOption into a mangled DDL
    property (TrinoTableOptionUtils.java:38-80): unknown-but-valid keys are
    stored as metadata, while the seven enum-typed options
    (TrinoTableOptionUtils.java:94-128) reject bad values at DDL time."""
    import pytest

    cat.create_database("default", ignore_if_exists=True)
    opts = {
        "snapshot_time_retained": "1 h",
        "write_buffer_size": "256 mb",
        "target_file_size": "128 mb",
        "num_sorted_run_compaction_trigger": "5",
        "scan_mode": "latest-full",
        "consumer_id": "myconsumer",
        "write_only": "true",
        "compaction_min_file_num": "5",
        "dynamic_partition_overwrite": "true",
        "snapshot_expire_execution_mode": "sync",
        "merge_engine": "partial-update",
        "changelog_producer": "lookup",
    }
    cat.create_table(
        "default", "copt", [("k", "int"), ("v", "string")],
        primary_key=["k"], options=opts,
    )
    stored = cat.schema_of("default", "copt").options
    assert all(stored[k] == v for k, v in opts.items())
    # pass-through keys survive the SQL facade too
    cat.sql(
        "CREATE TABLE default.copt2 (k int) WITH "
        "(snapshot_time_retained = '2 h', log_consistency = 'eventual')"
    )
    assert cat.schema_of("default", "copt2").options["snapshot_time_retained"] == "2 h"

    # enum-typed options reject bad values at DDL time, not first read/write
    for key, bad in [
        ("file_format", "feather"),
        ("merge_engine", "fancy"),
        ("changelog_producer", "bogus"),
        ("scan_mode", "sometimes"),
        ("log_consistency", "maybe"),
        ("log_changelog_mode", "most"),
        ("streaming_read_mode", "psychic"),
    ]:
        with pytest.raises(ValueError):
            cat.create_table("default", f"bad_{key}", [("k", "int"), ("v", "int")],
                             primary_key=["k"], options={key: bad})
    # ...and ALTER cannot sneak one in either
    with pytest.raises(ValueError):
        cat.set_options("default", "copt", {"scan_mode": "sideways"})


def test_char_column_semantics(cat, spark):
    """CHAR(n) golden mirroring TestTrinoITCase.java:252 (t1.d is CHAR(1)):
    trailing blanks are insignificant — padded inserts compare equal to
    unpadded literals through both the pruning predicate path and the
    re-applied filter, and groupBy keys collapse padded/unpadded variants.
    r9: reads surface the n-PADDED form (TrinoTypeUtils.java:77-90 parity —
    the retired last §1.3 delta), and over-length values fail the write."""
    from incubator_paimon_trino_spark.functions.predicates import ColumnDomain

    cat.create_database("default", ignore_if_exists=True)
    cat.create_table(
        "default", "tchar",
        [("a", "int"), ("b", "bigint"), ("aCa", "string"), ("d", "char(1)"),
         ("tag", "char(3)")],
        primary_key=["a"],
    )
    rows = [(1, 2, "1", "1", "ab "), (3, 4, "2", "2 ", "ab"), (5, 6, "3", "3", "xyz")]
    cat.insert_into(
        "default", "tchar",
        spark.createDataFrame(rows, "a int, b bigint, aCa string, d string, tag string"),
    )
    # padded stored value ('2 ') equals unpadded literal through the
    # ColumnDomain predicate path (pruning + re-applied filter)
    got = cat.read_table(
        "default.tchar", predicate=[ColumnDomain(column="d", op="=", value="2")]
    ).collect()
    assert [(r.a, r.d) for r in got] == [(3, "2")]
    # padded LITERAL equals stored value
    got = cat.read_table(
        "default.tchar", predicate=[ColumnDomain(column="tag", op="=", value="ab  ")]
    ).collect()
    assert sorted(r.a for r in got) == [1, 3]
    # IN list values normalize too
    got = cat.read_table(
        "default.tchar", predicate=[ColumnDomain(column="d", in_values=["1 ", "3  "])]
    ).collect()
    assert sorted(r.a for r in got) == [1, 5]
    # canonical storage makes groupBy CHAR-correct: 'ab ' and 'ab' is ONE
    # key — and the read surfaces it n-PADDED, like the reference engine
    from pyspark.sql import functions as F

    keys = cat.read_table("default.tchar").groupBy("tag").agg(F.count("*").alias("n"))
    assert {(r.tag, r.n) for r in keys.collect()} == {("ab ", 2), ("xyz", 1)}
    # exactly the declared length everywhere; NULL stays NULL
    cat.insert_into(
        "default", "tchar",
        spark.createDataFrame(
            [(7, 8, "4", None, None)], "a int, b bigint, aCa string, d string, tag string"
        ),
    )
    got = {(r.a, r.tag) for r in cat.read_table("default.tchar").collect()}
    assert (7, None) in got
    assert all(t is None or len(t) == 3 for _, t in got)
    # over-length after rtrim is a type error, as in the reference engine
    with pytest.raises(Exception, match="too long"):
        cat.insert_into(
            "default", "tchar",
            spark.createDataFrame(
                [(9, 1, "x", "too-long", "wxyz")],
                "a int, b bigint, aCa string, d string, tag string",
            ),
        )
    # r9 review pins: (a) compaction re-stores the rtrimmed STORAGE form,
    # never padded bytes — the predicate keeps matching post-compact;
    # (b) DML conditions evaluate on the storage form, so an unpadded
    # literal keeps matching (pre-r9 semantics)
    cat.compact("default", "tchar")
    got = cat.read_table(
        "default.tchar", predicate=[ColumnDomain(column="tag", op="=", value="ab")]
    ).collect()
    assert sorted(r.a for r in got) == [1, 3]
    cat.sql("DELETE FROM default.tchar WHERE tag = 'xyz'")
    assert 5 not in {r.a for r in cat.read_table("default.tchar").collect()}


def test_information_schema_relations(cat, spark):
    """information_schema.{schemata,tables,columns} queryable through both
    the API and the SQL facade (Trino feeds these from the connector's
    metadata listing, TrinoMetadataBase.java:271-287). Metadata-only — no
    data file reads."""
    cat.create_database("isdb")
    cat.create_table("isdb", "ta", [("k", "int"), ("v", "string")], primary_key=["k"])
    cat.sql("CREATE TABLE isdb.tb (x double COMMENT 'it''s a measure')")

    assert "isdb" in {r.schema_name for r in cat.information_schema("schemata").collect()}
    tbls = {
        (r.table_schema, r.table_name)
        for r in cat.information_schema("tables").collect()
    }
    assert {("isdb", "ta"), ("isdb", "tb")} <= tbls

    got = cat.sql(
        "SELECT table_name, column_name, ordinal_position, data_type "
        "FROM information_schema.columns WHERE table_schema = 'isdb' "
        "ORDER BY table_name, ordinal_position"
    ).collect()
    assert [tuple(r) for r in got] == [
        ("ta", "k", 1, "int"),
        ("ta", "v", 2, "string"),
        ("tb", "x", 1, "double"),
    ]
    # Trino-shaped extras: column_default slot (always NULL — Paimon has no
    # defaults) and per-column COMMENT parsed from DDL ('' unescapes)
    cols = {
        r.column_name: (r.column_default, r.comment)
        for r in cat.information_schema("columns").collect()
        if r.table_schema == "isdb"
    }
    assert cols["x"] == (None, "it's a measure")
    assert cols["k"] == (None, None)
    # joinable against itself / usable as a normal relation
    n = cat.sql(
        "SELECT COUNT(*) AS n FROM information_schema.tables t "
        "JOIN information_schema.columns c ON t.table_name = c.table_name "
        "WHERE t.table_schema = 'isdb'"
    ).collect()[0].n
    assert n == 3
    import pytest

    with pytest.raises(ValueError):
        cat.information_schema("bogus")


def test_time_type_end_to_end(cat, spark):
    """TIME(p) as a first-class column (reference TrinoTypeUtils.java:148-151
    maps Paimon TIME to Trino TIME(3)): DDL -> parquet write -> read -> value
    fidelity, using Spark 4.1's native TimeType."""
    import datetime

    cat.create_database("m")
    cat.create_table("m", "tt", [("id", "int"), ("t", "TIME(3)")])
    df = spark.createDataFrame(
        [(1, datetime.time(1, 2, 3, 500000)), (2, datetime.time(23, 59, 59))],
        "id int, t time(6)",
    )
    cat.insert_into("m", "tt", df)
    got = {r.id: r.t for r in cat.read_table("m.tt").collect()}
    assert got == {1: datetime.time(1, 2, 3, 500000), 2: datetime.time(23, 59, 59)}
    desc = {c[0]: c[1] for c in cat.describe("m", "tt")}
    assert desc["t"].upper().startswith("TIME")


def test_sql_version_as_of_tag(cat, spark):
    """Paimon accepts tag names in travel SQL: FOR VERSION AS OF 'tag'."""
    cat.create_database("default", ignore_if_exists=True)
    cat.create_table("default", "tt2", [("a", "int")])
    cat.insert_into("default", "tt2", spark.createDataFrame([(1,)], "a int"))
    cat.insert_into("default", "tt2", spark.createDataFrame([(2,)], "a int"))
    cat.create_tag("default", "tt2", "first", snapshot_id=1)
    got = cat.sql("SELECT COUNT(*) AS n FROM default.tt2 FOR VERSION AS OF 'first'")
    assert got.collect()[0].n == 1
    assert cat.sql("SELECT COUNT(*) AS n FROM default.tt2").collect()[0].n == 2


def test_option_key_mangling(cat, spark):
    """Paimon-native dotted/dashed option keys and the reference's mangled
    underscore spellings address the same stored option
    (TrinoTableOptionUtils.convertOptionKey, :130-135) — a dotted
    `file.format` must actually be consumed (files written in that format),
    and enum validation must apply to every spelling."""
    cat.create_database("mm")
    cat.create_table(
        "mm", "t",
        [("a", "int")],
        options={"file.format": "ORC", "changelog-producer": "input"},
    )
    opts = {r.key: r.value for r in cat.read_table("mm.t$options").collect()}
    # enum values are normalized at ingestion (consumers compare exactly)
    assert opts["file_format"] == "orc" and opts["changelog_producer"] == "input"
    cat.insert_into("mm", "t", spark.createDataFrame([(1,)], "a int"))
    assert all(f.path.endswith(".orc") for f in cat.read_table("mm.t$files").collect())
    with pytest.raises(ValueError, match="changelog_producer"):
        cat.create_table("mm", "bad", [("a", "int")], options={"changelog-producer": "nope"})
    with pytest.raises(ValueError, match="conflicting"):
        cat.create_table(
            "mm", "bad2", [("a", "int")],
            options={"file.format": "ORC", "file_format": "PARQUET"},
        )


def test_sequence_field_interval_type_rejected(cat, spark):
    """'interval day' must not satisfy the integral/timestamp requirement
    via a 'int' prefix match — it would cast to NULL at merge time."""
    cat.create_database("sq", ignore_if_exists=True)
    with pytest.raises(ValueError, match="sequence_field"):
        cat.create_table(
            "sq", "t",
            [("k", "int"), ("v", "string"), ("lag", "interval day")],
            primary_key=["k"],
            options={"sequence_field": "lag"},
        )


def test_char_sql_facade_storage_form(cat, spark):
    """r9: the SQL facade's views stay in STORAGE form — Spark has no CHAR
    comparator, so a padded view would make WHERE c = 'ab' match nothing.
    Comparisons, GROUP BY, and joins over char columns keep working with
    unpadded literals through cat.sql; the padded surface is read_table."""
    cat.create_database("cf")
    cat.create_table("cf", "t", [("k", "bigint"), ("c", "char(4)")], primary_key=["k"])
    cat.insert_into(
        "cf", "t",
        spark.createDataFrame([(1, "ab"), (2, "ab  "), (3, "wxyz")], "k bigint, c string"),
    )
    got = cat.sql("SELECT k FROM cf.t WHERE c = 'ab' ORDER BY k").collect()
    assert [r.k for r in got] == [1, 2]
    grp = cat.sql("SELECT c, COUNT(*) AS n FROM cf.t GROUP BY c").collect()
    assert {(r.c, r.n) for r in grp} == {("ab", 2), ("wxyz", 1)}
    # API read: padded (the hash-gated reference-faithful surface)
    assert {r.c for r in cat.read_table("cf.t").collect()} == {"ab  ", "wxyz"}


def test_char_pk_merge_matches(cat, spark):
    """r9 review: SQL MERGE with a CHAR primary key — source and target
    must both read in STORAGE form or padded-vs-rtrimmed keys silently
    never match and WHEN MATCHED updates zero rows."""
    cat.create_database("cm")
    cat.create_table("cm", "t", [("k", "char(4)"), ("v", "bigint")], primary_key=["k"])
    cat.create_table("cm", "s", [("k", "char(4)"), ("v", "bigint")], primary_key=["k"])
    cat.insert_into("cm", "t", spark.createDataFrame([("ab", 1), ("cd", 2)], "k string, v bigint"))
    cat.insert_into("cm", "s", spark.createDataFrame([("ab", 100), ("zz", 3)], "k string, v bigint"))
    cat.sql(
        "MERGE INTO cm.t USING cm.s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    got = {r.k: r.v for r in cat.read_table("cm.t").collect()}
    assert got == {"ab  ": 100, "cd  ": 2, "zz  ": 3}, got


def test_read_incremental_by_timestamp(spark, tmp_path):
    """incremental-between-timestamp: bounds resolve to the newest snapshot
    at-or-before each epoch-millis value, then the id-based delta applies."""
    from incubator_paimon_trino_spark.catalog import WarehouseCatalog

    cat = WarehouseCatalog(str(tmp_path / "wh"), spark)
    cat.create_database("d")
    cat.create_table("d", "t", [("k", "int")])
    for i in range(3):
        cat.insert_into("d", "t", spark.createDataFrame([(i,)], "k int"))
    snaps = load_snapshots(cat._table_dir("d", "t"))
    ts = {s.snapshot_id: s.timestamp_ms for s in snaps}
    # (ts1, ts2]: exactly commit 2's row
    got = cat.read_incremental_by_timestamp("d.t", ts[1], ts[2]).collect()
    assert [r.k for r in got] == [1]
    # before-the-beginning lower bound: everything up to ts2
    got = sorted(r.k for r in cat.read_incremental_by_timestamp("d.t", 0, ts[2]).collect())
    assert got == [0, 1]
    # empty window
    assert cat.read_incremental_by_timestamp("d.t", ts[3], ts[3]).count() == 0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="precedes"):
        cat.read_incremental_by_timestamp("d.t", ts[2], ts[1])


def test_partial_update_remove_record_on_delete(spark, tmp_path):
    """partial-update.remove-record-on-delete: DELETE drops the whole row
    (later inserts re-add); without any delete handling, DELETE refuses at
    write time so reads never poison."""
    from incubator_paimon_trino_spark.catalog import WarehouseCatalog

    cat = WarehouseCatalog(str(tmp_path / "wh"), spark)
    cat.create_database("d")
    cat.create_table(
        "d", "t", [("k", "int"), ("x", "string"), ("y", "string")],
        primary_key=["k"],
        options={"merge_engine": "partial-update",
                 "partial-update.remove-record-on-delete": "true"},
    )
    ddl = "k int, x string, y string"
    cat.insert_into("d", "t", spark.createDataFrame([(1, "a", None)], ddl))
    cat.insert_into("d", "t", spark.createDataFrame([(1, None, "b")], ddl))
    cat.delete_where("d", "t", "k = 1")
    assert cat.read_table("d.t").count() == 0
    # re-insert AFTER the delete: the row rebuilds from scratch — the
    # pre-delete y='b' must NOT resurrect (reset, not drop-if-latest)
    cat.insert_into("d", "t", spark.createDataFrame([(1, "re", None)], ddl))
    assert [tuple(r) for r in cat.read_table("d.t").collect()] == [(1, "re", None)]

    import pytest as _pytest

    cat.create_table(
        "d", "plain", [("k", "int"), ("x", "string")], primary_key=["k"],
        options={"merge_engine": "partial-update"},
    )
    cat.insert_into("d", "plain", spark.createDataFrame([(1, "a")], "k int, x string"))
    with _pytest.raises(ValueError, match="remove-record-on-delete"):
        cat.delete_where("d", "plain", "k = 1")
    with _pytest.raises(ValueError, match="requires"):
        cat.create_table(
            "d", "bad", [("k", "int"), ("x", "string")], primary_key=["k"],
            options={"partial-update.remove-record-on-delete": "true"})
