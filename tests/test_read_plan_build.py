"""Lake reads build their plans in a fixed number of JVM calls.

Every pyspark Column built in Python costs py4j round trips, so a plan built
column by column grows its driver-side cost with the table's width. The
schema parses in one ``fromDDL`` call and every projection of ``read_table``
is SQL text; these tests count the round trips
(``ClientServerConnection.send_command``) a read's plan costs on a narrow and
a wide table, and pin the one-parse schema to the per-field parser.
"""

from __future__ import annotations

import sys
import threading
from pathlib import Path

import py4j.clientserver
import pytest
from pyspark.sql import types as T

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from incubator_paimon_trino_spark.catalog import WarehouseCatalog
from incubator_paimon_trino_spark.catalog.metadata import Field, TableSchema, _parse_type

#: column types cycled over the value columns; the narrow table holds the
#: first three, so both widths pad a CHAR column
TYPES = ["char(4)", "string", "double", "decimal(20,2)", "date", "timestamp(3)", "int", "bigint"]
EXPR = {
    "char(4)": "cast(id % 1000 as string)",
    "date": "date_add(date'2020-01-01', cast(id as int))",
    "timestamp(3)": "cast(timestamp_seconds(id) as timestamp_ntz)",
}


@pytest.fixture()
def cat(spark, tmp_path):
    c = WarehouseCatalog(str(tmp_path / "wh"), spark)
    c.create_database("d")
    return c


class _RoundTrips:
    """Counts the py4j round trips sent from the thread that created it, so
    calls other Python threads make meanwhile do not count."""

    def __init__(self, monkeypatch):
        self.n = 0
        me = threading.get_ident()
        orig = py4j.clientserver.ClientServerConnection.send_command

        def counting(conn, command):
            if threading.get_ident() == me:
                self.n += 1
            return orig(conn, command)

        monkeypatch.setattr(py4j.clientserver.ClientServerConnection, "send_command", counting)


def _table(cat, spark, name, width, kind):
    """A ``width``-column PK table read through ``kind``'s merge: ``full``
    (deduplicate), ``split`` (compacted base plus delta), ``dv`` (deletion
    vectors), ``aggregation`` (sum and last_value by type) or
    ``sequence_groups`` (partial-update, one group holding every other value
    column, replayed because one commit holds -D rows)."""
    cols = [("k", "bigint")]
    options = {
        "dv": {"deletion-vectors.enabled": "true"},
        "aggregation": {"merge_engine": "aggregation"},
    }.get(kind, {})
    if kind == "sequence_groups":
        cols.append(("g", "bigint"))
        options = {
            "merge_engine": "partial-update",
            "fields.g.sequence-group": ",".join(f"c{i}" for i in range(1, width - 2, 2)),
        }
    types = [TYPES[i % len(TYPES)] for i in range(width - len(cols))]
    cols += [(f"c{i}", t) for i, t in enumerate(types)]
    cat.create_table("d", name, cols, primary_key=["k"], options=options)
    sel = ["id AS k"] + (["id % 7 AS g"] if kind == "sequence_groups" else []) + [
        f"{EXPR.get(t, f'cast(id as {t})')} AS c{i}" for i, t in enumerate(types)
    ]
    batch = lambda lo, hi: spark.range(lo, hi).selectExpr(*sel)  # noqa: E731
    cat.insert_into("d", name, batch(0, 200))
    if kind == "split":
        cat.compact("d", name)
    if kind == "sequence_groups":
        cat.insert_into("d", name, batch(100, 110), row_kind="D")
    cat.insert_into("d", name, batch(150, 210))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("kind", ["full", "split", "dv", "aggregation", "sequence_groups"])
def test_read_plan_round_trips_do_not_grow_with_columns(cat, spark, monkeypatch, kind):
    """Full-merge PK, base+delta PK, deletion-vector reads with marks, and
    the aggregation and sequence-group merges: the 40-column read's plan
    costs what the 4-column read's does, within a small constant."""
    counts = {}
    for width in (4, 40):
        name = f"{kind}{width}"
        _table(cat, spark, name, width, kind)
        cat.read_table(f"d.{name}")  # first use of the JVM classes involved
        rt = _RoundTrips(monkeypatch)
        df = cat.read_table(f"d.{name}")
        counts[width] = rt.n
        monkeypatch.undo()
        plan = _plan(df)
        if kind in ("full", "aggregation", "sequence_groups"):
            assert "Aggregate" in plan and "Join" not in plan, plan
        elif kind == "split":
            assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
        else:
            assert "LeftAnti" in plan and "Aggregate" not in plan, plan
        rows = df.collect()
        assert sorted(r.k for r in rows) == list(range(210))
        assert all(len(r.c0) == 4 for r in rows)  # CHAR(4) reads padded
    assert counts[40] <= counts[4] + 8, counts


def test_aggregation_read_plans_partial_aggregate(cat, spark):
    """An aggregation-engine read of a sum/max/last_value table pre-merges
    map-side: a partial aggregate of every function below the one
    exchange."""
    cat.create_table(
        "d",
        "agg",
        [("k", "bigint"), ("s", "bigint"), ("m", "bigint"), ("l", "string")],
        primary_key=["k"],
        options={
            "merge_engine": "aggregation",
            "fields.m.aggregate-function": "max",
            "fields.l.aggregate-function": "last_value",
        },
    )
    batch = lambda lo, hi: spark.range(lo, hi).selectExpr(  # noqa: E731
        "id % 50 AS k", "id AS s", "id AS m", "cast(id AS string) AS l"
    )
    cat.insert_into("d", "agg", batch(0, 100))
    cat.insert_into("d", "agg", batch(100, 150))
    df = cat.read_table("d.agg")
    plan = _plan(df)
    assert plan.count("Exchange") == 1, plan
    below = plan[plan.index("Exchange"):]
    for fn in ("partial_sum(", "partial_max(", "partial_max_by("):
        assert fn in below, plan
    got = {r.k: (r.s, r.m, r.l) for r in df.collect()}
    assert got[7] == (7 + 57 + 107, 107, "107") and len(got) == 50


def test_split_read_loads_base_and_delta_only(cat, spark, monkeypatch):
    """A base+delta split read opens two file scans, the compacted base and
    the delta, and builds no whole-snapshot read it would not use."""
    from pyspark.sql.readwriter import DataFrameReader

    _table(cat, spark, "s", 4, "split")
    loads = []
    orig = DataFrameReader.load

    def counting(self, *a, **k):
        loads.append(a)
        return orig(self, *a, **k)

    monkeypatch.setattr(DataFrameReader, "load", counting)
    df = cat.read_table("d.s")
    monkeypatch.undo()
    assert "LeftAnti" in _plan(df)
    assert len(loads) == 2, loads
    assert sorted(r.k for r in df.collect()) == list(range(210))


SCHEMA_TYPES = [
    "char(5)",
    "CHAR(3)",
    "varchar(10)",
    "VARCHAR ( 7 )",
    "timestamp(0)",
    "timestamp(3)",
    "TIMESTAMP(6)",
    "timestamp_ntz(3)",
    "decimal(10,2)",
    "decimal(38,0)",
    "date",
    "binary",
    "bigint",
    "string",
    "array<int>",
    "map<string, array<bigint>>",
    "struct<a:int, `b c`:array<string>>",
    "array<struct<x:double, y:map<int, string>>>",
]


def test_spark_schema_one_parse_equals_per_field(spark):
    names = ["k", "with space", "with.dot", "with`tick", "`quoted`"]
    fields = [
        Field(i, names[i % len(names)] + (str(i) if i >= len(names) else ""), t, i % 3 != 0)
        for i, t in enumerate(SCHEMA_TYPES)
    ]
    schema = TableSchema(0, fields)
    want = T.StructType([T.StructField(f.name, _parse_type(f.type), f.nullable) for f in fields])
    assert schema.spark_schema() == want
    assert TableSchema(0, []).spark_schema() == T.StructType([])


def test_spark_schema_is_one_parse(spark, monkeypatch):
    wide = TableSchema(
        0, [Field(i, f"c{i}", SCHEMA_TYPES[i % len(SCHEMA_TYPES)]) for i in range(60)]
    )
    narrow = TableSchema(0, wide.fields[:3])
    counts = []
    for schema in (narrow, wide):
        rt = _RoundTrips(monkeypatch)
        schema.spark_schema()
        counts.append(rt.n)
        monkeypatch.undo()
    assert counts[0] == counts[1], counts


@pytest.mark.parametrize(
    "bad,message",
    [
        ("array<char(5)>", "nested CHAR/VARCHAR"),
        ("map<string, varchar(3)>", "nested CHAR/VARCHAR"),
        ("struct<a:char(2)>", "nested CHAR/VARCHAR"),
        ("timestamp(4)", "unsupported timestamp precision"),
        ("timestamp_ntz(9)", "unsupported timestamp precision"),
    ],
)
def test_ddl_rejects_unreadable_types(cat, bad, message):
    with pytest.raises(ValueError, match=message):
        cat.create_table("d", "t", [("k", "bigint"), ("c", bad)], primary_key=["k"])
    cat.create_table("d", "ok", [("k", "bigint")], primary_key=["k"])
    with pytest.raises(ValueError, match=message):
        cat.add_column("d", "ok", "c", bad)
    with pytest.raises(ValueError, match=message):
        TableSchema(0, [Field(0, "k", "bigint"), Field(1, "c", bad)]).spark_schema()
