"""The one Python data-file reader (``formats/file_reader``): the modules
below the streaming layer never import it, batch reads through the reader
pack a many-small-file table into one read task, TIME columns cross its
Arrow bridge, and the writer publishes no empty data files."""

from __future__ import annotations

import ast
import glob
import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from incubator_paimon_trino_spark.catalog.metadata import load_snapshots
from incubator_paimon_trino_spark.catalog.warehouse import WarehouseCatalog

PKG = REPO / "incubator_paimon_trino_spark"
STREAMING = "incubator_paimon_trino_spark.streaming"


def _imported_modules(tree: ast.AST):
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                yield node.lineno, a.name
        elif isinstance(node, ast.ImportFrom) and node.module:
            yield node.lineno, node.module
            for a in node.names:
                yield node.lineno, f"{node.module}.{a.name}"


def test_catalog_formats_functions_never_import_streaming():
    """Module-level and function-level imports alike."""
    offenders = [
        f"{path.relative_to(PKG)}:{line} {mod}"
        for sub in ("catalog", "formats", "functions")
        for path in sorted((PKG / sub).rglob("*.py"))
        for line, mod in _imported_modules(ast.parse(path.read_text()))
        if mod == STREAMING or mod.startswith(STREAMING + ".")
    ]
    assert not offenders, offenders


@pytest.fixture()
def cat(spark, tmp_path):
    return WarehouseCatalog(str(tmp_path / "wh"), spark)


@pytest.mark.parametrize(
    "fmt,with_pos",
    [("orc", True), ("avro", True), ("avro", False)],
    ids=["orc-positional", "avro-positional", "avro-fallback"],
)
def test_many_small_files_read_in_one_task(cat, spark, monkeypatch, fmt, with_pos):
    """Eight one-row commits: every file is far below the ~64 MiB packing
    target, so the Python reader plans ONE read task for them, and the
    positional read numbers each file's rows from 0. An empty write task
    still leaves an ORC file; the commit drops it, so the snapshot lists
    exactly the eight files that hold rows."""
    if not with_pos:
        # the fallback runs where spark-avro is absent: make the native
        # load of the avro files fail the way it does there
        from pyspark.sql.readwriter import DataFrameReader

        native_load = DataFrameReader.load

        def load(self, path=None, *args, **kwargs):
            if isinstance(path, list) and path[0].endswith(".avro"):
                raise RuntimeError("Failed to find data source: avro")
            return native_load(self, path, *args, **kwargs)

        monkeypatch.setattr(DataFrameReader, "load", load)
    cat.create_database("d")
    cat.create_table(
        "d", "t", [("k", "bigint"), ("v", "string")],
        primary_key=["k"],
        options={"file_format": fmt, "deletion-vectors.enabled": "true"},
    )
    for i in range(8):
        cat.insert_into(
            "d", "t", spark.createDataFrame([(i, f"v{i}")], "k bigint, v string")
        )
    tdir = cat._table_dir("d", "t")
    snap = load_snapshots(tdir)[-1]
    assert [f["record_count"] for f in snap.files] == [1] * 8
    df = cat._read_files(tdir, cat._latest_schema(tdir), snap, with_pos=with_pos)
    assert df.rdd.getNumPartitions() == 1
    rows = df.collect()
    assert sorted(r.k for r in rows) == list(range(8))
    if with_pos:
        by_file: dict[str, list[int]] = {}
        for r in rows:
            by_file.setdefault(r["__dv_file"], []).append(r["__dv_pos"])
        assert len(by_file) == 8
        assert all(sorted(ps) == list(range(len(ps))) for ps in by_file.values())


@pytest.mark.parametrize("pk", [["k"], None], ids=["pk", "append"])
def test_avro_time_column_round_trip(cat, spark, pk):
    """TIME crosses the Python reader's Arrow bridge as bigint micros and
    reads back as TIME, through the Avro writer and reader (the fallback
    ones where spark-avro is absent)."""
    import datetime as dt

    cat.create_database("d")
    cat.create_table(
        "d", "t", [("k", "bigint"), ("t", "time(6)")],
        primary_key=pk, options={"file_format": "avro"},
    )
    cat.insert_into(
        "d", "t",
        spark.sql(
            "SELECT * FROM VALUES (1L, make_time(12, 34, 56.123456)), "
            "(2L, CAST(NULL AS TIME(6))) AS v(k, t)"
        ),
    )
    df = cat.read_table("d.t")
    assert df.schema["t"].dataType.simpleString() == "time(6)"
    assert sorted((r.k, r.t) for r in df.collect()) == [
        (1, dt.time(12, 34, 56, 123456)), (2, None)
    ]


def test_zero_row_commit_publishes_without_files(cat, spark):
    """A commit of zero rows publishes a snapshot but no data file, so
    every live manifest entry holds rows."""
    cat.create_database("d")
    cat.create_table("d", "t", [("k", "bigint"), ("v", "string")], primary_key=["k"])
    sid = cat.insert_into("d", "t", spark.createDataFrame([(1, "a")], "k bigint, v string"))
    empty = spark.createDataFrame([], "k bigint, v string")
    assert cat.insert_into("d", "t", empty) == sid + 1
    tdir = cat._table_dir("d", "t")
    snap = load_snapshots(tdir)[-1]
    assert snap.snapshot_id == sid + 1
    assert [f["record_count"] for f in snap.files] == [1]
    files = glob.glob(os.path.join(tdir, "data", "**", "*.parquet"), recursive=True)
    assert [os.path.basename(f) for f in files] == [
        os.path.basename(f["path"]) for f in snap.files
    ]
    assert [(r.k, r.v) for r in cat.read_table("d.t").collect()] == [(1, "a")]
