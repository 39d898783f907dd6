"""The one Python data-file reader (``formats/file_reader``): the modules
below the streaming layer never import it, and batch reads through the
reader pack a many-small-file table into one read task."""

from __future__ import annotations

import ast
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

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
    positional read numbers each file's rows from 0."""
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
    snap = cat._snapshots(tdir)[-1]
    assert len(snap.files) >= 8
    df = cat._read_files(tdir, cat._latest_schema(tdir), snap, with_pos=with_pos)
    assert df.rdd.getNumPartitions() == 1
    rows = df.collect()
    assert sorted(r.k for r in rows) == list(range(8))
    if with_pos:
        by_file: dict[str, list[int]] = {}
        for r in rows:
            by_file.setdefault(r["__dv_file"], []).append(r["__dv_pos"])
        assert len(by_file) == sum(1 for f in snap.files if f["record_count"])
        assert all(sorted(ps) == list(range(len(ps))) for ps in by_file.values())
