"""Crash-point net for commits that write data files without deletion
vectors: an append insert, a primary-key insert, a two-bucket
primary-key insert, a dynamic-bucket insert and ``compact``, each failing
at every step that leaves something on disk:

- an executor-side error in the middle of the data-file write;
- right after the staged files are moved into ``data/``;
- a task of the file-index build failing after others wrote their
  sidecars (the second new data file is deleted underneath it);
- right after the file-index sidecars are built;
- a lost race at the snapshot publish.

After each failure the table reads as before at the tip and at every
time-travel version, the files under ``data/``, ``index/``, ``manifest/``
and ``snapshot/`` are exactly the ones from before (sidecars and
dynamic-bucket deltas included), nothing is left in Spark's cache, and the
same commit retried lands the new state.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from incubator_paimon_trino_spark.catalog import wh_maintenance, wh_write
from incubator_paimon_trino_spark.catalog.metadata import CommitConflictError, load_snapshots
from incubator_paimon_trino_spark.catalog.warehouse import WarehouseCatalog

DDL = "k bigint, v string, c string"
COLS = [("k", "bigint"), ("v", "string"), ("c", "char(3)")]
INDEXED = {"file-index.bloom-filter.columns": "k"}
TABLES = {
    "append": ([], INDEXED),
    "pk": (["k"], INDEXED),
    "two_bucket": (["k"], {**INDEXED, "bucket": "2"}),
    "dynamic_bucket": (["k"], {**INDEXED, "bucket": "-1", "dynamic_bucket_target_row_num": "4"}),
    "compact": (["k"], INDEXED),
}


def _files(tdir: str) -> set[str]:
    out = set()
    for sub in ("data", "index", "manifest", "snapshot"):
        for root, _dirs, names in os.walk(os.path.join(tdir, sub)):
            out.update(os.path.relpath(os.path.join(root, n), tdir) for n in names)
    return out


def _rows(cat, **pin):
    return sorted(tuple(r) for r in cat.read_table("d.t", **pin).collect())


@pytest.mark.parametrize(
    "point", ["write_error", "finalized", "build_error", "indexed", "publish_conflict"]
)
@pytest.mark.parametrize("kind", list(TABLES))
def test_failed_commit_leaves_table_as_before(spark, tmp_path, monkeypatch, kind, point):
    spark.catalog.clearCache()
    cat = WarehouseCatalog(str(tmp_path / "wh"), spark)
    cat.create_database("d")
    pk, options = TABLES[kind]
    cat.create_table("d", "t", COLS, primary_key=pk, options=options)
    for lo in (0, 6):
        rows = [(k, f"a{k}", "abc") for k in range(lo, lo + 8)]
        cat.insert_into("d", "t", spark.createDataFrame(rows, DDL).coalesce(1))
    tdir = cat._table_dir("d", "t")
    history = {s.snapshot_id: _rows(cat, version_as_of=s.snapshot_id) for s in load_snapshots(tdir)}
    before = _rows(cat)
    files_before = _files(tdir)
    if kind == "dynamic_bucket":
        assert any(p.startswith(os.path.join("index", "dynamic-bucket")) for p in files_before)
    assert any(p.endswith(".fidx") for p in files_before)

    if kind == "compact":
        def commit(bad=False):
            cat.compact("d", "t")

        after = before
        if point == "write_error":
            # the merged read itself is sound: the error surfaces in the
            # rewrite's write tasks
            orig_read = WarehouseCatalog.read_table

            def failing_read(self, *a, **k):
                return orig_read(self, *a, **k).withColumn(
                    "v", F.when(F.col("k") == 3, F.raise_error(F.lit("boom"))).otherwise(F.col("v"))
                )

            monkeypatch.setattr(WarehouseCatalog, "read_table", failing_read)
    else:
        batch = [(3, "x", "new"), (50, "y", "new")]

        def commit(bad=False):
            # a CHAR(3) overflow raises executor-side, mid-write
            rows = batch + [(51, "z", "toolong")] if bad else batch
            cat.insert_into("d", "t", spark.createDataFrame(rows, DDL))

        after = sorted(before + batch if not pk else [r for r in before if r[0] != 3] + batch)

    def fail_after(owner, name):
        orig = getattr(owner, name)

        def crash(*a, **k):
            orig(*a, **k)
            raise RuntimeError(f"injected crash after {name}")

        monkeypatch.setattr(owner, name, crash)

    if point == "write_error":
        expect = Exception
    elif point == "finalized":
        fail_after(WarehouseCatalog, "_finalize_commit")
        expect = RuntimeError
    elif point == "build_error":
        orig_finalize = WarehouseCatalog._finalize_commit
        finalized = []

        def finalize_then_lose_one(self, *a, **k):
            paths = orig_finalize(self, *a, **k)
            finalized.append(sorted(paths))
            os.remove(finalized[-1][min(1, len(paths) - 1)])
            return paths

        monkeypatch.setattr(WarehouseCatalog, "_finalize_commit", finalize_then_lose_one)
        expect = Exception
    elif point == "indexed":
        for module in (wh_write, wh_maintenance):
            fail_after(module, "build_file_indexes")
        expect = RuntimeError
    else:
        def conflict(self, *a, **k):
            raise CommitConflictError("injected conflict")

        monkeypatch.setattr(WarehouseCatalog, "_publish_snapshot", conflict)
        expect = CommitConflictError
    with pytest.raises(expect):
        commit(bad=point == "write_error")
    monkeypatch.undo()
    if point == "build_error" and kind == "two_bucket":
        assert len(finalized[0]) == 2

    assert _rows(cat) == before
    for sid, rows in history.items():
        assert _rows(cat, version_as_of=sid) == rows, sid
    assert _files(tdir) == files_before
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    commit()
    assert _rows(cat) == after
    assert cat._latest_snapshot(tdir).snapshot_id == max(history) + 1
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
