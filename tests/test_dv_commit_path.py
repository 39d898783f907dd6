"""The deletion-vector commit path (``wh_write.insert_into``,
``wh_dv._dv_build``, ``delete_where``):

- how many driver-blocking Spark actions one commit runs on an
  inline-index table (an upsert: summary aggregate, bounded hits collect,
  write; a delete: the hits collect alone);
- hits that overflow the inline room reach the driver bounded to
  room + 1 rows, however many partitions they span;
- ORC and Avro DV deletes keep the key join;
- a DELETE whose positions were read at a snapshot that is no longer the
  latest takes the key-join path, directly and through the retry loop;
- a crash-point net: a failure right after the DV index is written, after
  the data files are finalized, or a conflict at the snapshot publish
  leaves the table reading as before, with time travel intact, nothing
  left in Spark's cache, and a retry that commits; after a finalized-data
  failure or a conflict, no file of the failed commit is left behind.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from incubator_paimon_trino_spark.catalog.metadata import CommitConflictError, load_snapshots
from incubator_paimon_trino_spark.catalog.warehouse import WarehouseCatalog
from incubator_paimon_trino_spark.catalog.wh_helpers import _DV_FILE, _DV_POS

DDL = "k bigint, v string"
DV = {"deletion-vectors.enabled": "true"}
SHARDED = {**DV, "dv-index.inline-threshold": "0", "dv-index.buckets": "2"}


@pytest.fixture()
def cat(spark, tmp_path):
    return WarehouseCatalog(str(tmp_path / "wh"), spark)


def _table(cat, spark, options=DV, n=12):
    cat.create_database("d")
    cat.create_table(
        "d", "t", [("k", "bigint"), ("v", "string")], primary_key=["k"], options=options
    )
    cat.insert_into(
        "d", "t", spark.createDataFrame([(i, "a") for i in range(n)], DDL).coalesce(1)
    )


def _rows(cat, **pin):
    return sorted(tuple(r) for r in cat.read_table("d.t", **pin).collect())


@pytest.fixture()
def actions(monkeypatch):
    """Names of the outermost driver-blocking actions run while patched
    (``first`` → ``take`` → ``collect`` counts once, as ``first``)."""
    from pyspark.sql.classic import dataframe as cdf
    from pyspark.sql.readwriter import DataFrameWriter

    calls: list[str] = []
    depth = [0]

    def wrap(cls, name):
        orig = getattr(cls, name)

        def counted(self, *a, **k):
            if depth[0] == 0:
                calls.append(name)
            depth[0] += 1
            try:
                return orig(self, *a, **k)
            finally:
                depth[0] -= 1

        monkeypatch.setattr(cls, name, counted)

    for name in ("collect", "count", "isEmpty", "first", "take"):
        wrap(cdf.DataFrame, name)
    for name in ("parquet", "save"):
        wrap(DataFrameWriter, name)
    return calls


def test_inline_dv_commit_action_count(cat, spark, actions):
    _table(cat, spark)
    batch = spark.createDataFrame([(3, "u"), (100, "n")], DDL)
    actions.clear()
    cat.insert_into("d", "t", batch)
    assert len(actions) <= 3, actions  # aggregate, hits, write
    assert "isEmpty" not in actions and "count" not in actions, actions

    actions.clear()
    cat.delete_where("d", "t", F.col("k").isin(4, 5))
    assert actions == ["collect"], actions  # the bounded hits collect

    want = sorted(
        [(k, "u" if k == 3 else "a") for k in range(12) if k not in (4, 5)] + [(100, "n")]
    )
    assert _rows(cat) == want
    snap = cat._latest_snapshot(cat._table_dir("d", "t"))
    assert snap.dv_marks == 3 and snap.record_count == len(want)


@pytest.mark.parametrize("kind", ["upsert", "delete"])
def test_overflowing_hits_reach_the_driver_bounded(cat, spark, monkeypatch, kind):
    """Hits that overflow the inline room send the commit to the sharded
    index, and the bounded collect that finds this out hands the driver at
    most room + 1 rows however many partitions the hits span: the limit
    runs in one result task, not merged on the driver."""
    from pyspark.sql.classic import dataframe as cdf

    room = 10
    opts = {**DV, "dv-index.inline-threshold": str(room), "dv-index.buckets": "2"}
    cat.create_database("d")
    cat.create_table(
        "d", "t", [("k", "bigint"), ("v", "string")], primary_key=["k"], options=opts
    )
    for base in range(0, 80, 10):  # eight files
        rows = [(base + i, "a") for i in range(10)]
        cat.insert_into("d", "t", spark.createDataFrame(rows, DDL).coalesce(1))
    tdir = cat._table_dir("d", "t")

    st = spark.sparkContext.statusTracker()
    seen: list[tuple[int, int]] = []  # (rows returned, tasks of the result stage)
    in_build, partitions = [], []
    orig_collect, orig_build = cdf.DataFrame.collect, WarehouseCatalog._dv_build

    def collect(self):
        before = set(st.getJobIdsForGroup(None))
        rows = orig_collect(self)
        if in_build and not seen:
            last = max(set(st.getJobIdsForGroup(None)) - before)
            stage = max(st.getJobInfo(last).stageIds)
            seen.append((len(rows), st.getStageInfo(stage).numTasks))
        return rows

    def build(self, tdir_, schema_, prev_, hits, version_, written):
        partitions.append(hits.rdd.getNumPartitions())
        in_build.append(True)
        try:
            return orig_build(self, tdir_, schema_, prev_, hits, version_, written)
        finally:
            in_build.clear()

    monkeypatch.setattr(cdf.DataFrame, "collect", collect)
    monkeypatch.setattr(WarehouseCatalog, "_dv_build", build)
    # one scan partition per file: tiny files stop being packed together
    confs = {"spark.sql.files.maxPartitionBytes": "1500", "spark.sql.files.openCostInBytes": "1"}
    saved = {key: spark.conf.get(key) for key in confs}
    for key, value in confs.items():
        spark.conf.set(key, value)
    try:
        if kind == "upsert":
            cat.insert_into(
                "d", "t", spark.createDataFrame([(k, "u") for k in range(70)], DDL)
            )
            want = sorted([(k, "u") for k in range(70)] + [(k, "a") for k in range(70, 80)])
        else:
            cat.delete_where("d", "t", F.col("k") < 70)
            want = [(k, "a") for k in range(70, 80)]
    finally:
        for key, value in saved.items():
            spark.conf.set(key, value)
    monkeypatch.undo()

    assert partitions[0] >= 4, partitions
    assert seen == [(room + 1, 1)], seen
    snap = cat._latest_snapshot(tdir)
    assert snap.dv.startswith("dvm-") and snap.dv_marks == 70
    assert _rows(cat) == want


@pytest.mark.parametrize("fmt", ["orc", "avro"])
def test_non_parquet_dv_delete_keeps_key_join(cat, spark, monkeypatch, fmt):
    """ORC and Avro positions come only from the Python readers, so their
    DELETE reads no positions up front: it commits -D rows and takes the
    key join, as an upsert does."""
    _table(cat, spark, {**DV, "file.format": fmt})
    tdir = cat._table_dir("d", "t")
    assert {e["format"] for e in cat._latest_snapshot(tdir).files} == {fmt}
    calls: list[str] = []
    for name in ("_dv_live_rows", "_dv_key_hits"):
        orig = getattr(WarehouseCatalog, name)

        def spy(self, *a, _name=name, _orig=orig, **k):
            calls.append(_name)
            return _orig(self, *a, **k)

        monkeypatch.setattr(WarehouseCatalog, name, spy)
    cat.delete_where("d", "t", F.col("k").isin(4, 5))
    assert calls == ["_dv_key_hits", "_dv_live_rows"], calls
    monkeypatch.undo()
    assert _rows(cat) == [(k, "a") for k in range(12) if k not in (4, 5)]


@pytest.mark.parametrize("via", ["insert_into", "insert_with_retries"])
def test_stale_delete_positions_take_key_join(cat, spark, monkeypatch, via):
    """Positions read at snapshot S name a row an upsert has since moved
    to a new file: marking them would leave the new version visible. The
    delete must find the row by key against the tip instead."""
    _table(cat, spark)
    tdir = cat._table_dir("d", "t")
    schema = cat.schema_of("d", "t")
    snap = cat._latest_snapshot(tdir)
    doomed = cat._dv_live_rows(tdir, schema, snap, snap).filter(F.col("k") == 3)
    batch = doomed.select("k", "v")
    positions = (snap.snapshot_id, doomed.select(_DV_FILE, _DV_POS))
    upsert = spark.createDataFrame([(3, "b"), (4, "b")], DDL)

    if via == "insert_into":
        cat.insert_into("d", "t", upsert)
        cat.insert_into("d", "t", batch, row_kind="D", positions=positions)
    else:
        # the upsert wins the delete's own snapshot id while the delete is
        # publishing: the first attempt (positional, S still the tip when it
        # started) conflicts, and the retry sees a new tip
        orig = WarehouseCatalog._publish_snapshot
        raced = []

        def racing_publish(self, *a, **k):
            if not raced:
                raced.append(True)
                cat.insert_into("d", "t", upsert)
            return orig(self, *a, **k)

        monkeypatch.setattr(WarehouseCatalog, "_publish_snapshot", racing_publish)
        cat.insert_with_retries("d", "t", batch, row_kind="D", positions=positions)
        assert raced
    want = sorted((k, "b" if k == 4 else "a") for k in range(12) if k != 3)
    assert _rows(cat) == want
    tip = cat._latest_snapshot(tdir)
    assert tip.snapshot_id == 3 and tip.record_count == len(want)


def _files(tdir: str) -> set[str]:
    out = set()
    for sub in ("data", "index", "manifest", "snapshot"):
        for root, _dirs, names in os.walk(os.path.join(tdir, sub)):
            out.update(
                os.path.relpath(os.path.join(root, n), tdir)
                for n in names
                if not n.startswith(".")
            )
    return out


@pytest.mark.parametrize("index", ["inline", "sharded"])
@pytest.mark.parametrize(
    "kind,point",
    [
        ("upsert", "index_written"),
        ("upsert", "data_finalized"),
        ("upsert", "publish_conflict"),
        ("delete", "index_written"),
        ("delete", "publish_conflict"),
    ],
)
def test_dv_commit_crash_points(cat, spark, monkeypatch, index, kind, point):
    spark.catalog.clearCache()
    _table(cat, spark, SHARDED if index == "sharded" else DV)
    cat.delete_where("d", "t", F.col("k").isin(0, 1))  # snapshot 2 carries marks
    tdir = cat._table_dir("d", "t")
    assert cat._latest_snapshot(tdir).dv.startswith("dvm-" if index == "sharded" else "dv-")
    history = {s.snapshot_id: _rows(cat, version_as_of=s.snapshot_id) for s in load_snapshots(tdir)}
    before = _rows(cat)
    files_before = _files(tdir)

    if kind == "upsert":
        def commit():
            cat.insert_into("d", "t", spark.createDataFrame([(4, "x"), (50, "y")], DDL))

        after = sorted([r for r in before if r[0] != 4] + [(4, "x"), (50, "y")])
    else:
        def commit():
            cat.delete_where("d", "t", F.col("k").isin(5, 6))

        after = [r for r in before if r[0] not in (5, 6)]

    def fail_after(name):
        orig = getattr(WarehouseCatalog, name)

        def crash(self, *a, **k):
            orig(self, *a, **k)
            raise RuntimeError(f"injected crash after {name}")

        monkeypatch.setattr(WarehouseCatalog, name, crash)

    if point == "index_written":
        fail_after("_dv_build")
        expect = RuntimeError
    elif point == "data_finalized":
        fail_after("_finalize_commit")
        expect = RuntimeError
    else:
        def conflict(self, *a, **k):
            raise CommitConflictError("injected conflict")

        monkeypatch.setattr(WarehouseCatalog, "_publish_snapshot", conflict)
        expect = CommitConflictError
    with pytest.raises(expect):
        commit()
    monkeypatch.undo()

    assert _rows(cat) == before
    for sid, rows in history.items():
        assert _rows(cat, version_as_of=sid) == rows, sid
    assert _files(tdir) == files_before
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    commit()
    assert _rows(cat) == after
    assert cat._latest_snapshot(tdir).record_count == len(after)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
