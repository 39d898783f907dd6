"""File-index sidecar build: the documents it writes and the Spark work it
costs.

``goldens/file_index_sidecars.json`` holds, per scenario, the parsed
sidecars that the earlier two-stage builder (a ``mapInPandas`` over a
re-scan of the new files, a shuffle, then an ``applyInPandas`` per file)
wrote for the same tables. Every supported type, nulls, an all-null column,
a bitmap overflow, a multi-file bucketed commit and a rebuild over files of
two schemas (one written before a rename) must produce the same documents
with the one-stage builder. Bloom bitsets are compared decompressed, so a
different zlib build cannot fail the comparison.

Regenerate the goldens (only when the sidecar format itself changes) with
``python tests/test_file_index_build.py``.
"""

from __future__ import annotations

import base64
import datetime as dt
import glob
import json
import os
import sys
import uuid
import zlib
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from incubator_paimon_trino_spark.catalog import WarehouseCatalog
from incubator_paimon_trino_spark.catalog import file_index as fi

GOLDENS = Path(__file__).resolve().parent / "goldens" / "file_index_sidecars.json"
BIG = 2**53 + 1  # float64 rounds it to 2^53
SMALL = {"file-index.bloom-filter.items": "64", "file-index.bloom-filter.fpp": "0.1"}


def _numbers(cat, spark):
    cat.create_table(
        "d",
        "t",
        [("id", "bigint"), ("b", "bigint"), ("i", "int"), ("s", "smallint"), ("y", "tinyint")],
        options={
            "file-index.bloom-filter.columns": "b,s",
            "file-index.bitmap.columns": "i,y",
            **SMALL,
        },
    )
    rows = [
        (0, BIG, 2**31 - 1, 32767, 127),
        (1, -BIG, -(2**31), -32768, -128),
        (2, None, None, None, None),
        (3, 0, 0, 0, 0),
        (4, BIG + 6, 7, 7, 7),
    ]
    ddl = "id bigint, b bigint, i int, s smallint, y tinyint"
    cat.insert_into("d", "t", spark.createDataFrame(rows, ddl).coalesce(1))


def _strings(cat, spark):
    cat.create_table(
        "d",
        "t",
        [("id", "bigint"), ("s", "string"), ("c", "char(5)"), ("v", "varchar(8)")],
        options={
            "file-index.bloom-filter.columns": "s,v",
            "file-index.bitmap.columns": "c",
            **SMALL,
        },
    )
    rows = [
        (0, "alpha", "ab", "varchar8"),
        (1, "héllo ☃", "abcde", ""),
        (2, "", "x", "v"),
        (3, None, None, None),
    ]
    ddl = "id bigint, s string, c string, v string"
    cat.insert_into("d", "t", spark.createDataFrame(rows, ddl).coalesce(1))


def _dates_bools(cat, spark):
    cat.create_table(
        "d",
        "t",
        [("id", "bigint"), ("d", "date"), ("f", "boolean"), ("z", "string")],
        options={
            "file-index.bloom-filter.columns": "d,z",
            "file-index.bitmap.columns": "f",
            **SMALL,
        },
    )
    days = [dt.date(1, 1, 1), dt.date(999, 12, 31), dt.date(1970, 1, 1), dt.date(9999, 12, 31), None]
    rows = [(i, d, [True, False, None][i % 3], None) for i, d in enumerate(days)]
    ddl = "id bigint, d date, f boolean, z string"
    cat.insert_into("d", "t", spark.createDataFrame(rows, ddl).coalesce(1))


def _bitmap_overflow(cat, spark):
    cat.create_table(
        "d",
        "t",
        [("id", "bigint"), ("g", "string"), ("h", "string")],
        options={"file-index.bitmap.columns": "g,h", "file-index.bitmap.max-distinct": "3"},
    )
    rows = [(i, f"g{i}", f"h{i % 3}") for i in range(8)]
    cat.insert_into("d", "t", spark.createDataFrame(rows, "id bigint, g string, h string").coalesce(1))


def _bucketed(cat, spark):
    cat.create_table(
        "d",
        "t",
        [("k", "bigint"), ("v", "string")],
        primary_key=["k"],
        options={"bucket": "3", "file-index.bloom-filter.columns": "k", **SMALL},
    )
    rows = [(k * 7919, f"v{k}") for k in range(30)]
    cat.insert_into("d", "t", spark.createDataFrame(rows, "k bigint, v string"))


def _rebuild_rename(cat, spark):
    """Files of two schema ids, the older one under the column's old name;
    the index is enabled afterwards and backfilled by the rebuild."""
    cat.create_table("d", "t", [("id", "bigint"), ("u", "string"), ("n", "int")])
    ddl = "id bigint, u string, n int"
    cat.insert_into("d", "t", spark.createDataFrame([(1, "aa", 5), (2, "zz", None)], ddl).coalesce(1))
    cat.rename_column("d", "t", "u", "uid")
    ddl = "id bigint, uid string, n int"
    cat.insert_into("d", "t", spark.createDataFrame([(3, "mm", 6), (4, None, 6)], ddl).coalesce(1))
    cat.set_options(
        "d", "t", {"file-index.bloom-filter.columns": "uid", "file-index.bitmap.columns": "n", **SMALL}
    )
    assert cat.rebuild_file_index("d", "t")["built"] == 2


SCENARIOS = {
    "numbers": _numbers,
    "strings": _strings,
    "dates_bools": _dates_bools,
    "bitmap_overflow": _bitmap_overflow,
    "bucketed": _bucketed,
    "rebuild_rename": _rebuild_rename,
}


def _sidecars(spark, root: str, name: str) -> list[dict]:
    cat = WarehouseCatalog(os.path.join(root, name), spark)
    cat.create_database("d")
    SCENARIOS[name](cat, spark)
    tdir = cat._table_dir("d", "t")
    docs = []
    for p in glob.glob(os.path.join(tdir, "data", "**", "*" + fi.SUFFIX), recursive=True):
        with open(p) as fh:
            docs.append(json.load(fh))
    return sorted(docs, key=lambda d: json.dumps(d, sort_keys=True))


def _comparable(doc: dict) -> dict:
    """The document with each bloom bitset decompressed to hex."""
    fields = {}
    for fid, entry in doc["fields"].items():
        entry = dict(entry)
        if entry.get("enc") == "zlib":
            entry["bits"] = zlib.decompress(base64.b64decode(entry.pop("bits"))).hex()
            entry.pop("enc")
        fields[fid] = entry
    return {**doc, "fields": fields}


@pytest.mark.parametrize("name", list(SCENARIOS))
def test_sidecars_equal_goldens(spark, tmp_path, name):
    golden = json.loads(GOLDENS.read_text())[name]
    got = _sidecars(spark, str(tmp_path), name)
    key = lambda d: json.dumps(d, sort_keys=True)  # noqa: E731
    assert sorted(map(_comparable, got), key=key) == sorted(map(_comparable, golden), key=key)


def _build_jobs(spark, fn) -> tuple[list[list[int]], list[str]]:
    """Tasks per stage of every job ``fn`` runs, and the physical plans of
    the SQL executions it starts."""
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()
    n_exec = store.executionsList().size()
    group = f"fidx-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group, interruptOnCancel=False)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    jobs = [
        [st.getStageInfo(s).numTasks for s in st.getJobInfo(j).stageIds]
        for j in sorted(st.getJobIdsForGroup(group))
    ]
    execs = store.executionsList()
    plans = [execs.apply(i).physicalPlanDescription() for i in range(n_exec, execs.size())]
    return jobs, plans


def test_build_is_one_stage_one_task_per_file(spark, tmp_path):
    cat = WarehouseCatalog(str(tmp_path / "wh"), spark)
    cat.create_database("d")
    _bucketed(cat, spark)
    tdir = cat._table_dir("d", "t")
    snap = cat._latest_snapshot(tdir)
    paths = [os.path.join(tdir, e["path"]) for e in snap.files]
    assert len(paths) == 3
    built = []
    jobs, plans = _build_jobs(
        spark, lambda: built.append(fi.build_file_indexes(spark, paths, cat._latest_schema(tdir)))
    )
    assert built == [3]
    assert jobs == [[3]]  # one job, one stage (so no shuffle), a task per file
    for plan in plans:
        for node in ("MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython", "Exchange"):
            assert node not in plan


def test_rebuild_over_two_schemas_is_one_job(spark, tmp_path):
    cat = WarehouseCatalog(str(tmp_path / "wh"), spark)
    cat.create_database("d")
    _rebuild_rename(cat, spark)
    tdir = cat._table_dir("d", "t")
    assert len({e["schema_id"] for e in cat._latest_snapshot(tdir).files}) == 2
    res = []
    jobs, _ = _build_jobs(spark, lambda: res.append(cat.rebuild_file_index("d", "t", force=True)))
    assert res == [{"built": 2, "skipped": 0}]
    assert jobs == [[2]]


if __name__ == "__main__":
    import tempfile

    from incubator_paimon_trino_spark import get_spark

    session = get_spark("goldens", shuffle_partitions=8, extra_conf={"spark.default.parallelism": "2"})
    with tempfile.TemporaryDirectory() as root:
        out = {name: _sidecars(session, root, name) for name in SCENARIOS}
    GOLDENS.parent.mkdir(exist_ok=True)
    GOLDENS.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    print(f"wrote {GOLDENS} ({GOLDENS.stat().st_size} bytes)")
