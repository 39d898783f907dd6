"""Delta-manifest metadata layout: snapshot JSON is O(#commits), not
O(#files) — each commit writes ONE manifest of its added files and the
snapshot references the accumulated manifest list (the Paimon/Iceberg
metadata shape that survives long table histories at 100 TB).
"""

from __future__ import annotations

import glob
import json
import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from incubator_paimon_trino_spark.catalog import WarehouseCatalog
from incubator_paimon_trino_spark.catalog.metadata import load_snapshots


@pytest.fixture()
def cat(spark, tmp_path):
    return WarehouseCatalog(str(tmp_path / "wh"), spark)


def _tdir(cat, db, t):
    return cat._table_dir(db, t)


def _snap_json(cat, db, t, v):
    with open(os.path.join(_tdir(cat, db, t), "snapshot", f"snapshot-{v}.json")) as f:
        return json.load(f)


def _mk(cat, spark, commits=4):
    cat.create_database("d", ignore_if_exists=True)
    cat.create_table("d", "t", [("k", "int"), ("v", "string")])
    for c in range(commits):
        cat.insert_into(
            "d", "t",
            spark.createDataFrame([(c * 10 + i, f"v{c}") for i in range(3)], "k int, v string"),
        )


def test_snapshot_json_stores_manifest_refs_not_files(cat, spark):
    _mk(cat, spark)
    for v in (1, 2, 3, 4):
        d = _snap_json(cat, "d", "t", v)
        assert "files" not in d
        assert len(d["manifests"]) == v  # one delta manifest per commit
    # commit N's snapshot reuses commit N-1's manifests verbatim (no rewrite)
    assert _snap_json(cat, "d", "t", 4)["manifests"][:3] == _snap_json(cat, "d", "t", 3)["manifests"]


def test_resolved_views_equal_accumulated_files(cat, spark):
    _mk(cat, spark)
    snaps = load_snapshots(_tdir(cat, "d", "t"))
    counts = [len(s.files) for s in snaps]
    assert counts[0] > 0 and all(b > a for a, b in zip(counts, counts[1:]))
    assert cat.read_table("d.t").count() == 12
    assert cat.read_table("d.t", version_as_of=2).count() == 6


def test_compact_collapses_manifest_chain(cat, spark):
    _mk(cat, spark)
    cat.compact("d", "t")
    d = _snap_json(cat, "d", "t", 5)
    assert len(d["manifests"]) == 1  # fresh base, no delta chain
    assert cat.read_table("d.t").count() == 12


def test_expire_gcs_unreferenced_manifests(cat, spark):
    _mk(cat, spark)
    mdir = os.path.join(_tdir(cat, "d", "t"), "manifest")
    assert len(glob.glob(os.path.join(mdir, "*.json"))) == 4
    cat.compact("d", "t")          # snapshot 5: 1 fresh manifest
    cat.expire_snapshots("d", "t")  # keep only snapshot 5
    left = glob.glob(os.path.join(mdir, "*.json"))
    assert len(left) == 1
    assert cat.read_table("d.t").count() == 12


def test_rollback_gcs_dropped_manifests(cat, spark):
    _mk(cat, spark)
    mdir = os.path.join(_tdir(cat, "d", "t"), "manifest")
    cat.rollback_to("d", "t", 2)
    # the rolled-back snapshots' OWN manifests are reaped immediately —
    # rollback just deleted those snapshots, so the above-horizon in-flight
    # grace (for concurrent writers staging before publish) does not apply
    # to them; only the survivors' chains remain
    assert len(glob.glob(os.path.join(mdir, "*.json"))) == 2
    assert cat.read_table("d.t").count() == 6
    for c in range(3):
        cat.insert_into(
            "d", "t",
            spark.createDataFrame([(900 + c, "z")], "k int, v string"),
        )
    cat.expire_snapshots("d", "t", keep_last=1)
    left = glob.glob(os.path.join(mdir, "*.json"))
    # horizon is now 5 → the two stale rollback leftovers are gone; what
    # remains is exactly snapshot 5's manifest chain
    names = {os.path.basename(p) for p in left}
    assert names == set(load_snapshots(_tdir(cat, "d", "t"))[-1].manifests)
    assert cat.read_table("d.t").count() == 9


def test_legacy_inline_files_snapshot_still_reads(cat, spark, tmp_path):
    """A table whose history predates delta manifests (files inline in the
    snapshot JSON) keeps working, and the next commit folds the legacy list
    into its own manifest."""
    _mk(cat, spark, commits=1)
    tdir = _tdir(cat, "d", "t")
    # rewrite snapshot 1 in the legacy shape
    d = _snap_json(cat, "d", "t", 1)
    files = load_snapshots(tdir)[0].files
    legacy = {k: v for k, v in d.items() if k != "manifests"}
    legacy["files"] = files
    with open(os.path.join(tdir, "snapshot", "snapshot-1.json"), "w") as f:
        json.dump(legacy, f)
    for m in glob.glob(os.path.join(tdir, "manifest", "*.json")):
        os.remove(m)
    assert cat.read_table("d.t").count() == 3
    cat.insert_into("d", "t", spark.createDataFrame([(99, "z")], "k int, v string"))
    assert cat.read_table("d.t").count() == 4
    assert cat.read_table("d.t", version_as_of=1).count() == 3
    d2 = _snap_json(cat, "d", "t", 2)
    assert "files" not in d2 and len(d2["manifests"]) == 1


def test_manifests_system_table(cat, spark):
    _mk(cat, spark, commits=3)
    rows = cat.read_table("d.t$manifests").collect()
    assert len(rows) == 3
    assert all(r.num_added_files >= 1 and r.added_record_count == 3 for r in rows)
    assert all(r.added_size_bytes > 0 for r in rows)
    cat.compact("d", "t")
    rows2 = cat.read_table("d.t$manifests").collect()
    assert len(rows2) == 1 and rows2[0].added_record_count == 9


def test_partition_pruning_survives_multi_commit_reads(cat, spark):
    """The regression this layout exists to prevent: partition predicates
    must prune at the FILE LISTING (PartitionFilters) even when the scan
    spans several commits' files."""
    from pyspark.sql import functions as F

    cat.create_database("d", ignore_if_exists=True)
    cat.create_table(
        "d", "pp", [("k", "int"), ("pt", "string")], partitioned_by=["pt"]
    )
    for c in range(3):  # every commit touches BOTH partitions
        cat.insert_into(
            "d", "pp",
            spark.createDataFrame([(c, "a"), (c, "b")], "k int, pt string"),
        )
    q = cat.read_table("d.pp").filter(F.col("pt") == "b")
    plan = q._jdf.queryExecution().executedPlan().toString()
    import re as _re

    m = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "pt" in m.group(1), plan
    assert sorted(r.k for r in q.collect()) == [0, 1, 2]
