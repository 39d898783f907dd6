"""One snapshot resolver (``catalog.metadata.resolve_snapshot``) behind
every snapshot id, tag and timestamp reference: time travel, scan plans,
incremental reads, tags, rollback, branches and the timestamp procedures.

- Each entry point raises the resolver's error for an unknown id, an
  unknown tag or a timestamp before the first commit.
- ``table_changelog``'s diff producers read the snapshots the commit
  planner returned, so the snapshot list loads once per call.
"""

from __future__ import annotations

import sys

import pytest

from incubator_paimon_trino_spark.catalog import metadata
from incubator_paimon_trino_spark.catalog.metadata import (
    COMMIT_APPEND,
    Snapshot,
    load_snapshots,
    resolve_snapshot,
)
from incubator_paimon_trino_spark.catalog.warehouse import WarehouseCatalog


def _snap(i: int, ts: int) -> Snapshot:
    return Snapshot(i, 0, "u", i, COMMIT_APPEND, ts)


def test_resolver_rules():
    snaps = [_snap(2, 100), _snap(3, 200), _snap(5, 300)]
    tags = {"t": 3}
    assert resolve_snapshot([]) is None
    assert resolve_snapshot(snaps).snapshot_id == 5
    assert resolve_snapshot(snaps, version=3).snapshot_id == 3
    assert resolve_snapshot(snaps, tags, tag="t").snapshot_id == 3
    assert resolve_snapshot(snaps, timestamp_ms=250).snapshot_id == 3
    assert resolve_snapshot(snaps, timestamp_ms=300).snapshot_id == 5
    with pytest.raises(ValueError, match=r"no snapshot 4 \(have \[2, 3, 5\]\)"):
        resolve_snapshot(snaps, version=4)
    with pytest.raises(ValueError, match=r"no tag 'u' \(have \['t'\]\)"):
        resolve_snapshot(snaps, tags, tag="u")
    with pytest.raises(ValueError, match=r"no snapshot at or before 99 \(earliest is 100\)"):
        resolve_snapshot(snaps, timestamp_ms=99)
    with pytest.raises(ValueError, match="mutually exclusive"):
        resolve_snapshot(snaps, tags, version=3, tag="t")


@pytest.fixture(scope="module")
def cat(spark, tmp_path_factory):
    cat = WarehouseCatalog(str(tmp_path_factory.mktemp("wh")), spark)
    cat.create_database("d")
    cat.create_table("d", "t", [("k", "bigint"), ("v", "string")], primary_key=["k"])
    for i in range(2):
        cat.insert_into("d", "t", spark.createDataFrame([(i, f"v{i}")], "k bigint, v string"))
    cat.create_tag("d", "t", "t1", 1)
    return cat


_MISSING = {
    "version": r"no snapshot 99 \(have \[1, 2\]\)",
    "tag": r"no tag 'nope' \(have \['t1'\]\)",
    "timestamp": r"no snapshot at or before 1 \(earliest is \d+\)",
}

_ENTRY_POINTS = {
    ("read_table", "version"): lambda c: c.read_table("d.t", version_as_of=99),
    ("read_table", "tag"): lambda c: c.read_table("d.t", tag="nope"),
    ("read_table", "timestamp"): lambda c: c.read_table("d.t", timestamp_as_of=1),
    ("scan_plan", "version"): lambda c: c.scan_plan("d.t", version_as_of=99),
    ("scan_plan", "tag"): lambda c: c.scan_plan("d.t", tag="nope"),
    ("scan_plan", "timestamp"): lambda c: c.scan_plan("d.t", timestamp_as_of=1),
    ("read_incremental", "version"): lambda c: c.read_incremental("d.t", 0, 99),
    ("read_incremental", "tag"): lambda c: c.read_incremental("d.t", "nope", 2),
    ("read_incremental", "timestamp"): lambda c: c.read_incremental_by_timestamp("d.t", 0, 1),
    ("create_tag", "version"): lambda c: c.create_tag("d", "t", "x", 99),
    ("create_tag", "timestamp"): lambda c: c.sql(
        "CALL sys.create_tag_from_timestamp(table => 'd.t', tag => 'x', timestamp => '1')"
    ),
    ("rollback_to", "version"): lambda c: c.rollback_to("d", "t", 99),
    ("create_branch", "tag"): lambda c: c.create_branch("d", "t", "b", from_tag="nope"),
    ("rollback_to_timestamp", "timestamp"): lambda c: c.sql(
        "CALL sys.rollback_to_timestamp(table => 'd.t', timestamp => '1')"
    ),
}


@pytest.mark.parametrize("entry, ref", sorted(_ENTRY_POINTS))
def test_entry_points_raise_the_resolver_error(cat, entry, ref):
    with pytest.raises(ValueError, match=_MISSING[ref]):
        _ENTRY_POINTS[entry, ref](cat)
    # nothing changed: no tag, branch or rollback was left behind
    assert [s.snapshot_id for s in load_snapshots(cat._table_dir("d", "t"))] == [1, 2]
    assert sorted(cat._tags(cat._table_dir("d", "t"))) == ["t1"]
    assert cat.list_branches("d", "t") == []


@pytest.fixture()
def load_calls(monkeypatch):
    """Every ``load_snapshots`` call, in whichever package module made it."""
    calls: list[str] = []
    orig = metadata.load_snapshots

    def counted(tdir):
        calls.append(tdir)
        return orig(tdir)

    for name, mod in list(sys.modules.items()):
        if name.startswith("incubator_paimon_trino_spark") and (
            getattr(mod, "load_snapshots", None) is orig
        ):
            monkeypatch.setattr(mod, "load_snapshots", counted)
    return calls


def test_lookup_changelog_loads_snapshots_once(spark, tmp_path, load_calls):
    """An 8-commit range through ``producer="lookup"``: one snapshot-list
    load (two per commit when every diff re-resolved its pair by id), and
    the rows follow the history."""
    cat = WarehouseCatalog(str(tmp_path / "wh"), spark)
    cat.create_database("d")
    cat.create_table("d", "c", [("k", "bigint"), ("v", "string")], primary_key=["k"])
    history = [
        [(1, "a"), (2, "b")],
        [(1, "a2")],
        "DELETE FROM d.c WHERE k = 2",
        [(3, "c")],
        None,  # compaction: same merged state, no change rows
        [(3, "c2"), (4, "d")],
        "DELETE FROM d.c WHERE k = 1",
        [(5, "e")],
    ]
    for step in history:
        if step is None:
            cat.compact("d", "c")
        elif isinstance(step, str):
            cat.sql(step)
        else:
            cat.insert_into("d", "c", spark.createDataFrame(step, "k bigint, v string"))
    tdir = cat._table_dir("d", "c")
    assert [s.snapshot_id for s in load_snapshots(tdir)] == list(range(1, 9))
    load_calls.clear()
    rows = cat.table_changelog("d.c", 0, 8, producer="lookup").collect()
    assert load_calls == [tdir]
    assert sorted((r._snapshot, r.k, r.v, r._change) for r in rows) == [
        (1, 1, "a", "+I"),
        (1, 2, "b", "+I"),
        (2, 1, "a", "-U"),
        (2, 1, "a2", "+U"),
        (3, 2, "b", "-D"),
        (4, 3, "c", "+I"),
        (6, 3, "c", "-U"),
        (6, 3, "c2", "+U"),
        (6, 4, "d", "+I"),
        (7, 1, "a2", "-D"),
        (8, 5, "e", "+I"),
    ]


def test_read_resolves_its_snapshot_with_one_load(cat, load_calls):
    for kwargs in ({}, {"version_as_of": 1}, {"tag": "t1"}, {"timestamp_as_of": 2**62}):
        load_calls.clear()
        cat.read_table("d.t", **kwargs)
        assert len(load_calls) == 1, kwargs


def test_incremental_by_timestamp_loads_snapshots_once(cat, load_calls):
    """Both timestamps resolve against the list the range read uses: one
    load per call, and the rows of the id-based read of the same range."""
    ts = [s.timestamp_ms for s in load_snapshots(cat._table_dir("d", "t"))]
    for (from_ms, to_ms), ids in {(ts[0], ts[1]): (1, 2), (0, ts[1]): (0, 2)}.items():
        load_calls.clear()
        rows = cat.read_incremental_by_timestamp("d.t", from_ms, to_ms).collect()
        assert len(load_calls) == 1, (from_ms, to_ms)
        assert sorted(rows) == sorted(cat.read_incremental("d.t", *ids).collect())
        assert sorted((r.k, r.v) for r in rows) == [(0, "v0"), (1, "v1")][ids[0] :]
