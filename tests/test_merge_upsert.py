"""``merge_into`` with its default clauses (matched → update, not matched →
insert) is an upsert: every source row lands as +I whether or not its key
is in the target. It commits the source as is, with no read of the target,
and leaves the same rows an ``insert_into`` of the same source does, on
plain primary-key, deletion-vector and partial-update tables, with
duplicate and null source keys.
"""

from __future__ import annotations

import re

import pytest

from incubator_paimon_trino_spark.catalog.warehouse import WarehouseCatalog

DDL = "k bigint, v string, w int"
COLS = [("k", "bigint"), ("v", "string"), ("w", "int")]
ENGINES = {
    "plain": {},
    "deletion_vectors": {"deletion-vectors.enabled": "true"},
    "partial_update": {"merge_engine": "partial-update"},
}


@pytest.fixture()
def cat(spark, tmp_path):
    cat = WarehouseCatalog(str(tmp_path / "wh"), spark)
    cat.create_database("d")
    return cat


def _outcome(cat, table, commit):
    try:
        commit()
    except Exception as ex:  # noqa: BLE001 — compared across both paths
        # an example key in the message is whichever row the check met first
        msg = re.sub(r"\(e\.g\. [^)]*\)", "(e.g. ...)", str(ex).splitlines()[0])
        return type(ex).__name__, msg.replace(f"d.{table}", "d.?")
    return "ok", sorted((tuple(r) for r in cat.read_table(f"d.{table}").collect()), key=repr)


#: duplicate keys are whole-row duplicates: within one commit the engine
#: picks any one of a key's rows, so only identical rows compare exactly
UNIQUE = [(5, "b", None), (12, "c", 3), (3, None, 7)]
SOURCES = {
    "unique": UNIQUE,
    "duplicate_keys": UNIQUE + [(5, "b", None), (12, "c", 3)],
    "null_key": UNIQUE + [(None, "n", 9)],
}


@pytest.mark.parametrize("source_rows", list(SOURCES))
@pytest.mark.parametrize("engine", list(ENGINES))
def test_default_merge_equals_upsert(cat, spark, engine, source_rows):
    for t in ("m", "u"):
        cat.create_table("d", t, COLS, primary_key=["k"], options=ENGINES[engine])
        cat.insert_into("d", t, spark.createDataFrame([(k, "a", k) for k in range(10)], DDL))
    source = spark.createDataFrame(SOURCES[source_rows], DDL)

    merged = _outcome(cat, "m", lambda: cat.merge_into("d", "m", source, on=["k"]))
    upserted = _outcome(cat, "u", lambda: cat.insert_into("d", "u", source))
    assert merged == upserted
    if source_rows == "unique":
        assert merged[0] == "ok" and {r[0] for r in merged[1]} == {*range(10), 12}


def test_default_merge_reads_no_target(cat, spark, monkeypatch):
    cat.create_table("d", "t", COLS, primary_key=["k"])
    cat.insert_into("d", "t", spark.createDataFrame([(1, "a", 1)], DDL))
    source = spark.createDataFrame([(1, "b", 2), (2, "c", 3)], DDL)
    reads: list[str] = []
    orig = WarehouseCatalog.read_table

    def spy(self, name, *a, **k):
        reads.append(name)
        return orig(self, name, *a, **k)

    monkeypatch.setattr(WarehouseCatalog, "read_table", spy)
    cat.merge_into("d", "t", source, on=["k"])
    assert reads == []
    # a merge with a delete clause still joins against the target
    cat.merge_into("d", "t", source.filter("k = 1"), on=["k"], when_matched="delete")
    assert reads == ["d.t"]
    monkeypatch.undo()
    assert sorted(tuple(r) for r in cat.read_table("d.t").collect()) == [(2, "c", 3)]
