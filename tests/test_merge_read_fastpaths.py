"""Merge-on-read fast paths (the full merge costs a multiple of a raw
parquet scan):

- FULLY-COMPACTED read: every live file is compaction output → the stored
  rows ARE the merged state; the read is scan-direct, zero staleness.
- DELTA-vs-BASE merge: compaction output + a broadcast-sized delta → only
  keys touched since the compaction enter the merge; untouched base rows
  pass through scan-direct.

Both must be RESULT-IDENTICAL to the full merge; the plans are pinned.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from incubator_paimon_trino_spark.catalog import WarehouseCatalog


@pytest.fixture()
def cat(spark, tmp_path):
    return WarehouseCatalog(str(tmp_path / "wh"), spark)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _subtree(plan: str, node: str) -> str:
    """The lines of ``plan``'s first ``node`` and everything below it."""
    lines = plan.splitlines()
    depth = lambda line: len(line) - len(line.lstrip(" :|+-"))  # noqa: E731
    i = next(i for i, line in enumerate(lines) if node in line)
    out = [lines[i]]
    for line in lines[i + 1 :]:
        if depth(line) <= depth(lines[i]):
            break
        out.append(line)
    return "\n".join(out)


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _mk(cat, spark, name="t", options=None):
    cat.create_table(
        "d", name, [("k", "int"), ("v", "string"), ("n", "bigint")],
        primary_key=["k"], options=options or {},
    )
    ddl = "k int, v string, n bigint"
    cat.insert_into("d", name, spark.createDataFrame(
        [(i, f"v{i}", i * 10) for i in range(50)], ddl))
    cat.insert_into("d", name, spark.createDataFrame(
        [(3, "v3b", 31), (7, "v7b", 71)], ddl))
    return ddl


def test_fully_compacted_read_is_merge_free(cat, spark):
    cat.create_database("d")
    ddl = _mk(cat, spark)
    before = sorted((r.k, r.v, r.n) for r in cat.read_table("d.t").collect())
    assert "Aggregate" in _plan(cat.read_table("d.t"))  # multi-commit: merges
    cat.compact("d", "t")
    df = cat.read_table("d.t")
    p = _plan(df)
    assert "Aggregate" not in p and "Join" not in p  # scan-direct
    assert sorted((r.k, r.v, r.n) for r in df.collect()) == before
    # a later commit re-arms merging (via the delta split, still no full agg
    # over the base — but correctness first)
    cat.insert_into("d", "t", spark.createDataFrame([(3, "v3c", 32)], ddl))
    got = {r.k: r.v for r in cat.read_table("d.t").collect()}
    assert got[3] == "v3c" and got[7] == "v7b" and len(got) == 50


def test_delta_base_split_plan_and_equivalence(cat, spark):
    """After compact + small commits (updates, NEW keys, a delete), the read
    must broadcast the delta keys as stored (plan pin: no aggregate on the
    broadcast side) and equal the forced full merge value-for-value, also
    when the delta repeats a key across commits and holds a null key."""
    cat.create_database("d")
    ddl = _mk(cat, spark)
    cat.compact("d", "t")
    cat.insert_into("d", "t", spark.createDataFrame(
        [(3, "v3c", 32), (99, "new", 990)], ddl))
    cat.delete_where("d", "t", F.col("k") == 7)

    def split_and_full():
        df = cat.read_table("d.t")
        p = _plan(df)
        assert "BroadcastHashJoin" in p  # the delta-key split
        assert "Aggregate" not in _subtree(p, "BroadcastExchange"), p
        # the bound is config-derived per table (_delta_broadcast_rows);
        # force the full merge via the per-table option override
        cat.set_options("d", "t", {"merge-read.delta-broadcast-rows": "0"})
        try:
            full_df = cat.read_table("d.t")
            assert "BroadcastHashJoin" not in _plan(full_df)
            full = _rows(full_df)
        finally:
            cat.set_options("d", "t", {"merge-read.delta-broadcast-rows": "2000000"})
        got = _rows(df)
        assert got == full
        return got

    got = split_and_full()
    assert 7 not in {k for k, _, _ in got} and (99, "new", 990) in got
    assert next(v for k, v, _ in got if k == 3) == "v3c"

    # key 3 again, and a null key twice, in two more commits
    cat.insert_into("d", "t", spark.createDataFrame([(3, "v3d", 33), (None, "n1", 1)], ddl))
    cat.insert_into("d", "t", spark.createDataFrame([(None, "n2", 2), (5, "v5b", 51)], ddl))
    got = split_and_full()
    assert {(3, "v3d", 33), (None, "n2", 2), (5, "v5b", 51)} <= set(got)
    assert len(got) == 51  # keys 0..49 less 7, plus 99 and the null key


def test_delta_base_split_with_aggregation_engine(cat, spark):
    """Compaction materializes accumulated aggregate state; the split path
    must re-merge base state with delta contributions exactly like the full
    merge (sum re-adds, collect re-concatenates)."""
    cat.create_database("d")
    cat.create_table(
        "d", "a", [("k", "int"), ("s", "bigint"), ("c", "array<int>")],
        primary_key=["k"],
        options={"merge_engine": "aggregation",
                 "fields.s.aggregate-function": "sum",
                 "fields.c.aggregate-function": "collect"},
    )
    ddl = "k int, s bigint, c array<int>"
    cat.insert_into("d", "a", spark.createDataFrame(
        [(i, i, [i]) for i in range(30)], ddl))
    cat.insert_into("d", "a", spark.createDataFrame([(1, 100, [9])], ddl))
    cat.compact("d", "a")
    cat.insert_into("d", "a", spark.createDataFrame(
        [(1, 1000, [8]), (30, 5, [5])], ddl))

    rows = {r.k: (r.s, r.c) for r in cat.read_table("d.a").collect()}
    assert rows[1] == (1101, [1, 9, 8])
    assert rows[2] == (2, [2])      # untouched base row, scan-direct
    assert rows[30] == (5, [5])     # delta-only new key
    cat.set_options("d", "a", {"merge-read.delta-broadcast-rows": "0"})
    try:
        full = {r.k: (r.s, r.c) for r in cat.read_table("d.a").collect()}
    finally:
        cat.set_options("d", "a", {"merge-read.delta-broadcast-rows": "2000000"})
    assert rows == full


def test_split_respects_predicates_and_time_travel(cat, spark):
    from incubator_paimon_trino_spark.functions.predicates import ColumnDomain

    cat.create_database("d")
    ddl = _mk(cat, spark)
    cat.compact("d", "t")
    ver_compact = cat._latest_snapshot(cat._table_dir("d", "t")).snapshot_id
    cat.insert_into("d", "t", spark.createDataFrame([(3, "v3c", 32)], ddl))
    # predicate over the split read
    got = cat.read_table("d.t", predicate=[ColumnDomain("k", op="=", value=3)]).collect()
    assert [(r.k, r.v) for r in got] == [(3, "v3c")]
    # time travel to the compacted snapshot takes the merge-free path
    df = cat.read_table("d.t", version_as_of=ver_compact)
    assert "Aggregate" not in _plan(df)
    assert {r.k: r.v for r in df.collect()}[3] == "v3b"


def test_dedup_delta_split_scans_base_once(cat, spark):
    """Under commit-sequence deduplicate, the split's semi
    branch (touched base rows entering the merge) is provably dead — delta
    rows strictly supersede base rows — so the plan must scan the base
    ONCE (anti join only, no LeftSemi). A user sequence_field CAN make the
    base row win, so it keeps the touched∪delta merge (and stays correct
    when the base row outranks)."""
    cat.create_database("d")
    ddl = _mk(cat, spark)
    cat.compact("d", "t")
    cat.insert_into("d", "t", spark.createDataFrame([(3, "v3c", 32)], ddl))
    p = _plan(cat.read_table("d.t"))
    assert "LeftAnti" in p and "LeftSemi" not in p, p

    # sequence_field twin: base row carries the HIGHER sequence, so the
    # base version must win — only the touched∪delta merge gets that right
    cat.create_table(
        "d", "sq", [("k", "int"), ("v", "string"), ("sq", "bigint")],
        primary_key=["k"], options={"sequence.field": "sq"},
    )
    sddl = "k int, v string, sq bigint"
    cat.insert_into("d", "sq", spark.createDataFrame(
        [(i, f"v{i}", 100) for i in range(40)], sddl))
    cat.compact("d", "sq")
    cat.insert_into("d", "sq", spark.createDataFrame([(5, "stale", 50)], sddl))
    psq = _plan(cat.read_table("d.sq"))
    assert "LeftSemi" in psq, psq  # the one-scan shortcut must NOT fire
    got = {r.k: (r.v, r.sq) for r in cat.read_table("d.sq").collect()}
    assert got[5] == ("v5", 100)  # base outranks the stale delta
