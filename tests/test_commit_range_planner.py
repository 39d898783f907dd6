"""One commit-range planner (``catalog.metadata.plan_commits``) behind the
three readers of ``(lo, hi]``: ``read_incremental``,
``table_changelog(producer="input")`` and the manifest stream source.

- A compaction right after its predecessor contributes nothing, so no
  reader repeats older rows across it.
- A compaction after expired commits contributes its files, the only
  surviving copy of those commits' rows, so no reader drops them.
- All three readers return the same rows for the same range.
"""

from __future__ import annotations

import random
from collections import Counter

import pytest

from incubator_paimon_trino_spark.catalog.metadata import (
    COMMIT_APPEND,
    COMMIT_COMPACT,
    Snapshot,
    plan_commits,
)
from incubator_paimon_trino_spark.catalog.warehouse import WarehouseCatalog
from incubator_paimon_trino_spark.streaming.changelog import (
    read_changelog_stream,
    run_to_completion,
)
from incubator_paimon_trino_spark.streaming.manifest_source import _ManifestStreamReader


@pytest.fixture()
def cat(spark, tmp_path):
    cat = WarehouseCatalog(str(tmp_path / "wh"), spark)
    cat.create_database("d")
    return cat


def _history(cat, spark, table: str, pk: bool) -> None:
    """Commits 1 A, 2 B, 3 COMPACT, 4 C."""
    cat.create_table("d", table, [("k", "bigint"), ("v", "string")],
                     primary_key=["k"] if pk else [])
    for rows in ([(1, "A")], [(2, "B")], None, [(3, "C")]):
        if rows is None:
            cat.compact("d", table)
        else:
            cat.insert_into("d", table, spark.createDataFrame(rows, "k bigint, v string"))


def _kv(df) -> list[tuple]:
    return sorted((r.k, r.v) for r in df.collect())


def test_plan_commits_compaction_rule():
    def snap(i, kind, paths):
        return Snapshot(i, 0, "u", i, kind, 0, [{"path": p, "schema_id": 0} for p in paths])

    history = [
        snap(1, COMMIT_APPEND, ["a"]),
        snap(3, COMMIT_COMPACT, ["ab"]),  # after expired 2
        snap(4, COMMIT_APPEND, ["ab", "c"]),
        snap(5, COMMIT_COMPACT, ["abc"]),  # right after its predecessor
        snap(6, COMMIT_APPEND, ["abc", "d"]),
    ]
    plan = [
        (p.snapshot_id if p else None, s.snapshot_id, [f["path"] for f in files])
        for p, s, files in plan_commits(history, 0, 6)
    ]
    assert plan == [
        (None, 1, ["a"]),
        (1, 3, ["ab"]),
        (3, 4, ["c"]),
        (4, 5, []),
        (5, 6, ["d"]),
    ]
    # a COMPACT commit with no surviving predecessor is the baseline
    assert [[f["path"] for f in files] for _, _, files in plan_commits(history[1:], 0, 3)] == [
        ["ab"]
    ]
    assert plan_commits(history, 6, 6) == [] and plan_commits(history, 4, 2) == []


def test_append_read_incremental_skips_compaction(cat, spark):
    _history(cat, spark, "ap", pk=False)
    assert _kv(cat.read_incremental("d.ap", 1, 4)) == [(2, "B"), (3, "C")]


def test_append_read_incremental_after_compaction_returns_only_newer_rows(cat, spark):
    _history(cat, spark, "ap", pk=False)
    assert _kv(cat.read_incremental("d.ap", 2, 4)) == [(3, "C")]


def test_pk_read_incremental_equals_input_changelog(cat, spark):
    _history(cat, spark, "pk", pk=True)
    inc = sorted((r.k, r.v, r._seq) for r in cat.read_incremental("d.pk", 1, 4).collect())
    log = sorted(
        (r.k, r.v, r._snapshot)
        for r in cat.table_changelog("d.pk", 1, 4, producer="input").collect()
    )
    assert inc == log == [(2, "B", 2), (3, "C", 4)]


def test_compaction_after_expiry_gap_keeps_rows(cat, spark):
    """Tag 1, expire 2: snapshots 1, 3 (COMPACT) and 4 survive. Key 2 lives
    only in the compaction's file; every reader returns it. When commit 2
    deleted key 1 instead, only ``producer="lookup"`` returns the delete."""
    _history(cat, spark, "g", pk=True)
    cat.create_tag("d", "g", "t1", 1)
    cat.expire_snapshots("d", "g", keep_last=2)
    assert [r.snapshot_id for r in cat.snapshots("d", "g").collect()] == [1, 3, 4]
    log = _kv(cat.table_changelog("d.g", 1, 4, producer="input"))
    stream = _kv(run_to_completion(
        read_changelog_stream(cat, "d.g", source_mode="manifest",
                              startup_mode="from-snapshot", scan_snapshot_id=2),
        "gap_stream", output_mode="append",
    ))
    inc = _kv(cat.read_incremental("d.g", "t1", 4))
    for got in (log, stream, inc):
        assert (2, "B") in got and (3, "C") in got
    # a delete inside the gap: the compaction dropped the key and the -D
    # commit expired, so only the diff of merged states returns it
    cat.create_table("d", "x", [("k", "bigint"), ("v", "string")], primary_key=["k"])
    cat.insert_into("d", "x", spark.createDataFrame([(1, "A")], "k bigint, v string"))
    cat.sql("DELETE FROM d.x WHERE k = 1")
    cat.compact("d", "x")
    cat.insert_into("d", "x", spark.createDataFrame([(2, "B")], "k bigint, v string"))
    cat.create_tag("d", "x", "t1", 1)
    cat.expire_snapshots("d", "x", keep_last=2)
    assert [r.snapshot_id for r in cat.snapshots("d", "x").collect()] == [1, 3, 4]
    lookup = cat.table_changelog("d.x", 1, 4, producer="lookup").collect()
    assert sorted((r.k, r._change) for r in lookup) == [(1, "-D"), (2, "+I")]


def _stream_rows(tdir: str, lo: int, hi: int) -> Counter:
    """The manifest source's batch (lo, hi] for a stream started at lo + 1:
    the driver-side plan and the executor-side read, run in-process."""
    reader = _ManifestStreamReader({"tdir": tdir, "from_version": str(lo + 1)})
    out = Counter()
    for part in reader.partitions({"version": lo}, {"version": hi}):
        for batch in reader.read(part):
            out.update((r["k"], r["v"], r["_row_kind"]) for r in batch.to_pylist())
    return out


def test_seeded_history_readers_agree_and_lose_nothing(cat, spark):
    """About 30 operations: appends, upserts, deletes, compactions (one of
    them the first survivor after the expired commits, one right after its
    predecessor), a tag and expire_snapshots. For every (lo, hi] over the
    surviving snapshots the three readers return one multiset of
    (key, value, kind); none misses a row a surviving commit wrote, nor the
    latest value of a key an expired commit wrote; and a range with no
    expired commit in it returns exactly what its commits wrote."""
    rng = random.Random(14)
    cat.create_table("d", "h", [("k", "bigint"), ("v", "string")], primary_key=["k"])
    tdir = cat._table_dir("d", "h")
    wrote: dict[int, list[tuple]] = {}  # writer commit -> its (k, v, kind) rows
    live: dict[int, str] = {}
    next_key = 0
    for c in range(1, 28):
        if c in (4, 9, 14, 20, 24):
            cat.compact("d", "h")
            continue
        rows = {}
        for _ in range(rng.randint(1, 3)):
            op = rng.random()
            if live and op < 0.2:
                k = rng.choice(sorted(live))
                rows[k] = (k, live.pop(k), "D")
            elif live and op < 0.6:
                k = rng.choice(sorted(live))
                live[k] = f"v{c}_{k}"
                rows[k] = (k, live[k], "I")
            else:
                live[next_key] = f"v{c}_{next_key}"
                rows[next_key] = (next_key, live[next_key], "I")
                next_key += 1
        wrote[c] = list(rows.values())
        cat.insert_into("d", "h", spark.createDataFrame(
            wrote[c], "k bigint, v string, _row_kind string"))
        if c == 8:
            cat.create_tag("d", "h", "t8", 8)
    cat.expire_snapshots("d", "h", keep_last=8)
    surv = [r.snapshot_id for r in cat.snapshots("d", "h").collect()]
    assert surv == [8, *range(20, 28)]

    def required(lo: int, hi: int) -> set:
        """Rows every reader of (lo, hi] must return: all rows of the
        surviving writer commits, and for each run of expired commits the
        latest non-delete row per key (compaction keeps only that)."""
        need = set()
        for n in surv:
            if not lo < n <= hi:
                continue
            need |= set(wrote.get(n, []))
            p = max((x for x in surv if x < n), default=0)
            latest = {}
            for c in range(p + 1, n + 1):
                for row in wrote.get(c, []):
                    latest[row[0]] = (row, c)
            need |= {row for row, c in latest.values() if c != n and row[2] == "I"}
        return need

    for lo in [0, *surv]:
        for hi in surv:
            if hi <= lo:
                continue
            inc = Counter(
                (r.k, r.v, "D" if r._row_kind == "D" else "I")
                for r in cat.read_incremental("d.h", lo, hi).collect()
            )
            log = Counter(
                (r.k, r.v, r._change[1])
                for r in cat.table_changelog("d.h", lo, hi, producer="input").collect()
            )
            stream = _stream_rows(tdir, lo, hi)
            assert inc == log == stream, (lo, hi)
            assert required(lo, hi) <= set(inc), (lo, hi, required(lo, hi) - set(inc))
            if lo >= surv[1]:  # no expired commit inside (lo, hi]
                exact = Counter(r for c in range(lo + 1, hi + 1) for r in wrote.get(c, []))
                assert inc == exact, (lo, hi)
