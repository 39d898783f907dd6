"""Streaming changelog reads on deletion-vectors tables.

A DV table's deletes are pure metadata (no -D data rows), so the plain file
tail would silently drop them; ``read_changelog_stream`` unions the tail's
+rows with a retraction stream diffed from the tailed ``index/dv-*.json``
files (``streaming/changelog._dv_retraction_stream``). These tests pin

- the full availableNow stream equals insert images + DV-marked old images,
- consumer/from-snapshot resume replays neither consumed +rows nor the
  baseline's already-retracted marks,
- the -D static side reads ONLY DV-referenced data files (plan quality),
- a DV table with no deletes streams like a plain PK table (empty -D side).

Reference anchor: the ``ChangelogProducer`` DDL options the reference stores
but never executes (``common/TrinoTableOptionUtils.java:94-107``).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F  # noqa: F401

from incubator_paimon_trino_spark.catalog.metadata import load_snapshots
from incubator_paimon_trino_spark.catalog.warehouse import WarehouseCatalog
from incubator_paimon_trino_spark.streaming.changelog import (
    _dv_referenced_entries,
    read_changelog_stream,
    run_to_completion,
)


@pytest.fixture()
def cat(spark, tmp_path):
    return WarehouseCatalog(str(tmp_path / "wh"), spark)


def _mk(cat, spark, n=10):
    cat.create_database("d")
    cat.create_table(
        "d", "t", [("k", "bigint"), ("v", "string")],
        primary_key=["k"], options={"deletion-vectors.enabled": "true"},
    )
    cat.insert_into(
        "d", "t", spark.createDataFrame([(i, f"v{i}") for i in range(n)], "k bigint, v string")
    )


def _rows(cat, name="d.t", qname="dvq", **kw):
    out = run_to_completion(
        read_changelog_stream(cat, name, **kw), qname, output_mode="append"
    )
    return sorted((r["_row_kind"], r["k"], r["v"]) for r in out.collect())


def test_dv_stream_full_emits_inserts_and_retractions(cat, spark):
    _mk(cat, spark)
    cat.sql("UPDATE d.t SET v = 'upd' WHERE k % 3 = 0")  # snapshot 2
    cat.sql("DELETE FROM d.t WHERE k % 2 = 0")  # snapshot 3 — pure metadata
    exp = sorted(
        [("I", i, f"v{i}") for i in range(10)]
        + [("I", i, "upd") for i in (0, 3, 6, 9)]  # update new images
        + [("D", i, f"v{i}") for i in (0, 3, 6, 9)]  # update old images
        + [("D", 0, "upd"), ("D", 2, "v2"), ("D", 4, "v4"),
           ("D", 6, "upd"), ("D", 8, "v8")]  # delete's live images
    )
    assert _rows(cat, qname="dv_full") == exp


def test_dv_stream_consumer_resume_skips_baseline(cat, spark):
    _mk(cat, spark)
    cat.sql("UPDATE d.t SET v = 'upd' WHERE k % 3 = 0")  # snapshot 2
    cat.advance_consumer("d", "t", "cdc", 3)  # 1..2 consumed downstream
    cat.sql("DELETE FROM d.t WHERE k % 2 = 0")  # snapshot 3
    # no +I (snapshot 3 wrote no data files); -D only for the delete's marks —
    # the snapshot-2 baseline marks (old update images) are NOT replayed
    exp = sorted(
        [("D", 0, "upd"), ("D", 2, "v2"), ("D", 4, "v4"), ("D", 6, "upd"), ("D", 8, "v8")]
    )
    assert _rows(cat, qname="dv_resume", consumer_id="cdc") == exp
    # from-snapshot spelling of the same position agrees
    assert _rows(
        cat, qname="dv_from_snap", startup_mode="from-snapshot", scan_snapshot_id=3
    ) == exp


def test_dv_stream_no_deletes_is_plain_tail(cat, spark):
    _mk(cat, spark, n=4)
    exp = sorted([("I", i, f"v{i}") for i in range(4)])
    assert _rows(cat, qname="dv_nodel") == exp


def test_dv_retraction_static_side_reads_only_marked_files(cat, spark):
    """Plan quality: the -D side's batch read set is the DV-referenced files,
    not the table — a delete touching 1 of N files re-opens 1 file."""
    _mk(cat, spark)
    # second commit adds more files the delete never touches
    cat.insert_into(
        "d", "t",
        spark.createDataFrame([(i, f"w{i}") for i in range(100, 110)], "k bigint, v string"),
    )
    cat.sql("DELETE FROM d.t WHERE k = 3")  # marks exactly one position
    tdir = cat._table_dir("d", "t")
    snaps = load_snapshots(tdir)
    entries = _dv_referenced_entries(cat, tdir, snaps)
    live = {os.path.basename(f["path"]) for f in snaps[-1].files}
    assert entries, "delete must reference at least one file"
    assert set(entries) < live, "static side must be a strict subset of live files"
    # every referenced entry really is named by a DV index
    dv = cat._dv_vectors(tdir, snaps[-1])
    named = {os.path.basename(rel.replace("\\", "/")) for rel in dv}
    assert set(entries) == named


def test_dv_stream_per_commit_triggers_dedup_across_batches(cat, spark):
    """max_files_per_trigger=1 splits the availableNow run into many
    micro-batches; the streaming dropDuplicates state must still emit each
    cumulative mark exactly once across them, and the total content must
    equal the single-batch run."""
    _mk(cat, spark)
    cat.sql("UPDATE d.t SET v = 'upd' WHERE k % 3 = 0")
    cat.sql("DELETE FROM d.t WHERE k % 2 = 0")
    one = _rows(cat, qname="dv_onebatch")
    many = _rows(cat, qname="dv_manybatch", max_files_per_trigger=1)
    assert many == one


def test_fold_changelog_tiebreak(spark):
    """CDC-apply fold: winner per key is max (_seq, kind) with delete
    outranking insert at the SAME _seq (a DV retraction carries the old
    image's _seq), and _seq is dropped from the output."""
    from incubator_paimon_trino_spark.streaming.changelog import fold_changelog

    batch = spark.createDataFrame(
        [
            (1, "a", 1, "I"), (1, "a", 1, "D"),            # same-seq: D wins
            (2, "b", 1, "I"), (2, "b", 1, "D"), (2, "b2", 2, "I"),  # reinsert wins
            (3, "c", 2, "I"), (3, "old", 1, "D"),          # later insert wins
            (4, "d", 1, "I"),                               # plain upsert
        ],
        "k bigint, v string, _seq bigint, _row_kind string",
    )
    out = {r.k: (r.v, r._row_kind) for r in fold_changelog(batch, ["k"]).collect()}
    assert out == {1: ("a", "D"), 2: ("b2", "I"), 3: ("c", "I"), 4: ("d", "I")}
    assert "_seq" not in fold_changelog(batch, ["k"]).columns


def test_dv_cdc_pipeline_mirror_equals_source(cat, spark):
    """Small end-to-end twin of the registered query: stream a DV source's
    changelog through fold_changelog into a PK mirror; the mirror's merged
    read must equal the source's."""
    from incubator_paimon_trino_spark.streaming.changelog import fold_changelog

    _mk(cat, spark)
    cat.create_table("d", "m", [("k", "bigint"), ("v", "string")], primary_key=["k"])
    cat.sql("UPDATE d.t SET v = 'upd' WHERE k % 3 = 0")
    cat.sql("DELETE FROM d.t WHERE k % 2 = 0")

    def apply_cdc(b, _):
        if not b.isEmpty():
            cat.insert_with_retries("d", "m", fold_changelog(b, ["k"]))

    import tempfile

    q = (
        read_changelog_stream(cat, "d.t")
        .writeStream.foreachBatch(apply_cdc)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="dvcdc_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    src = {(r.k, r.v) for r in cat.read_table("d.t").collect()}
    mirror = {(r.k, r.v) for r in cat.read_table("d.m").collect()}
    assert mirror == src and src


def test_write_stream_to_table_fold_pk(cat, spark):
    """The fold is available on the stock sink: write_stream_to_table(
    fold_pk=True) mirrors a DV source correctly, with the consumer advanced
    past the processed tip."""
    import tempfile

    from incubator_paimon_trino_spark.streaming.changelog import write_stream_to_table

    _mk(cat, spark)
    cat.create_table("d", "m2", [("k", "bigint"), ("v", "string")], primary_key=["k"])
    cat.sql("UPDATE d.t SET v = 'upd' WHERE k % 3 = 0")
    cat.sql("DELETE FROM d.t WHERE k % 2 = 0")
    write_stream_to_table(
        read_changelog_stream(cat, "d.t", consumer_id="mir"),
        cat, "d", "m2", tempfile.mkdtemp(prefix="dvfold_"),
        source=("d", "t"), consumer_id="mir", fold_pk=True,
    )
    src = {(r.k, r.v) for r in cat.read_table("d.t").collect()}
    mirror = {(r.k, r.v) for r in cat.read_table("d.m2").collect()}
    assert mirror == src and src
    assert cat.consumer_progress("d", "t", "mir") >= 3
    # guards: fold needs _seq and a PK sink
    cat.create_table("d", "ap", [("k", "bigint"), ("v", "string")])
    with pytest.raises(ValueError, match="primary-key sink"):
        write_stream_to_table(
            read_changelog_stream(cat, "d.t"), cat, "d", "ap",
            tempfile.mkdtemp(), fold_pk=True,
        )


def test_dv_ver_marks_retracting_commit(cat, spark):
    """Retraction rows expose ``_dv_ver`` = the DELETE's commit id (their
    ``_seq`` is the retracted OLD image's); insert rows carry NULL. This is
    the column consumer checkpoints advance by."""
    _mk(cat, spark, n=4)  # snapshot 1
    cat.sql("DELETE FROM d.t WHERE k = 1")  # snapshot 2, pure metadata
    out = run_to_completion(
        read_changelog_stream(cat, "d.t"), "dv_verq", output_mode="append"
    )
    rows = {(r["_row_kind"], r["k"]): r["_dv_ver"] for r in out.collect()}
    assert rows[("D", 1)] == 2
    assert all(v is None for (kind, _), v in rows.items() if kind == "I")


def test_retraction_only_batch_advances_consumer(cat, spark):
    """The ADVICE r7 crash-loop: consumer caught up at 3, then a
    pure-metadata DELETE of a commit-1 row lands. The resumed batch contains
    ONLY retractions whose _seq (old-image attribution) is far below the
    consumer — the tip must come from _dv_ver, advancing to the delete's
    commit + 1, and the delete-only commit must be recorded as consumed
    (no eternal replay, no retention pinning, no ValueError crash-loop)."""
    import tempfile

    from incubator_paimon_trino_spark.streaming.changelog import write_stream_to_table

    _mk(cat, spark, n=4)  # snapshot 1
    cat.insert_into(
        "d", "t", spark.createDataFrame([(10, "v10")], "k bigint, v string")
    )  # snapshot 2
    cat.create_table("d", "mir", [("k", "bigint"), ("v", "string")], primary_key=["k"])
    write_stream_to_table(
        read_changelog_stream(cat, "d.t", consumer_id="mir"),
        cat, "d", "mir", tempfile.mkdtemp(prefix="dvro1_"),
        source=("d", "t"), consumer_id="mir", fold_pk=True,
    )
    assert cat.consumer_progress("d", "t", "mir") == 3  # caught up
    cat.sql("DELETE FROM d.t WHERE k = 1")  # snapshot 3: -D with _seq = 1
    write_stream_to_table(
        read_changelog_stream(cat, "d.t", consumer_id="mir"),
        cat, "d", "mir", tempfile.mkdtemp(prefix="dvro2_"),
        source=("d", "t"), consumer_id="mir", fold_pk=True,
    )
    assert cat.consumer_progress("d", "t", "mir") == 4  # delete commit consumed
    mirror = {(r.k, r.v) for r in cat.read_table("d.mir").collect()}
    src = {(r.k, r.v) for r in cat.read_table("d.t").collect()}
    assert mirror == src and (1, "v1") not in mirror


def test_advance_consumer_nonstrict_noop(cat, spark):
    """strict=False (the streaming-sink mode) absorbs a stale tip silently;
    strict advancement still refuses to rewind."""
    _mk(cat, spark, n=2)
    cat.advance_consumer("d", "t", "c1", 5)
    cat.advance_consumer("d", "t", "c1", 3, strict=False)  # no-op, no raise
    assert cat.consumer_progress("d", "t", "c1") == 5
    with pytest.raises(ValueError, match="backward"):
        cat.advance_consumer("d", "t", "c1", 3)


def test_dv_stream_ignores_orphan_index(cat, spark):
    """An uncommitted dv-*.json (crashed or racing writer — vacuum keeps it
    while above the horizon) must not emit phantom retractions: only indexes
    a snapshot references may retract."""
    from incubator_paimon_trino_spark.catalog.metadata import write_json_atomic
    from incubator_paimon_trino_spark.streaming.changelog import _dv_referenced_entries

    _mk(cat, spark, n=6)
    cat.sql("DELETE FROM d.t WHERE k = 1")  # committed delete (snapshot 2)
    tdir = cat._table_dir("d", "t")
    snaps = load_snapshots(tdir)
    victim = next(f["path"] for f in snaps[-1].files)
    # orphan at version 2 with a different nonce, marking a LIVE row
    write_json_atomic(
        os.path.join(tdir, "index", "dv-2-deadbeef.json"),
        {"vectors": {victim: [0]}},
    )
    rows = _rows(cat, qname="dv_orphan")
    assert [r for r in rows if r[0] == "D"] == [("D", 1, "v1")]
    # and the static read set never lists the orphan's victim as referenced
    # unless a committed index also names it
    dv = cat._dv_vectors(tdir, snaps[-1])
    committed_files = {os.path.basename(rel) for rel in dv}
    assert set(_dv_referenced_entries(cat, tdir, snaps)) == committed_files


def test_resume_baseline_never_transits_driver(cat, spark, monkeypatch):
    """Scale pin (r7 'what's wrong' #1): the resume anti-join's baseline
    side is a Spark read of the prior snapshot's committed index — NOT a
    driver-held dict. _dv_vectors (the driver-side materialization) must
    not be called anywhere in the stream build or its execution; the
    resume semantics must be unchanged."""
    _mk(cat, spark)
    cat.sql("UPDATE d.t SET v = 'upd' WHERE k % 3 = 0")  # snapshot 2
    cat.advance_consumer("d", "t", "cdc", 3)  # 1..2 consumed downstream
    cat.sql("DELETE FROM d.t WHERE k % 2 = 0")  # snapshot 3

    def boom(*a, **k):  # noqa: ANN002, ANN003
        raise AssertionError("driver-side _dv_vectors materialization in stream path")

    monkeypatch.setattr(WarehouseCatalog, "_dv_vectors", boom)
    exp = sorted(
        [("D", 0, "upd"), ("D", 2, "v2"), ("D", 4, "v4"), ("D", 6, "upd"), ("D", 8, "v8")]
    )
    assert _rows(cat, qname="dv_distbase", consumer_id="cdc") == exp


def test_dv_stream_second_run_tails_only_new_marks(cat, spark):
    """Two consecutive consumer-driven runs: the second sees only the delta
    committed between them (the resumable-stream contract)."""
    _mk(cat, spark, n=6)
    cat.advance_consumer("d", "t", "cdc", 2)  # snapshot 1 consumed
    cat.sql("DELETE FROM d.t WHERE k = 1")  # snapshot 2
    assert _rows(cat, qname="dv_run1", consumer_id="cdc") == [("D", 1, "v1")]
    cat.advance_consumer("d", "t", "cdc", 3)
    cat.sql("DELETE FROM d.t WHERE k = 4")  # snapshot 3
    assert _rows(cat, qname="dv_run2", consumer_id="cdc") == [("D", 4, "v4")]


def test_fold_changelog_property(spark):
    """Property: fold_changelog == a per-key python reference fold (winner
    by highest (_seq, D-outranks-I at equal _seq); riders dropped) over
    randomized changelogs."""
    import random

    from incubator_paimon_trino_spark.streaming.changelog import fold_changelog

    rng = random.Random(8)
    for trial in range(5):
        rows = []
        for _ in range(rng.randint(1, 60)):
            rows.append((
                rng.randint(1, 8),                       # key
                f"v{rng.randint(0, 99)}",                # image
                rng.randint(1, 5),                       # _seq
                rng.choice(["I", "D"]),                  # kind
                rng.choice([None, rng.randint(1, 5)]),   # _dv_ver rider
            ))
        df = spark.createDataFrame(
            rows, "k bigint, v string, _seq bigint, _row_kind string, _dv_ver bigint"
        )
        out = {r.k: (r.v, r._row_kind) for r in fold_changelog(df, ["k"]).collect()}
        # reference: stable max by (_seq, kind=='D'), ties broken by the
        # SAME deterministic order Spark's row_number sees is not defined —
        # so only compare on keys whose winner is unique
        ref = {}
        ambiguous = set()
        for k, v, seq, kind, _ in rows:
            cur = ref.get(k)
            score = (seq, kind == "D")
            if cur is None or score > cur[0]:
                ref[k] = (score, (v, kind), False)
            elif score == cur[0]:
                same = cur[1] == (v, kind)
                ref[k] = (score, cur[1], cur[2] or not same)
        for k, (_, win, amb) in ref.items():
            if amb:
                ambiguous.add(k)
            else:
                assert out[k] == win, (trial, k, out[k], win)
        assert set(out) == set(ref)
        cols = fold_changelog(df, ["k"]).columns
        assert "_seq" not in cols and "_dv_ver" not in cols
