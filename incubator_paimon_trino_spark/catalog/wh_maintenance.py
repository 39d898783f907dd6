"""Maintenance and history: tags, rollback, consumers, branches, CDC
and changelog reads, partition/snapshot expiration, orphan files,
file-index rebuild, compaction (+ z-order/Hilbert keys), ANALYZE.

Compaction reads the merged live set and hands it to the same data-file
writer ``insert_into`` uses (``WriteMixin._write_data_files``); a
compaction that fails before its snapshot is published, or loses the
publish race, removes what it wrote, like any commit.

One mixin of ``WarehouseCatalog``; the class surface is assembled in
``warehouse.py``.
"""

from __future__ import annotations

import dataclasses
import datetime as _dt
import functools
import glob
import os
import re
import shutil
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from incubator_paimon_trino_spark.catalog.metadata import (
    COMMIT_COMPACT,
    COMMIT_OVERWRITE,
    KIND_COL,
    SEQ_COL,
    CommitConflictError,
    Snapshot,
    TableSchema,
    latest_snapshot_id,
    load_snapshots,
    plan_commits,
    read_json,
    resolve_snapshot,
    write_json_atomic,
)
from incubator_paimon_trino_spark.catalog.file_index import (
    SUFFIX as _FIDX_SUFFIX,
    build_file_indexes,
    index_specs as _file_index_specs,
)
from incubator_paimon_trino_spark.catalog.scan import partition_values
from incubator_paimon_trino_spark.functions.types import castable_ddl

from incubator_paimon_trino_spark.catalog.wh_helpers import *  # noqa: F401,F403
from incubator_paimon_trino_spark.catalog.wh_write import _Attempt


class MaintenanceMixin:
    def _tags(self, tdir: str) -> dict:
        path = os.path.join(tdir, "snapshot", "TAGS")
        return read_json(path) if os.path.exists(path) else {}

    def create_tag(self, db: str, table: str, tag: str, snapshot_id: int | None = None) -> None:
        """Name a snapshot (Paimon tags): a durable pointer that survives
        snapshot expiration of *other* versions and reads back via
        ``read_table(tag=...)`` or the ``$tags`` system table."""
        tdir = self._table_dir(db, table)
        snap = resolve_snapshot(load_snapshots(tdir), version=snapshot_id)
        if snap is None:
            raise ValueError(f"no snapshot to tag: {db}.{table} is empty")
        tags = self._tags(tdir)
        if tag in tags:
            raise ValueError(f"tag {tag!r} already exists (-> snapshot {tags[tag]})")
        tags[tag] = snap.snapshot_id
        write_json_atomic(os.path.join(tdir, "snapshot", "TAGS"), tags)

    def delete_tag(self, db: str, table: str, tag: str) -> None:
        tdir = self._table_dir(db, table)
        tags = self._tags(tdir)
        if tag not in tags:
            raise ValueError(f"no tag {tag!r}")
        dependent = [
            b for b, m in self._branches(tdir).items() if m.get("from_tag") == tag
        ]
        if dependent:
            # the tag pins the seed snapshot's files against expiry; removing
            # it would let main expiry delete data the branch still reads
            raise ValueError(
                f"tag {tag!r} seeds branch(es) {dependent} — delete the "
                "branch(es) first"
            )
        del tags[tag]
        write_json_atomic(os.path.join(tdir, "snapshot", "TAGS"), tags)

    def rollback_to(self, db: str, table: str, snapshot_id: int) -> None:
        """Roll the table back to ``snapshot_id``: later snapshots are
        dropped and their files (unreferenced by any survivor) deleted.
        The next commit continues from the restored version."""
        tdir = self._table_dir(db, table)
        snaps = load_snapshots(tdir)
        resolve_snapshot(snaps, version=snapshot_id)  # must exist
        kept = [s for s in snaps if s.snapshot_id <= snapshot_id]
        doomed = [s for s in snaps if s.snapshot_id > snapshot_id]
        tags = self._tags(tdir)
        stale = [t for t, sid in tags.items() if sid > snapshot_id]
        dependent = [
            (t, b)
            for t in stale
            for b, m in self._branches(tdir).items()
            if m.get("from_tag") == t
        ]
        if dependent:
            raise ValueError(
                f"rollback would discard tag(s) seeding branch(es) "
                f"{sorted(set(b for _, b in dependent))} — delete the "
                "branch(es) first"
            )
        live = {f["path"] for s in kept for f in s.files}
        dead = {f["path"] for s in doomed for f in s.files} - live
        dead = {p for p in dead if not _shared_data_path(p)}  # see expire
        dead -= self._externally_pinned(tdir)  # fast-forwarded into main
        for rel in sorted(dead):
            p = os.path.join(tdir, rel)
            if os.path.exists(p):
                os.remove(p)
            _rm_sidecar(p)  # the colocated file-index dies with its data file
        for s_ in doomed:
            os.remove(os.path.join(tdir, "snapshot", f"snapshot-{s_.snapshot_id}.json"))
        self._gc_dv_indexes(tdir, kept, doomed)
        self._prune_empty_dirs(os.path.join(tdir, "data"))
        for t in stale:
            del tags[t]
        write_json_atomic(os.path.join(tdir, "snapshot", "TAGS"), tags)
        write_json_atomic(os.path.join(tdir, "snapshot", "LATEST"), {"snapshot_id": snapshot_id})
        # the rolled-back snapshots' manifests sit ABOVE the restored horizon,
        # where _gc_manifests must presume in-flight writers — but THESE ids
        # were just deleted by us, so reap them explicitly or every rollback
        # permanently accretes dead manifest JSONs referencing deleted files
        live_manifests = {m for s in kept for m in s.manifests}
        for s_ in doomed:
            for mname in s_.manifests:
                if mname not in live_manifests:
                    try:
                        os.remove(os.path.join(tdir, "manifest", mname))
                    except FileNotFoundError:
                        pass
        self._gc_manifests(tdir)

    # ------------------------------------------------------------- consumers
    _CONSUMER_ID_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,99}$")
    _CONSUMER_POS_RE = re.compile(r"^pos-(\d+)\.json$")

    def _consumer_positions(self, cdir: str) -> list[int]:
        """Position markers in one consumer's directory. A file vanishing
        mid-listing (concurrent prune/reset) is a consistent earlier state,
        not an error — listdir is the only read, and names carry the data."""
        try:
            names = os.listdir(cdir)
        except FileNotFoundError:
            return []
        out = []
        for fn in names:
            m = self._CONSUMER_POS_RE.match(fn)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def _consumers(self, tdir: str) -> dict[str, dict]:
        """consumer_id → {"next_snapshot": int, "updated_ms": int}.

        Layout: ``<table>/consumer/<id>/pos-<n>.json`` — each advance CREATES
        a new position marker (exclusive link) and prunes lower ones; the
        consumer's position is the MAX marker. Creation-not-overwrite makes
        concurrent advances race-safe by construction: positions are
        monotone (max wins), a slower writer can never rewind a faster one,
        and no read-modify-write of shared state exists to tear. Metadata
        rides inside the marker file; a marker deleted between listdir and
        read (concurrent prune) still yields its position from the NAME.
        """
        croot = os.path.join(tdir, "consumer")
        out: dict[str, dict] = {}
        try:
            ids = sorted(os.listdir(croot))
        except FileNotFoundError:
            return out
        for cid in ids:
            cdir = os.path.join(croot, cid)
            positions = self._consumer_positions(cdir)
            if not positions:
                continue
            top = positions[-1]
            marker = os.path.join(cdir, f"pos-{top}.json")
            try:
                meta = read_json(marker) or {}
            except FileNotFoundError:
                meta = {}  # pruned between listdir and read — name carries the position
            # liveness = max(written timestamp, marker mtime): a caught-up
            # stream's same-position re-advance can only TOUCH the existing
            # marker (exclusive create refuses a rewrite), so mtime is the
            # signal that keeps consumer.expiration-time from reaping a live
            # consumer that simply has nothing new to consume
            try:
                mtime_ms = int(os.path.getmtime(marker) * 1000)
            except OSError:
                mtime_ms = 0
            out[cid] = {
                "next_snapshot": top,
                "updated_ms": max(int(meta.get("updated_ms", 0)), mtime_ms),
            }
        return out

    def consumer_progress(self, db: str, table: str, consumer_id: str) -> int | None:
        """The consumer's NEXT snapshot to consume, or None if unregistered.
        Direct single-directory listing — O(this consumer), not O(all)."""
        if not self._CONSUMER_ID_RE.match(consumer_id or ""):
            # same validation as the write path — an unchecked id would be
            # joined into the filesystem path ('../snapshot' traverses out)
            raise ValueError(f"invalid consumer_id {consumer_id!r}")
        cdir = os.path.join(self._table_dir(db, table), "consumer", consumer_id)
        positions = self._consumer_positions(cdir)
        return positions[-1] if positions else None

    def advance_consumer(
        self, db: str, table: str, consumer_id: str, next_snapshot: int,
        strict: bool = True,
    ) -> None:
        """Record that ``consumer_id`` has consumed everything BELOW
        ``next_snapshot`` (Paimon's consumer-id progress: the stored value is
        the next snapshot the consumer will read, and snapshot expiration
        keeps every snapshot at or above the smallest registered position —
        see ``expire_snapshots``).

        Advancement is explicit — call it at your checkpoint/commit points
        (Paimon advances on streaming checkpoint completion). Moving a
        consumer BACKWARD requires ``reset_consumer`` (an accidental stale
        advance must not silently rewind retention protection); concurrent
        advances settle on the highest position (monotone max-wins markers),
        never on whichever writer happened to land last.

        ``strict=False`` turns a backward/stale advance into a NO-OP instead
        of an error — the streaming-sink mode: an at-least-once replay (or a
        batch whose rows all pre-date the consumer's position) recomputes an
        old tip, and a checkpoint must absorb that silently rather than
        crash-loop the stream; the position only ever moves forward either
        way."""
        if not self._CONSUMER_ID_RE.match(consumer_id or ""):
            raise ValueError(f"invalid consumer_id {consumer_id!r}")
        if next_snapshot < 1:
            raise ValueError("next_snapshot must be >= 1")
        tdir = self._table_dir(db, table)
        cdir = os.path.join(tdir, "consumer", consumer_id)
        positions = self._consumer_positions(cdir)
        cur = positions[-1] if positions else None
        if cur is not None and next_snapshot < cur:
            if not strict:
                return  # stale tip from a replayed batch: position holds
            raise ValueError(
                f"consumer {consumer_id!r} is at {cur}; advance to "
                f"{next_snapshot} would move it backward — use "
                "reset_consumer to rewind deliberately"
            )
        try:
            write_json_atomic(
                os.path.join(cdir, f"pos-{int(next_snapshot)}.json"),
                {"updated_ms": int(time.time() * 1000)},
                exclusive=True,
            )
        except CommitConflictError:
            # another worker recorded the same position — idempotent for the
            # POSITION, but the caller just proved LIVENESS: touch the marker
            # so consumer.expiration-time sees a caught-up stream that keeps
            # checkpointing at an unchanged tip as active, not abandoned
            # (expiry reads max(updated_ms, marker mtime))
            try:
                os.utime(os.path.join(cdir, f"pos-{int(next_snapshot)}.json"))
            except OSError:
                pass  # marker pruned by a concurrent faster advance: fine
        # best-effort prune of superseded markers (a marker that vanishes
        # under a concurrent pruner is success, and max-wins is unaffected)
        for p in positions:
            if p < next_snapshot:
                try:
                    os.remove(os.path.join(cdir, f"pos-{p}.json"))
                except FileNotFoundError:
                    pass

    def reset_consumer(
        self, db: str, table: str, consumer_id: str, next_snapshot: int | None = None
    ) -> None:
        """``CALL sys.reset_consumer``: pin the consumer to ``next_snapshot``
        (any direction), or DELETE the consumer when ``next_snapshot`` is
        omitted — Paimon's procedure of the same name. Resetting while the
        consumer's job is live is an operational error (Paimon requires
        stopping the job first); a concurrent advance can out-race the reset.
        """
        if not self._CONSUMER_ID_RE.match(consumer_id or ""):
            raise ValueError(f"invalid consumer_id {consumer_id!r}")
        tdir = self._table_dir(db, table)
        cdir = os.path.join(tdir, "consumer", consumer_id)
        positions = self._consumer_positions(cdir)
        if next_snapshot is None:
            if not positions:
                raise ValueError(f"no consumer {consumer_id!r}")
        elif next_snapshot < 1:
            raise ValueError("next_snapshot must be >= 1")
        else:
            write_json_atomic(
                os.path.join(cdir, f"pos-{int(next_snapshot)}.json"),
                {"updated_ms": int(time.time() * 1000)},
            )
        for p in positions:
            if next_snapshot is None or p != next_snapshot:
                try:
                    os.remove(os.path.join(cdir, f"pos-{p}.json"))
                except FileNotFoundError:
                    pass
        if next_snapshot is None:
            try:
                os.rmdir(cdir)
            except OSError:
                pass  # non-empty (racing advance) or already gone

    # -------------------------------------------------------------- branches
    _BRANCH_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_\-]{0,63}$")

    def _externally_pinned(self, tdir: str) -> set[str]:
        """Branch-local ``data/...`` paths that the PARENT main chain still
        references through fast_forward grafts (main manifest entries of the
        form ``branch/<name>/data/...``).

        A branch sees those files as exclusively owned (plain ``data/``
        paths pass ``_shared_data_path``), so branch-side
        ``expire_snapshots``/``rollback_to`` after a fast_forward would
        otherwise delete data files main's live snapshots and time travel
        still read — the mirror of the ``delete_branch`` guard. Derived from
        main's actual manifests rather than a sticky flag so the pin releases
        itself once main's own expiry drops the grafted snapshots.
        Metadata-only: O(main snapshot manifests), no data file is read.
        """
        norm = os.path.normpath(tdir)
        parent = os.path.dirname(norm)
        if os.path.basename(parent) != "branch":
            return set()  # not a branch dir — main is never pinned this way
        prefix = f"branch/{os.path.basename(norm)}/"
        main_dir = os.path.dirname(parent)
        pinned: set[str] = set()
        for s in load_snapshots(main_dir):
            for f in s.files:
                p = f["path"].replace(os.sep, "/")
                if p.startswith(prefix):
                    pinned.add(os.path.normpath(p[len(prefix):]))
        return pinned

    def _branches(self, tdir: str) -> dict[str, dict]:
        broot = os.path.join(tdir, "branch")
        out: dict[str, dict] = {}
        try:
            names = sorted(os.listdir(broot))
        except FileNotFoundError:
            return out
        for b in names:
            p = os.path.join(broot, b, "BRANCH.json")
            if os.path.exists(p):
                out[b] = read_json(p)
        return out

    def create_branch(
        self, db: str, table: str, branch: str, from_tag: str | None = None
    ) -> None:
        """Paimon branches (``CALL sys.create_branch``): an independent
        snapshot chain over the same table. ``from_tag`` seeds the branch at
        the tagged snapshot (the tag pins the shared data files against main
        expiry); omitted → an empty branch carrying only the schema.

        Metadata-only at any scale: the seed is ONE rewritten manifest whose
        entries point at the parent's immutable data files (``../../data``)
        — no data is copied, 100 TB branches in milliseconds. Branch commits
        write their own ``data/`` under the branch dir; every catalog
        operation (insert/read/compact/changelog/...) works on a branch via
        the ``t$branch_<name>`` address because the branch IS a table dir.
        """
        if not self._BRANCH_NAME_RE.match(branch or ""):
            raise ValueError(f"invalid branch name {branch!r}")
        tdir = self._table_dir(db, table)
        self._latest_schema(tdir)  # main table must exist
        bdir = os.path.join(tdir, "branch", branch)
        if os.path.exists(bdir):
            raise ValueError(f"branch {branch!r} already exists")
        snap = None
        if from_tag is not None:
            snap = resolve_snapshot(load_snapshots(tdir), self._tags(tdir), tag=from_tag)
        seed_id = snap.snapshot_id if snap else 0
        os.makedirs(os.path.join(bdir, "schema"))
        for sp in glob.glob(os.path.join(tdir, "schema", "schema-*.json")):
            shutil.copy2(sp, os.path.join(bdir, "schema", os.path.basename(sp)))
        if snap is not None:
            if snap.dv:
                # the seeded snapshot's deletion vectors travel with it —
                # basename matching makes the ../../ path rewrite moot;
                # a sharded index copies manifest + shard files
                from incubator_paimon_trino_spark.catalog.dv_index import (
                    copy_index_files,
                )

                copy_index_files(tdir, bdir, snap.dv)
            shared = [
                {**f, "path": os.path.join("..", "..", f["path"])} for f in snap.files
            ]
            mname = f"manifest-{seed_id}-seed.json"
            write_json_atomic(
                os.path.join(bdir, "manifest", mname), {"files": shared}
            )
            seeded = dataclasses.replace(snap, files=[], manifests=[mname])
            write_json_atomic(
                os.path.join(bdir, "snapshot", f"snapshot-{seed_id}.json"),
                seeded.to_json(),
            )
            write_json_atomic(
                os.path.join(bdir, "snapshot", "LATEST"), {"snapshot_id": seed_id}
            )
        write_json_atomic(
            os.path.join(bdir, "BRANCH.json"),
            {
                "from_tag": from_tag,
                "from_snapshot": seed_id,
                "created_ms": int(time.time() * 1000),
            },
        )

    def list_branches(self, db: str, table: str) -> list[str]:
        return sorted(self._branches(self._table_dir(db, table)))

    def delete_branch(self, db: str, table: str, branch: str) -> None:
        """Drop the branch and its own data files. Refused while MAIN still
        references files under the branch dir (a fast-forwarded branch's
        commits become part of main's history — deleting them would corrupt
        the main table)."""
        tdir = self._table_dir(db, table)
        bdir = os.path.join(tdir, "branch", branch)
        if not os.path.isdir(bdir):
            raise ValueError(f"no branch {branch!r}")
        prefix = os.path.join("branch", branch) + os.sep
        for s in load_snapshots(tdir):
            if any(f["path"].startswith(prefix) for f in s.files):
                raise ValueError(
                    f"branch {branch!r} was fast-forwarded into main "
                    f"(snapshot {s.snapshot_id} references its files); "
                    "expire main history past it before deleting the branch"
                )
        shutil.rmtree(bdir)

    def fast_forward(self, db: str, table: str, branch: str) -> int:
        """``CALL sys.fast_forward``: make main's history continue with the
        branch's commits. Main snapshots AFTER the branch point are replaced
        (Paimon's contract — the diverged main commits are discarded); the
        branch's commits are grafted on by manifest rewrite, sharing the
        branch's immutable data files in place. Returns the new main tip.

        Metadata-only: per grafted snapshot, one manifest write with paths
        rewritten (inherited ``../../data`` entries → main-relative, branch-
        local entries → ``branch/<name>/data``); no data file moves.
        """
        tdir = self._table_dir(db, table)
        bdir = os.path.join(tdir, "branch", branch)
        meta = self._branches(tdir).get(branch)
        if meta is None:
            raise ValueError(f"no branch {branch!r}")
        base = int(meta.get("from_snapshot", 0))
        branch_new = [s for s in load_snapshots(bdir) if s.snapshot_id > base]
        main_tip = latest_snapshot_id(tdir)
        if main_tip > base:
            if base == 0:
                raise ValueError(
                    f"cannot fast_forward empty-seeded branch {branch!r} over "
                    f"a main history (main tip {main_tip}); branch from a tag"
                )
            # refuses if another branch was seeded from a tag above base
            self.rollback_to(db, table, base)
        import uuid as _uuid

        tip = base
        for s in branch_new:
            rewritten = []
            for f in s.files:
                p = f["path"]
                up = os.path.join("..", "..") + os.sep
                new_p = (
                    os.path.normpath(p) if p.startswith(up) else os.path.join("branch", branch, p)
                )
                # normpath("../../data/x") == "../../data/x"; strip the ../..
                if new_p.startswith(up):
                    new_p = new_p[len(up):]
                rewritten.append({**f, "path": new_p})
            mname = f"manifest-{s.snapshot_id}-ff{_uuid.uuid4().hex[:8]}.json"
            write_json_atomic(
                os.path.join(tdir, "manifest", mname), {"files": rewritten}
            )
            if s.dv:
                # grafted snapshots keep their DV index: copy it into main's
                # namespace (apply matches on basenames, so the stored
                # branch-relative path keys stay valid as-is); sharded
                # indexes copy manifest + shards, already-present files
                # (shards shared across grafted snapshots) copy once
                from incubator_paimon_trino_spark.catalog.dv_index import (
                    copy_index_files,
                )

                copy_index_files(bdir, tdir, s.dv)
            grafted = dataclasses.replace(s, files=[], manifests=[mname])
            write_json_atomic(
                os.path.join(tdir, "snapshot", f"snapshot-{s.snapshot_id}.json"),
                grafted.to_json(),
            )
            tip = s.snapshot_id
        if tip != base or main_tip > base:
            write_json_atomic(
                os.path.join(tdir, "snapshot", "LATEST"), {"snapshot_id": tip}
            )
        # observability only — the maintenance guard (_externally_pinned)
        # derives from main's live manifests, so it self-releases when main
        # expiry drops the grafted snapshots; this flag does not
        write_json_atomic(
            os.path.join(bdir, "BRANCH.json"),
            {**meta, "fast_forwarded_ms": int(time.time() * 1000)},
        )
        return tip

    def read_cdc(self, name: str, from_snapshot: int, to_snapshot: int) -> DataFrame:
        """CDC view of ``(from_snapshot, to_snapshot]``: one row per changed
        primary key with ``_change`` in {'+I', '-U', '+U', '-D'} — the
        UPDATE_BEFORE/UPDATE_AFTER changelog Paimon's changelog-producer
        modes emit, derived here by diffing the two merged states.

        Plan: two merged reads + one full outer join co-partitioned on the
        PK. At 100 TB the join input is two merged table states — for
        incremental pipelines prefer ``read_incremental`` (raw delta rows)
        when upsert pairing isn't needed; this method is the semantic
        completion for consumers that must see before/after images.
        """
        db, _, table = name.partition(".")
        tdir = self._table_dir(db, table)
        schema = self._latest_schema(tdir)
        if not schema.primary_key:
            raise ValueError("read_cdc requires a primary-key table")
        if from_snapshot > to_snapshot:
            raise ValueError(f"from_snapshot {from_snapshot} > to_snapshot {to_snapshot}")
        snaps = load_snapshots(tdir)
        old = resolve_snapshot(snaps, version=from_snapshot) if from_snapshot else None
        return self._cdc_diff(tdir, schema, old, resolve_snapshot(snaps, version=to_snapshot))

    def _cdc_diff(
        self, tdir: str, schema: TableSchema, before: Snapshot | None, after: Snapshot
    ) -> DataFrame:
        """``read_cdc`` of two resolved snapshots (``before`` None: all +I)."""
        pk = schema.primary_key
        value_cols = [f.name for f in schema.fields if f.name not in pk]
        new = self._read_snapshot(tdir, schema, after)
        if before is None:
            return new.withColumn("_change", F.lit("+I"))
        old = self._read_snapshot(tdir, schema, before)
        from pyspark.sql import types as _T

        # comparison twin of each value column: Spark's eqNullSafe rejects
        # MAP types (no defined ordering), so maps compare via their sorted
        # entry arrays — canonical regardless of internal map order. (Maps
        # nested INSIDE structs/arrays would still be rejected by Spark;
        # top-level map value columns are the supported surface.)
        by_type = {f.name: f.dataType for f in new.schema.fields}
        cmp_col = lambda c: (  # noqa: E731
            F.sort_array(F.map_entries(F.col(c))).alias(c)
            if isinstance(by_type[c], _T.MapType)
            else F.col(c).alias(c)
        )
        cmp_struct = F.struct(*[cmp_col(c) for c in value_cols])
        o = old.select(*pk, F.struct(*value_cols).alias("_old"), cmp_struct.alias("_oldc"))
        n = new.select(*pk, F.struct(*value_cols).alias("_new"), cmp_struct.alias("_newc"))
        # materialize once: four classification branches below would other-
        # wise re-run the two merged reads and the join per branch
        j = o.join(n, pk, "full_outer").localCheckpoint()
        inserts = j.filter(F.col("_old").isNull() & F.col("_new").isNotNull()).select(
            *pk, *[F.col(f"_new.{c}").alias(c) for c in value_cols], F.lit("+I").alias("_change")
        )
        deletes = j.filter(F.col("_new").isNull() & F.col("_old").isNotNull()).select(
            *pk, *[F.col(f"_old.{c}").alias(c) for c in value_cols], F.lit("-D").alias("_change")
        )
        changed = j.filter(
            F.col("_old").isNotNull()
            & F.col("_new").isNotNull()
            # null-safe: plain != returns NULL when a struct field is null,
            # silently dropping e.g. a null->3 update from the changelog
            & ~F.col("_oldc").eqNullSafe(F.col("_newc"))
        )
        before = changed.select(
            *pk, *[F.col(f"_old.{c}").alias(c) for c in value_cols], F.lit("-U").alias("_change")
        )
        after = changed.select(
            *pk, *[F.col(f"_new.{c}").alias(c) for c in value_cols], F.lit("+U").alias("_change")
        )
        return inserts.unionByName(before).unionByName(after).unionByName(deletes)

    def table_changelog(
        self,
        name: str,
        from_snapshot: int = 0,
        to_snapshot: int | None = None,
        producer: str | None = None,
        consumer_id: str | None = None,
    ) -> DataFrame:
        """The table's changelog for ``(from_snapshot, to_snapshot]`` under a
        ``changelog_producer`` mode (the reference surfaces this enum as a DDL
        option — ``TrinoTableOptionUtils.java:94-107`` — without executing
        it; executable here):

        - ``input``           — the writer's own rows are the changelog:
          raw (+I/-D) records of the files each commit wrote
          (``plan_commits``), no merge, no join.
        - ``lookup`` / ``full-compaction`` — complete retraction-aware
          changelog: per-commit diff of merged states, emitting
          +I / -U / +U / -D (the UPDATE_BEFORE/AFTER stream).
        - ``none`` (default)  — no before-images are available: same diff
          but without the -U rows, matching Paimon's contract that a
          ``none`` table cannot provide complete changelogs downstream.

        Every row carries ``_snapshot`` (the commit that produced it) and
        ``_change``. One ``read_cdc`` diff (two merged reads + a
        co-partitioned full-outer join) per commit in the range, of the
        snapshots ``plan_commits`` returned: the snapshot list loads once
        per call. Bound history with ``expire_snapshots``; for a raw-speed
        tail without pairing use ``read_incremental``/
        ``read_changelog_stream``.

        Across an expiry gap a compaction closed, ``input`` (like
        ``read_incremental``) loses a delete made inside the gap; the diff
        producers return it (see ``plan_commits``).
        """
        db, _, table = name.partition(".")
        tdir = self._table_dir(db, table)
        schema = self._latest_schema(tdir)
        if producer is None:
            producer = schema.options.get("changelog_producer", "none")
        if producer not in ("input", "lookup", "full-compaction", "none"):
            raise ValueError(f"unknown changelog_producer {producer!r}")
        if producer == "input" and self._dv_enabled(schema):
            # a DV table's deletes are pure metadata — the writer's own rows
            # contain NO -D records, so an 'input' changelog would silently
            # drop every delete downstream. The diff producers read merged
            # (DV-applied) states and emit the full retraction stream.
            raise ValueError(
                "changelog_producer='input' cannot represent deletes on a "
                "deletion-vectors table (deletes write no data rows); use "
                "producer='lookup' or 'full-compaction'"
            )
        if consumer_id is not None:
            # resume from the consumer's recorded NEXT snapshot (Paimon's
            # consumer-id option): next=k means everything below k is consumed
            # → range starts after k-1. An explicit from_snapshot wins (a
            # manual replay); advancement stays explicit via advance_consumer
            # at the caller's commit points — a plan-time auto-advance would
            # mark rows consumed before the lazy DataFrame ever executes.
            if from_snapshot == 0:
                nxt = self.consumer_progress(db, table, consumer_id)
                if nxt is not None:
                    from_snapshot = nxt - 1
        snaps = load_snapshots(tdir)
        snap_ids = {s.snapshot_id for s in snaps}
        tip = snaps[-1].snapshot_id if snaps else 0
        hi = to_snapshot if to_snapshot is not None else tip
        if from_snapshot > 0 and from_snapshot >= tip and from_snapshot not in snap_ids:
            # a position AT or AHEAD of the tip is not expired — the caller
            # simply has nothing new (e.g. a consumer that saved tip+1, or
            # polls after a full-history rewrite): empty range, not an error
            hi = from_snapshot
        elif from_snapshot > 0 and from_snapshot not in snap_ids:
            # an EXPIRED start position must fail loudly (Paimon errors too):
            # diffing against the nearest survivor is only sound for gaps
            # strictly inside the range — widening the FIRST diff would
            # re-deliver changes the caller already consumed
            raise ValueError(
                f"from_snapshot {from_snapshot} has been expired (surviving: "
                f"{sorted(snap_ids)}); resume from a surviving snapshot or "
                "re-bootstrap with from_snapshot=0"
            )
        plan = plan_commits(snaps, from_snapshot, hi)

        if producer == "input":
            if not schema.primary_key:
                raise ValueError("changelog_producer=input needs a primary-key table; "
                                 "append-only tables stream raw rows via read_incremental")
            if schema.options.get("sequence_field"):
                # _seq carries business time, not the commit id — raw rows
                # can't be attributed to snapshots; diff-based producers can.
                raise ValueError(
                    "changelog_producer=input is incompatible with "
                    "sequence_field (rows carry business sequence, not "
                    "commit ids) — use producer='lookup' or 'none'"
                )
            # the files each commit wrote (plan_commits), not a _seq filter
            # over the latest live set: compaction re-stamps every live row
            # with its own id, so a _seq filter would re-emit the whole table
            # for the compact commit and return EMPTY for pre-compaction
            # ranges whose raw rows left the live set
            change = F.when(F.col(KIND_COL) == "D", "-D").otherwise("+I")
            parts = [
                self._read_files(tdir, schema, dataclasses.replace(s, files=files)).select(
                    *[f.name for f in schema.fields],
                    F.lit(s.snapshot_id).cast("bigint").alias("_snapshot"),
                    change.alias("_change"),
                )
                for _, s, files in plan
                if files
            ]
            if not parts:
                # "long", not "bigint": StructType.add parses JSON type names
                empty = schema.spark_schema().add("_snapshot", "long").add("_change", "string")
                return self.spark.createDataFrame([], empty)
            return functools.reduce(DataFrame.unionByName, parts)

        # diff against the NEAREST surviving predecessor: with expired
        # history (incl. mid-history gaps where only a tagged snapshot
        # survives) this collapses the missing commits into one correct
        # diff — a full +I bootstrap would drop -D rows and re-emit
        # unchanged rows; no predecessor degrades to the full initial image.
        parts = [
            self._cdc_diff(tdir, schema, prev, s).withColumn(
                "_snapshot", F.lit(s.snapshot_id).cast("bigint")
            )
            for prev, s, _ in plan
        ]
        if not parts:
            empty = schema.spark_schema().add("_change", "string").add("_snapshot", "long")
            return self.spark.createDataFrame([], empty)
        out = functools.reduce(DataFrame.unionByName, parts)
        if producer == "none":
            out = out.filter(F.col("_change") != "-U")
        return out

    def expire_partitions(
        self,
        db: str,
        table: str,
        older_than: str | None = None,
        expiration_time: str | None = None,
        partition_column: str | None = None,
        dry_run: bool = False,
    ) -> dict:
        """Paimon's partition expiration (``partition.expiration-time``
        CoreOption / ``CALL sys.expire_partitions``): drop WHOLE partitions
        whose partition value is older than a cutoff, as one METADATA-ONLY
        commit — no data file is read or rewritten, the expired entries just
        leave the live file list (snapshot isolation keeps them
        time-travelable until snapshot expiration deletes the bytes). At
        100 TB this is the retention mechanism for date-partitioned fact
        tables: O(live files) driver work on manifest entries, zero data IO.

        Cutoff forms: ``older_than`` is an absolute literal compared against
        the partition value in the COLUMN'S OWN type (dates ISO, integrals
        numeric, strings lexicographic — Paimon's timestamp-formatter
        patterns 'yyyy-MM-dd'/'yyyyMMdd' order correctly as strings);
        ``expiration_time`` is Paimon's relative form ('7 d': cutoff =
        now − duration, inherently wall-clock). Values STRICTLY BELOW the
        cutoff expire; null partition values never expire (conservative
        keep). ``partition_column`` defaults to the first partition key —
        Paimon likewise formats the leading partition field.

        The commit is OVERWRITE-kind with a fresh single manifest (doubles
        as metadata compaction); the manifest STREAM emits nothing for it —
        no files are added, matching Paimon's no-changelog contract for
        expiration. DV metadata carries forward: marks pointing at dropped
        files are dangling-but-harmless (the anti-join never sees those
        paths again).
        """
        tdir = self._table_dir(db, table)
        schema = self._latest_schema(tdir)
        if not schema.partition_keys:
            raise ValueError("expire_partitions requires a partitioned table")
        col = partition_column or schema.partition_keys[0]
        if col not in schema.partition_keys:
            raise ValueError(
                f"partition_column {col!r} is not a partition key {schema.partition_keys}"
            )
        ddl = next(f.type for f in schema.fields if f.name == col)
        if older_than is not None:
            # absolute form: the user named a literal in the column's own
            # type — compare in that domain
            cutoff = _typed_partition_cutoff(older_than, ddl)
            parse = lambda raw: _typed_partition_cutoff(raw, ddl)  # noqa: E731
        elif expiration_time is not None:
            # relative form ('7 d', and the auto partition.expiration-time
            # commit hook): the cutoff is wall-clock, so only DATE-LIKE
            # partition values may expire. Paimon skips values its
            # timestamp-formatter cannot parse; comparing a raw int/string
            # against a yyyyMMdd-sized cutoff instead would silently expire
            # an ENTIRE non-date partition set (e.g. int region ids) on the
            # next commit. Compare in DATE space; unparseable values are
            # kept by the loop's conservative-keep.
            ms = _parse_duration_ms(expiration_time)
            cut_dt = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None) - _dt.timedelta(
                milliseconds=ms
            )
            t = ddl.strip().lower()
            if t.startswith("timestamp"):
                cutoff = cut_dt
                parse = lambda raw: _typed_partition_cutoff(raw, ddl)  # noqa: E731
            else:
                cutoff = cut_dt.date()
                parse = _date_like_partition_value
        else:
            raise ValueError("expire_partitions needs older_than or expiration_time")
        prev = self._latest_snapshot(tdir)
        if prev is None:
            return {"expired_partitions": 0, "expired_files": 0, "snapshot": None}
        keep, drop, gone_parts = [], [], set()
        for e in prev.files:
            raw = partition_values(e["path"]).get(col)
            try:
                v = None if raw is None else parse(raw)
            except (ValueError, TypeError):
                v = None  # unparseable partition value: conservative keep
            if v is not None and v < cutoff:
                drop.append(e)
                gone_parts.add(raw)
            else:
                keep.append(e)
        if not drop or dry_run:
            return {
                "expired_partitions": len(gone_parts),
                "expired_files": len(drop),
                "snapshot": None,
            }
        version = self._overwrite_live_set(tdir, schema, prev, keep)
        return {
            "expired_partitions": len(gone_parts),
            "expired_files": len(drop),
            "snapshot": version,
        }

    def _overwrite_live_set(self, tdir: str, schema: TableSchema, prev, keep: list[dict]) -> int:
        """Publish a METADATA-ONLY commit whose live set is ``keep`` — the
        shared tail of partition expiration and partition-predicate DELETE.
        OVERWRITE-kind (replaces the accumulated manifest chain with one
        fresh manifest, which doubles as metadata compaction); no data file
        is read, written, or removed — dropped entries stay time-travelable
        until snapshot expiration reclaims the bytes. DV metadata carries
        forward (marks pointing at dropped files are dangling-but-harmless)."""
        version = prev.snapshot_id + 1
        snap = Snapshot(
            snapshot_id=version,
            schema_id=schema.schema_id,
            commit_user=self.commit_user,
            commit_identifier=version,
            commit_kind=COMMIT_OVERWRITE,
            timestamp_ms=int(time.time() * 1000),
            files=keep,
            record_count=sum(e["record_count"] for e in keep),
        )
        if prev.dv is not None:
            snap.dv = prev.dv
            snap.dv_marks = prev.dv_marks
        self._publish_snapshot(tdir, snap, keep, [])
        return version

    def drop_partitions(self, db: str, table: str, condition) -> dict:
        """DELETE whole partitions by a partition-column predicate — the
        append-table DELETE (Paimon's drop-partition overwrite; PK tables
        delete by key through ``delete_where``'s -D rows instead).

        The predicate is evaluated BY SPARK over one row per live partition
        (metadata-sized: distinct partition tuples from the manifest
        entries, typed with the partition columns' own types), so every
        predicate form Spark can evaluate works — =, IN, ranges, AND/OR —
        with exact engine semantics, never a Python re-implementation. A
        predicate referencing any non-partition column fails loudly: a
        row-level DELETE on an append table would need rewrites this engine
        deliberately refuses (matching Paimon's append-table contract).
        The commit is the metadata-only ``_overwrite_live_set`` — zero data
        IO at any scale.
        """
        tdir = self._table_dir(db, table)
        schema = self._latest_schema(tdir)
        pkeys = schema.partition_keys
        if not pkeys:
            raise ValueError(
                "DELETE on a table without a primary key requires a partition "
                "predicate on a partitioned table (append tables delete whole "
                "partitions; row-level deletes need a primary key)"
            )
        prev = self._latest_snapshot(tdir)
        if prev is None:
            return {"deleted_partitions": 0, "deleted_files": 0, "snapshot": None}
        by_tuple: dict[tuple, list[dict]] = {}
        for e in prev.files:
            vals = partition_values(e["path"])
            by_tuple.setdefault(tuple(vals.get(k) for k in pkeys), []).append(e)
        raw_cols = [f"_raw_{i}" for i in range(len(pkeys))]
        ddl_of = {f.name: f.type for f in schema.fields}
        raw_df = self.spark.createDataFrame(
            [tuple(t) for t in sorted(by_tuple, key=str)],
            ", ".join(f"{c} string" for c in raw_cols),
        )
        typed = raw_df.select(
            *raw_cols,
            *[
                F.col(c).cast(castable_ddl(ddl_of[k])).alias(k)
                for c, k in zip(raw_cols, pkeys)
            ],
        )
        try:
            doomed_rows = typed.filter(condition).collect()  # one row per partition
        except Exception as ex:
            if "UNRESOLVED_COLUMN" in str(ex) or "cannot be resolved" in str(ex):
                raise ValueError(
                    "DELETE on an append table must reference partition columns "
                    f"only ({pkeys}); for row-level deletes use a primary-key table"
                ) from ex
            raise
        doomed = {tuple(r[c] for c in raw_cols) for r in doomed_rows}
        if not doomed:
            return {"deleted_partitions": 0, "deleted_files": 0, "snapshot": None}
        keep = [e for t, es in by_tuple.items() if t not in doomed for e in es]
        n_files = sum(len(by_tuple[t]) for t in doomed)
        version = self._overwrite_live_set(tdir, schema, prev, keep)
        return {
            "deleted_partitions": len(doomed),
            "deleted_files": n_files,
            "snapshot": version,
        }

    def expire_snapshots(
        self, db: str, table: str, keep_last: int = 1, older_than_ms: int | None = None
    ) -> dict:
        """Expire all but the newest ``keep_last`` snapshots and delete data
        files no surviving snapshot references — Paimon's snapshot
        expiration (``snapshot.num-retained.*`` options), the operation that
        bounds a lake table's storage over time.

        ``older_than_ms`` adds Paimon's AGE dimension (``snapshot.
        time-retained`` / the procedure's ``older_than``): only snapshots
        committed BEFORE the cutoff expire, so ``keep_last`` becomes the
        retention floor (num-retained.min) instead of the exact count —
        recent history survives regardless of count, old history goes
        regardless of recency pressure.

        Time travel to an expired version then fails with the same "no
        snapshot" error as a never-existing version. The live view is
        untouched: the newest snapshot's file list survives by construction.
        Metadata-only planning — the file diff is computed from manifests;
        data files are deleted, never read.
        """
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        tdir = self._table_dir(db, table)
        snaps = load_snapshots(tdir)
        tagged = set(self._tags(tdir).values())
        # registered consumers pin retention (Paimon's consumer mechanism):
        # every snapshot at or above the smallest recorded next-position
        # survives, and so does its immediate predecessor — the changelog
        # diff for snapshot k needs k-1 as its baseline. Stale consumers
        # are released manually with reset_consumer, or automatically here
        # when the table sets consumer.expiration-time (Paimon's consumer
        # expiration): a consumer that has not advanced within the window
        # is deleted and stops pinning — an abandoned checkpoint must not
        # hold a 100 TB table's history forever.
        consumers = self._consumers(tdir)
        exp_opt = self._latest_schema(tdir).options.get("consumer_expiration_time")
        dead_consumers = 0
        if exp_opt:
            stale_before = time.time() * 1000 - _parse_duration_ms(exp_opt)
            for cid, meta in list(consumers.items()):
                updated = int(meta.get("updated_ms", 0) or 0)
                # updated_ms == 0 means the marker's metadata could not be
                # read — the _consumers docstring's concurrent-advance race
                # (position survives via the file NAME). That consumer is
                # ACTIVE, not stale: deleting it would unregister a live
                # stream and expire snapshots underneath it. Skip; a truly
                # abandoned consumer reports a real, old timestamp.
                if updated and updated < stale_before:
                    shutil.rmtree(os.path.join(tdir, "consumer", cid), ignore_errors=True)
                    del consumers[cid]
                    dead_consumers += 1
        min_next = min(
            (int(c["next_snapshot"]) for c in consumers.values()), default=None
        )
        doomed = [
            s
            for s in snaps[:-keep_last]
            if s.snapshot_id not in tagged
            and (min_next is None or s.snapshot_id < min_next - 1)
            and (older_than_ms is None or s.timestamp_ms < older_than_ms)
        ]
        kept = [s for s in snaps if s not in doomed]
        if not doomed:
            return {
                "expired_snapshots": 0,
                "deleted_files": 0,
                "expired_consumers": dead_consumers,
            }
        live = {f["path"] for s in kept for f in s.files}
        dead = {f["path"] for s in doomed for f in s.files} - live
        # files OUTSIDE this chain's namespace are shared, not owned: a
        # branch's inherited "../../data" entries belong to the parent table,
        # and a fast-forwarded "branch/<n>/data" entry is reclaimed by
        # delete_branch — expiring metadata must never delete either
        dead = {p for p in dead if not _shared_data_path(p)}
        # the mirror direction: this chain may BE a fast-forwarded branch
        # whose local data/ files main's grafted manifests still reference
        dead -= self._externally_pinned(tdir)
        # a concurrent expirer may be deleting an overlapping doomed set:
        # a file already gone is SUCCESS for this pass, not an error
        for rel in sorted(dead):
            p = os.path.join(tdir, rel)
            try:
                os.remove(p)
            except FileNotFoundError:
                pass
            _rm_sidecar(p)  # the colocated file-index dies with its data file
        for s in doomed:
            try:
                os.remove(os.path.join(tdir, "snapshot", f"snapshot-{s.snapshot_id}.json"))
            except FileNotFoundError:
                pass
        self._prune_empty_dirs(os.path.join(tdir, "data"))
        self._gc_manifests(tdir)
        self._gc_dv_indexes(tdir, kept, doomed)
        return {
            "expired_snapshots": len(doomed),
            "deleted_files": len(dead),
            "expired_consumers": dead_consumers,
        }

    @staticmethod
    def _gc_dv_indexes(tdir: str, kept: list[Snapshot], doomed: list[Snapshot]) -> None:
        """Reap deletion-vector index files owned by expired/rolled-back
        snapshots (nonce-named per commit; a kept snapshot referencing the
        same name — fast-forward copies keep names, and SHARD files carry
        forward across commits by design — pins it). Liveness is resolved
        to the full file set (manifest + shards), so a shard still listed
        by any kept snapshot's manifest survives its writer's expiry."""
        from incubator_paimon_trino_spark.catalog.dv_index import index_file_names

        live: set[str] = set()
        for s in kept:
            if s.dv:
                live.update(index_file_names(tdir, s.dv))
                live.add(s.dv)
        for s in doomed:
            if not s.dv:
                continue
            for name in index_file_names(tdir, s.dv) + [s.dv]:
                if name not in live:
                    try:
                        os.remove(os.path.join(tdir, "index", name))
                    except FileNotFoundError:
                        pass

    def remove_orphan_files(
        self, db: str, table: str, older_than_ms: int | None = None, dry_run: bool = False
    ) -> dict:
        """Delete data files no snapshot references (Paimon's
        ``CALL sys.remove_orphan_files``): the leftovers of a writer that
        crashed between finalizing its files into ``data/`` and publishing
        its snapshot, plus stale ``.staging-*`` attempt directories. Regular
        commits never need this — conflict losers clean up after themselves —
        but crash debris would otherwise sit in the directory forever (only
        the snapshot manifest, not the listing, defines the table; the
        streaming changelog path globs by commit id, so debris at an already-
        published id would also be misread there).

        Two safety guards, both required:
        - files whose ``c<N>-`` commit id exceeds the latest PUBLISHED
          snapshot are in-flight (a live writer finalizes at latest+1 before
          publishing) and are never touched, same horizon rule as
          ``_gc_manifests``;
        - files modified at/after ``older_than_ms`` (epoch millis; default
          now − 24 h, Paimon's default) are kept, so a same-id race with a
          slow publisher can't be swept mid-commit.

        Metadata-only planning: the referenced set comes from every
        snapshot's manifests (tagged snapshots persist as snapshot files, so
        tags are covered); data files are deleted, never read.
        """
        tdir = self._table_dir(db, table)
        cutoff = (
            older_than_ms if older_than_ms is not None else (time.time() - 24 * 3600) * 1000
        )
        snaps = load_snapshots(tdir)
        horizon = snaps[-1].snapshot_id if snaps else 0
        # manifests store relpath-native separators; normalize to "/" so the
        # membership test below matches on Windows too (else every referenced
        # file misses the set and becomes deletable — GC data loss)
        referenced = {f["path"].replace("\\", "/") for s in snaps for f in s.files}
        deleted = kept_in_flight = 0
        for p in glob.glob(os.path.join(tdir, "data", "**", "*.*"), recursive=True):
            if not os.path.isfile(p):
                continue
            rel = os.path.relpath(p, tdir)
            if rel.replace(os.sep, "/") in referenced:
                continue
            if p.endswith(_FIDX_SUFFIX):
                # a file-index sidecar is live iff ITS DATA FILE is referenced
                # (the sidecar itself never appears in manifests); an orphaned
                # one falls through to the same horizon + mtime rules as its
                # data file — its basename starts with the same c<N>- id
                if rel[: -len(_FIDX_SUFFIX)].replace(os.sep, "/") in referenced:
                    continue
            m = re.match(r"c(\d+)-", os.path.basename(p))
            if m is None or int(m.group(1)) > horizon:
                kept_in_flight += 1
                continue
            if os.path.getmtime(p) * 1000 >= cutoff:
                kept_in_flight += 1
                continue
            deleted += 1
            if not dry_run:
                os.remove(p)
        staging_removed = 0
        day_ago = (time.time() - 24 * 3600) * 1000
        for d in glob.glob(os.path.join(tdir, ".staging-*")):
            # In-flight rule for staging dirs: above the snapshot horizon the
            # dir may belong to a LIVE writer (writers finalize at latest+1
            # before publishing), so a caller-supplied aggressive older_than
            # must not sweep it — but a writer that crashed during a table's
            # FIRST commit also sits above the horizon forever, so instead of
            # immortality those dirs get a hard 24 h mtime floor (no live
            # writer holds a staging dir for a day — _staging_dir contract).
            # At/below the horizon the caller's cutoff applies as-is.
            sm = re.match(r"\.staging-c(\d+)-", os.path.basename(d))
            above = sm is None or int(sm.group(1)) > horizon
            eff_cutoff = min(cutoff, day_ago) if above else cutoff
            try:
                if os.path.getmtime(d) * 1000 < eff_cutoff:
                    staging_removed += 1
                    if not dry_run:
                        shutil.rmtree(d, ignore_errors=True)
                else:
                    kept_in_flight += 1
            except OSError:
                pass
        # DV index files follow the same lifecycle rules: a writer links its
        # dv-<version>-<nonce>.json BEFORE publishing, so an unreferenced one
        # above the horizon may belong to a live commit (kept), while one
        # at/below the horizon lost its race/crashed and is debris
        from incubator_paimon_trino_spark.catalog.dv_index import index_file_names

        live_dv: set[str] = set()
        for s in snaps:
            if s.dv:
                live_dv.update(index_file_names(tdir, s.dv))
                live_dv.add(s.dv)
        dv_removed = 0
        for p in sorted(
            glob.glob(os.path.join(tdir, "index", "dv-*.json"))
            + glob.glob(os.path.join(tdir, "index", "dvm-*.json"))
        ):
            name = os.path.basename(p)
            if name in live_dv:
                continue
            dm = re.match(r"dvm?-(\d+)-", name)
            if dm is None or int(dm.group(1)) > horizon or os.path.getmtime(p) * 1000 >= cutoff:
                kept_in_flight += 1
                continue
            dv_removed += 1
            if not dry_run:
                try:
                    os.remove(p)
                except FileNotFoundError:
                    pass
        if not dry_run:
            self._prune_empty_dirs(os.path.join(tdir, "data"))
        return {
            "deleted_files": deleted,
            "deleted_staging_dirs": staging_removed,
            "deleted_dv_indexes": dv_removed,
            "skipped_in_flight": kept_in_flight,
        }

    def rebuild_file_index(self, db: str, table: str, force: bool = False) -> dict:
        """Backfill file-index sidecars for live data files missing them.

        A table that enables ``file-index.*`` options AFTER writing history
        (set_options) indexes only its post-enable commits — earlier files
        stay probe-unknown (kept on every scan) until compaction rewrites
        them or this maintenance op backfills in place. ``force=True``
        rebuilds every live sidecar (e.g. after changing items/fpp sizing).

        One build job over only the missing files of every writing schema
        (the job a commit runs); idempotent; metadata untouched, so no new
        snapshot.
        Shared entries (a branch's inherited ``../../data`` files) are
        skipped — their sidecars belong to the parent table's lifecycle.
        """
        tdir = self._table_dir(db, table)
        schema = self._latest_schema(tdir)
        if not _file_index_specs(schema):
            raise ValueError(
                f"{db}.{table} has no file-index options; set "
                "file-index.bloom-filter.columns / file-index.bitmap.columns first"
            )
        snap = self._latest_snapshot(tdir)
        # group by WRITING schema: a renamed column's physical name inside an
        # old file differs from the current one (_read_files maps by field id
        # for the same reason) — reading old files by the current name would
        # produce all-NULL columns and an all-empty sidecar that then FALSELY
        # drops the file on every probe
        todo: dict[int, list[str]] = {}
        skipped = 0
        for e in snap.files if snap else []:
            if e.get("format", "parquet") != "parquet" or _shared_data_path(e["path"]):
                skipped += 1
                continue
            p = os.path.join(tdir, e["path"])
            if force or not os.path.exists(p + _FIDX_SUFFIX):
                todo.setdefault(e["schema_id"], []).append(p)
        spec_fids = {s.fid for s in _file_index_specs(schema)}
        read_names: dict[str, dict[int, str]] = {}
        for sid, group in sorted(todo.items()):
            ws = self._schema(tdir, sid) if sid != schema.schema_id else schema
            names = {f.id: f.name for f in ws.fields if f.id in spec_fids}
            if len(names) < len(spec_fids):
                # an indexed column added AFTER these files were written: the
                # files can't contain it, and a probe on it never matches
                # their rows anyway — skip rather than half-index
                skipped += len(group)
                continue
            read_names.update(dict.fromkeys(group, names))
        built = build_file_indexes(self.spark, list(read_names), schema, read_names=read_names)
        return {"built": built, "skipped": skipped}

    def _grid_cells(self, df: DataFrame, schema: TableSchema, order_by: list[str]):
        """Per-column grid cells for the space-filling-curve keys.

        Each column maps to a cell on a 2^bits equal-width grid between its
        own min/max (ONE scalar agg over the compaction input — the rewrite
        reads everything anyway). NULLs and degenerate (constant / all-null)
        columns land in cell 0 — they cluster together at the low end, which
        is exactly the min/max-stats-friendly placement. Equal-width (not
        equal-frequency) cells: heavy skew degrades clustering quality,
        never correctness — the same trade Paimon's byte-slice keys make.
        Returns (cell Columns, bits per column).
        """
        k = len(order_by)
        bits = min(16, 60 // k)  # ≤ 60 total: the key must stay a positive bigint
        cells = 1 << bits
        by_name = {f.name: f for f in schema.fields}

        def as_double(name: str):
            d = by_name[name].type.lower()
            if d == "date":
                return F.unix_date(F.col(name)).cast("double")
            if d.startswith("timestamp"):
                # ntz → ltz shift is a constant offset: monotonic, grid-safe
                return F.unix_micros(F.col(name).cast("timestamp_ltz")).cast("double")
            if _zorderable_ddl(d):
                return F.col(name).cast("double")
            raise ValueError(
                f"zorder column {name!r} has type {by_name[name].type!r}; "
                "numeric, date, or timestamp required (strings have no "
                "grid embedding — use strategy='order' for a leading string)"
            )

        nums = [as_double(c) for c in order_by]
        row = df.agg(
            *[a for i, n in enumerate(nums) for a in (F.min(n).alias(f"lo{i}"), F.max(n).alias(f"hi{i}"))]
        ).first()
        out = []
        for j, n in enumerate(nums):
            lo, hi = row[f"lo{j}"], row[f"hi{j}"]
            if lo is None or hi is None or lo == hi:
                out.append(F.lit(0).cast("bigint"))  # constant/all-null column
                continue
            cell = (
                F.least(
                    F.lit(cells - 1),
                    F.greatest(
                        F.lit(0),
                        F.width_bucket(n, F.lit(float(lo)), F.lit(float(hi)), F.lit(cells)) - 1,
                    ),
                )
                .cast("bigint")
            )
            out.append(F.coalesce(cell, F.lit(0).cast("bigint")))
        return out, bits

    def _zorder_expr(self, df: DataFrame, schema: TableSchema, order_by: list[str]):
        """Morton (Z-order) key over ``order_by`` as built-in expressions:
        the grid cells' bits interleave into one BIGINT via shift/and/or
        expressions, so the whole key stays inside whole-stage codegen."""
        cells, bits = self._grid_cells(df, schema, order_by)
        k = len(cells)
        z = F.lit(0).cast("bigint")
        for j, cell in enumerate(cells):
            for i in range(bits):
                z = z.bitwiseOR(
                    F.shiftleft(F.shiftright(cell, i).bitwiseAND(F.lit(1)), i * k + j)
                )
        return z

    def _hilbert_expr(self, df: DataFrame, schema: TableSchema, order_by: list[str]):
        """Hilbert-curve key over ``order_by`` (Paimon ``order_strategy =>
        'hilbert'``): same grid as zorder, but cells map to their distance
        along the Hilbert curve — every curve step moves ONE grid cell in
        ONE dimension (no Morton jumps), so file boxes are tighter for the
        same sort. The bit transform has no shift/or closed form, so the key
        is an Arrow-batched pandas_udf over numpy (vectorized per batch,
        maintenance-path only — the rewrite's shuffle dominates it)."""
        from pyspark.sql.functions import pandas_udf

        cells, bits = self._grid_cells(df, schema, order_by)

        def _hkey(*cols):  # no annotations: varargs type hints unsupported
            import numpy as np
            import pandas as pd

            from incubator_paimon_trino_spark.functions.hilbert import hilbert_index

            arr = np.stack([c.to_numpy(dtype="int64") for c in cols], axis=1)
            return pd.Series(hilbert_index(arr, bits))

        return pandas_udf(_hkey, "bigint")(*cells)

    def compact(
        self,
        db: str,
        table: str,
        order_by: list[str] | None = None,
        strategy: str = "order",
    ) -> int:
        """Rewrite the table's live data into one fresh commit (COMPACT kind).

        The LSM analogue of Paimon's compaction: many small per-commit files
        (and, for PK tables, accumulated changelog rows) collapse into the
        merged state written once. Reads before/after are equivalent; history
        stays time-travelable because old snapshots keep their file lists.

        ``order_by`` is Paimon's sort compaction (``CALL sys.compact(...,
        order_strategy => 'order', order_by => cols)``): the rewrite is
        range-partitioned + sorted on the given columns so every output file
        covers a narrow key range and manifest min/max skipping prunes
        range predicates to a handful of files. On bucketed tables the
        bucket layout is preserved and sorting happens within buckets.

        ``strategy='zorder'`` (Paimon ``order_strategy => 'zorder'``) sorts by
        the interleaved-bit Morton code of ALL ``order_by`` columns instead of
        lexicographically: per-file min/max become tight boxes in EVERY
        dimension, so predicates on any subset of the columns prune — a
        trailing-column predicate under lexicographic order prunes nothing.
        Columns normalize to a 2^bits equal-width grid between their min/max
        (one scalar agg; ``width_bucket``), bits interleave as built-in
        bitwise expressions — everything whole-stage-codegen, no UDF.

        ``strategy='hilbert'`` (Paimon ``order_strategy => 'hilbert'``) sorts
        by the Hilbert-curve distance over the same grid — each curve step
        moves one cell in one dimension (no Morton power-of-two jumps), so
        file boxes are tighter for the same rewrite cost; the key is an
        Arrow-batched numpy transform (``functions/hilbert.py``).
        """
        if strategy not in ("order", "zorder", "hilbert"):
            raise ValueError(
                f"unknown compaction strategy {strategy!r} (have order, zorder, hilbert)"
            )
        if strategy in ("zorder", "hilbert") and (not order_by or len(order_by) < 2):
            raise ValueError(
                f"{strategy} needs >= 2 order_by columns (a single column is "
                "plain sort compaction — use strategy='order')"
            )
        tdir = self._table_dir(db, table)
        schema = self._latest_schema(tdir)
        prev = self._latest_snapshot(tdir)
        if prev is None:
            raise ValueError(f"nothing to compact in {db}.{table}")
        # merged view, STORAGE form — re-storing padded CHAR bytes would
        # break the rtrimmed-canonical invariant predicates and stats rely
        # on; use_fallback=False — compaction rewrites THIS branch's files
        # only (fallback is a scan-time option; committing the fallback
        # branch's rows as main data would permanently shadow the branch)
        merged = self.read_table(f"{db}.{table}", pad_char=False, use_fallback=False)
        version = prev.snapshot_id + 1

        out = merged
        if schema.primary_key:
            # sequence_field tables keep BUSINESS sequence numbers through
            # compaction — stamping the commit id here would let a later
            # business-older insert (large user sequence) overwrite the
            # compacted state, inverting the sequence_field contract.
            out = out.withColumn(KIND_COL, F.lit("I")).withColumn(
                SEQ_COL, _sequence_expr(schema, version)
            )
        if order_by:
            known = {f.name for f in schema.fields}
            bad = [c for c in order_by if c not in known]
            if bad:
                raise ValueError(f"order_by columns not in table: {bad}")
        # size the rewrite by data volume, not input file count — the whole
        # point of compaction is collapsing many small files, so target
        # ~128 MB outputs (Paimon's target-file-size default). Sorted
        # rewrites honor the table's clustering_partitions pin if set (same
        # knob as write clustering); bucketed tables keep their buckets and
        # sort within them (a dynamic-bucket rewrite brings no new key, so
        # every row keeps its indexed bucket and no index delta is written).
        target = 128 * 1024 * 1024
        total = sum(f.get("size_bytes", 0) for f in prev.files)
        n_parts = max(1, -(-total // target))
        if order_by:
            n_parts = int(schema.options.get("clustering_partitions", "0") or 0) or n_parts
        attempt = _Attempt()
        try:
            files = self._write_data_files(
                tdir, schema, out, version, attempt,
                sort_cols=order_by, strategy=strategy, n_ranges=n_parts,
            )
            for e in files:
                # provenance marker: $ro serves exactly the files a compaction
                # wrote. Entry metadata CARRIES FORWARD through later commits'
                # accumulated file lists, so the read-optimized state survives
                # expiry of the COMPACT snapshot JSON itself, and an OVERWRITE
                # (which replaces the whole live set) clears it naturally.
                e["source"] = "compact"
            snap = Snapshot(
                snapshot_id=version,
                schema_id=schema.schema_id,
                commit_user=self.commit_user,
                commit_identifier=version,
                commit_kind=COMMIT_COMPACT,
                timestamp_ms=int(time.time() * 1000),
                files=files,  # replaces the live set
                record_count=sum(e["record_count"] for e in files),
            )
        except BaseException:
            self._discard_attempt(tdir, attempt)
            raise
        # compaction rewrites the live set → one fresh manifest, no bases:
        # this is also the METADATA compaction that keeps long histories'
        # manifest chains short
        self._publish_attempt(tdir, attempt, snap, files, [])
        return version

    def analyze(self, db: str, table: str) -> dict:
        """ANALYZE TABLE: per-column min/max/null-count/NDV into the table
        metadata — the statistics input the reference never provides to its
        engine (``getTableProperties`` returns empty,
        ``TrinoMetadataBase.java:132-136``); a documented free improvement.
        """
        from pyspark.sql import types as _T  # noqa: PLC0415

        # storage form: ANALYZE min/max must agree with the manifest's
        # file stats (both describe the stored bytes), and the rpad
        # projection would be pure overhead on a full-table scan;
        # use_fallback=False — the stats describe THIS branch's files
        df = self.read_table(f"{db}.{table}", pad_char=False, use_fallback=False)
        aggs = [F.count(F.lit(1)).alias("__rows")]  # one pass, not count()+agg
        scalar_cols = []
        for f in df.schema.fields:
            c = f.name
            aggs.append(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nulls"))
            if isinstance(f.dataType, (_T.MapType, _T.ArrayType, _T.StructType)):
                # maps are unorderable (min/max/NDV throw DATATYPE_MISMATCH)
                # and array/struct extremes are meaningless as stats — a
                # complex column records null_count only, like Paimon's
                # colstats, instead of making the whole table unanalyzable
                continue
            scalar_cols.append(c)
            aggs += [
                F.min(c).cast("string").alias(f"{c}__min"),
                F.max(c).cast("string").alias(f"{c}__max"),
                F.approx_count_distinct(c).alias(f"{c}__ndv"),
            ]
        row = df.agg(*aggs).collect()[0].asDict()
        tdir = self._table_dir(db, table)
        snap = self._latest_snapshot(tdir)
        stats = {
            "row_count": int(row["__rows"] or 0),
            # which version the stats describe (staleness is observable), and
            # the live byte size from commit metadata — the CBO input sql()
            # uses for its broadcast decision (see _broadcast_by_stats)
            "snapshot_id": snap.snapshot_id if snap else 0,
            "total_size_bytes": sum(f.get("size_bytes", 0) for f in (snap.files if snap else [])),
            "columns": {},
        }
        for f in df.schema.fields:
            scalar = f.name in scalar_cols
            stats["columns"][f.name] = {
                "min": row[f"{f.name}__min"] if scalar else None,
                "max": row[f"{f.name}__max"] if scalar else None,
                "null_count": int(row[f"{f.name}__nulls"] or 0),
                "ndv": int(row[f"{f.name}__ndv"] or 0) if scalar else 0,
            }
        write_json_atomic(os.path.join(tdir, "stats.json"), stats)
        return stats

    def stats_of(self, db: str, table: str) -> dict | None:
        p = os.path.join(self._table_dir(db, table), "stats.json")
        return read_json(p) if os.path.exists(p) else None

    def _broadcast_by_stats(self, db: str, table: str, df: DataFrame) -> DataFrame:
        """Statistics → plan decision (the CBO input the reference never
        provides — ``getTableProperties`` returns empty,
        ``TrinoMetadataBase.java:132-136``): a table whose ANALYZE-recorded
        byte size fits under ``spark.sql.autoBroadcastJoinThreshold`` gets a
        broadcast hint, so joins against it plan as BroadcastHashJoin at
        COMPILE time. Spark's own size estimate cannot see through the
        merge-on-read plan (a groupBy's output defaults to a huge estimate),
        so for PK tables AQE would otherwise only discover the broadcast at
        runtime, after a wasted shuffle-write of the big side.

        Staleness guard: stats describe ``stats.snapshot_id``; if the table
        has grown since (live commit-metadata size now over 4x the recorded
        size), the hint is withheld rather than broadcasting a formerly-small
        table that is no longer small.
        """
        st = self.stats_of(db, table)
        if not st:
            return df
        thr = _parse_byte_conf(
            self.spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
        )
        size = int(st.get("total_size_bytes", 0) or 0)
        if thr <= 0 or size <= 0 or size > thr:
            return df
        snap = self._latest_snapshot(self._table_dir(db, table))
        if snap is not None and snap.snapshot_id != st.get("snapshot_id"):
            live = sum(f.get("size_bytes", 0) for f in snap.files)
            if live > 4 * size or live > thr:
                return df
        return df.hint("broadcast")

