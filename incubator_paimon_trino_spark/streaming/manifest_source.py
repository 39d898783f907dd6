"""Manifest-driven Structured Streaming source — Paimon's own source shape.

The file-tail source (``streaming/changelog.py``) discovers work by LISTING
DATA FILES, which leaves three documented gaps: a trigger can list a commit
race loser's files (at-least-once duplicates), a COMPACT commit's rewrites
are indistinguishable from writer input (re-emission), and the DV
retraction side's static join is resolved at stream build time (marks
committed later against unseen files join to nothing). Paimon's production
source avoids all three by planning each increment FROM THE SNAPSHOT
MANIFESTS — the reference stores that machinery's DDL options without
executing them (``common/TrinoTableOptionUtils.java:94-107``); this module
executes them on Spark's public Python DataSource API
(``pyspark.sql.datasource``, SPARK-45525):

- ``latestOffset()`` re-lists the snapshot directory ON EVERY TRIGGER, so
  commits landing after stream start — including pure-metadata DV deletes
  against files the start never saw — surface in the next micro-batch.
- An offset is a committed snapshot id; partitions for ``(start, end]`` are
  planned fresh per batch by ``catalog.metadata.plan_commits``, the one
  commit-range planner ``read_incremental`` and ``table_changelog`` also
  use: the data files each commit wrote, packed into read tasks (+I rows)
  and, per DV commit, the marked data files (-D rows with the old image
  recovered executor-side by positional take). The atomic snapshot publish
  is the visibility point, so a racing loser's files are never planned; a
  compaction right after its predecessor plans no files, so it never
  re-emits, while one after expired commits plans its rewritten files, the
  only surviving copy of those commits' rows; DV marks are per-commit index
  diffs against the predecessor, so each mark is emitted exactly once with
  NO streaming dedup state at all.
- Columns map by FIELD ID per file schema, so renames never orphan
  pre-rename files (the batch reader's A18 contract, which the
  name-matching file tail must refuse).

Driver-side planning is metadata-only: snapshot JSONs, one schema JSON per
distinct file schema, and — for DV commits — the two cumulative index JSONs
whose diff is that commit's marks (transient parse, same cost every batch
DV read already pays; the stream retains NO cumulative state between
triggers). Production swap at 100 TB: per-bucket bitmap DV index files
diffed executor-side, as Paimon stores them.

Executors read only the planned delta files through the package's one
Python file reader (``formats/file_reader``: ``_read_file`` and
``_output_batches``, the same two functions the batch ``paimon_files``
source runs), for parquet, ORC and Avro alike. A k-row DELETE plans reads
of exactly the files holding those k rows. The trade vs the file tail is
Python-worker decode instead of the JVM vectorized reader — the price of a
Python-API custom source; delta tails are small relative to the table by
definition.
"""

from __future__ import annotations

import os
from typing import Iterator

from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition

from incubator_paimon_trino_spark.catalog.metadata import (
    KIND_COL,
    SEQ_COL,
    TableSchema,
    _storage_ddl,
    latest_snapshot_id,
    load_snapshots,
    plan_commits,
    read_json,
)
from incubator_paimon_trino_spark.formats.file_reader import (
    _output_batches,
    _pack_splits,
    _partition_type_supported,
    _read_file,
)

#: DV commit-version rider column (see ``read_changelog_stream``).
DV_VER_COL = "_dv_ver"


def validate_partition_types(schema: TableSchema) -> None:
    """Driver-side, stream-build-time guard: every partition column's type
    must be one the file reader can revive from a hive path value, so an
    unsupported partition schema fails the ``readStream`` build loudly
    instead of surfacing as an executor-side ValueError on the first batch.
    Defense-in-depth: complex-typed partition columns already refuse at
    CREATE TABLE (``wh_helpers._validate_table_options``)."""
    for k in schema.partition_keys:
        t = _storage_ddl(schema.field_by_name(k).type)
        if not _partition_type_supported(t):
            raise ValueError(
                f"manifest stream source: partition column {k!r} has type "
                f"{t!r}, which cannot be revived from a hive path value — "
                "use source_mode='files' for this table"
            )


# ------------------------------------------------------------------ planning
def _latest_schema(tdir: str) -> TableSchema:
    import glob as _glob

    ids = [
        int(os.path.basename(p)[len("schema-") : -len(".json")])
        for p in _glob.glob(os.path.join(tdir, "schema", "schema-*.json"))
    ]
    if not ids:
        raise ValueError(f"not a table directory: {tdir}")
    return _schema_of(tdir, max(ids))


def _schema_of(tdir: str, sid: int) -> TableSchema:
    return TableSchema.from_json(
        read_json(os.path.join(tdir, "schema", f"schema-{sid}.json"))
    )


def stream_output_columns(schema: TableSchema, dv: bool) -> list[tuple[str, str]]:
    """(name, storage ddl) of the changelog stream's output — table columns
    in declared order, then the PK system columns, then the DV commit
    rider. Shared with ``read_changelog_stream`` so both source modes
    agree. Types are the STORAGE forms (``_storage_ddl``): declared
    TIMESTAMP(p)/CHAR(n) metadata lives in the catalog, not in a stream's
    physical schema."""
    cols = [(f.name, _storage_ddl(f.type)) for f in schema.fields]
    if schema.primary_key:
        cols += [(SEQ_COL, "bigint"), (KIND_COL, "string")]
    if dv:
        cols += [(DV_VER_COL, "bigint")]
    return cols


class _ManifestStreamReader(DataSourceStreamReader):
    """Offsets = committed snapshot ids; partitions planned per micro-batch
    from the manifests. Runs in Spark's driver-side Python worker (planning,
    filesystem metadata only) and executor workers (``read``, Arrow)."""

    def __init__(self, opts) -> None:
        self.tdir = opts["tdir"]
        self.from_version = int(opts.get("from_version") or 0)
        self.dv = opts.get("dv") == "1"
        # rate limit: at most N commits per micro-batch (0 = unbounded) —
        # the manifest-mode analog of maxFilesPerTrigger
        self.max_commits = int(opts.get("max_commits_per_trigger") or 0)
        # split packing: small same-commit files bin-pack into one read
        # task up to this many bytes (the reference sizes splits the same
        # way — A2 split weighting; Python task startup would otherwise
        # dominate a many-small-files commit)
        self.split_bytes = int(opts.get("split_target_bytes") or 64 * 1024 * 1024)
        self._schema_cache: dict[int, TableSchema] = {}
        self._planned = None  # last offset returned by latestOffset

    # ---- offsets
    def initialOffset(self) -> dict:
        off = max(self.from_version - 1, 0)
        # Raise the limiter base to the stream's declared start. NOTE this
        # cannot bound the cold-start batch: the engine's measured call
        # order is latestOffset -> initialOffset -> partitions on BOTH
        # processingTime and availableNow triggers (probed on the public
        # Python DataSource API, whose latestOffset takes no start offset
        # and whose runner forwards no setLatestSeenOffset), so the first
        # latestOffset always runs with an unknown base — see latestOffset
        # for why guessing the base from from_version is unsafe.
        self._planned = off if self._planned is None else max(self._planned, off)
        return {"version": off}

    def latestOffset(self) -> dict:
        # max committed id only — never resolve manifests here (this runs
        # every trigger, table idle or not; full resolution is O(history)
        # and belongs to partitions(), which runs only when work exists).
        #
        # The limiter bounds STEADY-STATE batches only: on a run's FIRST
        # trigger the base is unknown (measured call order is latestOffset
        # -> initialOffset -> partitions, and the API hands latestOffset no
        # start offset), so the backlog arrives in one unlimited batch. A
        # from_version-derived base is NOT a safe substitute: a restarted
        # stream's checkpointed position P can exceed from_version-1+max,
        # the capped tip T < P would make the engine construct batch (P, T]
        # and then advance the NEXT batch from T — replaying (T, P] into
        # the sink as duplicates (WAL rewind). Bound a cold start by
        # STARTING from a consumer/snapshot position instead; restarts are
        # bounded from their second trigger on (partitions() latches the
        # checkpointed base).
        tip = latest_snapshot_id(self.tdir)
        if self.max_commits and self._planned is not None:
            tip = min(tip, self._planned + self.max_commits)
        self._planned = max(tip, self._planned or 0)
        return {"version": tip}

    def commit(self, end: dict) -> None:
        pass  # checkpoint-managed; consumer advancement stays explicit

    # ---- planning
    def _schema(self, sid: int) -> TableSchema:
        if sid not in self._schema_cache:
            self._schema_cache[sid] = _schema_of(self.tdir, sid)
        return self._schema_cache[sid]

    def _column_spec(self, file_sid: int, current: TableSchema) -> list[tuple]:
        """Field-id column mapping for files written under ``file_sid``:
        [(physical name, current name, storage ddl)] for every current
        non-partition field the file schema holds, then the PK system
        columns. Current fields with no physical column read as nulls."""
        old_by_id = {f.id: f for f in self._schema(file_sid).fields}
        part = set(current.partition_keys)
        fields = [
            (old_by_id[f.id].name, f.name, _storage_ddl(f.type))
            for f in current.fields
            if f.name not in part and f.id in old_by_id
        ]
        if current.primary_key:
            fields += [(SEQ_COL, SEQ_COL, "bigint"), (KIND_COL, KIND_COL, "string")]
        return fields

    def _partition_spec(self, e: dict, current: TableSchema) -> list[tuple]:
        """(name, storage ddl, raw path value) per partition key for one
        manifest entry. The hive path spells each key under the name it had
        WHEN THE FILE WAS WRITTEN — look it up by FIELD ID through the
        file's schema, so a renamed partition column revives its pre-rename
        files' values instead of silently streaming NULLs."""
        from incubator_paimon_trino_spark.catalog.scan import partition_values

        pv = partition_values(e["path"])
        old_names = {f.id: f.name for f in self._schema(e["schema_id"]).fields}
        out = []
        for k in current.partition_keys:
            f = current.field_by_name(k)
            out.append((k, _storage_ddl(f.type), pv.get(old_names.get(f.id, k))))
        return out

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        lo, hi = start["version"], end["version"]
        # keep the rate limiter's base at or ahead of the checkpointed
        # position across restarts (a resumed stream re-plans its last
        # uncommitted batch before latestOffset is consulted again); with
        # the limiter on, a restart may still replay up to one limiter
        # window — at-least-once, absorbed by the PK-upsert/no-op-advance
        # sink discipline like every other replay
        self._planned = max(self._planned or 0, lo, hi)
        snaps = load_snapshots(self.tdir)
        current = _latest_schema(self.tdir)
        out_cols = stream_output_columns(current, self.dv)
        plan = plan_commits(snaps, lo, hi)
        if plan and plan[0][0] is None and lo > max(self.from_version - 1, 0):
            # The planned-from position lo is PAST the stream's own start,
            # so it came from a checkpoint — and no snapshot <= lo survives:
            # retention expired the consumed window, and the per-commit
            # delta from lo is unreconstructable (a cumulative file list
            # diffed against nothing re-emits the entire live set as +I —
            # duplicates into every append sink). Fail loudly (Kafka's
            # failOnDataLoss shape); keep a consumer_id so retention
            # protects the stream's window. A true COLD start (lo at the
            # from_version base) into expired history is different: there
            # the live-set baseline IS the correct first batch.
            raise ValueError(
                f"manifest stream: checkpointed position {lo} predates the "
                f"earliest surviving snapshot {plan[0][1].snapshot_id} — "
                "retention expired the consumed window; restart the stream "
                "from scratch, and register a consumer_id so "
                "expire_snapshots pins its window"
            )
        parts: list[InputPartition] = []
        for prev, s, files in plan:
            for (fsid, fmt), pack in _pack_splits(files, self.split_bytes):
                parts.append(InputPartition({
                    "kind": "data",
                    "files": [
                        {
                            "path": os.path.normpath(
                                os.path.join(self.tdir, e["path"])
                            ),
                            "parts": self._partition_spec(e, current),
                        }
                        for e in pack
                    ],
                    "fmt": fmt,
                    "commit": s.snapshot_id,
                    "fields": self._column_spec(fsid, current),
                    "out_cols": out_cols,
                }))
            prev_dv = prev.dv if prev else None
            if self.dv and s.dv != prev_dv:
                # this commit's marks = cumulative(v) − cumulative(prev
                # committed): exact per-commit retractions, no dedup state.
                # A compaction RESET (marks vanish with their rewritten
                # files) diffs to nothing, correctly. Two format regimes:
                # inline indexes (bounded by the table's inline threshold)
                # diff HERE, on the planner; a SHARDED index diffs by
                # comparing per-bucket shard file NAMES — metadata-only —
                # and ships only the changed buckets' document paths to
                # executors, which do the O(bucket marks) parse+diff. The
                # planner never reads a shard file.
                parts.extend(
                    self._plan_dv_partitions(s, prev_dv, current, out_cols)
                )
        return parts

    def _plan_dv_partitions(self, s, prev_dv, current, out_cols):
        from incubator_paimon_trino_spark.catalog.dv_index import load_index_meta

        sid = s.snapshot_id
        cur_meta = load_index_meta(self.tdir, s.dv)
        if cur_meta is None:
            return []  # no index / reaped: nothing can be fresh
        if cur_meta["kind"] == "inline" and not cur_meta["vectors"]:
            return []  # empty inline (covers legacy docs without "marks")
        if cur_meta["kind"] == "sharded" and not cur_meta["marks"]:
            return []
        prev_meta = load_index_meta(self.tdir, prev_dv)
        entries = {
            os.path.basename(f["path"].replace("\\", "/")): f for f in s.files
        }
        parts: list[InputPartition] = []
        if cur_meta["kind"] == "inline":
            if prev_meta is not None and prev_meta["kind"] == "sharded":
                # unreachable via this warehouse's writer (once sharded, an
                # index stays sharded until a compaction RESET, which
                # clears s.dv marks to zero) — a foreign/corrupt history
                raise ValueError(
                    f"DV index of snapshot {sid} is inline but its "
                    "predecessor is sharded — unsupported history"
                )
            base_marks = {
                os.path.basename(rel.replace("\\", "/")): set(ps)
                for rel, ps in (prev_meta["vectors"] if prev_meta else {}).items()
            }
            marked: list[dict] = []
            for rel, positions in sorted(cur_meta["vectors"].items()):
                fbase = os.path.basename(rel.replace("\\", "/"))
                fresh = sorted(set(positions) - base_marks.get(fbase, set()))
                if not fresh:
                    continue
                e = entries.get(fbase)
                if e is None:
                    # a mark against a file this snapshot does not list
                    # is a corrupt index — failing loudly beats silently
                    # dropping a delete
                    raise ValueError(
                        f"DV index of snapshot {sid} marks unknown file {fbase}"
                    )
                marked.append({**e, "_fresh": fresh})
            # marked files pack like data files (a delete across many
            # small files would otherwise cost one Python task each)
            for (fsid, fmt), pack in _pack_splits(marked, self.split_bytes):
                parts.append(InputPartition({
                    "kind": "dv",
                    "files": [
                        {
                            "path": os.path.normpath(
                                os.path.join(self.tdir, e["path"])
                            ),
                            "parts": self._partition_spec(e, current),
                            "positions": e["_fresh"],
                        }
                        for e in pack
                    ],
                    "fmt": fmt,
                    "commit": sid,
                    "fields": self._column_spec(fsid, current),
                    "out_cols": out_cols,
                }))
            return parts

        # sharded: one partition per CHANGED bucket (same shard names =
        # provably no new marks — shard files are immutable and carried
        # forward by name)
        from incubator_paimon_trino_spark.catalog.dv_index import bucket_of

        k = cur_meta["buckets"]
        idx = os.path.join(self.tdir, "index")
        if prev_meta is None:
            prev_for = lambda b: []  # noqa: E731
        elif prev_meta["kind"] == "inline":
            prev_doc = [os.path.join(idx, prev_meta["name"])]
            prev_for = lambda b: prev_doc  # noqa: E731
        elif prev_meta["buckets"] != k:
            all_prev = [
                os.path.join(idx, n)
                for names in prev_meta["shards"].values()
                for n in names
            ]
            prev_for = lambda b: all_prev  # noqa: E731
        else:
            prev_for = lambda b: [  # noqa: E731
                os.path.join(idx, n) for n in prev_meta["shards"].get(b, [])
            ]
        by_bucket: dict[int, dict] = {}
        for fbase, e in entries.items():
            by_bucket.setdefault(bucket_of(fbase, k), {})[fbase] = e
        for b, names in sorted(cur_meta["shards"].items()):
            if (
                prev_meta is not None
                and prev_meta["kind"] == "sharded"
                and prev_meta["buckets"] == k
                and prev_meta["shards"].get(b) == names
            ):
                continue  # untouched bucket
            bucket_entries = by_bucket.get(b, {})
            sids = {e["schema_id"] for e in bucket_entries.values()}
            parts.append(InputPartition({
                "kind": "dv_shard",
                "commit": sid,
                "bucket": b,
                "buckets": k,
                "cur_marks": [os.path.join(idx, n) for n in names],
                "prev_marks": prev_for(b),
                "files": {
                    fbase: {
                        "path": os.path.normpath(
                            os.path.join(self.tdir, e["path"])
                        ),
                        "parts": self._partition_spec(e, current),
                        "sid": e["schema_id"],
                        "fmt": e.get("format", "parquet"),
                    }
                    for fbase, e in bucket_entries.items()
                },
                "col_specs": {
                    str(fsid): self._column_spec(fsid, current) for fsid in sids
                },
                "out_cols": out_cols,
            }))
        return parts

    # ---- executor read
    def read(self, partition: InputPartition) -> Iterator:
        spec = partition.value
        if spec["kind"] == "dv_shard":
            yield from self._read_dv_shard(spec)
            return
        dv = spec["kind"] == "dv"
        consts = _retraction(spec["commit"]) if dv else None
        for f in spec["files"]:
            table = _read_file(f["path"], spec["fmt"], spec["fields"])
            if dv:
                table = table.take(f["positions"])
            yield from _output_batches(
                table, spec["out_cols"], spec["fields"], f["parts"], consts=consts
            )

    def _read_dv_shard(self, spec: dict) -> Iterator:
        """One changed bucket of a SHARDED index commit: parse the bucket's
        current and prior mark documents (per-bucket JSON shards, or the
        one prior inline file on the threshold-crossing commit), diff to
        this commit's fresh marks, and emit -D rows by positional take on
        the marked data files. All O(bucket marks) work happens HERE, in
        the executor — the planner only compared shard file names. The
        task granularity is the BUCKET (a diff needs a bucket's whole
        current and prior mark sets), so ``dv-index.buckets`` is the knob
        bounding per-task memory on huge-delete tables — the same knob
        that sizes the commit's write parallelism. (The batch read has no
        such floor: its anti-join explodes shard documents as ordinary
        distributed rows.)"""
        cur = _parse_bucket_marks(spec["cur_marks"], spec["bucket"], spec["buckets"])
        prev = _parse_bucket_marks(spec["prev_marks"], spec["bucket"], spec["buckets"])
        for base in sorted(cur):
            fresh = sorted(cur[base] - prev.get(base, set()))
            if not fresh:
                continue
            e = spec["files"].get(base)
            if e is None:
                # a mark against a file this snapshot does not list is a
                # corrupt index — failing loudly beats dropping a delete
                raise ValueError(
                    f"DV index of snapshot {spec['commit']} marks unknown "
                    f"file {base}"
                )
            fields = spec["col_specs"][str(e["sid"])]
            table = _read_file(e["path"], e["fmt"], fields)
            yield from _output_batches(
                table.take(fresh),
                spec["out_cols"],
                fields,
                e["parts"],
                consts=_retraction(spec["commit"]),
            )


def _retraction(commit: int) -> dict:
    """The constant columns of a DV retraction row: kind 'D', and the
    retracting commit id in the ``_dv_ver`` rider."""
    return {KIND_COL: "D", DV_VER_COL: commit}


def _parse_bucket_marks(paths: list[str], bucket: int, k: int) -> dict[str, set[int]]:
    """{data-file basename: positions} for ONE bucket, parsed from mark
    documents (per-bucket shard files, or an inline index filtered down to
    the bucket on threshold-crossing/bucket-count-change commits). Runs in
    the executor; an unreadable document raises — silently dropping a
    delete is the worst failure mode. A document reaped by expiry between
    planning and read raises too (the plan referenced it; losing it
    mid-batch is a real race to surface, and Spark retries the task)."""
    import json as _json

    from incubator_paimon_trino_spark.catalog.dv_index import bucket_of

    out: dict[str, set[int]] = {}
    for p in paths:
        with open(p) as fh:
            doc = _json.load(fh)
        vecs = doc.get("vectors")
        if vecs is None:
            raise ValueError(f"unreadable DV index document: {p}")
        for rel, ps in vecs.items():
            base = os.path.basename(rel.replace("\\", "/"))
            if bucket_of(base, k) == bucket:
                out.setdefault(base, set()).update(int(x) for x in ps)
    return out


class PaimonManifestSource(DataSource):
    """``spark.readStream.format("paimon_manifest")`` — options: ``tdir``
    (table directory), ``from_version`` (first snapshot id to emit; 0 =
    everything), ``dv`` ("1" on deletion-vectors tables), ``schema_ddl``
    (output schema, computed by ``read_changelog_stream``),
    ``max_commits_per_trigger`` (rate limit, 0 = unbounded),
    ``split_target_bytes`` (read-split packing target, default 64 MiB;
    <= 0 disables packing — one file per split)."""

    @classmethod
    def name(cls) -> str:
        return "paimon_manifest"

    def schema(self) -> str:
        return self.options["schema_ddl"]

    def streamReader(self, schema) -> _ManifestStreamReader:
        return _ManifestStreamReader(self.options)
