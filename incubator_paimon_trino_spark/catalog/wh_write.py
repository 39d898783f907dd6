"""Commit machinery and DML: snapshots, the one data-file writer, the avro
fallback writer, insert/delete/update/merge, conflict retries.

Every commit that writes rows (``insert_into`` and ``compact``) produces
its files through ``_write_data_files``: bucket, dynamic-bucket or
clustering layout, a staging write in the table's file format, the move
into ``data/``, manifest stats, file-index sidecars and bucket stamps. A
commit attempt that fails before its snapshot is published, or loses the
publish race, removes what it wrote (``_discard_attempt``): data files,
sidecars, deletion-vector index files and dynamic-bucket index deltas.

One mixin of ``WarehouseCatalog``; the class surface is assembled in
``warehouse.py``.
"""

from __future__ import annotations

import dataclasses
import datetime as _dt
import functools
import uuid
import glob
import os
import re
import shutil
import time

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from incubator_paimon_trino_spark.catalog.metadata import (
    COMMIT_APPEND,
    COMMIT_OVERWRITE,
    KIND_COL,
    SEQ_COL,
    CommitConflictError,
    Snapshot,
    TableSchema,
    _storage_ddl,
    latest_snapshot_id,
    load_snapshots,
    resolve_snapshot,
    write_json_atomic,
)
from incubator_paimon_trino_spark.catalog.file_index import (
    _split_cols,
    build_file_indexes,
)
from incubator_paimon_trino_spark.catalog.scan import (
    _HIVE_NULL,
    collect_file_stats,
    partition_values,
)
from incubator_paimon_trino_spark.functions.types import (
    char_length,
    timestamp_precision,
)

from incubator_paimon_trino_spark.catalog.wh_helpers import *  # noqa: F401,F403


@dataclasses.dataclass
class _Attempt:
    """What one commit attempt has put on disk outside its snapshot, recorded
    as it lands so ``_discard_attempt`` can remove it again."""

    staging: str | None = None
    #: finalized data files (their sidecars share the path plus a suffix)
    paths: list[str] = dataclasses.field(default_factory=list)
    #: deletion-vector index files and staging directories under ``index/``,
    #: each recorded before it is created
    index_files: list[str] = dataclasses.field(default_factory=list)
    #: dynamic-bucket key→bucket delta directory
    dyn_delta: str | None = None


def _bucket_layout(schema: TableSchema) -> tuple[int, str | None]:
    """(bucket count, bucket key) of a table: n > 0 hash buckets on the key,
    -1 dynamic buckets from the key→bucket index, 0 unbucketed (also a
    positive count with no key to hash)."""
    n = int(schema.options.get("bucket", "0") or 0)
    key = schema.options.get("bucket_key") or (
        schema.primary_key[0] if schema.primary_key else None
    )
    return (n if n == -1 or (n > 0 and key) else 0), key


class WriteMixin:
    # -------------------------------------------------------------- commits
    def _publish_snapshot(
        self, tdir: str, snap: Snapshot, new_files: list[dict], base_manifests: list[str]
    ) -> None:
        """Commit point: write ONE delta manifest with this commit's files,
        then the snapshot JSON referencing ``base_manifests + [it]``.

        The exclusive snapshot write is the atomic publish (loser of a
        concurrent race gets CommitConflictError and retries); the manifest
        name carries a per-attempt nonce so racing writers at the same
        version never clobber each other's manifest before one wins."""
        import uuid

        os.makedirs(os.path.join(tdir, "manifest"), exist_ok=True)
        mname = f"manifest-{snap.snapshot_id}-{uuid.uuid4().hex[:8]}.json"
        mpath = os.path.join(tdir, "manifest", mname)
        write_json_atomic(mpath, {"files": new_files})
        snap.manifests = [*base_manifests, mname]
        try:
            write_json_atomic(
                os.path.join(tdir, "snapshot", f"snapshot-{snap.snapshot_id}.json"),
                snap.to_json(),
                exclusive=True,
            )
        except CommitConflictError:
            if os.path.exists(mpath):  # don't leak the loser's manifest
                os.remove(mpath)
            raise
        write_json_atomic(
            os.path.join(tdir, "snapshot", "LATEST"), {"snapshot_id": snap.snapshot_id}
        )

    def _gc_manifests(self, tdir: str) -> None:
        """Delete manifest files no remaining snapshot references.

        Only manifests at versions <= the newest surviving snapshot are
        eligible: a concurrent committer writes its manifest (at latest+1)
        BEFORE publishing its snapshot, and GC'ing that window would corrupt
        the winning commit."""
        snaps = load_snapshots(tdir)
        live = {m for s in snaps for m in s.manifests}
        horizon = snaps[-1].snapshot_id if snaps else 0
        for p in glob.glob(os.path.join(tdir, "manifest", "manifest-*.json")):
            name = os.path.basename(p)
            m = re.match(r"manifest-(\d+)-", name)
            in_flight = m is None or int(m.group(1)) > horizon
            if name not in live and not in_flight:
                os.remove(p)

    def _latest_snapshot(self, tdir: str) -> Snapshot | None:
        return resolve_snapshot(load_snapshots(tdir))

    def latest_snapshot_id(self, db: str, table: str) -> int:
        """The current tip snapshot id (0 for an empty table) — the position
        a consumer checkpoints after fully processing the table's backlog
        (metadata-only: one snapshot-dir listing, no data read)."""
        return latest_snapshot_id(self._table_dir(db, table))

    @staticmethod
    def _staging_dir(tdir: str, version: int, stale_after_s: int = 24 * 3600) -> str:
        """Fresh per-attempt staging path. The nonce keeps concurrent
        writers racing on one version from colliding on errorifexists, and
        a crashed writer's leftovers never block the version — instead they
        are garbage-collected here once older than ``stale_after_s`` (no
        live writer holds a staging dir for a day)."""
        now = time.time()
        for old in glob.glob(os.path.join(tdir, ".staging-*")):
            try:
                if now - os.path.getmtime(old) > stale_after_s:
                    shutil.rmtree(old, ignore_errors=True)
            except OSError:
                pass
        return os.path.join(tdir, f".staging-c{version}-{uuid.uuid4().hex[:8]}")

    @staticmethod
    def _staged_moves(tdir: str, staging: str, version: int, ext: str) -> dict[str, str]:
        """Staged file → its final path: ``data/<partition dirs>/c<version>-<filename>``.

        Partition dirs stay LAST (standard hive layout) so Catalyst's
        directory inference — and with it listing-level partition pruning —
        works for any mix of commits in one scan; the commit id lives in the
        FILE NAME, not a directory."""
        moves: dict[str, str] = {}
        for p in glob.glob(os.path.join(staging, "**", f"*.{ext}"), recursive=True):
            rel_dir = os.path.relpath(os.path.dirname(p), staging)
            if "_bucket=" in rel_dir:
                # dynamic-bucket writes stage through a hive `_bucket=N`
                # partitionBy column; the final layout uses Paimon's plain
                # `bucket-N` directory instead — a non-k=v segment, so
                # Catalyst's partition inference never surfaces a _bucket
                # column to readers (it only parses k=v dirs)
                rel_dir = os.sep.join(
                    f"bucket-{seg.split('=', 1)[1]}" if seg.startswith("_bucket=") else seg
                    for seg in rel_dir.split(os.sep)
                )
            dest_dir = os.path.join(tdir, "data") if rel_dir == "." else os.path.join(
                tdir, "data", rel_dir
            )
            moves[p] = os.path.join(dest_dir, f"c{version}-{os.path.basename(p)}")
        return moves

    def _finalize_commit(self, tdir: str, staging: str, version: int, ext: str) -> list[str]:
        """Move one commit's staged output into the table's data layout
        (``_staged_moves``). The per-file rename is the commit's driver-side
        finalization (the same move Spark's own file committer performs);
        data bytes are written once, by executors, in parallel."""
        final: list[str] = []
        for p, dest in self._staged_moves(tdir, staging, version, ext).items():
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            os.replace(p, dest)
            final.append(dest)
        shutil.rmtree(staging)
        return final

    def _write_avro_fallback(self, out: DataFrame, staging: str, schema: TableSchema) -> dict[str, int]:
        """AVRO write without the spark-avro module: ``mapInArrow`` tasks
        encode standard Avro object container files (``formats/avro_ocf``,
        null codec — readable by any stock Avro reader) straight into the
        staging dir, one file per (task, hive partition dir), named
        ``part-<task>-...`` so bucket recording keeps working. Partition
        values are hive-escaped exactly as the read side's two-layer
        url-decode expects. Correctness fallback, not a speed path —
        per-row Python encode; the JVM writer is preferred when present."""
        from incubator_paimon_trino_spark.formats.avro_ocf import (
            OcfWriter,
            encode_batch,
            record_schema,
        )

        part_keys = list(schema.partition_keys)
        ddl_of = {f.name: f.type for f in schema.fields}
        ddl_of[SEQ_COL], ddl_of[KIND_COL] = "bigint", "string"
        avro_fields = [(c, ddl_of[c]) for c in out.columns if c not in part_keys]
        aschema = record_schema(avro_fields)
        hive_null = _HIVE_NULL

        def write_task(batches):
            # Task side of a v1-committer-style protocol (the JVM writers
            # get this from the Hadoop output committer; mapInArrow has
            # none): each task ATTEMPT writes everything under a private
            # .attempt-<id> dir and only REPORTS its finished files — the
            # DRIVER promotes exactly the files of the one successful
            # attempt per partition that collect() returns. A crashed /
            # failed / speculative-loser attempt leaves only its private
            # dir (swept below); a crash mid-iterator can never surface a
            # truncated or duplicate committed file, and there is no
            # partial-promotion window at all.
            import os as _os
            import urllib.parse as _up
            import uuid as _uuid

            import pyarrow as pa
            from pyspark import TaskContext

            ctx = TaskContext.get()
            tid = ctx.partitionId()
            att = ctx.taskAttemptId()
            tmp = _os.path.join(staging, f".attempt-{att}")
            writers: dict[tuple, tuple] = {}
            avro_names = [c for c, _ in avro_fields]

            def writer_for(key):
                w = writers.get(key)
                if w is None:
                    segs = [
                        f"{k}={hive_null if v is None else _up.quote(str(v), safe='')}"
                        for k, v in zip(part_keys, key)
                    ]
                    name = f"part-{tid:05d}-{_uuid.uuid4().hex}.c000.avro"
                    _os.makedirs(_os.path.join(tmp, *segs), exist_ok=True)
                    fh = open(_os.path.join(tmp, *segs, name), "wb")
                    w = writers[key] = (fh, OcfWriter(fh, aschema), segs, name)
                return w

            for batch in batches:
                # split by hive partition tuple (order-preserving take), then
                # encode each slice as one numpy-vectorized block run; the
                # per-row closure path remains for nested-typed schemas
                if part_keys:
                    keys = list(zip(*(batch.column(k).to_pylist() for k in part_keys)))
                    by_key: dict[tuple, list] = {}
                    for i, k in enumerate(keys):
                        by_key.setdefault(k, []).append(i)
                    groups = [(k, batch.take(idxs)) for k, idxs in by_key.items()]
                else:
                    groups = [((), batch)]
                for key, sub in groups:
                    w = writer_for(key)
                    enc = encode_batch(sub.select(avro_names), aschema)
                    if enc is not None:
                        w[1].write_encoded(*enc)
                    else:
                        for row in sub.to_pylist():
                            w[1].write(row)
            rels, rows_per = [], []
            for fh, ocf, segs, name in writers.values():
                ocf.close()
                fh.close()
                rels.append("/".join(list(segs) + [name]))
                rows_per.append(ocf.count_written)
            yield pa.record_batch(
                {
                    "attempt": pa.array([att] * len(rels), type=pa.int64()),
                    "rel": pa.array(rels, type=pa.string()),
                    "rows": pa.array(rows_per, type=pa.int64()),
                }
            )

        os.makedirs(staging, exist_ok=True)
        reported = out.mapInArrow(
            write_task, "attempt bigint, rel string, rows bigint"
        ).collect()
        counts: dict[str, int] = {}
        for r in reported:  # driver-side commit: promote ONLY reported files
            segs = r["rel"].split("/")
            dest_dir = os.path.join(staging, *segs[:-1]) if len(segs) > 1 else staging
            os.makedirs(dest_dir, exist_ok=True)
            os.replace(
                os.path.join(staging, f".attempt-{r['attempt']}", *segs),
                os.path.join(dest_dir, segs[-1]),
            )
            counts[segs[-1]] = r["rows"]
        # sweep losers'/failed attempts' private dirs before finalize globs
        for d in glob.glob(os.path.join(staging, ".attempt-*")):
            shutil.rmtree(d, ignore_errors=True)
        return counts

    def _read_python_files(
        self, entries: list[dict], old: TableSchema, is_pk: bool, with_pos: bool
    ) -> DataFrame:
        """Read data files of one schema and format through the Python
        file reader (``formats/file_reader``, the ``paimon_files``
        source). ``entries`` are manifest entries whose ``path`` is the
        full file path. Output columns are the WRITING schema's names and
        storage types, then the partition columns (hive path values, what
        ``basePath`` directory inference does for native readers), then,
        with ``with_pos``, the file path and in-file row ordinal;
        ``_read_files`` maps them by field id like any format. Files pack
        into one read task per ~64 MiB of ``size_bytes`` (``_pack_splits``):
        one Python task per tiny file would make startup dominate
        many-small-file tables."""
        import json as _json

        from incubator_paimon_trino_spark.formats.file_reader import (
            PaimonFileSource,
            _pack_splits,
            restore_transported,
            transport_schema,
        )

        self.spark.dataSource.register(PaimonFileSource)
        part = set(old.partition_keys)
        fields = [(f.name, _storage_ddl(f.type)) for f in old.fields if f.name not in part]
        if is_pk:
            fields += [(SEQ_COL, "bigint"), (KIND_COL, "string")]
        part_fields = [(f.name, _storage_ddl(f.type)) for f in old.fields if f.name in part]
        fmt = entries[0].get("format", "parquet")
        tasks = [
            [
                {
                    "path": e["path"],
                    "parts": [
                        (k, ddl, partition_values(e["path"]).get(k)) for k, ddl in part_fields
                    ],
                }
                for e in pack
            ]
            for _key, pack in _pack_splits(entries, 64 * 1024 * 1024)
        ]
        out_fields = fields + part_fields
        if with_pos:
            out_fields = out_fields + [(_DV_FILE, "string"), (_DV_POS, "bigint")]
        df = (
            self.spark.read.format(PaimonFileSource.name())
            .option("schema_ddl", transport_schema(out_fields))
            .option("format", fmt)
            .option("fields", _json.dumps(fields))
            .option("files", _json.dumps(tasks))
            .option("with_pos", "true" if with_pos else "false")
            .load()
        )
        return restore_transported(df, out_fields)

    def _commit_files(
        self,
        tdir: str,
        paths: list[str],
        ext: str,
        schema: TableSchema,
        fallback_counts: dict[str, int] | None = None,
    ) -> list[dict]:
        """Manifest entries for the files one commit just wrote.

        Footer-only stats pass: row counts (no second execution of the input
        plan) + per-column min/max/null-count keyed by field id, the input
        to manifest-level file skipping at read time (catalog/scan.py).
        Avro has no pyarrow footer reader: counts come from the write tasks
        themselves when the OCF fallback wrote the files
        (``fallback_counts``, keyed by staged basename — finalize only
        prefixes ``c<version>-``), else one spark job counts rows per file
        (gated path; pruning simply never drops avro files).
        """
        avro_counts: dict[str, int] = {}
        if ext == "avro" and fallback_counts is not None:
            for p in paths:
                base = re.sub(r"^c\d+-", "", os.path.basename(p))
                c = fallback_counts.get(base)
                if c is None:  # unreported file: count it rather than crash
                    from incubator_paimon_trino_spark.formats.avro_ocf import (
                        count_records,
                    )

                    c = count_records(p)
                avro_counts[os.path.realpath(p)] = c
        elif ext == "avro" and paths:
            try:
                import urllib.parse as _up

                # input_file_name() returns a percent-encoded URI — unquote
                # it or any path needing encoding (spaces, hive-escaped
                # partition values) misses the realpath lookup → count 0
                avro_counts = {
                    os.path.realpath(_up.unquote(r.f.removeprefix("file:"))): r.asDict()["count"]
                    for r in self.spark.read.format("avro")
                    .load(paths)
                    .groupBy(F.input_file_name().alias("f"))
                    .count()
                    .collect()
                }
            except Exception as ex:
                if "Failed to find data source" not in str(ex):
                    raise
                # no spark-avro module: counts from OCF BLOCK HEADERS only
                # (no row decode — each block fronts its record count)
                from incubator_paimon_trino_spark.formats.avro_ocf import (
                    count_records,
                )

                avro_counts = {os.path.realpath(p): count_records(p) for p in paths}
        return [
            {
                "path": os.path.relpath(p, tdir),
                "schema_id": schema.schema_id,
                "format": ext,
                **collect_file_stats(
                    p, ext, schema, record_count=avro_counts.get(os.path.realpath(p))
                ),
            }
            for p in sorted(paths)
        ]

    def _write_data_files(
        self,
        tdir: str,
        schema: TableSchema,
        out: DataFrame,
        version: int,
        attempt: _Attempt,
        sort_cols: list[str] | None = None,
        strategy: str = "order",
        n_ranges: int = 0,
    ) -> list[dict]:
        """Write one commit's rows as data files; returns their manifest
        entries. The one file producer behind ``insert_into`` and
        ``compact``; it records in ``attempt`` everything it leaves on disk
        (data files before they are moved into ``data/``), so the caller
        can discard a failed attempt.

        Layout, first match wins:

        - hash buckets (``bucket`` > 0): ``bucket`` write tasks on the
          bucket key, so each commit writes one file per bucket per
          partition and equal keys co-locate;
        - dynamic buckets (``bucket = -1``): each key's stable bucket from
          the key→bucket index (new keys assigned here), written as a
          ``bucket-N`` directory layer;
        - ``sort_cols``: range-partitioned on them, ``n_ranges`` ranges (0
          lets Spark size them by volume), so each file covers a narrow key
          range and manifest min/max skipping prunes to a few files;
        - otherwise ``n_ranges`` > 0 repartitions into that many files and
          0 keeps the input's partitioning.

        Buckets and ranges are then sorted by ``sort_cols``.
        ``strategy="zorder"``/``"hilbert"`` orders by the space-filling-curve
        key over ``sort_cols`` instead, so file boxes are tight in every
        dimension; the key never lands in the files.
        """
        fmt = schema.options.get("file_format", "PARQUET").upper()
        if fmt not in ("PARQUET", "ORC", "AVRO"):
            raise ValueError(f"unsupported file_format {fmt!r} (have PARQUET, ORC, AVRO)")
        ext = fmt.lower()
        n_buckets, bucket_key = _bucket_layout(schema)
        zcol = "_zorder_key"
        curved = bool(sort_cols) and strategy in ("zorder", "hilbert")
        if curved:
            key_of = self._zorder_expr if strategy == "zorder" else self._hilbert_expr
            out = out.withColumn(zcol, key_of(out, schema, sort_cols))
            sort_keys = [F.col(zcol)]
        else:
            sort_keys = [F.col(c) for c in sort_cols or []]
        if n_buckets > 0:
            out = out.repartition(n_buckets, F.col(bucket_key))
        elif n_buckets == -1:
            out, attempt.dyn_delta = self._dynamic_bucket_assign(tdir, schema, out, version)
            out = out.repartition(F.col("_bucket"))
        elif sort_keys:
            out = (
                out.repartitionByRange(n_ranges, *sort_keys)
                if n_ranges > 0
                else out.repartitionByRange(*sort_keys)
            )
        elif n_ranges > 0:
            out = out.repartition(n_ranges)
        if sort_keys:
            out = out.sortWithinPartitions(*sort_keys)
        if curved:
            # narrow projection: keeps the partition-local sort
            out = out.drop(zcol)

        staging = attempt.staging = self._staging_dir(tdir, version)
        writer = out.write.mode("errorifexists")
        # the dynamic bucket rides as the INNERMOST hive partitionBy layer;
        # _staged_moves renames `_bucket=N` to Paimon's plain `bucket-N`
        part_cols = [*schema.partition_keys, *(["_bucket"] if n_buckets == -1 else [])]
        if part_cols:
            writer = writer.partitionBy(*part_cols)
        fb_counts: dict[str, int] | None = None
        try:
            writer.format(ext).save(staging)
        except Exception as ex:
            # Spark's avro data source is an external module; without it the
            # pure-Python OCF writer (formats/avro_ocf.py) encodes standard
            # Avro container files, one per (task, partition dir)
            if ext != "avro" or "Failed to find data source" not in str(ex):
                raise
            fb_counts = self._write_avro_fallback(out, staging, schema)
        attempt.paths = list(self._staged_moves(tdir, staging, version, ext).values())
        final_paths = self._finalize_commit(tdir, staging, version, ext)
        entries = self._commit_files(tdir, final_paths, ext, schema, fb_counts)
        # a write task with no rows still leaves a file (ORC writes one per
        # empty task, parquet one for an empty commit): drop those before
        # the publish, so no read, positional task or compaction opens them
        for e in entries:
            if e["record_count"] == 0:
                os.remove(os.path.join(tdir, e["path"]))
        entries = [e for e in entries if e["record_count"]]
        final_paths = [p for p in final_paths if os.path.exists(p)]
        # file-index sidecars (bloom / bitmap) BEFORE the publish: a reader
        # never resolves a snapshot whose sidecars are still being written
        build_file_indexes(self.spark, final_paths, schema)
        if n_buckets > 0:
            _record_buckets(entries, schema, bucket_key, n_buckets)
        elif n_buckets == -1:
            _record_dynamic_buckets(entries)
        return entries

    def _discard_attempt(self, tdir: str, attempt: _Attempt) -> None:
        """Remove what a commit attempt wrote: its staging dir, finalized
        data files and their sidecars, deletion-vector index files and
        dynamic-bucket delta. Unpublished files must not linger in
        ``data/`` — no manifest references them, but the file-tail stream
        globs the directory; a stale key→bucket delta would race the retry's
        own assignment for the same key."""
        if attempt.staging is not None:
            shutil.rmtree(attempt.staging, ignore_errors=True)
        for p in attempt.paths:
            if os.path.exists(p):
                os.remove(p)
            _rm_sidecar(p)
        for name in attempt.index_files:
            # carried-forward shards are not listed: they belong to the tip
            path = os.path.join(tdir, "index", name)
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
            elif os.path.exists(path):
                os.remove(path)
        if attempt.dyn_delta is not None:
            shutil.rmtree(attempt.dyn_delta, ignore_errors=True)
        self._prune_empty_dirs(os.path.join(tdir, "data"))

    def _publish_attempt(
        self,
        tdir: str,
        attempt: _Attempt,
        snap: Snapshot,
        new_files: list[dict],
        base_manifests: list[str],
    ) -> None:
        """Publish ``snap``; an attempt that loses the race to a concurrent
        writer discards its files (the caller re-reads and retries, like
        Paimon's optimistic commit loop). Any other failure inside the
        publish keeps them: the snapshot JSON may already be durable."""
        try:
            self._publish_snapshot(tdir, snap, new_files, base_manifests)
        except CommitConflictError:
            self._discard_attempt(tdir, attempt)
            raise

    def insert_into(
        self,
        db: str,
        table: str,
        df: DataFrame,
        overwrite: bool = False,
        row_kind: str | None = None,
        positions: "tuple[int, DataFrame] | None" = None,
    ) -> int:
        """Commit ``df`` as a new snapshot; returns the snapshot id.

        PK tables tag rows with ``(_seq, _row_kind)`` (FIXTURES.md F1):
        ``_seq`` = snapshot id (commit-level sequencing, like Paimon's default
        sequence number), ``_row_kind`` = 'I' or 'D' — either uniform via the
        ``row_kind`` argument or per-row via an existing ``_row_kind`` column.
        Executors write the parquet in parallel; the driver then commits the
        manifest with an atomic rename.

        ``positions`` = (snapshot id, DataFrame of ``__dv_file`` basename,
        ``__dv_pos``): where a ``row_kind="D"`` batch's rows live in that
        snapshot (``delete_where`` on a DV table). While that snapshot is the
        latest they are the commit's marks; otherwise they are ignored.
        """
        tdir = self._table_dir(db, table)
        schema = self._latest_schema(tdir)
        prev = self._latest_snapshot(tdir)
        version = (prev.snapshot_id if prev else 0) + 1

        expected = [f.name for f in schema.fields]
        have = list(df.columns)
        extra = [c for c in have if c not in expected + [KIND_COL]]
        missing = [c for c in expected if c not in have]
        if extra or missing:
            raise ValueError(f"schema mismatch: extra={extra} missing={missing} expected={expected}")
        out = df.select(*expected, *([KIND_COL] if KIND_COL in have else []))
        # CHAR(n) columns store the rtrimmed canonical form: CHAR comparison
        # treats trailing blanks as insignificant (the reference keeps CHAR a
        # distinct Trino type, TrinoTypeUtils.java:77-81), so canonical
        # storage makes plain equality, min/max file stats, and groupBy keys
        # all behave CHAR-correctly with zero read-time cost.
        for f_ in schema.fields:
            n_chars = char_length(f_.type)
            if n_chars is not None:
                # rtrim to canonical storage; values longer than the
                # declared length (after trim) are a type error, as in the
                # reference engine — raised executor-side mid-write
                trimmed = F.rtrim(F.col(f_.name))
                out = out.withColumn(
                    f_.name,
                    F.when(
                        trimmed.isNull() | (F.length(trimmed) <= n_chars), trimmed
                    ).otherwise(
                        F.raise_error(
                            F.concat(
                                F.lit(
                                    f"value too long for column {f_.name!r} "
                                    f"char({n_chars}): '"
                                ),
                                F.col(f_.name),
                                F.lit("'"),
                            )
                        )
                    ),
                )
            tp = timestamp_precision(f_.type)
            if tp is not None and tp < 6:
                # declared-precision canonical storage (the CHAR-rtrim move
                # for the reference's TIMESTAMP ladder): a TIMESTAMP(0/3)
                # column never stores — so never surfaces — sub-precision
                # digits, and footer stats/predicates see the same values.
                # date_trunc returns session-TZ TimestampType; with the
                # session pinned to UTC the ntz round-trip is value-exact.
                unit = "SECOND" if tp == 0 else "MILLISECOND"
                out = out.withColumn(
                    f_.name,
                    F.date_trunc(unit, F.col(f_.name)).cast("timestamp_ntz"),
                )

        if schema.primary_key:
            rk_field = schema.options.get("rowkind_field")
            if rk_field and KIND_COL not in out.columns and row_kind is None:
                # rowkind.field (Paimon CoreOption): the row kind comes from a
                # DATA column's CDC literal — +I/I/+U keep the row, -D deletes
                # it — so raw CDC feeds ingest without a synthetic _row_kind
                # column. UPDATE_BEFORE (-U) images are DROPPED at ingestion
                # (the upsert-sink convention): a DataFrame is unordered, so a
                # -U/+U pair for one key in one batch has no arrival order —
                # treating -U as a delete would let the commit-level
                # delete-last tie-break erase the key the paired +U upserts.
                # The +U alone IS the state change under latest-wins merging.
                # The column itself stays stored as data; an unknown literal
                # fails the write loudly, executor-side.
                lit = F.upper(F.trim(F.col(rk_field)))
                out = out.filter(
                    lit.isNull() | ~lit.isin("-U", "UPDATE_BEFORE")
                ).withColumn(
                    KIND_COL,
                    F.when(lit.isin("+I", "I", "INSERT", "+U", "UPDATE_AFTER"), F.lit("I"))
                    .when(lit.isin("-D", "D", "DELETE"), F.lit("D"))
                    .otherwise(
                        F.raise_error(
                            F.concat(
                                F.lit(f"invalid rowkind in column {rk_field!r}: '"),
                                F.coalesce(F.col(rk_field), F.lit("NULL")),
                                F.lit("' (use +I/-D/+U/-U)"),
                            )
                        )
                    ),
                )
            if KIND_COL not in out.columns:
                out = out.withColumn(KIND_COL, F.lit(row_kind or "I"))
            # sequence_field (Paimon CoreOption, surfaced through the
            # reference's DDL property reflection): merge order comes from a
            # USER column — out-of-order ingestion (e.g. CDC with event
            # timestamps) merges by business time, not arrival time. Default
            # stays commit-id sequencing.
            out = out.withColumn(SEQ_COL, _sequence_expr(schema, version))
            # count field-aggregates store PARTIAL counts (0/1 per raw row):
            # merge sums partials, so compaction's materialized totals stay
            # additive under later merges instead of collapsing back to 1.
            if schema.options.get("merge_engine") == "aggregation":
                for c, func in _field_aggregate_specs(schema.options).items():
                    if func == "count":
                        ftype = schema.field_by_name(c).type
                        # only RAW +I rows re-partial to 0/1: a -D retraction
                        # row carries the accumulated total it must subtract
                        # wholesale (delete_where writes the merged row back
                        # as -D) — re-partialing it would retract only 1
                        out = out.withColumn(
                            c,
                            F.when(F.col(KIND_COL) == "D", F.col(c))
                            .otherwise(
                                F.when(F.col(c).isNotNull(), F.lit(1)).otherwise(F.lit(0))
                            )
                            .cast(ftype),
                        )
            # ignore-delete (Paimon CoreOption): -D records are DISCARDED at
            # write time — they never enter the changelog, so merge engines
            # that reject retraction (first-row) accept raw CDC feeds, and
            # $audit/streams consistently never see the dropped deletes.
            # delete_where refuses loudly instead of no-opping (below).
            if schema.options.get("ignore_delete", "").strip().lower() == "true":
                out = out.filter(F.col(KIND_COL) != "D")
        elif KIND_COL in out.columns or row_kind not in (None, "I"):
            raise ValueError("row kinds require a primary-key table")

        #: (index name, newly marked, cumulative marks) — set for every
        #: DV-table commit; None on non-DV tables.
        dv_index: tuple[str, int, int] | None = None
        #: rows a DV-table commit writes; 0 = a metadata-only commit
        dv_rows = 0
        dv_cached: DataFrame | None = None
        attempt = _Attempt()
        try:
            if self._dv_enabled(schema):
                pk = schema.primary_key
                has_prev = not overwrite and prev is not None and bool(prev.files)
                if (
                    has_prev
                    and positions is not None
                    and row_kind == "D"
                    and positions[0] == prev.snapshot_id
                ):
                    # positional DELETE read at the still-latest snapshot:
                    # its positions are the marks, nothing is written. Once
                    # a commit lands after that read, the key join below
                    # runs against the new tip instead.
                    dv_index = self._dv_build(
                        tdir, schema, prev, positions[1], version, attempt.index_files
                    )
                else:
                    # the batch feeds three actions (the summary aggregate,
                    # the mark scan's key join, the physical write) and for
                    # UPDATE/DELETE it is itself a full merged read —
                    # persist so it materializes once
                    out = dv_cached = out.persist()
                    dv_rows, has_d, n_keys, lo, hi = self._dv_batch_summary(out, pk)
                    if has_prev:
                        hits = (
                            self._dv_key_hits(tdir, schema, prev, out.select(*pk), lo, hi)
                            if n_keys
                            else None
                        )
                        dv_index = self._dv_build(
                            tdir, schema, prev, hits, version, attempt.index_files
                        )
                    else:
                        name = self._dv_write_inline(tdir, version, {}, attempt.index_files)
                        dv_index = (name, 0, 0)
                    # F1 tie-break (+I and -D of one key in one commit →
                    # deleted): the delete also cancels the batch's own
                    # insert. -D rows are then dropped from the physical
                    # write — a DV table records deletion ONLY as vectors,
                    # never as -D data rows (which also means changelog
                    # readers of a DV table see inserts only).
                    d_keys = out.filter(F.col(KIND_COL) == "D").select(*pk).dropDuplicates()
                    out = out.filter(F.col(KIND_COL) != "D")
                    if has_d:
                        out = out.join(d_keys, pk, "left_anti")
            if dv_index is not None and not dv_rows:
                # a DV commit with no row to write (a DELETE) is metadata
                # only: an empty part file would add a zero-row data file
                # per delete forever
                new_files = []
            else:
                # clustering.columns (Paimon append-table clustering) lays
                # out unbucketed commits only; a bucketed table keeps its
                # bucket layout and ignores it. clustering_partitions pins
                # the range count (file count per commit); unset, a tiny
                # commit collapses to one file and min/max pruning has
                # nothing to skip
                cluster_cols = None
                if not _bucket_layout(schema)[0] and schema.options.get("clustering_columns"):
                    cluster_cols = _split_cols(schema.options["clustering_columns"])
                    for c in cluster_cols:
                        if c not in expected:
                            raise ValueError(f"clustering column {c!r} not a table column")
                new_files = self._write_data_files(
                    tdir,
                    schema,
                    out,
                    version,
                    attempt,
                    sort_cols=cluster_cols,
                    strategy=schema.options.get("clustering_strategy", "").strip().lower(),
                    n_ranges=int(schema.options.get("clustering_partitions", "0") or 0),
                )
            n = sum(e["record_count"] for e in new_files)
            fresh = overwrite or prev is None
            files = new_files if fresh else prev.files + new_files
            base_manifests = [] if fresh else list(prev.manifests)
            if not fresh and prev.files and not prev.manifests:
                # legacy snapshot with inline files: fold them into this commit's
                # manifest so the delta chain is complete from here on
                new_files = prev.files + new_files
            snap = Snapshot(
                snapshot_id=version,
                schema_id=schema.schema_id,
                commit_user=self.commit_user,
                commit_identifier=version,
                commit_kind=COMMIT_OVERWRITE if overwrite else COMMIT_APPEND,
                timestamp_ms=int(time.time() * 1000),
                files=files,
                record_count=(0 if overwrite else (prev.record_count if prev else 0))
                + n
                - (dv_index[1] if dv_index else 0),
            )
            if dv_index is not None:
                # the index landed BEFORE this publish (inside _dv_build) — a
                # reader must never resolve snapshot N without its deletions
                snap.dv = dv_index[0]
                snap.dv_marks = dv_index[2]
        except BaseException:
            self._discard_attempt(tdir, attempt)
            raise
        finally:
            if dv_cached is not None:
                dv_cached.unpersist()
        self._publish_attempt(tdir, attempt, snap, new_files, base_manifests)

        # Post-commit maintenance driven by CoreOptions the reference
        # surfaces as DDL properties (TrinoTableOptionUtils.java:51-135) —
        # executable here, not just stored:
        # full-compaction.delta-commits: rewrite the live set every N commits
        # (bounds file count and manifest-chain length without manual ops).
        # Maintenance is BEST-EFFORT: the insert above already committed, so
        # a maintenance-time conflict (concurrent writer won the next
        # version) must not surface as a failure of a succeeded commit —
        # the next commit simply triggers it again.
        delta_commits = int(schema.options.get("full_compaction_delta_commits", "0") or 0)
        if delta_commits > 0 and version % delta_commits == 0:
            # side effect only: the return value stays the id of the commit
            # that wrote ``df`` (callers tag it / read_incremental around it);
            # surfacing the compaction snapshot here would hand them a
            # full-rewrite COMPACT delta instead of their insert.
            try:
                self.compact(db, table)
            except CommitConflictError:
                pass
        # snapshot.num-retained.max: cap history length at commit time
        # (Paimon's automatic expiration), keeping tagged snapshots.
        # Best-effort like compaction above: two concurrent committers can
        # race on overlapping doomed sets, and a maintenance OSError must
        # not surface as a failure of the ALREADY-SUCCEEDED insert (the
        # caller's retry loop would double-write the data).
        retained = int(schema.options.get("snapshot_num_retained_max", "0") or 0)
        if retained > 0:
            try:
                self.expire_snapshots(db, table, keep_last=retained)
            except OSError:
                pass
        # snapshot.time-retained: the AGE dimension of Paimon's automatic
        # expiration — history older than the window expires at commit time,
        # with snapshot.num-retained.min as the retention floor (default 1:
        # the live snapshot always survives). Same best-effort contract.
        window = schema.options.get("snapshot_time_retained")
        if window:
            floor = int(schema.options.get("snapshot_num_retained_min", "1") or 1)
            try:
                self.expire_snapshots(
                    db,
                    table,
                    keep_last=max(1, floor),
                    older_than_ms=int(time.time() * 1000 - _parse_duration_ms(window)),
                )
            except OSError:
                pass
        # partition.expiration-time: Paimon's commit-time partition
        # retention — partitions older than now − window leave the live set
        # in a metadata-only follow-up commit. Same best-effort contract
        # (a conflicting concurrent committer simply triggers it again).
        p_window = schema.options.get("partition_expiration_time")
        if p_window and schema.partition_keys:
            try:
                self.expire_partitions(db, table, expiration_time=p_window)
            except (OSError, CommitConflictError):
                pass
        # tag.automatic-creation = process-time (Paimon's auto tags): the
        # FIRST commit of each creation period names its snapshot after the
        # period start ('2026-08-16' daily / '2026-08-16 14' hourly), giving
        # retention-proof daily/hourly savepoints with zero operator action.
        # Best-effort; later commits in the same period see the tag exists.
        if schema.options.get("tag_automatic_creation", "").strip().lower() == "process-time":
            period = schema.options.get("tag_creation_period", "daily").strip().lower()
            now = _dt.datetime.now(_dt.timezone.utc)
            name = now.strftime("%Y-%m-%d") if period == "daily" else now.strftime("%Y-%m-%d %H")
            if name not in self._tags(tdir):
                try:
                    self.create_tag(db, table, name, snapshot_id=version)
                except (OSError, ValueError):
                    pass  # concurrent committer tagged this period first
        return version

    def insert_with_retries(
        self,
        db: str,
        table: str,
        df: DataFrame,
        max_retries: int = 3,
        **kwargs,
    ) -> int:
        """Paimon's optimistic commit loop: re-run the write on a snapshot-id
        race. Each attempt re-reads the latest snapshot, so the retry commits
        on top of the concurrent winner (data is re-written — file names
        embed the commit id, so a stale attempt's files can't be adopted)."""
        attempt = 0
        while True:
            try:
                return self.insert_into(db, table, df, **kwargs)
            except CommitConflictError:
                attempt += 1
                if attempt > max_retries:
                    raise

    def delete_where(self, db: str, table: str, condition) -> int:
        """DELETE: -D changelog rows for matching keys on PK tables; on a
        parquet deletion-vector table, the positions of the matching live
        rows, read in one scan, become the commit's marks; on append tables,
        a partition-scoped predicate drops whole partitions as one
        metadata-only commit (``drop_partitions``).

        The reference has no DELETE (negative finding, SURVEY §2.A) — data
        changes arrive via external writers. We go further: a delete is just
        an anti-commit, merged away at read time.
        """
        schema = self.schema_of(db, table)
        if not schema.primary_key:
            # append tables: partition-predicate DELETE drops whole
            # partitions metadata-only (drop_partitions validates the
            # predicate is partition-scoped and raises otherwise)
            stats = self.drop_partitions(db, table, condition)
            if stats["snapshot"] is not None:
                return stats["snapshot"]
            prev = self._latest_snapshot(self._table_dir(db, table))
            return prev.snapshot_id if prev else 0
        if schema.partition_keys and set(schema.partition_keys) <= set(schema.primary_key):
            # partition-drop FAST PATH for PK tables whose partition keys are
            # part of the key: every version of a key then lives in ONE
            # partition (the key pins the partition value), so dropping whole
            # partitions is exactly row deletion — metadata-only, no -D rows,
            # no retraction semantics involved (works on first-row /
            # unconfigured partial-update / ignore-delete tables too). A
            # predicate touching non-partition columns falls through to the
            # row-level -D path below.
            try:
                stats = self.drop_partitions(db, table, condition)
            except ValueError as ex:
                if "partition columns" not in str(ex):
                    raise
            else:
                if stats["snapshot"] is not None:
                    return stats["snapshot"]
                prev = self._latest_snapshot(self._table_dir(db, table))
                return prev.snapshot_id if prev else 0
        if schema.options.get("ignore_delete", "").strip().lower() == "true":
            # the write path would silently drop every -D row this DELETE
            # produces — a "successful" no-op; refuse instead
            raise ValueError(
                "DELETE is not supported on an ignore-delete table "
                "(ignore-delete discards -D records at write time)"
            )
        if schema.options.get("merge_engine") == "first-row":
            # first-row keeps the EARLIEST insert and ignores every later
            # row including retractions (merge_on_read filters -D out before
            # picking) — a "successful" DELETE would be a silent no-op, so
            # reject it, matching Paimon's first-row retraction rejection
            raise ValueError(
                "DELETE is not supported on first-row merge-engine tables "
                "(first-row ignores retractions; the key would remain visible)"
            )
        if schema.options.get("merge_engine") == "partial-update":
            # Paimon's partial-update delete contract: a -D needs one of the
            # three configured handlings, else every later READ would raise —
            # fail the DELETE itself instead of poisoning the table
            has_groups = bool(_sequence_group_specs(schema.options))
            rrod = (
                schema.options.get("partial_update_remove_record_on_delete", "")
                .strip()
                .lower()
                == "true"
            )
            if not has_groups and not rrod:
                raise ValueError(
                    "DELETE on a partial-update table requires 'ignore-delete', "
                    "'partial-update.remove-record-on-delete', or sequence groups "
                    "(the engine has no rule for what a bare delete outranks)"
                )
        if self._dv_enabled(schema):
            # the live rows are the rows read_table returns for a DV table.
            # Parquet only: ORC and Avro have no native row index, and their
            # positional readers decode in Python, so a full positional scan
            # there would cost more than the key join's pruned one
            tdir = self._table_dir(db, table)
            snap = self._pin_snapshot(tdir, None, None, None)
            if snap is not None and snap.files and all(
                e.get("format", "parquet") == "parquet" for e in snap.files
            ):
                doomed = self._dv_live_rows(tdir, schema, snap, snap).filter(condition)
                return self.insert_into(
                    db,
                    table,
                    doomed.select(*[f.name for f in schema.fields]),
                    row_kind="D",
                    positions=(snap.snapshot_id, doomed.select(_DV_FILE, _DV_POS)),
                )
        # use_fallback=False on every internal physical/write read: fallback-
        # branch is a SCAN-TIME option (Paimon serves missing partitions from
        # the branch at read time only) — a DML/maintenance path that read
        # main ∪ fallback would commit the branch's rows as MAIN data files,
        # permanently shadowing later fallback updates.
        doomed = (
            self.read_table(f"{db}.{table}", pad_char=False, use_fallback=False)
            .filter(condition)
        )
        return self.insert_into(db, table, doomed, row_kind="D")

    def update_where(self, db: str, table: str, condition, assignments: dict) -> int:
        """UPDATE: upsert re-written rows for matching keys (PK tables only).

        ``assignments`` maps column name → Column expression (or literal).
        On a PK table an update is just a fresh +I commit — the deduplicate
        merge engine makes the higher-sequence row win at read time, so no
        read-modify-write of data files happens (the LSM way). The reference
        has no UPDATE at all (negative finding, SURVEY §2.A).
        """
        schema = self.schema_of(db, table)
        if not schema.primary_key:
            raise ValueError("update_where requires a primary-key table")
        bad = set(assignments) & set(schema.primary_key)
        if bad:
            raise ValueError(f"cannot update primary-key columns {sorted(bad)}")
        seq_field = schema.options.get("sequence_field")
        if seq_field and seq_field not in assignments:
            # with a sequence_field, merge order is the BUSINESS column: a
            # rewritten row carrying the same sequence value ties with the
            # row it replaces and max_by picks arbitrarily — the update
            # could silently not apply. Make the caller advance it.
            raise ValueError(
                f"UPDATE on a sequence_field table must assign a new value to "
                f"{seq_field!r} (merge order is the sequence column; an equal "
                "value ties with the old row nondeterministically)"
            )
        if schema.options.get("merge_engine") == "first-row":
            raise ValueError(
                "UPDATE is not supported on first-row merge-engine tables "
                "(the earliest insert wins; the rewritten row would be ignored)"
            )
        # use_fallback=False: scan-time option, see delete_where
        updated = (
            self.read_table(f"{db}.{table}", pad_char=False, use_fallback=False)
            .filter(condition)
        )
        for col, expr in assignments.items():
            if col not in [f.name for f in schema.fields]:
                raise ValueError(f"unknown column {col!r}")
            updated = updated.withColumn(col, expr if isinstance(expr, Column) else F.lit(expr))
        # explicit kind: an UPDATE rewrites matched rows as upserts — it must
        # never re-derive kinds from a rowkind.field data column (stored op
        # values are feed history, and a stored '-D' would turn the update
        # into a silent delete; a NULL would crash the write)
        return self.insert_into(db, table, updated, row_kind="I")

    def merge_into(
        self,
        db: str,
        table: str,
        source: DataFrame,
        on: list[str],
        when_matched: str | None = "update",
        when_not_matched: str | None = "insert",
    ) -> int:
        """MERGE INTO (Delta/Iceberg-style upsert) in ONE atomic commit.

        - ``when_matched="update"``: source row replaces the target row
          (full-row upsert — the new +I outranks the old sequence).
        - ``when_matched="delete"``: matching target keys get -D rows.
        - ``when_not_matched="insert"``: source rows with no target match
          become +I rows.

        All clauses land in a single snapshot via per-row ``_row_kind``, so
        readers see the merge atomically (time travel shows before/after,
        never a half-merge). Trino's Paimon connector has no MERGE (the
        engine-level write tests are skipped —
        ``TestTrinoDistributedQuery.java:69-77``); this is capability beyond
        the reference, matching Paimon's own Spark writer surface.

        The default pair (update + insert) is an upsert: every source row
        becomes +I whether or not its key matches — the semi and anti joins
        would partition ``source`` exactly (null keys fall to the anti side,
        duplicates stay) — so it commits ``source`` with no target read.
        The other clause sets split ``source`` with a left-semi and a
        left-anti join against the merged target keys, projected to the PK
        columns only; with a broadcast-sized source the fact table never
        shuffles.
        """
        schema = self.schema_of(db, table)
        if not schema.primary_key:
            raise ValueError("merge_into requires a primary-key table")
        if sorted(on) != sorted(schema.primary_key):
            raise ValueError(f"merge keys {on} must equal the primary key {schema.primary_key}")
        if when_matched not in ("update", "delete", None):
            raise ValueError(f"when_matched must be 'update', 'delete', or None, got {when_matched!r}")
        if when_not_matched not in ("insert", None):
            raise ValueError(f"when_not_matched must be 'insert' or None, got {when_not_matched!r}")

        if when_matched == "update" and when_not_matched == "insert":
            return self.insert_into(db, table, source.withColumn(KIND_COL, F.lit("I")))
        # use_fallback=False: scan-time option, see delete_where
        target = self.read_table(f"{db}.{table}", pad_char=False, use_fallback=False)
        target_keys = target.select(*on)
        pieces = []
        if when_matched == "update":
            pieces.append(
                source.join(target_keys, on, "left_semi").withColumn(KIND_COL, F.lit("I"))
            )
        elif when_matched == "delete":
            pieces.append(
                target.join(source.select(*on), on, "left_semi").withColumn(KIND_COL, F.lit("D"))
            )
        if when_not_matched == "insert":
            pieces.append(
                source.join(target_keys, on, "left_anti").withColumn(KIND_COL, F.lit("I"))
            )
        if not pieces:
            raise ValueError("merge_into with no clauses is a no-op")
        out = functools.reduce(DataFrame.unionByName, pieces)
        return self.insert_into(db, table, out)

    @staticmethod
    def _prune_empty_dirs(root: str) -> None:
        """Remove commit directories that hold no data files anymore — only
        Spark write markers (_SUCCESS, .crc) — bottom-up, so a future commit
        of the same version can write its directory fresh."""
        for dirpath, dirnames, filenames in os.walk(root, topdown=False):
            if dirpath == root:
                continue
            data = [f for f in filenames if f.endswith((".parquet", ".orc", ".avro"))]
            leftover_dirs = [d for d in dirnames if os.path.exists(os.path.join(dirpath, d))]
            if not data and not leftover_dirs:
                for f in filenames:
                    os.remove(os.path.join(dirpath, f))
                os.rmdir(dirpath)

