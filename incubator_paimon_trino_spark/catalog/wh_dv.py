"""Deletion vectors: commit-time mark building (inline + sharded
index formats), the distributed mark application, and the
delta-vs-base merge split.

One mixin of ``WarehouseCatalog``; the class surface is assembled in
``warehouse.py``.
"""

from __future__ import annotations

import dataclasses
import uuid
import glob
import os
import re
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from incubator_paimon_trino_spark.catalog.metadata import (
    KIND_COL,
    Snapshot,
    TableSchema,
    read_json,
    write_json_atomic,
)
from incubator_paimon_trino_spark.catalog.scan import prune_files

from incubator_paimon_trino_spark.catalog.wh_helpers import *  # noqa: F401,F403


class DeletionVectorMixin:
    # ---------------------------------------------------- deletion vectors
    # Paimon's ``deletion-vectors.enabled`` (DV mode): instead of merging
    # row versions at read time, each commit MARKS the positions of the
    # rows it supersedes in older files; a read is then scan − DV — no
    # merge shuffle at all. The reference connector inherits this from
    # Paimon core at scan time; here it is executable end-to-end: writes
    # pay a key lookup against the live files (Paimon's lookup compaction
    # cost), reads drop the whole merge-on-read exchange. Reads and
    # commits drop marked rows the same way: ``_dv_anti_join``, a Spark
    # read of the committed index anti-joined on (file basename,
    # position), so marks never transit the driver.

    @staticmethod
    def _dv_enabled(schema: TableSchema) -> bool:
        return (
            bool(schema.primary_key)
            and schema.options.get("deletion_vectors_enabled", "").strip().lower() == "true"
        )

    def _dv_vectors(self, tdir: str, snap: Snapshot | None) -> dict[str, list[int]]:
        """TEST/DEBUG utility: the snapshot's cumulative deletion vectors
        as a driver dict {rel-or-base path → sorted positions}, either
        format. NEVER on a read, stream, or commit path (pinned by
        monkeypatch in tests/test_deletion_vectors.py and
        tests/test_dv_stream.py) — a sharded index is O(live deleted rows).
        Missing/absent → {} (nothing deleted)."""
        from incubator_paimon_trino_spark.catalog.dv_index import (
            load_index_meta,
            mark_file_names,
        )

        meta = load_index_meta(tdir, snap.dv if snap else None)
        if meta is None:
            return {}
        if meta["kind"] == "inline":
            return meta["vectors"]
        out: dict[str, list[int]] = {}
        for name in mark_file_names(tdir, snap.dv):
            try:
                doc = read_json(os.path.join(tdir, "index", name))
            except FileNotFoundError:
                continue
            out.update(doc.get("vectors", {}))
        return out

    def _dv_dirty_files(self, tdir: str, snap: Snapshot | None) -> "set[str] | None":
        """Basenames of the MARK-BEARING files when the snapshot's index is
        INLINE — one bounded driver parse (the same O(inline-threshold)
        contract the commit-side fold already uses), read-path-legal unlike
        ``_dv_vectors``. Returns None for SHARDED indexes (their file names
        live inside per-bucket shard documents; enumerating them is O(live
        deleted rows), a bound the driver must not carry) — callers then
        keep the all-files position join. Missing index → empty set (no
        marks)."""
        from incubator_paimon_trino_spark.catalog.dv_index import load_index_meta

        meta = load_index_meta(tdir, snap.dv if snap else None)
        if meta is None:
            return set()
        if meta["kind"] != "inline":
            return None
        return {os.path.basename(k) for k in meta["vectors"]}

    def _dv_marks_df(self, tdir: str, dv_name: str | None) -> DataFrame | None:
        """The index's marks as a Spark-read DataFrame (file basename,
        position) — the ONE way marks reach any read/stream plan. Inline or
        sharded, the mark-bearing files share the ``{"vectors": ...}``
        document shape, so both formats flow through the same
        ``explode_dv_index_text`` pipeline: an inline index parses as one
        executor task of O(index) (bounded by the inline threshold), a
        sharded one as many small per-bucket parse tasks. None = no marks
        (no index, or reaped by expiry)."""
        from incubator_paimon_trino_spark.catalog.dv_index import mark_file_names

        paths = [
            os.path.join(tdir, "index", n) for n in mark_file_names(tdir, dv_name)
        ]
        paths = [p for p in paths if os.path.exists(p)]
        if not paths:
            return None
        return explode_dv_index_text(
            self.spark.read.format("text").option("wholetext", "true").load(paths)
        )

    # ------------------------------------------ broadcast-bound derivation
    # The delta-split and DV-mark bounds are the same "broadcastable"
    # judgment: both derive from the config Spark itself sizes broadcasts
    # with — spark.sql.autoBroadcastJoinThreshold (bytes) ÷ an estimated row
    # width — so a wide-PK struct never outgrows executor broadcast memory,
    # and each is overridable per table.

    #: conservative per-type width estimates (bytes) for broadcast sizing —
    #: unparameterized strings/binary assume 32B payloads
    _TYPE_WIDTH_DEFAULT = 32

    @staticmethod
    def _field_width(ptype: str) -> int:
        t = ptype.strip().lower()
        if m := re.match(r"(?:var)?(?:char|binary)\s*\((\d+)\)", t):
            return min(int(m.group(1)), 128)
        if t in ("tinyint", "boolean"):
            return 1
        if t in ("smallint",):
            return 2
        if t in ("int", "integer", "float", "real", "date", "time"):
            return 4
        if t.startswith(("bigint", "double", "decimal")):
            return 8
        if t.startswith("timestamp"):
            return 12
        return DeletionVectorMixin._TYPE_WIDTH_DEFAULT

    def _broadcast_rows_bound(self, row_bytes: int, option_rows: str | None) -> int:
        """Max rows a forced broadcast of ``row_bytes``-wide rows may carry:
        the table option wins when set; otherwise
        ``autoBroadcastJoinThreshold // row_bytes``. Threshold ≤ 0 (user
        disabled auto-broadcast) returns 0 — the fast paths fall back to
        the full merge / plain anti-join rather than forcing a broadcast
        the user turned off."""
        if option_rows is not None:
            return max(int(option_rows), 0)
        thr = _parse_byte_conf(
            self.spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
        )
        return max(thr // max(row_bytes, 1), 0) if thr > 0 else 0

    def _delta_broadcast_rows(self, schema: TableSchema) -> int:
        """Delta-split bound: the delta's PK structs broadcast, so size by
        the summed key-field widths (+16B struct overhead). Override:
        ``merge-read.delta-broadcast-rows``."""
        width = 16 + sum(
            self._field_width(f.type) for f in schema.fields if f.name in schema.primary_key
        )
        return self._broadcast_rows_bound(
            width, schema.options.get("merge_read_delta_broadcast_rows")
        )

    def _dv_broadcast_rows(self, schema: TableSchema | None = None) -> int:
        """Bound on the marks ``_dv_anti_join`` hints for broadcast: a mark
        row is a file basename (~45B) plus a bigint position. Override:
        ``deletion-vectors.broadcast-rows``."""
        return self._broadcast_rows_bound(
            64, schema.options.get("deletion_vectors_broadcast_rows") if schema else None
        )

    def _delta_base_split(
        self, tdir: str, schema: TableSchema, snap: Snapshot
    ) -> "tuple[DataFrame, DataFrame] | None":
        """(base DataFrame, delta DataFrame) when the snapshot's live set
        splits into compaction output (``source == "compact"`` — unique
        keys, no -D rows, the materialized merge) plus a BROADCAST-SIZED
        delta of later commits; None otherwise (no compact base, no delta,
        or a delta too large to broadcast — callers then run the full
        merge). The decision costs no job: manifest record counts bound the
        delta's key count against the config-derived bound
        (``_delta_broadcast_rows``)."""
        compact_files = [e for e in snap.files if e.get("source") == "compact"]
        delta_files = [e for e in snap.files if e.get("source") != "compact"]
        if not compact_files or not delta_files:
            return None
        counts = [e.get("record_count") for e in delta_files]
        if any(c is None for c in counts) or sum(counts) > self._delta_broadcast_rows(schema):
            return None
        base = self._read_files(tdir, schema, dataclasses.replace(snap, files=compact_files))
        delta = self._read_files(tdir, schema, dataclasses.replace(snap, files=delta_files))
        return base, delta

    def _dv_apply_distributed(
        self, df: DataFrame, tdir: str, snap: Snapshot, schema: TableSchema | None = None
    ) -> DataFrame:
        """``df`` (read with ``with_pos=True``) less the rows ``snap``'s
        index marks, provenance columns dropped. The marks side is read by
        Spark from the committed index, never the driver: a sharded index
        reads as many small per-bucket parse tasks, an index reaped by
        expiry as no marks."""
        return self._dv_anti_join(df, tdir, snap, schema).drop(_DV_FILE, _DV_POS)

    def _dv_anti_join(
        self, df: DataFrame, tdir: str, snap: Snapshot, schema: TableSchema | None = None
    ) -> DataFrame:
        """``df``'s rows whose (``__dv_file`` basename, ``__dv_pos``) the
        snapshot's index does not mark: the distributed anti-join, with the
        marks side broadcast when the mark count fits the bound."""
        marks = self._dv_marks_df(tdir, snap.dv) if snap.dv and snap.dv_marks != 0 else None
        if marks is None:
            return df
        if snap.dv_marks is not None and snap.dv_marks <= self._dv_broadcast_rows(schema):
            # a JSON-parsed side has no stats: without the hint AQE
            # sort-merge-joined a 23k-mark index against the scan, which
            # was 2/3 of the DV read's overhead.
            # Above the bound, AQE decides — never force a broadcast
            # larger than Spark's own threshold.
            marks = F.broadcast(marks)
        return df.join(marks, [_DV_FILE, _DV_POS], "left_anti")

    @staticmethod
    def _dv_batch_summary(
        batch: DataFrame, pk: list[str]
    ) -> tuple[int, bool, int, object, object]:
        """One aggregate over a DV commit's (persisted) batch, grouped by
        primary key: (rows the commit writes, whether any -D row is present,
        distinct key count, lead key min, lead key max). Rows to write are
        the inserts whose key the batch does not also delete (the F1
        tie-break).

        DV mode has no read-time merge to disambiguate two versions of one
        key inside a single commit, so a batch with two insert rows for one
        key is rejected loudly instead of writing a file whose extra version
        can never be marked (Paimon's writer dedups in its LSM memtable; a
        batch DataFrame has no arrival order)."""
        kind = F.col(KIND_COL)
        per_key = batch.groupBy(*pk).agg(
            F.count(F.when(kind != "D", 1)).alias("__dv_ins"),
            F.max(F.when(kind == "D", 1)).alias("__dv_del"),
        )
        ins, dele = F.col("__dv_ins"), F.col("__dv_del")
        dup, n_write, has_d, n_keys, lo, hi = per_key.agg(
            F.first(F.when(ins > 1, F.struct(*pk)), ignorenulls=True),
            F.sum(F.when(dele.isNull(), ins)),
            F.max(dele),
            F.count(F.lit(1)),
            F.min(pk[0]),
            F.max(pk[0]),
        ).collect()[0]
        if dup is not None:
            raise ValueError(
                "deletion-vectors table: batch carries multiple insert "
                f"rows for one primary key (e.g. {dict(zip(pk, dup))}); "
                "pre-merge the batch to one row per key"
            )
        return n_write or 0, bool(has_d), n_keys, lo, hi

    def _dv_live_rows(
        self, tdir: str, schema: TableSchema, prev: Snapshot, scan: Snapshot
    ) -> DataFrame:
        """Rows of ``scan``'s files that ``prev``'s index does not mark, with
        their provenance: ``__dv_file`` (data-file basename) and ``__dv_pos``
        (bigint row position). Over all of ``prev``'s files these are the
        rows ``read_table`` returns for a DV table: the marks drop through
        the same ``_dv_anti_join`` the read uses."""
        live = self._read_files(tdir, schema, scan, with_pos=True).withColumn(
            _DV_POS, F.expr(f"CAST({_DV_POS} AS BIGINT)")
        )
        return self._dv_anti_join(live, tdir, prev, schema)

    def _dv_key_hits(
        self, tdir: str, schema: TableSchema, prev: Snapshot, keys: DataFrame, lo, hi
    ) -> DataFrame | None:
        """(file basename, position) of the live rows whose primary key is
        in ``keys``, a batch's key columns (duplicates are harmless to the
        semi join). [``lo``, ``hi``] is the batch's lead-key range: the scan
        opens only the files whose manifest min/max admits it, so a point
        upsert on a many-file table reads the files that can hold its key,
        not the table. None when no live file admits it; ``lo`` is None
        when every lead key is NULL, and then nothing is pruned."""
        lead = schema.primary_key[0]
        files = prev.files
        if lo is not None:
            from incubator_paimon_trino_spark.functions.predicates import (
                ColumnDomain,
                Range,
            )

            files = prune_files(
                files,
                [ColumnDomain(lead, ranges=[Range(low=lo, high=hi)])],
                schema,
                lambda sid: self._schema(tdir, sid),
            )
        if not files:
            return None
        live = self._dv_live_rows(tdir, schema, prev, dataclasses.replace(prev, files=files))
        return live.join(keys, schema.primary_key, "left_semi").select(_DV_FILE, _DV_POS)

    def _dv_build(
        self,
        tdir: str,
        schema: TableSchema,
        prev: Snapshot,
        hits: DataFrame | None,
        version: int,
        written: list[str],
    ) -> tuple[str, int, int]:
        """Publish the commit's DV index from ``hits``, the (file basename,
        position) of each live row of ``prev`` this commit supersedes (None:
        none). Returns (index name, newly marked, cumulative marks). Each
        file or staging directory under ``index/`` is appended to
        ``written`` before it is created, so a failed or losing attempt
        removes all of them, however far the build got.

        The format follows the CUMULATIVE mark count, decided from
        ``prev.dv_marks`` and the hits themselves, never from a parse of a
        sharded index:

        - at or under ``dv-index.inline-threshold``: ONE action, a collect of
          at most ``room + 1`` hits (``room`` = the threshold minus the prior
          marks), folds into one inline JSON. The limit runs on an executor
          and is what keeps driver memory O(threshold).
        - above it (that collect returned ``room + 1`` rows), or once
          sharded: the hits persist and executors write per-bucket shard
          files for ONLY the touched buckets; untouched buckets carry
          forward by name. No mark set ever reaches the driver.
        """
        from incubator_paimon_trino_spark.catalog.dv_index import (
            inline_threshold,
            is_sharded,
            load_index_meta,
        )

        prev_meta = load_index_meta(tdir, prev.dv)
        prev_count = prev.dv_marks
        if prev_count is None:
            prev_count = (
                0
                if prev_meta is None
                else (
                    prev_meta["marks"]
                    if prev_meta["marks"] is not None
                    # legacy inline without a recorded count: the dict
                    # is already parsed, size it directly
                    else sum(len(ps) for ps in prev_meta["vectors"].values())
                )
            )
        room = -1 if is_sharded(prev.dv) else inline_threshold(schema.options) - prev_count
        if room >= 0:
            # under coalesce(1) the limit plans as per-partition local limits
            # shuffled into ONE task's global limit: one action, and the
            # driver receives at most room + 1 rows. A top-level limit would
            # merge on the driver (a take in growing rounds of partitions,
            # each returning up to room + 1 rows).
            rows = [] if hits is None else hits.limit(room + 1).coalesce(1).collect()
            if len(rows) <= room:
                return self._dv_fold_inline(tdir, prev, prev_meta, rows, version, written)
        if hits is None:
            hits = self.spark.createDataFrame([], f"{_DV_FILE} string, {_DV_POS} bigint")
        hits = hits.persist()
        try:
            return self._dv_write_shards(
                tdir, schema, prev_meta, hits, hits.count(), prev_count, version, written
            )
        finally:
            hits.unpersist()

    def _dv_fold_inline(
        self,
        tdir: str,
        prev: Snapshot,
        prev_meta: dict | None,
        rows: list,
        version: int,
        written: list[str],
    ) -> tuple[str, int, int]:
        """Inline-format commit: cumulative marks ≤ threshold by the
        caller's decision, so folding the collected hit ``rows`` into the
        prior parsed dict is bounded driver work (the dict survives only
        here, and only under the threshold). Marks of files no longer live
        are dropped."""
        prev_vec = prev_meta["vectors"] if prev_meta else {}
        base_to_rel = {
            os.path.basename(f["path"].replace("\\", "/")): f["path"]
            for f in prev.files
        }
        merged: dict[str, set[int]] = {
            rel: set(ps)
            for rel, ps in prev_vec.items()
            if os.path.basename(rel.replace("\\", "/")) in base_to_rel
        }
        for r in rows:
            merged.setdefault(base_to_rel[r[0]], set()).add(int(r[1]))
        vectors = {rel: sorted(ps) for rel, ps in sorted(merged.items())}
        total = sum(len(ps) for ps in vectors.values())
        name = self._dv_write_inline(tdir, version, vectors, written)
        return name, len(rows), total

    def _dv_write_inline(
        self, tdir: str, version: int, vectors: dict[str, list[int]], written: list[str]
    ) -> str:
        """Write an inline cumulative DV index for ``version`` BEFORE the
        snapshot publish (readers must never see the snapshot without its
        vectors), recording its name in ``written`` first. Nonce-named so
        racing committers at one version can't cross-wire: each snapshot
        references exactly the file its own writer produced."""
        name = f"dv-{version}-{uuid.uuid4().hex[:8]}.json"
        written.append(name)
        write_json_atomic(
            os.path.join(tdir, "index", name),
            {"vectors": vectors, "marks": sum(len(ps) for ps in vectors.values())},
        )
        return name

    def _dv_write_shards(
        self,
        tdir: str,
        schema: TableSchema,
        prev_meta: dict | None,
        hits: DataFrame,
        n_hits: int,
        prev_count: int,
        version: int,
        written: list[str],
    ) -> tuple[str, int, int]:
        """Sharded-format commit: EXECUTORS write one ``{"vectors": ...}``
        document per touched bucket (marks hashed by data-file basename);
        untouched buckets carry their prior shard files forward BY NAME, so
        consumers diff two snapshots with a metadata-only name compare. The
        driver handles only bucket ids (≤ ``dv-index.buckets``) and file
        renames — never marks.

        Rewrite set per bucket = prior marks of that bucket ∪ new hits:
        prior marks come from reading ONLY the touched buckets' shard files
        (or the one prior inline file on the threshold-crossing commit).
        Liveness filtering is deliberately skipped — a dead file's marks
        anti-join against nothing (harmless) and compaction resets the
        index wholesale; filtering would force reading every bucket every
        commit."""
        from incubator_paimon_trino_spark.catalog.dv_index import index_buckets

        k = index_buckets(schema.options)
        nonce = uuid.uuid4().hex[:8]
        bucket = F.pmod(F.crc32(F.encode(F.col(_DV_FILE), "UTF-8")), F.lit(k)).cast("int")
        carried: dict[int, list[str]] = {}
        base: DataFrame | None = None
        if prev_meta is None:
            touched = None  # no prior marks: every hit bucket gets written
        elif prev_meta["kind"] == "inline":
            # threshold-crossing commit: rewrite ALL prior marks into shards
            touched = None
            if prev_meta["vectors"]:
                base = self._dv_marks_df(tdir, prev_meta["name"])
        elif prev_meta["buckets"] != k:
            # bucket-count change: full rewrite under the new k (consumers
            # see every bucket as touched and diff executor-side — correct,
            # just not incremental for this one commit)
            touched = None
            base = self._dv_marks_df(tdir, prev_meta["name"])
        else:
            touched = sorted(
                r[0] for r in hits.select(bucket.alias("_b")).distinct().collect()
            )
            carried = {
                b: names
                for b, names in prev_meta["shards"].items()
                if b not in set(touched)
            }
            prior_paths = [
                os.path.join(tdir, "index", n)
                for b in touched
                for n in prev_meta["shards"].get(b, [])
            ]
            prior_paths = [p for p in prior_paths if os.path.exists(p)]
            if prior_paths:
                base = explode_dv_index_text(
                    self.spark.read.format("text")
                    .option("wholetext", "true")
                    .load(prior_paths)
                )
        rewrite = hits if base is None else hits.unionByName(base)
        # Bound each shard DOCUMENT (it aggregates into one JSON string, so
        # one buffer): a bucket whose rewrite exceeds max-marks-per-shard
        # splits into sub-shards — the manifest lists a LIST of files per
        # bucket and every reader unions marks across them, so
        # sub-splitting is invisible downstream. One collect of marks per
        # (bucket, data file), at most one row per marked file, sizes them
        # on the driver (``_sub_shards``).
        from incubator_paimon_trino_spark.catalog.dv_index import max_marks_per_shard

        max_marks = max_marks_per_shard(schema.options)
        rewrite = rewrite.withColumn("_b", bucket).persist()
        try:
            sub_of = _sub_shards(
                rewrite.groupBy("_b", _DV_FILE).agg(F.count("*").alias("n")).collect(),
                max_marks,
            )
            if sub_of:
                # flat map lookup, not a nested WHEN per file
                sub_expr = F.coalesce(
                    F.element_at(
                        F.create_map(
                            *[x for f, s in sorted(sub_of.items()) for x in (F.lit(f), F.lit(s))]
                        ),
                        F.col(_DV_FILE),
                    ),
                    F.lit(0),
                )
            else:
                sub_expr = F.lit(0)
            docs = (
                rewrite.withColumn("_s", sub_expr.cast("int"))
                .groupBy("_b", "_s", _DV_FILE)
                .agg(F.sort_array(F.collect_set(_DV_POS)).alias("_ps"))
                .groupBy("_b", "_s")
                .agg(
                    F.to_json(
                        F.struct(
                            F.map_from_entries(
                                F.sort_array(
                                    F.collect_list(
                                        F.struct(F.col(_DV_FILE), F.col("_ps"))
                                    )
                                )
                            ).alias("vectors")
                        )
                    ).alias("value")
                )
            )
            staging_name = f".staging-dv-{version}-{nonce}"
            written.append(staging_name)
            staging = os.path.join(tdir, "index", staging_name)
            docs.write.partitionBy("_b", "_s").text(staging)
        finally:
            rewrite.unpersist()
        shards: dict[int, list[str]] = dict(carried)
        for sdir in sorted(glob.glob(os.path.join(staging, "_b=*", "_s=*"))):
            b = int(os.path.basename(os.path.dirname(sdir)).split("=", 1)[1])
            s = int(os.path.basename(sdir).split("=", 1)[1])
            parts = sorted(glob.glob(os.path.join(sdir, "part-*")))
            # one row per (bucket, sub) in `docs` → exactly one part file
            assert len(parts) == 1, f"expected one doc for bucket {b}/{s}: {parts}"
            name = f"dv-{version}-{nonce}-b{b}-s{s}.json"
            written.append(name)
            os.replace(parts[0], os.path.join(tdir, "index", name))
            if b in carried:
                raise AssertionError(f"bucket {b} both carried and rewritten")
            shards.setdefault(b, []).append(name)
        shutil.rmtree(staging, ignore_errors=True)
        total = prev_count + n_hits  # hits are strictly new (pre-filtered)
        manifest = f"dvm-{version}-{nonce}.json"
        written.append(manifest)
        write_json_atomic(
            os.path.join(tdir, "index", manifest),
            {
                "format": "sharded",
                "buckets": k,
                "marks": total,
                "shards": {str(b): names for b, names in sorted(shards.items())},
            },
        )
        return manifest, n_hits, total


def _sub_shards(counts: list, max_marks: int) -> dict[str, int]:
    """{data file: sub-shard} for the files of every bucket holding more
    than ``max_marks`` marks, from rows of (bucket, data file, marks).
    Each such bucket's files fill sub-shards next-fit in file-name order:
    a new sub-shard starts when the next file would pass the cap. One
    file's marks stay in one document, so a file over the cap gets a
    sub-shard alone. Files of other buckets stay in sub-shard 0."""
    by_bucket: dict[int, list[tuple[str, int]]] = {}
    for b, f, n in counts:
        by_bucket.setdefault(b, []).append((f, n))
    sub_of: dict[str, int] = {}
    for files in by_bucket.values():
        if sum(n for _, n in files) <= max_marks:
            continue
        sub, size = 0, 0
        for f, n in sorted(files):
            if size and size + n > max_marks:
                sub, size = sub + 1, 0
            sub_of[f] = sub
            size += n
    return sub_of
