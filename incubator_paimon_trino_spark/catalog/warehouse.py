"""WarehouseCatalog — the lake-table catalog the reference implements as a
Trino connector, re-expressed Spark-first.

Layout (one directory tree, no services):

    warehouse/
      <db>.db/
        <table>/
          schema/schema-<id>.json       # full schema history (evolution by field id)
          snapshot/snapshot-<v>.json    # one manifest per commit
          snapshot/LATEST               # pointer file
          data/c<v>-*.parquet           # immutable data files per commit

Reference parity map (SURVEY §2.A):
- A14 list/describe            → ``list_databases/list_tables/describe``
- A15 CREATE/DROP SCHEMA       → ``create_database/drop_database``
- A16 CREATE TABLE (+PK/partitions/options) → ``create_table``
- A17 RENAME/DROP TABLE        → ``rename_table/drop_table``
- A18 ADD/RENAME/DROP COLUMN   → ``add_column/rename_column/drop_column``
  (field-id mapping: files written under old schemas stay readable)
- A19 SET PROPERTIES           → ``set_options``
- A11/A12 time travel          → ``read_table(version_as_of=, timestamp_as_of=)``
- A13 system tables            → ``read_table("t$snapshots")`` etc.
- A9 merge-on-read             → PK tables merged at read (see
  ``operators/merge_on_read.py``)
- beyond reference: a write path (``insert_into``, ``delete_where``) — the
  reference is read-only and relies on external writers
  (``SimpleTableTestHelper.java:46-53``); our engine writes its own snapshots.

Scale notes: manifests list full live-file sets (simple, atomic); at real
scale these become delta manifests + metadata compaction, which changes the
manifest reader only — the table/commit model is unchanged. Data files are
written by Spark executors in parallel; only the (tiny) JSON commit is
driver-side, matching Paimon's coordinator-side commit protocol.
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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from incubator_paimon_trino_spark.catalog.metadata import (
    KIND_COL,
    SEQ_COL,
    Field,
    Snapshot,
    TableSchema,
    _parse_type as _meta_parse_type,
    load_snapshots,
    plan_commits,
    read_json,
    resolve_snapshot,
    write_json_atomic,
)
from incubator_paimon_trino_spark.catalog.file_index import (
    _split_cols,
    prune_files_by_index,
)
from incubator_paimon_trino_spark.catalog.scan import (
    partition_values,
    prune_files,
)
from incubator_paimon_trino_spark.functions.types import (
    castable_ddl,
    char_length,
)

# shared helpers/constants — re-exported so existing
# `from ...warehouse import X` call sites keep working
from incubator_paimon_trino_spark.catalog.wh_helpers import *  # noqa: F401,F403
from incubator_paimon_trino_spark.catalog.wh_dv import DeletionVectorMixin
from incubator_paimon_trino_spark.catalog.wh_maintenance import MaintenanceMixin
from incubator_paimon_trino_spark.catalog.wh_sql import SqlMixin
from incubator_paimon_trino_spark.catalog.wh_write import WriteMixin


class WarehouseCatalog(WriteMixin, MaintenanceMixin, DeletionVectorMixin, SqlMixin):
    def __init__(self, warehouse: str, spark: SparkSession, commit_user: str = "spark-graft"):
        self.warehouse = os.path.abspath(warehouse)
        self.spark = spark
        self.commit_user = commit_user
        os.makedirs(self.warehouse, exist_ok=True)

    # ------------------------------------------------------------------ paths
    def _db_dir(self, db: str) -> str:
        return os.path.join(self.warehouse, f"{db}.db")

    def _table_dir(self, db: str, table: str) -> str:
        """Branch-aware: ``t$branch_<name>`` addresses the branch's own
        metadata namespace (snapshot/schema/manifest/data dirs under
        ``<table>/branch/<name>/``) — Paimon's branch addressing syntax.
        Every (db, table) method then works on branches unchanged."""
        base, _, br = table.partition("$branch_")
        d = os.path.join(self._db_dir(db), base)
        return os.path.join(d, "branch", br) if br else d

    # ------------------------------------------------------------ databases
    def create_database(self, db: str, ignore_if_exists: bool = False) -> None:
        d = self._db_dir(db)
        if os.path.exists(d):
            if ignore_if_exists:
                return
            raise ValueError(f"database {db!r} already exists")
        os.makedirs(d)

    def drop_database(self, db: str, cascade: bool = False) -> None:
        d = self._db_dir(db)
        if not os.path.exists(d):
            raise ValueError(f"database {db!r} does not exist")
        if os.listdir(d) and not cascade:
            raise ValueError(f"database {db!r} is not empty")
        shutil.rmtree(d)

    def list_databases(self) -> list[str]:
        return sorted(
            e[: -len(".db")] for e in os.listdir(self.warehouse) if e.endswith(".db")
        )

    def list_tables(self, db: str) -> list[str]:
        d = self._db_dir(db)
        if not os.path.exists(d):
            raise ValueError(f"database {db!r} does not exist")
        return sorted(e for e in os.listdir(d) if os.path.isdir(os.path.join(d, e)))

    # ---------------------------------------------------------------- tables
    def create_table(
        self,
        db: str,
        table: str,
        columns: list[tuple[str, str]],
        primary_key: list[str] | None = None,
        partitioned_by: list[str] | None = None,
        options: dict[str, str] | None = None,
    ) -> None:
        """CREATE TABLE with PK / partition keys / Paimon-style options.

        ``columns`` is [(name, spark_type_ddl)] or
        [(name, spark_type_ddl, comment)] — the optional per-column comment
        surfaces through ``information_schema.columns`` (Trino's columns
        metadata carries comment/default — ``TrinoMetadataBase.java:271-287``).
        Option keys use the reference's underscore mangling (``file_format``,
        ``bucket_key``, ``changelog_producer`` —
        ``TrinoTableOptionUtils.java:130-135``).
        """
        if "$" in table:
            # `$` is branch/system addressing (t$branch_b, t$snapshots) —
            # branches are created with create_branch, never CREATE TABLE
            raise ValueError(f"invalid table name {table!r} ('$' is reserved)")
        tdir = self._table_dir(db, table)
        if not os.path.exists(self._db_dir(db)):
            raise ValueError(f"database {db!r} does not exist")
        if os.path.exists(tdir):
            raise ValueError(f"table {db}.{table} already exists")
        primary_key = list(primary_key or [])
        partitioned_by = list(partitioned_by or [])
        names = [c[0] for c in columns]
        lowered = [n.lower() for n in names]
        dups = sorted({n for n in lowered if lowered.count(n) > 1})
        if dups:
            raise ValueError(f"duplicate column names {dups}")
        from incubator_paimon_trino_spark.operators.merge_on_read import RESERVED_INTERNAL

        reserved = sorted(set(lowered) & {r.lower() for r in RESERVED_INTERNAL})
        if reserved:
            # the system/merge scaffolding columns would silently shadow a
            # user column of the same name at read time
            raise ValueError(f"column name(s) {reserved} are reserved (system columns)")
        for c in columns:
            # validate with the READ-path parser so an unparseable type (e.g.
            # array<char(5)> — Spark 4 refuses nested char in a schema) fails
            # HERE, not on every later read of an unreadable table
            try:
                _meta_parse_type(c[1])
            except Exception as ex:
                raise ValueError(f"column {c[0]!r}: unsupported type {c[1]!r}: {ex}") from ex
        for k in primary_key + partitioned_by:
            if k not in names:
                raise ValueError(f"key column {k!r} not in columns {names}")
        options = _canonical_options(options)
        _validate_table_options(
            names,
            primary_key,
            options,
            types={c[0]: c[1] for c in columns},
            partition_keys=partitioned_by,
        )
        fields = [
            Field(i, c[0], c[1], comment=(c[2] if len(c) > 2 else None))
            for i, c in enumerate(columns)
        ]
        schema = TableSchema(
            schema_id=0,
            fields=fields,
            primary_key=primary_key,
            partition_keys=partitioned_by,
            options=options,
            highest_field_id=len(fields) - 1,
        )
        self._write_schema(tdir, schema)
        os.makedirs(os.path.join(tdir, "snapshot"), exist_ok=True)
        os.makedirs(os.path.join(tdir, "data"), exist_ok=True)

    def drop_table(self, db: str, table: str) -> None:
        tdir = self._table_dir(db, table)
        if not os.path.exists(tdir):
            raise ValueError(f"table {db}.{table} does not exist")
        shutil.rmtree(tdir)

    def rename_table(self, db: str, table: str, new_table: str) -> None:
        src, dst = self._table_dir(db, table), self._table_dir(db, new_table)
        if not os.path.exists(src):
            raise ValueError(f"table {db}.{table} does not exist")
        if os.path.exists(dst):
            raise ValueError(f"table {db}.{new_table} already exists")
        os.replace(src, dst)

    # ------------------------------------------------------- schema history
    def _write_schema(self, tdir: str, schema: TableSchema) -> None:
        write_json_atomic(
            os.path.join(tdir, "schema", f"schema-{schema.schema_id}.json"), schema.to_json()
        )

    def _schema(self, tdir: str, schema_id: int) -> TableSchema:
        return TableSchema.from_json(
            read_json(os.path.join(tdir, "schema", f"schema-{schema_id}.json"))
        )

    def _latest_schema(self, tdir: str) -> TableSchema:
        ids = [
            int(os.path.basename(p)[len("schema-") : -len(".json")])
            for p in glob.glob(os.path.join(tdir, "schema", "schema-*.json"))
        ]
        if not ids:
            raise ValueError(f"not a table directory: {tdir}")
        return self._schema(tdir, max(ids))

    def schema_of(self, db: str, table: str) -> TableSchema:
        return self._latest_schema(self._table_dir(db, table))

    def describe(self, db: str, table: str) -> list[tuple[str, str]]:
        s = self.schema_of(db, table)
        return [(f.name, f.type) for f in s.fields]

    # ---------------------------------------------------- schema evolution
    def add_column(
        self, db: str, table: str, name: str, type_ddl: str, comment: str | None = None
    ) -> None:
        tdir = self._table_dir(db, table)
        s = self._latest_schema(tdir)
        if any(f.name.lower() == name.lower() for f in s.fields):
            raise ValueError(f"column {name!r} already exists")
        _check_not_reserved(name)  # same reservation CREATE TABLE enforces
        # fail at DDL time on a type the READ-path parser rejects — a bad
        # string written into the schema JSON would otherwise brick every
        # subsequent read
        try:
            _meta_parse_type(type_ddl)
        except Exception as ex:
            raise ValueError(f"column {name!r}: unsupported type {type_ddl!r}: {ex}") from ex
        s.highest_field_id += 1
        s.fields.append(Field(s.highest_field_id, name, type_ddl, comment=comment))
        s.schema_id += 1
        self._write_schema(tdir, s)

    def rename_column(self, db: str, table: str, name: str, new_name: str) -> None:
        tdir = self._table_dir(db, table)
        s = self._latest_schema(tdir)
        if any(f.name.lower() == new_name.lower() for f in s.fields):
            raise ValueError(f"column {new_name!r} already exists")
        # renaming INTO a reserved name would let the write scaffolding
        # (merge columns, the curve-clustering key, the index build's file
        # alias) silently overwrite the user's column — same guard as CREATE
        _check_not_reserved(new_name)
        f = s.field_by_name(name)
        if f.name in s.primary_key or f.name in s.partition_keys:
            s.primary_key = [new_name if k == f.name else k for k in s.primary_key]
            s.partition_keys = [new_name if k == f.name else k for k in s.partition_keys]
        for single in ("bucket_key", "sequence_field", "rowkind_field"):
            # single-column options follow the rename — a stale sequence_field
            # or rowkind_field would silently break every later merge/write
            if s.options.get(single) == f.name:
                s.options[single] = new_name
        for opt in (
            "file_index_bloom_filter_columns",
            "file_index_bitmap_columns",
            "clustering_columns",
        ):
            cols = _split_cols(s.options.get(opt))
            if f.name in cols:
                # column-list options follow the rename (sidecar entries are
                # keyed by field id, so existing indexes keep working; a stale
                # clustering list would brick every subsequent insert)
                s.options[opt] = ",".join(new_name if c == f.name else c for c in cols)
        for pre, suf in (("fields.", ".aggregate-function"), ("fields_", "_aggregate_function")):
            # structured aggregate keys are ADDRESSED BY column name — a
            # rename must move the key or the aggregation engine silently
            # stops combining the renamed column
            old_key = f"{pre}{f.name}{suf}"
            if old_key in s.options:
                s.options[f"{pre}{new_name}{suf}"] = s.options.pop(old_key)
        f.name = new_name  # field id unchanged — old files remain readable
        s.schema_id += 1
        self._write_schema(tdir, s)

    def drop_column(self, db: str, table: str, name: str) -> None:
        tdir = self._table_dir(db, table)
        s = self._latest_schema(tdir)
        f = s.field_by_name(name)
        if f.name in s.primary_key or f.name in s.partition_keys:
            raise ValueError(f"cannot drop key column {name!r}")
        for single in ("bucket_key", "sequence_field", "rowkind_field"):
            if s.options.get(single) == f.name:
                raise ValueError(f"cannot drop {single} column {name!r}")
        for opt in (
            "file_index_bloom_filter_columns",
            "file_index_bitmap_columns",
            "clustering_columns",
        ):
            if f.name in _split_cols(s.options.get(opt)):
                # dropping a column an option still names would brick every
                # later write/build that resolves the list
                raise ValueError(
                    f"cannot drop column {name!r} while the {opt} option names "
                    "it; update the option first"
                )
        for pre, suf in (("fields.", ".aggregate-function"), ("fields_", "_aggregate_function")):
            # the aggregate spec dies with its column (leaving it would poison
            # the next set_options validation with an unknown-column error)
            s.options.pop(f"{pre}{f.name}{suf}", None)
        s.fields = [x for x in s.fields if x.id != f.id]
        s.schema_id += 1
        self._write_schema(tdir, s)

    def set_options(self, db: str, table: str, options: dict[str, str]) -> None:
        tdir = self._table_dir(db, table)
        s = self._latest_schema(tdir)
        incoming = _canonical_options(options)
        was_dv = s.options.get("deletion_vectors_enabled", "").strip().lower() == "true"
        now_dv = incoming.get("deletion_vectors_enabled", "").strip().lower()
        if now_dv and (now_dv == "true") != was_dv and self._latest_snapshot(tdir) is not None:
            # DV mode cannot flip on a table with history, in EITHER
            # direction: turning it ON leaves already-committed superseded
            # rows unmarked (the merge-free read would resurrect them);
            # turning it OFF hands the files to merge-on-read, which knows
            # nothing about the DV index — every vector-deleted row (deletes
            # are pure metadata, no -D data row exists) would reappear.
            raise ValueError(
                "deletion-vectors.enabled cannot be toggled on a table with "
                "existing snapshots (history written under one mode is "
                "unreadable under the other); recreate the table instead"
            )
        s.options.update(incoming)
        _validate_table_options(
            [f.name for f in s.fields],
            s.primary_key,
            s.options,
            types={f.name: f.type for f in s.fields},
            partition_keys=s.partition_keys,
        )
        s.schema_id += 1
        self._write_schema(tdir, s)

    # ---------------------------------------------------------------- reads
    def _pin_snapshot(
        self,
        tdir: str,
        version_as_of: int | None,
        timestamp_as_of: int | None,
        tag: str | None,
    ) -> Snapshot | None:
        """Resolve the snapshot a read is pinned to (A11/A12 semantics)."""
        # A12 session-property time travel: Trino's `scan_snapshot_id` /
        # `scan_timestamp_millis` session props are copied into dynamic table
        # options on every read (TrinoSessionProperties.java:36-77,
        # TrinoTableHandle.java:128-142). Spark's session-scoped equivalent
        # is spark.conf; explicit per-read arguments win over session props.
        if version_as_of is None and timestamp_as_of is None and tag is None:
            conf_ver = self.spark.conf.get("spark.paimon.scan.snapshot-id", None)
            conf_ts = self.spark.conf.get("spark.paimon.scan.timestamp-millis", None)
            if conf_ver is not None:
                version_as_of = int(conf_ver)
            elif conf_ts is not None:
                timestamp_as_of = int(conf_ts)
        return resolve_snapshot(
            load_snapshots(tdir),
            self._tags(tdir) if tag is not None else None,
            version=version_as_of,
            tag=tag,
            timestamp_ms=timestamp_as_of,
        )

    def _dynamic_bucket_assign(
        self, tdir: str, schema: TableSchema, out: DataFrame, version: int
    ) -> tuple[DataFrame, str | None]:
        """Dynamic bucket mode (Paimon ``bucket = -1`` on PK tables): every
        key gets a STABLE bucket from a maintained key→bucket index; new keys
        fill buckets sequentially so each holds at most
        ``dynamic-bucket.target-row-num`` keys — bucket count GROWS with the
        table instead of being fixed at DDL time (the fixed-bucket
        resize/rescale problem this mode exists to avoid).

        The index lives as parquet under ``index/dynamic-bucket/`` — written
        and read by Spark jobs, never materialized on the driver (Paimon's
        writers load it into task memory; at 100 TB ours stays a distributed
        hash join of the batch against the index). Assignment of new keys is
        the two-pass global-rank recipe (per-partition row_number + broadcast
        offsets — no single-task sort): bucket = (existing_keys + rank) //
        target. Exact bucket composition is not replay-deterministic (rank
        partitioning isn't), but the INVARIANTS queries rely on are: one
        bucket per key, stable across commits, ≤ target keys per bucket.

        Returns ``out`` with a ``_bucket`` column (the writer turns it into
        Paimon's ``bucket-N`` directory layer) and the index-delta directory
        this commit wrote (for conflict cleanup), or None if no new keys.
        """
        from pyspark.sql import Window

        pk = schema.primary_key
        target = int(schema.options.get("dynamic_bucket_target_row_num", "2000000") or 0)
        if target <= 0:
            raise ValueError("dynamic-bucket.target-row-num must be a positive integer")
        idx_dir = os.path.join(tdir, "index", "dynamic-bucket")
        idx_ddl = ", ".join(f"{k} {schema.field_by_name(k).type}" for k in pk) + ", _bucket int"
        idx_files = glob.glob(os.path.join(idx_dir, "*", "*.parquet"))
        if idx_files:
            idx = self.spark.read.schema(idx_ddl).parquet(*idx_files)
        else:
            idx = self.spark.createDataFrame([], idx_ddl)
        keys = out.select(*pk).dropDuplicates()
        looked_up = keys.join(idx, pk, "left").persist()
        try:
            # n0 = TOTAL keys ever assigned (cumulative fill position), not
            # just this batch's matches: bucket b holds exactly the keys
            # whose global assignment index fell in [b·target, (b+1)·target)
            n0 = idx.count()
            new_keys = looked_up.filter(F.col("_bucket").isNull()).select(*pk)
            delta_dir: str | None = None
            if new_keys.isEmpty():
                amap = looked_up.filter(F.col("_bucket").isNotNull())
            else:
                tagged = new_keys.withColumn("_pid", F.spark_partition_id()).persist()
                try:
                    counts = {r._pid: r["count"] for r in tagged.groupBy("_pid").count().collect()}
                    off, acc = {}, 0
                    for pid in sorted(counts):
                        off[pid] = acc
                        acc += counts[pid]
                    off_col = F.element_at(
                        F.create_map(
                            *[F.lit(x) for kv in sorted(off.items()) for x in kv]
                        ),
                        F.col("_pid"),
                    )
                    w = Window.partitionBy("_pid").orderBy(*pk)
                    assigned = (
                        tagged.withColumn(
                            "_rank", F.row_number().over(w) - 1 + off_col
                        )
                        .withColumn(
                            "_bucket",
                            ((F.col("_rank") + F.lit(n0)) / F.lit(target)).cast("int"),
                        )
                        .select(*pk, "_bucket")
                    )
                    delta_dir = os.path.join(idx_dir, f"commit-{version}-{uuid.uuid4().hex[:8]}")
                    assigned.write.parquet(delta_dir)
                finally:
                    tagged.unpersist()
                written = self.spark.read.schema(idx_ddl).parquet(delta_dir)
                amap = looked_up.filter(F.col("_bucket").isNotNull()).unionByName(written)
            # every batch key now has a bucket; the join is PK-equi and the
            # assignment side is exactly this batch's keys (small relative
            # to the table), so Catalyst broadcast/shuffle-hash picks apply
            return out.join(amap, pk, "inner"), delta_dir
        finally:
            looked_up.unpersist()

    def _bucket_prune(self, schema: TableSchema, predicate: list | None, files: list[dict]) -> list[dict]:
        """Hash-bucket file skipping for point lookups (Paimon's bucket
        pruning): an equality/IN predicate on the bucket key touches only
        ``pmod(murmur3(v), n)`` — at 100 TB a PK point query opens 1/n of
        the files BEFORE min/max stats even run. Files without recorded
        bucket info (pre-bucketing commits, layout drift) are kept."""
        pinned = _bucket_prune_values(predicate, schema)
        if pinned is None or not any("bucket" in e for e in files):
            return files
        fid, values = pinned
        if schema.primary_key:
            # on a PK table only PK columns are version-stable — a value
            # column can change across versions of one key, scattering them
            # over buckets, so pruning on it would drop history pre-merge
            pk_ids = {schema.field_by_name(k).id for k in schema.primary_key}
            if fid not in pk_ids:
                return files
        layouts = {
            e["bucket_n"]
            for e in files
            # bucket_n <= 0 = dynamic layout: the id came from the index,
            # not a hash — pmod(hash(v), n) says nothing about it
            if "bucket" in e and e.get("bucket_fid") == fid and e.get("bucket_n", 0) > 0
        }
        if not layouts:
            return files
        ddl = next(f.type for f in schema.fields if f.id == fid)
        # one tiny driver-side job evaluates Spark's own hash → no chance of
        # a Python reimplementation drifting from the JVM partitioner
        exprs = [
            F.pmod(F.hash(F.lit(v).cast(ddl)), F.lit(n)).alias(f"b_{n}_{i}")
            for n in sorted(layouts)
            for i, v in enumerate(values)
        ]
        row = self.spark.range(1).select(*exprs).collect()[0].asDict()
        allowed = {
            (n, row[f"b_{n}_{i}"]) for n in sorted(layouts) for i in range(len(values))
        }
        return [
            e
            for e in files
            if "bucket" not in e
            or e.get("bucket_fid") != fid
            or (e["bucket_n"], e["bucket"]) in allowed
        ]

    def scan_plan(
        self,
        name: str,
        predicate: list | None = None,
        version_as_of: int | None = None,
        timestamp_as_of: int | None = None,
        tag: str | None = None,
        limit: int | None = None,
    ) -> list[dict]:
        """The ``newScan().plan()`` equivalent: manifest entries a read with
        this predicate must touch, after min/max + partition-value skipping
        (``catalog/scan.py``). Metadata-only — no data file is opened.

        ``limit`` mirrors ``readBuilder.withLimit`` via the reference's
        applyLimit guard (``TrinoMetadataBase.java:418-445``): the file list
        is truncated only when every predicate column is a partition key whose
        value fully decides each surviving file (so kept files contain ONLY
        matching rows) and the table is append-only (merge-on-read could
        collapse rows, under-producing). Never "guaranteed" — callers must
        still re-apply the row limit, as the Trino engine does."""
        db, _, table = name.partition(".")
        tdir = self._table_dir(db, table)
        schema = self._latest_schema(tdir)
        snap = self._pin_snapshot(tdir, version_as_of, timestamp_as_of, tag)
        if snap is None:
            return []
        files = self._pruned_files(tdir, schema, snap, predicate)
        if limit is not None and _limit_pushable(schema, predicate, files):
            files = _limit_file_prefix(files, limit)
        return files

    def split_weights(
        self, name: str, predicate: list | None = None, min_weight: float = 0.05
    ) -> list[dict]:
        """``scan_plan`` entries with the reference's split weights attached:
        ``clamp(rowCount / maxRowCount, minimumSplitWeight, 1.0)`` where
        maxRowCount is the largest split's row count — the exact formula and
        0.05 default of ``common/TrinoSplitManagerBase.java:50-63`` and the
        ``minimum_split_weight`` session property
        (``common/TrinoSessionProperties.java:57-59``). Weights let a
        scheduler pack many small splits per task without starving large
        ones; in Spark the analogous knob is ``files.maxPartitionBytes``
        bin-packing, but the weights are exposed for parity and for
        task-sizing diagnostics. A file without footer stats weighs 1.0
        (conservative: never under-schedule an unknown split).
        """
        if not 0.0 < min_weight <= 1.0:
            raise ValueError(f"min_weight must be in (0, 1], got {min_weight}")
        files = self.scan_plan(name, predicate=predicate)
        counts = [f.get("record_count") for f in files]
        max_rc = max((c for c in counts if c), default=0)
        out = []
        for f, rc in zip(files, counts):
            w = 1.0 if rc is None or max_rc == 0 else min(max(rc / max_rc, min_weight), 1.0)
            out.append({**f, "split_weight": round(w, 6)})
        return out

    def _pruned_files(
        self, tdir: str, schema: TableSchema, snap: Snapshot, predicate: list | None
    ) -> list[dict]:
        """The predicate-pruned manifest entries — the one prune behind
        ``read_table``, ``scan_plan`` and ``metadata_row_count``
        (already-loaded metadata in, so the metadata fast paths don't re-read
        snapshot/schema JSON): min/max stats, bucket, then file index."""
        files = snap.files
        if predicate:
            predicate = self._char_normalized(schema, predicate)
            files = prune_files(files, predicate, schema, lambda sid: self._schema(tdir, sid))
            files = self._bucket_prune(schema, predicate, files)
            # file-index probe (bloom/bitmap sidecars) — the rung after
            # min/max and bucket pruning: equality/IN on indexed columns
            # drops files whose sidecar proves the value(s) absent
            files = prune_files_by_index(self.spark, tdir, files, predicate, schema)
        return files

    @staticmethod
    def _char_normalized(schema: TableSchema, predicate: list | None) -> list | None:
        """``predicate`` with its CHAR(n) literals rtrimmed: CHAR comparison
        ignores trailing blanks and the stored form is rtrimmed (see
        insert_into), so a padded literal must neither prune the files
        holding the rtrimmed form nor miss their rows when re-applied."""
        char_cols = {f.name for f in schema.fields if char_length(f.type) is not None}
        if not predicate or not char_cols:
            return predicate
        from incubator_paimon_trino_spark.functions.predicates import normalize_char_domains

        return normalize_char_domains(predicate, char_cols)

    def scan_pruned_by_keys(
        self,
        name: str,
        column: str,
        keys: DataFrame,
        max_keys: int = 1024,
        predicate: list | None = None,
    ) -> DataFrame:
        """Dynamic FILE pruning — the file-level twin of dynamic partition
        pruning (the reference's own unimplemented TODO,
        ``common/TrinoSplitManagerBase.java:38-39``): before scanning
        ``name``, collect the build side's DISTINCT join keys and push them
        as an IN-domain through every file-skipping rung — manifest min/max,
        bucket pruning, and the bloom/bitmap file-index sidecars — so an
        equi-join against a small dimension opens only the fact files that
        can hold a matching key.

        The collect is bounded by ``max_keys`` (LIMIT max_keys+1; above the
        bound the plain scan returns unchanged): the build side being tiny is
        the same smallness contract that makes it the broadcast side of the
        join, so the driver holds at most ``max_keys`` scalars. NULL keys are
        dropped — they never match an equi-join.
        """
        from incubator_paimon_trino_spark.functions.predicates import ColumnDomain

        vals = [
            r[0]
            for r in keys.select(column)
            .where(F.col(column).isNotNull())
            .distinct()
            .limit(max_keys + 1)
            .collect()
        ]
        if not vals or len(vals) > max_keys:
            return self.read_table(name, predicate=predicate)
        dom = [ColumnDomain(column, in_values=vals)] + list(predicate or [])
        return self.read_table(name, predicate=dom)

    def read_table(
        self,
        name: str,
        version_as_of: int | None = None,
        timestamp_as_of: int | None = None,
        with_system_columns: bool = False,
        tag: str | None = None,
        predicate: list | None = None,
        limit: int | None = None,
        pad_char: bool = True,
        use_fallback: bool = True,
    ) -> DataFrame:
        """Read ``db.table`` (or ``db.table$system``) as a DataFrame.

        ``pad_char=False`` (internal) returns CHAR columns in their
        rtrimmed STORAGE form instead of the user-facing n-padded form:
        the write paths (compaction must not re-store padded bytes) and
        DML condition evaluation (an unpadded literal in an UPDATE/DELETE
        condition must keep matching) read through this.

        Every path builds its plan in a fixed number of JVM calls, whatever
        the column count: the schema parses in one call, and projections
        are SQL text (``functions/sql.py``).

        - ``version_as_of=n``    — pin snapshot n (``FOR VERSION AS OF`` /
          ``scan.snapshot-id`` — ``TrinoMetadata.java:102-108``)
        - ``timestamp_as_of=ms`` — latest snapshot with commit ts ≤ ms
          (``FOR TIMESTAMP AS OF`` / ``scan.timestamp-millis`` — ``:82-100``)
        - PK tables are merged-on-read unless ``with_system_columns`` (which
          exposes the raw changelog incl. ``_seq``/``_row_kind``).
        - ``predicate=[ColumnDomain...]`` — the pushed filter (A4/A5): files
          the conjunction cannot match are skipped at the manifest
          (``scan_plan``), and the full predicate is re-applied to the
          merged rows, mirroring the reference's pushed-then-re-applied
          ``executeFilter()`` contract.
        - ``limit=n`` — pushed to the manifest under the A8 guard
          (``TrinoMetadataBase.java:418-445``: partition-only filters,
          append-only table) so a LIMIT 10 on a million-file table opens a
          handful of files; always re-applied as ``df.limit(n)`` because the
          pushdown is never "guaranteed".
        """
        db, _, rest = name.partition(".")
        table, _, suffix = rest.partition("$")
        if suffix.startswith("branch_"):
            # t$branch_b reads the branch; t$branch_b$snapshots etc. compose
            br, _, sub = suffix.partition("$")
            table, suffix = f"{table}${br}", sub
        if suffix:
            return self._system_table(db, table, suffix)
        tdir = self._table_dir(db, table)
        schema = self._latest_schema(tdir)
        fb = schema.options.get("scan_fallback_branch")
        if (
            use_fallback
            and fb
            and "$branch_" not in table  # branch reads never re-fall-back
            and version_as_of is None
            and timestamp_as_of is None
            and tag is None
            and not with_system_columns
            and schema.partition_keys
        ):
            # scan.fallback-branch (Paimon CoreOption): partitions absent
            # from the CURRENT branch are served from the fallback branch —
            # the batch/stream dual-write pattern where main backfills
            # partitions the streaming branch hasn't produced yet (or vice
            # versa). Composition: the main read (fallback disabled) union
            # the branch read left-semi-joined to the missing partitions —
            # the partition diff is manifest metadata, the semi join is a
            # broadcast of partition tuples, and each side runs its own
            # full merge independently (sound: the partition sets are
            # disjoint by construction, and partitioned PK tables co-locate
            # a key's versions within its partition).
            return self._fallback_branch_union(
                db, table, fb, schema, predicate, limit, pad_char
            )
        snap = self._pin_snapshot(tdir, version_as_of, timestamp_as_of, tag)
        return self._read_snapshot(
            tdir, schema, snap, with_system_columns, predicate, limit, pad_char
        )

    def _read_snapshot(
        self,
        tdir: str,
        schema: TableSchema,
        snap: Snapshot | None,
        with_system_columns: bool = False,
        predicate: list | None = None,
        limit: int | None = None,
        pad_char: bool = True,
    ) -> DataFrame:
        """``read_table`` of a resolved snapshot (None: the empty table), for
        readers that already hold it (``read_cdc``, ``table_changelog``)."""
        # the re-applied filter below takes the normalized predicate too
        predicate = self._char_normalized(schema, predicate)
        if snap is not None and predicate:
            snap = dataclasses.replace(snap, files=self._pruned_files(tdir, schema, snap, predicate))
        if snap is not None and limit is not None and _limit_pushable(schema, predicate, snap.files):
            snap = dataclasses.replace(snap, files=_limit_file_prefix(snap.files, limit))

        if snap is None or not snap.files:
            empty = schema.spark_schema()
            if schema.primary_key and with_system_columns:
                from pyspark.sql import types as T

                empty = empty.add(SEQ_COL, T.LongType()).add(KIND_COL, T.StringType())
            return self.spark.createDataFrame([], empty)

        dv_mode = self._dv_enabled(schema) and not with_system_columns
        # dv_marks == 0 (every DV commit records the cumulative count in
        # the snapshot) skips the whole anti-join + position columns in
        # O(1) — most DV-table snapshots carry no marks at all. None =
        # legacy snapshot without the count: assume marks (old behavior).
        has_dv = bool(dv_mode and snap.dv and snap.dv_marks != 0)
        dirty = self._dv_dirty_files(tdir, snap) if has_dv else None
        # Every branch below keeps the plan's build cost fixed in the column
        # count: _read_files yields the declared column order (plus the PK
        # system columns), so dropping columns or a by-name union is all the
        # re-projection a branch needs; any reorder is one SQL projection.
        # The whole-snapshot read is built only by the branches that use it.
        def whole() -> DataFrame:
            return self._read_files(tdir, schema, snap, with_pos=has_dv)

        if has_dv and dirty is not None:
            # CLEAN/DIRTY split: an inline index names its mark-bearing
            # files in one bounded driver parse (the same O(threshold)
            # contract the commit-side fold uses), so files WITHOUT marks
            # scan plain — no _metadata.row_index read, no anti-join — and
            # only dirty files pay the anti-join. A point DELETE then taxes
            # one file, not the table. Sharded indexes (dirty is None) keep
            # the all-files anti-join: enumerating their file names is
            # O(live deleted rows), a bound the driver must not carry.
            clean = [e for e in snap.files if os.path.basename(e["path"]) not in dirty]
            hot = [e for e in snap.files if os.path.basename(e["path"]) in dirty]
            parts = []
            if clean:
                parts.append(self._read_files(tdir, schema, dataclasses.replace(snap, files=clean)))
            if hot:
                d = self._read_files(
                    tdir, schema, dataclasses.replace(snap, files=hot), with_pos=True
                )
                parts.append(self._dv_apply_distributed(d, tdir, snap, schema))
            df = functools.reduce(DataFrame.unionByName, parts)
            df = df.drop(SEQ_COL, KIND_COL)
        elif dv_mode:
            # deletion-vector read: scan − DV IS the merged state (every
            # superseded row version is position-marked at write time and
            # -D rows are never stored), so the whole merge-on-read
            # groupBy/shuffle disappears — filters and projections push
            # straight into the file scan. The marks side is a Spark read
            # of the committed index, never a driver dict (see
            # _dv_apply_distributed). with_system_columns still exposes
            # the raw unfiltered changelog view, like non-DV tables.
            df = whole()
            if has_dv:
                df = self._dv_apply_distributed(df, tdir, snap, schema)
            df = df.drop(SEQ_COL, KIND_COL)
        elif (
            schema.primary_key
            and not with_system_columns
            and snap.files
            and all(e.get("source") == "compact" for e in snap.files)
        ):
            # FULLY-COMPACTED read: when every live file is compaction
            # output and nothing was committed since, the stored rows ARE
            # the merged state — unique keys, no -D rows — so the whole
            # groupBy/shuffle disappears and filters and projections push
            # straight into the file scan. Zero staleness, unlike $ro: this
            # is the pinned snapshot's own live set. Later appends add
            # non-compact files and the condition goes false.
            df = whole().drop(SEQ_COL, KIND_COL)
        elif schema.primary_key and not with_system_columns:
            from incubator_paimon_trino_spark.operators.merge_on_read import merge_on_read

            aggs = _field_aggregate_specs(schema.options)
            col_names = {f.name for f in schema.fields}
            default_agg = None
            if "default" in aggs and "default" not in col_names:
                # fields.default-aggregate-function (a real column named
                # 'default' outranks the fallback reading — DDL-validated)
                default_agg = aggs.pop("default")
            seq_field = schema.options.get("sequence_field")
            if (
                schema.options.get("merge_engine") == "aggregation"
                and seq_field
                and seq_field not in aggs
                and seq_field not in schema.primary_key
            ):
                # the sequence column orders merges — it must NEVER default
                # to the numeric 'sum' (two inserts ts=100,101 would merge
                # to ts=201, and compaction would re-stamp rows with that
                # garbage sequence, silently outranking later real inserts)
                aggs[seq_field] = "last_value"
            for c in _collect_distinct_cols(schema.options):
                if aggs.get(c) == "collect":  # DDL-validated; internal variant name
                    aggs[c] = "collect_distinct"
            # retraction-free proof from the manifest: every live file's
            # parquet footer showed _row_kind min==max=='I' (collect_file_
            # stats records `all_inserts`; absent = unknown = assume
            # retractions). O(live files) driver work on metadata already in
            # hand; unlocks the one-struct-per-key fast paths in the order-
            # sensitive replay aggregates. Compaction rewrites everything as
            # 'I', so tables return to the fast path after compaction.
            no_d = all(e.get("all_inserts") is True for e in snap.files)
            merge_kwargs = dict(
                primary_key=schema.primary_key,
                merge_engine=schema.options.get("merge_engine", "deduplicate"),
                field_aggregates=aggs,
                sequence_groups=_sequence_group_specs(schema.options) or None,
                nested_keys=_nested_key_specs(schema.options) or None,
                default_aggregate=default_agg,
                no_retractions=no_d,
                remove_record_on_delete=(
                    schema.options.get("partial_update_remove_record_on_delete", "")
                    .strip()
                    .lower()
                    == "true"
                ),
                ignore_retract=_ignore_retract_cols(schema.options) or None,
            )
            split = self._delta_base_split(tdir, schema, snap)
            if split is not None:
                # DELTA-vs-BASE merge: compaction output has unique keys and
                # no -D rows, so only keys TOUCHED since the last compaction
                # need the merge at all. The base splits on a broadcast of
                # the (small, manifest-counted) delta's keys: untouched base
                # rows pass through scan-direct, touched ones join the delta
                # in the merge — the groupBy shuffles the delta's key set,
                # not the table. The keys broadcast as the delta holds them:
                # the bound counts delta rows, and anti/semi joins ignore
                # duplicate build keys, so deduplicating would only add a
                # job.
                base, delta = split
                pk = schema.primary_key
                dkeys = F.broadcast(
                    delta.selectExpr(
                        *[f"{quote_ident(k)} AS {quote_ident('_dk_' + k)}" for k in pk]
                    )
                )
                # null-safe equality: the split must group exactly like the
                # full merge's groupBy (which puts null keys in one group)
                cond = F.expr(
                    " AND ".join(f"{quote_ident(k)} <=> {quote_ident('_dk_' + k)}" for k in pk)
                )
                untouched = base.join(dkeys, cond, "left_anti")
                if (
                    merge_kwargs["merge_engine"] == "deduplicate"
                    and not seq_field
                    and not merge_kwargs.get("sequence_groups")
                ):
                    # ONE-SCAN split: under commit-sequence deduplicate, a
                    # delta row STRICTLY supersedes its base row (later
                    # commit ⇒ higher seq; a delta -D removes the key and
                    # the anti join already drops the base row), so touched
                    # base rows can never reach the output — merge the delta
                    # alone, and the compacted base is scanned once. A user
                    # sequence_field (or sequence groups) can make the BASE
                    # row win, so those keep the touched∪delta merge below.
                    merged = merge_on_read(delta, **merge_kwargs)
                else:
                    touched = base.join(dkeys, cond, "left_semi")
                    merged = merge_on_read(touched.unionByName(delta), **merge_kwargs)
                # by-name union: the output keeps the base's declared order
                df = untouched.drop(SEQ_COL, KIND_COL).unionByName(merged)
            else:
                df = merge_on_read(whole(), **merge_kwargs)
                # schema column order (merge_on_read returns PK-first) so
                # reads before/after the first commit and across tables are
                # positional-union safe
                names = [f.name for f in schema.fields]
                pk = schema.primary_key
                if [*pk, *(n for n in names if n not in pk)] != names:
                    df = project(df, [(n, quote_ident(n)) for n in names])
        else:
            df = whole()
        if predicate:
            from incubator_paimon_trino_spark.functions.predicates import apply_tuple_domain

            df = apply_tuple_domain(df, predicate)
        if limit is not None:
            df = df.limit(limit)  # engine re-limits — pushdown is a hint (A8)
        if not with_system_columns and pad_char:
            # CHAR(n) padded OUTPUT (TrinoTypeUtils.java:77-90): storage
            # stays the rtrimmed canonical form (equality, file stats,
            # groupBy keys, and the pad-insensitive predicate normalization
            # above all work on it), and the declared length pads back on
            # only at the very END of the read — after predicates, which
            # were normalized to the storage form. A CHAR(3) 'ab' reads as
            # 'ab ', like the reference. System-column views (changelog/audit) and
            # internal pad_char=False reads (compaction, DML condition
            # evaluation) stay in storage form — declared metadata lives
            # in the catalog.
            df = _pad_char_columns(df, schema)
        return df

    def _fallback_branch_union(
        self,
        db: str,
        table: str,
        fb: str,
        schema: TableSchema,
        predicate: list | None,
        limit: int | None,
        pad_char: bool,
    ) -> DataFrame:
        """``scan.fallback-branch`` composition (see read_table): main read ∪
        (branch read ⋉ missing partitions). Metadata-only partition diff; the
        semi join broadcasts one row per missing partition. Fallback
        partitions whose partition value is NULL are never served (a semi
        join cannot match null keys) — documented conservative gap."""
        known = self._branches(self._table_dir(db, table))
        if fb not in known:
            raise ValueError(
                f"scan.fallback-branch {fb!r}: no such branch on {db}.{table} "
                f"(have {sorted(known)})"
            )
        pkeys = list(schema.partition_keys)
        main_df = self.read_table(
            f"{db}.{table}", predicate=predicate, pad_char=pad_char, use_fallback=False
        )
        bdir = self._table_dir(db, f"{table}$branch_{fb}")
        bsnap = self._latest_snapshot(bdir)
        out = main_df
        if bsnap is not None and bsnap.files:
            tdir = self._table_dir(db, table)
            msnap = self._latest_snapshot(tdir)
            part_of = lambda e: tuple(partition_values(e["path"]).get(k) for k in pkeys)  # noqa: E731
            cur = {part_of(e) for e in (msnap.files if msnap else [])}
            missing = sorted({part_of(e) for e in bsnap.files} - cur, key=str)
            missing = [t for t in missing if all(v is not None for v in t)]
            if missing:
                fb_df = self.read_table(
                    f"{db}.{table}$branch_{fb}", predicate=predicate, pad_char=pad_char
                )
                ddl_of = {f.name: f.type for f in schema.fields}
                raw_cols = [f"_raw_{i}" for i in range(len(pkeys))]
                mdf = self.spark.createDataFrame(
                    missing, ", ".join(f"{c} string" for c in raw_cols)
                ).select(
                    *[
                        F.col(c).cast(castable_ddl(ddl_of[k])).alias(k)
                        for c, k in zip(raw_cols, pkeys)
                    ]
                )
                fb_df = fb_df.join(F.broadcast(mdf), pkeys, "left_semi")
                out = main_df.unionByName(fb_df)
        if limit is not None:
            out = out.limit(limit)
        return out

    def _read_files(
        self, tdir: str, schema: TableSchema, snap: Snapshot, with_pos: bool = False
    ) -> DataFrame:
        """Union snapshot files, mapping columns by FIELD ID per file schema.

        Files are grouped by the schema they were written under; each group is
        read with that schema, columns renamed old→current by field id,
        dropped fields discarded, added fields filled with NULL — then
        unioned. This is exactly the reference's evolution contract (A18):
        rename must not orphan data. The output holds the table's columns in
        declared order, then the PK system columns; each group's projection
        is one SQL expression, so the build cost does not grow with the
        column count.

        ``with_pos`` appends the file provenance columns the deletion-vector
        machinery joins on: ``__dv_file``, the data file's basename (the key
        the DV index stores marks under), and ``__dv_pos``
        (``_metadata.row_index`` — the row's ordinal within its file,
        Spark's native row-position metadata; no shuffle, no window). For ORC
        and Avro, the Python file reader synthesizes both from its in-order
        decode; every reader's path reduces to its basename once, over the
        union.
        """
        # group ALSO by resolved data root: a branch snapshot mixes files it
        # inherited from the parent table ("../../data/...") with its own
        # commits ("data/..."), and Catalyst's partition-directory inference
        # needs basePath to be each file's OWN data root (partition dir
        # values are URL-quoted at write time, so "/data/" cannot appear
        # inside a partition segment — rsplit is unambiguous)
        groups: dict[tuple[int, str, str], list[dict]] = {}
        for f in snap.files:
            full = os.path.normpath(os.path.join(tdir, f["path"]))
            root = full.rsplit(f"{os.sep}data{os.sep}", 1)[0] + f"{os.sep}data"
            key = (f["schema_id"], f.get("format", "parquet"), root)
            groups.setdefault(key, []).append({**f, "path": full})
        parts: list[DataFrame] = []
        is_pk = bool(schema.primary_key)
        for (sid, fmt, root), entries in sorted(groups.items()):
            old = self._schema(tdir, sid)
            paths = [e["path"] for e in entries]
            # Partition columns come from Catalyst's directory inference: the
            # data/<k=v>/c<commit>-<file> layout keeps k=v dirs LAST for every
            # commit, so a plan mixing commits is still one consistent scan
            # node AND partition predicates prune at the file listing
            # (PartitionFilters) — the reference's "enforced" partition
            # domain behavior (TrinoMetadataBase.java:363-376) for free.
            # .format().load(list) — DataFrameReader.orc() has no varargs
            # (its 2nd positional is mergeSchema), unlike .parquet().
            synth_pos = fmt in ("avro", "orc") and with_pos
            if synth_pos:
                # positional ORC/Avro read: only the Python file reader can
                # synthesize per-row ordinals (its in-order decode IS the
                # running count); the JVM ORC and spark-avro readers have
                # no _metadata.row_index
                df = self._read_python_files(entries, old, is_pk, with_pos=True)
            else:
                try:
                    df = (
                        self.spark.read.option("basePath", root)
                        .schema(_physical_schema(old, is_pk))
                        .format(fmt)
                        .load(paths)
                    )
                except Exception as ex:
                    if fmt != "avro" or "Failed to find data source" not in str(ex):
                        raise
                    df = self._read_python_files(entries, old, is_pk, with_pos=False)
            # the provenance columns, unless the reader synthesized them
            pos = (
                [(_DV_FILE, "_metadata.file_path"), (_DV_POS, "_metadata.row_index")]
                if with_pos and not synth_pos
                else []
            )
            if sid == schema.schema_id and not schema.partition_keys:
                # no evolution between write and read (the common case):
                # the physical schema IS the current schema, so no
                # cast/rename projection. Partitioned tables keep the
                # projection: directory inference appends partition columns
                # at the END, so it also restores declared column order.
                parts.append(df.selectExpr("*", *(f"{e} AS {n}" for n, e in pos)) if pos else df)
                continue
            old_by_id = {of.id: of for of in old.fields}
            # castable_ddl: TIMESTAMP(p) declarations cast as their
            # timestamp_ntz storage type (Spark's cast parser refuses
            # precision suffixes)
            cols = [
                (
                    cur.name,
                    f"CAST({quote_ident(old_by_id[cur.id].name) if cur.id in old_by_id else 'NULL'}"
                    f" AS {castable_ddl(cur.type)})",
                )
                for cur in schema.fields
            ]
            if is_pk:
                cols += [(SEQ_COL, SEQ_COL), (KIND_COL, KIND_COL)]
            if synth_pos:
                cols += [(_DV_FILE, _DV_FILE), (_DV_POS, _DV_POS)]
            parts.append(project(df, cols + pos))
        out = functools.reduce(DataFrame.unionByName, parts)
        if with_pos:
            out = out.withColumn(_DV_FILE, F.expr(f"element_at(split({_DV_FILE}, '/'), -1)"))
        return out

    # ------------------------------------------------ metadata aggregation
    def metadata_row_count(self, name: str, predicate: list | None = None) -> int | None:
        """COUNT(*) answered from MANIFESTS alone, or None when only a scan
        can answer exactly. The reference pushes no aggregation at all (no
        ``applyAggregation`` in ``common/TrinoMetadataBase.java`` — its
        count(*) reads every row); here a count over a million-file table
        is a metadata read when:

        - append-only table, predicate absent or partition-only with every
          surviving file EXACTLY decided by its partition values (the A8
          ``_limit_pushable`` guard — same soundness condition), and every
          manifest entry carries a footer record count; or
        - deletion-vector PK table with no predicate: ``record_count`` is
          maintained as the LIVE row count (inserts + upserts − marks), so
          the snapshot answers in O(1).

        Merge-on-read PK tables (without DV) return None — merging changes
        the count, so only the merged plan is exact.
        """
        db, _, table = name.partition(".")
        tdir = self._table_dir(db, table)
        schema = self._latest_schema(tdir)
        snap = self._latest_snapshot(tdir)
        if snap is None:
            return 0
        if schema.primary_key:
            if self._dv_enabled(schema) and not predicate:
                return int(snap.record_count)
            return None
        # the SHARED prune (scan_plan's), not a re-implementation: it applies
        # the same CHAR(n) pad-insensitive domain normalization as read_table
        # (a padded literal must prune to the rtrimmed stored form, not to
        # zero files — a silent wrong 0). Its extra bucket pruning is
        # harmless here: bucket keys are non-partition columns, which
        # _limit_pushable rejects below before any count is summed.
        files = self._pruned_files(tdir, schema, snap, predicate)
        if not _limit_pushable(schema, predicate, files):
            return None
        counts = [f.get("record_count") for f in files]
        if any(c is None for c in counts):
            return None  # a file without footer stats → only the scan knows
        return int(sum(counts))

    def count_star(self, name: str, predicate: list | None = None) -> DataFrame:
        """One-row ``cnt`` DataFrame: the metadata count when manifests can
        answer exactly (no file opened), else the regular scan plan."""
        n = self.metadata_row_count(name, predicate)
        if n is not None:
            return self.spark.createDataFrame([(n,)], "cnt bigint")
        return self.read_table(name, predicate=predicate).agg(
            F.count(F.lit(1)).alias("cnt")
        )

    #: column DDL prefixes whose manifest min/max are EXACT by construction —
    #: strings/binary are excluded because parquet writers may truncate long
    #: values' footer min/max (the same distrust as scan.py's _MAX_STR_STAT
    #: guard; a truncated max is merely loose for pruning but WRONG as an
    #: answer), and complex types never carry stats.
    _MINMAX_EXACT_TYPES = (
        "tinyint", "smallint", "int", "integer", "bigint", "long", "short",
        "byte", "float", "double", "real", "decimal", "date", "timestamp",
        "boolean",
    )

    def metadata_min_max(
        self, name: str, columns: list[str], predicate: list | None = None
    ) -> dict[str, dict] | None:
        """MIN(col)/MAX(col)/COUNT(col) answered from MANIFESTS alone, or
        None when only a scan is exact — the completion of the metadata
        aggregation (``metadata_row_count`` above): the per-file min/max/
        null-count stats that already drive scan pruning are summable into
        the exact global extremes under the soundness conditions

        - append-only table (merge-on-read and DV marks change live values a
          file's footer cannot see), with the predicate absent or
          partition-only and EXACTLY decided per surviving file — the same
          A8 ``_limit_pushable`` guard as the count pushdown;
        - every requested column has a numeric/date/timestamp/boolean/decimal
          type (``_MINMAX_EXACT_TYPES`` — string footer stats may be
          writer-truncated, so they prune but never answer) and EVERY
          surviving file carries a stats entry for it (one stats-missing
          file → the scan knows, we don't), or is a partition column (exact
          values live in the path, no footer involved);
        - a file that is provably all-null for the column (stats present,
          min/max None) contributes nothing to MIN/MAX and zero to
          COUNT(col) — matching SQL's null-ignoring aggregates.

        Returns ``{column: {"min", "max", "count"}}`` with min/max in the
        normalized manifest representation (ints/floats native; decimals and
        date/timestamps as their canonical strings — ``scan._norm``'s form);
        min/max are None when every row is null. The reference pushes no
        aggregation at all (no ``applyAggregation`` in
        ``common/TrinoMetadataBase.java``); engines it plugs into answer
        these from stats, and at 100 TB this is a metadata read replacing a
        full-column scan.
        """
        from incubator_paimon_trino_spark.catalog.scan import (
            _key,
            _norm,
            partition_values,
        )

        db, _, table = name.partition(".")
        tdir = self._table_dir(db, table)
        schema = self._latest_schema(tdir)
        if schema.primary_key:
            return None
        snap = self._latest_snapshot(tdir)
        if snap is None:
            return {c: {"min": None, "max": None, "count": 0} for c in columns}
        files = self._pruned_files(tdir, schema, snap, predicate)
        if not _limit_pushable(schema, predicate, files):
            return None
        parts = set(schema.partition_keys)
        out: dict[str, dict] = {}
        for col in columns:
            f = schema.field_by_name(col)  # KeyError on unknown = caller bug
            col = f.name  # canonical spelling (field_by_name is case-insensitive)
            is_part = col in parts
            if not is_part and not f.type.lower().startswith(self._MINMAX_EXACT_TYPES):
                # footer-stat types only; PARTITION columns bypass the gate —
                # their values live exactly in the path, no footer involved
                return None
            lo = hi = None
            cnt = 0
            for e in files:
                total = e.get("record_count")
                if total is None:
                    return None
                if total == 0:
                    continue  # empty file (no rows, often no stats): nothing
                if is_part:
                    pv = partition_values(e["path"])
                    if col not in pv:
                        return None  # renamed path column → not exact
                    raw = pv[col]
                    if raw is None:
                        continue  # hive null partition: all rows null
                    try:
                        flo = fhi = _norm(raw, f.type)
                    except (TypeError, ValueError, ArithmeticError):
                        return None
                    if flo is None:
                        return None
                    if flo != flo:
                        # NaN hive partition value ('col=NaN' path): same
                        # poisoning as the footer-stats branch below — NaN
                        # compares False against everything, so the _key fold
                        # would keep/drop it order-dependently while Spark's
                        # scan ranks NaN as the MAX. Only the scan is exact.
                        return None
                    fcnt = total
                else:
                    s = (e.get("stats") or {}).get(str(f.id))
                    if s is None or s.get("nulls") is None:
                        return None  # stats-missing file → only the scan knows
                    flo, fhi = s.get("min"), s.get("max")
                    fcnt = total - int(s["nulls"])
                    if flo is None:
                        if fcnt != 0:
                            return None  # values exist but no extremes recorded
                        continue  # provably all-null file
                    if flo != flo or fhi != fhi:
                        # NaN-poisoned footer stat (Spark's writer propagates
                        # NaN into max): NaN compares False against everything,
                        # making the fold order-dependent, and engines disagree
                        # on NaN's place in MIN/MAX — only the scan is exact
                        return None
                cnt += fcnt
                if lo is None or _key(flo, f.type) < _key(lo, f.type):
                    lo = flo
                if hi is None or _key(fhi, f.type) > _key(hi, f.type):
                    hi = fhi
            out[col] = {"min": lo, "max": hi, "count": cnt}
        return out

    def column_extremes(
        self, name: str, columns: list[str], predicate: list | None = None
    ) -> DataFrame:
        """One-row DataFrame ``min_<c>, max_<c>, count_<c>`` per requested
        column: manifest-answered when ``metadata_min_max`` can (no data file
        opened — plan pinned scan-free in ``tests/test_plan_quality.py``),
        else the regular scan plan's aggregate. Both paths produce the
        table's declared column types, so callers can't tell which answered
        — except by the plan."""
        import datetime as _dt
        import decimal as _dec

        db, _, table = name.partition(".")
        schema = self.schema_of(db, table)
        # canonical spellings up front: both paths then agree on output names
        # (the metadata dict is keyed canonically; Spark aggs are case-
        # insensitive but alias with whatever string they were given)
        columns = [schema.field_by_name(c).name for c in columns]
        meta = self.metadata_min_max(name, columns, predicate)
        if meta is None:
            df = self.read_table(name, predicate=predicate)
            aggs = []
            for c in columns:
                aggs += [
                    F.min(c).alias(f"min_{c}"),
                    F.max(c).alias(f"max_{c}"),
                    F.count(c).cast("bigint").alias(f"count_{c}"),
                ]
            return df.agg(*aggs)

        def revive(v, ddl: str):
            # normalized manifest form → Python value Spark maps to the type
            if v is None:
                return None
            d = ddl.lower()
            if d == "date":
                return _dt.date.fromisoformat(v)
            if d.startswith("timestamp"):
                return _dt.datetime.fromisoformat(v)
            if d.startswith("decimal"):
                return _dec.Decimal(v)
            if d in ("float", "double", "real"):
                return float(v)
            return v

        from pyspark.sql import types as T

        row, fields = [], []
        spark_t = {f.name: t for f, t in zip(schema.fields, schema.spark_schema().fields)}
        for c in columns:
            f = schema.field_by_name(c)
            t = spark_t[c].dataType
            row += [revive(meta[c]["min"], f.type), revive(meta[c]["max"], f.type),
                    int(meta[c]["count"])]
            fields += [
                T.StructField(f"min_{c}", t),
                T.StructField(f"max_{c}", t),
                T.StructField(f"count_{c}", T.LongType(), nullable=False),
            ]
        return self.spark.createDataFrame([tuple(row)], T.StructType(fields))

    # -------------------------------------------------------- system tables
    def _system_table(self, db: str, table: str, suffix: str) -> DataFrame:
        """``table$suffix`` resolution (A13) — reference test reads
        ``t2$snapshots`` (``TestTrinoITCase.java:284-289``)."""
        if suffix not in _SYSTEM_SUFFIXES:
            raise ValueError(f"unknown system table suffix {suffix!r}; have {_SYSTEM_SUFFIXES}")
        tdir = self._table_dir(db, table)
        if suffix == "audit_log":
            # changelog view with the row kind exposed as `rowkind` (Paimon's
            # `table$audit_log`); append-only tables surface all rows as +I.
            schema = self._latest_schema(tdir)
            df = self.read_table(f"{db}.{table}", with_system_columns=True)
            if schema.primary_key:
                return df.select(
                    F.col(KIND_COL).alias("rowkind"), *[f.name for f in schema.fields]
                )
            return df.select(
                F.lit("I").alias("rowkind"), *[f.name for f in schema.fields]
            )
        if suffix == "ro":
            # Paimon's read-optimized table (`t$ro`): serve the latest FULLY
            # COMPACTED state — compaction already materialized the merge, so
            # the read is a raw file scan with ZERO merge-on-read cost, at
            # the price of staleness (rows committed after the last
            # compaction are invisible). A never-compacted table has no
            # compacted state: empty result, same as Paimon's level-max read.
            schema = self._latest_schema(tdir)
            user_cols = [f.name for f in schema.fields]
            # the CURRENT snapshot's compaction-written files (provenance
            # marker set by compact()) ARE the read-optimized state: entry
            # metadata carries forward through later appends, so $ro
            # survives expiry of the COMPACT snapshot JSON itself; an
            # OVERWRITE/TRUNCATE replaces the whole live set — no marked
            # files remain, so serving pre-overwrite compacted rows (a
            # correctness bug, not staleness) is impossible by construction.
            # Never/not-yet-recompacted states are empty, like Paimon's
            # max-level read of a level-0-only table.
            snap = self._pin_snapshot(tdir, None, None, None)
            ro_files = [e for e in (snap.files if snap else []) if e.get("source") == "compact"]
            if not ro_files:
                return self.spark.createDataFrame([], schema.spark_schema())
            df = self._read_files(tdir, schema, dataclasses.replace(snap, files=ro_files))
            return _pad_char_columns(df.select(*user_cols), schema)
        if suffix == "snapshots":
            rows = [
                (
                    s.snapshot_id,
                    s.schema_id,
                    s.commit_user,
                    s.commit_identifier,
                    s.commit_kind,
                    s.timestamp_ms,
                    s.record_count,
                )
                for s in load_snapshots(tdir)
            ]
            return self.spark.createDataFrame(
                rows,
                "snapshot_id bigint, schema_id bigint, commit_user string, "
                "commit_identifier bigint, commit_kind string, timestamp_ms bigint, "
                "record_count bigint",
            )
        if suffix == "schemas":
            rows = []
            for p in sorted(glob.glob(os.path.join(tdir, "schema", "schema-*.json"))):
                s = TableSchema.from_json(read_json(p))
                rows.append(
                    (
                        s.schema_id,
                        ",".join(f"{f.name} {f.type}" for f in s.fields),
                        ",".join(s.primary_key),
                        ",".join(s.partition_keys),
                    )
                )
            return self.spark.createDataFrame(
                rows, "schema_id bigint, fields string, primary_key string, partition_keys string"
            )
        if suffix == "tags":
            rows = sorted(self._tags(tdir).items())
            return self.spark.createDataFrame(rows, "tag string, snapshot_id bigint")
        if suffix == "branches":
            # Paimon's `table$branches`: one row per branch with its seed
            rows = [
                (
                    b,
                    m.get("from_tag"),
                    int(m.get("from_snapshot", 0)),
                    int(m.get("created_ms", 0)),
                )
                for b, m in sorted(self._branches(tdir).items())
            ]
            return self.spark.createDataFrame(
                rows,
                "branch_name string, from_tag string, "
                "from_snapshot bigint, created_ms bigint",
            )
        if suffix == "consumers":
            # Paimon's `table$consumers`: one row per registered consumer id
            # with the next snapshot it will consume (these positions pin
            # snapshot retention — see expire_snapshots).
            rows = [
                (cid, int(c["next_snapshot"]), int(c.get("updated_ms", 0)))
                for cid, c in sorted(self._consumers(tdir).items())
            ]
            return self.spark.createDataFrame(
                rows, "consumer_id string, next_snapshot_id bigint, updated_ms bigint"
            )
        if suffix == "statistics":
            # Paimon's `table$statistics`: the latest ANALYZE result —
            # snapshot-level rollup plus one row per column (colstat). NULL
            # snapshot_id means the table was never analyzed.
            st = self.stats_of(db, table)
            srows = []
            if st:
                for col, cs in sorted(st.get("columns", {}).items()):
                    srows.append(
                        (
                            int(st.get("snapshot_id", 0)) or None,
                            int(st.get("row_count", 0)),
                            int(st.get("total_size_bytes", 0)),
                            col,
                            cs.get("min"),
                            cs.get("max"),
                            int(cs.get("null_count", 0)),
                            int(cs.get("ndv", 0)),
                        )
                    )
            return self.spark.createDataFrame(
                srows,
                "snapshot_id bigint, row_count bigint, total_size_bytes bigint, "
                "column_name string, min string, max string, "
                "null_count bigint, ndv bigint",
            )
        if suffix == "files":
            # Paimon's `table$files`: one row per live data file with its
            # partition, format and footer stats (record_count / size).
            snap = self._latest_snapshot(tdir)
            schema = self._latest_schema(tdir)
            rows = []
            for f in snap.files if snap else []:
                pv = partition_values(f["path"])
                part = "/".join(
                    f"{k}={'null' if pv.get(k) is None else pv[k]}"
                    for k in schema.partition_keys
                )
                rows.append(
                    (
                        part,
                        f["path"],
                        f.get("format", "parquet"),
                        f["schema_id"],
                        f.get("record_count", 0),
                        f.get("size_bytes", 0),
                    )
                )
            return self.spark.createDataFrame(
                rows,
                "partition string, path string, file_format string, "
                "schema_id bigint, record_count bigint, file_size_in_bytes bigint",
            )
        if suffix == "partitions":
            # Paimon's `table$partitions`: per-partition rollup of the live
            # files (record_count, file_count, bytes, last snapshot that
            # touched the partition — recovered from the commit-dir prefix
            # `c{N}-` file-name prefix, so no extra manifest state is needed).
            snaps = load_snapshots(tdir)
            snap = resolve_snapshot(snaps)
            schema = self._latest_schema(tdir)
            snap_ts = {s.snapshot_id: s.timestamp_ms for s in snaps}
            agg: dict[str, list] = {}
            for f in snap.files if snap else []:
                pv = partition_values(f["path"])
                part = "/".join(
                    f"{k}={'null' if pv.get(k) is None else pv[k]}"
                    for k in schema.partition_keys
                )
                p = "/" + f["path"].replace("\\", "/")
                # new layout names files `c{N}-*`; fall back to the legacy
                # `data/c{N}/...` commit-directory layout (still readable)
                m = re.search(r"/c(\d+)-[^/]*$", p) or re.search(r"/c(\d+)/", p)
                commit = int(m.group(1)) if m else 0
                cur = agg.setdefault(part, [0, 0, 0, 0])
                cur[0] += f.get("record_count", 0)
                cur[1] += 1
                cur[2] += f.get("size_bytes", 0)
                cur[3] = max(cur[3], commit)
            rows = [
                (part, rc, fc, sz, snap_ts.get(last))
                for part, (rc, fc, sz, last) in sorted(agg.items())
            ]
            return self.spark.createDataFrame(
                rows,
                "partition string, record_count bigint, file_count bigint, "
                "file_size_in_bytes bigint, last_update_ms bigint",
            )
        if suffix == "manifests":
            # Paimon's `table$manifests`: the delta-manifest chain of the
            # current snapshot — one row per manifest with what it added.
            snap = self._latest_snapshot(tdir)
            rows = []
            for m in snap.manifests if snap else []:
                entries = read_json(os.path.join(tdir, "manifest", m))["files"]
                rows.append(
                    (
                        m,
                        len(entries),
                        sum(e.get("record_count", 0) for e in entries),
                        sum(e.get("size_bytes", 0) for e in entries),
                    )
                )
            return self.spark.createDataFrame(
                rows,
                "manifest_name string, num_added_files bigint, "
                "added_record_count bigint, added_size_bytes bigint",
            )
        # options
        s = self._latest_schema(tdir)
        return self.spark.createDataFrame(
            sorted(s.options.items()), "key string, value string"
        )

    def snapshots(self, db: str, table: str) -> DataFrame:
        return self._system_table(db, table, "snapshots")

    def read_incremental_by_timestamp(self, name: str, from_ms: int, to_ms: int) -> DataFrame:
        """Paimon's ``incremental-between-timestamp`` — rows committed AFTER
        ``from_ms`` up to and including ``to_ms`` (epoch millis). Each bound
        resolves to the newest snapshot committed at or before it (no
        snapshot at/before from_ms → the table's beginning), then the range
        reads as ``read_incremental``'s does, from the same snapshot list.
        """
        if to_ms < from_ms:
            raise ValueError(f"to_ms {to_ms} precedes from_ms {from_ms}")
        db, _, table = name.partition(".")
        tdir = self._table_dir(db, table)
        snaps = load_snapshots(tdir)
        hi = resolve_snapshot(snaps, timestamp_ms=to_ms)
        try:
            lo = resolve_snapshot(snaps, timestamp_ms=from_ms).snapshot_id
        except ValueError:  # nothing committed by from_ms: read from the start
            lo = 0
        return self._read_commits(tdir, snaps, lo, hi)

    def read_incremental(
        self, name: str, from_snapshot: int | str, to_snapshot: int | str
    ) -> DataFrame:
        """Rows committed in snapshots ``(from_snapshot, to_snapshot]`` —
        Paimon's ``incremental-between`` scan, the batch twin of the
        changelog stream. Either bound may be a TAG NAME (Paimon's
        ``incremental-between-tags``): tags pin their snapshot through
        expiration, so tag-to-tag deltas stay readable after the raw ids
        between them are gone. ``from_snapshot=0`` is the table's start.

        The commits in the range are planned from metadata alone
        (``plan_commits``, shared with ``table_changelog`` and the manifest
        stream): one scan reads the union of the data files they wrote, so
        no data is read to plan and the scan touches only those files (at
        100 TB an incremental consumer reads GBs, not the table). A
        compaction right after its predecessor contributes nothing; one after
        expired commits contributes its rewritten files, the only surviving
        copy of those commits' rows, so a delete inside such a gap is not
        returned (see ``plan_commits``). Rows an OVERWRITE removed later in
        the range are still returned. PK tables keep ``(_seq, _row_kind)``
        so consumers can apply upserts/deletes downstream.
        """
        db, _, table = name.partition(".")
        tdir = self._table_dir(db, table)
        snaps, tags = load_snapshots(tdir), self._tags(tdir)

        def resolve(ref: int | str) -> Snapshot:
            if isinstance(ref, str):
                return resolve_snapshot(snaps, tags, tag=ref)
            return resolve_snapshot(snaps, version=ref)

        hi = resolve(to_snapshot)
        lo = resolve(from_snapshot).snapshot_id if from_snapshot != 0 else 0
        return self._read_commits(tdir, snaps, lo, hi)

    def _read_commits(self, tdir: str, snaps: list[Snapshot], lo: int, hi: Snapshot) -> DataFrame:
        """The incremental read of ``(lo, hi]`` once both bounds are
        resolved against ``snaps``, the table's one snapshot-list load."""
        schema = self._latest_schema(tdir)
        if self._dv_enabled(schema):
            # same hazard as the 'input' changelog: a DV delete commits no
            # data rows, so the raw file delta would silently omit deletes a
            # consumer's docstring-promised _row_kind application needs —
            # use read_cdc/table_changelog(producer='lookup'), whose diff of
            # DV-applied merged states emits the -D retractions
            raise ValueError(
                "read_incremental cannot represent deletes on a deletion-"
                "vectors table (deletes write no data rows); use read_cdc or "
                "table_changelog(producer='lookup') for the retraction stream"
            )
        if lo > hi.snapshot_id:
            raise ValueError(f"from_snapshot {lo} > to_snapshot {hi.snapshot_id}")
        delta = [f for _, _, files in plan_commits(snaps, lo, hi.snapshot_id) for f in files]
        if not delta:
            empty = _physical_schema(schema, bool(schema.primary_key))
            return self.spark.createDataFrame([], empty)
        return self._read_files(tdir, schema, dataclasses.replace(hi, files=delta))
