"""Structured Streaming over warehouse changelogs.

The reference only *stores* streaming table options (``StartupMode``,
``StreamingReadMode``, ``ChangelogProducer`` — ``TrinoTableOptionUtils.java:
94-107``) and never reads streams (negative finding, SURVEY §2.A). We
implement actual streaming reads on top of the same table layout:

- Every commit adds immutable ``data/<k=v dirs>/c<v>-*`` files — exactly
  the contract Spark's file-stream source needs: new files appear atomically,
  old files never change. ``read_changelog_stream`` is therefore just
  ``spark.readStream.parquet`` with the table's physical schema; PK tables
  surface ``(_seq, _row_kind)`` so downstream operators see the changelog
  (+I/-D), matching ``StreamingReadMode.changelog``.
- ``StartupMode.latest-full`` ≈ process existing files then tail
  (the file source's default); tests drive it with ``availableNow``.

Watermarked windows, session windows, and ``applyInPandasWithState`` give the
stateful-operator surface Trino lacks entirely.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from incubator_paimon_trino_spark.catalog.metadata import KIND_COL, SEQ_COL, latest_snapshot_id, load_snapshots
from incubator_paimon_trino_spark.catalog.warehouse import (
    _DV_FILE,
    _DV_POS,
    WarehouseCatalog,
    _physical_schema,
    explode_dv_index_text,
    partition_column_expr,
)
from incubator_paimon_trino_spark.session import rebind, scoped


def read_changelog_stream(
    cat: WarehouseCatalog,
    name: str,
    startup_mode: str = "latest-full",
    scan_snapshot_id: int | None = None,
    scan_timestamp_ms: int | None = None,
    max_files_per_trigger: int | None = None,
    consumer_id: str | None = None,
    source_mode: str = "files",
    split_target_bytes: int | None = None,
) -> DataFrame:
    """Streaming DataFrame over ``db.table``'s commit stream.

    ``split_target_bytes`` (manifest mode only): read-split packing target
    — small same-commit files bin-pack into one read task up to this many
    bytes (default 64 MiB; <= 0 disables packing, one file per task).

    PK tables yield changelog rows (``_seq``/``_row_kind`` included);
    append-only tables yield plain rows. Deletion-vectors tables yield the
    file tail's +rows UNIONED with a ``-D`` retraction stream diffed from
    the tailed DV indexes (``_dv_retraction_stream`` below) — a CDC consumer
    of a DV table gets a resumable stream with its deletes, not a silent
    insert-only view. New commits are picked up as their
    files land — at scale, set ``max_files_per_trigger`` to bound batch size
    (this is also what makes watermark semantics observable: with one giant
    availableNow batch nothing is ever late; per-commit batches advance the
    watermark between commits and drop genuinely late rows, see
    ``tests/test_streaming.py::test_watermark_drops_late_rows``).

    ``startup_mode`` implements the reference's ``StartupMode`` DDL enum
    (``TrinoTableOptionUtils.java:94-107`` — stored there, never executed;
    executable here):

    - ``latest-full`` (default) — consume every existing commit, then tail.
    - ``latest``        — tail only: commits made after the stream starts.
    - ``from-snapshot`` — commits with ``snapshot_id >= scan_snapshot_id``.
    - ``from-timestamp``— commits whose snapshot committed at or after
      ``scan_timestamp_ms`` (resolved through the manifests, like the batch
      ``timestamp_as_of`` pin).

    The cut is a predicate on the commit id parsed from each file's
    ``c<v>-`` file-name prefix — partition-pruning-style, per file path,
    no data read from excluded commits' rows.

    ``source_mode`` picks how increments are DISCOVERED:

    - ``"files"`` (default) — Spark's file-stream source tails the data
      directory: JVM vectorized parquet reads (the fast path), but work is
      discovered by listing FILES, which carries three file-tail caveats:
      (1) write races — data files land before the atomic snapshot
      publish, so a trigger inside a commit race's window can list a
      conflict loser's files (at-least-once duplicates when the winner
      retries); single-writer tables never hit the window. (2) compaction —
      a COMPACT commit's rewrites are indistinguishable from writer input
      and re-emit the live rows (PK sinks absorb this idempotently).
      (3) the DV retraction side resolves its static image-recovery join
      at STREAM BUILD time, so an indefinitely-tailing consumer of a
      still-deleting table should restart periodically (bounded
      availableNow sessions are complete).
    - ``"manifest"`` — the manifest-driven source
      (``streaming/manifest_source.py``, Paimon's own source shape on the
      Python DataSource API): every trigger re-plans from the snapshot
      manifests, which CLOSES all three caveats — only committed snapshots
      are planned (no race window), a compaction right after its
      predecessor plans no files (no re-emission; ``plan_commits``), and
      DV marks are per-commit index diffs recovered
      against that commit's own file list (a DELETE landing long after
      stream start, against files the start never saw, still surfaces).
      Schema renames are mapped by field id (the file tail must refuse
      them). The trade: Arrow reads in Python workers instead of the JVM
      vectorized reader, and ``max_files_per_trigger`` becomes a
      max-COMMITS-per-trigger limit. Pick it for indefinite tailing,
      multi-writer tables, compacting tables, or renamed-column histories.
    """
    db, _, table = name.partition(".")
    tdir = cat._table_dir(db, table)
    schema = cat._latest_schema(tdir)
    if source_mode not in ("files", "manifest"):
        raise ValueError(f"unknown source_mode {source_mode!r} (files, manifest)")
    fmt = schema.options.get("file_format", "parquet").strip().lower()
    if source_mode == "files":
        # the file tail matches parquet columns by NAME; the manifest
        # source maps by field id and handles renamed histories
        _reject_renamed_columns(cat, tdir, schema)
        if fmt != "parquet":
            # the tail's glob is *.parquet — an ORC/AVRO table would
            # silently stream NOTHING, the worst failure mode
            raise ValueError(
                f"the file-tail stream reads parquet tables; this table's "
                f"file_format is {fmt!r} — use source_mode='manifest' "
                "(parquet/orc) or the batch changelog"
            )
    # manifest mode reads parquet/orc via pyarrow and avro via the
    # pure-Python OCF codec (formats/avro_ocf) — no format refusal

    from_version: int | None = None
    if consumer_id is not None:
        # Paimon's consumer-id option: a registered position overrides the
        # startup mode — the stream resumes from the consumer's recorded
        # NEXT snapshot (an UNregistered consumer falls through to the
        # default latest-full bootstrap). Advancement stays explicit
        # (advance_consumer at the application's checkpoint points — Paimon
        # advances on checkpoint completion); registered positions also pin
        # snapshot retention.
        if startup_mode != "latest-full" or scan_snapshot_id is not None or scan_timestamp_ms is not None:
            raise ValueError(
                "consumer_id is mutually exclusive with an explicit startup "
                "position (the consumer's recorded progress IS the position)"
            )
        from_version = cat.consumer_progress(db, table, consumer_id)
    if from_version is None:
        if startup_mode == "latest-full":
            if scan_snapshot_id is not None or scan_timestamp_ms is not None:
                raise ValueError("latest-full takes no scan position")
        elif startup_mode == "latest":
            from_version = latest_snapshot_id(tdir) + 1
        elif startup_mode == "from-snapshot":
            if scan_snapshot_id is None:
                raise ValueError("from-snapshot requires scan_snapshot_id")
            from_version = scan_snapshot_id
        elif startup_mode == "from-timestamp":
            if scan_timestamp_ms is None:
                raise ValueError("from-timestamp requires scan_timestamp_ms")
            snaps = load_snapshots(tdir)  # one metadata resolve, reused below
            newer = [s for s in snaps if s.timestamp_ms >= scan_timestamp_ms]
            # no snapshot that late yet: start past the current tip and tail
            from_version = newer[0].snapshot_id if newer else (
                (snaps[-1].snapshot_id + 1) if snaps else 1
            )
        else:
            raise ValueError(
                f"unknown startup_mode {startup_mode!r} "
                "(have latest-full, latest, from-snapshot, from-timestamp)"
            )

    if source_mode == "manifest":
        return _manifest_stream(
            cat, tdir, schema, from_version, max_files_per_trigger,
            split_target_bytes,
        )

    inserts = _data_file_tail(cat, tdir, schema, from_version, max_files_per_trigger)
    if cat._dv_enabled(schema):
        # a DV table's deletes are pure metadata (no -D data rows), so the
        # file tail alone would silently drop every delete — union it with
        # the retraction stream diffed from the tailed DV indexes. The -D
        # side carries ``_dv_ver`` (the DELETE's commit id): a retraction's
        # ``_seq`` is the OLD image's by design, so consumer checkpoints
        # must advance by max(_seq, _dv_ver) — a retraction-only batch
        # (pure-metadata DELETE) would otherwise compute a tip BELOW the
        # consumer's position and stall/crash the advance. Insert rows get
        # NULL ``_dv_ver`` (their ``_seq`` is already the commit id).
        return inserts.unionByName(
            _dv_retraction_stream(cat, tdir, schema, from_version, max_files_per_trigger),
            allowMissingColumns=True,
        )
    return inserts


def _manifest_stream(
    cat: WarehouseCatalog,
    tdir: str,
    schema,
    from_version: int | None,
    max_commits_per_trigger: int | None,
    split_target_bytes: int | None = None,
) -> DataFrame:
    """The manifest-driven source (see ``read_changelog_stream``'s
    ``source_mode`` docs and ``streaming/manifest_source.py``): snapshots
    are the offsets, per-trigger re-planned — no build-time listing
    anywhere. Output columns match the files mode exactly (shared
    ``stream_output_columns``)."""
    from incubator_paimon_trino_spark.formats.file_reader import (
        restore_transported,
        transport_schema,
    )
    from incubator_paimon_trino_spark.streaming.manifest_source import (
        PaimonManifestSource,
        stream_output_columns,
        validate_partition_types,
    )

    validate_partition_types(schema)  # loud build-time refusal (complex types)
    cat.spark.dataSource.register(PaimonManifestSource)
    dv = cat._dv_enabled(schema)
    out_cols = stream_output_columns(schema, dv)
    reader = (
        cat.spark.readStream.format("paimon_manifest")
        .option("tdir", tdir)
        .option("from_version", str(from_version or 0))
        .option("dv", "1" if dv else "0")
        .option("schema_ddl", transport_schema(out_cols))
    )
    if max_commits_per_trigger is not None:
        reader = reader.option("max_commits_per_trigger", str(max_commits_per_trigger))
    if split_target_bytes is not None:
        reader = reader.option("split_target_bytes", str(split_target_bytes))
    return restore_transported(reader.load(), out_cols)


def _data_file_tail(
    cat: WarehouseCatalog,
    tdir: str,
    schema,
    from_version: int | None,
    max_files_per_trigger: int | None,
) -> DataFrame:
    """The +rows file tail shared by plain and DV tables: new data files as
    they land, partition columns rebuilt from the path, commit-id cut
    applied per file path."""
    # partition columns live in the path, not the files — exclude them from
    # the read schema and rebuild them per row from input_file_name (same
    # contract as the batch read path; streams read the LATEST schema, so a
    # table whose partition column was renamed mid-history needs a batch
    # backfill instead — _reject_renamed_columns guards).
    part_names = set(schema.partition_keys)
    phys = _physical_schema(schema, bool(schema.primary_key), exclude=part_names)
    reader = (
        cat.spark.readStream.schema(phys)
        .option("pathGlobFilter", "*.parquet")
        # no hive partition discovery — partition columns are rebuilt from
        # the path below; recursive lookup keeps the source from treating
        # partition dirs as data-defining (we re-derive them ourselves)
        .option("recursiveFileLookup", "true")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(os.path.join(tdir, "data"))
    for pname in schema.partition_keys:
        pf = schema.field_by_name(pname)
        stream = stream.withColumn(pname, partition_column_expr(pname, pf.type))
    # declared column order (partition cols back in place, system cols last)
    ordered = [f.name for f in schema.fields]
    if schema.primary_key:
        ordered += [SEQ_COL, KIND_COL]
    stream = stream.select(*ordered)
    if from_version is not None:
        # commit id from the file path: new layout names files `c{N}-*`;
        # legacy commits live under `data/c{N}/...` directories (still
        # readable by the batch path). regexp_extract returns '' on no
        # match, so coalesce via nullif; a path matching neither pattern
        # stays NULL and is INCLUDED — dropping unattributable files would
        # silently lose in-range data, the opposite failure mode.
        fname = F.input_file_name()
        new_c = F.nullif(F.regexp_extract(fname, r"/c(\d+)-[^/]*$", 1), F.lit(""))
        # greedy ^.* pins the LAST data/c<N>/ segment — a bare /c(\d+)/
        # search would match a warehouse root like /srv/c1/wh first and
        # mis-attribute (then silently drop) in-range legacy commits
        old_c = F.nullif(F.regexp_extract(fname, r"^.*/data/c(\d+)/", 1), F.lit(""))
        commit_of = F.coalesce(new_c, old_c).cast("bigint")
        stream = stream.filter(commit_of.isNull() | (commit_of >= F.lit(from_version)))
    return stream


def _dv_retraction_stream(
    cat: WarehouseCatalog,
    tdir: str,
    schema,
    from_version: int | None,
    max_files_per_trigger: int | None,
) -> DataFrame:
    """-D retractions for a deletion-vectors table, as a resumable stream.

    A DV table's deletes never write data rows — each commit publishes a
    CUMULATIVE ``index/dv-<version>-*.json`` marking every superseded (file,
    position) pair. Those index files are immutable and land atomically,
    so they are themselves tailable: this stream

    1. tails ``index/dv-*.json`` (wholetext; the commit version parsed from
       the file name),
    2. explodes each index into (file basename, position) marks and drops
       the RESUME BASELINE — marks already cumulative at ``from_version - 1``
       (a distributed anti-join against a Spark read of the prior snapshot's
       committed index, through the same parse/explode pipeline as the
       marks side — exactly the set a resuming consumer has already
       retracted, and never materialized on the driver: at 100 TB the
       baseline is O(live deleted rows)),
    3. recovers each marked row's full image with a stream-static join
       against a batch read of ONLY the DV-referenced data files (positions
       via ``_metadata.row_index`` — the plan-quality property: a delete of
       k rows re-opens the files holding those rows, never the table), and
    4. emits each (file, position) exactly once via streaming
       ``dropDuplicates`` — consecutive cumulative indexes repeat old marks;
       first-seen wins. State is O(live marks), the size of the DV metadata
       itself, reset by compaction like the vectors.

    Attribution: retractions carry the OLD row's ``_seq``; ``_row_kind`` is
    ``'D'``; ``_dv_ver`` is the version of A COMMITTED INDEX CONTAINING the
    mark — indexes are cumulative and the arbitrary dropDuplicates survivor
    decides which copy's version rides along, so within one availableNow
    batch it is an upper bound on the retracting commit, not an exact
    attribution (exact under per-commit triggers, where first-seen state
    keeps the earliest index; exact ALWAYS in ``source_mode="manifest"``,
    whose marks are per-commit diffs). Any bound is checkpoint-safe: a
    surviving copy's index version was consumed by this batch, so
    ``max(_dv_ver)`` never advances past unconsumed commits. With
    per-commit triggers marks surface in commit order; one availableNow
    batch surfaces them all at once (cumulative indexes make that
    value-identical, order aside).

    KNOWN LIMIT (same static-listing shape as the write-race note above):
    the static side lists the DV-referenced files at STREAM BUILD time, so a
    mark committed after the stream starts against a file the build never
    saw joins to nothing — bounded tailing sessions (availableNow, or
    restart-on-schedule) see every mark; an indefinitely-tailing consumer of
    a table that is still deleting should restart periodically. Paimon's own
    manifest-driven source is the production fix, as for the write race.
    """
    import dataclasses

    index_dir = os.path.join(tdir, "index")
    os.makedirs(index_dir, exist_ok=True)  # tailable even before any delete

    reader = (
        cat.spark.readStream.format("text")
        .schema("value string")
        .option("wholetext", "true")
        .option("pathGlobFilter", "dv-*.json")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    idx = reader.load(index_dir)
    snaps = load_snapshots(tdir)
    ver = F.regexp_extract(F.input_file_name(), r"/dv-(\d+)-[^/]*$", 1).cast("bigint")
    # Only COMMITTED indexes may retract: a crashed/racing writer leaves an
    # orphan dv-*.json that no snapshot references (vacuum keeps it while
    # above the horizon), and tailing it would emit phantom -D rows for
    # deletes that never happened. Indexes at versions known at build time
    # must match the exact file name their snapshot references; versions
    # beyond the build-time tip are accepted on faith — the same
    # files-land-before-publish trust window as the data-file tail (KNOWN
    # LIMIT above), closed by the periodic-restart discipline.
    # mark-bearing file names only: an inline index is itself; a sharded
    # index contributes its per-bucket shard files (same document shape —
    # the dv-*.json glob tails them directly; the dvm- manifest carries no
    # marks and is glob-invisible). Shard files carried forward across
    # commits resolve once (set semantics).
    from incubator_paimon_trino_spark.catalog.dv_index import mark_file_names

    committed = sorted(
        {n for s in snaps if s.dv for n in mark_file_names(tdir, s.dv)}
    )
    build_tip = snaps[-1].snapshot_id if snaps else 0
    idx_name = F.element_at(F.split(F.input_file_name(), "/"), -1)
    marks = explode_dv_index_text(
        idx.filter((ver > F.lit(build_tip)) | idx_name.isin(committed)),
        ver_col=ver,
    )
    if from_version is not None:
        marks = marks.filter(F.col("_dv_ver") >= F.lit(from_version))
        prior = [s for s in snaps if s.snapshot_id < from_version]
        if prior and prior[-1].dv:
            # the resume baseline: cumulative vectors at from_version - 1 —
            # everything below was retracted before the consumer's position.
            # Read DISTRIBUTED through the same parse/explode pipeline as
            # the marks side and anti-joined executor-side: the baseline is
            # O(live deleted rows) and must never transit the driver (a
            # long-lived consumer of a 100 TB table can hold billions of
            # marks). _dv_marks_df resolves either format (a sharded
            # baseline reads as per-bucket parse tasks). A baseline index
            # reaped by expiry (position past the horizon) means nothing
            # below survives to replay — skip.
            base_df = cat._dv_marks_df(tdir, prior[-1].dv)
            if base_df is not None:
                marks = marks.join(base_df, [_DV_FILE, _DV_POS], "left_anti")

    entries = _dv_referenced_entries(cat, tdir, snaps)
    if not entries:
        empty = cat.spark.createDataFrame([], schema.spark_schema())
        old_df = empty.select(
            "*",
            F.lit(None).cast("bigint").alias(SEQ_COL),
            F.lit(None).cast("string").alias(KIND_COL),
            F.lit(None).cast("string").alias(_DV_FILE),
            F.lit(None).cast("bigint").alias(_DV_POS),
        )
    else:
        snap = dataclasses.replace(snaps[-1], files=sorted(entries.values(), key=lambda f: f["path"]))
        old_df = cat._read_files(tdir, schema, snap, with_pos=True)
    return (
        marks.join(old_df, [_DV_FILE, _DV_POS])  # stream-static: recover images
        .dropDuplicates([_DV_FILE, _DV_POS])  # cumulative indexes repeat marks
        .select(
            *[F.col(f.name) for f in schema.fields],
            F.col(SEQ_COL),
            F.lit("D").alias(KIND_COL),
            # the retracting commit's id — ``_seq`` above is the OLD image's
            # (attribution), so checkpoint advancement reads THIS column
            F.col("_dv_ver"),
        )
    )


def _dv_referenced_entries(cat: WarehouseCatalog, tdir: str, snaps: list) -> dict[str, dict]:
    """Manifest entries (by file basename) for ONLY the data files any
    COMMITTED DV index references — the -D static side's read set. The
    referenced-file set is collected by ONE Spark job over every committed
    mark file (inline docs and shards alike): distinct basenames only, so
    the driver holds O(marked files), never O(marks) — a sharded index of
    10⁹ marks still resolves to the handful of files holding them. Marks
    are bounded by deletions since the last compaction, so a k-row delete
    stream re-opens the files holding those k rows, never the table (the
    plan-quality property ``tests/test_dv_stream.py`` pins). Orphan
    dv-*.json from crashed/racing writers are ignored (their marks never
    committed — the stream filters them too); an unreadable COMMITTED index
    raises, like the batch reader. A referenced file whose manifest entry
    has been expired away is skipped: its marks belong to history a resume
    position past expiry never replays."""
    from incubator_paimon_trino_spark.catalog.dv_index import mark_file_names

    paths = sorted(
        {
            os.path.join(tdir, "index", n)
            for s in snaps
            if s.dv
            for n in mark_file_names(tdir, s.dv)
        }
    )
    paths = [p for p in paths if os.path.exists(p)]
    referenced: set[str] = set()
    if paths:
        marks = explode_dv_index_text(
            cat.spark.read.format("text").option("wholetext", "true").load(paths)
        )
        referenced = {r[0] for r in marks.select(_DV_FILE).distinct().collect()}
    entries: dict[str, dict] = {}
    for s in snaps:
        for f in s.files:
            base = os.path.basename(f["path"].replace("\\", "/"))
            if base in referenced:
                entries.setdefault(base, f)
    return entries


def fold_changelog(batch: DataFrame, pk: list[str]) -> DataFrame:
    """CDC-apply reduction: collapse a changelog micro-batch to at most ONE
    row per key before sinking it into a PK table — the step that makes a
    batch containing both a key's +row and its -D retraction (one
    availableNow batch over a DV table always does) applicable at all.

    Winner per key = highest ``(_seq, kind)`` with a delete outranking an
    insert at the SAME ``_seq``: a DV retraction carries the OLD image's
    _seq, so "delete of the image this very commit produced" must beat the
    image (mirrors the warehouse's same-commit insert+delete tiebreak). The
    winner keeps ``_row_kind`` (the sink's merge engine upserts 'I' rows and
    deletes 'D' rows); ``_seq`` — and the DV stream's ``_dv_ver`` checkpoint
    rider, when present — are dropped: the sink assigns its own sequence.

    Scale shape: one hash shuffle on the key (the same partitioning the
    sink's merge uses), a window row_number, no collects.
    """
    from pyspark.sql import Window as W

    w = W.partitionBy(*pk).orderBy(
        F.desc(SEQ_COL), F.desc(F.col(KIND_COL) == "D")
    )
    return (
        batch.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", SEQ_COL, "_dv_ver")
    )


def _reject_renamed_columns(cat: WarehouseCatalog, tdir: str, schema) -> None:
    """Fail LOUDLY when any column was ever renamed: the file-stream source
    matches parquet columns by NAME against the latest schema, so files
    written before a rename would silently stream NULLs for the renamed
    column (the batch path maps by field id and reads them correctly). A
    clear error directing to the batch path beats silently-wrong data."""
    import glob as _glob
    import json

    for path in _glob.glob(os.path.join(tdir, "schema", "schema-*.json")):
        try:
            with open(path) as fh:
                old = json.load(fh)
        except (OSError, ValueError):
            continue
        old_names = {f["id"]: f["name"] for f in old.get("fields", [])}
        for f in schema.fields:
            if f.id in old_names and old_names[f.id] != f.name:
                raise ValueError(
                    f"column {old_names[f.id]!r} was renamed to {f.name!r} "
                    "during this table's history; the streaming source maps "
                    "parquet columns by name and would read NULLs from "
                    "pre-rename files — use the batch read path "
                    "(read_table / table_changelog) for this table"
                )


def windowed_counts(stream: DataFrame, ts_col: str, key_col: str, window: str = "5 minutes",
                    watermark: str = "10 minutes") -> DataFrame:
    """Watermarked tumbling-window counts — the canonical late-data-tolerant
    streaming aggregation (SURVEY §2.B streaming row)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window), F.col(key_col))
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            F.col(key_col),
            "n",
            "total_value",
        )
    )


def sessionized_counts(stream: DataFrame, ts_col: str, key_col: str, gap: str = "30 minutes") -> DataFrame:
    """Session windows (gap-based) — streaming twin of the batch
    ``window_sessionization`` operator."""
    return (
        stream.withWatermark(ts_col, "1 hour")
        .groupBy(F.session_window(ts_col, gap), F.col(key_col))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col(key_col),
            "n_events",
        )
    )


def quiet_state_serializer_warnings() -> None:
    """Worker-side sweep-log hygiene:
    pyspark's ApplyInPandasWithStateSerializer pads its output with EMPTY
    frames and ``pd.concat``'s them (serializers.py:1696), which pandas
    2.x answers with a FutureWarning PER BATCH — ~64 benign stderr lines
    per sweep burying real signal. The filter is process-global in the
    Python worker and the serializer runs after the UDF in the same
    process, so each stateful fn calling this first silences exactly this
    warning for the worker's lifetime. Scoped to the one message: any
    other FutureWarning still surfaces."""
    import warnings

    warnings.filterwarnings(
        "ignore",
        message="The behavior of DataFrame concatenation with empty or all-NA entries",
        category=FutureWarning,
    )


def running_totals_stateful(stream: DataFrame, key_col: str, value_col: str) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-key
    running event count + value total, state carried across micro-batches.

    The per-group pandas function is the escape hatch for operators Spark's
    built-in streaming aggregates can't express (custom eviction, model
    state, ...). State is a single (count, total) row per key — O(keys)
    memory, shuffle-partitioned by key.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdf_iter, state: GroupState):
        quiet_state_serializer_warnings()
        count, total = state.get if state.exists else (0, 0.0)  # .get is a property
        for pdf in pdf_iter:
            count += len(pdf)
            total += float(pdf[value_col].sum())
        state.update((count, total))
        import pandas as pd

        yield pd.DataFrame({key_col: [key[0]], "n_events": [count], "total_value": [total]})

    return (
        stream.groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=f"{key_col} bigint, n_events bigint, total_value double",
            stateStructType="n bigint, total double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_to_completion(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "update",
    input_splits: int | None = None,
) -> DataFrame:
    """Drive a streaming query over all currently-available input (availableNow)
    into an in-memory sink and return the result as a batch DataFrame.

    Session-window aggregations require ``complete``/``append`` output mode.

    ``input_splits`` ("fewer, larger partitions" applied to streaming
    state): when the caller knows its source can only produce this
    many scan tasks per micro-batch, the stream's shuffle/state partition
    count is clamped to ``max(8, 8·input_splits)`` — a source that cannot
    fill the session's shuffle partitions with work only pays per-batch
    state-store instance setup + commit overhead for the empty ones
    (measured at sf0.1: 32 → 8 state partitions cuts the availableNow
    fixed cost from ~1.6–2.2 s to ~1.1–1.4 s per query). The clamp is
    scale-adaptive exactly like ``sources.registry.fan_out``'s gate: at
    cluster scale input_splits ≥ the session setting and this is a no-op —
    nothing is tuned to local mode. State semantics are partition-count
    independent (hash partitioning on the same keys either way). The stream
    runs on a ``session.scoped`` clone that holds the clamp, so the caller's
    conf is never written: batch queries, a nested run or one on another
    thread keep their own partition count. The result is the memory sink's
    rows as a DataFrame of the caller's session.
    """
    spark = stream_df.sparkSession
    conf = {}
    if input_splits is not None:
        cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
        conf["spark.sql.shuffle.partitions"] = str(max(8, min(cur, 8 * input_splits)))
    run = scoped(spark, conf)
    q = (
        rebind(stream_df, run).writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return rebind(run.table(query_name), spark)


def write_stream_to_table(
    stream_df: DataFrame,
    catalog,
    db: str,
    table: str,
    checkpoint_dir: str,
    query_name: str = "lake_sink",
    available_now: bool = True,
    source: tuple[str, str] | None = None,
    consumer_id: str | None = None,
    fold_pk: bool = False,
):
    """Streaming sink into a lake table: each micro-batch commits through the
    catalog's transactional write path (``foreachBatch`` →
    ``insert_with_retries``), so a stream lands as ordinary snapshots — PK
    tables upsert by merge engine, append tables append — and every commit
    is immediately time-travelable / tailable by downstream readers. The
    reference is read-only; this completes the loop (stream in → lake →
    stream out).

    Delivery is at-least-once across restarts (the checkpoint tracks source
    progress; a batch replayed after a crash commits again). On a PK table
    with the deduplicate/partial-update engines a replay converges to the
    same merged state (upserts are idempotent per key), which is the
    standard lake-sink exactly-once-by-idempotence argument; append tables
    can see duplicates on crash-replay, as with any at-least-once append
    sink. Scale: executors write each batch's files in parallel; only the
    manifest commit is driver-side, identical to the batch path.

    ``source=(db, table)`` + ``consumer_id``: Paimon's checkpoint-advance —
    after a batch durably commits to the sink, the SOURCE table's consumer
    advances to (max commit position seen in the batch) + 1. ``_seq`` on a
    plain PK changelog source is the commit/snapshot id; a DV retraction
    row's ``_seq`` is the OLD image's, so its commit position rides in
    ``_dv_ver`` and the tip is the max over BOTH columns — a
    retraction-only batch (a pure-metadata DELETE landing after the
    consumer caught up) would otherwise compute a tip below the consumer's
    position, and the advance would crash-loop the stream on every restart
    while the delete-only commit was never recorded as consumed. The
    recorded position is exactly "everything below this snapshot is
    committed downstream", and it pins the source's snapshot retention
    while the pipeline is behind. Progress records only AFTER the commit
    (crash between commit and advance replays the batch — at-least-once,
    never a gap); the advance is non-strict (a stale/replayed tip at or
    below the current position is a no-op, not an error). A sequence_field
    source carries business time in ``_seq`` and is rejected.

    ``fold_pk=True`` applies ``fold_changelog`` per micro-batch before the
    insert — REQUIRED for retraction-carrying sources (a DV table's stream
    puts a key's +row and its -D in one availableNow batch; sinking both
    raw gives the merge engine two same-commit rows to tiebreak, not the
    CDC winner). Needs ``_seq`` in the stream and a PK sink.
    """
    if fold_pk:
        if SEQ_COL not in stream_df.columns:
            raise ValueError(
                f"fold_pk needs the source's {SEQ_COL} column in the stream "
                "(read via read_changelog_stream)"
            )
        sink_pk = catalog.schema_of(db, table).primary_key
        if not sink_pk:
            raise ValueError("fold_pk needs a primary-key sink table")
    if consumer_id is not None:
        if source is None:
            raise ValueError("consumer_id requires source=(db, table)")
        src_schema = catalog.schema_of(*source)
        if not src_schema.primary_key or src_schema.options.get("sequence_field"):
            raise ValueError(
                "consumer advancement needs a primary-key source without "
                "sequence_field (its _seq must be the commit id, not "
                "business time)"
            )
        if SEQ_COL not in stream_df.columns:
            raise ValueError(
                f"consumer advancement needs the source's {SEQ_COL} column "
                "in the stream (read via read_changelog_stream)"
            )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        # one summary aggregate (row count and consumer tip) and the sink
        # insert are two actions over the same micro-batch plan — persist
        # so the batch materializes once, not once per action
        batch_df.persist()
        try:
            summary = [F.count(F.lit(1))]
            if consumer_id is not None:
                # tip = max commit position: _seq for +rows, _dv_ver for DV
                # retractions (whose _seq is the retracted OLD image's —
                # possibly far below the consumer). greatest() ignores the
                # null side when only one kind is present in the batch.
                summary.append(
                    F.greatest(F.max(SEQ_COL), F.max("_dv_ver"))
                    if "_dv_ver" in batch_df.columns
                    else F.max(SEQ_COL)
                )
            row = batch_df.agg(*summary).collect()[0]
            if not row[0]:
                return
            tip = row[1] if consumer_id is not None else None
            # a PK changelog SOURCE carries _seq (its own commit order); the
            # sink table assigns fresh sequence numbers per committed batch,
            # so the rider _seq/_dv_ver must not reach insert_into (they
            # would be rejected as unknown columns). _row_kind DOES flow
            # through — deletes upsert away.
            if fold_pk:
                out = fold_changelog(batch_df, sink_pk)  # drops the riders
            else:
                out = batch_df.drop(SEQ_COL, "_dv_ver")
            catalog.insert_with_retries(db, table, out)
            if consumer_id is not None and tip is not None:
                catalog.advance_consumer(
                    *source, consumer_id, int(tip) + 1, strict=False
                )
        finally:
            batch_df.unpersist()

    writer = (
        stream_df.writeStream.foreachBatch(_sink)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
