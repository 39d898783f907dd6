"""Table metadata: field-id-based schemas, snapshots, options.

Mirrors the reference's metadata model:
- Schema with explicit, evolvable fields — ``SchemaChange.addColumn/
  renameColumn/dropColumn/setOption`` (``common/TrinoMetadataBase.java:289-342``,
  ``common/TrinoMetadata.java:114-135``). Columns carry immutable **field ids**
  so renames never orphan data written under an older schema (SURVEY §7 step 4).
- Snapshot per commit with the same columns the reference's ``$snapshots``
  system table exposes: ``snapshot_id, schema_id, commit_user,
  commit_identifier, commit_kind`` (``common-test/TestTrinoITCase.java:287-288``).
- Table options accept the reference's underscore-mangled Paimon CoreOptions
  keys (``common/TrinoTableOptionUtils.java:51-135``): ``bucket``,
  ``bucket_key``, ``file_format``, ``changelog_producer``, ``merge_engine``...
  stored verbatim; consumed where our engine has an equivalent behavior.

Serialization is plain JSON files under the table directory — human-readable,
atomic-rename committed, no external services.
"""

from __future__ import annotations

import json
import os
import re
import tempfile
from dataclasses import dataclass, field

from pyspark.sql import types as T

from incubator_paimon_trino_spark.functions.sql import quote_ident

#: Commit kinds, matching Paimon's Snapshot.CommitKind surface.
COMMIT_APPEND = "APPEND"
COMMIT_OVERWRITE = "OVERWRITE"
COMMIT_COMPACT = "COMPACT"

#: Hidden columns carried by primary-key table data files (FIXTURES.md F1).
SEQ_COL = "_seq"
KIND_COL = "_row_kind"


@dataclass
class Field:
    id: int
    name: str
    type: str  # Spark simpleString, e.g. 'bigint', 'array<double>'
    nullable: bool = True
    comment: str | None = None  # surfaced via information_schema.columns

    def to_json(self) -> dict:
        out = {"id": self.id, "name": self.name, "type": self.type, "nullable": self.nullable}
        if self.comment is not None:
            out["comment"] = self.comment
        return out

    @staticmethod
    def from_json(d: dict) -> "Field":
        return Field(d["id"], d["name"], d["type"], d.get("nullable", True), d.get("comment"))


@dataclass
class TableSchema:
    """One version of a table's schema; ``schema_id`` increments per change."""

    schema_id: int
    fields: list[Field]
    primary_key: list[str] = field(default_factory=list)
    partition_keys: list[str] = field(default_factory=list)
    options: dict[str, str] = field(default_factory=dict)
    highest_field_id: int = -1

    def to_json(self) -> dict:
        return {
            "schema_id": self.schema_id,
            "fields": [f.to_json() for f in self.fields],
            "primary_key": self.primary_key,
            "partition_keys": self.partition_keys,
            "options": self.options,
            "highest_field_id": self.highest_field_id,
        }

    @staticmethod
    def from_json(d: dict) -> "TableSchema":
        return TableSchema(
            d["schema_id"],
            [Field.from_json(f) for f in d["fields"]],
            d.get("primary_key", []),
            d.get("partition_keys", []),
            d.get("options", {}),
            d.get("highest_field_id", -1),
        )

    def spark_schema(self) -> T.StructType:
        """The Spark schema, parsed in ONE ``fromDDL`` call whatever the
        column count, under ``_parse_type``'s rules field by field."""
        if not self.fields:
            return T.StructType([])
        parsed = T.StructType.fromDDL(
            ", ".join(f"{quote_ident(f.name)} {_storage_ddl(f.type)}" for f in self.fields)
        )
        return T.StructType(
            [
                T.StructField(f.name, _no_nested_char(f.type, p.dataType), f.nullable)
                for f, p in zip(self.fields, parsed.fields)
            ]
        )

    def field_by_name(self, name: str) -> Field:
        for f in self.fields:
            if f.name.lower() == name.lower():  # reference lowercases names (FieldNameUtils)
                return f
        raise KeyError(f"no column {name!r}; have {[f.name for f in self.fields]}")


@dataclass
class Snapshot:
    """One committed version of a table (= Paimon snapshot)."""

    snapshot_id: int
    schema_id: int
    commit_user: str
    commit_identifier: int
    commit_kind: str
    timestamp_ms: int
    #: live data files as of this snapshot: list of {path, schema_id}.
    #: On disk a snapshot stores ``manifests`` (delta-manifest file names,
    #: one per contributing commit) instead of this list — the loader
    #: resolves them; ``files`` is the materialized in-memory view.
    files: list[dict] = field(default_factory=list)
    record_count: int = 0
    manifests: list[str] = field(default_factory=list)
    #: deletion-vector index file name under ``<table>/index/`` (Paimon's
    #: ``deletion-vectors.enabled`` — the DV variant of merge-on-read).
    #: None for tables/snapshots without DVs; absent in older snapshot JSON.
    dv: str | None = None
    #: cumulative live mark count of ``dv`` (lets readers skip the DV
    #: anti-join for mark-free snapshots in O(1), and the committer pick the
    #: inline/sharded format without parsing the prior index). None =
    #: unknown (legacy snapshots) — readers must then assume marks exist.
    dv_marks: int | None = None

    def to_json(self) -> dict:
        out = {
            "snapshot_id": self.snapshot_id,
            "schema_id": self.schema_id,
            "commit_user": self.commit_user,
            "commit_identifier": self.commit_identifier,
            "commit_kind": self.commit_kind,
            "timestamp_ms": self.timestamp_ms,
            "record_count": self.record_count,
        }
        # delta-manifest layout: the snapshot JSON stays O(#commits), not
        # O(#files) — the Paimon/Iceberg metadata shape that survives long
        # table histories. Inline files only for legacy/manifest-less snaps.
        if self.manifests:
            out["manifests"] = self.manifests
        else:
            out["files"] = self.files
        if self.dv:
            out["dv"] = self.dv
            if self.dv_marks is not None:
                out["dv_marks"] = self.dv_marks
        return out

    @staticmethod
    def from_json(d: dict) -> "Snapshot":
        return Snapshot(
            d["snapshot_id"],
            d["schema_id"],
            d["commit_user"],
            d["commit_identifier"],
            d["commit_kind"],
            d["timestamp_ms"],
            d.get("files", []),
            d.get("record_count", 0),
            d.get("manifests", []),
            d.get("dv"),
            d.get("dv_marks"),
        )


def _parse_type(s: str) -> T.DataType:
    """Spark type from its DDL/simpleString form.

    CHAR(n)/VARCHAR(n) stay valid DECLARED types at the TOP level (the
    reference keeps them distinct, ``TrinoTypeUtils.java:77-90``) but Spark 4
    refuses them inside a schema — their storage form is STRING (CHAR
    canonically rtrimmed by the write path; length is metadata). NESTED
    char/varchar (``array<char(5)>``) parses fine in fromDDL yet fails every
    later read with UNSUPPORTED_CHAR_OR_VARCHAR_AS_STRING — reject it HERE
    so create_table/add_column fail at DDL time, not on an unreadable table.
    """
    return _no_nested_char(s, T.StructType.fromDDL(f"c {_storage_ddl(s)}")[0].dataType)


def _storage_ddl(s: str) -> str:
    """The DDL Spark parses for declared type ``s``: top-level CHAR/VARCHAR
    store as string, TIMESTAMP(p) as timestamp_ntz; anything else as is."""
    if re.fullmatch(r"\s*(?i:CHAR|VARCHAR)\s*(\(\s*\d+\s*\))?\s*", s):
        return "string"
    m = re.fullmatch(r"\s*(?i:TIMESTAMP(?:_NTZ)?)\s*\(\s*(\d)\s*\)\s*", s)
    if m:
        # declared-precision timestamp (reference ladder {0,3,6} —
        # TrinoTypeUtils.java:153-157): storage is micros TimestampNTZ,
        # values canonicalized to the declared precision at write time.
        # Other precisions are rejected at DDL time like the reference.
        if int(m.group(1)) not in (0, 3, 6):
            raise ValueError(
                f"unsupported timestamp precision in {s!r}: the ladder is "
                "TIMESTAMP(0), TIMESTAMP(3), TIMESTAMP(6)"
            )
        return "timestamp_ntz"
    return s


def _no_nested_char(s: str, dt: T.DataType) -> T.DataType:
    if _contains_char(dt):
        raise ValueError(
            f"type {s!r} contains a nested CHAR/VARCHAR — Spark cannot read "
            "char types inside a schema; use string for nested text fields"
        )
    return dt


def _contains_char(dt: T.DataType) -> bool:
    if isinstance(dt, (T.CharType, T.VarcharType)):
        return True
    if isinstance(dt, T.ArrayType):
        return _contains_char(dt.elementType)
    if isinstance(dt, T.MapType):
        return _contains_char(dt.keyType) or _contains_char(dt.valueType)
    if isinstance(dt, T.StructType):
        return any(_contains_char(f.dataType) for f in dt.fields)
    return False


class CommitConflictError(RuntimeError):
    """Another writer committed the same snapshot id first (optimistic
    concurrency, Paimon-style: losers re-plan on the new latest snapshot)."""


def write_json_atomic(path: str, payload: dict, exclusive: bool = False) -> None:
    """Write-then-rename so readers never observe a torn manifest.

    ``exclusive=True`` turns the publish into an atomic create (hard link):
    if the path already exists, another writer won the race — raise
    ``CommitConflictError`` instead of silently overwriting their commit.
    """
    os.makedirs(os.path.dirname(path), exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as fh:
            json.dump(payload, fh, indent=1, sort_keys=True)
        if exclusive:
            try:
                os.link(tmp, path)
            except FileExistsError:
                raise CommitConflictError(
                    f"snapshot already committed by another writer: {path}"
                ) from None
        else:
            os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def read_json(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


def latest_snapshot_id(tdir: str) -> int:
    """Tip snapshot id (0 = no commits) from the snapshot directory listing
    alone: callers that need only the tip (a stream's every-trigger
    ``latestOffset``, a consumer's checkpoint) read no manifest."""
    import glob as _glob

    ids = [
        int(os.path.basename(p)[len("snapshot-") : -len(".json")])
        for p in _glob.glob(os.path.join(tdir, "snapshot", "snapshot-*.json"))
    ]
    return max(ids, default=0)


def load_snapshots(tdir: str) -> list[Snapshot]:
    """All committed snapshots of a table dir, file lists resolved from the
    delta manifests, ordered by id. Module-level (no catalog/session) so the
    manifest-driven streaming source's driver worker — a separate Python
    process with no SparkSession — plans (``plan_commits``) from the same
    resolution the batch catalog uses. Shared manifests parse once per
    call: a K-commit history costs K manifest reads, not K² (each commit
    adds ONE manifest; snapshots reference the accumulated list)."""
    import glob as _glob

    out = []
    manifest_cache: dict[str, list[dict]] = {}

    def manifest_files(name: str) -> list[dict]:
        if name not in manifest_cache:
            manifest_cache[name] = read_json(os.path.join(tdir, "manifest", name))["files"]
        return manifest_cache[name]

    for p in sorted(_glob.glob(os.path.join(tdir, "snapshot", "snapshot-*.json"))):
        s = Snapshot.from_json(read_json(p))
        if s.manifests and not s.files:
            s.files = [f for m in s.manifests for f in manifest_files(m)]
        out.append(s)
    return sorted(out, key=lambda s: s.snapshot_id)


def resolve_snapshot(
    snaps: list[Snapshot],
    tags: dict[str, int] | None = None,
    *,
    version: int | None = None,
    tag: str | None = None,
    timestamp_ms: int | None = None,
) -> Snapshot | None:
    """The snapshot at most one reference names, from ``load_snapshots``'
    list and the table's tags — where every read, procedure and branch
    resolves a version, tag or timestamp (the reference's one dynamic
    option, ``TrinoMetadata.java:82-108``). None: the latest snapshot (None
    if empty); a version must exist, a tag must be known; a timestamp takes
    the newest snapshot committed at or before it."""
    if sum(r is not None for r in (version, tag, timestamp_ms)) > 1:
        raise ValueError("version, tag and timestamp pins are mutually exclusive")
    if tag is not None:
        tags = tags or {}
        if tag not in tags:
            raise ValueError(f"no tag {tag!r} (have {sorted(tags)})")
        version = int(tags[tag])
    if version is not None:
        found = next((s for s in snaps if s.snapshot_id == version), None)
        if found is None:
            raise ValueError(f"no snapshot {version} (have {[s.snapshot_id for s in snaps]})")
        return found
    if timestamp_ms is not None:
        older = [s for s in snaps if s.timestamp_ms <= timestamp_ms]
        if not older:
            earliest = min((s.timestamp_ms for s in snaps), default=None)
            raise ValueError(f"no snapshot at or before {timestamp_ms} (earliest is {earliest})")
        return older[-1]
    return snaps[-1] if snaps else None


def plan_commits(
    snaps: list[Snapshot], lo: int, hi: int
) -> list[tuple[Snapshot | None, Snapshot, list[dict]]]:
    """What each surviving commit in ``(lo, hi]`` wrote: one
    ``(predecessor, commit, files)`` per commit, in id order.
    ``predecessor`` is the latest surviving snapshot with a smaller id (None
    if there is none); ``files`` are the entries the commit lists that its
    predecessor does not. ``snaps`` is ``load_snapshots``' list. Every
    reader of a commit range plans here: ``read_incremental``,
    ``table_changelog`` and the manifest stream source, whose driver-side
    worker has no SparkSession.

    COMPACT commits: one whose predecessor is the commit just before it
    (``id - 1``) contributes no files — a rewrite carries no writer input,
    so a reader crossing it re-emits nothing. Any other COMPACT commit (no
    surviving predecessor, or expired commits in between) contributes its
    new files: they are the only surviving copy of the expired commits'
    rows, so a reader may repeat a row it saw before the gap but never
    drops a live one. A delete inside the gap is lost with its expired
    commit (1 +I k=1, 2 -D k=1, 3 COMPACT, 4 +I k=2, snapshot 2 expired:
    ``(1, 4]`` plans only k=2); a diff of merged states
    (``table_changelog(producer="lookup")``) returns it."""
    out = []
    prev = None
    for s in snaps:
        if s.snapshot_id > hi:
            break
        if s.snapshot_id > lo:
            if (
                s.commit_kind == COMMIT_COMPACT
                and prev is not None
                and prev.snapshot_id == s.snapshot_id - 1
            ):
                files = []
            else:
                seen = {f["path"] for f in prev.files} if prev else set()
                files = [f for f in s.files if f["path"] not in seen]
            out.append((prev, s, files))
        prev = s
    return out
