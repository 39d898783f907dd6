"""The one Python-worker reader of lake data files.

Spark's native readers scan parquet and ORC, and Avro when spark-avro is
on the classpath. Three reads need a Python worker instead, and all three
go through ``_read_file`` (one file's columns, pyarrow for parquet and ORC,
the OCF codec of ``formats/avro_ocf`` for Avro) and ``_output_batches``
(those columns as Arrow batches in the caller's output schema):

- positional reads of ORC and Avro tables for deletion vectors: Spark has
  no ``_metadata.row_index`` for either, so the reader appends the file
  path and each row's ordinal, counted over the in-order decode (ORC
  stripes, Avro container blocks);
- Avro reads when spark-avro is absent;
- the manifest changelog stream (``streaming/manifest_source``), whose
  executor reads take the same two functions.

The batch reads go through ``PaimonFileSource`` (``paimon_files``). Its
read tasks come from ``_pack_splits``: files of one schema and format pack
up to a byte target, so a table of many small files does not pay one
Python task per file.

Everything here is session-free: executor workers have no SparkSession to
parse DDL with, so storage types map to Arrow through ``_arrow_type`` and
hive partition values revive through ``_typed_partition_value``.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import json
from typing import Iterator

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from incubator_paimon_trino_spark.functions.types import split_top_commas

#: The provenance columns a positional read appends: the data file's path
#: and the row's ordinal within that file.
POS_FILE_COL = "__dv_file"
POS_COL = "__dv_pos"


# ---------------------------------------------------------------- types
def _arrow_type(ddl: str):
    """Spark simpleString DDL → pyarrow type. Covers every type the
    catalog's DDL layer admits (functions/types.py)."""
    import pyarrow as pa

    s = ddl.strip().lower()
    scalars = {
        "boolean": pa.bool_(),
        "tinyint": pa.int8(),
        "byte": pa.int8(),
        "smallint": pa.int16(),
        "short": pa.int16(),
        "int": pa.int32(),
        "integer": pa.int32(),
        "bigint": pa.int64(),
        "long": pa.int64(),
        "float": pa.float32(),
        "real": pa.float32(),
        "double": pa.float64(),
        "string": pa.string(),
        "binary": pa.binary(),
        "date": pa.date32(),
        "timestamp": pa.timestamp("us", tz="UTC"),
        "timestamp_ltz": pa.timestamp("us", tz="UTC"),
        "timestamp_ntz": pa.timestamp("us"),
    }
    if s in scalars:
        return scalars[s]
    if s.startswith("char") or s.startswith("varchar"):
        return pa.string()  # length is metadata (functions/types.py)
    if s.startswith("timestamp"):
        # declared-precision TIMESTAMP(p)/TIMESTAMP_NTZ(p): storage is
        # micros NTZ, values already write-canonicalized to the precision
        return pa.timestamp("us")
    if s.startswith("time"):
        return pa.time64("us")  # Spark 4 TimeType(p): micros storage
    if s.startswith("decimal"):
        inner = s[s.index("(") + 1 : s.rindex(")")] if "(" in s else "10,0"
        p, _, sc = inner.partition(",")
        return pa.decimal128(int(p), int(sc or 0))
    if s.startswith("array<") and s.endswith(">"):
        return pa.list_(_arrow_type(ddl.strip()[6:-1]))
    if s.startswith("map<") and s.endswith(">"):
        k, v = split_top_commas(ddl.strip()[4:-1])
        return pa.map_(_arrow_type(k), _arrow_type(v))
    if s.startswith("struct<") and s.endswith(">"):
        fields = []
        for part in split_top_commas(ddl.strip()[7:-1]):
            name, _, t = part.partition(":")
            fields.append((name.strip().strip("`"), _arrow_type(t)))
        return pa.struct(fields)
    raise ValueError(f"unsupported type for the Python file reader: {ddl!r}")


def _binary_partition_value(raw: str) -> bytes:
    # Spark spells binary partition dir values as the raw bytes decoded
    # (its own writer refuses path-hostile bytes); surrogateescape
    # round-trips whatever byte sequence the filesystem accepted
    return raw.encode("utf-8", "surrogateescape")


#: Hive path value → Python value, by storage type: exact type names
#: first, then prefixes (``timestamp`` ahead of ``time``).
_PARTITION_EXACT = {
    **dict.fromkeys(
        ("tinyint", "byte", "smallint", "short", "int", "integer", "bigint", "long"), int
    ),
    **dict.fromkeys(("float", "real", "double"), float),
    "boolean": lambda raw: raw.lower() == "true",
    "date": _dt.date.fromisoformat,
    "string": str,
    "binary": _binary_partition_value,
}
_PARTITION_PREFIX = (
    ("decimal", _decimal.Decimal),
    ("char", str),
    ("varchar", str),
    ("timestamp", lambda raw: _dt.datetime.fromisoformat(raw.replace(" ", "T"))),
    ("time", _dt.time.fromisoformat),
)


def _partition_parser(ddl: str):
    s = ddl.strip().lower()
    if s in _PARTITION_EXACT:
        return _PARTITION_EXACT[s]
    return next((f for p, f in _PARTITION_PREFIX if s.startswith(p)), None)


def _partition_type_supported(ddl: str) -> bool:
    """Whether ``_typed_partition_value`` can revive a value of ``ddl``."""
    return _partition_parser(ddl) is not None


def _typed_partition_value(raw: str | None, ddl: str):
    """Hive path partition value (already unquoted; None = hive null) →
    Python value matching ``_arrow_type(ddl)``."""
    parse = _partition_parser(ddl)
    if parse is None:
        raise ValueError(f"unsupported partition column type {ddl!r}")
    return None if raw is None else parse(raw)


# ------------------------------------------------------------- transport
def transport_ddl(ddl: str) -> str:
    """The type a column crosses the Python DataSource Arrow bridge as.
    TIME travels as bigint MICROS, since the bridge rejects Arrow time64
    (UNSUPPORTED_ARROWTYPE); ``restore_transported`` casts it back
    Spark-side. Every other type crosses as-is."""
    s = ddl.strip().lower()
    return "bigint" if s == "time" or s.startswith("time(") else ddl


def transport_schema(cols: list) -> str:
    """The DDL a Python source declares for output columns ``cols``
    [(name, storage ddl)]."""
    return ", ".join(f"`{n}` {transport_ddl(t)}" for n, t in cols)


def restore_transported(df, cols: list):
    """``df``, read through a source declared by ``transport_schema(cols)``,
    with every transported column cast back to its type in ``cols``."""
    from pyspark.sql import functions as F

    for n, t in cols:
        if transport_ddl(t) != t:
            df = df.withColumn(
                n,
                F.expr(
                    f"make_time(cast(`{n}` div 3600000000 as int), "
                    f"cast((`{n}` % 3600000000) div 60000000 as int), "
                    f"cast((`{n}` % 60000000) as decimal(16,6)) / 1000000)"
                ).cast(t),
            )
    return df


# ----------------------------------------------------------------- reads
def _read_file(path: str, fmt: str, fields: list):
    """Arrow table of one data file's physical columns. ``fields`` is
    [(physical name, output name, storage ddl)]. A field the file lacks is
    not read (Avro: reads as nulls); ``_output_batches`` fills it with
    nulls."""
    if fmt == "parquet":
        import pyarrow.parquet as pq

        with pq.ParquetFile(path) as f:
            present = set(f.schema_arrow.names)
            return f.read(columns=[c for c, _, _ in fields if c in present])
    if fmt == "orc":
        import pyarrow.orc as po

        f = po.ORCFile(path)
        present = set(f.schema.names)
        return f.read(columns=[c for c, _, _ in fields if c in present])
    if fmt == "avro":
        # pyarrow has no Avro reader: decode through the pure-Python OCF
        # codec, in container-block order
        from incubator_paimon_trino_spark.formats.avro_ocf import read_ocf_arrow

        return read_ocf_arrow(path, [(c, ddl) for c, _, ddl in fields])
    raise NotImplementedError(
        f"the Python file reader reads parquet/orc/avro; file format is {fmt!r}"
    )


def _output_batches(table, out_cols, fields, parts, path=None, consts=None) -> Iterator:
    """Arrow batches in the output schema ``out_cols`` [(name, storage
    ddl)], from one file's ``table``, each column in its ``transport_ddl``
    type. Each output column takes, first match wins:

    - its value in ``consts``, on every row (the stream's DV retractions
      set ``_row_kind`` to 'D' and ``_dv_ver`` to the retracting commit);
    - its hive path value, from ``parts`` [(name, storage ddl, raw)];
    - for ``POS_FILE_COL`` and ``POS_COL``: ``path`` and the row's ordinal
      in ``table`` (an in-order read, so the ordinal within the file);
    - its physical column named in ``fields``, cast to the storage type;
    - nulls, when no field names it or the file lacks it."""
    import pyarrow as pa

    n = len(table)
    if n == 0:
        return
    consts = consts or {}
    physical = {out: phys for phys, out, _ in fields}
    part_vals = {k: (ddl, raw) for k, ddl, raw in parts}
    arrays = {}
    for name, ddl in out_cols:
        at = _arrow_type(transport_ddl(ddl))
        if name in consts:
            arr = pa.array([consts[name]] * n, type=at)
        elif name in part_vals:
            pddl, raw = part_vals[name]
            v = _typed_partition_value(raw, pddl)
            if at == pa.int64() and v is not None and not isinstance(v, int):
                # TIME transported as bigint micros
                v = ((v.hour * 60 + v.minute) * 60 + v.second) * 1_000_000 + v.microsecond
            arr = pa.array([v] * n, type=at)
        elif name == POS_FILE_COL:
            arr = pa.array([path] * n, type=at)
        elif name == POS_COL:
            import numpy as np

            arr = pa.array(np.arange(n, dtype=np.int64))
        elif physical.get(name) in table.column_names:
            arr = table.column(physical[name])
            if arr.type != at:
                arr = arr.cast(at)
        else:
            arr = pa.nulls(n, type=at)
        arrays[name] = arr
    yield from pa.table(arrays).to_batches()


def _pack_splits(entries: list[dict], target_bytes: int):
    """Bin-pack manifest entries into read tasks: group by (schema_id,
    format), since a task shares one column mapping, then fill each task
    in path order by ``size_bytes`` up to ``target_bytes``, starting a new
    one when the next file would pass it (always at least one file per
    task). ``target_bytes <= 0`` disables packing: one file per task. An
    entry with no recorded size (foreign manifests; this warehouse always
    records one) weighs a full target, so it gets a task alone. The
    reference sizes splits the same way (``TrinoSplitManagerBase.java:50-63``).
    Yields ((schema_id, format), [entries])."""
    groups: dict[tuple, list[dict]] = {}
    for e in sorted(entries, key=lambda e: e["path"]):
        groups.setdefault((e["schema_id"], e.get("format", "parquet")), []).append(e)
    for key, group in sorted(groups.items()):
        if target_bytes <= 0:
            for e in group:
                yield key, [e]
            continue
        pack: list[dict] = []
        size = 0
        for e in group:
            raw = e.get("size_bytes")
            sz = target_bytes if raw is None else int(raw)
            if pack and size + sz > target_bytes:
                yield key, pack
                pack, size = [], 0
            pack.append(e)
            size += sz
        if pack:
            yield key, pack


# --------------------------------------------------------- batch source
class PaimonFileSource(DataSource):
    """``spark.read.format("paimon_files")``. Options: ``schema_ddl``
    (output schema), ``format`` (parquet, orc or avro), ``fields`` (JSON
    [(name, storage ddl)] of the file-borne columns), ``files`` (JSON list
    of read tasks, each a list of {path, parts: [(name, ddl, raw)]}) and
    ``with_pos`` ("true" appends ``POS_FILE_COL`` and ``POS_COL``). The
    output is the file-borne columns, then the partition columns, then the
    provenance columns."""

    @classmethod
    def name(cls) -> str:
        return "paimon_files"

    def schema(self) -> str:
        return self.options["schema_ddl"]

    def reader(self, schema) -> "_FileReader":
        return _FileReader(self.options)


class _FileReader(DataSourceReader):
    def __init__(self, opts) -> None:
        self.fmt = opts["format"]
        self.tasks = json.loads(opts["files"])
        self.fields = [(n, n, t) for n, t in json.loads(opts["fields"])]
        self.pos = (
            [(POS_FILE_COL, "string"), (POS_COL, "bigint")]
            if opts.get("with_pos") == "true"
            else []
        )

    def partitions(self) -> list[InputPartition]:
        return [InputPartition(t) for t in self.tasks]

    def read(self, partition: InputPartition) -> Iterator:
        for f in partition.value:
            out_cols = (
                [(n, t) for n, _, t in self.fields]
                + [(k, t) for k, t, _ in f["parts"]]
                + self.pos
            )
            table = _read_file(f["path"], self.fmt, self.fields)
            yield from _output_batches(table, out_cols, self.fields, f["parts"], f["path"])
