"""Per-data-file secondary indexes for manifest-level file skipping.

Paimon's file-index family (``file-index.bloom-filter.columns`` /
``file-index.bitmap.columns`` in CoreOptions) builds a small per-file index
at write time and consults it at scan planning, skipping files that min/max
stats cannot: a high-cardinality column written in arrival order has
near-full-range min/max in EVERY file, so a point lookup scans the whole
table — the bloom filter answers "this value is provably absent here" per
file instead. The reference connector inherits the behavior from Paimon's
scan (the same seam that takes the pushed predicate,
``common/TrinoSplitManagerBase.java:44-48``); this module is the
PySpark-native equivalent, slotting in right after min/max pruning
(``catalog/scan.py``) and bucket pruning.

Two index kinds, per Paimon's two main file-index types:

- ``bloom`` — fixed-size bloom filter (``items`` expected distinct values,
  ``fpp`` target false-positive rate, Paimon's option pair). False positives
  KEEP a file (harmless); false negatives are impossible by construction, so
  dropping is always safe.
- ``bitmap`` — exact per-file distinct-value set, stored as 64-bit value
  hashes (Paimon's bitmap index answers per-row positions; at the connector
  seam its observable effect is file/split skipping, which is the granularity
  our scan plans at — documented coarsening). Overflows past
  ``max_distinct`` mark the field unusable (file kept). A hash collision can
  only KEEP an extra file, never drop a matching one; absence of the probe
  hash is exact, so drops are safe.

Storage: one sidecar JSON per data file, colocated as ``<data-file>.fidx``
(same directory). Colocation ties the sidecar's lifecycle to its data file —
snapshot expiry / rollback / orphan cleanup derive the sidecar name from the
dead data path; branch reads that reference a parent table's shared data
files (``../../data`` manifest entries) resolve the sidecar through the same
relative path. ``*.fidx`` never matches the data-file globs elsewhere in the
package (file-tail streams filter ``*.parquet``; readers open manifest-listed
paths only).

Scale shape (the 100 TB story):

- BUILD is one Spark job of one stage per commit, one task per NEWLY written
  file. Each task reads only its file's indexed columns, batch by batch
  (bounded memory), hashes each batch's distinct values (hashing cost is per
  unique value per batch, not per row) and writes the sidecar itself
  (atomic tmp+rename). No re-scan through Spark, no shuffle; the driver
  receives one count per file.
- PROBE is metadata-sized per candidate file. Small candidate sets (most
  queries, after partition/bucket/min-max pruning) probe on the driver with
  an mtime-keyed cache; large sets fan the probe out as one Spark job that
  returns surviving file indices — the driver never holds more than the file
  list it already planned with.

Field ids, not names, key the sidecar entries — renames never invalidate an
index (same rule as min/max stats, A18).
"""

from __future__ import annotations

import base64
import functools
import hashlib
import json
import math
import os
import zlib
from dataclasses import dataclass

from incubator_paimon_trino_spark.catalog.metadata import TableSchema
from incubator_paimon_trino_spark.functions.predicates import ColumnDomain

#: candidate-file count above which the probe fans out as a Spark job.
#: r12 (sf1 soak): the job path costs a fixed ~0.5s per probe and caches
#: nothing, so a 96-file table paid it on EVERY point lookup while a
#: 64-file table answered warm probes from the driver cache in ~0. The
#: driver path with the (immutable-sidecar) LRU below is the right
#: strategy up to a few hundred files (~100KB JSON each — a one-off
#: sub-second cold parse); beyond that, executor fan-out wins.
DRIVER_PROBE_MAX = 384

#: sidecar filename suffix (``<data-file>.fidx``)
SUFFIX = ".fidx"

_INT_DDL = ("tinyint", "smallint", "int", "integer", "bigint", "long", "short", "byte")

_BLOOM_DEFAULT_ITEMS = 1_000_000  # Paimon file-index.bloom-filter.<col>.items
_BLOOM_DEFAULT_FPP = 0.1  # Paimon file-index.bloom-filter.<col>.fpp
_BITMAP_DEFAULT_MAX = 50_000


@dataclass(frozen=True)
class IndexSpec:
    """One indexed column: resolved at the CURRENT schema, keyed by field id."""

    fid: int
    column: str  # current name (build-time read path)
    ddl: str
    kind: str  # "bloom" | "bitmap"
    m_bits: int = 0  # bloom only
    k: int = 0  # bloom only
    max_distinct: int = 0  # bitmap only


def _supported_ddl(ddl: str) -> bool:
    d = ddl.lower()
    return (
        d in _INT_DDL
        or d == "string"
        or d.startswith("varchar")
        or d.startswith("char")
        or d == "date"
        or d == "boolean"
    )


def _split_cols(raw: str | None) -> list[str]:
    return [c.strip() for c in (raw or "").split(",") if c.strip()]


def bloom_params(items: int, fpp: float) -> tuple[int, int]:
    """(m_bits, k) for ``items`` expected distinct values at ``fpp``.

    Standard sizing: m = -n·ln(p)/ln(2)², k = (m/n)·ln(2). m is rounded up
    to a byte multiple so the bitset is stored as whole bytes.
    """
    if items < 1 or not (0.0 < fpp < 1.0):
        raise ValueError(f"bloom filter needs items >= 1 and 0 < fpp < 1, got {items}, {fpp}")
    m = math.ceil(-items * math.log(fpp) / (math.log(2) ** 2))
    m = (m + 7) // 8 * 8
    k = max(1, round(m / items * math.log(2)))
    return m, k


def index_specs(schema: TableSchema) -> list[IndexSpec]:
    """Parse the table's ``file_index_*`` options into resolved specs.

    Raises on unknown / unsupported / partition columns so CREATE TABLE and
    SET PROPERTIES fail loudly instead of storing an option every write would
    then silently skip. A column may carry at most one index kind.
    """
    opts = schema.options
    bloom_cols = _split_cols(opts.get("file_index_bloom_filter_columns"))
    bitmap_cols = _split_cols(opts.get("file_index_bitmap_columns"))
    if not bloom_cols and not bitmap_cols:
        return []
    items = int(opts.get("file_index_bloom_filter_items", str(_BLOOM_DEFAULT_ITEMS)))
    fpp = float(opts.get("file_index_bloom_filter_fpp", str(_BLOOM_DEFAULT_FPP)))
    max_distinct = int(opts.get("file_index_bitmap_max_distinct", str(_BITMAP_DEFAULT_MAX)))
    m, k = bloom_params(items, fpp)

    both = sorted(set(bloom_cols) & set(bitmap_cols))
    if both:
        raise ValueError(f"column(s) {both} appear in both bloom-filter and bitmap file indexes")
    for label, cols in (("bloom-filter", bloom_cols), ("bitmap", bitmap_cols)):
        dupes = sorted({c for c in cols if cols.count(c) > 1})
        if dupes:
            # a duplicate would give one field id two specs (and two
            # entries' worth of work) — a typo to refuse, not to index
            raise ValueError(f"duplicate column(s) {dupes} in file-index.{label}.columns")
    out: list[IndexSpec] = []
    for kind, cols in (("bloom", bloom_cols), ("bitmap", bitmap_cols)):
        for name in cols:
            try:
                f = schema.field_by_name(name)
            except KeyError:
                raise ValueError(f"file-index column {name!r} does not exist") from None
            if name in schema.partition_keys:
                # partition values never sit inside data files; partition
                # pruning already answers these exactly
                raise ValueError(
                    f"file-index on partition column {name!r} is redundant "
                    "(partition pruning already skips by its value)"
                )
            if schema.primary_key and name not in schema.primary_key:
                # merged-read rule (same as min/max stats): a value column's
                # per-file content says nothing about the MERGED row, so an
                # index there could never be consulted — refuse loudly
                raise ValueError(
                    f"file-index on non-key column {name!r} of a primary-key "
                    "table would never be used (only key/partition predicates "
                    "can skip files pre-merge)"
                )
            if not _supported_ddl(f.type):
                raise ValueError(
                    f"file-index on column {name!r} of type {f.type!r} is not "
                    "supported (string/char/varchar, integers, date, boolean)"
                )
            out.append(
                IndexSpec(
                    fid=f.id,
                    column=f.name,
                    ddl=f.type,
                    kind=kind,
                    m_bits=m if kind == "bloom" else 0,
                    k=k if kind == "bloom" else 0,
                    max_distinct=max_distinct if kind == "bitmap" else 0,
                )
            )
    return out


# ------------------------------------------------------------- canonical form
def canon_bytes(v, ddl: str) -> bytes | None:
    """Hash input for one value — IDENTICAL on the build side (Python values
    decoded from parquet by pyarrow) and the probe side (predicate literals).

    Returns None for "this value cannot exist in the column" (e.g. a
    fractional literal probing an integer column) — the probe then treats the
    value as absent from every file, which is exact. Raises on values it
    cannot canonicalize at BUILD time (callers mark the field unusable)."""
    import datetime as _dt

    d = ddl.lower()
    if d == "string" or d.startswith("varchar") or d.startswith("char"):
        # char(n) storage is the rtrimmed canonical form and char predicate
        # domains are normalized before pruning (normalize_char_domains), so
        # plain utf-8 agrees on both sides
        return b"s:" + str(v).encode("utf-8")
    if d in _INT_DDL:
        if isinstance(v, bool):
            raise ValueError("boolean value in integer column")
        if isinstance(v, float):
            if not v.is_integer():
                return None
            v = int(v)
        if not isinstance(v, int):
            s = str(v)
            try:
                v = int(s)
            except ValueError:
                f = float(s)
                if not f.is_integer():
                    return None
                v = int(f)
        return b"i:%d" % v
    if d == "boolean":
        if isinstance(v, str):
            # Spark's string→boolean cast set; anything else casts to NULL,
            # which never satisfies an equality — None = "provably absent",
            # exactly right. Mapping unknown strings to False instead would
            # be a FALSE NEGATIVE for 't'/'1'-style probes (files holding
            # true rows would be dropped).
            s = v.strip().lower()
            if s in ("true", "t", "yes", "y", "1"):
                v = True
            elif s in ("false", "f", "no", "n", "0"):
                v = False
            else:
                return None
        return b"b:1" if v else b"b:0"
    if d == "date":
        if isinstance(v, _dt.datetime):
            v = v.date()
        if isinstance(v, _dt.date):
            return b"d:" + v.isoformat().encode()
        # numpy datetime64 / pandas Timestamp / iso string
        s = str(v)
        try:
            return b"d:" + _dt.date.fromisoformat(s[:10]).isoformat().encode()
        except ValueError as ex:
            raise ValueError(f"not a date: {v!r}") from ex
    raise ValueError(f"unsupported file-index type {ddl!r}")


def _bit_positions(canon: bytes, m: int, k: int) -> list[int]:
    """k bloom positions via double hashing over one stable md5 (the index is
    durable on disk — positions must never depend on process/library
    versions, or a probe would silently drop files that hold the value)."""
    dig = hashlib.md5(canon).digest()
    h1 = int.from_bytes(dig[:8], "big")
    h2 = int.from_bytes(dig[8:], "big") | 1  # odd → full-period stride
    return [(h1 + i * h2) % m for i in range(k)]


def _value_hash(canon: bytes) -> str:
    """64-bit value hash for the bitmap kind (16 hex chars)."""
    return hashlib.md5(canon).hexdigest()[:16]


def sidecar_path(data_path: str) -> str:
    return data_path + SUFFIX


# -------------------------------------------------------------------- build
def build_file_indexes(
    spark,
    paths: list[str],
    schema: TableSchema,
    read_names: dict[str, dict[int, str]] | None = None,
) -> int:
    """Write the sidecar of every data file in ``paths``; returns the number
    of sidecars written. Parquet tables only (ORC/AVRO tables simply never
    prune by index — same graceful degradation as min/max stats).

    One Spark job of one stage, one task per file: the task reads its file's
    indexed columns batch by batch and writes the sidecar itself, so nothing
    is shuffled and the driver receives one count per file. ``read_names``
    maps a data path to {field id: PHYSICAL column name} for files written
    under an older schema (renames); paths it does not list were just
    written under the current names.
    """
    specs = index_specs(schema)
    if not specs or not paths:
        return 0
    if schema.options.get("file_format", "parquet").strip().lower() != "parquet":
        return 0
    names = read_names or {}
    tasks = [(p, {s.fid: names.get(p, {}).get(s.fid, s.column) for s in specs}) for p in paths]
    return spark.sparkContext.parallelize(tasks, len(tasks)).map(
        lambda t: _write_sidecar(specs, *t)
    ).sum()


def _write_sidecar(specs: list[IndexSpec], path: str, names: dict[int, str]) -> int:
    """Index one data file (``names``: field id → physical column); returns
    1 once its sidecar is written, 0 for a file with no rows (no sidecar)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    blooms = {s.fid: bytearray(s.m_bits // 8) for s in specs if s.kind == "bloom"}
    hashes: dict[int, set[str]] = {s.fid: set() for s in specs if s.kind == "bitmap"}
    bad: set[int] = set()
    with pq.ParquetFile(path) as pf:
        if pf.metadata.num_rows == 0:
            return 0
        for batch in pf.iter_batches(columns=sorted(set(names.values()))):
            for s in specs:
                if s.fid in bad:
                    continue
                try:
                    # distinct-first: hashing costs per unique value per batch
                    for v in pc.unique(batch.column(names[s.fid]).drop_null()).to_pylist():
                        c = canon_bytes(v, s.ddl)
                        if c is None:
                            raise ValueError(f"uncanonical value {v!r}")
                        if s.kind == "bloom":
                            bits = blooms[s.fid]
                            for pos in _bit_positions(c, s.m_bits, s.k):
                                bits[pos >> 3] |= 1 << (pos & 7)
                        else:
                            hashes[s.fid].add(_value_hash(c))
                            if len(hashes[s.fid]) > s.max_distinct:
                                raise ValueError("distinct overflow")
                except (ValueError, TypeError, ArithmeticError):
                    bad.add(s.fid)  # unusable field for this file: probes keep it
    fields: dict[str, dict] = {}
    for s in specs:
        if s.fid in bad:
            fields[str(s.fid)] = {"kind": s.kind, "bad": True}
        elif s.kind == "bloom":
            # the bitset is m fixed bits regardless of the file's actual
            # cardinality; a small file's mostly-zero set deflates to a few
            # KB, so sidecars never dwarf their data files
            fields[str(s.fid)] = {
                "kind": "bloom",
                "m": s.m_bits,
                "k": s.k,
                "enc": "zlib",
                "bits": base64.b64encode(zlib.compress(bytes(blooms[s.fid]), 6)).decode("ascii"),
            }
        else:
            fields[str(s.fid)] = {"kind": "bitmap", "hashes": sorted(hashes[s.fid])}
    tmp = sidecar_path(path) + f".tmp-{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump({"version": 1, "fields": fields}, fh)
    os.replace(tmp, sidecar_path(path))
    return 1


# -------------------------------------------------------------------- probe
def _equality_values(d: ColumnDomain) -> list | None:
    """The probe-able equality value set of one domain, or None.

    Only CONJUNCTS that are pure value sets qualify (op '=', IN, or all-point
    ranges); any such conjunct failing for every value proves the whole
    conjunction can't match. ``null_allowed`` domains are never probe-able —
    a null row satisfies them and nulls are not indexed."""
    if d.null_allowed or d.is_null is True:
        return None
    if d.op == "=":
        return [d.value]
    if d.op is None and d.in_values is not None:
        return list(d.in_values)
    if d.op is None and d.in_values is None and d.ranges:
        pts = []
        for r in d.ranges:
            if (
                r.low is None
                or r.high is None
                or r.low != r.high
                or not (r.low_inclusive and r.high_inclusive)
            ):
                return None
            pts.append(r.low)
        return pts
    return None


def probe_domains(schema: TableSchema, domains: list[ColumnDomain]) -> list[tuple[int, str, list]]:
    """(field_id, ddl, values) for every domain the file index can answer."""
    specs = {s.fid for s in index_specs(schema)}
    if not specs:
        return []
    pk = set(schema.primary_key)
    out = []
    for d in domains:
        try:
            f = schema.field_by_name(d.column)
        except KeyError:
            continue
        if f.id not in specs:
            continue
        if pk and f.name not in pk:
            continue  # PK table: value columns judged only after merge
        vals = _equality_values(d)
        if vals is not None:
            out.append((f.id, f.type, vals))
    return out


def _possibly_contains(doc: dict, fid: int, ddl: str, values: list) -> bool:
    """May ANY of ``values`` exist in the file, per its sidecar? Unknown → True.

    The outer try enforces the contract structurally: a sidecar that parses
    as JSON but is malformed (missing keys, m=0, truncated base64, a future
    format revision) must KEEP the file — an optimization-layer artifact may
    never turn into a read failure."""
    try:
        entry = (doc.get("fields") or {}).get(str(fid))
        if entry is None or entry.get("bad"):
            return True
        if entry["kind"] == "bloom":
            m, k = int(entry["m"]), int(entry["k"])
            raw = base64.b64decode(entry["bits"])
            bits = zlib.decompress(raw) if entry.get("enc") == "zlib" else raw
            if m <= 0 or k <= 0 or len(bits) * 8 != m:
                return True  # corrupt → keep
            for v in values:
                try:
                    c = canon_bytes(v, ddl)
                except (ValueError, TypeError, ArithmeticError):
                    return True  # un-probe-able literal → keep
                if c is None:
                    continue  # value cannot exist in this column type
                if all(bits[p >> 3] & (1 << (p & 7)) for p in _bit_positions(c, m, k)):
                    return True
            return False
        if entry["kind"] == "bitmap":
            hs = set(entry.get("hashes") or [])
            for v in values:
                try:
                    c = canon_bytes(v, ddl)
                except (ValueError, TypeError, ArithmeticError):
                    return True
                if c is None:
                    continue
                if _value_hash(c) in hs:
                    return True
            return False
        return True  # unknown kind (future format) → keep
    except Exception:
        return True  # structurally malformed entry → keep


def _load_sidecar(path: str) -> dict | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return _load_sidecar_cached(path, st.st_size, int(st.st_mtime_ns))


@functools.lru_cache(maxsize=512)  # r12: must cover DRIVER_PROBE_MAX files
def _load_sidecar_cached(path: str, size: int, mtime_ns: int) -> dict | None:
    # (size, mtime) key the cache: sidecars are written once via atomic
    # rename, so a hit is always current; a rewritten path (recreated table
    # dir) changes the stat and misses
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def prune_files_by_index(
    spark,
    tdir: str,
    files: list[dict],
    domains: list[ColumnDomain],
    schema: TableSchema,
) -> list[dict]:
    """Manifest entries whose sidecars cannot rule out the domains.

    Missing / unreadable / format-unknown sidecars keep their file (index
    pruning is an optimization, never a correctness dial — same contract as
    ``scan.prune_files``; the residual filter still runs)."""
    probes = probe_domains(schema, domains)
    if not probes or not files:
        return files

    if len(files) <= DRIVER_PROBE_MAX:
        out = []
        for e in files:
            doc = _load_sidecar(sidecar_path(os.path.join(tdir, e["path"])))
            if doc is None or all(_possibly_contains(doc, fid, ddl, vs) for fid, ddl, vs in probes):
                out.append(e)
        return out

    # Large candidate set: fan the sidecar reads out. One row per file in,
    # surviving indices out — the probe job moves O(files) strings, zero data.
    paths = [(i, sidecar_path(os.path.join(tdir, e["path"]))) for i, e in enumerate(files)]

    def _probe(batches):
        import pandas as pd

        for pdf in batches:
            keep = []
            for i, p in zip(pdf["i"], pdf["p"]):
                doc = None
                try:
                    with open(p) as fh:
                        doc = json.load(fh)
                except (OSError, ValueError):
                    pass
                if doc is None or all(
                    _possibly_contains(doc, fid, ddl, vs) for fid, ddl, vs in probes
                ):
                    keep.append(int(i))
            yield pd.DataFrame({"i": keep})

    kept_df = spark.createDataFrame(paths, "i int, p string").repartition(32).mapInPandas(
        _probe, schema="i int"
    )
    kept = {r.i for r in kept_df.collect()}
    return [e for i, e in enumerate(files) if i in kept]
