"""Manifest-level scan planning: per-file column statistics and file skipping.

The reference delegates this to Paimon — ``readBuilder.newScan().plan()``
consults manifest-entry min/max stats and drops files the pushed predicate
cannot match BEFORE any reader opens them (the connector wires the predicate
in at ``common/TrinoSplitManagerBase.java:44-48``; Paimon does the skipping).
Spark's parquet source only skips row groups after opening each footer, so at
100 TB the manifest skip is the difference between planning over (tiny) JSON
metadata and issuing an open() per data file. This module is that layer:

- ``collect_file_stats`` runs at commit time, once per written file, reading
  only the parquet footer (no data pages): record count, byte size, and
  per-column min/max/null-count keyed by **field id** — so schema evolution
  (renames) never invalidates stats, mirroring the schema model (A18).
- ``prune_files`` runs at read time against a ``ColumnDomain`` conjunction
  (the same declarative model ``functions/predicates.py`` compiles to Spark
  filters — converter parity, A5) and returns the surviving manifest entries.

Safety rules (files are only DROPPED when the predicate provably matches no
row — every unknown keeps the file):

- stats missing (ORC files, pre-stats manifests, nested/binary columns,
  strings ≥ 64 chars — parquet writers may truncate long string min/max, so
  we refuse to trust them) → keep.
- **primary-key tables prune only on primary-key / partition-key columns**:
  a value-column predicate must see the merged row, not per-file versions —
  a file whose stats fail the predicate may still hold the winning version
  of a key whose older version passes. PK/partition predicates are safe:
  every version of a key carries the same key value. The residual filter is
  re-applied post-merge, exactly like the reference's ``executeFilter()``
  (``common/TrinoPageSourceProvider.java:85-94``).
- partition columns never appear inside data files (hive layout); their
  exact per-file value is parsed from the ``key=value`` path segments.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import urllib.parse
from decimal import Decimal
from typing import Callable

from incubator_paimon_trino_spark.catalog.metadata import TableSchema
from incubator_paimon_trino_spark.functions.predicates import ColumnDomain

#: string min/max at or beyond this length are discarded (truncation guard)
_MAX_STR_STAT = 64

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


# ---------------------------------------------------------------- normalize
def _norm(v, ddl: str):
    """Normalize a stat/literal value to a JSON-safe, order-preserving form.

    The SAME function runs at write time (pyarrow footer values) and at prune
    time (user literals), so comparisons are apples-to-apples. Returns None
    for "no usable stat" (unknown → file kept).
    """
    if v is None:
        return None
    d = ddl.lower()
    if d in ("tinyint", "smallint", "int", "integer", "bigint", "long", "short", "byte"):
        # a FRACTIONAL literal against an integer column must keep its
        # fractional part (int(10.5) == 10 would flip `x < 10.5` into
        # `x < 10` and wrongly prune a file whose stats are [10, 10]) —
        # but integral inputs must stay EXACT ints: round-tripping through
        # float collapses bigints beyond 2^53 (9007199254740993 → ...92.0)
        # and silently prunes files on strict comparisons. Python compares
        # int-vs-float exactly, so mixed normalized forms stay correct.
        if isinstance(v, float):
            return int(v) if v.is_integer() else v
        if isinstance(v, int):
            return v
        s = str(v)
        try:
            return int(s)
        except ValueError:
            f = float(s)  # fractional or scientific-notation literal
            return int(f) if f.is_integer() else f
    if d in ("float", "double", "real"):
        return float(v)
    if d.startswith("decimal"):
        Decimal(str(v))  # malformed literal → ValueError/InvalidOperation → keep
        return str(v)  # exact; compared via Decimal
    if d == "date":
        if isinstance(v, _dt.datetime):
            return v.date().isoformat()
        if hasattr(v, "isoformat"):
            return v.isoformat()
        # string literal: canonicalize — a datetime-shaped literal on a date
        # column compares as its date part (as Spark's cast would)
        try:
            return _dt.date.fromisoformat(str(v)).isoformat()
        except ValueError:
            return _dt.datetime.fromisoformat(str(v)).date().isoformat()
    if d.startswith("timestamp"):
        if not isinstance(v, _dt.datetime):
            # string literal: parse, so '2024-01-01 00:00:00' compares equal
            # to the canonical '...00:00:00.000000' stat instead of
            # lexicographically below it (which wrongly pruned the file)
            v = _dt.datetime.fromisoformat(str(v))
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        # fixed-width micros → lexicographic order == time order
        return v.isoformat(sep=" ", timespec="microseconds")
    if d == "string" or d.startswith("varchar") or d.startswith("char"):
        s = v.decode("utf-8", "replace") if isinstance(v, (bytes, bytearray)) else str(v)
        return None if len(s) >= _MAX_STR_STAT else s
    if d == "boolean":
        if isinstance(v, str):  # partition-path value or user literal
            # Spark's string→boolean cast set; anything else casts to NULL
            # (None = no usable value → file kept). Mapping unknown strings
            # to False would wrongly prune all-True files on a 't'/'1'-style
            # literal the residual filter then matches.
            s = v.strip().lower()
            if s in ("true", "t", "yes", "y", "1"):
                return True
            if s in ("false", "f", "no", "n", "0"):
                return False
            return None
        return bool(v)
    return None  # binary / array / map / struct: no stats


def _key(v, ddl: str):
    """Comparison key for a normalized value (decimals compare numerically)."""
    if v is not None and ddl.lower().startswith("decimal"):
        return Decimal(v)
    return v


# ------------------------------------------------------------ stats collect
def _stat_bounds(st, ddl: str) -> tuple:
    """Normalized (min, max) of one column chunk's footer statistics."""
    if ddl.lower().startswith("decimal") and st.physical_type in ("INT32", "INT64"):
        # pyarrow cannot decode an integer-backed decimal's min/max (Spark
        # writes precision <= 18 so); the raw unscaled ints carry the scale
        scale = json.loads(st.logical_type.to_json())["scale"]
        return tuple(_norm(Decimal(v).scaleb(-scale), ddl) for v in (st.min_raw, st.max_raw))
    return _norm(st.min, ddl), _norm(st.max, ddl)


def collect_file_stats(
    path: str, fmt: str, schema: TableSchema, record_count: int | None = None
) -> dict:
    """Footer-only stats for one written data file.

    Returns ``{"record_count", "size_bytes", "stats": {field_id: {"min",
    "max", "nulls"}}}``. ORC files get counts only (pyarrow exposes no ORC
    column stats) — pruning then simply never drops them. Avro has no local
    footer reader at all: the caller passes ``record_count`` it computed.
    """
    size = os.path.getsize(path)
    if fmt == "avro":
        return {"record_count": record_count or 0, "size_bytes": size, "stats": {}}
    if fmt != "parquet":
        import pyarrow.orc as orc

        return {"record_count": orc.ORCFile(path).nrows, "size_bytes": size, "stats": {}}

    import pyarrow as pa
    import pyarrow.parquet as pq

    meta = pq.ParquetFile(path).metadata
    by_name = {f.name: f for f in schema.fields}
    agg: dict[int, dict] = {}
    broken: set[int] = set()
    # _row_kind footer stats ('I' < n/a < 'D' is not the order — 'D' < 'I'
    # lexicographically, so min == 'I' proves the file holds NO -D rows):
    # recorded as the manifest entry's `all_inserts` flag, which lets
    # merge-on-read take retraction-free fast paths (sequence groups via one
    # max_by instead of ordered replay) when EVERY live file is all-inserts.
    # Compaction rewrites files as 'I', so a table returns to the fast path
    # after compaction even if its history carried deletes.
    rk_min = rk_max = None
    rk_broken = False
    for rg in range(meta.num_row_groups):
        group = meta.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            if col.path_in_schema == "_row_kind" and not rk_broken:
                st = col.statistics
                if st is None or not st.has_min_max:
                    rk_broken = True
                else:
                    lo = st.min.decode() if isinstance(st.min, bytes) else str(st.min)
                    hi = st.max.decode() if isinstance(st.max, bytes) else str(st.max)
                    rk_min = lo if rk_min is None else min(rk_min, lo)
                    rk_max = hi if rk_max is None else max(rk_max, hi)
                continue
            f = by_name.get(col.path_in_schema)  # top-level names only
            if f is None or f.id in broken:
                continue
            st = col.statistics
            if st is None:
                broken.add(f.id)
                agg.pop(f.id, None)
                continue
            nulls = st.null_count if st.has_null_count else None
            if st.has_min_max:
                try:
                    lo, hi = _stat_bounds(st, f.type)
                except (TypeError, ValueError, ArithmeticError, pa.ArrowException):
                    lo = hi = None
                if lo is None or hi is None:  # values exist but stat unusable
                    broken.add(f.id)
                    agg.pop(f.id, None)
                    continue
            elif nulls is not None and nulls == group.num_rows:
                lo = hi = None  # provably all-null group: no values, nulls count
            else:
                broken.add(f.id)
                agg.pop(f.id, None)
                continue
            cur = agg.get(f.id)
            if cur is None:
                agg[f.id] = {"min": lo, "max": hi, "nulls": nulls}
            else:
                k = lambda v: _key(v, f.type)  # noqa: E731
                if cur["min"] is None:  # prior groups all-null
                    cur["min"], cur["max"] = lo, hi
                elif lo is not None:
                    if k(lo) < k(cur["min"]):
                        cur["min"] = lo
                    if k(hi) > k(cur["max"]):
                        cur["max"] = hi
                cur["nulls"] = (
                    None if (nulls is None or cur["nulls"] is None) else cur["nulls"] + nulls
                )
    out = {
        "record_count": meta.num_rows,
        "size_bytes": size,
        "stats": {str(fid): s for fid, s in agg.items()},
    }
    if meta.num_rows == 0:
        out["all_inserts"] = True  # no rows at all — trivially no -D rows
    elif rk_min is not None and not rk_broken:
        # the column only ever holds 'I'/'D'; min == max == 'I' proves
        # all-inserts. Key absent = unknown (ORC/avro/legacy manifests) —
        # readers then conservatively assume retractions may exist.
        out["all_inserts"] = rk_min == "I" and rk_max == "I"
    return out


# -------------------------------------------------------- partition parsing
def partition_values(rel_path: str) -> dict[str, str | None]:
    """``key=value`` hive path segments → {column: raw string or None}."""
    out: dict[str, str | None] = {}
    for seg in rel_path.replace("\\", "/").split("/")[:-1]:
        if "=" in seg:
            k, _, v = seg.partition("=")
            out[k] = None if v == _HIVE_NULL else urllib.parse.unquote(v)
    return out


# ----------------------------------------------------------------- pruning
def _value_parts_possible(d: ColumnDomain, lo, hi, ddl: str) -> bool:
    """Can any value in [lo, hi] satisfy the domain's value constraints?"""
    if lo is None or hi is None:
        return True
    lo, hi = _key(lo, ddl), _key(hi, ddl)

    def norm_lit(x):
        try:
            return _key(_norm(x, ddl), ddl)
        except (TypeError, ValueError, ArithmeticError):
            return None

    ok = True
    if d.op is not None:
        v = norm_lit(d.value)
        if v is not None:
            ok &= {
                "=": lo <= v <= hi,
                "<": lo < v,
                "<=": lo <= v,
                ">": hi > v,
                ">=": hi >= v,
                "<>": not (lo == hi == v),
            }[d.op]
    if ok and d.in_values is not None:
        vs = [norm_lit(x) for x in d.in_values]
        if all(v is not None for v in vs):
            ok &= any(lo <= v <= hi for v in vs)
    if ok and d.ranges:

        def overlaps(r) -> bool:
            rl = norm_lit(r.low) if r.low is not None else None
            rh = norm_lit(r.high) if r.high is not None else None
            if r.low is not None and rl is None:
                return True  # un-normalizable bound → unknown → keep
            if r.high is not None and rh is None:
                return True
            if rl is not None and (hi < rl or (hi == rl and not r.low_inclusive)):
                return False
            if rh is not None and (lo > rh or (lo == rh and not r.high_inclusive)):
                return False
            return True

        ok &= any(overlaps(r) for r in d.ranges)
    return ok


def _domain_possible(d: ColumnDomain, lo, hi, nulls, total, ddl: str) -> bool:
    has_value_parts = d.op is not None or d.in_values is not None or bool(d.ranges)
    possible = True
    if has_value_parts:
        possible = _value_parts_possible(d, lo, hi, ddl)
        # an all-null column satisfies no value comparison
        if nulls is not None and total is not None and nulls >= total:
            possible = False
    if d.is_null is True:
        possible &= nulls is None or nulls > 0
    elif d.is_null is False:
        if nulls is not None and total is not None and nulls >= total:
            possible = False
    if d.null_allowed:
        possible = possible or nulls is None or nulls > 0
    return possible


def prune_files(
    files: list[dict],
    domains: list[ColumnDomain],
    current_schema: TableSchema,
    schema_loader: Callable[[int], TableSchema],
) -> list[dict]:
    """Manifest entries the domain conjunction can possibly match.

    ``schema_loader`` resolves a file's writing schema (for partition-path
    column names under renames). Every unknown keeps the file — pruning is an
    optimization, never a correctness dial; the residual filter still runs.
    """
    pk = set(current_schema.primary_key)
    parts = set(current_schema.partition_keys)
    usable: list[tuple[ColumnDomain, int, str, bool]] = []
    for d in domains:
        try:
            f = current_schema.field_by_name(d.column)
        except KeyError:
            continue
        if pk and f.name not in pk and f.name not in parts:
            continue  # PK table: value columns judged only after merge
        usable.append((d, f.id, f.type, f.name in parts))
    if not usable:
        return files

    schema_cache: dict[int, TableSchema] = {}
    out = []
    for entry in files:
        total = entry.get("record_count")
        stats = entry.get("stats") or {}
        keep = True
        for d, fid, ddl, is_part in usable:
            if is_part:
                sid = entry["schema_id"]
                ws = schema_cache.setdefault(sid, schema_loader(sid))
                old_name = next((f.name for f in ws.fields if f.id == fid), None)
                pv = partition_values(entry["path"])
                if old_name is None or old_name not in pv:
                    continue  # unknown → keep
                raw = pv[old_name]
                if raw is None:  # hive null partition
                    lo = hi = None
                    nulls = total
                else:
                    try:
                        lo = hi = _norm(raw, ddl)
                    except (TypeError, ValueError, ArithmeticError):
                        lo = hi = None
                    nulls = 0
                if raw is not None and lo is None:
                    continue
            else:
                s = stats.get(str(fid))
                if s is None:
                    continue  # no stats → keep
                lo, hi, nulls = s.get("min"), s.get("max"), s.get("nulls")
            if not _domain_possible(d, lo, hi, nulls, total, ddl):
                keep = False
                break
        if keep:
            out.append(entry)
    return out
