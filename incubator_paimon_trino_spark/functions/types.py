"""Paimon ↔ Spark type mapping — the SURVEY §1.3 table as code.

Mirror of the reference's bidirectional visitor (``common/TrinoTypeUtils.java``:
Paimon→Trino ``:73-199``, Trino→Paimon ``:201-274``), with Spark as the target
type system; unit-tested with display-name goldens like
``common-test/TestTrinoType.java:57-218``.

Documented semantic gaps (SURVEY §1.3 / §7 hard spots):
- CHAR(n)/VARCHAR(n) map to unbounded ``StringType`` — length is metadata
  only (Spark has no CHAR padding; comparisons should rtrim where CHAR
  semantics matter).
- TIME(p) maps to Spark 4's native ``TimeType(p)`` (precision clamped to
  Spark's 0-6; the reference maps to Trino TIME(3) —
  ``TrinoTypeUtils.java:148-151``). Requires
  ``spark.sql.timeType.enabled=true`` (in ``session.ENGINE_CONF``: set by
  ``get_spark`` and at the query boundary); sessions without the flag fail
  loudly at DDL time rather than silently degrading.
- TIMESTAMP(p) precision ladder {0,3,6} (``TrinoTypeUtils.java:153-157``)
  is DECLARED metadata over ``TimestampNTZType`` storage (micros), with
  values canonicalized to the declared precision at write time
  (``timestamp_precision`` below; the r8 closure of the last §1.3
  residual) — a TIMESTAMP(3) column never surfaces micros. TIMESTAMP WITH
  LOCAL TIME ZONE maps to ``TimestampType`` with the session pinned to
  UTC, matching the reference's forced UTC packing
  (``TrinoPageSourceBase.java:216-219``).
  **CHAR(n) is fully faithful since r9** (the last §1.3 delta, retired):
  storage is the rtrimmed canonical form (equality, footer stats, groupBy
  keys, and predicate normalization are pad-insensitive on it), writes
  REJECT values longer than the declared length after trim, and
  ``read_table`` surfaces the n-PADDED form like the reference engine
  (``TrinoTypeUtils.java:77-90``) — hash-gated by
  ``lake_char_padded_read``. Three surfaces deliberately stay in STORAGE
  form, because Spark has no CHAR comparator and a padded frame makes
  ``c = 'ab'`` silently match nothing: system-column views
  (changelog/audit), DML condition evaluation (UPDATE/DELETE/MERGE —
  write literals unpadded), and the SQL facade's table views (``cat.sql``
  comparisons behave like pre-r9; its SELECT output is therefore
  unpadded — the padded surface is the API read).
- MULTISET<T> maps to ``MAP<T, INT>`` (element → multiplicity), same trick
  Trino uses (``TrinoTypeUtils.java:171-173``).
"""

from __future__ import annotations

import re

from pyspark.sql import types as T


def split_top_commas(s: str) -> list[str]:
    """Split a DDL fragment on TOP-LEVEL commas only (depth-tracked through
    ``<>``/``()``), e.g. ``"a:int, b:map<string,int>"`` → two parts. The one
    splitter behind every nested-type parser: Paimon type names here, the
    Arrow and Avro mappings in ``formats/``."""
    out, depth, cur = [], 0, []
    for ch in s:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return out


def paimon_to_spark(type_str: str) -> T.DataType:
    """Parse a Paimon/SQL type string into a Spark DataType."""
    s = type_str.strip()
    up = s.upper()
    if up in ("BOOLEAN",):
        return T.BooleanType()
    if up == "TINYINT":
        return T.ByteType()
    if up == "SMALLINT":
        return T.ShortType()
    if up in ("INT", "INTEGER"):
        return T.IntegerType()
    if up == "BIGINT":
        return T.LongType()
    if up in ("FLOAT", "REAL"):
        return T.FloatType()
    if up == "DOUBLE":
        return T.DoubleType()
    if up == "DATE":
        return T.DateType()
    if up in ("STRING", "VARCHAR", "CHAR"):
        return T.StringType()
    if up in ("BINARY", "VARBINARY", "BYTES"):
        return T.BinaryType()
    m = re.fullmatch(r"DECIMAL\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)", up)
    if m:
        p, sc = int(m.group(1)), int(m.group(2))
        if p > 38:
            raise ValueError(f"decimal precision {p} exceeds 38")
        return T.DecimalType(p, sc)
    m = re.fullmatch(r"(?:CHAR|VARCHAR)\s*\(\s*(\d+)\s*\)", up)
    if m:
        return T.StringType()  # length bound is metadata-only in Spark
    m = re.fullmatch(r"TIME(?:\s*\(\s*(\d+)\s*\))?", up)
    if m:
        # Paimon TIME(0..9) -> Spark TimeType(0..6); sub-micro truncates,
        # mirroring the reference's collapse of all TIME precisions to
        # Trino TIME(3) millis (TrinoTypeUtils.java:148-151).
        p = int(m.group(1)) if m.group(1) else 0
        return T.TimeType(min(p, 6))
    m = re.fullmatch(r"TIMESTAMP\s*(\(\s*\d\s*\))?\s*(?P<ltz>WITH\s+LOCAL\s+TIME\s+ZONE)?", up)
    if m:
        # detect LTZ from the REGEX GROUP, not a single-space substring test:
        # 'WITH  LOCAL TIME ZONE' (any whitespace) must not silently fall
        # back to wall-clock NTZ semantics
        return T.TimestampType() if m.group("ltz") else T.TimestampNTZType()
    m = re.fullmatch(r"ARRAY\s*<(.*)>", s, re.IGNORECASE | re.DOTALL)
    if m:
        return T.ArrayType(paimon_to_spark(m.group(1)))
    m = re.fullmatch(r"MULTISET\s*<(.*)>", s, re.IGNORECASE | re.DOTALL)
    if m:
        return T.MapType(paimon_to_spark(m.group(1)), T.IntegerType(), False)
    m = re.fullmatch(r"MAP\s*<(.*)>", s, re.IGNORECASE | re.DOTALL)
    if m:
        k, v = split_top_commas(m.group(1))
        return T.MapType(paimon_to_spark(k), paimon_to_spark(v))
    m = re.fullmatch(r"ROW\s*[<(](.*)[>)]", s, re.IGNORECASE | re.DOTALL)
    if m:
        fields = []
        for part in filter(str.strip, split_top_commas(m.group(1))):
            name, _, ftype = part.strip().partition(" ")
            fields.append(T.StructField(name, paimon_to_spark(ftype)))
        return T.StructType(fields)
    raise ValueError(f"unsupported Paimon type: {type_str!r}")


def char_length(type_str: str) -> int | None:
    """CHAR(n) declared length, or None for non-CHAR types.

    The reference keeps CHAR as a distinct Trino type
    (``TrinoTypeUtils.java:77-81``); Spark stores it as STRING, so the
    catalog layer uses this to apply CHAR comparison semantics (trailing
    blanks insignificant) at write and predicate time.
    """
    m = re.fullmatch(r"CHAR(?:\s*\(\s*(\d+)\s*\))?", type_str.strip().upper())
    if not m:
        return None
    return int(m.group(1)) if m.group(1) else 1


def timestamp_precision(type_str: str) -> int | None:
    """Declared TIMESTAMP(p) / TIMESTAMP_NTZ(p) precision, or None for
    non-timestamp and undeclared-precision (= micros) types.

    The reference's ladder is {0, 3, 6} (``TrinoTypeUtils.java:153-157``);
    the catalog stores the declared string as field metadata over
    ``TimestampNTZType`` storage and canonicalizes values to the declared
    precision at write time, so reads, footer stats, and predicates all see
    the declared precision — the timestamp analog of ``char_length``'s
    rtrimmed canonical CHAR storage."""
    m = re.fullmatch(
        r"TIMESTAMP(?:_NTZ)?\s*\(\s*(\d)\s*\)", type_str.strip().upper()
    )
    return int(m.group(1)) if m else None


def castable_ddl(type_str: str) -> str:
    """The declared type's Spark-castable form: precision-carrying
    TIMESTAMP(p) declarations cast as their ``timestamp_ntz`` storage type
    (Spark's parser refuses ``cast(x as timestamp(3))``); everything else
    casts as declared (``char(n)``/``varchar(n)`` parse fine in casts)."""
    return "timestamp_ntz" if timestamp_precision(type_str) is not None else type_str


def spark_to_paimon(dt: T.DataType) -> str:
    """Spark DataType → Paimon type display string (TrinoTypeUtils :201-274)."""
    if isinstance(dt, T.BooleanType):
        return "BOOLEAN"
    if isinstance(dt, T.ByteType):
        return "TINYINT"
    if isinstance(dt, T.ShortType):
        return "SMALLINT"
    if isinstance(dt, T.IntegerType):
        return "INT"
    if isinstance(dt, T.LongType):
        return "BIGINT"
    if isinstance(dt, T.FloatType):
        return "FLOAT"
    if isinstance(dt, T.DoubleType):
        return "DOUBLE"
    if isinstance(dt, T.DecimalType):
        return f"DECIMAL({dt.precision}, {dt.scale})"
    if isinstance(dt, T.StringType):
        return "STRING"
    if isinstance(dt, T.BinaryType):
        return "BYTES"
    if isinstance(dt, T.DateType):
        return "DATE"
    if isinstance(dt, T.TimeType):
        return f"TIME({dt.precision})"
    if isinstance(dt, T.TimestampNTZType):
        return "TIMESTAMP(6)"
    if isinstance(dt, T.TimestampType):
        return "TIMESTAMP(6) WITH LOCAL TIME ZONE"
    if isinstance(dt, T.ArrayType):
        return f"ARRAY<{spark_to_paimon(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"MAP<{spark_to_paimon(dt.keyType)}, {spark_to_paimon(dt.valueType)}>"
    if isinstance(dt, T.StructType):
        inner = ", ".join(f"{f.name} {spark_to_paimon(f.dataType)}" for f in dt.fields)
        return f"ROW<{inner}>"
    raise ValueError(f"unsupported Spark type: {dt}")

