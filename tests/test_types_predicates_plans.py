"""Unit tests mirroring the reference's type-mapping and filter-converter
suites (``common-test/TestTrinoType.java``, ``TestTrinoFilterConverter.java``),
plus physical-plan pushdown assertions."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from incubator_paimon_trino_spark.functions.predicates import (
    ColumnDomain,
    Range,
    apply_tuple_domain,
)
from incubator_paimon_trino_spark.functions.types import paimon_to_spark, spark_to_paimon
from incubator_paimon_trino_spark.plans.explain import (
    count_shuffles,
    partition_filters,
    pushed_filters,
    read_schema_columns,
    uses_broadcast_join,
)
from tests.conftest import SF_SMOKE


# ---- type mapping (TestTrinoType.java:57-218 analogue) ---------------------

CASES = [
    ("BOOLEAN", T.BooleanType()),
    ("TINYINT", T.ByteType()),
    ("SMALLINT", T.ShortType()),
    ("INT", T.IntegerType()),
    ("BIGINT", T.LongType()),
    ("FLOAT", T.FloatType()),
    ("DOUBLE", T.DoubleType()),
    ("DECIMAL(10, 2)", T.DecimalType(10, 2)),
    ("DECIMAL(38, 0)", T.DecimalType(38, 0)),
    ("CHAR(1)", T.StringType()),
    ("VARCHAR(10)", T.StringType()),
    ("STRING", T.StringType()),
    ("BYTES", T.BinaryType()),
    ("DATE", T.DateType()),
    ("TIME(3)", T.TimeType(3)),
    ("TIMESTAMP(3)", T.TimestampNTZType()),
    ("TIMESTAMP(6)", T.TimestampNTZType()),
    ("TIMESTAMP(3) WITH LOCAL TIME ZONE", T.TimestampType()),
    ("ARRAY<INT>", T.ArrayType(T.IntegerType())),
    ("MAP<STRING, BIGINT>", T.MapType(T.StringType(), T.LongType())),
    ("MULTISET<STRING>", T.MapType(T.StringType(), T.IntegerType(), False)),
    (
        "ROW<innercol1 INT, innercol2 STRING>",
        T.StructType(
            [T.StructField("innercol1", T.IntegerType()), T.StructField("innercol2", T.StringType())]
        ),
    ),
    (
        "ARRAY<MAP<STRING, ROW<a INT, b ARRAY<DOUBLE>>>>",
        T.ArrayType(
            T.MapType(
                T.StringType(),
                T.StructType(
                    [
                        T.StructField("a", T.IntegerType()),
                        T.StructField("b", T.ArrayType(T.DoubleType())),
                    ]
                ),
            )
        ),
    ),
]


@pytest.mark.parametrize("paimon,spark_type", CASES)
def test_paimon_to_spark(paimon, spark_type):
    assert paimon_to_spark(paimon) == spark_type


def test_roundtrip_goldens():
    assert spark_to_paimon(T.DecimalType(10, 2)) == "DECIMAL(10, 2)"
    assert spark_to_paimon(T.TimestampNTZType()) == "TIMESTAMP(6)"
    assert spark_to_paimon(T.TimestampType()) == "TIMESTAMP(6) WITH LOCAL TIME ZONE"
    assert (
        spark_to_paimon(paimon_to_spark("ARRAY<MAP<STRING, BIGINT>>")) == "ARRAY<MAP<STRING, BIGINT>>"
    )
    assert spark_to_paimon(paimon_to_spark("ROW<a INT, b STRING>")) == "ROW<a INT, b STRING>"


def test_decimal_over_38_rejected():
    with pytest.raises(ValueError):
        paimon_to_spark("DECIMAL(39, 0)")


# ---- TIMESTAMP(p) declared-precision ladder (TrinoTypeUtils.java:153-157;
# value rows mirror TestTrinoITCase.java:504-508) -----------------------


def test_timestamp_precision_metadata():
    from incubator_paimon_trino_spark.catalog.metadata import _parse_type
    from incubator_paimon_trino_spark.functions.types import (
        castable_ddl,
        timestamp_precision,
    )

    assert timestamp_precision("timestamp(0)") == 0
    assert timestamp_precision("TIMESTAMP(3)") == 3
    assert timestamp_precision("timestamp_ntz(3)") == 3
    assert timestamp_precision("timestamp(6)") == 6
    assert timestamp_precision("timestamp") is None  # undeclared = micros
    assert timestamp_precision("timestamp_ntz") is None
    assert timestamp_precision("TIMESTAMP(3) WITH LOCAL TIME ZONE") is None
    assert castable_ddl("timestamp(3)") == "timestamp_ntz"
    assert castable_ddl("timestamp") == "timestamp"
    assert castable_ddl("char(5)") == "char(5)"
    # DDL gate: the ladder is {0, 3, 6}, storage is NTZ micros
    assert _parse_type("timestamp(3)") == T.TimestampNTZType()
    with pytest.raises(ValueError, match="ladder"):
        _parse_type("timestamp(2)")


def test_timestamp_precision_truncates_on_table(spark, tmp_path):
    """A TIMESTAMP(0/3) column never surfaces sub-precision digits: values
    are canonicalized at write time (the CHAR-rtrim move), so reads, the
    evolution read path, and footer-stat extremes all agree."""
    import datetime as dt

    from incubator_paimon_trino_spark.catalog.warehouse import WarehouseCatalog

    cat = WarehouseCatalog(str(tmp_path / "wh"), spark)
    cat.create_database("d")
    cat.create_table(
        "d", "t",
        [("k", "bigint"), ("ts0", "timestamp(0)"), ("ts3", "timestamp(3)"),
         ("ts6", "timestamp(6)")],
    )
    v = dt.datetime(2024, 1, 2, 3, 4, 5, 123456)
    cat.insert_into(
        "d", "t",
        spark.createDataFrame(
            [(1, v, v, v)],
            "k bigint, ts0 timestamp_ntz, ts3 timestamp_ntz, ts6 timestamp_ntz",
        ),
    )
    row = cat.read_table("d.t").collect()[0]
    assert row.ts0 == dt.datetime(2024, 1, 2, 3, 4, 5)
    assert row.ts3 == dt.datetime(2024, 1, 2, 3, 4, 5, 123000)
    assert row.ts6 == v
    # declared types survive in DESCRIBE / information_schema metadata
    assert dict(cat.describe("d", "t"))["ts3"] == "timestamp(3)"
    # footer-stat extremes see the canonical (truncated) values
    ext = cat.column_extremes("d.t", ["ts3"]).collect()[0]
    assert ext.min_ts3 == dt.datetime(2024, 1, 2, 3, 4, 5, 123000)
    # predicates compare against the canonical value
    assert (
        cat.read_table("d.t")
        .filter(F.col("ts3") == dt.datetime(2024, 1, 2, 3, 4, 5, 123000))
        .count()
        == 1
    )


# ---- predicate conversion (TestTrinoFilterConverter.java:53-256 analogue) --


def _df(spark):
    return spark.createDataFrame(
        [(1, 10.0, "x", None), (2, 20.0, "y", "v"), (3, None, "z", "w"), (4, 40.0, None, "u")],
        "id int, val double, name string, opt string",
    )


def test_domain_ops(spark):
    df = _df(spark)
    assert apply_tuple_domain(df, [ColumnDomain("id", op="=", value=2)]).count() == 1
    assert apply_tuple_domain(df, [ColumnDomain("id", op="<", value=3)]).count() == 2
    assert apply_tuple_domain(df, [ColumnDomain("id", op=">=", value=3)]).count() == 2
    assert apply_tuple_domain(df, [ColumnDomain("id", in_values=[1, 4])]).count() == 2
    assert apply_tuple_domain(df, [ColumnDomain("val", is_null=True)]).count() == 1
    assert apply_tuple_domain(df, [ColumnDomain("val", is_null=False)]).count() == 3


def test_domain_ranges_and_or(spark):
    df = _df(spark)
    # closed/open bounds (BETWEEN family)
    r = ColumnDomain("id", ranges=[Range(low=2, high=3)])
    assert apply_tuple_domain(df, [r]).count() == 2
    r2 = ColumnDomain("id", ranges=[Range(low=2, high=3, low_inclusive=False)])
    assert apply_tuple_domain(df, [r2]).count() == 1
    # OR of disjoint ranges
    r3 = ColumnDomain("id", ranges=[Range(high=1), Range(low=4)])
    assert apply_tuple_domain(df, [r3]).count() == 2
    # null-allowed OR (converter :120-124)
    r4 = ColumnDomain("val", ranges=[Range(low=15.0)], null_allowed=True)
    assert apply_tuple_domain(df, [r4]).count() == 3


def test_domain_conjunction(spark):
    df = _df(spark)
    got = apply_tuple_domain(
        df, [ColumnDomain("id", op=">", value=1), ColumnDomain("name", is_null=False)]
    )
    assert got.count() == 2


def test_structural_rejection_strict_mode(spark):
    """Reference A6: domains on ARRAY/MAP/ROW throw (TrinoFilterConverter
    :148-154). Our engine handles them, but strict mode reproduces the guard."""
    df = spark.createDataFrame([([1, 2],)], "arr array<int>")
    with pytest.raises(NotImplementedError):
        apply_tuple_domain(df, [ColumnDomain("arr", is_null=False)], strict_scalar=True)
    assert apply_tuple_domain(df, [ColumnDomain("arr", is_null=False)]).count() == 1


def test_unsupported_op_rejected(spark):
    with pytest.raises(ValueError):
        ColumnDomain("id", op="LIKE", value="x").to_column()


# ---- plan assertions ------------------------------------------------------


def test_filter_and_projection_pushdown(spark):
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    q = li.filter(F.col("l_quantity") > 10).select("l_orderkey", "l_quantity")
    pf = pushed_filters(q)
    assert any("l_quantity" in f and "GreaterThan" in f for f in pf), pf
    assert read_schema_columns(q) == ["l_orderkey", "l_quantity"]


def test_broadcast_join_plan(spark):
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    supp = spark.read.parquet(f"{SF_SMOKE}/supplier.parquet")
    j = li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
    assert uses_broadcast_join(j)
    assert count_shuffles(j) == 0  # dim join must not shuffle the fact side


def test_partition_pruning_in_warehouse_table(spark, tmp_path):
    from incubator_paimon_trino_spark.catalog import WarehouseCatalog

    cat = WarehouseCatalog(str(tmp_path / "wh"), spark)
    cat.create_database("p")
    cat.create_table("p", "t", [("k", "int"), ("pt", "string")], partitioned_by=["pt"])
    cat.insert_into(
        "p", "t", spark.createDataFrame([(1, "a"), (2, "b"), (3, "b")], "k int, pt string")
    )
    q = cat.read_table("p.t").filter(F.col("pt") == "b")
    assert any("pt" in f for f in partition_filters(q))
    assert q.count() == 2


def test_timestamp_precision_truncates_not_rounds(spark, tmp_path):
    """r8 ADVICE, resolved as a DOCUMENTED divergence (SURVEY §1.3): the
    declared-precision ladder coerces sub-precision digits by TRUNCATION
    (Spark's date_trunc / cast semantics, matched by the DuckDB oracle and
    the file stats), where Trino the engine would round half-up. .0015s
    into TIMESTAMP(3) stores as .001 — this golden pins the choice so a
    future 'fix' to rounding fails loudly instead of silently flipping
    every layer out of agreement."""
    import datetime

    from incubator_paimon_trino_spark.catalog.warehouse import WarehouseCatalog

    cat = WarehouseCatalog(str(tmp_path / "wh"), spark)
    cat.create_database("d")
    cat.create_table("d", "tsr", [("k", "int"), ("t3", "timestamp(3)"), ("t0", "timestamp(0)")])
    v = datetime.datetime(2024, 1, 1, 0, 0, 0, 1500)  # .0015s
    h = datetime.datetime(2024, 1, 1, 0, 0, 30, 500000)  # 30.5s
    cat.insert_into(
        "d", "tsr",
        spark.createDataFrame([(1, v, h)], "k int, t3 timestamp_ntz, t0 timestamp_ntz"),
    )
    row = cat.read_table("d.tsr").collect()[0]
    assert row.t3 == datetime.datetime(2024, 1, 1, 0, 0, 0, 1000)  # not .002
    assert row.t0 == datetime.datetime(2024, 1, 1, 0, 0, 30)  # not :31


def test_like_prefix_domain_edges():
    """LIKE-prefix → range compilation: only plain trailing-%% prefixes
    compile; the range is the half-open [prefix, next(prefix)) with max-code-
    point carry; everything else returns None (no safe range exists)."""
    from incubator_paimon_trino_spark.functions.predicates import like_prefix_domain

    d = like_prefix_domain("c", "abc%")
    r = d.ranges[0]
    assert (r.low, r.high, r.low_inclusive, r.high_inclusive) == ("abc", "abd", True, False)
    # U+FFFF has a real successor (U+10000): the bound stays tight
    assert like_prefix_domain("c", "ab￿%").ranges[0].high == "ab\U00010000"
    # true maximum code point carries into the previous character
    assert like_prefix_domain("c", "ab\U0010FFFF%").ranges[0].high == "ac"
    # successor would be a lone surrogate: skip the unencodable block
    assert like_prefix_domain("c", "ab\ud7ff%").ranges[0].high == "ab\ue000"
    # all-maximal prefix: unbounded above
    assert like_prefix_domain("c", "\U0010FFFF%").ranges[0].high is None
    for bad in ("%abc", "a_c%", "a%c", "%", "", "a\\%", "abc"):
        assert like_prefix_domain("c", bad) is None, bad
    # the range is a SUPERSET of the LIKE: every 'abc…' string falls inside
    # [abc, abd); 'abz' falls outside — so pruning can never drop a match
    assert r.low <= "abcz" < r.high
    assert not (r.low <= "abz" < r.high)
