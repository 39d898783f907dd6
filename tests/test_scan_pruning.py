"""Manifest-level file skipping (catalog/scan.py) — the ``newScan().plan()``
layer Paimon runs before any reader opens a file (predicate wired at
``common/TrinoSplitManagerBase.java:44-48``).

Invariants under test:
- stats are collected at commit time from parquet footers only, keyed by
  field id (schema-evolution safe);
- pruning NEVER changes results — only the number of files planned;
- PK tables prune only on PK/partition columns (a value-column predicate
  must see the merged row, not per-file versions);
- every unknown (ORC, truncated string stats, unparseable literal) keeps
  the file.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from incubator_paimon_trino_spark.catalog import WarehouseCatalog
from incubator_paimon_trino_spark.functions.predicates import ColumnDomain, Range


@pytest.fixture()
def cat(spark, tmp_path):
    return WarehouseCatalog(str(tmp_path / "wh"), spark)


def _mk_append(cat, spark, *, fmt=None, partitioned=False):
    """3 commits with disjoint k-ranges → ≥3 files with distinct stats."""
    cat.create_database("d", ignore_if_exists=True)
    opts = {"file_format": fmt} if fmt else {}
    cat.create_table(
        "d", "t", [("k", "int"), ("pt", "string"), ("v", "string")],
        partitioned_by=(["pt"] if partitioned else []), options=opts,
    )
    for lo, pt in ((0, "a"), (100, "b"), (200, "c")):
        rows = [(lo + i, pt, f"val{lo + i}") for i in range(10)]
        df = spark.createDataFrame(rows, "k int, pt string, v string").coalesce(1)
        cat.insert_into("d", "t", df)


def test_commit_collects_footer_stats(cat, spark):
    _mk_append(cat, spark)
    files = cat.scan_plan("d.t")
    assert len(files) == 3
    for e in files:
        assert e["record_count"] == 10
        assert e["size_bytes"] > 0
        # k is field id 0, v is field id 2
        assert e["stats"]["0"]["max"] - e["stats"]["0"]["min"] == 9
        assert e["stats"]["0"]["nulls"] == 0
        assert e["stats"]["2"]["min"].startswith("val")


def test_minmax_skip_and_identical_results(cat, spark):
    _mk_append(cat, spark)
    dom = [ColumnDomain("k", op="=", value=105)]
    assert len(cat.scan_plan("d.t", predicate=dom)) == 1
    got = cat.read_table("d.t", predicate=dom).collect()
    assert [tuple(r) for r in got] == [(105, "b", "val105")]
    # range + IN forms
    assert len(cat.scan_plan("d.t", predicate=[ColumnDomain("k", in_values=[5, 205])])) == 2
    r = [ColumnDomain("k", ranges=[Range(low=150, high=220)])]
    assert len(cat.scan_plan("d.t", predicate=r)) == 1
    assert cat.read_table("d.t", predicate=r).count() == 10
    # contradiction → zero files, empty result with intact schema
    none = [ColumnDomain("k", op="<", value=0)]
    assert cat.scan_plan("d.t", predicate=none) == []
    empty = cat.read_table("d.t", predicate=none)
    assert empty.count() == 0 and empty.columns == ["k", "pt", "v"]


def test_partition_path_pruning_survives_rename(cat, spark):
    _mk_append(cat, spark, partitioned=True)
    dom = [ColumnDomain("pt", op="=", value="b")]
    assert len(cat.scan_plan("d.t", predicate=dom)) == 1
    # rename the partition column: old files keep pt=... paths, but the
    # field id resolves the old name through each file's writing schema
    cat.rename_column("d", "t", "pt", "bucket")
    dom2 = [ColumnDomain("bucket", op="=", value="b")]
    assert len(cat.scan_plan("d.t", predicate=dom2)) == 1
    got = cat.read_table("d.t", predicate=dom2)
    assert got.count() == 10 and got.columns == ["k", "bucket", "v"]


def test_pk_table_never_prunes_on_value_columns(cat, spark):
    cat.create_database("d", ignore_if_exists=True)
    cat.create_table("d", "pk", [("id", "int"), ("v", "int")], primary_key=["id"])
    one = lambda rows: spark.createDataFrame(rows, "id int, v int").coalesce(1)  # noqa: E731
    cat.insert_into("d", "pk", one([(1, 100)]))   # commit 1: v=100
    cat.insert_into("d", "pk", one([(1, 5)]))     # commit 2: upsert v=5
    # merged truth: (1, 5). Pruning on v would drop commit-2's file for
    # v=100 and wrongly resurrect the stale row — so no file may be dropped.
    assert len(cat.scan_plan("d.pk", predicate=[ColumnDomain("v", op="=", value=100)])) == 2
    assert cat.read_table("d.pk", predicate=[ColumnDomain("v", op="=", value=100)]).count() == 0
    got = cat.read_table("d.pk", predicate=[ColumnDomain("v", op="=", value=5)]).collect()
    assert [tuple(r) for r in got] == [(1, 5)]
    # PK-column predicates ARE safe: every version carries the key value
    cat.insert_into("d", "pk", one([(99, 7)]))
    assert len(cat.scan_plan("d.pk", predicate=[ColumnDomain("id", op="=", value=99)])) == 1


def test_orc_and_unknowns_keep_files(cat, spark):
    _mk_append(cat, spark, fmt="ORC")
    files = cat.scan_plan("d.t")
    assert all(e["stats"] == {} and e["record_count"] == 10 for e in files)
    # no stats → nothing prunable, results still correct via residual filter
    dom = [ColumnDomain("k", op="=", value=105)]
    assert len(cat.scan_plan("d.t", predicate=dom)) == 3
    assert cat.read_table("d.t", predicate=dom).count() == 1


def test_long_string_stats_distrusted(cat, spark):
    cat.create_database("d", ignore_if_exists=True)
    cat.create_table("d", "s", [("k", "int"), ("txt", "string")])
    df = spark.createDataFrame([(1, "z" * 200)], "k int, txt string").coalesce(1)
    cat.insert_into("d", "s", df)
    (entry,) = cat.scan_plan("d.s")
    assert "1" not in entry["stats"]  # txt ≥ 64 chars → truncation guard
    assert entry["stats"]["0"]["min"] == 1


def test_null_count_pruning(cat, spark):
    cat.create_database("d", ignore_if_exists=True)
    cat.create_table("d", "n", [("k", "int"), ("v", "string")])
    cat.insert_into("d", "n", spark.createDataFrame([(1, None)], "k int, v string").coalesce(1))
    cat.insert_into("d", "n", spark.createDataFrame([(2, "x")], "k int, v string").coalesce(1))
    assert len(cat.scan_plan("d.n", predicate=[ColumnDomain("v", is_null=True)])) == 1
    assert len(cat.scan_plan("d.n", predicate=[ColumnDomain("v", is_null=False)])) == 1
    # all-null file fails any value comparison, null_allowed keeps it
    assert len(cat.scan_plan("d.n", predicate=[ColumnDomain("v", op="=", value="x")])) == 1
    assert len(
        cat.scan_plan("d.n", predicate=[ColumnDomain("v", op="=", value="x", null_allowed=True)])
    ) == 2


def test_timestamp_stats_prune(cat, spark):
    import datetime as dt

    cat.create_database("d", ignore_if_exists=True)
    cat.create_table("d", "ts", [("k", "int"), ("at", "timestamp")])
    mk = lambda h: dt.datetime(2026, 1, 1, h, 0, 0)  # noqa: E731
    cat.insert_into(
        "d", "ts", spark.createDataFrame([(1, mk(1)), (2, mk(2))], "k int, at timestamp").coalesce(1)
    )
    cat.insert_into(
        "d", "ts", spark.createDataFrame([(3, mk(20)), (4, mk(21))], "k int, at timestamp").coalesce(1)
    )
    dom = [ColumnDomain("at", op=">=", value=mk(12))]
    assert len(cat.scan_plan("d.ts", predicate=dom)) == 1
    assert cat.read_table("d.ts", predicate=dom).count() == 2


def test_clustering_columns_tighten_minmax_pruning(cat, spark):
    """clustering.columns: a range-partitioned+sorted commit gives each file
    a narrow key range, so a point predicate prunes to ~1 file; the same
    data unclustered leaves every file overlapping the domain."""
    import random

    rows = [(k, f"v{k}") for k in random.Random(7).sample(range(10_000), 2_000)]
    df = spark.createDataFrame(rows, "k int, v string").repartition(8)

    cat.create_database("d", ignore_if_exists=True)
    cat.create_table("d", "clustered", [("k", "int"), ("v", "string")],
                     options={"clustering_columns": "k", "clustering_partitions": "8"})
    cat.create_table("d", "plain", [("k", "int"), ("v", "string")])
    cat.insert_into("d", "clustered", df)
    cat.insert_into("d", "plain", df)

    assert len(cat.scan_plan("d.clustered")) == 8  # pinned range buckets
    pred = [ColumnDomain("k", op="=", value=rows[0][0])]
    n_clustered = len(cat.scan_plan("d.clustered", predicate=pred))
    n_plain_all = len(cat.scan_plan("d.plain"))
    n_plain = len(cat.scan_plan("d.plain", predicate=pred))
    assert n_clustered == 1
    # unclustered: every file spans ~the whole domain → no pruning wins
    assert n_plain == n_plain_all > 1
    # correctness unchanged
    got = cat.read_table("d.clustered", predicate=pred).collect()
    assert [(r.k, r.v) for r in got] == [rows[0]]

    with pytest.raises(ValueError):
        cat.create_table("d", "bad_cluster", [("k", "int")],
                         options={"clustering_columns": "zz"})
        cat.insert_into("d", "bad_cluster", spark.createDataFrame([(1,)], "k int"))


def test_review_fixes_round4_pruning(cat, spark):
    """Round-4 review: literal normalization must never prune a matching
    file — fractional literals on int columns keep their fraction, short
    timestamp literals canonicalize before the lexicographic compare, and a
    malformed decimal literal keeps the file instead of crashing."""
    from incubator_paimon_trino_spark.catalog.scan import _value_parts_possible

    # x < 10.5 over a file with stats [10, 10]: the rows of 10 match
    assert _value_parts_possible(ColumnDomain("k", op="<", value=10.5), 10, 10, "int")
    assert _value_parts_possible(
        ColumnDomain("k", ranges=[Range(high=10.5, high_inclusive=False)]), 10, 10, "int"
    )
    # '2024-01-01 00:00:00' (no micros) vs canonical fixed-width stats
    assert _value_parts_possible(
        ColumnDomain("ts", op="=", value="2024-01-01 00:00:00"),
        "2024-01-01 00:00:00.000000", "2024-01-01 00:00:00.000000", "timestamp",
    )
    # datetime-shaped literal on a date column compares as its date part
    assert _value_parts_possible(
        ColumnDomain("d", op="=", value="2024-01-01T00:00:00"),
        "2024-01-01", "2024-01-01", "date",
    )
    # malformed decimal literal: unknown -> keep, never a crash
    assert _value_parts_possible(
        ColumnDomain("m", op="=", value="abc"), "1.00", "2.00", "decimal(10,2)"
    )

    # end to end: the fractional literal plans the file AND returns its rows
    _mk_append(cat, spark)
    files = cat.scan_plan("d.t", predicate=[ColumnDomain("k", op="<", value=0.5)])
    assert len(files) >= 1
    got = cat.read_table("d.t", predicate=[ColumnDomain("k", op="<", value=0.5)]).collect()
    assert [r.k for r in got] == [0]


def test_review_fixes_round5_bigint_exact(cat, spark):
    """Round-5 review: integral stats/literals must stay EXACT ints — the
    r4 float round-trip collapsed bigints beyond 2^53 (9007199254740993 →
    ...92.0) and silently pruned files on strict comparisons."""
    from incubator_paimon_trino_spark.catalog.scan import _norm, _value_parts_possible

    big = 2**53  # 9007199254740992; big+1 rounds to big as a float
    assert _norm(big, "bigint") == big and isinstance(_norm(big, "bigint"), int)
    assert _norm(big + 1, "bigint") == big + 1
    assert _norm(str(big + 1), "bigint") == big + 1
    # fractional literals still keep their fraction (the r4 guarantee)
    assert _norm(10.5, "bigint") == 10.5
    assert _norm("10.5", "int") == 10.5
    assert _norm("1e2", "int") == 100 and isinstance(_norm("1e2", "int"), int)
    # file with stats [2^53, 2^53] must survive predicate x < 2^53+1
    assert _value_parts_possible(
        ColumnDomain("k", op="<", value=big + 1), big, big, "bigint"
    )
    # and x = 2^53+1 must NOT match a [2^53, 2^53] file (exact compare)
    assert not _value_parts_possible(
        ColumnDomain("k", op="=", value=big + 1), big, big, "bigint"
    )


def test_review_fixes_round4_char_and_types(cat, spark):
    """scan_plan applies the same CHAR pad-insensitive normalization as
    read_table; nested char types are rejected at DDL time (they would brick
    every later read); empty tuple-domains are TupleDomain.all."""
    from pyspark.sql import functions as F

    from incubator_paimon_trino_spark.functions.predicates import tuple_domain_to_column
    from incubator_paimon_trino_spark.functions.types import paimon_to_spark

    cat.create_database("d", ignore_if_exists=True)
    cat.create_table("d", "ch", [("tag", "char(3)"), ("v", "int")])
    cat.insert_into(
        "d", "ch", spark.createDataFrame([("ab", 1)], "tag string, v int").coalesce(1)
    )
    # padded literal: stored form is rtrimmed 'ab' — the file must survive
    files = cat.scan_plan("d.ch", predicate=[ColumnDomain("tag", op="=", value="ab ")])
    assert len(files) == 1

    with pytest.raises(ValueError, match="unsupported type"):
        cat.create_table("d", "bad", [("c", "array<char(5)>")])

    # empty domain list = no filter, not IndexError
    df = spark.range(3)
    assert df.filter(tuple_domain_to_column([])).count() == 3

    # LTZ detection is whitespace-robust (regex group, not substring)
    from pyspark.sql import types as T

    assert isinstance(paimon_to_spark("TIMESTAMP(6) WITH  LOCAL TIME ZONE"), T.TimestampType)


def test_review_fixes_round4_plan_parsing(spark, tmp_path):
    """pushed_filters keeps bracketed In(...) filters whole; ReadSchema
    reports only top-level columns for nested structs."""
    from pyspark.sql import functions as F

    from incubator_paimon_trino_spark.plans import pushed_filters, read_schema_columns

    p = str(tmp_path / "pp")
    spark.range(10).selectExpr(
        "id AS a", "named_struct('x', id, 'y', id + 1) AS s"
    ).write.parquet(p)
    df = spark.read.parquet(p).filter((F.col("a") > 5) & F.col("a").isin(1, 2, 7)).select("s")
    pf = pushed_filters(df)
    assert any(f.startswith("In(a, [") and f.endswith("])") for f in pf), pf
    assert all(f.count("(") == f.count(")") for f in pf), pf
    cols = read_schema_columns(df)
    assert "s" in cols and "y" not in cols and "x" not in cols

    # the metadata-length conf override is restored to UNSET afterwards
    assert spark.conf.get("spark.sql.maxMetadataStringLength", None) in (None, "100")


def test_split_weights_reference_formula(spark, tmp_path):
    """Split weights follow the reference exactly: clamp(rowCount /
    maxRowCount, minimum_split_weight, 1.0) with the 0.05 default
    (common/TrinoSplitManagerBase.java:50-63, TrinoSessionProperties.java:57-59)."""
    import pytest

    from incubator_paimon_trino_spark.catalog import WarehouseCatalog

    cat = WarehouseCatalog(str(tmp_path / "wh"), spark)
    cat.create_database("d")
    cat.create_table("d", "t", [("k", "int")])
    # three commits with 100 / 10 / 1 rows → one file each (coalesced)
    for n in (100, 10, 1):
        cat.insert_into("d", "t", spark.range(n).selectExpr("CAST(id AS INT) AS k").coalesce(1))
    ws = sorted(e["split_weight"] for e in cat.split_weights("d.t"))
    assert ws == [0.05, 0.1, 1.0]  # 1/100 clamps up to the 0.05 floor
    ws2 = sorted(e["split_weight"] for e in cat.split_weights("d.t", min_weight=0.5))
    assert ws2 == [0.5, 0.5, 1.0]
    with pytest.raises(ValueError, match="min_weight"):
        cat.split_weights("d.t", min_weight=0.0)


@pytest.mark.parametrize("ddl", ["decimal(10,2)", "decimal(18,4)", "decimal(20,2)"])
def test_decimal_stats_prune(cat, spark, ddl):
    """Spark stores a decimal of precision ≤ 18 as INT32/INT64 parquet,
    whose footer min/max pyarrow exposes only raw: the commit applies the
    scale itself, so such tables commit and prune by range like wider ones."""
    from decimal import Decimal

    cat.create_database("d", ignore_if_exists=True)
    cat.create_table("d", "dec", [("k", "bigint"), ("p", ddl)])
    for vals in (["-3.25", "1.50", "-0.01"], ["100.00", "250.75"]):
        rows = [(i, Decimal(v)) for i, v in enumerate(vals)]
        cat.insert_into("d", "dec", spark.createDataFrame(rows, f"k bigint, p {ddl}").coalesce(1))
    bounds = sorted(
        (Decimal(e["stats"]["1"]["min"]), Decimal(e["stats"]["1"]["max"]))
        for e in cat.scan_plan("d.dec")
    )
    assert bounds == [(Decimal("-3.25"), Decimal("1.50")), (Decimal("100.00"), Decimal("250.75"))]
    neg = [ColumnDomain("p", ranges=[Range(low=Decimal("-5"), high=Decimal("-1"))])]
    assert len(cat.scan_plan("d.dec", predicate=neg)) == 1
    assert [r.p for r in cat.read_table("d.dec", predicate=neg).collect()] == [Decimal("-3.25")]
    hit = [ColumnDomain("p", op="=", value=Decimal("250.75"))]
    assert len(cat.scan_plan("d.dec", predicate=hit)) == 1
    assert cat.read_table("d.dec", predicate=hit).count() == 1
    assert cat.scan_plan("d.dec", predicate=[ColumnDomain("p", op="<", value=Decimal("-4"))]) == []
    assert cat.read_table("d.dec").count() == 5
