"""Lake-table queries for the driver harness: time travel, merge-on-read,
snapshots, schema evolution — each builds a real warehouse table from driver
data at query time, then reads it back, so the oracle checks the END-TO-END
write→commit→read path, not a mock.

Each call materializes into a fresh unique temp dir (the returned DataFrame
reads lazily, so the directory must outlive the call).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from incubator_paimon_trino_spark.catalog import WarehouseCatalog
from incubator_paimon_trino_spark.operators.registry import register
from incubator_paimon_trino_spark.sources import table


def _fresh_catalog(spark: SparkSession) -> WarehouseCatalog:
    return WarehouseCatalog(tempfile.mkdtemp(prefix="ipt_lake_"), spark)


def _orders_by_year(spark: SparkSession, sf_dir: str) -> "WarehouseCatalog":
    """Shared year-partitioned fixture for the A4/A8 partition queries —
    single-sourced so both exercise the SAME table layout."""
    cat = _fresh_catalog(spark)
    cat.create_database("lake")
    cat.create_table(
        "lake",
        "orders_by_year",
        [("o_orderkey", "bigint"), ("o_totalprice", "double"), ("order_year", "int")],
        partitioned_by=["order_year"],
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", F.year("o_orderdate").alias("order_year")
    )
    cat.insert_into("lake", "orders_by_year", o)
    return cat




def _orders_commits(spark: SparkSession, sf_dir: str):
    """Deterministic 2-commit derivation from ``orders``: one row per custkey
    per commit (MOR ties within a commit would otherwise be ambiguous)."""
    o = table(spark, sf_dir, "orders")
    c1 = (
        o.filter(F.col("o_orderkey") <= 1000)
        .groupBy("o_custkey")
        .agg(F.max("o_orderkey").alias("last_order"), F.count("*").alias("n"))
    )
    c2 = (
        o.filter(F.col("o_orderkey") > 1000)
        .groupBy("o_custkey")
        .agg(F.max("o_orderkey").alias("last_order"), F.count("*").alias("n"))
        .withColumn("_row_kind", F.when(F.col("o_custkey") % 7 == 0, "D").otherwise("I"))
    )
    return c1, c2


_C1_SQL = """
  SELECT o_custkey, MAX(o_orderkey) AS last_order, COUNT(*) AS n
  FROM orders WHERE o_orderkey <= 1000 GROUP BY o_custkey
"""
_C2_SQL = """
  SELECT o_custkey, MAX(o_orderkey) AS last_order, COUNT(*) AS n,
         CASE WHEN o_custkey % 7 = 0 THEN 'D' ELSE 'I' END AS kind
  FROM orders WHERE o_orderkey > 1000 GROUP BY o_custkey
"""


def _pk_table(spark: SparkSession, sf_dir: str) -> tuple[WarehouseCatalog, str]:
    cat = _fresh_catalog(spark)
    cat.create_database("lake")
    cat.create_table(
        "lake",
        "cust_orders",
        # 3-tuple = per-column comment, surfaced via information_schema.columns
        [("o_custkey", "bigint"), ("last_order", "bigint", "latest order key"), ("n", "bigint")],
        primary_key=["o_custkey"],
    )
    c1, c2 = _orders_commits(spark, sf_dir)
    cat.insert_into("lake", "cust_orders", c1)
    cat.insert_into("lake", "cust_orders", c2)
    return cat, "lake.cust_orders"


@register(
    "lake_time_travel_v1",
    oracle=f"SELECT * FROM ({_C1_SQL})",
)
def lake_time_travel_v1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``FOR VERSION AS OF 1`` (A11): after two commits, snapshot 1 must show
    exactly the first commit's merged state (``TestTrinoITCase.java:517-536``)."""
    cat, name = _pk_table(spark, sf_dir)
    return cat.read_table(name, version_as_of=1)


@register(
    "lake_merge_on_read",
    oracle=f"""
    WITH c1 AS ({_C1_SQL}), c2 AS ({_C2_SQL})
    SELECT COALESCE(c2.o_custkey, c1.o_custkey) AS o_custkey,
           COALESCE(c2.last_order, c1.last_order) AS last_order,
           COALESCE(c2.n, c1.n) AS n
    FROM c1 FULL OUTER JOIN c2 ON c1.o_custkey = c2.o_custkey
    WHERE c2.kind IS NULL OR c2.kind <> 'D'
    """,
)
def lake_merge_on_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 deduplicate merge engine end-to-end: upserts override commit 1,
    deletes (custkey % 7 = 0 in commit 2) vanish from SELECT *."""
    cat, name = _pk_table(spark, sf_dir)
    return cat.read_table(name)


@register(
    "lake_snapshots_system_table",
    oracle=f"""
    SELECT CAST(1 AS BIGINT) AS snapshot_id, CAST(0 AS BIGINT) AS schema_id,
           'spark-graft' AS commit_user, 'APPEND' AS commit_kind,
           (SELECT COUNT(*) FROM ({_C1_SQL})) AS record_count
    UNION ALL
    SELECT 2, 0, 'spark-graft', 'APPEND',
           (SELECT COUNT(*) FROM ({_C1_SQL})) + (SELECT COUNT(*) FROM ({_C2_SQL}))
    """,
)
def lake_snapshots_system_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``t$snapshots`` (A13): the reference's exact column surface minus the
    wall-clock timestamp (``TestTrinoITCase.java:287-288``)."""
    cat, name = _pk_table(spark, sf_dir)
    return cat.read_table(f"{name}$snapshots").select(
        "snapshot_id", "schema_id", "commit_user", "commit_kind", "record_count"
    )


@register(
    "lake_schema_evolution",
    oracle="""
    SELECT n_nationkey AS id, n_name AS label, CAST(NULL AS BIGINT) AS pop
    FROM nation
    UNION ALL
    SELECT r_regionkey + 100, r_name, CAST(r_regionkey * 1000 AS BIGINT) FROM region
    """,
)
def lake_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A18 end-to-end: write under schema v0, ADD COLUMN + RENAME COLUMN,
    write under the new schema, read both file generations through the
    field-id mapping (old rows get NULL for the added column; renamed column
    reads old files' data)."""
    cat = _fresh_catalog(spark)
    cat.create_database("lake")
    cat.create_table("lake", "ev", [("id", "bigint"), ("name", "string")])
    n = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("id"), F.col("n_name").alias("name")
    )
    cat.insert_into("lake", "ev", n)
    cat.add_column("lake", "ev", "pop", "bigint")
    cat.rename_column("lake", "ev", "name", "label")
    r = table(spark, sf_dir, "region").select(
        (F.col("r_regionkey") + 100).cast("bigint").alias("id"),
        F.col("r_name").alias("label"),
        (F.col("r_regionkey") * 1000).cast("bigint").alias("pop"),
    )
    cat.insert_into("lake", "ev", r)
    return cat.read_table("lake.ev")


@register(
    "lake_partition_pruned_scan",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS order_year
    FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1997
    """,
)
def lake_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 'enforced' partition predicate: write partitioned by year, read one
    partition — Catalyst prunes at the file listing (PartitionFilters), the
    exact behavior the reference implements by marking partition-key domains
    enforced (``TrinoMetadataBase.java:363-376``)."""
    cat = _orders_by_year(spark, sf_dir)
    return cat.read_table("lake.orders_by_year").filter(F.col("order_year") == 1997)


@register(
    "lake_bucket_point_lookup",
    oracle="""
    SELECT o_custkey, MAX(o_orderkey) AS last_order, COUNT(*) AS n
    FROM orders WHERE o_custkey = 42 GROUP BY o_custkey
    """,
)
def lake_bucket_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket pruning end-to-end: a PK point lookup on a bucketed table
    plans only the file(s) of ``pmod(murmur3(key), n)`` — asserted in-query
    — then merges and filters to the exact row. At 100 TB this is the
    difference between opening 1/n of the files and opening all of them
    before min/max stats even run."""
    from incubator_paimon_trino_spark.functions.predicates import ColumnDomain

    cat = _fresh_catalog(spark)
    cat.create_database("lake")
    cat.create_table(
        "lake",
        "cust_bucketed",
        [("o_custkey", "bigint"), ("last_order", "bigint"), ("n", "bigint")],
        primary_key=["o_custkey"],
        options={"bucket": "8"},
    )
    o = table(spark, sf_dir, "orders")
    agg = o.groupBy("o_custkey").agg(
        F.max("o_orderkey").alias("last_order"), F.count("*").alias("n")
    )
    cat.insert_into("lake", "cust_bucketed", agg)
    # custkey 42 exists at every driver SF (sf0.001 has only 0..149)
    pred = [ColumnDomain("o_custkey", op="=", value=42)]
    n_all = len(cat.scan_plan("lake.cust_bucketed"))
    n_hit = len(cat.scan_plan("lake.cust_bucketed", predicate=pred))
    assert n_hit == 1 and n_all == 8, (n_hit, n_all)
    return cat.read_table("lake.cust_bucketed", predicate=pred)


@register(
    "lake_sequence_field_merge",
    oracle=f"""
    WITH c1 AS ({_C1_SQL}),
         c2 AS (SELECT o_custkey, MAX(o_orderkey) AS last_order, COUNT(*) AS n
                FROM orders WHERE o_orderkey > 1000 GROUP BY o_custkey)
    SELECT COALESCE(c2.o_custkey, c1.o_custkey) AS o_custkey,
           COALESCE(c2.last_order, c1.last_order) AS last_order,
           COALESCE(c2.n, c1.n) AS n
    FROM c1 FULL OUTER JOIN c2 ON c1.o_custkey = c2.o_custkey
    """,
)
def lake_sequence_field_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sequence_field contract through the driver gate: the HIGH-sequence
    commit (orderkeys > 1000) is written FIRST and the low-sequence commit
    second — with ``sequence_field=last_order`` the merged state must still
    be decided by business order (c2 wins wherever both exist), proving
    commit order no longer matters."""
    cat = _fresh_catalog(spark)
    cat.create_database("lake")
    cat.create_table(
        "lake",
        "seq_orders",
        [("o_custkey", "bigint"), ("last_order", "bigint"), ("n", "bigint")],
        primary_key=["o_custkey"],
        options={"sequence_field": "last_order"},
    )
    o = table(spark, sf_dir, "orders")
    c2 = (
        o.filter(F.col("o_orderkey") > 1000)
        .groupBy("o_custkey")
        .agg(F.max("o_orderkey").alias("last_order"), F.count("*").alias("n"))
    )
    c1 = (
        o.filter(F.col("o_orderkey") <= 1000)
        .groupBy("o_custkey")
        .agg(F.max("o_orderkey").alias("last_order"), F.count("*").alias("n"))
    )
    cat.insert_into("lake", "seq_orders", c2)  # newer data arrives FIRST
    cat.insert_into("lake", "seq_orders", c1)  # stale data arrives second
    return cat.read_table("lake.seq_orders")


@register(
    "lake_clustered_scan",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders WHERE o_orderkey BETWEEN 5000 AND 5200
    """,
)
def lake_clustered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """clustering.columns end-to-end: orders written range-clustered on
    o_orderkey, read back with a narrow key-range predicate — the manifest
    min/max skip prunes to the file(s) whose range overlaps [5000, 5200]
    (each covers ~1/8 of the domain) and the values round-trip exactly."""
    from incubator_paimon_trino_spark.functions.predicates import ColumnDomain, Range

    cat = _fresh_catalog(spark)
    cat.create_database("lake")
    cat.create_table(
        "lake",
        "orders_clustered",
        [("o_orderkey", "bigint"), ("o_totalprice", "double")],
        options={"clustering_columns": "o_orderkey", "clustering_partitions": "8"},
    )
    src = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice").repartition(8)
    cat.insert_into("lake", "orders_clustered", src)
    pred = [ColumnDomain("o_orderkey", ranges=[Range(5000, 5200, True, True)])]
    n_all = len(cat.scan_plan("lake.orders_clustered"))
    n_hit = len(cat.scan_plan("lake.orders_clustered", predicate=pred))
    assert n_hit < n_all, (n_hit, n_all)  # clustering must actually prune
    return cat.read_table("lake.orders_clustered", predicate=pred)


@register(
    "lake_incremental_read",
    oracle=f"""
    SELECT o_custkey, last_order, n, kind AS _row_kind
    FROM ({_C2_SQL})
    """,
)
def lake_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paimon ``incremental-between`` scan: only commit 2's raw rows (with
    their row kinds), planned from the manifests by the one commit-range
    planner (``plan_commits``) — no data read to plan, and the scan touches
    only the files the commits in the range wrote (at 100 TB an incremental
    consumer reads GBs, not the table)."""
    cat, name = _pk_table(spark, sf_dir)
    return cat.read_incremental(name, 1, 2).select(
        "o_custkey", "last_order", "n", "_row_kind"
    )


@register(
    "streaming_changelog_startup_from_snapshot",
    oracle=f"""
    SELECT o_custkey, last_order, n, kind AS _row_kind
    FROM ({_C2_SQL})
    """,
)
def streaming_changelog_startup_from_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StartupMode.from-snapshot as a REAL stream: a file-stream over the
    lake table's commit layout, cut at snapshot 2 by the commit id parsed
    from each file name (no excluded commit's data is read), drained with
    availableNow into a batch result. The reference stores this enum as DDL
    metadata only (``TrinoTableOptionUtils.java:94-107``)."""
    from incubator_paimon_trino_spark.streaming.changelog import (
        read_changelog_stream,
        run_to_completion,
    )

    cat, name = _pk_table(spark, sf_dir)
    stream = read_changelog_stream(cat, name, "from-snapshot", scan_snapshot_id=2)
    out = run_to_completion(stream, "lake_from_snapshot", "append")
    return out.select("o_custkey", "last_order", "n", "_row_kind")


@register(
    "lake_changelog_producer_lookup",
    oracle=f"""
    WITH c1 AS ({_C1_SQL}), c2 AS ({_C2_SQL})
    SELECT c2.o_custkey, c2.last_order, c2.n, '+I' AS _change
    FROM c2 LEFT JOIN c1 ON c1.o_custkey = c2.o_custkey
    WHERE c2.kind = 'I' AND c1.o_custkey IS NULL
    UNION ALL
    SELECT c1.o_custkey, c1.last_order, c1.n, '-U'
    FROM c1 JOIN c2 ON c1.o_custkey = c2.o_custkey WHERE c2.kind = 'I'
    UNION ALL
    SELECT c2.o_custkey, c2.last_order, c2.n, '+U'
    FROM c1 JOIN c2 ON c1.o_custkey = c2.o_custkey WHERE c2.kind = 'I'
    UNION ALL
    SELECT c1.o_custkey, c1.last_order, c1.n, '-D'
    FROM c1 JOIN c2 ON c1.o_custkey = c2.o_custkey WHERE c2.kind = 'D'
    """,
)
def lake_changelog_producer_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ChangelogProducer ``lookup``/``full-compaction`` semantics (enum the
    reference stores as DDL options — ``TrinoTableOptionUtils.java:94-107``):
    the complete retraction-aware changelog of commit 2 — inserts for new
    keys, -U/+U before/after images for upserts, -D with the OLD values for
    deletes of existing keys. The oracle reconstructs the same stream
    relationally from the two commit derivations."""
    cat, name = _pk_table(spark, sf_dir)
    return cat.table_changelog(name, from_snapshot=1, producer="lookup").select(
        "o_custkey", "last_order", "n", "_change"
    )


@register(
    "lake_aggregation_merge_engine",
    oracle="""
    WITH c1 AS (
      SELECT o_custkey, COUNT(*) AS n, MAX(o_totalprice) AS maxp,
             MIN(o_orderstatus) AS st
      FROM orders WHERE o_orderkey <= 1000 GROUP BY o_custkey
    ), c2 AS (
      SELECT o_custkey, COUNT(*) AS n, MAX(o_totalprice) AS maxp,
             MIN(o_orderstatus) AS st
      FROM orders WHERE o_orderkey > 1000 GROUP BY o_custkey
    )
    SELECT COALESCE(c1.o_custkey, c2.o_custkey) AS o_custkey,
           COALESCE(c1.n, 0) + COALESCE(c2.n, 0) AS n,
           CASE WHEN c1.maxp IS NULL THEN c2.maxp
                WHEN c2.maxp IS NULL THEN c1.maxp
                ELSE GREATEST(c1.maxp, c2.maxp) END AS maxp,
           CASE WHEN c1.st IS NULL THEN c2.st
                WHEN c2.st IS NULL THEN c1.st
                ELSE c1.st || ',' || c2.st END AS st,
           COALESCE(c1.st, c2.st) AS fst
    FROM c1 FULL OUTER JOIN c2 ON c1.o_custkey = c2.o_custkey
    """,
)
def lake_aggregation_merge_engine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation merge engine with per-field functions
    (``fields.<name>.aggregate-function`` — Paimon CoreOptions exposed
    through the reference's DDL property reflection,
    ``TrinoTableOptionUtils.java:51-135``): two commits of per-custkey
    scalars merge at read time via sum / max / listagg / first_value, one
    hash aggregation per PK with map-side partials — no window, no driver
    loop, so the merge scales with executor count."""
    cat = _fresh_catalog(spark)
    cat.create_database("lake")
    cat.create_table(
        "lake",
        "agg_orders",
        [
            ("o_custkey", "bigint"),
            ("n", "bigint"),
            ("maxp", "double"),
            ("st", "string"),
            ("fst", "string"),
        ],
        primary_key=["o_custkey"],
        options={
            "merge_engine": "aggregation",
            "fields.n.aggregate-function": "sum",
            "fields.maxp.aggregate-function": "max",
            "fields.st.aggregate-function": "listagg",
            "fields.fst.aggregate-function": "first_value",
        },
    )
    o = table(spark, sf_dir, "orders")
    for lo, hi in ((None, 1000), (1000, None)):
        part = o
        if hi is not None:
            part = part.filter(F.col("o_orderkey") <= hi)
        if lo is not None:
            part = part.filter(F.col("o_orderkey") > lo)
        commit = part.groupBy("o_custkey").agg(
            F.count("*").alias("n"),
            F.max("o_totalprice").alias("maxp"),
            F.min("o_orderstatus").alias("st"),
        )
        cat.insert_into(
            "lake", "agg_orders", commit.withColumn("fst", F.col("st"))
        )
    return cat.read_table("lake.agg_orders")


@register(
    "lake_limit_pushdown_partition_scoped",
    oracle="""
    SELECT CAST(LEAST(42, COUNT(*)) AS BIGINT) AS n_rows,
           CAST(MIN(EXTRACT(YEAR FROM o_orderdate)) AS INTEGER) AS min_year,
           CAST(MAX(EXTRACT(YEAR FROM o_orderdate)) AS INTEGER) AS max_year
    FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1997
    """,
)
def lake_limit_pushdown_partition_scoped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 partition-scoped LIMIT (``TestTrinoITCase.java:306-312``): with a
    partition-only filter the limit is pushed to the manifest — the scan opens
    only a file-prefix covering 42 rows — and is still re-applied row-wise
    (never "guaranteed", ``TrinoMetadataBase.java:418-445``). min=max=1997
    proves the partition predicate is enforced on the limited prefix; which
    42 rows survive is nondeterministic, so the query aggregates."""
    from incubator_paimon_trino_spark.functions.predicates import ColumnDomain

    cat = _orders_by_year(spark, sf_dir)
    limited = cat.read_table(
        "lake.orders_by_year",
        predicate=[ColumnDomain("order_year", op="=", value=1997)],
        limit=42,
    )
    return limited.agg(
        F.count("*").alias("n_rows"),
        F.min("order_year").alias("min_year"),
        F.max("order_year").alias("max_year"),
    )


@register(
    "lake_orc_scan",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n, MAX(o_totalprice) AS max_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def lake_orc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip through the driver harness: write an ORC-format lake
    table (``file_format`` option — ``FileFormatType`` enum,
    ``TrinoTableOptionUtils.java:96,111-112``; exercised with
    ``file_format='ORC'`` at ``TestTrinoITCase.java:352``), read it back,
    aggregate. The oracle recomputes from the source — any ORC write/read
    corruption breaks the hash."""
    cat = _fresh_catalog(spark)
    cat.create_database("lake")
    cat.create_table(
        "lake",
        "orders_orc",
        [("o_orderstatus", "string"), ("o_totalprice", "double")],
        options={"file_format": "ORC"},
    )
    src = table(spark, sf_dir, "orders").select("o_orderstatus", "o_totalprice")
    cat.insert_into("lake", "orders_orc", src)
    return (
        cat.read_table("lake.orders_orc")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), F.max("o_totalprice").alias("max_price"))
    )


@register(
    "lake_tag_time_travel",
    oracle=f"SELECT * FROM ({_C1_SQL})",
)
def lake_tag_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tag-pinned read: ``CALL sys.create_tag`` names snapshot 1, a later
    commit moves HEAD, and ``read_table(tag=...)`` must still resolve the
    tagged state (Paimon tags; the reference exposes them via the table
    option surface — `common/TrinoTableOptionUtils.java` scan options — and
    `$tags` metadata). Equivalent state to ``FOR VERSION AS OF 1`` here, but
    exercises the tag-resolution path end to end: create_tag -> TAGS file ->
    pin -> snapshot read."""
    cat, name = _pk_table(spark, sf_dir)
    db, tbl = name.split(".")
    cat.create_tag(db, tbl, "release-1", snapshot_id=1)
    return cat.read_table(name, tag="release-1")


@register(
    "lake_audit_log",
    oracle=f"""
    WITH c1 AS ({_C1_SQL}), c2 AS ({_C2_SQL})
    SELECT 'I' AS rowkind, o_custkey, last_order, n FROM c1
    UNION ALL
    SELECT kind AS rowkind, o_custkey, last_order, n FROM c2
    """,
)
def lake_audit_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``t$audit_log`` (A13 family): the changelog-inspection view — EVERY
    committed row version with its row kind exposed as ``rowkind`` (commit 1
    inserts as +I, commit 2 upserts/deletes with their own kinds), unmerged
    — unlike ``SELECT *``, which collapses by key and drops deletes. The
    reference resolves any ``table$suffix`` through the Paimon catalog
    (`common/TrinoMetadataBase.java:138-156`); audit_log is Paimon's
    canonical CDC-inspection surface."""
    cat, name = _pk_table(spark, sf_dir)
    return cat.read_table(name + "$audit_log")


@register(
    "lake_expire_snapshots",
    oracle=f"""
    WITH c1 AS ({_C1_SQL}), c2 AS ({_C2_SQL})
    SELECT COALESCE(c2.o_custkey, c1.o_custkey) AS o_custkey,
           COALESCE(c2.last_order, c1.last_order) AS last_order,
           COALESCE(c2.n, c1.n) AS n
    FROM c1 FULL OUTER JOIN c2 ON c1.o_custkey = c2.o_custkey
    WHERE c2.kind IS NULL OR c2.kind <> 'D'
    """,
)
def lake_expire_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``CALL sys.expire_snapshots`` end to end (Paimon's automatic snapshot
    expiration, `snapshot.num-retained.*` family): after expiring down to
    the latest snapshot, history reads are gone but SELECT * must still
    return the exact merged state — expiration may only delete files no
    live snapshot references."""
    cat, name = _pk_table(spark, sf_dir)
    db, tbl = name.split(".")
    cat.expire_snapshots(db, tbl, keep_last=1)
    try:
        cat.read_table(name, version_as_of=1)
        raise AssertionError("snapshot 1 should be expired")
    except ValueError:
        pass
    return cat.read_table(name)


@register(
    "lake_rollback_to_snapshot",
    oracle=f"SELECT * FROM ({_C1_SQL})",
)
def lake_rollback_to_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``CALL sys.rollback`` (Paimon rollback_to): move HEAD back to
    snapshot 1 and read — must equal the commit-1 state, and later commits'
    data must no longer be visible on the main read path."""
    cat, name = _pk_table(spark, sf_dir)
    db, tbl = name.split(".")
    cat.rollback_to(db, tbl, 1)
    return cat.read_table(name)


@register(
    "lake_information_schema_columns",
    oracle="""
    SELECT * FROM (VALUES
      ('lake', 'cust_orders', 'o_custkey',  1, CAST(NULL AS VARCHAR), 'NO',  'bigint', CAST(NULL AS VARCHAR)),
      ('lake', 'cust_orders', 'last_order', 2, CAST(NULL AS VARCHAR), 'YES', 'bigint', 'latest order key'),
      ('lake', 'cust_orders', 'n',          3, CAST(NULL AS VARCHAR), 'YES', 'bigint', CAST(NULL AS VARCHAR))
    ) AS t(table_schema, table_name, column_name, ordinal_position,
           column_default, is_nullable, data_type, comment)
    """,
)
def lake_information_schema_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``information_schema.columns`` through the driver gate: Trino builds
    these relations from connector metadata (`common/TrinoMetadataBase.java:
    271-287` listTableColumns feeds them); ours answers from the catalog's
    schema JSONs — metadata-only, O(#tables) at any data scale. PK columns
    surface as NOT NULL; the view carries Trino's column_default slot
    (always NULL — Paimon has no defaults) and per-column comments."""
    cat, _ = _pk_table(spark, sf_dir)
    return cat.information_schema("columns")


@register(
    "lake_sort_compacted_range_scan",
    oracle="""
    SELECT o_custkey, MAX(o_orderkey) AS last_order, COUNT(*) AS n
    FROM orders
    GROUP BY o_custkey
    HAVING o_custkey BETWEEN 40 AND 60
    """,
)
def lake_sort_compacted_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort compaction through the oracle gate (Paimon ``CALL sys.compact(...,
    order_strategy => 'order')``): three interleaved commits each span the
    whole key domain, so a range predicate must touch every file; after
    ``CALL sys.compact('t', 'o_custkey')`` the rewrite is range-partitioned +
    sorted, per-file min/max become disjoint, and the same predicate plans a
    strict subset of the files — asserted in-query via the metadata-only
    scan plan. Result correctness is the oracle's job."""
    from incubator_paimon_trino_spark.functions.predicates import ColumnDomain, Range

    cat = _fresh_catalog(spark)
    cat.create_database("lake")
    cat.create_table(
        "lake",
        "cust_sorted",
        [("o_custkey", "bigint"), ("last_order", "bigint"), ("n", "bigint")],
        options={"clustering_partitions": "4"},
    )
    agg = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.max("o_orderkey").alias("last_order"), F.count("*").alias("n"))
    )
    # three interleaved commits: every file covers the full custkey domain
    for r in range(3):
        cat.insert_into("lake", "cust_sorted", agg.filter(F.col("o_custkey") % 3 == r))
    pred = [ColumnDomain("o_custkey", ranges=[Range(low=40, high=60)])]
    # before: every commit file spans the whole domain -> nothing prunes
    n_all_before = len(cat.scan_plan("lake.cust_sorted"))
    n_before = len(cat.scan_plan("lake.cust_sorted", predicate=pred))
    assert n_before == n_all_before, (n_before, n_all_before)
    cat.sql("CALL sys.compact('lake.cust_sorted', 'o_custkey')")
    # after: range-disjoint files -> the same predicate plans a strict subset
    n_files = len(cat.scan_plan("lake.cust_sorted"))
    n_after = len(cat.scan_plan("lake.cust_sorted", predicate=pred))
    assert n_after < n_files, (n_files, n_after)
    return cat.read_table("lake.cust_sorted", predicate=pred)


@register(
    "lake_partial_update_merge",
    oracle="""
    WITH c1 AS (
      SELECT o_custkey, MAX(o_orderkey) AS last_order, CAST(NULL AS BIGINT) AS n_late
      FROM orders WHERE o_orderkey <= 1000 GROUP BY o_custkey
    ), c2 AS (
      SELECT o_custkey, CAST(NULL AS BIGINT) AS last_order, COUNT(*) AS n_late
      FROM orders WHERE o_orderkey > 1000 AND o_custkey % 2 = 0 GROUP BY o_custkey
    )
    SELECT COALESCE(c1.o_custkey, c2.o_custkey) AS o_custkey,
           COALESCE(c2.last_order, c1.last_order) AS last_order,
           COALESCE(c2.n_late, c1.n_late) AS n_late
    FROM c1 FULL OUTER JOIN c2 ON c1.o_custkey = c2.o_custkey
    """,
)
def lake_partial_update_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """partial-update merge engine through the oracle gate (MergeEngine enum
    the reference types at `common/TrinoTableOptionUtils.java:94-107`):
    commit 2 carries NULL for ``last_order``, so the merged row must keep
    commit 1's value — per-field last-non-null, not last-row-wins."""
    cat = _fresh_catalog(spark)
    cat.create_database("lake")
    cat.create_table(
        "lake",
        "cust_partial",
        [("o_custkey", "bigint"), ("last_order", "bigint"), ("n_late", "bigint")],
        primary_key=["o_custkey"],
        options={"merge_engine": "partial-update"},
    )
    o = table(spark, sf_dir, "orders")
    c1 = (
        o.filter(F.col("o_orderkey") <= 1000)
        .groupBy("o_custkey")
        .agg(F.max("o_orderkey").alias("last_order"))
        .withColumn("n_late", F.lit(None).cast("bigint"))
    )
    c2 = (
        o.filter((F.col("o_orderkey") > 1000) & (F.col("o_custkey") % 2 == 0))
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_late"))
        .select("o_custkey", F.lit(None).cast("bigint").alias("last_order"), "n_late")
    )
    cat.insert_into("lake", "cust_partial", c1)
    cat.insert_into("lake", "cust_partial", c2)
    return cat.read_table("lake.cust_partial")


@register(
    "lake_first_row_merge",
    oracle=f"""
    WITH c1 AS ({_C1_SQL}),
         c2 AS (SELECT o_custkey, MAX(o_orderkey) AS last_order, COUNT(*) AS n
                FROM orders WHERE o_orderkey > 1000 GROUP BY o_custkey)
    SELECT COALESCE(c1.o_custkey, c2.o_custkey) AS o_custkey,
           COALESCE(c1.last_order, c2.last_order) AS last_order,
           COALESCE(c1.n, c2.n) AS n
    FROM c1 FULL OUTER JOIN c2 ON c1.o_custkey = c2.o_custkey
    """,
)
def lake_first_row_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first-row merge engine through the oracle gate: the EARLIEST insert
    per key wins — commit 2 only contributes keys commit 1 never saw
    (Paimon's first-row, the cheap changelog-producing upsert)."""
    cat = _fresh_catalog(spark)
    cat.create_database("lake")
    cat.create_table(
        "lake",
        "cust_first",
        [("o_custkey", "bigint"), ("last_order", "bigint"), ("n", "bigint")],
        primary_key=["o_custkey"],
        options={"merge_engine": "first-row"},
    )
    o = table(spark, sf_dir, "orders")
    mk = lambda cond: (  # noqa: E731
        o.filter(cond)
        .groupBy("o_custkey")
        .agg(F.max("o_orderkey").alias("last_order"), F.count("*").alias("n"))
    )
    cat.insert_into("lake", "cust_first", mk(F.col("o_orderkey") <= 1000))
    cat.insert_into("lake", "cust_first", mk(F.col("o_orderkey") > 1000))
    return cat.read_table("lake.cust_first")


@register(
    "lake_dml_roundtrip",
    oracle="""
    WITH ctas AS (
      SELECT o_orderkey, o_custkey,
             CAST(o_totalprice AS DOUBLE) AS price,
             o_orderstatus AS status
      FROM orders WHERE o_orderkey <= 4000
    ), inserted AS (
      SELECT * FROM ctas
      UNION ALL
      SELECT CAST(v.k AS BIGINT), CAST(v.c AS BIGINT), CAST(v.p AS DOUBLE), v.s
      FROM (VALUES (9999991, 1, 111.5, 'N'), (9999992, 2, 222.25, 'N')) v(k, c, p, s)
    ), updated AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_custkey % 10 = 3 THEN price * 2 ELSE price END AS price,
             CASE WHEN o_custkey % 10 = 3 THEN 'U' ELSE status END AS status
      FROM inserted
    )
    SELECT o_orderkey, o_custkey, price, status FROM updated
    WHERE NOT (status = 'F' AND o_orderkey % 5 = 0)
    """,
)
def lake_dml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full write-facade surface under the hash gate: CTAS from a source
    table, positional INSERT VALUES, UPDATE with expression assignments,
    DELETE with a predicate, then read the final state back through
    merge-on-read. The oracle replays the same edits as pure SELECT algebra
    (CASE for the UPDATE, anti-filter for the DELETE, UNION ALL for the
    INSERT), so every committed value is checked — this is write surface
    BEYOND the read-only reference (SURVEY §2.A: "No INSERT/UPDATE/DELETE/
    CTAS", common-test/TestTrinoDistributedQuery.java:69-77).

    Four commits → four snapshots; the read is the normal MOR scan path, so
    the check also proves UPDATE/DELETE changelog rows merge correctly."""
    cat = _fresh_catalog(spark)
    cat.create_database("lake")
    table(spark, sf_dir, "orders").createOrReplaceTempView("ipt_dml_orders_src")
    cat.sql(
        """CREATE TABLE lake.dml WITH (primary_key = 'o_orderkey') AS
           SELECT o_orderkey, o_custkey,
                  CAST(o_totalprice AS DOUBLE) AS price,
                  o_orderstatus AS status
           FROM ipt_dml_orders_src WHERE o_orderkey <= 4000"""
    )
    cat.sql(
        "INSERT INTO lake.dml VALUES (9999991, 1, 111.5, 'N'), (9999992, 2, 222.25, 'N')"
    )
    cat.sql(
        "UPDATE lake.dml SET price = price * 2, status = 'U' WHERE o_custkey % 10 = 3"
    )
    cat.sql("DELETE FROM lake.dml WHERE status = 'F' AND o_orderkey % 5 = 0")
    return cat.read_table("lake.dml")


@register(
    "lake_consumer_resume",
    oracle="""
    WITH c2 AS (
      SELECT o_orderkey, o_custkey FROM orders
      WHERE o_orderkey > 1000 AND o_orderkey <= 2000
    ), c3 AS (
      SELECT o_orderkey, o_custkey FROM orders
      WHERE o_orderkey > 2000 AND o_orderkey <= 3000
    )
    SELECT o_orderkey, o_custkey, CAST(2 AS BIGINT) AS snap, '+I' AS change FROM c2
    UNION ALL
    SELECT o_orderkey, o_custkey, CAST(3 AS BIGINT) AS snap, '+I' AS change FROM c3
    """,
)
def lake_consumer_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consumer-tracked changelog resume under the hash gate: three disjoint
    commits, a consumer that has already consumed snapshot 1 (next=2), then
    ``table_changelog(consumer_id=...)`` must emit exactly the rows of
    snapshots 2 and 3 with their commit attribution. The reference only
    STORES consumer/streaming options (``TrinoTableOptionUtils.java:94-107``)
    — this is the executable form.

    Scale shape: resume is metadata-only (one consumer JSON read picks the
    snapshot range; the scan then touches only the delta files of snapshots
    2-3 — at 100 TB a resuming consumer reads its backlog, not the table).
    """
    cat = _fresh_catalog(spark)
    cat.create_database("lake")
    cat.create_table(
        "lake",
        "consumed",
        [("o_orderkey", "bigint"), ("o_custkey", "bigint")],
        primary_key=["o_orderkey"],
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    for lo, hi in ((0, 1000), (1000, 2000), (2000, 3000)):
        cat.insert_into(
            "lake", "consumed",
            o.filter((F.col("o_orderkey") > lo) & (F.col("o_orderkey") <= hi)),
        )
    cat.advance_consumer("lake", "consumed", "etl_job", 2)  # snapshot 1 consumed
    out = cat.table_changelog("lake.consumed", consumer_id="etl_job", producer="input")
    return out.select(
        "o_orderkey",
        "o_custkey",
        F.col("_snapshot").alias("snap"),
        F.col("_change").alias("change"),
    )


@register(
    "lake_dynamic_partition_pruning",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS order_year,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM orders
    WHERE year(o_orderdate) IN (
      SELECT DISTINCT year(o_orderdate) FROM orders WHERE o_orderpriority = '1-URGENT'
        AND o_orderkey <= 200
    )
    GROUP BY 1
    """,
)
def lake_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning through the lake scan — the reference's own
    unimplemented TODO (``common/TrinoSplitManagerBase.java:38-39`` "// TODO
    dynamicFilter?"; the dynamicFilter param is ignored at
    ``common/TrinoPageSourceProvider.java:52``). Here the partitioned lake
    table's scan carries ``dynamicpruningexpression(order_year IN
    dynamicpruning#N)`` fed by the dim side at runtime, so only the matching
    year partitions' files are read (plan pinned in ``tests/test_plan_quality
    .py::test_dynamic_partition_pruning_on_lake_table``; this query puts the
    VALUES under the driver's hash gate).

    Scale shape: the dim subquery broadcasts its distinct years; the fact
    scan then lists only those partitions — at 100 TB a 2-year filter reads
    2/7 of the table without any static predicate on the fact side.
    """
    cat = _orders_by_year(spark, sf_dir)
    dim_years = (
        table(spark, sf_dir, "orders")
        .filter((F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderkey") <= 200))
        .select(F.year("o_orderdate").alias("order_year"))
        .distinct()
    )
    dim_years.createOrReplaceTempView("ipt_dpp_years")
    fact = cat.read_table("lake.orders_by_year")
    fact.createOrReplaceTempView("ipt_dpp_fact")
    return spark.sql(
        """SELECT f.order_year, COUNT(*) AS n,
                  CAST(SUM(CAST(f.o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
           FROM ipt_dpp_fact f JOIN ipt_dpp_years y ON f.order_year = y.order_year
           GROUP BY f.order_year"""
    )


@register(
    "lake_branch_fast_forward",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_orderstatus AS status
      FROM orders WHERE o_orderkey <= 2000
    ), branch_commit AS (
      SELECT o_orderkey, o_custkey, 'B' AS status
      FROM orders WHERE o_orderkey > 4000 AND o_orderkey <= 6000
    )
    SELECT COALESCE(b.o_orderkey, c.o_orderkey) AS o_orderkey,
           COALESCE(c.o_custkey, b.o_custkey) AS o_custkey,
           COALESCE(c.status, b.status) AS status
    FROM base b FULL OUTER JOIN branch_commit c ON b.o_orderkey = c.o_orderkey
    """,
)
def lake_branch_fast_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Branch lifecycle under the hash gate: tag the base commit, branch from
    the tag, let MAIN diverge with a commit the branch never sees, commit to
    the branch, then ``fast_forward`` — main must show base + the branch's
    commit with the diverged commit discarded (Paimon's fast-forward
    contract). The oracle replays the surviving history as a keyed merge.

    Scale shape: branch create and fast-forward are pure manifest rewrites —
    no data file is copied or moved at any table size; the final read is the
    normal merge-on-read scan over the union of base and branch files.
    """
    cat = _fresh_catalog(spark)
    cat.create_database("lake")
    cat.create_table(
        "lake",
        "branched",
        [("o_orderkey", "bigint"), ("o_custkey", "bigint"), ("status", "string")],
        primary_key=["o_orderkey"],
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.col("o_orderstatus").alias("status")
    )
    cat.insert_into("lake", "branched", o.filter(F.col("o_orderkey") <= 2000))
    cat.create_tag("lake", "branched", "base")
    # main diverges — these rows must vanish after the fast-forward
    cat.insert_into(
        "lake", "branched",
        o.filter((F.col("o_orderkey") > 2000) & (F.col("o_orderkey") <= 4000)),
    )
    cat.sql("CALL sys.create_branch(table => 'lake.branched', branch => 'fix', tag => 'base')")
    cat.insert_into(
        "lake", "branched$branch_fix",
        o.filter((F.col("o_orderkey") > 4000) & (F.col("o_orderkey") <= 6000)).withColumn(
            "status", F.lit("B")
        ),
    )
    cat.sql("CALL sys.fast_forward(table => 'lake.branched', branch => 'fix')")
    return cat.read_table("lake.branched")


@register(
    "lake_stats_broadcast_join",
    oracle="""
    SELECT n.n_name, COUNT(*) AS n_cust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(9,2))) AS DOUBLE) AS total_bal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def lake_stats_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-backed CBO under the hash gate: the nation dim lives as a lake
    PK table, is ANALYZEd, and the join planned through ``cat.sql`` gets the
    statistics-driven broadcast hint (compile-time BroadcastHashJoin — Spark
    cannot size-estimate a merge-on-read plan, so without stats AQE only
    fixes this at runtime after a wasted shuffle). The hash gate proves the
    hint changes the PLAN, never the values; the plan itself is pinned in
    ``tests/test_consumers_stats.py::test_stats_drive_broadcast_decision``.

    Scale shape: dim broadcasts (25 rows), the customer side never shuffles
    before the partial aggregation — one exchange on n_name for the final
    agg. The reference provides no statistics at all
    (``TrinoMetadataBase.java:132-136``).
    """
    cat = _fresh_catalog(spark)
    cat.create_database("lake")
    cat.create_table(
        "lake",
        "nation_dim",
        [("n_nationkey", "bigint"), ("n_name", "string")],
        primary_key=["n_nationkey"],
    )
    cat.insert_into(
        "lake", "nation_dim", table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    cat.analyze("lake", "nation_dim")
    table(spark, sf_dir, "customer").createOrReplaceTempView("ipt_stats_customer_src")
    return cat.sql(
        """SELECT n.n_name, COUNT(*) AS n_cust,
                  CAST(SUM(CAST(c.c_acctbal AS DECIMAL(9,2))) AS DOUBLE) AS total_bal
           FROM ipt_stats_customer_src c
           JOIN lake.nation_dim n ON c.c_nationkey = n.n_nationkey
           GROUP BY n.n_name"""
    )


@register(
    "lake_deletion_vector_read",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey,
             CAST(o_totalprice AS DOUBLE) AS price,
             o_orderstatus AS status
      FROM orders WHERE o_orderkey <= 3000
    ), upd AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_custkey % 7 = 2 THEN price * 2 ELSE price END AS price,
             CASE WHEN o_custkey % 7 = 2 THEN 'V' ELSE status END AS status
      FROM base
    )
    SELECT o_orderkey, o_custkey, price, status FROM upd
    WHERE o_orderkey % 4 <> 0
    """,
)
def lake_deletion_vector_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-vector mode under the hash gate (Paimon's
    ``deletion-vectors.enabled``): a PK table where UPDATE marks the
    superseded row positions and DELETE commits pure metadata (no -D data
    rows, no file rewrite), then the final read must equal the oracle's
    replay of the same edits as SELECT algebra.

    Scale shape: the read is scan − DV — NO merge shuffle at all (plan
    pinned merge-free in ``tests/test_deletion_vectors.py``), so filters
    and projections push straight into the file scan like an append table;
    writes pay the key-lookup scan instead (Paimon's documented DV
    trade-off). ``price * 2`` is exact IEEE scaling, so the doubles hash
    identically in both engines. The reference connector reads DV tables
    through Paimon core; this is the executable write+read form
    (``common/TrinoSplitManagerBase.java`` scans carry no DV handling —
    negative finding, like DPP).
    """
    cat = _fresh_catalog(spark)
    cat.create_database("lake")
    cat.create_table(
        "lake",
        "dvt",
        [
            ("o_orderkey", "bigint"),
            ("o_custkey", "bigint"),
            ("price", "double"),
            ("status", "string"),
        ],
        primary_key=["o_orderkey"],
        options={
            "deletion-vectors.enabled": "true",
            # exercise the SHARDED index format (executor-written
            # per-bucket shards, dv_index.py) under the driver's hash gate —
            # threshold 0 shards from the first mark
            "dv-index.inline-threshold": "0",
            "dv-index.buckets": "4",
        },
    )
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 3000)
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_totalprice").cast("double").alias("price"),
            F.col("o_orderstatus").alias("status"),
        )
    )
    cat.insert_into("lake", "dvt", o)
    cat.sql("UPDATE lake.dvt SET price = price * 2, status = 'V' WHERE o_custkey % 7 = 2")
    cat.sql("DELETE FROM lake.dvt WHERE o_orderkey % 4 = 0")
    return cat.read_table("lake.dvt")


@register(
    "lake_dv_changelog_stream",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey,
             CAST(o_totalprice AS DOUBLE) AS price,
             o_orderstatus AS status
      FROM orders WHERE o_orderkey <= 3000
    )
    SELECT 'I' AS change, o_orderkey, o_custkey, price, status FROM base
    UNION ALL
    SELECT 'I', o_orderkey, o_custkey, price * 2, 'V'
    FROM base WHERE o_custkey % 7 = 2
    UNION ALL
    SELECT 'D', o_orderkey, o_custkey, price, status
    FROM base WHERE o_custkey % 7 = 2
    UNION ALL
    SELECT 'D', o_orderkey, o_custkey,
           CASE WHEN o_custkey % 7 = 2 THEN price * 2 ELSE price END,
           CASE WHEN o_custkey % 7 = 2 THEN 'V' ELSE status END
    FROM base WHERE o_orderkey % 4 = 0
    """,
)
def lake_dv_changelog_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC over a deletion-vectors table — the availableNow twin
    of the resumable retraction stream: deletes on a DV table are pure
    metadata, so the stream unions
    the data-file tail's +rows with retractions diffed from the tailed
    ``index/dv-*.json`` indexes, recovering each marked row's image by
    ``_metadata.row_index`` from ONLY the files the marks reference.

    The oracle replays the same edit history as SELECT algebra: +I = every
    insert image plus every update's new image; -D = every update's old
    image plus the delete's live-at-delete-time images.

    Scale shape: the +I side is the ordinary file tail (delta files only);
    the -D side's per-batch work is O(new marks) — the index JSONs are the
    stream, the static join re-opens only files holding deleted rows, and
    resume is a consumer-recorded snapshot position (metadata-only). The
    reference stores the changelog-producer DDL options without executing
    them (``common/TrinoTableOptionUtils.java:94-107``).
    """
    from incubator_paimon_trino_spark.streaming.changelog import (
        read_changelog_stream,
        run_to_completion,
    )

    cat = _fresh_catalog(spark)
    cat.create_database("lake")
    cat.create_table(
        "lake",
        "dvs",
        [
            ("o_orderkey", "bigint"),
            ("o_custkey", "bigint"),
            ("price", "double"),
            ("status", "string"),
        ],
        primary_key=["o_orderkey"],
        options={
            "deletion-vectors.enabled": "true",
            # exercise the SHARDED index format (executor-written
            # per-bucket shards, dv_index.py) under the driver's hash gate —
            # threshold 0 shards from the first mark
            "dv-index.inline-threshold": "0",
            "dv-index.buckets": "4",
        },
    )
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 3000)
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_totalprice").cast("double").alias("price"),
            F.col("o_orderstatus").alias("status"),
        )
    )
    cat.insert_into("lake", "dvs", o)
    cat.sql("UPDATE lake.dvs SET price = price * 2, status = 'V' WHERE o_custkey % 7 = 2")
    cat.sql("DELETE FROM lake.dvs WHERE o_orderkey % 4 = 0")
    stream = read_changelog_stream(cat, "lake.dvs")
    out = run_to_completion(stream, "lake_dv_changelog_stream_sink", "append")
    return out.select(
        F.col("_row_kind").alias("change"),
        "o_orderkey",
        "o_custkey",
        "price",
        "status",
    )


@register(
    "lake_manifest_changelog_stream",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey,
             CAST(o_totalprice AS DOUBLE) AS price,
             o_orderstatus AS status
      FROM orders WHERE o_orderkey <= 3000
    ), upd AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_custkey % 7 = 2 THEN price * 2 ELSE price END AS price,
             CASE WHEN o_custkey % 7 = 2 THEN 'V' ELSE status END AS status
      FROM base
    )
    SELECT 'I' AS change, o_orderkey, o_custkey, price, status FROM base
    UNION ALL
    SELECT 'I', o_orderkey, o_custkey, price, status
    FROM upd WHERE o_custkey % 7 = 2
    UNION ALL
    SELECT 'D', o_orderkey, o_custkey, price, status
    FROM base WHERE o_custkey % 7 = 2
    UNION ALL
    SELECT 'D', o_orderkey, o_custkey, price, status
    FROM upd WHERE o_orderkey % 4 = 0
    UNION ALL
    SELECT 'D', o_orderkey, o_custkey, price, status
    FROM upd WHERE o_orderkey % 4 <> 0 AND o_orderkey % 10 = 7
    """,
)
def lake_manifest_changelog_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MANIFEST-DRIVEN changelog source (Paimon's own source shape on
    Spark's Python DataSource API) across a history the file tail cannot
    stream correctly: insert → update → DV delete → **COMPACT** → second DV
    delete. Offsets are committed snapshot ids re-planned per trigger by the
    one commit-range planner (``plan_commits``), so the compaction, right
    after its predecessor, contributes NOTHING (rewrites are not writer
    input — a
    file tail would re-emit the whole live set here, and the hash gate
    would catch the surplus rows), and the post-compaction delete's marks
    are diffed against that commit's own file list. -D images are recovered
    executor-side by positional take on exactly the marked files.

    The oracle replays the history as SELECT algebra: +I = inserts + update
    new images; -D = update old images + each delete's live-at-delete-time
    images; the COMPACT commit adds no term.

    Scale shape: planning is metadata-only (snapshot + per-commit index
    JSON diffs, no cumulative state between triggers); executors read only
    planned delta files via Arrow, one file per task. See
    ``streaming/manifest_source.py`` for the full design and the
    documented 100 TB swaps.
    """
    from incubator_paimon_trino_spark.streaming.changelog import (
        read_changelog_stream,
        run_to_completion,
    )

    cat = _fresh_catalog(spark)
    cat.create_database("lake")
    cat.create_table(
        "lake",
        "mdvs",
        [
            ("o_orderkey", "bigint"),
            ("o_custkey", "bigint"),
            ("price", "double"),
            ("status", "string"),
        ],
        primary_key=["o_orderkey"],
        options={
            "deletion-vectors.enabled": "true",
            # exercise the SHARDED index format (executor-written
            # per-bucket shards, dv_index.py) under the driver's hash gate —
            # threshold 0 shards from the first mark
            "dv-index.inline-threshold": "0",
            "dv-index.buckets": "4",
        },
    )
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 3000)
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_totalprice").cast("double").alias("price"),
            F.col("o_orderstatus").alias("status"),
        )
    )
    cat.insert_into("lake", "mdvs", o)
    cat.sql("UPDATE lake.mdvs SET price = price * 2, status = 'V' WHERE o_custkey % 7 = 2")
    cat.sql("DELETE FROM lake.mdvs WHERE o_orderkey % 4 = 0")
    cat.compact("lake", "mdvs")  # pure rewrite: must contribute NOTHING
    cat.sql("DELETE FROM lake.mdvs WHERE o_orderkey % 10 = 7")
    stream = read_changelog_stream(cat, "lake.mdvs", source_mode="manifest")
    out = run_to_completion(stream, "lake_manifest_stream_sink", "append")
    return out.select(
        F.col("_row_kind").alias("change"),
        "o_orderkey",
        "o_custkey",
        "price",
        "status",
    )


@register(
    "lake_avro_roundtrip",
    oracle="""
    WITH base AS (
      SELECT s_suppkey, s_nationkey, CAST(s_acctbal AS DOUBLE) AS bal, s_name
      FROM supplier WHERE s_suppkey <= 600
    ), merged AS (
      SELECT s_suppkey, s_nationkey,
             CASE WHEN s_suppkey % 7 = 1 THEN bal + 1000 ELSE bal END AS bal,
             s_name
      FROM base
    )
    SELECT s_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(bal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM merged GROUP BY s_nationkey
    """,
)
def lake_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``file_format='AVRO'`` under the hash gate (the reference's
    third format, ``TrinoTableOptionUtils.java:96,111-112``): a
    partitioned avro PK table takes an insert plus an upsert and the
    merged read aggregates back to the oracle's replay. In this runtime
    the whole path runs on the pure-Python OCF codec
    (``formats/avro_ocf``) — executor-written container files, the
    ``paimon_files`` batch source, hive partition injection from the path,
    merge-on-read on top; with spark-avro present the same query runs on
    the JVM module. Decimal-cast sum for a deterministic double hash.

    Scale shape: the fallback is correctness-first (per-row Python
    encode/decode, documented); the FORMAT choice is per-table — mixed
    warehouses keep parquet/orc on the native vectorized readers.
    """
    cat = _fresh_catalog(spark)
    cat.create_database("lake")
    cat.create_table(
        "lake",
        "avrot",
        [
            ("s_suppkey", "bigint"),
            ("s_nationkey", "bigint"),
            ("bal", "double"),
            ("s_name", "string"),
        ],
        primary_key=["s_suppkey"],
        partitioned_by=["s_nationkey"],
        options={"file_format": "avro"},
    )
    s = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") <= 600)
        .select(
            "s_suppkey",
            F.col("s_nationkey").cast("bigint"),
            F.col("s_acctbal").cast("double").alias("bal"),
            "s_name",
        )
    )
    cat.insert_into("lake", "avrot", s)
    upd = s.filter(F.col("s_suppkey") % 7 == 1).withColumn(
        "bal", F.col("bal") + F.lit(1000.0)
    )
    cat.insert_into("lake", "avrot", upd)  # PK upsert through avro files
    return (
        cat.read_table("lake.avrot")
        .groupBy("s_nationkey")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("bal").cast("decimal(18,2)")).cast("double").alias("total_bal"),
        )
    )


@register(
    "lake_char_padded_read",
    oracle="""
    SELECT r_regionkey,
           CASE WHEN r_regionkey = 0 THEN NULL
                ELSE rpad(rtrim(substr(r_name, 1, 3)), 5, ' ') END AS code,
           CAST(CASE WHEN r_regionkey = 0 THEN NULL ELSE 5 END AS BIGINT) AS code_len,
           r_name AS name
    FROM region
    """,
)
def lake_char_padded_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAR(n) full fidelity under the hash gate (the reference's CHAR
    semantics, ``TrinoTypeUtils.java:77-90``; char values exercised at
    ``TestTrinoITCase.java:252, 272``): values insert WITH trailing blanks,
    store rtrimmed (so equality, footer stats, and groupBy keys are
    pad-insensitive — the char tests' long-standing property), and read
    back n-PADDED to the declared length, like the reference engine. The
    ``code_len`` column makes the padding itself part of the value hash;
    the NULL row pins that NULL never pads.

    Scale shape: one map-side rtrim+guard on write, one map-side rpad at
    the end of the read — no shuffle, no read-path predicate cost (the
    pad-insensitive predicate normalization runs on the storage form).
    """
    cat = _fresh_catalog(spark)
    cat.create_database("lake")
    cat.create_table(
        "lake",
        "chart",
        [("r_regionkey", "bigint"), ("code", "char(5)"), ("name", "string")],
        primary_key=["r_regionkey"],
    )
    r = table(spark, sf_dir, "region").select(
        "r_regionkey",
        # trailing blanks on the way in: storage must rtrim them
        F.when(
            F.col("r_regionkey") != 0, F.concat(F.substring("r_name", 1, 3), F.lit("  "))
        ).alias("code"),
        F.col("r_name").alias("name"),
    )
    cat.insert_into("lake", "chart", r)
    out = cat.read_table("lake.chart")
    return out.select(
        "r_regionkey",
        "code",
        F.length("code").cast("bigint").alias("code_len"),
        "name",
    )


@register(
    "lake_timestamp_precision",
    oracle="""
    SELECT event_id,
           strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S.%f') AS s0,
           strftime(date_trunc('millisecond', ts), '%Y-%m-%d %H:%M:%S.%f') AS s3,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS s6
    FROM events WHERE event_id < 2000
    """,
)
def lake_timestamp_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TIMESTAMP(0/3/6) declared-precision ladder
    (``TrinoTypeUtils.java:153-157``, value rows mirroring
    ``TestTrinoITCase.java:504-508``) under the hash gate: one lake table
    declares the same micro-precision event time at all three precisions;
    the write path canonicalizes each column to its declared precision (the
    CHAR-rtrim move), so the merged read's values — formatted to
    fixed-width micros for a byte-stable compare — must equal DuckDB's
    date_trunc replay. A TIMESTAMP(0/3) column surfacing ANY sub-precision
    digit hash-fails here.

    Scale shape: truncation is a map-side expression in the one write
    pass; reads carry no precision logic at all (values are canonical in
    the files, so footer stats, pruning, and predicates agree for free).
    """
    cat = _fresh_catalog(spark)
    cat.create_database("lake")
    cat.create_table(
        "lake",
        "ev_ts",
        [
            ("event_id", "bigint"),
            ("ts0", "timestamp(0)"),
            ("ts3", "timestamp(3)"),
            ("ts6", "timestamp(6)"),
        ],
    )
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 2000)
        .select(
            "event_id",
            F.col("ts").cast("timestamp_ntz").alias("ts0"),
            F.col("ts").cast("timestamp_ntz").alias("ts3"),
            F.col("ts").cast("timestamp_ntz").alias("ts6"),
        )
    )
    cat.insert_into("lake", "ev_ts", ev)
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return cat.read_table("lake.ev_ts").select(
        "event_id",
        F.date_format("ts0", fmt).alias("s0"),
        F.date_format("ts3", fmt).alias("s3"),
        F.date_format("ts6", fmt).alias("s6"),
    )


def _orders_two_commit_years(spark: SparkSession, sf_dir: str) -> "WarehouseCatalog":
    """Shared fixture for the $files/$partitions hash-gated queries: a
    year-partitioned lake table loaded in TWO commits with a deterministic
    file layout (each commit coalesced to one input partition, so every
    (commit, year) pair lands in exactly one data file)."""
    cat = _fresh_catalog(spark)
    cat.create_database("lake")
    cat.create_table(
        "lake",
        "orders_files",
        [("o_orderkey", "bigint"), ("order_year", "int")],
        partitioned_by=["order_year"],
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("order_year")
    )
    cat.insert_into("lake", "orders_files", o.filter(F.col("o_orderkey") <= 2000).coalesce(1))
    cat.insert_into(
        "lake",
        "orders_files",
        o.filter((F.col("o_orderkey") > 2000) & (F.col("o_orderkey") <= 4000)).coalesce(1),
    )
    return cat


@register(
    "lake_files_system_table",
    oracle="""
    SELECT 'order_year=' || CAST(year(o_orderdate) AS INT) AS partition,
           'parquet' AS file_format, CAST(0 AS BIGINT) AS schema_id,
           CAST(COUNT(*) AS BIGINT) AS record_count
    FROM orders WHERE o_orderkey <= 2000
    GROUP BY year(o_orderdate)
    UNION ALL
    SELECT 'order_year=' || CAST(year(o_orderdate) AS INT),
           'parquet', CAST(0 AS BIGINT), CAST(COUNT(*) AS BIGINT)
    FROM orders WHERE o_orderkey > 2000 AND o_orderkey <= 4000
    GROUP BY year(o_orderdate)
    """,
)
def lake_files_system_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``$files`` under the hash gate: the manifest-backed file inventory
    (A13 — the reference resolves any ``$suffix`` through Paimon's system
    tables, ``common/TrinoMetadataBase.java:138-156``). The fixture pins one
    file per (commit, partition), so every file-level row — hive partition
    spelling, format, schema id, per-file record count from the footer
    stats pass — is value-checked against the source data. The
    uuid-carrying ``path`` column is projected out (content-free).

    Scale shape: pure metadata — rows come from the manifests, no data file
    is opened ($files on a million-file table is a manifest scan)."""
    cat = _orders_two_commit_years(spark, sf_dir)
    return cat.read_table("lake.orders_files$files").select(
        "partition",
        "file_format",
        F.col("schema_id").cast("bigint").alias("schema_id"),
        F.col("record_count").cast("bigint").alias("record_count"),
    )


@register(
    "lake_partitions_system_table",
    oracle="""
    SELECT 'order_year=' || CAST(year(o_orderdate) AS INT) AS partition,
           CAST(COUNT(*) AS BIGINT) AS record_count,
           CAST(COUNT(DISTINCT CASE WHEN o_orderkey <= 2000 THEN 1 ELSE 2 END) AS BIGINT)
             AS file_count
    FROM orders WHERE o_orderkey <= 4000
    GROUP BY year(o_orderdate)
    """,
)
def lake_partitions_system_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``$partitions`` under the hash gate (A13): per-partition record and
    file counts aggregated from the manifests — the oracle recomputes the
    file count from which of the two commits touched each year. Pure
    metadata at any scale, like ``$files``."""
    cat = _orders_two_commit_years(spark, sf_dir)
    return cat.read_table("lake.orders_files$partitions").select(
        "partition",
        F.col("record_count").cast("bigint").alias("record_count"),
        F.col("file_count").cast("bigint").alias("file_count"),
    )


@register(
    "lake_consumer_incremental_dedup",
    oracle=r"""
    WITH fp AS (
      SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint
      FROM documents
    ),
    corpus_fp AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 2 = 1),
    new_batch AS (SELECT * FROM fp WHERE doc_id % 2 = 0)
    SELECT n.doc_id, n.fingerprint,
           CASE WHEN c.fingerprint IS NOT NULL THEN 'dup_of_corpus'
                WHEN n.doc_id <> MIN(n.doc_id) OVER (PARTITION BY n.fingerprint)
                  THEN 'dup_within_batch'
                ELSE 'novel' END AS status
    FROM new_batch n
    LEFT JOIN corpus_fp c ON c.fingerprint = n.fingerprint
    """,
)
def lake_consumer_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consumer-driven incremental dedup — consumers and incremental dedup
    composed into the daily-ingest pipeline shape: documents land in a lake
    PK table commit by commit, a durable consumer records how far dedup has
    processed, and each run dedups ONLY ``table_changelog(consumer_id=...)``
    (the unprocessed backlog) against the fingerprints of the already-
    consumed state, then advances the consumer.

    Scale shape: resume is metadata-only (one consumer JSON picks the
    snapshot range; the changelog scan touches only the backlog's delta
    files); the consumed corpus collapses to DISTINCT 32-byte fingerprints
    (in production the maintained index table); one equi-join keyed on the
    fingerprint — O(backlog + index) per run, never a corpus rescan.
    """
    from pyspark.sql import Window as W

    cat = _fresh_catalog(spark)
    cat.create_database("lake")
    cat.create_table(
        "lake", "docs", [("doc_id", "bigint"), ("text", "string")], primary_key=["doc_id"]
    )
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    cat.insert_into("lake", "docs", d.filter(F.col("doc_id") % 2 == 1))  # snapshot 1
    cat.insert_into("lake", "docs", d.filter(F.col("doc_id") % 2 == 0))  # snapshot 2
    cat.advance_consumer("lake", "docs", "dedup_job", 2)  # snapshot 1 processed

    fp = lambda df: F.md5(F.lower(F.regexp_replace(df["text"], r"\s+", " ")))  # noqa: E731
    consumed_upto = cat.consumer_progress("lake", "docs", "dedup_job") - 1
    corpus = cat.read_table("lake.docs", version_as_of=consumed_upto)
    corpus_fp = corpus.select(fp(corpus).alias("c_fingerprint")).distinct()
    backlog = cat.table_changelog("lake.docs", consumer_id="dedup_job", producer="input")
    new_batch = backlog.select("doc_id", fp(backlog).alias("fingerprint"), "_snapshot")
    # this run processed through the tip the changelog range was planned
    # against; checkpoint the consumer there (derived from the catalog, so
    # the registered query IS the production checkpoint logic)
    tip = cat.latest_snapshot_id("lake", "docs")
    cat.advance_consumer("lake", "docs", "dedup_job", tip + 1)
    w = W.partitionBy("fingerprint")
    return (
        new_batch.join(corpus_fp, new_batch.fingerprint == F.col("c_fingerprint"), "left")
        .withColumn(
            "status",
            F.when(F.col("c_fingerprint").isNotNull(), "dup_of_corpus")
            .when(F.col("doc_id") != F.min("doc_id").over(w), "dup_within_batch")
            .otherwise("novel"),
        )
        .select("doc_id", "fingerprint", "status")
    )


@register(
    "lake_metadata_min_max",
    oracle="""
    WITH src AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 10 = 0 THEN NULL
                  ELSE CAST(o_totalprice AS DOUBLE) END AS price,
             CAST(year(o_orderdate) AS INT) AS order_year
      FROM orders WHERE o_orderkey <= 4000
    )
    SELECT 'full' AS scope,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
           MIN(price) AS min_price, MAX(price) AS max_price,
           CAST(COUNT(price) AS BIGINT) AS cnt_price,
           MIN(order_year) AS min_year, MAX(order_year) AS max_year
    FROM src
    UNION ALL
    SELECT 'y1995',
           CAST(MIN(o_orderkey) AS BIGINT), CAST(MAX(o_orderkey) AS BIGINT),
           MIN(price), MAX(price), CAST(COUNT(price) AS BIGINT),
           MIN(order_year), MAX(order_year)
    FROM src WHERE order_year = 1995
    """,
)
def lake_metadata_min_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only MIN/MAX/COUNT(col) under the hash gate — the completion
    of ``lake_metadata_count``'s aggregate pushdown: the per-file footer
    stats that drive scan pruning answer the extremes exactly, under the
    same A8 exactly-decided guard (append-only table, partition-only
    predicate, every surviving file carrying stats for the column; string
    columns always fall back — writer-truncated footer stats prune but never
    answer). Two scopes: the full table and a partition-pruned slice; a
    nullable double exercises the null-ignoring count. No data file is
    opened (plan pinned scan-free in tests/test_plan_quality.py); the
    reference has no ``applyAggregation`` at all.
    """
    from incubator_paimon_trino_spark.functions.predicates import ColumnDomain

    cat = _fresh_catalog(spark)
    cat.create_database("lake")
    cat.create_table(
        "lake",
        "om",
        [("o_orderkey", "bigint"), ("price", "double"), ("order_year", "int")],
        partitioned_by=["order_year"],
    )
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 4000)
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 10 == 0, F.lit(None))
            .otherwise(F.col("o_totalprice").cast("double"))
            .alias("price"),
            F.year("o_orderdate").alias("order_year"),
        )
    )
    cat.insert_into("lake", "om", o)
    cols = ["o_orderkey", "price", "order_year"]
    pred = [ColumnDomain("order_year", op="=", value=1995)]
    # the metadata path must answer both scopes — the fixture satisfies the
    # guard by construction, so a None here is a regression, not a fallback
    assert cat.metadata_min_max("lake.om", cols) is not None
    assert cat.metadata_min_max("lake.om", cols, predicate=pred) is not None

    def shaped(df: DataFrame, scope: str) -> DataFrame:
        return df.select(
            F.lit(scope).alias("scope"),
            F.col("min_o_orderkey").alias("min_key"),
            F.col("max_o_orderkey").alias("max_key"),
            F.col("min_price"),
            F.col("max_price"),
            F.col("count_price").alias("cnt_price"),
            F.col("min_order_year").alias("min_year"),
            F.col("max_order_year").alias("max_year"),
        )

    full = shaped(cat.column_extremes("lake.om", cols), "full")
    y1995 = shaped(cat.column_extremes("lake.om", cols, predicate=pred), "y1995")
    return full.unionByName(y1995)


@register(
    "lake_metadata_count",
    oracle="""
    SELECT 'full' AS scope, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM orders WHERE o_orderkey <= 4000
    UNION ALL
    SELECT 'y1995', CAST(COUNT(*) AS BIGINT)
    FROM orders WHERE o_orderkey <= 4000 AND year(o_orderdate) = 1995
    UNION ALL
    SELECT 'dv_nation', CAST(COUNT(*) AS BIGINT)
    FROM nation WHERE n_nationkey % 5 <> 0
    """,
)
def lake_metadata_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only COUNT(*) under the hash gate — aggregate pushdown the
    reference lacks entirely (no ``applyAggregation`` in
    ``common/TrinoMetadataBase.java``; its count(*) scans every row). Three
    scopes, none opening a data file: a full append-table count (manifest
    record-count sum), a partition-predicate count (pruned manifest sum,
    sound under the A8 exactly-decided guard), and a deletion-vector PK
    table after deletes (snapshot-tracked live count, O(1)). The plan is
    pinned scan-free in tests/test_plan_quality.py.
    """
    from incubator_paimon_trino_spark.functions.predicates import ColumnDomain

    cat = _orders_two_commit_years(spark, sf_dir)
    full = cat.metadata_row_count("lake.orders_files")
    y1995 = cat.metadata_row_count(
        "lake.orders_files", predicate=[ColumnDomain("order_year", op="=", value=1995)]
    )
    cat.create_table(
        "lake",
        "nation_dv",
        [("n_nationkey", "bigint"), ("n_name", "string")],
        primary_key=["n_nationkey"],
        options={"deletion-vectors.enabled": "true"},
    )
    cat.insert_into(
        "lake", "nation_dv", table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    cat.delete_where("lake", "nation_dv", F.col("n_nationkey") % 5 == 0)
    dv_cnt = cat.metadata_row_count("lake.nation_dv")
    assert full is not None and y1995 is not None and dv_cnt is not None
    return spark.createDataFrame(
        [("full", full), ("y1995", y1995), ("dv_nation", dv_cnt)], "scope string, cnt bigint"
    )


from incubator_paimon_trino_spark.operators.dedup import (  # noqa: E402
    _INCR_MINHASH_ORACLE,
    _md5_bands,
    _md5_est,
    _md5_signatures_of,
    _minhash_verdicts,
)
from incubator_paimon_trino_spark.operators.clustering import (  # noqa: E402
    _IVF_KMEANS_ORACLE,
)


@register("streaming_incremental_minhash", oracle=_INCR_MINHASH_ORACLE)
def streaming_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental near-dup — the incremental MinHash probe fed
    from a LIVE changelog stream with consumer checkpointing, closing the
    loop between the resumable stream and the incremental trio: the corpus
    (doc_id % 10 != 0) is ingested into a lake PK table and its band index
    built once from the consumed state; the new batch (doc_id % 10 = 0)
    lands as a later commit and arrives via ``read_changelog_stream(
    consumer_id=...)``; each micro-batch signs its documents, probes the
    corpus (band, bkey) index, appends its verdicts to the sink, and
    advances the consumer to (max _seq seen) + 1 — exactly the
    ``write_stream_to_table`` checkpoint discipline, so a crash replays the
    batch (at-least-once) but never skips one. Shares its oracle with
    ``dedup_incremental_minhash_md5``: the stream-fed pipeline must produce
    byte-identical verdicts to the batch probe over the same split.

    Scale shape: the stream reads only the backlog commits' delta files;
    the corpus side is its persisted ~4-skinny-rows/doc band index (a
    maintained lake table in production — here persisted across batches);
    per batch one equi-join on (band, bkey), O(batch + matching buckets),
    never a corpus text rescan.
    """
    from incubator_paimon_trino_spark.streaming.changelog import read_changelog_stream

    cat = _fresh_catalog(spark)
    cat.create_database("lake")
    cat.create_table(
        "lake", "docs_nd", [("doc_id", "bigint"), ("text", "string")], primary_key=["doc_id"]
    )
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    cat.insert_into("lake", "docs_nd", d.filter(F.col("doc_id") % 10 != 0))  # corpus
    # corpus consumed through the current tip (derived, not a literal — the
    # registered query carries the production checkpoint logic)
    cat.advance_consumer(
        "lake", "docs_nd", "neardup", cat.latest_snapshot_id("lake", "docs_nd") + 1
    )
    cat.insert_into("lake", "docs_nd", d.filter(F.col("doc_id") % 10 == 0))  # new batch

    consumed = cat.consumer_progress("lake", "docs_nd", "neardup") - 1
    corpus = cat.read_table("lake.docs_nd", version_as_of=consumed).select("doc_id", "text")
    corpus_sigs = _md5_signatures_of(corpus).persist()
    corpus_index = _md5_bands(corpus_sigs).persist()  # the maintained index

    outdir = tempfile.mkdtemp(prefix="ipt_neardup_out_")

    def probe(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            tip = batch_df.agg(F.max("_seq")).collect()[0][0]
            docs = batch_df.select("doc_id", "text")
            sigs_n = _md5_signatures_of(docs)
            cand = (
                _md5_bands(sigs_n)
                .join(
                    corpus_index.select(
                        F.col("doc_id").alias("cand_id"), "band", "bkey"
                    ),
                    ["band", "bkey"],
                )
                .select("doc_id", "cand_id")
                .dropDuplicates()
            )
            sn = sigs_n.select("doc_id", F.col("sig").alias("sig_n"))
            sc = corpus_sigs.select(F.col("doc_id").alias("cand_id"), F.col("sig").alias("sig_c"))
            hits = (
                cand.join(sn, "doc_id")
                .join(sc, "cand_id")
                .withColumn("est_jaccard", _md5_est("sig_n", "sig_c"))
                .filter(F.col("est_jaccard") >= 0.5)
            )
            _minhash_verdicts(docs, hits).write.mode("append").parquet(outdir)
            # checkpoint AFTER the sink write lands (at-least-once, never a gap)
            cat.advance_consumer("lake", "docs_nd", "neardup", int(tip) + 1)
        finally:
            batch_df.unpersist()

    stream = read_changelog_stream(cat, "lake.docs_nd", consumer_id="neardup")
    try:
        q = (
            stream.writeStream.foreachBatch(probe)
            .queryName("streaming_incremental_minhash_sink")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="ipt_neardup_ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        # release even on a failed stream, so sweep memory stays flat as
        # the registry grows
        corpus_sigs.unpersist()
        corpus_index.unpersist()
    return spark.read.parquet(outdir)


def probe_band_index(cat: "WarehouseCatalog", docs: DataFrame) -> DataFrame:
    """Near-dup verdicts for a batch of ``(doc_id, text)`` against the
    MAINTAINED ``lake.band_idx`` / ``lake.sig_idx`` lake tables — the probe
    side of the production swap: candidates come from one equi-join of
    the batch's bands against ``cat.read_table`` of the index table, and
    verification signatures come from the signature table. The corpus TEXT
    is never read (plan-pinned in ``tests/test_plan_quality.py``): at
    100 TB the index tables are the only corpus-sized state the probe
    touches, ~4 skinny rows + one signature row per document."""
    sigs_n = _md5_signatures_of(docs)
    idx = cat.read_table("lake.band_idx").select(
        F.col("doc_id").alias("cand_id"), "band", "bkey"
    )
    cand = (
        _md5_bands(sigs_n)
        .join(idx, ["band", "bkey"])
        .select("doc_id", "cand_id")
        .dropDuplicates()
    )
    sn = sigs_n.select("doc_id", F.col("sig").alias("sig_n"))
    sc = cat.read_table("lake.sig_idx").select(
        F.col("doc_id").alias("cand_id"), F.col("sig").alias("sig_c")
    )
    hits = (
        cand.join(sn, "doc_id")
        .join(sc, "cand_id")
        .withColumn("est_jaccard", _md5_est("sig_n", "sig_c"))
        .filter(F.col("est_jaccard") >= 0.5)
    )
    return _minhash_verdicts(docs, hits)


@register("streaming_band_index_maintained", oracle=_INCR_MINHASH_ORACLE)
def streaming_band_index_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The band index as a MAINTAINED LAKE TABLE — making the scale
    story every incremental probe cites real instead of session-persisted:
    a maintenance stream tails the corpus table's changelog and UPSERTS
    each micro-batch's band rows into ``lake.band_idx`` (PK ``(doc_id,
    band)``) and its signatures into ``lake.sig_idx`` (PK ``doc_id``),
    advancing its consumer only after both sink commits land
    (checkpoint-after-sink, at-least-once; upserts make the replay
    idempotent). The probe stream then answers near-dup verdicts for the
    new batch from ``cat.read_table`` of those index tables —
    ``probe_band_index`` above — never from the corpus text. Shares its
    oracle with ``dedup_incremental_minhash_md5``: index-table
    indirection must be byte-invisible in the verdicts.

    Scale shape: index maintenance is one signature pass per NEW batch
    (never a corpus rescan) landing as ordinary PK upserts; the probe is
    one equi-join on (band, bkey) against a 4-rows/doc table plus one
    signature fetch join; resume on both sides is a consumer JSON. A crash
    between the two index inserts replays the batch — same-key upserts
    converge, the standard lake-sink idempotence argument.
    """
    from incubator_paimon_trino_spark.streaming.changelog import read_changelog_stream

    cat = _fresh_catalog(spark)
    cat.create_database("lake")
    cat.create_table(
        "lake", "docs_bim", [("doc_id", "bigint"), ("text", "string")], primary_key=["doc_id"]
    )
    cat.create_table(
        "lake",
        "band_idx",
        [("doc_id", "bigint"), ("band", "int"), ("bkey", "string")],
        primary_key=["doc_id", "band"],
    )
    cat.create_table(
        "lake", "sig_idx", [("doc_id", "bigint"), ("sig", "array<bigint>")],
        primary_key=["doc_id"],
    )
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    cat.insert_into("lake", "docs_bim", d.filter(F.col("doc_id") % 10 != 0))  # corpus

    def maintain(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            tip = batch_df.agg(F.max("_seq")).collect()[0][0]
            sigs = _md5_signatures_of(batch_df.select("doc_id", "text")).persist()
            try:
                cat.insert_with_retries("lake", "sig_idx", sigs)
                cat.insert_with_retries("lake", "band_idx", _md5_bands(sigs))
                # advance only after BOTH index commits are durable
                cat.advance_consumer(
                    "lake", "docs_bim", "bandix", int(tip) + 1, strict=False
                )
            finally:
                sigs.unpersist()
        finally:
            batch_df.unpersist()

    mq = (
        read_changelog_stream(cat, "lake.docs_bim", consumer_id="bandix")
        .writeStream.foreachBatch(maintain)
        .queryName("band_index_maintenance")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ipt_bandix_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    mq.awaitTermination()

    # probe pipeline: corpus already consumed; the new batch lands later
    cat.advance_consumer(
        "lake", "docs_bim", "probe", cat.latest_snapshot_id("lake", "docs_bim") + 1
    )
    cat.insert_into("lake", "docs_bim", d.filter(F.col("doc_id") % 10 == 0))

    outdir = tempfile.mkdtemp(prefix="ipt_bandprobe_out_")

    def probe(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            tip = batch_df.agg(F.max("_seq")).collect()[0][0]
            out = probe_band_index(cat, batch_df.select("doc_id", "text"))
            out.write.mode("append").parquet(outdir)
            cat.advance_consumer("lake", "docs_bim", "probe", int(tip) + 1, strict=False)
        finally:
            batch_df.unpersist()

    pq_ = (
        read_changelog_stream(cat, "lake.docs_bim", consumer_id="probe")
        .writeStream.foreachBatch(probe)
        .queryName("band_index_probe")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ipt_bandprobe_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    pq_.awaitTermination()
    return spark.read.parquet(outdir)


@register("streaming_vector_index_maintained", oracle=_IVF_KMEANS_ORACLE)
def streaming_vector_index_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VECTOR index as maintained lake state — the embedding twin
    of ``streaming_band_index_maintained``, completing the production
    story for the ANN/semantic-dedup family: the trained k-means model is
    PUBLISHED as a lake table (``vec_centroids``, k rows of integer
    centroids — one commit, the model-release step), the corpus lands in a
    PK source table, and a maintenance stream assigns each micro-batch
    against the published model (broadcast k×d ints) and upserts
    (vec_id, cell) into the ``cell_idx`` PK table,
    consumer-checkpointed after the sink commit. The probe then answers
    trained-IVF ANN entirely from ``cat.read_table`` of the three lake
    tables — centroids ranked by exact integer distance, candidates from
    an equi-join on the maintained cell index, exact cosine top-k — and
    shares ``ann_ivf_kmeans_probe``'s oracle: the lake-table indirection
    must be value-invisible.

    Scale shape: maintenance is O(new batch) per run (assignment is a
    broadcast + narrow fold, the sink an ordinary PK upsert); the probe
    reads k centroid rows, the probed cells' skinny index rows, and only
    candidate vectors — never the raw corpus file (plan-pinned). Resume on
    both sides is a consumer JSON; replays converge by PK upsert
    idempotence. At 100 TB this is the lakehouse vector-index layout:
    model, assignments, and vectors are all tables with snapshots, time
    travel, and branches for free.
    """
    from incubator_paimon_trino_spark.operators.clustering import (
        _IVF_NQ,
        _SCALE,
        _assign,
        _ivf_probe_topk,
        _trained_cells,
    )
    from incubator_paimon_trino_spark.operators.similarity import _dot
    from incubator_paimon_trino_spark.streaming.changelog import read_changelog_stream

    cat = _fresh_catalog(spark)
    cat.create_database("lake")
    cat.create_table(
        "lake", "vecs_src", [("vec_id", "bigint"), ("emb", "array<double>")],
        primary_key=["vec_id"],
    )
    cat.create_table(
        "lake", "vec_centroids", [("cell", "int"), ("c", "array<bigint>")],
        primary_key=["cell"],
    )
    cat.create_table(
        "lake", "cell_idx", [("vec_id", "bigint"), ("cell", "int")],
        primary_key=["vec_id"],
    )

    # train on the corpus, publish the model as ONE lake commit
    _, cents, _ = _trained_cells(spark, sf_dir)
    cat.insert_into("lake", "vec_centroids", cents.select(F.col("cell").cast("int").alias("cell"), "c"))
    # corpus lands in the lake source table (same doubles the oracle casts)
    cat.insert_into(
        "lake", "vecs_src",
        table(spark, sf_dir, "embeddings").select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
        ),
    )

    quant = F.expr(f"transform(emb, x -> CAST(round(x * {_SCALE}) AS BIGINT))")

    def maintain(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            tip = batch_df.agg(F.max("_seq")).collect()[0][0]
            qv = batch_df.select("vec_id", quant.alias("q"))
            cents_t = cat.read_table("lake.vec_centroids").select("cell", "c")
            assigned = _assign(qv, cents_t).select(
                "vec_id", F.col("cell").cast("int").alias("cell")
            )
            cat.insert_with_retries("lake", "cell_idx", assigned)
            cat.advance_consumer(
                "lake", "vecs_src", "vecidx", int(tip) + 1, strict=False
            )
        finally:
            batch_df.unpersist()

    mq = (
        read_changelog_stream(cat, "lake.vecs_src", consumer_id="vecidx")
        .writeStream.foreachBatch(maintain)
        .queryName("vector_index_maintenance")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ipt_vecidx_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    mq.awaitTermination()

    # ---- probe: ONLY the maintained lake tables from here on, through
    # the ONE shared probe definition (_ivf_probe_topk — no copy to drift)
    src = cat.read_table("lake.vecs_src")
    cents_t = cat.read_table("lake.vec_centroids").select("cell", "c")
    q = src.filter(F.col("vec_id") < _IVF_NQ).select(
        F.col("vec_id").alias("query_id"), quant.alias("qq")
    )
    with_norm = src.withColumn("norm", F.sqrt(_dot(F.col("emb"), F.col("emb"))))
    corpus = (
        cat.read_table("lake.cell_idx")
        .join(with_norm, "vec_id")
        .select(
            F.col("vec_id").alias("neighbor_id"), "cell",
            F.col("emb").alias("ne"), F.col("norm").alias("nn"),
        )
    )
    qe = with_norm.select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe"),
        F.col("norm").alias("qn"),
    )
    return _ivf_probe_topk(q, cents_t, corpus, qe)


@register(
    "lake_dv_cdc_pipeline",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey,
             CAST(o_totalprice AS DOUBLE) AS price,
             o_orderstatus AS status
      FROM orders WHERE o_orderkey <= 3000
    ), upd AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_custkey % 7 = 2 THEN price * 2 ELSE price END AS price,
             CASE WHEN o_custkey % 7 = 2 THEN 'V' ELSE status END AS status
      FROM base
    )
    SELECT o_orderkey, o_custkey, price, status FROM upd
    WHERE o_orderkey % 4 <> 0
    """,
)
def lake_dv_cdc_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end CDC over deletion vectors — the DV retraction stream
    CLOSED INTO A SINK: a DV source takes upserts and a pure-metadata
    DELETE; ``read_changelog_stream`` turns its DV indexes into +rows/-D;
    ``fold_changelog`` collapses each micro-batch to one winner per key
    (delete outranks the image it retracts at equal ``_seq``); the fold
    upserts into a DOWNSTREAM PK mirror through the transactional write
    path, and the source's consumer advances after each durable sink
    commit. The mirror's merged read must equal the source's merged state —
    the oracle is the SAME edit-replay SELECT as ``lake_deletion_vector_read``,
    so the whole pipeline (DV write → index tail → retraction recovery →
    CDC fold → merge-on-read) is value-hash-checked in one query.

    Scale shape: the stream reads backlog delta files + DV indexes only;
    the fold is one hash shuffle on the key (the partitioning the sink's
    merge reuses); resume is a consumer JSON. This is the lake-to-lake
    mirror topology a 100 TB CDC deployment runs.
    """
    from incubator_paimon_trino_spark.streaming.changelog import (
        fold_changelog,
        read_changelog_stream,
    )

    cat = _fresh_catalog(spark)
    cat.create_database("lake")
    cols = [
        ("o_orderkey", "bigint"),
        ("o_custkey", "bigint"),
        ("price", "double"),
        ("status", "string"),
    ]
    cat.create_table(
        "lake", "dvt_src", cols, primary_key=["o_orderkey"],
        options={
            "deletion-vectors.enabled": "true",
            # exercise the SHARDED index format (executor-written
            # per-bucket shards, dv_index.py) under the driver's hash gate —
            # threshold 0 shards from the first mark
            "dv-index.inline-threshold": "0",
            "dv-index.buckets": "4",
        },
    )
    cat.create_table("lake", "mirror", cols, primary_key=["o_orderkey"])
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 3000)
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_totalprice").cast("double").alias("price"),
            F.col("o_orderstatus").alias("status"),
        )
    )
    cat.insert_into("lake", "dvt_src", o)
    cat.sql("UPDATE lake.dvt_src SET price = price * 2, status = 'V' WHERE o_custkey % 7 = 2")
    cat.sql("DELETE FROM lake.dvt_src WHERE o_orderkey % 4 = 0")

    def apply_cdc(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            # tip = max COMMIT position: a DV retraction's _seq is the OLD
            # image's (possibly below the consumer), its commit rides in
            # _dv_ver — a retraction-only batch must still advance
            tip = batch_df.agg(
                F.greatest(F.max("_seq"), F.max("_dv_ver"))
            ).collect()[0][0]
            cat.insert_with_retries(
                "lake", "mirror", fold_changelog(batch_df, ["o_orderkey"])
            )
            # checkpoint AFTER the sink commit (at-least-once, never a gap);
            # non-strict: a replayed batch's stale tip is a no-op
            cat.advance_consumer(
                "lake", "dvt_src", "mirror", int(tip) + 1, strict=False
            )
        finally:
            batch_df.unpersist()

    stream = read_changelog_stream(cat, "lake.dvt_src", consumer_id="mirror")
    q = (
        stream.writeStream.foreachBatch(apply_cdc)
        .queryName("lake_dv_cdc_pipeline_sink")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ipt_dvcdc_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return cat.read_table("lake.mirror")


@register(
    "lake_bloom_index_point_lookup",
    oracle="""
    SELECT o_orderkey,
           md5(CAST(o_orderkey AS VARCHAR)) AS uid,
           o_totalprice
    FROM orders
    WHERE md5(CAST(o_orderkey AS VARCHAR)) IN (md5('1'), md5('5'), md5('7'))
    ORDER BY o_orderkey
    """,
)
def lake_bloom_index_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter file index (Paimon ``file-index.bloom-filter.columns``;
    the scan seam the reference hands its pushed predicate to —
    ``common/TrinoSplitManagerBase.java:44-48``): a synthetic uid column
    (md5 of the order key) is high-cardinality and arrival-ordered, so every
    file's min/max spans the whole hex range and stats pruning keeps
    everything — the per-file bloom sidecar is what skips. Three commits
    slice the orders by ``o_orderkey % 3``; the IN-probe's keys (1, 5, 7)
    land in two of the three files, so the planned scan provably drops the
    third (pinned in tests/test_file_index.py) while the result hash must
    still equal DuckDB's replay over the raw parquet.

    Scale shape: the build is one column-pruned distributed pass per commit
    over only that commit's files; the probe is metadata-sized per candidate
    file (fanned out as a Spark job above 64 candidates). At 100 TB a point
    lookup on an indexed column opens the files that may hold the value —
    not the table.
    """
    from incubator_paimon_trino_spark.functions.predicates import ColumnDomain

    cat = _fresh_catalog(spark)
    cat.create_database("lake")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.md5(F.col("o_orderkey").cast("string")).alias("uid"),
        "o_totalprice",
    )
    # size the filter from the data: a fixed items count saturates once a
    # commit's distinct uids exceed it (fill → 1, every probe a false
    # positive) — per-file sizing is exactly what the option exists for
    items = max(10_000, o.count())
    cat.create_table(
        "lake",
        "orders_uid",
        [("o_orderkey", "bigint"), ("uid", "string"), ("o_totalprice", "double")],
        options={
            "file-index.bloom-filter.columns": "uid",
            "file-index.bloom-filter.items": str(items),
            "file-index.bloom-filter.fpp": "0.02",
        },
    )
    for r in range(3):
        cat.insert_into("lake", "orders_uid", o.filter(F.col("o_orderkey") % 3 == r))
    import hashlib

    vals = [hashlib.md5(s.encode()).hexdigest() for s in ("1", "5", "7")]
    out = cat.read_table(
        "lake.orders_uid", predicate=[ColumnDomain("uid", in_values=vals)]
    )
    return out.orderBy("o_orderkey")


@register(
    "lake_bitmap_index_lookup",
    oracle="""
    SELECT o_orderkey, o_orderpriority
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
    ORDER BY o_orderkey
    """,
)
def lake_bitmap_index_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap file index (Paimon ``file-index.bitmap.columns``) for
    low-cardinality columns: each sidecar holds the file's exact distinct
    value-hash set, so equality/IN probes skip files with zero false
    positives (the bloom kind trades exactness for fixed size). Commits are
    sliced by priority class, so files genuinely lack the probed value and
    the planned scan opens only the matching slice — at the connector seam
    this is Paimon's bitmap-index file skipping at file granularity
    (documented coarsening: Paimon also positions rows inside the file).
    """
    from incubator_paimon_trino_spark.functions.predicates import ColumnDomain

    cat = _fresh_catalog(spark)
    cat.create_database("lake")
    cat.create_table(
        "lake",
        "orders_prio",
        [("o_orderkey", "bigint"), ("o_orderpriority", "string")],
        options={"file-index.bitmap.columns": "o_orderpriority"},
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    for pri in ("1-URGENT|2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED|5-LOW"):
        cat.insert_into(
            "lake",
            "orders_prio",
            o.filter(F.col("o_orderpriority").isin(*pri.split("|"))),
        )
    out = cat.read_table(
        "lake.orders_prio",
        predicate=[ColumnDomain("o_orderpriority", op="=", value="1-URGENT")],
    )
    return out.orderBy("o_orderkey")


@register(
    "lake_zorder_compacted_scan",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(EXTRACT(doy FROM o_orderdate) AS BIGINT) AS order_doy,
           o_totalprice
    FROM orders
    WHERE o_custkey BETWEEN 100 AND 200
      AND EXTRACT(doy FROM o_orderdate) BETWEEN 100 AND 150
    ORDER BY o_orderkey
    """,
)
def lake_zorder_compacted_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order sort compaction (Paimon ``CALL sys.compact(...,
    order_strategy => 'zorder')``) through the oracle gate: orders scatter
    as (custkey, day-of-year) points, three interleaved commits each span
    the full 2-D domain, so BOTH single-dimension predicates plan every
    file; after the zorder rewrite the per-file min/max are tight boxes in
    both dimensions and each dimension prunes on its own — asserted
    in-query on the metadata-only scan plan, the property lexicographic
    sort compaction cannot deliver for the trailing column. The Morton key
    is built from built-in width_bucket/shift/or expressions (whole-stage
    codegen, no UDF) and never lands in the files.

    Scale shape: the rewrite is one repartitionByRange on the key (the
    same shuffle a plain sort compaction pays) plus one scalar min/max
    agg; at 100 TB a dashboard's 2-D box query opens O(box volume) files
    instead of O(table).
    """
    from incubator_paimon_trino_spark.functions.predicates import ColumnDomain, Range

    cat = _fresh_catalog(spark)
    cat.create_database("lake")
    cat.create_table(
        "lake",
        "orders_z",
        [
            ("o_orderkey", "bigint"),
            ("o_custkey", "bigint"),
            ("order_doy", "bigint"),
            ("o_totalprice", "double"),
        ],
        options={"clustering_partitions": "8"},
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.dayofyear("o_orderdate").cast("bigint").alias("order_doy"),
        "o_totalprice",
    )
    for r in range(3):
        cat.insert_into("lake", "orders_z", o.filter(F.col("o_orderkey") % 3 == r))
    pred_cust = [ColumnDomain("o_custkey", ranges=[Range(low=100, high=200)])]
    pred_doy = [ColumnDomain("order_doy", ranges=[Range(low=100, high=150)])]
    # before: interleaved commits span the domain — nothing prunes
    assert len(cat.scan_plan("lake.orders_z", predicate=pred_doy)) == len(
        cat.scan_plan("lake.orders_z")
    )
    cat.sql(
        "CALL sys.compact(table => 'lake.orders_z', order_strategy => 'zorder', "
        "order_by => 'o_custkey,order_doy')"
    )
    n_files = len(cat.scan_plan("lake.orders_z"))
    # after: EACH dimension prunes alone — the multi-dimensional property
    assert len(cat.scan_plan("lake.orders_z", predicate=pred_cust)) < n_files
    assert len(cat.scan_plan("lake.orders_z", predicate=pred_doy)) < n_files
    out = cat.read_table("lake.orders_z", predicate=pred_cust + pred_doy)
    return out.orderBy("o_orderkey")


@register(
    "lake_dynamic_file_pruning",
    oracle="""
    WITH f AS (
      SELECT o_orderkey, md5(CAST(o_orderkey AS VARCHAR)) AS uid, o_totalprice
      FROM orders
    ), d AS (
      SELECT DISTINCT md5(CAST(o_orderkey AS VARCHAR)) AS uid
      FROM orders WHERE o_orderkey <= 64 AND o_orderpriority = '1-URGENT'
    )
    SELECT f.o_orderkey, f.uid, f.o_totalprice
    FROM f JOIN d ON f.uid = d.uid
    ORDER BY f.o_orderkey
    """,
)
def lake_dynamic_file_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic FILE pruning (the file-level twin of
    ``lake_dynamic_partition_pruning``; the reference leaves its
    dynamicFilter TODO unimplemented — ``TrinoSplitManagerBase.java:38-39``):
    an equi-join against a tiny dimension collects the dim's distinct keys
    (bounded — the same smallness contract that makes it the broadcast side)
    and pushes them through every file-skipping rung, including the bloom
    sidecars, BEFORE the fact scan plans. The uid column is md5-random, so
    min/max stats span everything and only the file index can skip —
    asserted in-query: the pruned plan opens strictly fewer files than the
    full scan. At 100 TB a dim-driven point-set join opens the handful of
    fact files holding matches, not the table.
    """
    from incubator_paimon_trino_spark.functions.predicates import ColumnDomain

    cat = _fresh_catalog(spark)
    cat.create_database("lake")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.md5(F.col("o_orderkey").cast("string")).alias("uid"),
        "o_totalprice",
    )
    # sized from the data so the in-query strictly-fewer-files assert holds
    # at ANY scale factor: a saturated filter answers "maybe" for everything
    items = max(10_000, o.count())
    cat.create_table(
        "lake",
        "orders_dfp",
        [("o_orderkey", "bigint"), ("uid", "string"), ("o_totalprice", "double")],
        options={
            "file-index.bloom-filter.columns": "uid",
            "file-index.bloom-filter.items": str(items),
            "file-index.bloom-filter.fpp": "0.01",
        },
    )
    # commit 0 holds EVERY dim key (orderkey <= 64); six more commits hold
    # none — so the pruned plan must collapse to commit 0's file(s) plus at
    # most a bloom false positive, while uid min/max (md5-random) spans the
    # full hex range in every file and can never skip
    cat.insert_into("lake", "orders_dfp", o.filter(F.col("o_orderkey") <= 64))
    for r in range(6):
        cat.insert_into(
            "lake",
            "orders_dfp",
            o.filter((F.col("o_orderkey") > 64) & ((F.col("o_orderkey") - 65) % 6 == r)),
        )
    dim = (
        table(spark, sf_dir, "orders")
        .filter((F.col("o_orderkey") <= 64) & (F.col("o_orderpriority") == "1-URGENT"))
        .select(F.md5(F.col("o_orderkey").cast("string")).alias("uid"))
        .distinct()
    )
    # in-query pin: the key-pruned plan opens strictly fewer files
    keys = [r.uid for r in dim.collect()]
    assert keys, "fixture regression: no urgent orders below orderkey 65"
    n_all = len(cat.scan_plan("lake.orders_dfp"))
    n_pruned = len(
        cat.scan_plan("lake.orders_dfp", predicate=[ColumnDomain("uid", in_values=keys)])
    )
    assert 0 < n_pruned < n_all, (n_pruned, n_all)
    fact = cat.scan_pruned_by_keys("lake.orders_dfp", "uid", dim)
    out = fact.join(F.broadcast(dim), "uid").select("o_orderkey", "uid", "o_totalprice")
    return out.orderBy("o_orderkey")


@register(
    "lake_like_prefix_pruned_scan",
    oracle="""
    SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS acctbal
    FROM customer
    WHERE c_name LIKE 'Customer#00000012%'
    ORDER BY c_custkey
    """,
)
def lake_like_prefix_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-LIKE file skipping: the reference's converter pushes only
    comparison/IN/NULL domains (``common/TrinoFilterConverter.java:85-292``)
    — Trino evaluates LIKE post-scan, so ``LIKE 'abc%'`` reads every file.
    ``like_prefix_domain`` compiles the prefix to the half-open range
    ``[prefix, next(prefix))``; after sort compaction on the name column the
    per-file min/max are disjoint and the range plans a strict subset of the
    files (asserted in-query), while the FULL LIKE still runs as the
    residual filter — the domain is a superset, never a substitute. At
    100 TB a prefix lookup on a sorted/clustered key opens O(matching
    range) files.
    """
    from incubator_paimon_trino_spark.functions.predicates import like_prefix_domain

    cat = _fresh_catalog(spark)
    cat.create_database("lake")
    cat.create_table(
        "lake",
        "cust_named",
        [("c_custkey", "bigint"), ("c_name", "string"), ("acctbal", "double")],
        options={"clustering_partitions": "6"},
    )
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", F.col("c_acctbal").cast("double").alias("acctbal")
    )
    for r in range(3):  # interleaved commits: every file spans the name domain
        cat.insert_into("lake", "cust_named", c.filter(F.col("c_custkey") % 3 == r))
    cat.compact("lake", "cust_named", order_by=["c_name"])
    pattern = "Customer#00000012%"
    dom = like_prefix_domain("c_name", pattern)
    n_all = len(cat.scan_plan("lake.cust_named"))
    n_pruned = len(cat.scan_plan("lake.cust_named", predicate=[dom]))
    assert 0 < n_pruned < n_all, (n_pruned, n_all)
    out = cat.read_table("lake.cust_named", predicate=[dom]).filter(
        F.col("c_name").like(pattern)  # residual: the domain is a superset
    )
    return out.select("c_custkey", "c_name", "acctbal").orderBy("c_custkey")


@register(
    "lake_read_optimized_table",
    oracle="""
    WITH c1 AS (
      SELECT o_custkey, MAX(o_orderkey) AS last_order FROM orders
      WHERE o_orderkey <= 3000 GROUP BY o_custkey
    ), c2 AS (
      SELECT o_custkey, MAX(o_orderkey) AS last_order FROM orders
      WHERE o_orderkey > 3000 AND o_orderkey <= 6000 GROUP BY o_custkey
    )
    SELECT COALESCE(c2.o_custkey, c1.o_custkey) AS o_custkey,
           COALESCE(c2.last_order, c1.last_order) AS last_order
    FROM c1 FULL OUTER JOIN c2 ON c1.o_custkey = c2.o_custkey
    ORDER BY o_custkey
    """,
)
def lake_read_optimized_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paimon's read-optimized system table (``t$ro``): serve the latest
    FULLY COMPACTED state as a raw file scan — compaction already
    materialized the merge, so the read carries ZERO merge-on-read cost
    (no shuffle, no grouping), at the price of staleness: the third commit
    below lands after the compaction and must be invisible to ``$ro``
    while the normal read sees it (asserted in-query). At 100 TB this is
    the dashboard-latency escape hatch: scan speed of an append table on a
    PK table's compacted history.
    """
    cat = _fresh_catalog(spark)
    cat.create_database("lake")
    cat.create_table(
        "lake",
        "cust_ro",
        [("o_custkey", "bigint"), ("last_order", "bigint")],
        primary_key=["o_custkey"],
    )
    o = table(spark, sf_dir, "orders")
    for lo, hi in ((0, 3000), (3000, 6000)):
        cat.insert_into(
            "lake",
            "cust_ro",
            o.filter((F.col("o_orderkey") > lo) & (F.col("o_orderkey") <= hi))
            .groupBy("o_custkey")
            .agg(F.max("o_orderkey").alias("last_order")),
        )
    cat.compact("lake", "cust_ro")
    # post-compaction commit: visible to read_table, INVISIBLE to $ro
    cat.insert_into(
        "lake",
        "cust_ro",
        o.filter(F.col("o_orderkey") > 6000)
        .groupBy("o_custkey")
        .agg(F.max("o_orderkey").alias("last_order")),
    )
    ro = cat.read_table("lake.cust_ro$ro")
    live = cat.read_table("lake.cust_ro")
    assert live.count() != ro.count() or sf_dir.endswith("sf0.001")
    return ro.orderBy("o_custkey")


@register(
    "lake_rowkind_field_cdc",
    oracle="""
    WITH base AS (
      SELECT o_custkey, MAX(o_orderkey) AS last_order FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey,
           CASE WHEN o_custkey % 4 = 1 THEN last_order + 1000000 ELSE last_order END
             AS last_order
    FROM base WHERE o_custkey % 4 <> 0
    ORDER BY o_custkey
    """,
)
def lake_rowkind_field_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``rowkind.field`` (Paimon CoreOption): raw CDC feeds carry their op
    code in a DATA column — ``+I``/``+U`` keep the row, ``-D``/``-U``
    retract it — so ingestion needs no synthetic ``_row_kind`` column and
    the op column itself stays stored as ordinary data. Commit 1 inserts
    every customer (+I); commit 2 replays a CDC batch that deletes the
    custkey%4==0 rows (-D) and upserts custkey%4==1 with a bumped value
    (+U); the merged read must equal the SQL replay.
    """
    cat = _fresh_catalog(spark)
    cat.create_database("lake")
    cat.create_table(
        "lake",
        "cust_cdc",
        [("o_custkey", "bigint"), ("last_order", "bigint"), ("op", "string")],
        primary_key=["o_custkey"],
        options={"rowkind.field": "op"},
    )
    base = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.max("o_orderkey").alias("last_order"))
    )
    cat.insert_into("lake", "cust_cdc", base.withColumn("op", F.lit("+I")))
    cdc = base.filter(F.col("o_custkey") % 4 < 2).select(
        "o_custkey",
        F.when(
            F.col("o_custkey") % 4 == 1, F.col("last_order") + 1000000
        ).otherwise(F.col("last_order")).alias("last_order"),
        F.when(F.col("o_custkey") % 4 == 0, F.lit("-D")).otherwise(F.lit("+U")).alias("op"),
    )
    cat.insert_into("lake", "cust_cdc", cdc)
    out = cat.read_table("lake.cust_cdc")
    return out.select("o_custkey", "last_order").orderBy("o_custkey")


@register(
    "lake_partial_update_sequence_group",
    oracle="""
    WITH fullagg AS (
      SELECT o_custkey, MAX(o_orderkey) AS last_order FROM orders GROUP BY o_custkey
    ), open_agg AS (
      SELECT o_custkey, COUNT(*) AS n_open
      FROM orders WHERE o_orderstatus = 'O' AND o_custkey % 2 = 0 GROUP BY o_custkey
    )
    SELECT f.o_custkey,
           CASE WHEN f.o_custkey % 5 = 0 THEN NULL ELSE CAST(2 AS BIGINT) END AS s1,
           CASE WHEN f.o_custkey % 5 = 0 THEN NULL ELSE f.last_order END AS last_order,
           CASE WHEN o.o_custkey IS NOT NULL THEN CAST(1 AS BIGINT) END AS s2,
           o.n_open AS n_open
    FROM fullagg f LEFT JOIN open_agg o ON f.o_custkey = o.o_custkey
    """,
)
def lake_partial_update_sequence_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """partial-update SEQUENCE GROUPS through the oracle gate (Paimon
    ``fields.<seq>.sequence-group`` CoreOption; multi-stream partial update —
    the reference inherits PartialUpdateMergeFunction's behavior through
    core, DDL-surfaced like every CoreOption,
    ``common/TrinoTableOptionUtils.java:51-135``). Exercised end-to-end:

    - out-of-order protection: stream 1 commits its NEWER rows (s1=2) before
      its stale snapshot (s1=1) — the stale commit must not win although it
      is later in changelog order;
    - group isolation: stream 2 (s2 group) updates ``n_open`` without
      disturbing stream 1's columns;
    - group retraction: a -D with s1=3 retracts ONLY group s1 (last_order and
      s1 go null) for custkey%5==0 keys; the key itself survives.

    Still one groupBy(o_custkey) with max_by aggregates — partial map-side
    aggregation holds, so the shuffle stays one pre-merged row per key per
    map partition at any scale."""
    cat = _fresh_catalog(spark)
    cat.create_database("lake")
    cat.create_table(
        "lake",
        "cust_sg",
        [
            ("o_custkey", "bigint"),
            ("s1", "bigint"),
            ("last_order", "bigint"),
            ("s2", "bigint"),
            ("n_open", "bigint"),
        ],
        primary_key=["o_custkey"],
        options={
            "merge_engine": "partial-update",
            "fields.s1.sequence-group": "last_order",
            "fields.s2.sequence-group": "n_open",
        },
    )
    o = table(spark, sf_dir, "orders")
    nulls = lambda *cs: [F.lit(None).cast("bigint").alias(c) for c in cs]  # noqa: E731
    full = o.groupBy("o_custkey").agg(F.max("o_orderkey").alias("last_order"))
    c_new = full.select(
        "o_custkey", F.lit(2).cast("bigint").alias("s1"), "last_order", *nulls("s2", "n_open")
    )
    c_stale = (
        o.filter(F.col("o_orderkey") <= 3000)
        .groupBy("o_custkey")
        .agg(F.max("o_orderkey").alias("last_order"))
        .select("o_custkey", F.lit(1).cast("bigint").alias("s1"), "last_order", *nulls("s2", "n_open"))
    )
    c_open = (
        o.filter((F.col("o_orderstatus") == "O") & (F.col("o_custkey") % 2 == 0))
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_open"))
        .select("o_custkey", *nulls("s1", "last_order"), F.lit(1).cast("bigint").alias("s2"), "n_open")
    )
    retract = full.filter(F.col("o_custkey") % 5 == 0).select(
        "o_custkey", F.lit(3).cast("bigint").alias("s1"), *nulls("last_order", "s2", "n_open")
    )
    cat.insert_into("lake", "cust_sg", c_new)
    cat.insert_into("lake", "cust_sg", c_stale)
    cat.insert_into("lake", "cust_sg", c_open)
    cat.insert_into("lake", "cust_sg", retract, row_kind="D")
    return cat.read_table("lake.cust_sg")


@register(
    "lake_agg_collect_merge_map",
    oracle="""
    WITH c1 AS (
      SELECT o_custkey, COUNT(*) AS n, MIN(o_orderkey) AS lo
      FROM orders WHERE o_orderkey <= 3000 GROUP BY o_custkey
    ), c2 AS (
      SELECT o_custkey, COUNT(*) AS n, MAX(o_orderkey) AS hi
      FROM orders WHERE o_orderkey > 3000 GROUP BY o_custkey
    ), ks AS (
      SELECT o_custkey,
             ARRAY_TO_STRING(LIST(o_orderkey ORDER BY o_orderkey), ',') AS ks
      FROM orders GROUP BY o_custkey
    ), entries AS (
      SELECT o_custkey, 'lo' AS mk, lo AS mv FROM c1
      UNION ALL
      SELECT o_custkey, 'hi' AS mk, hi AS mv FROM c2
      UNION ALL
      SELECT COALESCE(c1.o_custkey, c2.o_custkey) AS o_custkey, 'n' AS mk,
             COALESCE(c2.n, c1.n) AS mv
      FROM c1 FULL OUTER JOIN c2 ON c1.o_custkey = c2.o_custkey
    )
    SELECT e.o_custkey, k.ks, e.mk, e.mv
    FROM entries e JOIN ks k ON e.o_custkey = k.o_custkey
    """,
)
def lake_agg_collect_merge_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``collect`` + ``merge_map`` aggregation merge functions through the
    oracle gate (Paimon's FieldCollectAgg / FieldMergeMapAgg, the two
    container-typed ``fields.<name>.aggregate-function`` values; CoreOptions
    surfaced via the reference's DDL reflection like the scalar ones).

    ``ks`` (ARRAY<BIGINT>, collect): two commits' arrays concatenate per key;
    output sorted so the hash is order-insensitive. ``m`` (MAP<STRING,BIGINT>,
    merge_map): commit 2's 'n' overwrites commit 1's, 'lo'/'hi' survive from
    whichever commit supplied them. The merged map is EXPLODED to (mk, mv)
    rows — structs/maps normalize differently across engines, scalar rows
    hash identically. Both functions stay single JVM aggregate expressions,
    so partial aggregation holds map-side."""
    cat = _fresh_catalog(spark)
    cat.create_database("lake")
    cat.create_table(
        "lake",
        "cust_cm",
        [("o_custkey", "bigint"), ("ks", "array<bigint>"), ("m", "map<string,bigint>")],
        primary_key=["o_custkey"],
        options={
            "merge_engine": "aggregation",
            "fields.ks.aggregate-function": "collect",
            "fields.m.aggregate-function": "merge_map",
        },
    )
    o = table(spark, sf_dir, "orders")
    c1 = (
        o.filter(F.col("o_orderkey") <= 3000)
        .groupBy("o_custkey")
        .agg(
            F.sort_array(F.collect_list("o_orderkey")).alias("ks"),
            F.create_map(
                F.lit("n"), F.count("*"), F.lit("lo"), F.min("o_orderkey")
            ).alias("m"),
        )
    )
    c2 = (
        o.filter(F.col("o_orderkey") > 3000)
        .groupBy("o_custkey")
        .agg(
            F.sort_array(F.collect_list("o_orderkey")).alias("ks"),
            F.create_map(
                F.lit("n"), F.count("*"), F.lit("hi"), F.max("o_orderkey")
            ).alias("m"),
        )
    )
    cat.insert_into("lake", "cust_cm", c1)
    cat.insert_into("lake", "cust_cm", c2)
    out = cat.read_table("lake.cust_cm")
    entry = F.explode(F.col("m"))
    # CSV-join the sorted array: the driver canonicalizer hashes scalar
    # cells only — a string column hashes identically across engines
    ks_csv = F.array_join(
        F.transform(F.array_sort("ks"), lambda x: x.cast("string")), ","
    )
    return out.select("o_custkey", ks_csv.alias("ks"), entry.alias("mk", "mv"))


@register(
    "lake_partition_expiration",
    oracle="""
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS order_year
    FROM orders
    WHERE EXTRACT(YEAR FROM o_orderdate) >= 1995
    """,
)
def lake_partition_expiration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition expiration through the oracle gate (Paimon's
    ``partition.expiration-time`` CoreOption / ``CALL sys.expire_partitions``
    — retention for date-partitioned fact tables). The procedure drops every
    order_year partition below 1995 in ONE metadata-only commit: zero data
    IO (entries leave the manifest; bytes stay until snapshot expiration),
    O(live files) driver work at any scale. Read back = exactly the
    surviving partitions; the pre-expiration snapshot stays time-travelable
    (asserted in-query)."""
    cat = _orders_by_year(spark, sf_dir)
    before = cat.read_table("lake.orders_by_year").count()
    res = cat.sql(
        "CALL sys.expire_partitions(table => 'lake.orders_by_year', older_than => '1995')"
    ).collect()
    assert "expired" in res[0][0], res
    # snapshot isolation: version 1 (pre-expiration) still serves every year
    trav = cat.read_table("lake.orders_by_year", version_as_of=1).count()
    assert trav == before, (trav, before)
    return cat.read_table("lake.orders_by_year")


@register(
    "lake_ignore_delete",
    oracle=f"""
    WITH c1 AS ({_C1_SQL}),
         c2 AS ({_C2_SQL})
    SELECT COALESCE(c1.o_custkey, c2.o_custkey) AS o_custkey,
           COALESCE(c1.last_order, c2.last_order) AS last_order,
           COALESCE(c1.n, c2.n) AS n
    FROM c1 FULL OUTER JOIN (SELECT * FROM c2 WHERE kind = 'I') c2
      ON c1.o_custkey = c2.o_custkey
    """,
)
def lake_ignore_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ignore-delete`` through the oracle gate (Paimon CoreOption; the
    documented recipe for feeding raw CDC into merge engines that reject
    retraction). first-row + ignore-delete: commit 2's -D rows are DISCARDED
    AT WRITE TIME — without the option this exact feed raises first-row's
    retraction error (pinned in tests/test_ignore_delete.py) — while its +I
    rows still add never-seen keys. Deletes never enter the changelog, so
    streams and $audit stay consistent with the merged view."""
    cat = _fresh_catalog(spark)
    cat.create_database("lake")
    cat.create_table(
        "lake",
        "cust_igd",
        [("o_custkey", "bigint"), ("last_order", "bigint"), ("n", "bigint")],
        primary_key=["o_custkey"],
        options={"merge_engine": "first-row", "ignore_delete": "true"},
    )
    c1, c2 = _orders_commits(spark, sf_dir)
    cat.insert_into("lake", "cust_igd", c1)
    cat.insert_into("lake", "cust_igd", c2)  # carries per-row -D kinds
    return cat.read_table("lake.cust_igd")


@register(
    "lake_dynamic_bucket",
    oracle=f"""
    WITH c1 AS ({_C1_SQL}), c2 AS ({_C2_SQL})
    SELECT COALESCE(c2.o_custkey, c1.o_custkey) AS o_custkey,
           COALESCE(c2.last_order, c1.last_order) AS last_order,
           COALESCE(c2.n, c1.n) AS n
    FROM c1 FULL OUTER JOIN c2 ON c1.o_custkey = c2.o_custkey
    WHERE c2.kind IS NULL OR c2.kind <> 'D'
    """,
)
def lake_dynamic_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic bucket mode through the oracle gate (Paimon ``bucket = -1`` +
    ``dynamic-bucket.target-row-num``; the bucket option family the reference
    surfaces as DDL properties, ``common/TrinoTableOptionUtils.java:51-135``).
    Same two commits (upserts + per-row deletes) as ``lake_merge_on_read``,
    same oracle — bucketing must never change query results — but the write
    path routes every key through the maintained key→bucket index: files
    land under Paimon's ``bucket-N`` directory layer, each bucket holds at
    most target-row-num keys, and a key's bucket is STABLE across commits
    (both invariants asserted in-query from metadata + the index). At scale
    the index lookup is one PK-equi join of the batch against the index —
    distributed, never driver-held."""
    import glob as _glob
    import os as _os
    import re as _re

    target = 256
    cat = _fresh_catalog(spark)
    cat.create_database("lake")
    cat.create_table(
        "lake",
        "cust_dyn",
        [("o_custkey", "bigint"), ("last_order", "bigint"), ("n", "bigint")],
        primary_key=["o_custkey"],
        options={"bucket": "-1", "dynamic_bucket_target_row_num": str(target)},
    )
    c1, c2 = _orders_commits(spark, sf_dir)
    cat.insert_into("lake", "cust_dyn", c1)
    tdir = cat._table_dir("lake", "cust_dyn")
    idx_files = lambda: _glob.glob(  # noqa: E731
        _os.path.join(tdir, "index", "dynamic-bucket", "*", "*.parquet")
    )
    before_files = idx_files()
    cat.insert_into("lake", "cust_dyn", c2)
    after_df = spark.read.parquet(*idx_files())
    # invariant 1: bucket sizes bounded by target-row-num (scalar agg)
    overfull = after_df.groupBy("_bucket").count().filter(F.col("count") > target).count()
    assert overfull == 0
    # invariant 2: existing keys kept their bucket — distributed equi-join
    # of the two index states, only the mismatch COUNT reaches the driver
    before_df = spark.read.parquet(*before_files).withColumnRenamed("_bucket", "_b0")
    moved = after_df.join(before_df, "o_custkey").filter(F.col("_bucket") != F.col("_b0")).count()
    assert moved == 0
    # invariant 3: every committed file sits under a bucket-N directory
    snap = cat._latest_snapshot(tdir)
    assert all(_re.search(r"(?:^|/)bucket-\d+/", e["path"]) for e in snap.files)
    return cat.read_table("lake.cust_dyn")


@register(
    "lake_partition_delete",
    oracle="""
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS order_year
    FROM orders
    WHERE EXTRACT(YEAR FROM o_orderdate) NOT IN (1992, 1997)
    """,
)
def lake_partition_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-table DELETE by partition predicate through the oracle gate
    (Paimon's drop-partition overwrite — the one DELETE form an append table
    supports). ``DELETE FROM t WHERE order_year IN (1992, 1997)`` drops both
    partitions in ONE metadata-only commit: the predicate is evaluated by
    Spark over one row per live partition (engine semantics for IN/ranges,
    never a Python re-implementation), zero data IO at any scale. A
    non-partition predicate on the same table raises (asserted in-query);
    the pre-delete snapshot stays time-travelable (asserted in-query)."""
    cat = _orders_by_year(spark, sf_dir)
    before = cat.read_table("lake.orders_by_year").count()
    cat.sql("DELETE FROM lake.orders_by_year WHERE order_year IN (1992, 1997)")
    try:
        cat.sql("DELETE FROM lake.orders_by_year WHERE o_totalprice > 100")
        raise AssertionError("row-level DELETE on an append table must raise")
    except ValueError:
        pass
    assert cat.read_table("lake.orders_by_year", version_as_of=1).count() == before
    return cat.read_table("lake.orders_by_year")


@register(
    "lake_agg_nested_update",
    oracle="""
    WITH c1 AS (
      SELECT o_custkey, CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS y,
             COUNT(*) AS n
      FROM orders WHERE o_orderkey <= 3000 GROUP BY 1, 2
    ), c2 AS (
      SELECT o_custkey, CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS y,
             COUNT(*) AS n
      FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) >= 1995 GROUP BY 1, 2
    )
    SELECT COALESCE(c2.o_custkey, c1.o_custkey) AS o_custkey,
           COALESCE(c2.y, c1.y) AS y,
           COALESCE(c2.n, c1.n) AS n
    FROM c1 FULL OUTER JOIN c2
      ON c1.o_custkey = c2.o_custkey AND c1.y = c2.y
    """,
)
def lake_agg_nested_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``nested_update`` aggregate through the oracle gate (Paimon's
    FieldNestedUpdateAgg with ``fields.<col>.nested-key`` — the 1:N "child
    table inside a column" pattern). Each customer's per-year order counts
    live as ARRAY<ROW(y, n)>; commit 2 UPSERTS the years it covers (equal
    nested key replaces in place) and appends new years, commit 1's other
    years survive. The merged array is exploded to scalar rows for the
    cross-engine hash. Merge is a single JVM aggregate expression — partial
    aggregation applies; the per-key array is the only materialization."""
    cat = _fresh_catalog(spark)
    cat.create_database("lake")
    cat.create_table(
        "lake",
        "cust_years",
        [("o_custkey", "bigint"), ("v", "array<struct<y:int,n:bigint>>")],
        primary_key=["o_custkey"],
        options={
            "merge_engine": "aggregation",
            "fields.v.aggregate-function": "nested_update",
            "fields.v.nested-key": "y",
        },
    )
    o = table(spark, sf_dir, "orders").withColumn("y", F.year("o_orderdate"))
    mk = lambda flt: (  # noqa: E731
        o.filter(flt)
        .groupBy("o_custkey", "y")
        .agg(F.count("*").alias("n"))
        .groupBy("o_custkey")
        .agg(F.sort_array(F.collect_list(F.struct("y", "n"))).alias("v"))
    )
    cat.insert_into("lake", "cust_years", mk(F.col("o_orderkey") <= 3000))
    cat.insert_into("lake", "cust_years", mk(F.col("y") >= 1995))
    out = cat.read_table("lake.cust_years")
    e = F.explode("v")
    return out.select("o_custkey", e.alias("e")).select(
        "o_custkey", F.col("e.y").alias("y"), F.col("e.n").alias("n")
    )


@register(
    "lake_agg_ignore_retract",
    oracle="""
    WITH base AS (
      SELECT o_custkey,
             SUM(CASE WHEN o_orderkey <= 3000 THEN 1 ELSE -1 END) AS n,
             MAX(CASE WHEN o_orderkey <= 3000 THEN o_orderkey END) AS hi,
             MAX(CASE WHEN o_orderkey <= 3000 THEN o_totalprice END) AS top_price
      FROM orders
      WHERE o_orderkey <= 3000 OR o_custkey % 3 = 0
      GROUP BY o_custkey
      -- all-delete keys (no insert row) drop from the merged view
      HAVING MAX(CASE WHEN o_orderkey <= 3000 THEN 1 ELSE 0 END) = 1
    )
    SELECT o_custkey, CAST(n AS BIGINT) AS n, hi,
           CAST(top_price AS DOUBLE) AS top_price
    FROM base
    """,
)
def lake_agg_ignore_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``fields.<col>.ignore-retract`` + ``fields.default-aggregate-function``
    through the oracle gate. One aggregation table, one -D commit, three
    behaviors at once:

    - ``n`` (sum, retract-capable): the delete SUBTRACTS its contribution;
    - ``hi`` (max + ignore-retract): max is STRICT (raises on deletes —
      asserted by tests/test_ignore_retract.py), the switch makes the
      delete contribute nothing — commit 1's max survives;
    - ``top_price`` (via default-aggregate-function = max, plus its own
      ignore-retract): an UNSPECIFIED column picks up the table-wide
      default function and the per-column switch still applies.

    The oracle replays it as CASE algebra over one scan. Commit 2's rows
    (custkey%3=0, orderkey>3000) arrive as -D: n loses their count, hi and
    top_price ignore them entirely."""
    cat = _fresh_catalog(spark)
    cat.create_database("lake")
    cat.create_table(
        "lake",
        "cust_ir",
        [("o_custkey", "bigint"), ("n", "bigint"), ("hi", "bigint"), ("top_price", "double")],
        primary_key=["o_custkey"],
        options={
            "merge_engine": "aggregation",
            "fields.n.aggregate-function": "sum",
            "fields.hi.aggregate-function": "max",
            "fields.hi.ignore-retract": "true",
            "fields.top_price.ignore-retract": "true",
            "fields.default-aggregate-function": "max",
        },
    )
    o = table(spark, sf_dir, "orders")
    c1 = (
        o.filter(F.col("o_orderkey") <= 3000)
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n"),
            F.max("o_orderkey").alias("hi"),
            F.max("o_totalprice").cast("double").alias("top_price"),
        )
    )
    dels = (
        o.filter((F.col("o_custkey") % 3 == 0) & (F.col("o_orderkey") > 3000))
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n"),
            F.max("o_orderkey").alias("hi"),
            F.max("o_totalprice").cast("double").alias("top_price"),
        )
    )
    cat.insert_into("lake", "cust_ir", c1)
    cat.insert_into("lake", "cust_ir", dels, row_kind="D")
    return cat.read_table("lake.cust_ir")


@register(
    "lake_fallback_branch",
    oracle="""
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS order_year
    FROM orders
    """,
)
def lake_fallback_branch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``scan.fallback-branch`` through the oracle gate (Paimon CoreOption;
    the batch/stream dual-write pattern): main holds every year EXCEPT 1995,
    the 'stream' branch holds 1995 plus a POISONED copy of 1996 (prices
    zeroed). The fallback read serves 1995 from the branch and keeps 1996
    from main — so the result equals the plain full projection of orders iff
    missing-partition routing AND shadowing both work. The partition diff is
    manifest metadata; the branch side is restricted by a broadcast semi
    join on the missing partition tuples."""
    cat = _fresh_catalog(spark)
    cat.create_database("lake")
    cat.create_table(
        "lake",
        "orders_fb",
        [("o_orderkey", "bigint"), ("o_totalprice", "double"), ("order_year", "int")],
        partitioned_by=["order_year"],
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        F.year("o_orderdate").alias("order_year"),
    )
    cat.insert_into("lake", "orders_fb", o.filter(F.col("order_year") != 1995))
    cat.create_branch("lake", "orders_fb", "stream")
    cat.set_options("lake", "orders_fb", {"scan.fallback-branch": "stream"})
    branch_rows = o.filter(F.col("order_year") == 1995).unionByName(
        o.filter(F.col("order_year") == 1996).withColumn("o_totalprice", F.lit(0.0))
    )
    cat.insert_into("lake", "orders_fb$branch_stream", branch_rows)
    return cat.read_table("lake.orders_fb")


@register(
    "lake_partial_update_remove_on_delete",
    oracle="""
    WITH c1 AS (
      SELECT o_custkey, MAX(o_orderkey) AS last_order, COUNT(*) AS n
      FROM orders WHERE o_orderkey <= 3000 GROUP BY o_custkey
    ), re AS (
      SELECT o_custkey, MAX(o_orderkey) AS last_order
      FROM orders WHERE o_custkey % 10 = 0 GROUP BY o_custkey
    )
    SELECT COALESCE(c1.o_custkey, re.o_custkey) AS o_custkey,
           COALESCE(re.last_order,
                    CASE WHEN c1.o_custkey % 5 = 0 THEN NULL ELSE c1.last_order END
           ) AS last_order,
           CASE WHEN c1.o_custkey IS NULL OR c1.o_custkey % 5 = 0
                THEN NULL ELSE c1.n END AS n
    FROM c1 FULL OUTER JOIN re ON c1.o_custkey = re.o_custkey
    WHERE c1.o_custkey IS NULL OR c1.o_custkey % 5 <> 0 OR re.o_custkey IS NOT NULL
    """,
)
def lake_partial_update_remove_on_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``partial-update.remove-record-on-delete`` through the oracle gate:
    a DELETE RESETS the key at its position — keys deleted and never
    re-inserted vanish; keys re-inserted AFTER the delete rebuild from
    scratch (the pre-delete ``n`` must NOT resurrect: only ``last_order``
    comes back, from the re-insert). Three commits: c1 seeds custkeys
    (orders<=3000), c2 deletes custkey%5==0, c3 re-inserts custkey%10==0
    with a fresh last_order and a null n."""
    cat = _fresh_catalog(spark)
    cat.create_database("lake")
    cat.create_table(
        "lake",
        "cust_rrod",
        [("o_custkey", "bigint"), ("last_order", "bigint"), ("n", "bigint")],
        primary_key=["o_custkey"],
        options={
            "merge_engine": "partial-update",
            "partial-update.remove-record-on-delete": "true",
        },
    )
    o = table(spark, sf_dir, "orders")
    c1 = (
        o.filter(F.col("o_orderkey") <= 3000)
        .groupBy("o_custkey")
        .agg(F.max("o_orderkey").alias("last_order"), F.count("*").alias("n"))
    )
    cat.insert_into("lake", "cust_rrod", c1)
    cat.delete_where("lake", "cust_rrod", "o_custkey % 5 = 0")
    c3 = (
        o.filter(F.col("o_custkey") % 10 == 0)
        .groupBy("o_custkey")
        .agg(F.max("o_orderkey").alias("last_order"))
        .withColumn("n", F.lit(None).cast("bigint"))
    )
    cat.insert_into("lake", "cust_rrod", c3)
    return cat.read_table("lake.cust_rrod")


@register(
    "lake_incremental_by_timestamp",
    oracle="""
    SELECT o_custkey, MAX(o_orderkey) AS last_order, COUNT(*) AS n
    FROM orders WHERE o_orderkey > 1000 GROUP BY o_custkey
    """,
)
def lake_incremental_by_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``incremental-between-timestamp`` through the oracle gate: the query
    reads its own table's committed timestamps from ``$snapshots`` at run
    time and asks for the window (ts1, ts2] — exactly commit 2's raw rows
    (the same metadata-only file-set delta as the id-based form, so the
    scan touches only commit 2's files). Timestamps are wall-clock but the
    RESULT is deterministic: whatever they are, the window resolves to
    snapshot ids (1, 2]."""
    cat = _fresh_catalog(spark)
    cat.create_database("lake")
    cat.create_table(
        "lake",
        "cust_ts",
        [("o_custkey", "bigint"), ("last_order", "bigint"), ("n", "bigint")],
        primary_key=["o_custkey"],
    )
    o = table(spark, sf_dir, "orders")
    mk = lambda cond: (  # noqa: E731
        o.filter(cond)
        .groupBy("o_custkey")
        .agg(F.max("o_orderkey").alias("last_order"), F.count("*").alias("n"))
    )
    cat.insert_into("lake", "cust_ts", mk(F.col("o_orderkey") <= 1000))
    cat.insert_into("lake", "cust_ts", mk(F.col("o_orderkey") > 1000))
    ts = {
        r.snapshot_id: r.timestamp_ms
        for r in cat.read_table("lake.cust_ts$snapshots")
        .select("snapshot_id", "timestamp_ms")
        .collect()
    }
    out = cat.read_incremental_by_timestamp("lake.cust_ts", ts[1], ts[2])
    return out.select("o_custkey", "last_order", "n")


_MERGED_12_SQL = f"""
    WITH c1 AS ({_C1_SQL}), c2 AS ({_C2_SQL})
    SELECT COALESCE(c2.o_custkey, c1.o_custkey) AS o_custkey,
           COALESCE(c2.last_order, c1.last_order) AS last_order,
           COALESCE(c2.n, c1.n) AS n
    FROM c1 FULL OUTER JOIN c2 ON c1.o_custkey = c2.o_custkey
    WHERE c2.kind IS NULL OR c2.kind <> 'D'
"""


@register(
    "lake_compacted_merge_free_read",
    oracle=f"SELECT * FROM ({_MERGED_12_SQL})",
)
def lake_compacted_merge_free_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULLY-COMPACTED fast path under the hash gate: after
    ``CALL sys.compact`` every live file is compaction output, so the main
    read serves the stored rows scan-direct — the plan is asserted
    merge-free (no Aggregate, no Join) and the values must equal the
    two-commit merged state, exactly what ``lake_merge_on_read`` proves for
    the merging plan. Zero staleness, unlike $ro: this is the pinned
    snapshot's own live set."""
    cat, name = _pk_table(spark, sf_dir)
    db, tbl = name.split(".")
    cat.compact(db, tbl)
    out = cat.read_table(name)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" not in plan and "Join" not in plan, plan[:400]
    return out


@register(
    "lake_delta_base_split_read",
    oracle=f"""
    WITH merged AS ({_MERGED_12_SQL}),
    c3 AS (
      SELECT DISTINCT o_custkey,
             CASE WHEN o_custkey % 11 = 0 THEN 'D' ELSE 'I' END AS kind
      FROM orders WHERE o_custkey % 5 = 0 OR o_custkey % 11 = 0
    )
    SELECT COALESCE(m.o_custkey, c3.o_custkey) AS o_custkey,
           CASE WHEN c3.o_custkey IS NOT NULL THEN c3.o_custkey
                ELSE m.last_order END AS last_order,
           CASE WHEN c3.o_custkey IS NOT NULL THEN CAST(0 AS BIGINT)
                ELSE m.n END AS n
    FROM merged m FULL OUTER JOIN c3 ON m.o_custkey = c3.o_custkey
    WHERE c3.kind IS NULL OR c3.kind <> 'D'
    """,
)
def lake_delta_base_split_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DELTA-vs-BASE merge split under the hash gate: compaction
    output plus one small post-compaction commit (upserts for custkey%5,
    deletes for custkey%11) — the read broadcasts the delta's keys (plan
    asserted: BroadcastHashJoin present) so only touched keys enter the
    merge shuffle, and the values must equal the replayed history. The
    delete-over-upsert overlap (custkey%55) pins the -D-wins tie."""
    cat, name = _pk_table(spark, sf_dir)
    db, tbl = name.split(".")
    cat.compact(db, tbl)
    o = table(spark, sf_dir, "orders")
    c3 = (
        o.filter((F.col("o_custkey") % 5 == 0) | (F.col("o_custkey") % 11 == 0))
        .select("o_custkey").distinct()
        .select(
            F.col("o_custkey"),
            F.col("o_custkey").alias("last_order"),
            F.lit(0).cast("bigint").alias("n"),
            F.when(F.col("o_custkey") % 11 == 0, "D").otherwise("I").alias("_row_kind"),
        )
    )
    cat.insert_into(db, tbl, c3)
    out = cat.read_table(name)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:400]
    return out
