"""File-index (bloom / bitmap sidecar) tests: build, probe, lifecycle.

The contract under test (catalog/file_index.py): pruning is an optimization
that may only drop a file when the sidecar PROVES the probed values absent —
every unknown (missing sidecar, overflowed bitmap, unusable literal) keeps
the file; results must be identical with and without sidecars.
"""

from __future__ import annotations

import glob
import os
import random

import pytest

from incubator_paimon_trino_spark.catalog import WarehouseCatalog
from incubator_paimon_trino_spark.catalog import file_index as fi
from incubator_paimon_trino_spark.functions.predicates import ColumnDomain, Range


@pytest.fixture()
def cat(spark, tmp_path):
    return WarehouseCatalog(str(tmp_path / "wh"), spark)


def _mk_bloom_table(cat, spark, n_commits=3, per_commit=300, **extra_opts):
    """Adversarial layout: high-cardinality string uid shuffled across
    commits so every file's min/max spans the whole value range — stats
    pruning keeps everything, only the index can skip."""
    opts = {
        "file-index.bloom-filter.columns": "uid",
        "file-index.bloom-filter.items": "2000",
        "file-index.bloom-filter.fpp": "0.01",
    }
    opts.update(extra_opts)
    cat.create_database("d")
    cat.create_table("d", "t", [("id", "bigint"), ("uid", "string")], options=opts)
    rng = random.Random(11)
    vals = [f"u{i:05d}" for i in range(n_commits * per_commit)]
    rng.shuffle(vals)
    commits = []
    for c in range(n_commits):
        chunk = vals[c * per_commit : (c + 1) * per_commit]
        df = spark.createDataFrame(list(enumerate(chunk)), "id bigint, uid string")
        cat.insert_into("d", "t", df.coalesce(1))
        commits.append(chunk)
    return commits


def _plan_files(cat, predicate):
    tdir = cat._table_dir("d", "t")
    schema = cat._latest_schema(tdir)
    snap = cat._pin_snapshot(tdir, None, None, None)
    return cat._pruned_files(tdir, schema, snap, predicate), len(snap.files)


# ------------------------------------------------------------------- pruning
def test_bloom_prunes_to_owning_file(cat, spark):
    commits = _mk_bloom_table(cat, spark)
    target = commits[1][7]
    pred = [ColumnDomain("uid", op="=", value=target)]
    pruned, total = _plan_files(cat, pred)
    assert total == 3
    assert len(pruned) == 1  # fpp 1% over 3 files: a false positive here
    # would be a once-in-many-seeds event; the fixed seed pins it
    rows = cat.read_table("d.t", predicate=pred).collect()
    assert [(r.id, r.uid) for r in rows] == [(7, target)]


def test_bloom_in_list_spans_files(cat, spark):
    commits = _mk_bloom_table(cat, spark)
    pred = [ColumnDomain("uid", in_values=[commits[0][0], commits[2][1]])]
    pruned, total = _plan_files(cat, pred)
    assert len(pruned) == 2
    assert cat.read_table("d.t", predicate=pred).count() == 2


def test_point_range_probes_like_equality(cat, spark):
    commits = _mk_bloom_table(cat, spark)
    v = commits[0][5]
    pred = [ColumnDomain("uid", ranges=[Range(low=v, high=v)])]
    pruned, _ = _plan_files(cat, pred)
    assert len(pruned) == 1
    assert cat.read_table("d.t", predicate=pred).count() == 1


def test_missing_sidecar_keeps_file_and_result(cat, spark):
    commits = _mk_bloom_table(cat, spark)
    tdir = cat._table_dir("d", "t")
    target = commits[1][3]
    pred = [ColumnDomain("uid", op="=", value=target)]
    for sc in glob.glob(os.path.join(tdir, "data", "**", "*" + fi.SUFFIX), recursive=True):
        os.remove(sc)
    pruned, total = _plan_files(cat, pred)
    assert len(pruned) == total  # no sidecars → nothing dropped
    assert cat.read_table("d.t", predicate=pred).count() == 1


def test_absent_value_prunes_everything(cat, spark):
    _mk_bloom_table(cat, spark)
    pred = [ColumnDomain("uid", op="=", value="nowhere")]
    pruned, _ = _plan_files(cat, pred)
    assert pruned == []
    assert cat.read_table("d.t", predicate=pred).count() == 0


def test_null_allowed_domain_never_prunes(cat, spark):
    commits = _mk_bloom_table(cat, spark)
    pred = [ColumnDomain("uid", op="=", value=commits[0][0], null_allowed=True)]
    pruned, total = _plan_files(cat, pred)
    assert len(pruned) == total  # a null row would satisfy the domain


def test_fractional_literal_on_int_column(cat, spark):
    cat.create_database("d")
    cat.create_table(
        "d",
        "t",
        [("id", "bigint"), ("k", "bigint")],
        options={"file-index.bloom-filter.columns": "k"},
    )
    df = spark.createDataFrame([(1, 10), (2, 20)], "id bigint, k bigint")
    cat.insert_into("d", "t", df.coalesce(1))
    # 10.5 can't exist in a bigint column: provably-zero-match, files dropped
    pruned, _ = _plan_files(cat, [ColumnDomain("k", op="=", value=10.5)])
    assert pruned == []
    assert cat.read_table("d.t", predicate=[ColumnDomain("k", op="=", value=10.5)]).count() == 0
    # integral probe still matches
    assert cat.read_table("d.t", predicate=[ColumnDomain("k", op="=", value=10)]).count() == 1


def test_distributed_probe_matches_driver_probe(cat, spark, monkeypatch):
    commits = _mk_bloom_table(cat, spark)
    target = commits[2][9]
    pred = [ColumnDomain("uid", op="=", value=target)]
    driver_pruned, _ = _plan_files(cat, pred)
    monkeypatch.setattr(fi, "DRIVER_PROBE_MAX", 0)  # force the Spark-job path
    dist_pruned, _ = _plan_files(cat, pred)
    assert sorted(e["path"] for e in dist_pruned) == sorted(e["path"] for e in driver_pruned)
    assert cat.read_table("d.t", predicate=pred).count() == 1


# ------------------------------------------------------------------- bitmap
def test_bitmap_exact_skip_and_overflow(cat, spark):
    cat.create_database("d")
    cat.create_table(
        "d",
        "t",
        [("id", "bigint"), ("grp", "string")],
        options={
            "file-index.bitmap.columns": "grp",
            "file-index.bitmap.max-distinct": "4",
        },
    )
    # both files span [a*, z*] so min/max stats can't prune the probes below;
    # commit 0 has 2 distinct values (indexed), commit 1 has 6 (> max-distinct
    # → overflow marker → file kept on every probe)
    g0 = ["a0", "m0", "z9"]
    g1 = ["a1", "b1", "c1", "d1", "e1", "z8"]
    df0 = spark.createDataFrame([(i, g0[i % 3]) for i in range(9)], "id bigint, grp string")
    df1 = spark.createDataFrame([(i, g1[i % 6]) for i in range(12)], "id bigint, grp string")
    cat.insert_into("d", "t", df0.coalesce(1))
    cat.insert_into("d", "t", df1.coalesce(1))
    pruned, total = _plan_files(cat, [ColumnDomain("grp", op="=", value="m5")])
    assert total == 2
    # 'm5' is inside both files' min/max range (stats keep both): only the
    # bitmap can prove it absent from file 0; file 1 overflowed → kept
    assert len(pruned) == 1
    assert cat.read_table("d.t", predicate=[ColumnDomain("grp", op="=", value="m5")]).count() == 0
    pruned2, _ = _plan_files(cat, [ColumnDomain("grp", op="=", value="m0")])
    assert len(pruned2) == 2  # file 0 holds it; file 1 in-range + unknown → kept
    assert cat.read_table("d.t", predicate=[ColumnDomain("grp", op="=", value="m0")]).count() == 3


# --------------------------------------------------------------- PK / schema
def test_pk_table_prunes_on_key_only(cat, spark):
    cat.create_database("d")
    with pytest.raises(ValueError, match="non-key column"):
        cat.create_table(
            "d",
            "bad",
            [("k", "bigint"), ("v", "string")],
            primary_key=["k"],
            options={"file-index.bloom-filter.columns": "v"},
        )
    cat.create_table(
        "d",
        "t",
        [("k", "bigint"), ("v", "string")],
        primary_key=["k"],
        options={"file-index.bloom-filter.columns": "k"},
    )
    for c in range(2):
        df = spark.createDataFrame(
            [(i + 100 * c, f"v{i}") for i in range(50)], "k bigint, v string"
        )
        cat.insert_into("d", "t", df.coalesce(1))
    pred = [ColumnDomain("k", op="=", value=103)]
    pruned, total = _plan_files(cat, pred)
    assert total == 2 and len(pruned) == 1
    rows = cat.read_table("d.t", predicate=pred).collect()
    assert [(r.k, r.v) for r in rows] == [(103, "v3")]


def test_option_validation(cat, spark):
    cat.create_database("d")
    with pytest.raises(ValueError, match="does not exist"):
        cat.create_table(
            "d", "t1", [("a", "bigint")], options={"file-index.bloom-filter.columns": "nope"}
        )
    with pytest.raises(ValueError, match="partition column"):
        cat.create_table(
            "d",
            "t2",
            [("a", "bigint"), ("p", "string")],
            partitioned_by=["p"],
            options={"file-index.bloom-filter.columns": "p"},
        )
    with pytest.raises(ValueError, match="not.*supported|unsupported"):
        cat.create_table(
            "d",
            "t3",
            [("a", "double")],
            options={"file-index.bloom-filter.columns": "a"},
        )
    with pytest.raises(ValueError, match="PARQUET"):
        cat.create_table(
            "d",
            "t4",
            [("a", "bigint")],
            options={"file-index.bloom-filter.columns": "a", "file_format": "orc"},
        )
    with pytest.raises(ValueError, match="both"):
        cat.create_table(
            "d",
            "t5",
            [("a", "bigint")],
            options={
                "file-index.bloom-filter.columns": "a",
                "file-index.bitmap.columns": "a",
            },
        )


def test_duplicate_index_column_rejected(cat, spark):
    cat.create_database("d")
    with pytest.raises(ValueError, match="duplicate column"):
        cat.create_table(
            "d",
            "t",
            [("uid", "string")],
            options={"file-index.bloom-filter.columns": "uid,uid"},
        )


def test_malformed_sidecar_keeps_file(cat, spark):
    """A sidecar that parses as JSON but is structurally broken must KEEP the
    file — an optimization artifact may never become a read failure."""
    import json

    commits = _mk_bloom_table(cat, spark, n_commits=2)
    tdir = cat._table_dir("d", "t")
    side = _sidecars(tdir)
    fid = cat.schema_of("d", "t").field_by_name("uid").id
    for payload in (
        {"version": 1, "fields": {str(fid): {"kind": "bloom"}}},  # keys missing
        {"version": 1, "fields": {str(fid): {"kind": "bloom", "m": 0, "k": 0, "bits": ""}}},
        {"version": 1, "fields": {str(fid): {"kind": "martian", "x": 1}}},
    ):
        with open(side[0], "w") as fh:
            json.dump(payload, fh)
        fi._load_sidecar_cached.cache_clear()
        pred = [ColumnDomain("uid", op="=", value=commits[0][0])]
        assert cat.read_table("d.t", predicate=pred).count() == 1
        pruned, total = _plan_files(cat, pred)
        assert len(pruned) >= 1  # broken sidecar's file kept, never dropped


def test_reserved_internal_names_rejected(cat, spark):
    cat.create_database("d")
    for bad in ("_zorder_key", "_bucket"):
        with pytest.raises(ValueError, match="reserved"):
            cat.create_table("d", "t_" + bad.strip("_"), [("a", "bigint"), (bad, "string")])


def test_rename_keeps_index_and_drop_refuses(cat, spark):
    commits = _mk_bloom_table(cat, spark)
    cat.rename_column("d", "t", "uid", "user_id")
    target = commits[0][1]
    pred = [ColumnDomain("user_id", op="=", value=target)]
    pruned, total = _plan_files(cat, pred)
    assert total == 3 and len(pruned) == 1  # field-id-keyed sidecars survive renames
    assert cat.read_table("d.t", predicate=pred).count() == 1
    s = cat.schema_of("d", "t")
    assert s.options["file_index_bloom_filter_columns"] == "user_id"
    with pytest.raises(ValueError, match="file_index_bloom_filter_columns"):
        cat.drop_column("d", "t", "user_id")


def test_set_options_enables_index_later(cat, spark):
    cat.create_database("d")
    cat.create_table("d", "t", [("id", "bigint"), ("uid", "string")])
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, uid string")
    cat.insert_into("d", "t", df.coalesce(1))  # pre-index commit: no sidecar
    cat.set_options("d", "t", {"file-index.bloom-filter.columns": "uid"})
    df2 = spark.createDataFrame([(3, "a1"), (4, "z1")], "id bigint, uid string")
    cat.insert_into("d", "t", df2.coalesce(1))
    # 'aa' sits inside BOTH files' min/max ranges, so stats keep both; the
    # new file's sidecar proves absence → dropped; the pre-index file has no
    # sidecar → kept
    pred = [ColumnDomain("uid", op="=", value="aa")]
    pruned, total = _plan_files(cat, pred)
    assert total == 2 and len(pruned) == 1
    assert cat.read_table("d.t", predicate=pred).count() == 0


def test_rebuild_file_index_backfills(cat, spark):
    cat.create_database("d")
    cat.create_table("d", "t", [("id", "bigint"), ("uid", "string")])
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, uid string")
    cat.insert_into("d", "t", df.coalesce(1))  # pre-index commit
    with pytest.raises(ValueError, match="no file-index options"):
        cat.rebuild_file_index("d", "t")
    cat.set_options("d", "t", {"file-index.bloom-filter.columns": "uid"})
    res = cat.sql("CALL sys.rebuild_file_index(table => 'd.t')").collect()
    assert "built 1" in res[0].result
    # now the old file's sidecar proves in-range absences too
    pred = [ColumnDomain("uid", op="=", value="aa")]
    pruned, total = _plan_files(cat, pred)
    assert total == 1 and pruned == []
    # idempotent: nothing left to build without force; force rebuilds
    assert cat.rebuild_file_index("d", "t")["built"] == 0
    assert cat.rebuild_file_index("d", "t", force=True)["built"] == 1


def test_rebuild_after_rename_reads_old_physical_name(cat, spark):
    """Backfill over files written under an older schema must read the OLD
    physical column name (field-id mapping) — reading by the current name
    would yield an all-NULL column and a sidecar that falsely drops files."""
    cat.create_database("d")
    cat.create_table("d", "t", [("id", "bigint"), ("u", "string")])
    df = spark.createDataFrame([(1, "aa"), (2, "zz")], "id bigint, u string")
    cat.insert_into("d", "t", df.coalesce(1))  # physical name: u
    cat.rename_column("d", "t", "u", "uid")
    cat.set_options("d", "t", {"file-index.bloom-filter.columns": "uid"})
    assert cat.rebuild_file_index("d", "t")["built"] == 1
    pred = [ColumnDomain("uid", op="=", value="aa")]
    pruned, total = _plan_files(cat, pred)
    assert total == 1 and len(pruned) == 1  # the value IS there → kept
    assert cat.read_table("d.t", predicate=pred).count() == 1
    # and an in-range absent value prunes (bm is between aa and zz)
    gone, _ = _plan_files(cat, [ColumnDomain("uid", op="=", value="bm")])
    assert gone == []


def test_bigint_beyond_2_53_with_nulls_stays_exact(cat, spark):
    """Hashing a value rounded through float64 would record the WRONG value
    (a false negative — the one failure bloom must never have); the build
    hashes the exact ints pyarrow decodes, nulls skipped."""
    cat.create_database("d")
    cat.create_table(
        "d",
        "t",
        [("id", "bigint"), ("k", "bigint")],
        options={"file-index.bloom-filter.columns": "k"},
    )
    big = 9007199254740993  # 2^53 + 1: float64 rounds it to 2^53
    df = spark.createDataFrame(
        [(1, big), (2, None), (3, big + 6)], "id bigint, k bigint"
    )
    cat.insert_into("d", "t", df.coalesce(1))
    pred = [ColumnDomain("k", op="=", value=big)]
    pruned, total = _plan_files(cat, pred)
    assert total == 1 and len(pruned) == 1  # exact hash kept the file
    assert cat.read_table("d.t", predicate=pred).count() == 1


def test_partitioned_table_indexes_data_columns(cat, spark):
    cat.create_database("d")
    cat.create_table(
        "d",
        "t",
        [("id", "bigint"), ("uid", "string"), ("p", "string")],
        partitioned_by=["p"],
        options={"file-index.bloom-filter.columns": "uid"},
    )
    # two partitions per commit, values spanning the range in each file
    df = spark.createDataFrame(
        [(i, f"u{i:03d}", f"p{i % 2}") for i in range(100)], "id bigint, uid string, p string"
    )
    cat.insert_into("d", "t", df)
    df2 = spark.createDataFrame(
        [(i, f"u{i:03d}", f"p{i % 2}") for i in range(100, 200)],
        "id bigint, uid string, p string",
    )
    cat.insert_into("d", "t", df2)
    tdir = cat._table_dir("d", "t")
    assert _sidecars(tdir)  # hive-layout files got sidecars
    # partition + index pruning compose: p='p1' drops half, uid bloom drops
    # the commit that can't hold u150
    pred = [ColumnDomain("p", op="=", value="p1"), ColumnDomain("uid", op="=", value="u151")]
    pruned, total = _plan_files(cat, pred)
    assert len(pruned) < total
    rows = cat.read_table("d.t", predicate=pred).collect()
    assert [(r.id, r.uid, r.p) for r in rows] == [(151, "u151", "p1")]


def test_boolean_string_literal_probes(cat, spark):
    """Spark casts 't'/'1'/'yes' to TRUE in a boolean comparison — the index
    (and stats) must canonicalize the same way, or a file of true rows is
    dropped on a 't' probe: a false negative, the forbidden failure."""
    cat.create_database("d")
    cat.create_table(
        "d",
        "t",
        [("id", "bigint"), ("flag", "boolean")],
        options={"file-index.bitmap.columns": "flag"},
    )
    df = spark.createDataFrame([(1, True), (2, True)], "id bigint, flag boolean")
    cat.insert_into("d", "t", df.coalesce(1))
    for lit_true in (True, "t", "true", "1", "yes", "Y"):
        pred = [ColumnDomain("flag", op="=", value=lit_true)]
        pruned, total = _plan_files(cat, pred)
        assert len(pruned) == total == 1, lit_true  # file KEPT
        assert cat.read_table("d.t", predicate=pred).count() == 2, lit_true
    for lit_false in (False, "f", "false", "0", "no"):
        pred = [ColumnDomain("flag", op="=", value=lit_false)]
        pruned, _ = _plan_files(cat, pred)
        assert pruned == [], lit_false  # provably absent → dropped
    # a non-castable literal compares as NULL: matches nothing, prune-safe
    pred = [ColumnDomain("flag", op="=", value="maybe")]
    pruned, _ = _plan_files(cat, pred)
    assert pruned == []
    assert cat.read_table("d.t", predicate=pred).count() == 0


def test_scan_pruned_by_keys_bounds(cat, spark):
    commits = _mk_bloom_table(cat, spark)
    dim = spark.createDataFrame([(commits[1][3],), (commits[1][4],)], "uid string")
    out = cat.scan_pruned_by_keys("d.t", "uid", dim)
    assert {r.uid for r in out.collect()} == {commits[1][3], commits[1][4]}
    # above the bound: the plain (unpruned) scan returns unchanged
    full = cat.scan_pruned_by_keys("d.t", "uid", cat.read_table("d.t"), max_keys=10)
    assert full.count() == 900
    # empty build side: no keys can match, but the scan itself is the plain
    # one (an empty IN would wrongly prune everything for a later UNION use)
    empty = spark.createDataFrame([], "uid string")
    assert cat.scan_pruned_by_keys("d.t", "uid", empty).count() == 900
    # NULL-only keys behave like empty (equi-join never matches NULL)
    nulls = spark.createDataFrame([(None,)], "uid string")
    assert cat.scan_pruned_by_keys("d.t", "uid", nulls).count() == 900


# ---------------------------------------------------------------- lifecycle
def _sidecars(tdir):
    return sorted(glob.glob(os.path.join(tdir, "data", "**", "*" + fi.SUFFIX), recursive=True))


def test_expire_removes_dead_sidecars(cat, spark):
    _mk_bloom_table(cat, spark)
    tdir = cat._table_dir("d", "t")
    assert len(_sidecars(tdir)) == 3
    cat.compact("d", "t")  # rewrites live set (with fresh sidecars)
    cat.expire_snapshots("d", "t", keep_last=1)
    live = {
        os.path.join(tdir, e["path"]) for e in cat._pin_snapshot(tdir, None, None, None).files
    }
    remaining = _sidecars(tdir)
    assert remaining  # compacted files are indexed
    assert {s[: -len(fi.SUFFIX)] for s in remaining} == live


def test_rollback_removes_sidecars(cat, spark):
    _mk_bloom_table(cat, spark)
    tdir = cat._table_dir("d", "t")
    cat.rollback_to("d", "t", 1)
    assert len(_sidecars(tdir)) == 1


def test_orphan_cleanup_sidecar_rules(cat, spark):
    _mk_bloom_table(cat, spark)
    tdir = cat._table_dir("d", "t")
    live = _sidecars(tdir)
    # debris: a sidecar for a data file that never published (commit id 1 =
    # below horizon, old mtime) plus one for a referenced file (must survive)
    data_dir = os.path.dirname(live[0])
    debris = os.path.join(data_dir, "c1-deadbeef.parquet" + fi.SUFFIX)
    with open(debris, "w") as fh:
        fh.write("{}")
    os.utime(debris, (1, 1))
    res = cat.remove_orphan_files("d", "t", older_than_ms=int(2e12))
    assert not os.path.exists(debris)
    assert set(_sidecars(tdir)) == set(live)
    assert res["deleted_files"] >= 1


def test_compact_rebuilds_sidecars(cat, spark):
    commits = _mk_bloom_table(cat, spark)
    cat.compact("d", "t")
    cat.expire_snapshots("d", "t", keep_last=1)
    target = commits[1][2]
    pred = [ColumnDomain("uid", op="=", value=target)]
    pruned, total = _plan_files(cat, pred)
    assert len(pruned) <= total  # compacted layout still probes
    assert cat.read_table("d.t", predicate=pred).count() == 1
    # absent value still prunes everything on the compacted files
    gone, _ = _plan_files(cat, [ColumnDomain("uid", op="=", value="nope")])
    assert gone == []


# -------------------------------------------------------------------- units
def test_bloom_params_sanity():
    m, k = fi.bloom_params(1000, 0.01)
    assert m % 8 == 0 and 9000 <= m <= 10000  # ~9.6 bits/key at 1%
    assert 6 <= k <= 8
    with pytest.raises(ValueError):
        fi.bloom_params(0, 0.01)
    with pytest.raises(ValueError):
        fi.bloom_params(100, 1.5)


def test_canon_bytes_build_probe_equivalence():
    import datetime as dt

    # int column: python int, numpy-ish float, string literal all agree
    assert fi.canon_bytes(10, "bigint") == fi.canon_bytes(10.0, "bigint") == fi.canon_bytes(
        "10", "bigint"
    )
    assert fi.canon_bytes(10.5, "bigint") is None
    # date column: date object vs iso literal vs datetime
    d = dt.date(2024, 3, 1)
    assert (
        fi.canon_bytes(d, "date")
        == fi.canon_bytes("2024-03-01", "date")
        == fi.canon_bytes(dt.datetime(2024, 3, 1, 5), "date")
    )
    # strings pass through; char shares the string form
    assert fi.canon_bytes("ab", "char(5)") == fi.canon_bytes("ab", "string")
    with pytest.raises(ValueError):
        fi.canon_bytes(1.5, "double")


def test_bit_positions_stable():
    # pinned GOLDEN values: the index is durable on disk, so positions must
    # never drift across library/process versions — md5 is specified forever
    assert fi._bit_positions(b"s:hello", 1024, 3) == [683, 194, 729]
    assert fi._value_hash(b"s:hello") == "8c3ecaacea0f56ab"
    assert fi._bit_positions(b"s:hello", 1024, 3) != fi._bit_positions(b"s:hellp", 1024, 3)


# ------------------------------------------------------------- property tests
def test_bloom_never_false_negative_property():
    """THE bloom invariant: a value that was indexed must always probe
    'possibly present' — a false negative silently drops a file holding
    matching rows. Exercised across random value sets, sizes, and fpp."""
    import base64 as _b64
    import zlib as _zlib

    from hypothesis import given, settings
    from hypothesis import strategies as st

    value_sets = st.lists(
        st.one_of(
            st.text(min_size=0, max_size=40),
            st.integers(min_value=-(2**63), max_value=2**63 - 1),
        ),
        min_size=1,
        max_size=60,
    )

    @settings(max_examples=150, deadline=None)
    @given(vals=value_sets, items=st.integers(10, 5000), fpp=st.floats(0.001, 0.4))
    def check(vals, items, fpp):
        import numpy as np

        m, k = fi.bloom_params(items, fpp)
        bits = np.zeros(m // 8, dtype=np.uint8)
        for v in vals:
            ddl = "string" if isinstance(v, str) else "bigint"
            c = fi.canon_bytes(v, ddl)
            for pos in fi._bit_positions(c, m, k):
                bits[pos >> 3] |= 1 << (pos & 7)
        doc = {
            "version": 1,
            "fields": {
                "7": {
                    "kind": "bloom",
                    "m": m,
                    "k": k,
                    "enc": "zlib",
                    "bits": _b64.b64encode(_zlib.compress(bits.tobytes())).decode(),
                }
            },
        }
        for v in vals:
            ddl = "string" if isinstance(v, str) else "bigint"
            assert fi._possibly_contains(doc, 7, ddl, [v]), v

    check()


def test_bitmap_membership_exact_property():
    """Bitmap kind: present values always probe True; absent values probe
    False (64-bit hash membership — a collision can only KEEP a file)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=100, deadline=None)
    @given(
        present=st.sets(st.text(max_size=20), min_size=1, max_size=40),
        probe=st.text(max_size=20),
    )
    def check(present, probe):
        hashes = sorted(fi._value_hash(fi.canon_bytes(v, "string")) for v in present)
        doc = {"version": 1, "fields": {"3": {"kind": "bitmap", "hashes": hashes}}}
        for v in present:
            assert fi._possibly_contains(doc, 3, "string", [v])
        expected = probe in present
        assert fi._possibly_contains(doc, 3, "string", [probe]) == expected

    check()
