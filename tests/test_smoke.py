"""Smoke: driver contract + flagship query + oracle agreement for the core set."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tests.conftest import SF_ORACLE, SF_SMOKE
from tools.check import digest


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    qs, oracles = e.queries(), e.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 5


def test_flagship_matches_oracle(spark, duck):
    import __spark_entry__ as e

    fn = e.queries()["q1_pricing_summary"]
    sdf = fn(spark, SF_ORACLE)
    res = duck.execute(e.oracle_sql()["q1_pricing_summary"])
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    srows = [tuple(r) for r in sdf.collect()]
    assert len(srows) == len(orows)
    assert sorted(sdf.columns) == sorted(ocols)
    assert digest(sdf.columns, srows) == digest(ocols, orows)


def test_q6_pushdown_reaches_scan(spark):
    """The Q6 physical plan must show parquet PushedFilters + pruned schema."""
    import __spark_entry__ as e

    df = e.queries()["q6_forecast_revenue"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_shipdate)" in plan or "GreaterThanOrEqual(l_shipdate" in plan


def test_get_spark_warns_when_extra_conf_is_ignored(spark):
    """On an existing session only runtime SQL conf applies: a core setting
    that did not take effect warns; one that did stays silent."""
    import warnings

    from incubator_paimon_trino_spark import get_spark

    shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.warns(UserWarning, match="spark.default.parallelism=3 did not take effect"):
        same = get_spark(
            shuffle_partitions=int(shuffle), extra_conf={"spark.default.parallelism": "3"}
        )
    assert same is spark and spark.sparkContext.defaultParallelism == 2
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        get_spark(
            shuffle_partitions=int(shuffle),
            extra_conf={"spark.default.parallelism": "2", "spark.sql.shuffle.partitions": shuffle},
        )
    assert spark.conf.get("spark.sql.shuffle.partitions") == shuffle


def test_get_spark_warns_when_codegen_cache_size_is_ignored(spark):
    """The generated-class cache size is static conf: only session creation
    sets it, so asking a live session for another size warns."""
    from incubator_paimon_trino_spark import get_spark
    from incubator_paimon_trino_spark.session import CODEGEN_CACHE_ENTRIES

    key, other = "spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES + 1)
    with pytest.warns(UserWarning, match=f"{key}={other} did not take effect"):
        same = get_spark(extra_conf={key: other})
    assert same is spark and spark.conf.get(key) == str(CODEGEN_CACHE_ENTRIES)


def test_get_spark_keeps_live_session_conf(spark):
    """A second get_spark() returns the live session without resetting the
    runtime conf its owner changed; settings passed explicitly still apply."""
    from incubator_paimon_trino_spark import get_spark

    keys = ("spark.sql.shuffle.partitions", "spark.sql.session.timeZone")
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        assert get_spark() is spark
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        assert spark.conf.get("spark.sql.session.timeZone") == "America/Los_Angeles"
        assert get_spark(shuffle_partitions=5) is spark
        assert spark.conf.get("spark.sql.shuffle.partitions") == "5"
        assert spark.conf.get("spark.sql.session.timeZone") == "America/Los_Angeles"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
