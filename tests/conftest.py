from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from incubator_paimon_trino_spark import get_spark

    # spark.default.parallelism=2 (TEST session only): tests build tiny
    # DataFrames from local lists, and every ACTION on such a pickled
    # `parallelize` plan pays one Python-worker handshake PER SLICE —
    # serially under the common `.coalesce(1)` write pattern. At the
    # default local[32] slicing that is 32 handshakes ≈ 5.5 s per action
    # (measured r14: a 10-row insert_into cost 6–12 s; with 2 slices it is
    # 0.4–1.7 s). Two slices keep the multi-partition code paths exercised.
    # The bench/driver sessions are untouched — benched queries read
    # parquet, never local lists.
    spark = get_spark(
        "tests",
        shuffle_partitions=8,
        extra_conf={"spark.default.parallelism": "2"},
    )
    # on a live session get_spark applies only the settings it is passed,
    # and a core key like this one cannot change there (it warns instead)
    assert spark.sparkContext.defaultParallelism == 2, "test session conf not applied"
    yield spark


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events documents embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_ORACLE}/{t}.parquet'")
    yield con
