"""The session plan memo (`sources.registry.session_plan`) behind
`sources.table()` and `_trained_cells`: plans only, per session, by file
identity. Pins: reuse, file-change invalidation with one entry per path,
no collision between kinds on one file, no sharing across sessions, and
that a reused plan still computes fresh results.
"""

from __future__ import annotations

import os
import shutil
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tests.conftest import SF_SMOKE


def test_table_plan_reused_and_invalidated_on_file_change(spark, tmp_path):
    from incubator_paimon_trino_spark.sources import table

    a = table(spark, SF_SMOKE, "lineitem")
    b = table(spark, SF_SMOKE, "lineitem")
    assert a is b, "second read of an unchanged file must reuse the plan"

    # a changed file (different mtime/size) must MISS — copy to a tmp sf_dir,
    # read, then overwrite with different content and read again
    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copy(Path(SF_SMOKE) / "region.parquet", sf / "region.parquet")
    r1 = table(spark, str(sf), "region")
    n1 = r1.count()
    shutil.copy(Path(SF_SMOKE) / "nation.parquet", sf / "region.parquet")
    r2 = table(spark, str(sf), "region")
    assert r2 is not r1, "rewritten file must invalidate the cached plan"
    assert r2.count() != n1  # nation has 25 rows, region 5


def test_cached_plan_recomputes_from_parquet(spark, tmp_path):
    """No result caching: a reused plan re-reads the file on every action."""
    from incubator_paimon_trino_spark.sources import table

    sf = tmp_path / "sf"
    sf.mkdir()
    dst = sf / "region.parquet"
    shutil.copy(Path(SF_SMOKE) / "region.parquet", dst)
    df = table(spark, str(sf), "region")
    assert df.count() == 5
    assert table(spark, str(sf), "region") is df
    dst.unlink()  # same plan object, source gone -> action must fail
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import AnalysisException

    with pytest.raises((Py4JJavaError, AnalysisException, Exception)):
        df.count()


def test_events_encoding_normalization_survives_cache(spark):
    from pyspark.sql import types as T

    from incubator_paimon_trino_spark.sources import table

    e1 = table(spark, SF_SMOKE, "events")
    e2 = table(spark, SF_SMOKE, "events")
    assert e1 is e2
    assert isinstance(e1.schema["ts"].dataType, T.TimestampType)


def _entries(spark, path):
    from incubator_paimon_trino_spark.sources.registry import _plans

    path = os.path.abspath(path)
    return [k for k in _plans.get(spark, {}) if k[1] == path]


def test_rewritten_file_leaves_one_entry_per_path(spark, tmp_path):
    from incubator_paimon_trino_spark.sources import table

    sf = tmp_path / "sf"
    sf.mkdir()
    dst = sf / "region.parquet"
    shutil.copy(Path(SF_SMOKE) / "region.parquet", dst)
    first = table(spark, str(sf), "region")
    st = os.stat(dst)
    for i in range(1, 4):
        shutil.copy(Path(SF_SMOKE) / "region.parquet", dst)
        t = st.st_mtime_ns + i * 1_000_000_000  # a distinct mtime per rewrite
        os.utime(dst, ns=(t, t))
        assert table(spark, str(sf), "region") is not first
    assert _entries(spark, dst) == [("table", str(dst))]


def test_table_and_trained_cells_do_not_collide(spark, tmp_path):
    from incubator_paimon_trino_spark.operators.clustering import _trained_cells
    from incubator_paimon_trino_spark.sources import table

    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copy(Path(SF_SMOKE) / "embeddings.parquet", sf / "embeddings.parquet")
    e = table(spark, str(sf), "embeddings")
    cells = _trained_cells(spark, str(sf))
    assert isinstance(cells, tuple) and len(cells) == 3
    assert table(spark, str(sf), "embeddings") is e
    assert _trained_cells(spark, str(sf)) is cells
    path = str(sf / "embeddings.parquet")
    assert sorted(_entries(spark, path)) == [("table", path), ("trained_cells", path)]


def test_new_session_gets_its_own_plans(spark):
    from incubator_paimon_trino_spark.operators.clustering import _trained_cells
    from incubator_paimon_trino_spark.sources import table

    other = spark.newSession()
    assert table(other, SF_SMOKE, "region") is not table(spark, SF_SMOKE, "region")
    mine = _trained_cells(spark, SF_SMOKE)
    theirs = _trained_cells(other, SF_SMOKE)
    assert theirs is not mine
    assert _trained_cells(other, SF_SMOKE) is theirs
    assert theirs[0].sparkSession is other
