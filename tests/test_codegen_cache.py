"""Compiled query code is kept between runs: ``get_spark`` sizes Spark's
generated-class cache (``spark.sql.codegen.cache.maxEntries``, static conf)
to hold the engine's working set, so a query run again in an interleaved mix
reuses its classes instead of compiling and JIT-warming them anew.

The six headline queries below compile about 140 classes per pass from a
cold cache at ``SF_SMOKE``, more than Spark's default of 100 entries, which
recompiles all of them on every pass.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from incubator_paimon_trino_spark.plans import codegen_compile_count
from incubator_paimon_trino_spark.session import CODEGEN_CACHE_ENTRIES
from tests.conftest import SF_SMOKE

MIX = [
    "embedding_kmeans_assign",
    "dedup_chunk_repetition",
    "q5_local_supplier_volume",
    "ann_cosine_topk",
    "q9_product_type_profit",
    "q3_shipping_priority",
]


def test_session_has_the_engine_cache_size(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)


def test_warm_pass_of_a_query_mix_compiles_nothing(spark):
    import __spark_entry__ as e

    qs = e.queries()

    def one_pass() -> int:
        c0 = codegen_compile_count(spark)
        for name in MIX:
            qs[name](spark, SF_SMOKE).collect()
        return codegen_compile_count(spark) - c0

    one_pass()  # warm: compiles whatever earlier tests left uncached
    assert one_pass() == 0
