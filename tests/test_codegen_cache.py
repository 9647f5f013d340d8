"""The session's codegen class cache holds a registry working set.

Spark compiles each generated class once and keeps it in an LRU of
``spark.sql.codegen.cache.maxEntries`` entries.  One pass over the four
LSH/corpus keys below needs more than Spark's default of 100 classes, so
with the default every class is evicted before the next execution of the
same plans and compiled again (at sf0.001: 79-95 classes on every later
pass).  ``get_spark`` sizes the cache so that later passes over built
plans compile nothing, and names whole-stage classes without their stage
id, so that a stage AQE numbers differently is not compiled again.
"""

from __future__ import annotations

from atac_data_products_spark.session import CODEGEN_CACHE_ENTRIES
from tests.conftest import SF_SMALL
from tools.measure import compiled_classes

KEYS = [
    "dedup_minhash_lsh",
    "dedup_prefix_filter_join",
    "corpus_pipeline_e2e",
    "corpus_dedup_survivors",
]


def test_later_passes_over_built_plans_compile_nothing(spark):
    import __spark_entry__ as e

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )
    # AQE may finish two sibling stages in either order and so number
    # their whole-stage classes differently on each execution; the
    # session's class names carry no stage id, so a renamed stage is not
    # a new cache entry
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"
    qs = e.queries()
    frames = {k: qs[k](spark, SF_SMALL) for k in KEYS}
    for df in frames.values():
        df.select("*").toPandas()
    for n in range(2):
        c0 = compiled_classes(spark)
        for df in frames.values():
            df.select("*").toPandas()
        assert compiled_classes(spark) - c0 == 0, f"pass {n + 2} recompiled"
