"""Session factory confs that only take effect at JVM launch."""

from __future__ import annotations

from perfbench.workloads import MIX

from muninn_avro_to_parquet_spark import session, tables
from muninn_avro_to_parquet_spark.queries import QUERIES
from tests.conftest import SF_SMOKE


def _codegen_compiles(spark) -> int:
    """Janino compiles so far in this JVM: ``CodeGenerator`` records one
    compile time per generated class it had to compile, i.e. one per miss
    of its class cache."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_get_spark_sizes_codegen_class_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        session.CODEGEN_CACHE_ENTRIES
    )


def test_catalog_mix_second_pass_compiles_nothing(spark):
    """One pass over the benchmark's catalog_mix entries generates more
    classes than Spark's default cache of 100 holds, so at that bound each
    pass evicts and recompiles them all. Under the get_spark bound, a
    repeated pass finds every class in the cache.

    Class names leave out the codegen stage id (``RUNTIME_CONFS``): AQE
    numbers stages in the order they are created, which can differ from
    run to run (q_distinct_sketch's two independent branches, under
    load), and a renumbered stage would be new source."""

    def run_pass() -> dict[str, int]:
        compiles = {}
        for name in MIX:
            before = _codegen_compiles(spark)
            QUERIES[name].spark(spark, SF_SMOKE).write.format("noop").mode(
                "overwrite"
            ).save()
            compiles[name] = _codegen_compiles(spark) - before
        return compiles

    tables.register_views(spark, SF_SMOKE)
    run_pass()
    assert run_pass() == dict.fromkeys(MIX, 0)
