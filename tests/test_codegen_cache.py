"""Spark keeps Janino-compiled classes in one JVM-wide cache whose size
is a static conf (`spark.sql.codegen.cache.maxEntries`, default 100).
One pass over the bench queries generates a few hundred classes, so at
the default size every pass evicted and recompiled what the last one
built.  The cache is keyed on the generated source, which by default
names each class after its codegen stage id, an id AQE assigns in stage
completion order.  Under test: the session reports the size the factory
sets and keeps stage ids out of class names, and a repeated pass over
the bench queries compiles (almost) nothing."""

from __future__ import annotations

from urban_mobility_data_lakehouse_spark.queries import bench_queries
from urban_mobility_data_lakehouse_spark.queries.functions_suite import (
    prepare,
)
from urban_mobility_data_lakehouse_spark.session import CODEGEN_CACHE_ENTRIES


def _compilations(spark) -> int:
    """Janino compilations so far in this JVM (every session's)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source
    return metrics.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def test_session_sizes_the_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )


def test_generated_class_names_carry_no_stage_id(spark):
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"


def test_repeated_bench_pass_reuses_compiled_code(spark, sf_dir):
    prepare(spark, sf_dir)
    specs = sorted(bench_queries().items())
    assert len(specs) == 17

    def one_pass() -> None:
        for _name, spec in specs:
            spec.builder(spark, sf_dir).collect()

    one_pass()
    before = _compilations(spark)
    one_pass()
    # the default 100-entry cache recompiles about 350 classes here
    assert _compilations(spark) - before <= 10
