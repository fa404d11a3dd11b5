"""Sentinel for the generated-class cache size (session.build_session
pins ``spark.sql.codegen.cache.maxEntries``).

The cache is an LRU and a repeated pass reuses its classes in a cycle,
so a working set larger than the cache evicts most classes before their
next use and each warm pass recompiles them. This builds one job of more
than 100 distinct generated classes (Spark's default cache size), builds
it again as a registry query is rebuilt on every run, and asserts that
the second collect compiles nothing. At the default of 100 the second
collect recompiled 62-93 of the 110 classes when measured."""

from functools import reduce

from pyspark.sql import DataFrame


def _compiles(spark) -> int:
    jvm = spark.sparkContext._jvm
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def _working_set(spark) -> DataFrame:
    # each branch's distinct literals give it two generated classes of
    # its own
    return reduce(
        DataFrame.unionAll,
        [
            spark.range(0, 1, 1, 1).selectExpr(f"id * {i} + {i} AS x")
            for i in range(55)
        ],
    )


def test_warm_pass_compiles_nothing(spark):
    start = _compiles(spark)
    first = _working_set(spark).collect()
    cold = _compiles(spark)
    assert cold - start > 100  # the working set outgrows the default
    assert _working_set(spark).collect() == first
    assert _compiles(spark) - cold == 0
