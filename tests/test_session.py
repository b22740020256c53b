"""Engine session defaults that only show across statements.

Spark's generated-class cache is JVM-wide and sized by the static conf
``spark.sql.codegen.cache.maxEntries``. A repeated plan shape must reuse
its compiled classes even after many other shapes ran in between;
``CodegenMetrics``'s compilation histogram counts every compile.
"""

from __future__ import annotations

from okera_trino_spark.sources.catalog import GovernedCatalog, TablePolicy

#: Distinct shapes run between two executions of the same statement.
#: More than Spark's 100-entry default, far fewer than the engine's cap.
_OTHER_SHAPES = 150


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_other_shapes(spark) -> None:
    # Spark inlines integer literals into the generated Java, so every
    # literal is a class of its own.
    for i in range(_OTHER_SHAPES):
        spark.range(4).selectExpr(f"id * 7 + {1_000_003 + i} AS x").collect()


def test_repeated_shape_is_not_recompiled(spark):
    def shape():
        return (spark.range(1000).selectExpr("id % 13 AS k", "id * 3 AS v")
                .groupBy("k").sum("v").collect())

    first = shape()
    _run_other_shapes(spark)
    before = _compiles(spark)
    assert shape() == first
    assert _compiles(spark) == before


def test_repeated_governed_statement_is_not_recompiled(spark, sf_dir):
    cat = GovernedCatalog(spark, sf_dir)
    # The principal's session is a newSession() child built after the
    # engine session; the cache is shared through the SparkContext.
    cat.set_policy("codegen_cache_user", "orders",
                   TablePolicy(row_filter="o_orderstatus = 'F'"))
    sql = ("SELECT o_orderpriority, count(*) AS n, sum(o_totalprice) AS p "
           "FROM orders WHERE o_totalprice > 1000 GROUP BY o_orderpriority")

    def statement():
        return sorted(cat.execute(sql, user="codegen_cache_user").collect())

    first = statement()
    _run_other_shapes(spark)
    before = _compiles(spark)
    assert statement() == first
    assert _compiles(spark) == before
