"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship EP2 pipeline (dedup → broadcast star
joins → revenue aggregation) on sf0.001. ``queries()`` / ``oracle_sql()``
expose the full declared operator surface from
``ecommerce_data_pipeline_spark.plans`` (SURVEY.md §2 inventory).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ecommerce_data_pipeline_spark import plans
from ecommerce_data_pipeline_spark.pipeline import flagship_revenue

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return flagship_revenue(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return plans.queries()


def oracle_sql() -> dict[str, str]:
    return plans.oracle_sql()
