"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

The real registry lives in
``dissertation_data_pipeline_spark/plans/registry.py`` — one named query
per implemented SURVEY §2 operator, each paired with its DuckDB oracle.
``queries()`` and ``oracle_sql()`` return them in registration order.
There is no ordering policy: ``tools/check_correctness.py`` runs the
same comparison over all of them on every change, so no query needs to
come first.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (SURVEY §7.2 end-to-end slice) on sf0.001."""
    from dissertation_data_pipeline_spark.plans.registry import QUERIES

    return QUERIES["flagship_corpus_rollup"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from dissertation_data_pipeline_spark.plans.registry import query_fns

    return query_fns()


def oracle_sql() -> dict[str, str]:
    from dissertation_data_pipeline_spark.plans.registry import oracle_sqls

    return oracle_sqls()
