"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pipeline on sf0.001;
``queries()`` / ``oracle_sql()`` expose the full declared-query
registry (``trendengine_spark/queries/``): one entry per implemented
operator from SURVEY.md §2 + the §2.6 relational closure + the
LLM-data-pipeline extensions, each paired with DuckDB oracle SQL
where the semantics are ANSI-SQL-expressible (non-SQL-expressible
per-series numpy fits are declared without SQL → rows-only check;
their math is golden-tested in ``tests/``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from trendengine_spark.queries import all_oracle_sql, all_queries

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The §3.2-shaped pipeline: scan → temporal filter → monthly mean
    composite → per-series PolyTrend classification (``fit_series``),
    over lineitem priced series keyed by return flag.
    """
    from trendengine_spark.queries.timeseries import flagship_trend_pipeline

    return flagship_trend_pipeline(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for each SQL-expressible query."""
    return all_oracle_sql()
