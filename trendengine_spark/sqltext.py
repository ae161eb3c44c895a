"""SQL-front-end plan construction for hot interactive queries.

Why this exists (measured, r6): classic PySpark DataFrame
transformations are EAGERLY ANALYZED — every ``select``/``join``/
``groupBy`` in a chain pays a py4j round trip plus JVM analysis of
the growing plan, so a 10-step build costs 50-120 ms of pure
client-side latency before any execution (r6 plan-construction
profile, now the traced benchmark run's ``queries.build_ms``:
tpch_q3 117 ms build for 354 ms exec; dedup_minhash_lsh 335 ms build
after its expression lists were already memoized — 661 py4j round
trips). A single ``spark.sql(...)`` statement ships ONE string, is
parsed and analyzed once JVM-side (~10-20 ms for the same q3), and
yields the identical Catalyst plan. That is also the honest
apples-to-apples posture against a SQL baseline, which parses a
string per query too.

Policy:

- The SQL text is built fresh per call (Python string work, free) and
  ``spark.sql`` re-analyzes per call — every invocation is a fresh
  plan with fresh exprIds; no shuffle-stage or result reuse across
  bench samples.
- Only the *query callables* on the interactive hot path use this
  front-end. The DataFrame-API operators in ``operators/`` remain the
  programmatic composition surface (and keep their own tests).
- Temp views are registered over
  :func:`~trendengine_spark.tables.load_table` plans ON EVERY call
  (one cheap py4j round trip per table — a memoized variant was
  silently wrong: other code paths legitimately register the same
  view names for a different sf_dir, e.g. ``tables.register_views``
  or the shared-dialect query, and a stale memo would then serve the
  wrong scale's data). Spark's cache manager matches by plan, so the
  views transparently pick up ``warm_cache``'s columnar cache and
  fall back to the parquet scan after ``clear_warm_cache`` — the
  view registration itself never fixes a physical choice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from trendengine_spark.tables import load_table


def sql_over_tables(
    spark: SparkSession, sf_dir: str, sql: str, tables: tuple[str, ...]
) -> DataFrame:
    """Issue one Spark-SQL statement over the named driver tables.

    Re-registers the temp views for ``tables`` (unconditionally —
    see module docstring for why memoization is unsafe) and returns
    ``spark.sql(sql)`` — a single analysis pass for the statement.
    """
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(sql)
