"""Analytical per-series functions (the engine's UDF surface).

The reference delegates per-pixel fitting to R packages via rpy2, one
serial call per pixel (``TrendEngine/calculations/polytrend.py:282-286``,
``dbest.py:107-125``). Here the math is re-derived from the published
algorithms in pure numpy and executed by
:func:`~trendengine_spark.operators.util.fit_series`: one keyed
repartition, a per-partition sort, and one ``mapInArrow`` pass that
fits each series as its rows stream by — distributed across
executors, no per-row or per-series process boundary.
"""
