"""Analytical-core throughput stress (not part of the driver bench).

Synthesizes N series × M monthly points (seasonal + noise, an
injected 0.2 level shift at month 120 on every third series) and
times five per-series fitters end to end, each one
``operators.util.fit_series`` pass (hash repartition by series, sort
within partitions, one ``mapInArrow``): DBEST (largest change only),
PolyTrend, Mann-Kendall, seasonal Mann-Kendall and BFAST monitor.
This is the scale-out evidence for SURVEY §4.3: per-series work is
bounded, so throughput is linear in cores and series count.

Series/s depends on the box: quote it with the core count and
``bench._parallel_calibration()`` taken just before the run, and
compare only runs on the same box at similar calibration. BFAST
alarms are ≈ 0 by design: the planted shift at month 120 falls
inside the 144-month history window, so the alarm count measures the
λ=4 false-positive rate.

Usage: python tools/stress_core.py [n_series] [n_months]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    n_series = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000
    n_months = int(sys.argv[2]) if len(sys.argv) > 2 else 240

    from trendengine_spark.functions.dbest import dbest_changes
    from trendengine_spark.functions.polytrend import polytrend_groups
    from trendengine_spark.session import get_spark

    spark = get_spark(app_name="stress_core")
    base = spark.range(n_series).withColumnRenamed("id", "sid")
    months = spark.range(n_months).withColumnRenamed("id", "m")
    obs = (
        base.crossJoin(months)
        .withColumn(
            "period_start",
            F.expr("timestampadd(MONTH, CAST(m AS INT), timestamp'1990-01-15')"),
        )
        .withColumn(
            "value",
            0.45
            + 0.05 * F.sin(2 * 3.14159265 * F.col("m") / 12)
            + F.when((F.col("sid") % 3 == 0) & (F.col("m") >= 120), 0.2).otherwise(0.0)
            + (F.rand(seed=1) - 0.5) * 0.02,
        )
        .select("sid", "period_start", "value")
        .repartition(64)
        .cache()
    )
    rows = obs.count()

    t0 = time.perf_counter()
    n = dbest_changes(obs, ["sid"], largest_only=True).count()
    dt = time.perf_counter() - t0
    print(f"dbest: {n} series / {rows} rows in {dt:.1f}s -> {n / dt:.0f} series/s")

    t0 = time.perf_counter()
    npt = polytrend_groups(obs, ["sid"], time_col="period_start").count()
    dt = time.perf_counter() - t0
    print(f"polytrend: {npt} series in {dt:.1f}s -> {npt / dt:.0f} series/s")

    # r7 additions: MK (O(n²) pairwise triangle per series), seasonal
    # MK (12 within-month triangles), BFAST-monitor (OLS + MOSUM)
    from trendengine_spark.functions.bfast import bfast_monitor_groups
    from trendengine_spark.functions.mannkendall import (
        mann_kendall_groups,
        seasonal_mann_kendall_groups,
    )

    t0 = time.perf_counter()
    nmk = mann_kendall_groups(
        obs, ["sid"], time_col="period_start", value_col="value"
    ).count()
    dt = time.perf_counter() - t0
    print(f"mann_kendall: {nmk} series in {dt:.1f}s -> {nmk / dt:.0f} series/s")

    smk_in = obs.withColumn("season", F.month("period_start")).withColumn(
        "yy", F.year("period_start")
    )
    t0 = time.perf_counter()
    nsmk = seasonal_mann_kendall_groups(
        smk_in, ["sid"], time_col="yy", season_col="season",
        value_col="value",
    ).count()
    dt = time.perf_counter() - t0
    print(
        f"seasonal_mk: {nsmk} series in {dt:.1f}s -> {nsmk / dt:.0f} series/s"
    )

    t0 = time.perf_counter()
    bf = bfast_monitor_groups(
        obs, ["sid"], time_col="period_start", value_col="value"
    )
    n_alarm = bf.filter("break_detected").count()
    dt = time.perf_counter() - t0
    print(
        f"bfast_monitor: {n_series} series in {dt:.1f}s -> "
        f"{n_series / dt:.0f} series/s; {n_alarm} alarms "
        f"(the planted month-120 shift sits INSIDE the history "
        f"window, so alarms here measure the false-positive rate)"
    )


if __name__ == "__main__":
    main()
