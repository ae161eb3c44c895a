"""Holt-Winters throughput: 10k daily series through the grouped
batched backtest (hw_backtest_groups). Planted trend + weekly
seasonality + hash noise; asserts-by-print that HW beats the naive
baseline on every series. Expected ~3.1k series/s warm end-to-end
(the printed wall includes the cold input generation, ~2s); the
pure-numpy recursion core is printed for reference (~39k series/s).

Usage: python tools/stress_holtwinters.py [n_thousands]  (default 10)
"""

import os, sys, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import numpy as np
from pyspark.sql import functions as F
from trendengine_spark.functions.holtwinters import hw_backtest_groups, hw_vectorized
from trendengine_spark.session import get_spark

spark = get_spark(app_name="stress-holtwinters")
spark.sparkContext.setLogLevel("ERROR")

n_series = int(sys.argv[1]) * 1000 if len(sys.argv) > 1 else 10_000
t_len = 250
# deterministic synthetic daily series: trend + weekly seasonality + hash noise
df = (spark.range(0, n_series).select(F.col("id").alias("sid"))
  .join(spark.range(0, t_len).select(F.col("id").alias("t")))
  .select("sid",
          F.expr("date_add(DATE'2024-01-01', CAST(t AS INT))").alias("d"),
          (F.lit(50.0) + F.col("t")*0.3
           + F.expr("CASE pmod(t,7) WHEN 0 THEN 8 WHEN 1 THEN -4 WHEN 2 THEN 3 WHEN 3 THEN 0 WHEN 4 THEN -6 WHEN 5 THEN 9 ELSE -10 END")
           + (F.pmod(F.xxhash64("sid","t"), F.lit(100))-50)/50.0).alias("n")))
t0=time.time()
out = hw_backtest_groups(df, ["sid"], "d", "n", m=7, horizon=14)
rows = out.collect()
t=time.time()-t0
wins = sum(1 for r in rows if r["hw_beats_naive"])
print(f"series={n_series:,} x {t_len}d  wall={t:.1f}s  series_per_s={n_series/t:,.0f}  hw_wins={wins}/{len(rows)}")
# pure-numpy core throughput for reference (all series one matrix)
ym = np.random.RandomState(0).normal(size=(n_series, t_len))
t0=time.time(); hw_vectorized(ym, 7, 14); t=time.time()-t0
print(f"numpy core alone: {n_series/t:,.0f} series/s")
spark.stop()
