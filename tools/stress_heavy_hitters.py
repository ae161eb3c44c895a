"""Heavy-hitter stress: bounded-state Misra-Gries + exact verify vs a
full-cardinality GROUP BY at high distinct-key counts.

Synthetic workload: N rows where 10% of rows concentrate on 7 hot keys
(each ~1.4% of rows, well above the 1/128 report threshold) and the
other 90% are ALL DISTINCT — the regime where a full-cardinality
aggregation shuffles ~0.9*N keys while the MG pass shuffles only
O(partitions * counters) summary rows plus <= counters candidates.

Checks exact equality of the two answers, then prints wall times.

Usage: python tools/stress_heavy_hitters.py [N_millions]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from trendengine_spark.operators.profile import heavy_hitters_mg
from trendengine_spark.session import get_spark


def main() -> None:
    n = int(float(sys.argv[1]) * 1e6) if len(sys.argv) > 1 else 20_000_000
    spark = get_spark(app_name="stress-heavy-hitters")
    spark.sparkContext.setLogLevel("ERROR")

    df = spark.range(0, n).select(
        F.when(
            F.col("id") % 10 == 0,
            F.concat(F.lit("hot_"), (F.col("id") % 7).cast("string")),
        )
        .otherwise(F.concat(F.lit("c"), F.col("id").cast("string")))
        .alias("k")
    )
    df = df.persist()
    df.count()  # materialize input out of both timings

    t0 = time.time()
    mg = {(r["k"], r["cnt"]) for r in heavy_hitters_mg(df, "k", denom=128).collect()}
    t_mg = time.time() - t0

    t0 = time.time()
    exact = {
        (r["k"], r["cnt"])
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") * 128 > F.lit(n))
        .collect()
    }
    t_exact = time.time() - t0

    assert mg == exact, f"MISMATCH: mg={sorted(mg)[:5]} exact={sorted(exact)[:5]}"
    n_distinct = int(0.9 * n) + 7
    print(
        f"rows={n:,} distinct~{n_distinct:,} hot=7  "
        f"mg+verify={t_mg:.2f}s  full-groupBy={t_exact:.2f}s  "
        f"hitters={len(mg)} (equal sets)"
    )
    spark.stop()


if __name__ == "__main__":
    main()
