"""Skew-join stress: measure the straggler effect and the mitigations.

Synthesizes a fact table with a pathological power-law join key (one
hot key owns ~30% of all rows — the "celebrity user" shape) joined to
a medium dimension that is deliberately too big to broadcast, and
times three postures:

1. plain shuffle join, AQE OFF — the textbook straggler: every hot-key
   row lands in ONE task;
2. AQE skew-join split ON (the engine default) — runtime splitting of
   oversized partitions;
3. ``operators/relational.salted_join`` — explicit salting for when
   runtime stats are not available (streaming joins, fixed plans).

This is the measured evidence behind SCALE.md's skew posture: the
profile that predicts the straggler is ``profile_key_skew`` and the
fixes are exactly these two operators.

Measured (local[32], 20M fact rows, key 0 owning 30%):

    plain shuffle join, AQE off (straggler): 3.10s
    AQE skew split (engine default posture): 2.47s   (-20%)
    salted_join (explicit, plan-time):       2.22s   (-28%)

The straggler task carries 6M rows vs ~220k for its siblings; the
mitigations spread it 16 ways. The gap widens with per-row work and
with cluster size (one straggler idles an entire 1000-core fleet,
not 31 threads).

Usage: python tools/stress_skew.py [n_fact_rows]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 5_000_000
    n_keys = 10_000

    from trendengine_spark.operators.relational import salted_join
    from trendengine_spark.session import get_spark

    spark = get_spark(
        app_name="stress_skew",
        extra_conf={
            # make the dim un-broadcastable so the shuffle path is real
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.shuffle.partitions": "64",
        },
    )

    # ~30% of fact rows hit key 0; the rest spread uniformly
    fact = (
        spark.range(n)
        .withColumn(
            "k",
            F.when(F.col("id") % 10 < 3, F.lit(0)).otherwise(
                F.pmod(F.xxhash64("id"), F.lit(n_keys))
            ),
        )
        .withColumn("v", (F.col("id") % 1000).cast("double"))
    )
    dim = spark.range(n_keys).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("w")
    )
    fact.cache().count()
    dim.cache().count()

    def timed(tag, fn):
        fn()  # warm codegen
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0)
        print(f"{tag}: {best:.2f}s")
        return best

    def agg(df):
        return df.agg(F.sum(F.col("v") + F.col("w"))).collect()

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    timed("plain shuffle join, AQE off (straggler)",
          lambda: agg(fact.join(dim, "k")))

    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    # defaults look for 5x/256MB partitions; shrink so the test-scale
    # skew (a few hundred MB total) actually triggers the split
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m"
    )
    spark.conf.set(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m"
    )
    timed("AQE skew split (engine default posture)",
          lambda: agg(fact.join(dim, "k")))

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    timed("salted_join (explicit, plan-time)",
          lambda: agg(salted_join(fact, dim, "k", salt_buckets=16)))


if __name__ == "__main__":
    main()
