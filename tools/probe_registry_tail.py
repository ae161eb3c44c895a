"""Spark-only timing for non-bench registry queries (r14 session 6).

The check_oracle sweep times Spark + DuckDB + compare together, so its
per-query seconds over-state the engine. This probe reproduces the
bench methodology (warm table cache, fresh plan per sample, owned
caches dropped between samples, min-of-N, toArrow action) for an
arbitrary name list so the registry tail can be ranked honestly.

Run: python tools/probe_registry_tail.py [sf_dir] name [name ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]
    names = args

    from bench import BENCH_CONF
    from trendengine_spark.queries import all_queries
    from trendengine_spark.session import get_spark
    from trendengine_spark.tables import warm_cache

    spark = get_spark(app_name="probe_registry_tail", extra_conf=BENCH_CONF)
    qs = all_queries()
    spark.range(1000).selectExpr("sum(id)").collect()
    warm_cache(spark, sf_dir)

    jsc = spark.sparkContext._jsc

    def persistent_ids() -> set[int]:
        return set(jsc.getPersistentRDDs().keySet())

    table_cache_ids = persistent_ids()

    def drop_new_caches() -> None:
        pool = getattr(spark.sparkContext, "_te_owned_caches", None) or {}
        for key in list(pool):
            try:
                pool.pop(key).unpersist(blocking=True)
            except Exception:
                pass
        for rid in persistent_ids() - table_cache_ids:
            try:
                jsc.getPersistentRDDs().get(rid).unpersist()
            except Exception:
                pass

    def run(df) -> None:
        try:
            df.toArrow()
        except Exception:
            df.collect()

    for name in names:
        fn = qs.get(name)
        if fn is None:
            print(f"{name:36s} UNKNOWN")
            continue
        try:
            spark.sparkContext.setJobDescription(f"tail:{name}")
            run(fn(spark, sf_dir))
            drop_new_caches()
            best = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                run(fn(spark, sf_dir))
                best = min(best, time.perf_counter() - t0)
                drop_new_caches()
            print(f"{name:36s} {best:7.3f} s")
        except Exception as exc:
            print(f"{name:36s} ERROR {str(exc)[:90]}")
        finally:
            spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
