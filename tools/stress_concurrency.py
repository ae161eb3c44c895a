"""Concurrent-query scale probe (r11, VERDICT r10 task 3) — the
untested cluster posture: a 100 TB warehouse runs many queries AT
ONCE, while every prior probe here is serial. This tool runs N
headline relational queries concurrently on one shared SparkSession
(one thread per query — the multi-tenant session pattern) over the
stress_sf1 replicated dataset, under the FAIR scheduler so no query
starves behind a long stage train, and reports:

- serial baseline: each query timed alone (sum = the work content);
- concurrent wall for N ∈ {4, 8}: submit N distinct queries at once,
  wall = last completion. Aggregate speedup = serial_sum / wall — on
  a box with spare cores this should exceed 1 (concurrency fills the
  scheduler gaps each serial query leaves), and the distance from
  ideal (min(cores/avg_query_width, N)) measures scheduler /
  broadcast / GC contention;
- fairness: per-query slowdown vs its serial time (max/median) —
  FAIR should bound the worst case near N× for CPU-bound mixes, far
  under the FIFO worst case where a query waits for every stage of
  every query ahead of it.

FAIR needs an allocation file to make the default pool itself FAIR
(mode=FAIR alone only makes POOLS fair; jobs inside the one default
pool still run FIFO — the classic half-configuration):
the tool writes one and points spark.scheduler.allocation.file at it.

Usage: python tools/stress_concurrency.py [replicas] [src] [mode]
       mode ∈ {FAIR, FIFO} (default FAIR); run once per mode —
       scheduler mode is fixed at context startup.
"""

from __future__ import annotations

import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.stress_sf1 import OUT, build  # noqa: E402

QUERIES = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q13_customer_distribution",
    "tpch_q18_large_volume_customer",
    "join_inner_3way",
    "window_topk_per_group",
    "graph_triangle_counts",
    "profile_numeric_correlations",
]

_POOL_XML = """<?xml version="1.0"?>
<allocations>
  <pool name="default">
    <schedulingMode>FAIR</schedulingMode>
    <weight>1</weight>
    <minShare>0</minShare>
  </pool>
</allocations>
"""


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 30
    src = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    mode = (sys.argv[3] if len(sys.argv) > 3 else "FAIR").upper()

    from trendengine_spark.queries import REGISTRY
    from trendengine_spark.session import get_spark

    extra = {"spark.scheduler.mode": mode}
    if mode == "FAIR":
        pool_file = "/tmp/te_fair_pools.xml"
        with open(pool_file, "w") as f:
            f.write(_POOL_XML)
        extra["spark.scheduler.allocation.file"] = pool_file

    spark = get_spark(app_name=f"stress_concurrency_{mode}", extra_conf=extra)
    if os.environ.get("TE_SF1_REUSE") == "1" and os.path.exists(OUT):
        print("build: reused existing", file=sys.stderr)
    else:
        t0 = time.perf_counter()
        build(spark, src, replicas)
        print(f"build: {time.perf_counter() - t0:.1f}s", file=sys.stderr)
    n_li = spark.read.parquet(f"{OUT}/lineitem.parquet").count()

    def run_one(name: str) -> float:
        t0 = time.perf_counter()
        REGISTRY[name].fn(spark, OUT).toArrow()
        return round(time.perf_counter() - t0, 3)

    # warm-up: codegen + page cache for every shape, untimed
    for name in QUERIES:
        run_one(name)

    serial = {name: run_one(name) for name in QUERIES}
    serial_sum = round(sum(serial.values()), 3)

    def concurrent(names: list[str]) -> tuple[float, dict[str, float]]:
        per: dict[str, float] = {}
        t0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=len(names)) as ex:
            futs = {ex.submit(run_one, n): n for n in names}
            for f in futs:
                per[futs[f]] = f.result()
        return round(time.perf_counter() - t0, 3), per

    wall4, per4 = concurrent(QUERIES[:4])
    wall8, per8 = concurrent(QUERIES)

    def fairness(per: dict[str, float]) -> dict[str, float]:
        slow = {n: round(per[n] / serial[n], 2) for n in per}
        vals = sorted(slow.values())
        return {
            "max_slowdown": vals[-1],
            "median_slowdown": vals[len(vals) // 2],
        }

    print(
        json.dumps(
            {
                "probe": "concurrency",
                "mode": mode,
                "replicas": replicas,
                "lineitem_rows": n_li,
                "serial": serial,
                "serial_sum_sec": serial_sum,
                "serial_sum_first4_sec": round(
                    sum(serial[n] for n in QUERIES[:4]), 3
                ),
                "concurrent4_wall_sec": wall4,
                "concurrent4": per4,
                "concurrent4_speedup": round(
                    sum(serial[n] for n in QUERIES[:4]) / wall4, 2
                ),
                "concurrent8_wall_sec": wall8,
                "concurrent8": per8,
                "concurrent8_speedup": round(serial_sum / wall8, 2),
                "fairness4": fairness(per4),
                "fairness8": fairness(per8),
            }
        )
    )


if __name__ == "__main__":
    main()
