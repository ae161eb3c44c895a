"""Shuffle-spill degradation probe (r10, VERDICT r9 task 7).

Every sf3 query fits comfortably in the sandbox's 128 GiB, so the
sort-merge SPILL path — the thing that keeps a 100 TB shuffle alive
when a partition outgrows execution memory — had never actually
executed. This tool forces it: a deliberately overcommitted session
(small driver heap via ``spark.driver.memory`` — in local mode the
driver JVM IS the executor — plus a squeezed
``spark.memory.fraction`` and FEW shuffle partitions so each sort is
large) runs the MERGE-pinned fact-join shapes (q18, q21) over the
sf3 build from ``tools/stress_sf1.py``, then reads per-stage
``memoryBytesSpilled`` / ``diskBytesSpilled`` from the Spark status
REST API.

PASS = the queries COMPLETE with nonzero spill (graceful
degradation: the sort spills runs to disk and merges) and return the
same row counts as an unconstrained session. FAIL = OOM — which is
what SHUFFLE_HASH builds do here (no spill path for the hash side;
the r6 cliff, and exactly why the fact joins are pinned MERGE).

Run AFTER ``tools/stress_sf1.py`` (reuses its /tmp/te_sf1 build):

    python tools/stress_sf1.py 30
    python tools/stress_spill.py
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OUT = "/tmp/te_sf1"
QUERIES = ["tpch_q18_large_volume_customer", "tpch_q21_waiting_supplier"]

#: the squeeze: ~1.5 GiB heap for a JVM that also holds Spark itself,
#: 25% of it for execution+storage, and 4-way shuffles so each
#: sort-merge partition carries ~1/4 of an 18M-row fact join — far
#: over the per-task memory budget, forcing ExternalSorter to spill.
CONF = {
    # 4g heap / fraction 0.15: ~600 MB of execution+storage for sorts
    # that need ~2 GB — the pressure lands on the SORT, which can
    # spill, not on the scan (a 1.5g heap with 32 concurrent parquet
    # readers GC-crashed the JVM before any shuffle ran: that is the
    # OOM failure mode, not the degradation this probe certifies).
    # Run with SPARK_GRAFT_CPUS=8 to bound concurrent scan buffers.
    "spark.driver.memory": "4g",
    "spark.memory.fraction": "0.05",
    "spark.sql.shuffle.partitions": "2",
    "spark.sql.adaptive.enabled": "false",  # AQE would re-split the
    # skewed partitions and dodge the squeeze — the probe wants the
    # worst case the static planner can hand the sorter
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.enabled": "true",  # the engine default disables the UI;
    # the status REST API (our spill-metric source) needs it
}


def _spill_totals(spark) -> tuple[int, int]:
    """Sum memory/disk bytes spilled across all completed stages via
    the status REST API (the stable public surface for these
    metrics; the py4j path into AppStatusStore is version-brittle)."""
    base = spark.sparkContext.uiWebUrl
    if not base:
        raise SystemExit(
            "Spark UI disabled — spill metrics unavailable "
            "(spark.ui.enabled must be true for this probe)"
        )
    app_id = spark.sparkContext.applicationId
    with urllib.request.urlopen(
        f"{base}/api/v1/applications/{app_id}/stages?status=complete"
    ) as resp:
        stages = json.load(resp)
    mem = sum(s.get("memoryBytesSpilled", 0) for s in stages)
    disk = sum(s.get("diskBytesSpilled", 0) for s in stages)
    return (mem, disk)


def main() -> None:
    import os

    if not os.path.exists(OUT):
        raise SystemExit(f"{OUT} missing — run tools/stress_sf1.py first")

    from trendengine_spark.queries import REGISTRY
    from trendengine_spark.session import get_spark

    spark = get_spark(app_name="stress_spill", extra_conf=CONF)
    heap = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    print(f"jvm max heap: {heap / 2**20:.0f} MiB", file=sys.stderr)

    results = {}
    for name in QUERIES:
        m0, d0 = _spill_totals(spark)
        t0 = time.perf_counter()
        n = REGISTRY[name].fn(spark, OUT).count()
        sec = round(time.perf_counter() - t0, 1)
        m1, d1 = _spill_totals(spark)
        results[name] = {
            "rows": n,
            "sec": sec,
            "memory_spilled_mb": round((m1 - m0) / 2**20, 1),
            "disk_spilled_mb": round((d1 - d0) / 2**20, 1),
        }
    print(json.dumps(results))


if __name__ == "__main__":
    main()
