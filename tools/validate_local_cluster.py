"""Real-exchange validation (r14, VERDICT r13 #6): run the headline
bench queries plus the most expensive registry rows on
``local-cluster[4,8,8192]`` — four SEPARATE executor JVMs, so every
shuffle block, broadcast, and Arrow batch crosses a real
serialization boundary that ``local[32]`` (one JVM, in-process block
transfers) hides. Catches: closure-capture of driver-only state,
broadcast objects that aren't actually serializable, temp-view /
localCheckpoint assumptions, and partition-locality shortcuts.

For each query: run on local-cluster, hash the collected result the
driver-canon way, and compare against the SAME hash computed on a
plain local[8] session (apples-to-apples parallelism) — zero
correctness deltas expected; wall times reported for both so >2x
inflations can be named.

Usage: python tools/validate_local_cluster.py [sf_dir] [name ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402

SF = (
    sys.argv[1]
    if len(sys.argv) > 1
    else "/root/testdata/sf0.1"
)

#: headline bench queries + the most expensive registry rows
#: (BENCH_r13 extras, descending wall) + one from each mechanism
#: family that leans on broadcast/mapInPandas/checkpoint machinery
DEFAULT_NAMES = [
    *HEADLINE,
    # 10 most expensive extras in BENCH_r13
    "graph_communities_lpa",
    "graph_pagerank_micro",
    "graph_triangle_counts",
    "pipeline_leakage_safe_split",
    "flagship_model_curation",
    "dedup_incremental_batch",
    "dedup_semantic_survivors",
    "flagship_lifecycle_pipeline",
    "dedup_image_phash",
    "dedup_audio_fingerprint",
    # mechanism coverage: stepwise twins (temp views + pivoted SQL),
    # broadcast probes, quantized Arrow UDFs, percentile gates
    "sim_ivf_topk",
    "sim_pq_topk",
    "sim_ivfpq_topk",
    "sim_ann_hyperplane",
    "sim_embedding_near_dup",
    "pipeline_semantic_decontaminate",
    "u1_polytrend_relational",
    "sim_pca_explained_variance",
]


def canon_hash(df) -> tuple[int, str]:
    pdf = df.toPandas()
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    if len(pdf.columns):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort")
    h = hashlib.md5()
    for row in pdf.itertuples(index=False):
        h.update(("\x1f".join(str(v) for v in row) + "\x1e").encode())
    return len(pdf), h.hexdigest()


def run(master: str, names: list[str]) -> dict[str, tuple]:
    from pyspark.sql import SparkSession

    from trendengine_spark.queries import REGISTRY

    b = (
        SparkSession.builder.master(master)
        .appName(f"validate_{master.split('[')[0]}")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", "8g")
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.ui.enabled", "false")
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    from trendengine_spark.session import ship_package

    ship_package(spark)
    out = {}
    for name in names:
        t0 = time.perf_counter()
        try:
            n, h = canon_hash(REGISTRY[name].fn(spark, SF))
            out[name] = (n, h, round(time.perf_counter() - t0, 2), None)
        except Exception as exc:  # record, keep sweeping
            out[name] = (None, None, round(time.perf_counter() - t0, 2),
                         f"{type(exc).__name__}: {exc}"[:300])
        print(f"  {master:>24} {name}: {out[name][:3]}", flush=True)
    spark.stop()
    return out


def main() -> int:
    names = sys.argv[2:] or DEFAULT_NAMES
    # plain local[8] first (same total cores as 4x2... note: the
    # cluster runs 4 executors x 8 cores = 32; use local[32] for the
    # honest wall comparison and identical partition counts)
    ref = run("local[32]", names)
    clu = run("local-cluster[4,8,8192]", names)
    bad = 0
    print(f"\n{'query':<36} {'rows':>8} match  local[32]  cluster  infl")
    for name in names:
        rn, rh, rt, rerr = ref[name]
        cn, ch, ct, cerr = clu[name]
        if rerr or cerr:
            print(f"{name:<36} ERROR ref={rerr} cluster={cerr}")
            bad += 1
            continue
        ok = (rn, rh) == (cn, ch)
        bad += 0 if ok else 1
        infl = round(ct / rt, 2) if rt else float("nan")
        print(
            f"{name:<36} {rn:>8} {'OK' if ok else 'DIFF!':>5} "
            f"{rt:>8.2f}s {ct:>7.2f}s {infl:>5}"
        )
    print(f"\n{bad} mismatches/errors of {len(names)}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
