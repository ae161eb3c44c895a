"""Fifth-decade LLM probe (VERDICT r13 #5): the dedup/ANN champions
at sf30 — 1.5M documents / 600k embedding vectors (300 replicas of
the sf0.1 tables, the stress_sf1 replication rules: documents get the
bijective per-replica token salt so replicas are DISTINCT corpora;
embeddings replicate verbatim with offset ids, the convention the
sf10 record used, which makes every base vector a 300-way exact-dup
clique — the boilerplate regime, deliberately the worst case for
candidate volume).

The r12→r13→r14 lesson is that each decade exposes exactly one new
frozen assumption (r12: fixed LSH p; r13: monolithic Lloyd state;
r14 so far: fixed band COUNT vs threshold recall). This probe runs
the five champions at 3× the sf10 point and reports the quantities
whose growth law would reveal the next one:

  minhash_index   build wall + incremental 5k-doc probe wall (flat
                  probe cost is the index's whole point) + stored
                  band-table rows
  paragraph       dedup_paragraph_global registry query (agg plan,
                  hot-block safe) — wall + survivor blocks
  near_dup        sim_embedding_near_dup registry query (adaptive
                  p/bands, ids-only bucket join, exact-rank cut) —
                  wall + candidate volume + kept pairs
  ivfpq           persisted-index build (derived √N cells, sample-
                  capped stepwise Lloyd) + pruned probe — walls +
                  planted recall (a corpus vector must find its
                  exact clones at cos = 1)
  decon           pipeline_semantic_decontaminate registry query
                  (label-0 slice as eval — no longer tiny at sf30:
                  probes the 'eval side broadcasts' assumption) —
                  wall + per-label survivor rows

Usage: python tools/probe_sf30.py [replicas] [steps]
       steps = comma list of {build,minhash_index,paragraph,
               near_dup,ivfpq,decon} (default: all)
       TE_SF30_REUSE=1 reuses an existing /tmp/te_te_sf30 build.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OUT = "/tmp/te_sf30"
OFFSET = 10_000_000


def build(spark, src: str, replicas: int) -> None:
    from pyspark.sql import functions as F

    from trendengine_spark.tables import load_table

    if os.path.exists(OUT):
        shutil.rmtree(OUT)
    os.makedirs(OUT)
    # bigint replica index: at 300 replicas _r * OFFSET overflows
    # INT32 under the ANSI default (sf10's 100 replicas just fit)
    rep = F.explode(
        F.sequence(
            F.lit(0).cast("bigint"), F.lit(replicas - 1).cast("bigint")
        )
    ).alias("_r")
    # documents: per-replica bijective token salt (stress_sf1 rule) —
    # replicas are new DISTINCT documents; within-replica dup
    # structure (planted near-dups, shared paragraph blocks) is
    # preserved exactly by the remap
    docs = load_table(spark, src, "documents").select("*", rep)
    docs = (
        docs.withColumn("doc_id", F.col("doc_id") + F.col("_r") * OFFSET)
        .withColumn(
            "text",
            F.regexp_replace(
                F.col("text"),
                F.lit(r"(\S+)"),
                F.concat(F.lit("r"), F.col("_r").cast("string"), F.lit("$1")),
            ),
        )
        .drop("_r")
    )
    docs.repartition(64).write.parquet(f"{OUT}/documents.parquet")
    # embeddings: verbatim replication with offset ids — the sf10
    # convention. Every base vector becomes a 300-way exact clique:
    # candidate volume in the self-bucketing paths grows ~replicas²
    # per base vector, which is the probe's POINT (boilerplate regime)
    emb = load_table(spark, src, "embeddings").select("*", rep)
    emb = emb.withColumn(
        "vec_id", F.col("vec_id") + F.col("_r") * OFFSET
    ).drop("_r")
    emb.repartition(32).write.parquet(f"{OUT}/embeddings.parquet")


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 300
    steps = (
        set(sys.argv[2].split(","))
        if len(sys.argv) > 2
        else {"build", "minhash_index", "paragraph", "near_dup", "ivfpq", "decon"}
    )
    src = "/root/testdata/sf0.1"

    from pyspark.sql import functions as F

    from trendengine_spark.queries import REGISTRY
    from trendengine_spark.session import get_spark
    from trendengine_spark.tables import load_table

    spark = get_spark(
        app_name="probe_sf30",
        extra_conf={
            "spark.driver.maxResultSize": "8g",
            "spark.sql.shuffle.partitions": "64",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"replicas": replicas}

    if "build" in steps and not (
        os.environ.get("TE_SF30_REUSE") == "1" and os.path.exists(OUT)
    ):
        t0 = time.perf_counter()
        build(spark, src, replicas)
        out["build_s"] = round(time.perf_counter() - t0, 1)
    out["n_docs"] = spark.read.parquet(f"{OUT}/documents.parquet").count()
    out["n_vecs"] = spark.read.parquet(f"{OUT}/embeddings.parquet").count()

    def drop_caches() -> None:
        # r14 fix (same as stress_sf1): the pool attribute is created
        # lazily by the first owned_cache call, so it must be read
        # INSIDE the dropper — binding it up front captures an empty
        # stand-in dict and the drops silently no-op.
        pool = getattr(spark.sparkContext, "_te_owned_caches", None) or {}
        for key in list(pool):
            try:
                pool.pop(key).unpersist(blocking=True)
            except Exception:
                pass

    def step_done(name: str) -> None:
        # incremental evidence: a crashed later step must not erase
        # earlier steps' walls
        print(json.dumps({name: out.get(name)}), file=sys.stderr, flush=True)

    if "minhash_index" in steps:
        from trendengine_spark.operators.dedup import (
            incremental_minhash_dedup,
            write_minhash_index,
        )

        docs = spark.read.parquet(f"{OUT}/documents.parquet")
        idx = "/tmp/te_sf30_mhidx"
        if os.path.exists(idx):
            shutil.rmtree(idx)
        t0 = time.perf_counter()
        meta = write_minhash_index(docs, idx)
        out["minhash_index"] = {
            "build_s": round(time.perf_counter() - t0, 1),
            "indexed_docs": meta["n_docs"],
            "band_rows": spark.read.parquet(f"{idx}/bands").count(),
        }
        drop_caches()
        # probe batch: 5k docs, half re-salted as a MID-CORPUS replica
        # (true dups of stored corpus rows), half salted r900000
        # (novel vocab — zero stored matches expected)
        dup_rep = replicas // 2
        base = load_table(spark, src, "documents")
        half = base.filter(F.col("doc_id") % 2 == 0).withColumn(
            "text",
            F.regexp_replace(
                F.col("text"), F.lit(r"(\S+)"), F.lit(rf"r{dup_rep}$1")
            ),
        )
        novel = base.filter(F.col("doc_id") % 2 == 1).withColumn(
            "text",
            F.regexp_replace(
                F.col("text"), F.lit(r"(\S+)"), F.lit(r"r900000$1")
            ),
        )
        batch = (
            half.unionAll(novel)
            .withColumn("doc_id", F.col("doc_id") + 500 * OFFSET)
        )
        t0 = time.perf_counter()
        matches = incremental_minhash_dedup(batch, idx, threshold=0.5)
        n_match = matches.count()
        n_flagged = matches.select("new_id").distinct().count()
        out["minhash_index"].update(
            {
                "probe_batch_docs": batch.count(),
                "probe_s": round(time.perf_counter() - t0, 1),
                "probe_match_rows": n_match,
                "probe_flagged_docs": n_flagged,
            }
        )
        step_done("minhash_index")
        drop_caches()

    if "paragraph" in steps:
        t0 = time.perf_counter()
        n = REGISTRY["dedup_paragraph_global"].fn(spark, OUT).count()
        out["paragraph"] = {
            "wall_s": round(time.perf_counter() - t0, 1), "rows": n,
        }
        step_done("paragraph")
        drop_caches()

    if "near_dup" in steps:
        t0 = time.perf_counter()
        n = REGISTRY["sim_embedding_near_dup"].fn(spark, OUT).count()
        out["near_dup"] = {
            "wall_s": round(time.perf_counter() - t0, 1), "kept_pairs": n,
        }
        step_done("near_dup")
        drop_caches()

    if "ivfpq" in steps:
        from trendengine_spark.operators.similarity import (
            adaptive_n_cells,
            ivfpq_query_index,
            ivfpq_write_index,
        )

        emb = spark.read.parquet(f"{OUT}/embeddings.parquet")
        idx = "/tmp/te_sf30_ivfpq"
        if os.path.exists(idx):
            shutil.rmtree(idx)
        nc = adaptive_n_cells(out["n_vecs"])
        t0 = time.perf_counter()
        ivfpq_write_index(emb, idx)
        build_s = round(time.perf_counter() - t0, 1)
        drop_caches()
        # queries: 10 corpus vectors from a mid-corpus replica — each
        # has replicas-1 exact clones (cos = 1); a correct probe must
        # return a NON-SELF clone for every query (planted recall at
        # the clique regime)
        q_rep = replicas // 2
        qs = (
            emb.filter(
                (F.col("vec_id") >= q_rep * OFFSET)
                & (F.col("vec_id") < q_rep * OFFSET + 10)
            )
            .select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").cast("array<double>").alias("embedding"),
            )
        )
        t0 = time.perf_counter()
        res = ivfpq_query_index(spark, idx, qs, k=5, nprobe=8).collect()
        probe_s = round(time.perf_counter() - t0, 1)
        # clone hit: result id ≡ query id mod OFFSET (same base vector)
        by_q: dict = {}
        for r in res:
            by_q.setdefault(r["query_id"], []).append(
                r["vec_id"] != r["query_id"]
                and r["vec_id"] % OFFSET == r["query_id"] % OFFSET
            )
        recall = sum(any(v) for v in by_q.values()) / max(len(by_q), 1)
        out["ivfpq"] = {
            "n_cells": nc,
            "build_s": build_s,
            "probe_s": probe_s,
            "clone_recall": round(recall, 3),
        }
        step_done("ivfpq")
        drop_caches()

    if "decon" in steps:
        t0 = time.perf_counter()
        rows = REGISTRY["pipeline_semantic_decontaminate"].fn(spark, OUT).count()
        out["decon"] = {
            "wall_s": round(time.perf_counter() - t0, 1), "label_rows": rows,
        }
        step_done("decon")
        drop_caches()

    print(json.dumps(out))


if __name__ == "__main__":
    main()
