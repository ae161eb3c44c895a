"""ANN recall/cost study: measured recall@10 of the three approximate
retrieval paths against exact brute-force cosine, per scale factor
(VERDICT r6 task 4 — plumbing/non-vacuousness was already tested; this
pins RETRIEVAL QUALITY with measured floors).

Methodology: 20 query vectors drawn from the corpus itself
(vec_id < 20), ground truth = exact ``cosine_topk`` (self-match
excluded by rank; all paths score the same L2-normalized space for
PQ). recall@10 = |approx ∩ exact| / |exact| summed over queries.
Wall time is the full plan including index/codebook build — the
honest per-query cost comparison at one-shot usage; amortized cost
divides the build over the query batch.

Results land in SCALE.md and pin the floors asserted in
``tests/test_llm_ops.py``.

Usage: python tools/recall_study.py [sf_dir ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def recall_at(exact_pd, got_pd, k: int) -> float:
    hits = tot = 0
    for qid, grp in exact_pd.groupby("query_id"):
        truth = set(grp.sort_values("rn")["vec_id"].head(k))
        mine = set(got_pd[got_pd.query_id == qid]["vec_id"])
        hits += len(truth & mine)
        tot += len(truth)
    return hits / tot


def main() -> None:
    sfs = sys.argv[1:] or [
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ]
    from trendengine_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        l2_normalize,
        pq_encode,
        pq_topk,
        pq_train_codebooks,
        random_hyperplane_ann,
    )
    from trendengine_spark.session import get_spark
    from trendengine_spark.tables import load_table

    spark = get_spark(app_name="recall_study")
    spark.range(1000).selectExpr("sum(id)").collect()  # JIT warm-up
    K = 10
    for sf in sfs:
        emb = load_table(spark, sf, "embeddings")
        n = emb.count()
        unit = emb.select(
            "vec_id", l2_normalize(F.col("embedding")).alias("embedding")
        ).cache()
        unit.count()
        queries = unit.filter(F.col("vec_id") < 20).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        t0 = time.perf_counter()
        exact = cosine_topk(unit, queries, k=K).toPandas()
        t_exact = time.perf_counter() - t0
        rows = {"sf": sf, "n_vectors": n, "exact_s": round(t_exact, 2)}

        t0 = time.perf_counter()
        lsh = random_hyperplane_ann(unit, queries, k=K).toPandas()
        rows["lsh"] = {
            "recall@10": round(recall_at(exact, lsh, K), 3),
            "s": round(time.perf_counter() - t0, 2),
        }

        for nprobe in (2, 4, 6, 8):
            t0 = time.perf_counter()
            ivf = ivf_topk(
                unit, queries, k=K, n_cells=16, nprobe=nprobe
            ).toPandas()
            rows[f"ivf_nprobe{nprobe}"] = {
                "recall@10": round(recall_at(exact, ivf, K), 3),
                "s": round(time.perf_counter() - t0, 2),
            }

        for m in (8, 32):
            t0 = time.perf_counter()
            books = pq_train_codebooks(
                unit, m_subspaces=m, k=32, iters=3, seed=7
            )
            codes = pq_encode(unit, books)
            pq = pq_topk(codes, books, queries, k=K).toPandas()
            rows[f"pq_m{m}"] = {
                "recall@10": round(recall_at(exact, pq, K), 3),
                "s": round(time.perf_counter() - t0, 2),
            }

        # 1-bit sign quantization + Hamming ranking (sim_hamming_topk's
        # path, generalized to the study's 20 queries / k=10)
        t0 = time.perf_counter()
        pack = F.expr(
            "aggregate(sequence(0, 63), 0L, (acc, i) -> acc + "
            "CASE WHEN embedding[i] > 0 THEN shiftleft(1L, i) "
            "ELSE 0L END)"
        )
        hcodes = unit.select("vec_id", pack.alias("code"))
        hq = hcodes.filter(F.col("vec_id") < 20).select(
            F.col("vec_id").alias("query_id"), F.col("code").alias("qc")
        )
        from pyspark.sql import Window

        w = Window.partitionBy("query_id").orderBy("hamming", "vec_id")
        ham = (
            hcodes.join(F.broadcast(hq), F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id", "vec_id",
                F.bit_count(F.col("qc").bitwiseXOR(F.col("code")))
                .alias("hamming"),
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= K)
            .toPandas()
        )
        rows["hamming_1bit"] = {
            "recall@10": round(recall_at(exact, ham, K), 3),
            "s": round(time.perf_counter() - t0, 2),
        }
        print(json.dumps(rows))
        unit.unpersist()


if __name__ == "__main__":
    main()
