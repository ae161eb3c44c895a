"""Persisted-IVFPQ stress: probe cost with storage-level partition
pruning vs a full code-table scan, at a corpus size where the
difference is visible.

Builds an index over N synthetic 64-d vectors (deterministic
hash-based coordinates — no RNG state), then times (a) the pruned
probe path (`ivfpq_query_index`: explicit cell filter → only nprobe
cell directories open) and (b) the same ADC scoring forced over the
FULL code table (no cell filter, every partition scanned). Both paths
return identical top-k rows (asserted) because scoring filters to the
probed cells either way; the delta is pure scan/prune.

Usage: python tools/stress_ann_index.py [n_thousands]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
from pyspark.sql import functions as F

from trendengine_spark.operators.similarity import (
    ivfpq_query_index,
    ivfpq_topk,
    ivfpq_write_index,
)
from trendengine_spark.session import get_spark


def main() -> None:
    n = int(sys.argv[1]) * 1000 if len(sys.argv) > 1 else 100_000
    dim, n_cells, nprobe = 64, 64, 8
    spark = get_spark(app_name="stress-ann-index")
    spark.sparkContext.setLogLevel("ERROR")

    # deterministic pseudo-vectors: coord j of vec i = centered hash
    vec = F.expr(
        f"transform(sequence(0, {dim - 1}), "
        "j -> (pmod(xxhash64(id, j), 1000) - 500.0) / 500.0)"
    )
    corpus = spark.range(0, n).select(
        F.col("id").alias("vec_id"), vec.alias("embedding")
    )

    idx = tempfile.mkdtemp(prefix="te_ann_stress_")
    t0 = time.time()
    ivfpq_write_index(
        corpus, idx, n_cells=n_cells, m_subspaces=8, k_codes=16, iters=2
    )
    t_build = time.time() - t0

    queries = corpus.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def best_of(fn, reps=3):
        best = float("inf")
        for _ in range(reps):
            t0 = time.time()
            r = sorted(map(tuple, fn().collect()))
            best = min(best, time.time() - t0)
        return best, r

    t_pruned, r_pruned = best_of(
        lambda: ivfpq_query_index(spark, idx, queries, k=10, nprobe=nprobe)
    )

    def full_scan():
        # end-to-end twin of ivfpq_query_index with the cell filter
        # REMOVED: same per-call centroid/book load, full codes scan
        cent_rows = spark.read.parquet(idx + "/centroids").collect()
        centroids = np.zeros((len(cent_rows), dim))
        for r in cent_rows:
            centroids[r["cell"]] = r["centroid"]
        book_rows = spark.read.parquet(idx + "/books").collect()
        m = 1 + max(r["subspace"] for r in book_rows)
        kk = 1 + max(r["code"] for r in book_rows)
        books = np.zeros((m, kk, len(book_rows[0]["vec"])))
        for r in book_rows:
            books[r["subspace"], r["code"]] = r["vec"]
        full_codes = spark.read.parquet(idx + "/codes")  # NO cell filter
        return ivfpq_topk(
            full_codes, centroids, books, queries, k=10, nprobe=nprobe
        )

    t_full, r_full = best_of(full_scan)
    assert r_pruned == r_full, "pruned and full-scan probes must agree"

    # IO volume: bytes of the code table each path's scan touches.
    # The probed cells are query-dependent; report worst-case nprobe
    # single-query volume = sum of the nprobe largest cell dirs.
    import os

    def dir_bytes(d):
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(d)
            for f in fs
        )

    cell_dirs = sorted(
        (dir_bytes(os.path.join(idx, "codes", d)), d)
        for d in os.listdir(idx + "/codes")
        if d.startswith("cell=")
    )
    total_b = sum(b for b, _ in cell_dirs)
    probe_b = sum(b for b, _ in cell_dirs[-nprobe:])
    print(
        f"vectors={n:,} cells={n_cells} nprobe={nprobe}  "
        f"build={t_build:.1f}s  probe(pruned)={t_pruned:.2f}s  "
        f"probe(full-scan)={t_full:.2f}s  identical top-k  "
        f"codes-io {probe_b/1e6:.2f} of {total_b/1e6:.2f} MB "
        f"({probe_b/total_b:.1%} worst-case single-query)"
    )
    spark.stop()


if __name__ == "__main__":
    main()
