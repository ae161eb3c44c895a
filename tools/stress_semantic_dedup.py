"""Semantic-dedup stress: cluster-then-pairwise at 100k vectors.

101k deterministic 64-d vectors (100k bases + 1000 near-copies of
bases 0..999, ids offset by 10^6), n_cells=64, threshold 0.995.
Measures wall, planted-copy recall, and false-drop count. Expected:
~11 s on local[32], recall ~0.999 (a copy whose base lands across a
cluster boundary is the method's documented miss mode — the paper's
k knob trades this recall against candidate volume), 0 false drops.

Usage: python tools/stress_semantic_dedup.py [n_thousands]  (default 100)
"""

import os, sys, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import functions as F
from trendengine_spark.operators.dedup import semantic_dedup
from trendengine_spark.session import get_spark

n = int(sys.argv[1]) * 1000 if len(sys.argv) > 1 else 100_000
dim, n_cells, n_copies = 64, 64, 1000
spark = get_spark(app_name="stress-semantic-dedup")
spark.sparkContext.setLogLevel("ERROR")

vec = F.expr(f"transform(sequence(0,{dim-1}), j -> (pmod(xxhash64(id, j), 1000) - 500.0) / 500.0)")
base = spark.range(0, n).select(F.col("id").alias("vec_id"), vec.alias("embedding"))
# copies of ids 0..999 with ids 10^6+i: tiny deterministic perturbation
cvec = F.expr(f"transform(sequence(0,{dim-1}), j -> (pmod(xxhash64(id - 1000000, j), 1000) - 500.0) / 500.0 + (pmod(xxhash64(id, j), 7) - 3.0) * 1e-4)")
copies = spark.range(1_000_000, 1_000_000 + n_copies).select(F.col("id").alias("vec_id"), cvec.alias("embedding"))
corpus = base.unionAll(copies)

for m in (1, 2):
    t0 = time.time()
    pairs, survivors = semantic_dedup(
        corpus, threshold=0.995, n_cells=n_cells, iters=2, assign_cells=m
    )
    p = pairs.toPandas()
    n_surv = survivors.count()
    t = time.time() - t0
    planted = p[(p.id_b >= 1_000_000) & (p.id_a == p.id_b - 1_000_000)]
    print(f"n={n+n_copies:,} cells={n_cells} assign={m} wall={t:.1f}s "
          f"pairs={len(p)} planted_recall={len(planted)/n_copies:.3f} "
          f"survivors={n_surv:,} dropped={n+n_copies-n_surv:,}")
spark.stop()
