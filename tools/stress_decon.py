"""Semantic-decontamination stress: 200k train x 2k eval vectors,
500 planted paraphrase-leaks (eval vectors + 1e-4 noise inserted into
train). Measures wall, leak recall, and false drops through the LSH
cross-join + exact-verify path (eval side broadcast).

Usage: python tools/stress_decon.py [n_train_thousands]  (default 200)"""

import os, sys, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import functions as F
from trendengine_spark.operators.similarity import semantic_decontaminate
from trendengine_spark.session import get_spark

n_train = int(sys.argv[1]) * 1000 if len(sys.argv) > 1 else 200_000
n_eval, n_leak, dim = 2_000, 500, 64
spark = get_spark(app_name="stress-decon")
spark.sparkContext.setLogLevel("ERROR")

vec = F.expr(f"transform(sequence(0,{dim-1}), j -> (pmod(xxhash64(id, j), 1000) - 500.0) / 500.0)")
evec = F.expr(f"transform(sequence(0,{dim-1}), j -> (pmod(xxhash64(id + 5000000, j), 1000) - 500.0) / 500.0)")
# leaks: train ids 0..n_leak-1 carry eval vector (id+5M family) + tiny noise
lvec = F.expr(f"transform(sequence(0,{dim-1}), j -> (pmod(xxhash64(id + 5000000, j), 1000) - 500.0) / 500.0 + (pmod(xxhash64(id, j), 7) - 3.0) * 1e-4)")

clean = spark.range(n_leak, n_train).select(F.col("id").alias("vec_id"), vec.alias("embedding"))
leaks = spark.range(0, n_leak).select(F.col("id").alias("vec_id"), lvec.alias("embedding"))
train = clean.unionAll(leaks)
eval_df = spark.range(0, n_eval).select(F.col("id").alias("vec_id"), evec.alias("embedding"))

t0 = time.time()
matches, survivors = semantic_decontaminate(train, eval_df, threshold=0.995, dim=dim)
m = matches.toPandas()
n_surv = survivors.count()
t = time.time() - t0
caught = m[(m.train_id < n_leak) & (m.eval_id == m.train_id)]
dropped = n_train - n_surv
print(f"train={n_train:,} eval={n_eval:,} leaks={n_leak}  wall={t:.1f}s  "
      f"leak_recall={len(set(caught.train_id))/n_leak:.3f}  "
      f"dropped={dropped} false_drops={dropped - len(set(m.train_id[m.train_id < n_leak]))}")
spark.stop()
