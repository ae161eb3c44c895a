


def test_label_propagation_separates_bridged_cliques(spark):
    """Two 6-cliques joined by ONE bridge edge: CC merges them into a
    single component; label propagation keeps two communities — the
    differentiator this operator exists for. Result must also be
    partitioning-invariant."""
    from trendengine_spark.operators.graph import label_propagation

    c1 = [(i, j) for i in range(6) for j in range(i + 1, 6)]
    c2 = [(10 + i, 10 + j) for i in range(6) for j in range(i + 1, 6)]
    bridge = [(5, 10)]
    edges = spark.createDataFrame(
        c1 + c2 + bridge, "src long, dst long"
    )
    out = {
        r["node"]: r["community"]
        for r in label_propagation(edges, iters=5).collect()
    }
    comm1 = {out[i] for i in range(6)}
    comm2 = {out[10 + i] for i in range(6)}
    assert len(comm1) == 1 and len(comm2) == 1
    assert comm1 != comm2  # the bridge did NOT flood the cliques
    # partitioning invariance
    out2 = {
        r["node"]: r["community"]
        for r in label_propagation(
            edges.repartition(13), iters=5
        ).collect()
    }
    assert out2 == out


def test_label_propagation_isolated_pairs(spark):
    from trendengine_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(1, 2), (3, 4)], "src long, dst long"
    )
    out = {
        r["node"]: r["community"]
        for r in label_propagation(edges, iters=3).collect()
    }
    assert out[1] == out[2] and out[3] == out[4]
    assert out[1] != out[3]


def test_modularity_scores_partitions(spark):
    """Bridged cliques: the LPA 2-community partition scores high
    modularity; the everything-in-one-community partition ~0; a
    random-ish split scores lower than the true one."""
    from pyspark.sql import functions as F

    from trendengine_spark.operators.graph import (
        label_propagation,
        modularity,
    )

    c1 = [(i, j) for i in range(6) for j in range(i + 1, 6)]
    c2 = [(10 + i, 10 + j) for i in range(6) for j in range(i + 1, 6)]
    edges = spark.createDataFrame(
        c1 + c2 + [(5, 10)], "src long, dst long"
    )
    lpa = label_propagation(edges, iters=5)
    q_lpa = modularity(edges, lpa)
    assert 0.4 < q_lpa < 0.5  # 2 cliques + 1 bridge: Q ~ 0.467
    one = lpa.select("node").withColumn("community", F.lit(0))
    assert abs(modularity(edges, one)) < 1e-9
    parity = lpa.select(
        "node", (F.col("node") % 2).alias("community")
    )
    assert modularity(edges, parity) < q_lpa
