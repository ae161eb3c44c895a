"""PCA truncation vs naive truncation on an anisotropic corpus.

The controlled experiment the synthetic (isotropic) embeddings table
cannot express: 50k 64-d vectors with a planted rank-8 latent
structure (plus 2% noise). Ground truth = exact cosine top-10 in the
full 64-d space. Compare recall@10 of searching in (a) the 8-dim PCA
projection (fit + project fully distributed — one moment pass, one
broadcast-matmul map) and (b) the first 8 raw coordinates (what
truncation without rotation gives you). Expected: PCA ≈ 1.0, naive
well below — the measured case for running the rotation before any
dimensionality-reduced ANN.

Usage: python tools/stress_pca.py [n_thousands]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd

from trendengine_spark.operators.pca import pca_fit, pca_project
from trendengine_spark.session import get_spark


def topk(mat: np.ndarray, queries: np.ndarray, k: int) -> np.ndarray:
    m = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    q = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    s = q @ m.T
    return np.argsort(-s, axis=1)[:, :k]


def main() -> None:
    n = int(sys.argv[1]) * 1000 if len(sys.argv) > 1 else 50_000
    dim, rank, k, n_q = 64, 8, 10, 20
    rng = np.random.RandomState(17)
    w = rng.normal(size=(rank, dim))
    z = rng.normal(size=(n, rank))
    x = z @ w + 0.02 * rng.normal(size=(n, dim))

    spark = get_spark(app_name="stress-pca")
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": np.arange(n), "embedding": x.tolist()}
        ),
        schema="vec_id long, embedding array<double>",
    ).repartition(spark.sparkContext.defaultParallelism)

    t0 = time.time()
    fit = pca_fit(df, dim)
    t_fit = time.time() - t0
    t0 = time.time()
    proj = (
        pca_project(df, fit["mean"], fit["components"], rank)
        .orderBy("vec_id")
        .toPandas()
    )
    t_proj = time.time() - t0
    p = np.asarray([list(v) for v in proj["proj"]])

    q_idx = np.arange(0, n, n // n_q)[:n_q]
    truth = topk(x, x[q_idx], k)
    got_pca = topk(p, p[q_idx], k)
    got_naive = topk(x[:, :rank], x[q_idx, :rank], k)
    r_pca = np.mean(
        [len(set(a) & set(b)) / k for a, b in zip(truth, got_pca)]
    )
    r_naive = np.mean(
        [len(set(a) & set(b)) / k for a, b in zip(truth, got_naive)]
    )
    print(
        f"n={n:,} dim={dim} rank={rank}  fit={t_fit:.1f}s "
        f"project={t_proj:.1f}s  explained(top8)="
        f"{fit['explained'][:rank].sum():.4f}  "
        f"recall@10: pca-{rank}d={r_pca:.3f}  "
        f"naive-first-{rank}-coords={r_naive:.3f}"
    )

    if "--pq" in sys.argv:
        _pq_rotation_study(spark, x, fit, q_idx, k)
    spark.stop()


def _pq_rotation_study(spark, x, fit, q_idx, k) -> None:
    """Parametric-OPQ study (Ge et al. 2014, the Gaussian-assumption
    variant): PQ recall under (a) no rotation, (b) naive PCA rotation
    (variance piles into the first block — the known failure), (c)
    PCA + greedy eigenvalue allocation balancing per-block variance
    product. Pure rotations of L2-normalized vectors, so exact inner
    products are IDENTICAL across variants — only the quantization
    error moves."""
    import pandas as pd

    from trendengine_spark.operators.similarity import (
        pq_encode,
        pq_topk,
        pq_train_codebooks,
    )

    dim, m_sub = x.shape[1], 8
    d_sub = dim // m_sub
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    truth = topk(xn, xn[q_idx], k)
    v = fit["components"]  # orthogonal (d, d)
    # greedy eigenvalue allocation: next-largest eigval to the block
    # with the smallest log-variance product (and free capacity)
    order = np.argsort(-fit["eigvals"])
    blocks = [[] for _ in range(m_sub)]
    load = np.zeros(m_sub)
    for d_i in order:
        free = [b for b in range(m_sub) if len(blocks[b]) < d_sub]
        b = min(free, key=lambda bb: load[bb])
        blocks[b].append(d_i)
        load[b] += np.log(max(fit["eigvals"][d_i], 1e-12))
    perm = np.concatenate(blocks)

    variants = {
        "raw": xn,
        "pca-naive": xn @ v,
        "pca-balanced": (xn @ v)[:, perm],
    }
    for name, z in variants.items():
        df = spark.createDataFrame(
            pd.DataFrame(
                {"vec_id": np.arange(len(z)), "embedding": z.tolist()}
            ),
            schema="vec_id long, embedding array<double>",
        ).repartition(spark.sparkContext.defaultParallelism)
        books = pq_train_codebooks(df, m_subspaces=m_sub, k=16)
        codes = pq_encode(df, books)
        qdf = spark.createDataFrame(
            pd.DataFrame(
                {"query_id": q_idx.tolist(),
                 "embedding": z[q_idx].tolist()}
            ),
            schema="query_id long, embedding array<double>",
        )
        got = pq_topk(codes, books, qdf, k=k).toPandas()
        rec = np.mean(
            [
                len(
                    set(got[got.query_id == q]["vec_id"]) & set(t_)
                ) / k
                for q, t_ in zip(q_idx, truth)
            ]
        )
        print(f"  PQ m={m_sub} k=16 [{name:13s}] recall@10={rec:.3f}")


if __name__ == "__main__":
    main()
