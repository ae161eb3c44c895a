"""Exact-integer Lloyd rounds for the quantizer oracle twins as single
``mapInArrow`` passes (r14 session 6; guide §4.2 "hand whole batches to
vectorized native libraries", §2.3/§2.4 "aggregate before you shuffle /
remove shuffles outright").

The r13/r14 *pivoted* Lloyd round (``queries/llm.pivot_lloyd_sql``) runs
each round as join(pos × pivoted-book) → N[·subs]-group hash aggregate
with ``cells`` distance columns → argmin projection → sort-merge join
back to pos for the means. That shape exists to bound GROUP STATE at
scale — but it still pays, per round, a 6.4M-row join, an N·cells-sum
aggregate, and a full SMJ of the corpus positions. This module replaces
the round body with ONE Arrow pass over a *wide* frame (one row per
vector, the 64 quantized values as an ``array<bigint>``): each task

  1. computes every (vector, centroid) distance with float64 BLAS,
  2. takes the argmin (first-min = the oracle's ``ORDER BY d ASC,
     cell ASC`` tie-break, because centroid columns are laid out in
     ascending cell order),
  3. accumulates per-centroid component sums and counts across ALL its
     batches (guide §4.5 — state lives across the iterator),
  4. emits one bounded partial block of ``cells·d`` rows per task.

The only shuffle left per round carries those bounded partials; the
means reduce with the exact oracle expression ``floor(CAST(sum AS
DOUBLE)/CAST(count AS DOUBLE) + 5e-1)`` in Spark SQL.

Bit-identity argument (the twins' results must hash-match the UNCHANGED
single-statement DuckDB oracle at every scale):

* The quantized values ``q`` are produced by the same Catalyst
  ``round``/``CAST`` expressions as before (``transform`` over the
  array instead of ``posexplode`` + per-row projection — same
  expression per element) and cross the Arrow boundary as int64.
* Every distance comparison reduces to integers. With ``|q| < 2²¹``
  (asserted per batch; corpus values are |v| ≲ 0.5 so |q| ≤ 1024),
  each dot product is a sum of 64 products < 2⁴², so every partial sum
  in a float64 GEMM — including FMA/blocked orders — is an integer
  < 2⁵³ and therefore EXACT. The argmin compares
  ``cn2_c − 2·dot_c = d_c − |x|²`` (the per-row ``|x|²`` shift cannot
  change the argmin or its ties), all exact integers in float64.
* Component sums/counts are exact int64, accumulated via per-column
  ``np.bincount`` whose float64 weights stay integral (per-task sums
  < 2⁵² asserted), then summed as BIGINT by Spark — associative and
  commutative, so batch/partition boundaries cannot change the result.
* Empty centroids emit no partial rows, exactly as the pivoted form's
  NULL columns fell out of ``least``/``CASE`` and the oracle's GROUP BY
  produced no row.

The per-round plan becomes: InMemoryScan(wide) → MapInArrow →
partial-agg → one tiny exchange → final-agg → bounded collect. No
join, no window, no corpus-sized shuffle anywhere in training.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from trendengine_spark.operators.util import local_rows_df

__all__ = [
    "books_sub_from_partials",
    "books_sub_rows",
    "books_whole_from_partials",
    "books_whole_rows",
    "lloyd_books_whole",
    "lloyd_codes_whole",
    "lloyd_round_sub",
    "local_rows_df",
    "seed_books",
]

#: |q| bound under which every float64 dot/GEMM partial sum is an
#: exact integer (64 · 2²¹ · 2²¹ = 2⁴⁸ < 2⁵³).
_QMAX = 1 << 21
#: per-task component-sum bound keeping bincount's float64 weights
#: integral-exact.
_SUMMAX = float(1 << 52)


def _mat_from_list_col(
    col, d: int | None = None, dtype=np.int64, name: str = "qa"
) -> np.ndarray:
    """Arrow list column of fixed-length vectors → C-contiguous
    ``(n, d)`` matrix of ``dtype`` (``d=None`` takes the first
    vector's length). The one vector decoder of the Arrow passes: the
    Lloyd rounds read ``int64`` codes, the similarity operators
    ``float64`` embeddings (float32 widens exactly). A null or ragged
    vector raises ``ValueError`` naming column ``name`` — numpy would
    otherwise build an object array or fail inside the task.
    ``flatten()`` honours slicing offsets; ``zero_copy_only=False``
    permits (never changes) a copy if an Arrow layout requires one."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    flat = col.flatten()
    if col.null_count or flat.null_count:
        raise ValueError(f"vector column {name!r} holds a null vector or element")
    lengths = np.diff(col.offsets.to_numpy(zero_copy_only=False))
    if d is None:
        d = int(lengths[0]) if lengths.size else 0
    if lengths.size and (lengths != d).any():
        raise ValueError(
            f"vector column {name!r} is ragged: lengths "
            f"{sorted(set(lengths.tolist()))[:4]}, expected {d}"
        )
    m = flat.to_numpy(zero_copy_only=False)
    return np.ascontiguousarray(m, dtype=dtype).reshape(len(col), d)


def _assign_whole(q: np.ndarray, cvf: np.ndarray, cn2: np.ndarray) -> np.ndarray:
    """Row argmin of ``cn2_c - 2·q·cv_c`` (== argmin of d_c; first-min
    tie-break = smallest present-cell position). Chunked so the score
    matrix stays bounded for large centroid counts."""
    if abs(float(q.max(initial=0))) >= _QMAX or abs(
        float(q.min(initial=0))
    ) >= _QMAX:  # pragma: no cover - guard
        raise ValueError("lloyd_exact: |q| >= 2^21 breaks float64 exactness")
    n = q.shape[0]
    out = np.empty(n, dtype=np.int64)
    step = max(1, (1 << 22) // max(cvf.shape[0], 1))
    for lo in range(0, n, step):
        hi = min(n, lo + step)
        g = q[lo:hi].astype(np.float64) @ cvf.T
        out[lo:hi] = np.argmin(cn2 - 2.0 * g, axis=1)
    return out


def seed_books(spark: SparkSession, wide_view: str, nc: int) -> np.ndarray:
    """The oracle's md5-ranked seed init: the ``nc`` smallest ids by
    ``(md5(CAST(id AS STRING)), id)``, their quantized vectors in rank
    (= cell) order. Same total order as the oracle's ``row_number``
    seeds CTE, fetched as a bounded TakeOrdered instead of a full
    window + join. Precondition (ADVICE r14): the view must be
    non-empty — an empty corpus yields a (0,) array whose downstream
    reshape fails; callers quantize real corpora only."""
    rows = spark.sql(
        f"SELECT qa FROM {wide_view} "
        f"ORDER BY md5(CAST(id AS STRING)), id LIMIT {nc}"
    ).collect()
    if not rows:
        raise ValueError(
            f"seed_books: view {wide_view!r} is empty — the Lloyd "
            "training operators require a non-empty corpus"
        )
    return np.array([r["qa"] for r in rows], dtype=np.int64)


_PARTIAL_WHOLE = T.StructType(
    [
        T.StructField("cell", T.IntegerType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("s", T.LongType()),
        T.StructField("c", T.LongType()),
    ]
)

_FUSED_WHOLE = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("cell", T.IntegerType()),
        T.StructField("ra", T.ArrayType(T.LongType())),
        T.StructField("i", T.IntegerType()),
        T.StructField("s", T.LongType()),
        T.StructField("c", T.LongType()),
    ]
)


def _partials_batch(
    cells: np.ndarray, acc: np.ndarray, cnt: np.ndarray
) -> pa.RecordBatch:
    """Non-empty centroid partial sums → one bounded Arrow batch."""
    d = acc.shape[1]
    nz = np.flatnonzero(cnt)
    return pa.RecordBatch.from_arrays(
        [
            pa.array(np.repeat(cells[nz], d), type=pa.int32()),
            pa.array(np.tile(np.arange(d, dtype=np.int64), nz.size), type=pa.int32()),
            pa.array(acc[nz].reshape(-1), type=pa.int64()),
            pa.array(np.repeat(cnt[nz], d), type=pa.int64()),
        ],
        names=["cell", "i", "s", "c"],
    )


def _accumulate(
    acc: np.ndarray, cnt: np.ndarray, pos: np.ndarray, q: np.ndarray
) -> None:
    """acc[pos] += q (per column), cnt[pos] += 1 — exact int64 via
    float64-integral bincount weights."""
    m, d = acc.shape
    if float(np.abs(q).sum()) + float(np.abs(acc).max(initial=0)) >= _SUMMAX:
        raise ValueError(  # pragma: no cover - guard
            "lloyd_exact: per-task component sums would exceed 2^52"
        )
    for j in range(d):
        acc[:, j] += np.bincount(
            pos, weights=q[:, j].astype(np.float64), minlength=m
        ).astype(np.int64)
    cnt += np.bincount(pos, minlength=m)


def lloyd_books_whole(
    wide: DataFrame, cells: Sequence[int], cv: np.ndarray, d: int = 64
) -> DataFrame:
    """One whole-vector Lloyd books round: assign each row of ``wide``
    (columns id, qa) to its nearest centroid and emit per-task partial
    (cell, i, s, c) blocks. ``cells`` are the present cell ids in
    ascending order, ``cv`` their int64 centroid rows."""
    cells_a = np.asarray(list(cells), dtype=np.int64)
    cvf = cv.astype(np.float64)
    cn2 = (cvf * cvf).sum(axis=1)

    def gen(batches):
        acc = np.zeros((cells_a.size, d), dtype=np.int64)
        cnt = np.zeros(cells_a.size, dtype=np.int64)
        for b in batches:
            q = _mat_from_list_col(b.column("qa"), d)
            if q.shape[0] == 0:
                continue
            pos = _assign_whole(q, cvf, cn2)
            _accumulate(acc, cnt, pos, q)
        yield _partials_batch(cells_a, acc, cnt)

    return wide.select("qa").mapInArrow(gen, schema=_PARTIAL_WHOLE)


def lloyd_codes_whole(
    wide: DataFrame,
    cells: Sequence[int],
    cv: np.ndarray,
    d: int = 64,
    carry_qa: bool = False,
) -> DataFrame:
    """One whole-vector assignment pass emitting code rows
    ``(id, cell[, ra])`` (marked ``i = -1``) and — fused into the SAME
    corpus pass — the NEXT book's partial rows (``id IS NULL``), so the
    oracle's a2/c2 pair costs one scan instead of an assignment job
    plus a corpus SMJ. With ``carry_qa`` the code rows also carry the
    input vector (column ``ra``) so the caller can form the residual
    against the POST-round book (the oracle's ``q − c2.cv``) with one
    ``zip_with`` over a broadcast of that bounded book — no corpus
    join."""
    cells_a = np.asarray(list(cells), dtype=np.int64)
    cvf = cv.astype(np.float64)
    cn2 = (cvf * cvf).sum(axis=1)

    def gen(batches):
        acc = np.zeros((cells_a.size, d), dtype=np.int64)
        cnt = np.zeros(cells_a.size, dtype=np.int64)
        for b in batches:
            ids_col = b.column(b.schema.get_field_index("id"))
            qa_col = b.column(b.schema.get_field_index("qa"))
            q = _mat_from_list_col(qa_col, d)
            n = q.shape[0]
            if n == 0:
                continue
            pos = _assign_whole(q, cvf, cn2)
            _accumulate(acc, cnt, pos, q)
            arrays = [
                ids_col,
                pa.array(cells_a[pos], type=pa.int32()),
            ]
            if carry_qa:
                arrays.append(qa_col)
            else:
                arrays.append(pa.nulls(n, type=pa.list_(pa.int64())))
            arrays += [
                pa.array(np.full(n, -1, dtype=np.int32)),
                pa.nulls(n, type=pa.int64()),
                pa.nulls(n, type=pa.int64()),
            ]
            yield pa.RecordBatch.from_arrays(
                arrays, names=["id", "cell", "ra", "i", "s", "c"]
            )
        p = _partials_batch(cells_a, acc, cnt)
        n = p.num_rows
        yield pa.RecordBatch.from_arrays(
            [
                pa.nulls(n, type=pa.int64()),
                p.column(0),
                pa.nulls(n, type=pa.list_(pa.int64())),
                p.column(1),
                p.column(2),
                p.column(3),
            ],
            names=["id", "cell", "ra", "i", "s", "c"],
        )

    return wide.select("id", "qa").mapInArrow(gen, schema=_FUSED_WHOLE)


_PARTIAL_SUB = T.StructType(
    [
        T.StructField("cell", T.IntegerType()),
        T.StructField("sub", T.IntegerType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("s", T.LongType()),
        T.StructField("c", T.LongType()),
    ]
)

_CODES_SUB = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("sub", T.IntegerType()),
        T.StructField("cell", T.IntegerType()),
    ]
)


def _sub_score(
    x: np.ndarray, cvf: np.ndarray, cn2: np.ndarray, mask: np.ndarray
) -> np.ndarray:
    """(n, subs, sd) × (kc, subs, sd) → per-(row, sub) argmin over the
    PRESENT codes (absent (sub, code) slots scored +inf)."""
    if abs(float(x.max(initial=0))) >= _QMAX or abs(
        float(x.min(initial=0))
    ) >= _QMAX:  # pragma: no cover - guard
        raise ValueError("lloyd_exact: |q| >= 2^21 breaks float64 exactness")
    g = np.einsum("nsd,csd->nsc", x.astype(np.float64), cvf)
    sh = cn2[None, :, :].transpose(0, 2, 1) - 2.0 * g
    sh = np.where(mask.T[None, :, :], sh, np.inf)
    return np.argmin(sh, axis=2)


def lloyd_round_sub(
    wide: DataFrame,
    cv: np.ndarray,
    mask: np.ndarray,
    emit: str,
    subs: int,
    sd: int,
    qa_col: str = "qa",
) -> DataFrame:
    """One subspaced (PQ) Lloyd round over the wide frame.

    ``cv``: (kc, subs, sd) int64 codebook (absent slots zero),
    ``mask``: (kc, subs) bool presence. ``emit='books'`` yields
    per-task partial (cell, sub, i, s, c) blocks (``i = sub·sd + di``,
    the original position index); ``emit='codes'`` yields one
    (id, sub, cell) row per (vector, sub)."""
    kc = cv.shape[0]
    d = subs * sd
    cvf = cv.astype(np.float64)
    cn2 = (cvf * cvf).sum(axis=2)  # (kc, subs)

    def gen(batches):
        acc = np.zeros((kc * subs, sd), dtype=np.int64)
        cnt = np.zeros(kc * subs, dtype=np.int64)
        books = emit == "books"
        for b in batches:
            q = _mat_from_list_col(b.column(qa_col), d, name=qa_col)
            n = q.shape[0]
            if n == 0:
                continue
            x = q.reshape(n, subs, sd)
            a = _sub_score(x, cvf, cn2, mask)  # (n, subs)
            if books:
                key = (a * subs + np.arange(subs)[None, :]).reshape(-1)
                _accumulate(acc, cnt, key, x.reshape(-1, sd))
            else:
                ids = b.column(b.schema.get_field_index("id")).to_numpy(
                    zero_copy_only=False
                )
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.repeat(ids, subs), type=pa.int64()),
                        pa.array(
                            np.tile(np.arange(subs, dtype=np.int64), n),
                            type=pa.int32(),
                        ),
                        pa.array(a.reshape(-1), type=pa.int32()),
                    ],
                    names=["id", "sub", "cell"],
                )
        if books:
            nz = np.flatnonzero(cnt)
            code_of = nz // subs
            sub_of = nz % subs
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(code_of, sd), type=pa.int32()),
                    pa.array(np.repeat(sub_of, sd), type=pa.int32()),
                    pa.array(
                        (
                            np.repeat(sub_of, sd) * sd
                            + np.tile(np.arange(sd, dtype=np.int64), nz.size)
                        ),
                        type=pa.int32(),
                    ),
                    pa.array(acc[nz].reshape(-1), type=pa.int64()),
                    pa.array(np.repeat(cnt[nz], sd), type=pa.int64()),
                ],
                names=["cell", "sub", "i", "s", "c"],
            )

    cols = ["qa"] if emit == "books" else ["id", "qa"]
    if qa_col != "qa":
        cols = [qa_col] if emit == "books" else ["id", qa_col]
    schema = _PARTIAL_SUB if emit == "books" else _CODES_SUB
    return wide.select(*cols).mapInArrow(gen, schema=schema)


def _mean_expr():
    """The oracle's requantized mean, verbatim:
    ``floor(CAST(sum AS DOUBLE) / CAST(count AS DOUBLE) + 5e-1)``."""
    return F.floor(
        F.sum("s").cast("double") / F.sum("c").cast("double") + F.lit(0.5)
    ).alias("cv")


def books_whole_from_partials(df: DataFrame) -> tuple[list[int], np.ndarray]:
    """Reduce whole-vector partials with the oracle's mean expression
    ``floor(CAST(sum AS DOUBLE)/CAST(count AS DOUBLE) + 5e-1)`` and
    collect the bounded book: (present cells ascending, (m, d) int64)."""
    rows = df.groupBy("cell", "i").agg(_mean_expr()).collect()
    if not rows:
        raise ValueError(
            "books_whole_from_partials: empty partials frame — the "
            "Lloyd training operators require a non-empty corpus"
        )
    cells = sorted({r["cell"] for r in rows})
    pos = {c: k for k, c in enumerate(cells)}
    d = 1 + max(r["i"] for r in rows)
    cv = np.zeros((len(cells), d), dtype=np.int64)
    for r in rows:
        cv[pos[r["cell"]], r["i"]] = r["cv"]
    return cells, cv


def books_sub_from_partials(
    df: DataFrame, kc: int, subs: int, sd: int
) -> tuple[np.ndarray, np.ndarray]:
    """Reduce subspaced partials to (cv (kc, subs, sd) int64,
    mask (kc, subs) bool)."""
    rows = df.groupBy("cell", "sub", "i").agg(_mean_expr()).collect()
    cv = np.zeros((kc, subs, sd), dtype=np.int64)
    mask = np.zeros((kc, subs), dtype=bool)
    for r in rows:
        cv[r["cell"], r["sub"], r["i"] % sd] = r["cv"]
        mask[r["cell"], r["sub"]] = True
    return cv, mask


def books_whole_rows(cells: Sequence[int], cv: np.ndarray):
    """(cells, cv) → [(cell, i, cv)] rows for the temp-view book shape
    the final probe/rerank statements consume."""
    return [
        (int(c), int(i), int(cv[k, i]))
        for k, c in enumerate(cells)
        for i in range(cv.shape[1])
    ]


def books_sub_rows(cv: np.ndarray, mask: np.ndarray, sd: int):
    """(cv, mask) → [(code, sub, i, cv)] rows (i = sub·sd + di)."""
    kc, subs, _ = cv.shape
    return [
        (int(c), int(s), int(s * sd + di), int(cv[c, s, di]))
        for c in range(kc)
        for s in range(subs)
        if mask[c, s]
        for di in range(sd)
    ]
