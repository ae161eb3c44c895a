"""Round-for-round parity of the r14 Arrow Lloyd rounds
(operators/lloyd_exact) against the r13 pivoted-SQL reference
(queries/llm.pivot_lloyd_sql) — the internals pin for the session-6
rewrite of sim_ivf_topk / sim_pq_topk / sim_ivfpq_topk. The pivoted
SQL is itself bit-identical to the DuckDB oracle text (r13), so
equality here transfers oracle identity to the Arrow form round by
round, not just end to end."""

from __future__ import annotations

import numpy as np

from tests.conftest import SF_SMOKE
from trendengine_spark.sqltext import sql_over_tables

_SEEDS_SQL = """
WITH seeds AS (
  SELECT id, CAST(row_number() OVER (
           ORDER BY md5(CAST(id AS STRING)), id) AS INT) - 1 AS cell
  FROM (SELECT DISTINCT id FROM {pos}) u
)
SELECT s.cell, p.i, p.q AS cv
FROM seeds s JOIN {pos} p ON p.id = s.id WHERE s.cell < {nc}
"""


def _books_rows(rows):
    return sorted((r[0], r[1], r[2]) for r in rows)


def test_whole_vector_round_and_codes_parity(spark):
    from trendengine_spark.operators.lloyd_exact import (
        books_whole_from_partials,
        books_whole_rows,
        lloyd_books_whole,
        lloyd_codes_whole,
        seed_books,
    )
    from trendengine_spark.queries.llm import (
        _IVF_POS_SPARK,
        _IVF_WIDE_SPARK,
        pivot_lloyd_sql,
    )

    nc = 23  # adaptive_n_cells(500)
    sql_over_tables(
        spark, SF_SMOKE, "SELECT * FROM (" + _IVF_POS_SPARK + ")",
        ("embeddings",),
    ).createOrReplaceTempView("tlx_pos")
    wide = sql_over_tables(
        spark, SF_SMOKE, _IVF_WIDE_SPARK, ("embeddings",)
    )
    wide.createOrReplaceTempView("tlx_wide")

    # b0: md5-ranked seeds agree
    ref_b0 = spark.sql(_SEEDS_SQL.format(pos="tlx_pos", nc=nc)).collect()
    cv0 = seed_books(spark, "tlx_wide", nc)
    assert _books_rows(ref_b0) == _books_rows(
        books_whole_rows(list(range(cv0.shape[0])), cv0)
    )
    spark.createDataFrame(
        ref_b0, "cell int, i int, cv bigint"
    ).createOrReplaceTempView("tlx_b0")

    # round 1 books: pivoted SQL vs Arrow partials + floor-mean
    ref_b1 = spark.sql(
        pivot_lloyd_sql("tlx_pos", "tlx_b0", nc, "books", subspaced=False)
    ).collect()
    cells1, cv1 = books_whole_from_partials(
        lloyd_books_whole(wide, list(range(cv0.shape[0])), cv0)
    )
    assert _books_rows(ref_b1) == _books_rows(books_whole_rows(cells1, cv1))
    spark.createDataFrame(
        ref_b1, "cell int, i int, cv bigint"
    ).createOrReplaceTempView("tlx_b1")

    # round 2: codes and the fused next book both match the pivoted SQL
    ref_codes = sorted(
        (r["id"], r["cell"])
        for r in spark.sql(
            pivot_lloyd_sql("tlx_pos", "tlx_b1", nc, "codes", subspaced=False)
        ).collect()
    )
    fused = lloyd_codes_whole(wide, cells1, cv1)
    fused = fused.localCheckpoint()
    got_codes = sorted(
        (r["id"], r["cell"])
        for r in fused.where("i = -1").select("id", "cell").collect()
    )
    assert ref_codes == got_codes
    ref_b2 = spark.sql(
        pivot_lloyd_sql("tlx_pos", "tlx_b1", nc, "books", subspaced=False)
    ).collect()
    b2c, b2cv = books_whole_from_partials(
        fused.where("id IS NULL").select("cell", "i", "s", "c")
    )
    assert _books_rows(ref_b2) == _books_rows(books_whole_rows(b2c, b2cv))


def test_subspaced_round_and_codes_parity(spark):
    from trendengine_spark.operators.lloyd_exact import (
        books_sub_from_partials,
        books_sub_rows,
        lloyd_round_sub,
        seed_books,
    )
    from trendengine_spark.queries.llm import (
        _PQ_B0_SQL,
        _PQ_CELLS,
        _PQ_POS_SPARK,
        _PQ_SUBS,
        _PQ_WIDE_SPARK,
        _pq_upos_sql,
        pivot_lloyd_sql,
    )

    subs, sd = _PQ_SUBS, 64 // _PQ_SUBS
    sql_over_tables(
        spark,
        SF_SMOKE,
        "WITH " + _pq_upos_sql(_PQ_POS_SPARK, " DIV ") + " SELECT * FROM upos",
        ("embeddings",),
    ).createOrReplaceTempView("te_pq_upos")
    wide = sql_over_tables(spark, SF_SMOKE, _PQ_WIDE_SPARK, ("embeddings",))
    wide.createOrReplaceTempView("tlx_pq_wide")

    # the wide frame's q values equal the exploded upos q values
    ref_q = sorted(
        (r["id"], r["i"], r["q"])
        for r in spark.sql("SELECT id, i, q FROM te_pq_upos").collect()
    )
    got_q = sorted(
        (r["id"], r["i"], r["q"])
        for r in spark.sql(
            "SELECT id, pos AS i, q FROM tlx_pq_wide "
            "LATERAL VIEW posexplode(qa) t AS pos, q"
        ).collect()
    )
    assert ref_q == got_q

    # b0 agrees (same md5 seed ranking, reshaped)
    ref_b0 = spark.sql(_PQ_B0_SQL).collect()
    seeds = seed_books(spark, "tlx_pq_wide", _PQ_CELLS)
    cv = np.zeros((_PQ_CELLS, subs, sd), dtype=np.int64)
    mask = np.zeros((_PQ_CELLS, subs), dtype=bool)
    cv[: seeds.shape[0]] = seeds.reshape(seeds.shape[0], subs, sd)
    mask[: seeds.shape[0]] = True
    ref_rows = sorted((r["cell"], r["sub"], r["i"], r["cv"]) for r in ref_b0)
    got_rows = sorted(books_sub_rows(cv, mask, sd))
    assert ref_rows == got_rows
    spark.createDataFrame(
        ref_b0, "cell int, sub int, i int, cv bigint"
    ).createOrReplaceTempView("tlx_pq_b0")

    # round 1 books parity
    ref_b1 = sorted(
        (r["cell"], r["sub"], r["i"], r["cv"])
        for r in spark.sql(
            pivot_lloyd_sql("te_pq_upos", "tlx_pq_b0", _PQ_CELLS, "books")
        ).collect()
    )
    cv1, mask1 = books_sub_from_partials(
        lloyd_round_sub(wide, cv, mask, "books", subs, sd),
        _PQ_CELLS, subs, sd,
    )
    assert ref_b1 == sorted(books_sub_rows(cv1, mask1, sd))
    spark.createDataFrame(
        [r for r in ref_b1], "cell int, sub int, i int, cv bigint"
    ).createOrReplaceTempView("tlx_pq_b1")

    # round 2 codes parity
    ref_codes = sorted(
        (r["id"], r["sub"], r["cell"])
        for r in spark.sql(
            pivot_lloyd_sql("te_pq_upos", "tlx_pq_b1", _PQ_CELLS, "codes")
        ).collect()
    )
    got_codes = sorted(
        (r["id"], r["sub"], r["cell"])
        for r in lloyd_round_sub(wide, cv1, mask1, "codes", subs, sd).collect()
    )
    assert ref_codes == got_codes
