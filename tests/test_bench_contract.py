"""bench.py's one-line JSON must report a query that raised instead of
silently dropping it from the suite total."""

from __future__ import annotations

import json

import bench
from tests.conftest import SF_SMOKE


def test_failed_query_is_listed_in_failed(spark, monkeypatch, capsys):
    import trendengine_spark.queries as queries
    import trendengine_spark.session as session
    from trendengine_spark.tables import clear_warm_cache

    real = queries.all_queries

    def boom(spark, sf_dir):
        raise RuntimeError("planted failure")

    monkeypatch.setattr(
        queries, "all_queries", lambda: {**real(), "sim_cosine_topk": boom}
    )
    # reuse the test session as-is: the bench conf would otherwise stick
    monkeypatch.setattr(session, "get_spark", lambda **kw: spark)
    monkeypatch.setattr(bench, "_parallel_calibration", lambda: 0.0)
    monkeypatch.setattr(bench, "HEADLINE", ["tpch_q1_pricing_summary", "sim_cosine_topk"])
    monkeypatch.setattr(bench, "EXTRAS", ("sim_cosine_topk",))
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SF_SMOKE)
    try:
        bench.main()
    finally:
        clear_warm_cache(spark, SF_SMOKE)
    rec = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rec["failed"] == {
        "queries": ["sim_cosine_topk"],
        "cold_queries": ["sim_cosine_topk"],
        "extra_queries": ["sim_cosine_topk"],
    }
    assert rec["queries"]["sim_cosine_topk"] == -1.0
    assert rec["value"] == rec["queries"]["tpch_q1_pricing_summary"] > 0
