"""Plan audit over the bench surface (guide §7.2): for each query,
count Exchange / Sort / BatchEvalPython / ArrowEvalPython / MapInPandas
nodes, list join strategies, and flag scans without pushed filters
where a filter exists. One line per query; anomalies hunt material.

Run: python tools/audit_plans.py [sf_dir] [names...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import BENCH_CONF, EXTRAS, HEADLINE  # noqa: E402

BENCH_SET = [*HEADLINE, *EXTRAS]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    names = sys.argv[2:] or BENCH_SET

    from trendengine_spark.queries import all_queries
    from trendengine_spark.session import get_spark

    if names == ["--all"]:
        # full declared registry (bench surface first, then the rest)
        names = BENCH_SET + [
            n for n in sorted(all_queries()) if n not in BENCH_SET
        ]

    spark = get_spark(app_name="audit_plans", extra_conf=BENCH_CONF)
    qs = all_queries()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    print(f"{'query':38s} {'Exch':>4} {'Sort':>4} {'PyEval':>6} {'joins'}")
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(mode)
        except Exception as exc:
            print(f"{name:38s} ERROR {str(exc)[:90]}")
            continue
        n_ex = len(re.findall(r"\bExchange\b", plan)) - len(
            re.findall(r"BroadcastExchange", plan)
        )
        n_bex = len(re.findall(r"BroadcastExchange", plan))
        n_sort = len(re.findall(r"\bSort \(", plan))
        n_py = len(
            re.findall(r"BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas", plan)
        )
        joins = re.findall(
            r"(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)",
            plan,
        )
        from collections import Counter

        jc = ",".join(f"{k}x{v}" for k, v in Counter(joins).items())
        print(
            f"{name:38s} {n_ex:>4} {n_sort:>4} {n_py:>6} "
            f"bex={n_bex} {jc}"
        )


if __name__ == "__main__":
    main()
