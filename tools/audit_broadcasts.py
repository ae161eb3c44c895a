"""Fact-table-broadcast audit (r9): walk every join-shaped registry
query's physical plan at a given SF and flag BroadcastHashJoin /
BroadcastNestedLoopJoin BUILD sides whose subtree contains a RAW scan
of a fact table (lineitem/orders). Aggregates terminate the walk —
they bound the broadcast payload (a HAVING output or a 1-row global
aggregate is a legitimate build side), so only filter/project-only
fact scans flag.

Found and fixed in r9 (BASELINE addenda 2-3): q18 broadcast all 4.5M
orders + customers probing from its 68k-row HAVING output
(3.98 → 1.04 s at sf3), q13's left join broadcast raw orders
(1.27 → 0.53 s), q7 broadcast raw orders under its MERGE-pinned
lineitem (3.48 → 1.55 s), join_left_count likewise (1.65 → 0.53 s).
The mechanism: the static planner trusts the parquet FILE size
against spark.sql.autoBroadcastJoinThreshold (64 MB here), so a
mid-scale fact slips under as a build side — backwards at sf3, fatal
at 100 TB. Filtered, column-pruned key projections (semi/anti legs)
measured FLAT under pins and are exempt by inspection.

Usage: python tools/audit_broadcasts.py [sf_dir]   (default /tmp/te_sf1)
Exit code 1 if any offender is found.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FACTS = ("lineitem.parquet", "orders.parquet")
PREFIXES = (
    "tpch_", "join_", "graph_", "recursive", "lateral", "scd2",
    "funnel", "retention", "temporal", "hier_", "subquery", "window_",
)
#: reviewed by hand: the build side is a FILTERED, column-pruned
#: order-key projection (semi/anti legs) — measured flat under
#: SHUFFLE_MERGE pins at sf3 (BASELINE r9 addendum 3), and the
#: file-size rule never broadcasts a true-scale fact anyway.
REVIEWED_OK = {
    "subquery_exists_correlated",
    "tpch_q22_global_sales_opportunity",
    "join_semi",
    "join_anti",
}


def _scan_paths(node):
    try:
        seq = node.relation().location().rootPaths()
        return [seq.apply(i).toString() for i in range(seq.size())]
    except Exception:
        return []


def _walk(node, under_bcast, hits):
    nm = node.getClass().getSimpleName()
    if under_bcast and "Aggregate" in nm:
        under_bcast = False
    if under_bcast and "Scan" in nm:
        for p in _scan_paths(node):
            for f in FACTS:
                if p.endswith(f):
                    hits.add(f)
    ch = node.children()
    n = ch.size()
    if nm in ("BroadcastHashJoinExec", "BroadcastNestedLoopJoinExec") and n == 2:
        bi = 0 if node.buildSide().toString() == "BuildLeft" else 1
        _walk(ch.apply(bi), True, hits)
        _walk(ch.apply(1 - bi), under_bcast, hits)
        return
    if "BroadcastExchange" in nm:
        under_bcast = True
    for i in range(n):
        _walk(ch.apply(i), under_bcast, hits)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/te_sf1"

    from trendengine_spark.queries import REGISTRY
    from trendengine_spark.session import get_spark

    spark = get_spark(app_name="audit_broadcasts")
    names = [n for n in REGISTRY if n.startswith(PREFIXES)]
    offenders, skipped = [], 0
    for name in names:
        try:
            df = REGISTRY[name].fn(spark, sf_dir)
            hits: set[str] = set()
            _walk(df._jdf.queryExecution().sparkPlan(), False, hits)
        except Exception:
            skipped += 1
            continue
        if hits and name not in REVIEWED_OK:
            offenders.append((name, sorted(hits)))
    print(f"checked {len(names) - skipped}/{len(names)} queries at {sf_dir}")
    if offenders:
        print("RAW fact-table broadcasts (fix or review):")
        for name, facts in offenders:
            print(f"  {name}: {facts}")
        return 1
    print("clean: no unreviewed raw fact-table broadcast build sides")
    return 0


if __name__ == "__main__":
    sys.exit(main())
