"""Recompute the pinned digests of the rows-only headline queries.

    python3 perfbench/pin_digests.py

Generate the fixed tables, run every headline query without oracle
SQL once on a fresh session, and write its digest into
``pinned_digests.json``. Re-pin only after checking the new outputs
are right: a pinned digest is the reference a timed result must match.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> None:
    sys.path.insert(0, ROOT)
    import bench
    from trendengine_spark.queries import all_oracle_sql, all_queries
    from trendengine_spark.session import get_spark

    from perfbench import checks, data

    spark = get_spark(app_name="perfbench_pin")
    oracle = all_oracle_sql()
    with tempfile.TemporaryDirectory() as tables_dir:
        data.write_tables(tables_dir)
        digester = checks.Digester(ROOT, tables_dir)
        pinned = {
            name: digester.arrow(all_queries()[name](spark, tables_dir).toArrow())
            for name in bench.HEADLINE
            if name not in oracle
        }
        digester.close()
    with open(checks.PINNED_PATH, "w") as fh:
        json.dump(pinned, fh, indent=1, sort_keys=True)
        fh.write("\n")
    spark.stop()


if __name__ == "__main__":
    main()
