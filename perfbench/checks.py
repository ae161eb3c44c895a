"""Output checks: every timed result is compared before it counts.

- Queries with oracle SQL: the Arrow result is digested by DuckDB with
  the digest of ``tools/check_oracle.py`` (count plus an
  order-independent sum of row hashes over columns in name order) and
  compared with the digest of the oracle SQL over the same parquet
  tables, computed once at setup.
- Rows-only queries: the same digest, compared with the value pinned
  in ``pinned_digests.json``.
- Trend requests: compared with the planted truth of the grid
  (:func:`check_polytrend`, :func:`check_dbest`). Classification is
  statistical, so a recipe may miss up to its expected miss count
  plus three binomial standard deviations plus one pixel.

A check returns ``None`` when the output is right, else a one-line
reason.
"""

from __future__ import annotations

import importlib.util
import json
import os

import pandas as pd

from perfbench.data import BREAK_MONTH, RECIPES

HERE = os.path.dirname(os.path.abspath(__file__))
PINNED_PATH = os.path.join(HERE, "pinned_digests.json")

#: expected share of a recipe's pixels PolyTrend classifies as planted,
#: from a numpy simulation of the recipes at the grid's noise (400
#: series each): the no-trend class is the null of three significance
#: tests at alpha = 0.05, so about one pixel in six is a false positive
EXPECTED_AGREEMENT = {"no_trend": 0.83}
SIGNAL_AGREEMENT = 0.99
#: expected share of abrupt_break pixels DBEST types abrupt (same
#: simulation, with the request's level-shift knobs)
EXPECTED_ABRUPT = 0.97
#: an abrupt change segment must hold the planted month, give or take
#: this many months, and last at most twice DBEST's 24-month duration
#: knob (simulated: 585 typed breaks, segments 31 months at the most,
#: every one holding the planted month)
BREAK_TOLERANCE_MONTHS = 12
MAX_BREAK_SEGMENT_MONTHS = 48


def allowed_misses(n: int, p: float) -> float:
    """Misses a right program stays under: the expected count plus
    three binomial standard deviations plus one."""
    return n * (1 - p) + 3 * (n * p * (1 - p)) ** 0.5 + 1


def _check_oracle_module(root: str):
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Digester:
    """DuckDB connection over one table directory; digests relations
    with ``check_oracle._digest_sql``."""

    def __init__(self, root: str, tables_dir: str):
        import duckdb

        self._co = _check_oracle_module(root)
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone='UTC'")
        for name in self._co.TABLES:
            path = os.path.join(tables_dir, f"{name}.parquet")
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")

    def _digest(self, rel: str) -> list:
        cols = sorted(
            r[0] for r in self.con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall()
        )
        n, h = self.con.execute(self._co._digest_sql(self.con, rel)).fetchone()
        return [cols, int(n), str(h)]

    def oracle(self, sql: str) -> list:
        return self._digest(f"({sql})")

    def arrow(self, table) -> list:
        self.con.register("_result", table)
        try:
            return self._digest("_result")
        finally:
            self.con.unregister("_result")

    def close(self) -> None:
        self.con.close()


def load_pinned() -> dict:
    with open(PINNED_PATH) as fh:
        return json.load(fh)


def compare_digest(got: list, want: list | None) -> str | None:
    if want is None:
        return "no reference digest"
    if got[0] != want[0]:
        return f"columns {got[0]} != {want[0]}"
    if got[1] != want[1]:
        return f"rows {got[1]} != {want[1]}"
    if got[2] != want[2]:
        return "row digest differs"
    return None


def _with_truth(result: pd.DataFrame, truth: pd.DataFrame, bbox) -> pd.DataFrame | str:
    lo_x, lo_y, hi_x, hi_y = bbox
    want = truth[
        truth.longitude.between(lo_x, hi_x) & truth.latitude.between(lo_y, hi_y)
    ]
    merged = want.merge(result, on=["longitude", "latitude"], how="left")
    if len(result) != len(want) or merged["status"].isna().any():
        return f"{len(result)} rows for {len(want)} pixels"
    return merged


def check_polytrend(result: pd.DataFrame, truth: pd.DataFrame, bbox) -> str | None:
    """One row per requested pixel; ``unqualified`` pixels gated as
    ``below_threshold``; each recipe's misclassified pixels within
    :func:`allowed_misses`."""
    merged = _with_truth(result, truth, bbox)
    if isinstance(merged, str):
        return merged
    unq = merged[merged.recipe == "unqualified"]
    if (unq.status != "below_threshold").any():
        return "unqualified pixel passed the quality gate"
    for recipe, (_, cls) in RECIPES.items():
        rows = merged[merged.recipe == recipe]
        if cls is None or rows.empty:
            continue
        misses = int((rows.trend_type.to_numpy() != cls).sum())
        p = EXPECTED_AGREEMENT.get(recipe, SIGNAL_AGREEMENT)
        if misses > allowed_misses(len(rows), p):
            return f"{recipe}: {misses} of {len(rows)} pixels misclassified"
    return None


def check_dbest(result: pd.DataFrame, truth: pd.DataFrame, bbox) -> str | None:
    """One largest-change row per pixel; ``unqualified`` gated;
    ``abrupt_break`` pixels typed abrupt (change type 1) within
    :func:`allowed_misses`, each in a short change segment that holds
    the planted month."""
    merged = _with_truth(result, truth, bbox)
    if isinstance(merged, str):
        return merged
    if (merged[merged.recipe == "unqualified"].status != "below_threshold").any():
        return "unqualified pixel passed the quality gate"
    brk = merged[merged.recipe == "abrupt_break"]
    if brk.empty:
        return "request holds no abrupt_break pixel"
    typed = brk[brk.change_type == 1]
    if len(brk) - len(typed) > allowed_misses(len(brk), EXPECTED_ABRUPT):
        return f"{len(brk) - len(typed)} of {len(brk)} abrupt_break pixels not typed abrupt"
    holds = (typed.start - 1 - BREAK_TOLERANCE_MONTHS <= BREAK_MONTH) & (
        BREAK_MONTH <= typed.end - 1 + BREAK_TOLERANCE_MONTHS
    )
    if not (holds & (typed.duration <= MAX_BREAK_SEGMENT_MONTHS)).all():
        return "abrupt_break change segment misses the planted month"
    return None
