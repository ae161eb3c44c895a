"""``operators.util.fit_series``: the sorted ``mapInArrow`` pass that
runs every per-series fitter (PolyTrend, DBEST, Mann–Kendall, BFAST).

Pinned here: series are grouped exactly as ``groupBy`` groups them
(null, NaN, string and timestamp keys), every row of a series reaches
the fitter in order even when the series spans Arrow batches, empty
partitions and empty inputs yield nothing, a fitter may emit several
rows per series, and the output equals the per-group pandas
(``applyInPandas``) envelope it replaced, row for row.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import sys

import numpy as np
import pandas as pd
import pytest
from pyspark import cloudpickle
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tests.conftest import RECIPES
from trendengine_spark.functions.dbest import (
    STATUS_OK,
    _prepare_series,
    dbest_change_detection,
    dbest_changes,
)
from trendengine_spark.functions.polytrend import polytrend_classify, polytrend_groups
from trendengine_spark.operators.util import fit_series

# Python workers cannot import this test module, so ship its functions
# by value
cloudpickle.register_pickle_by_value(sys.modules[__name__])

BATCH_ROWS = "spark.sql.execution.arrow.maxRecordsPerBatch"

_STATS = [
    T.StructField("n", T.IntegerType()),
    T.StructField("t", T.ArrayType(T.LongType())),
]


def _stats(cols: dict) -> list[dict]:
    return [{"n": int(cols["t"].size), "t": cols["t"].tolist()}]


def _stats_schema(df, keys):
    return T.StructType([df.schema[k] for k in keys] + _STATS)


def _group_counts(df, keys):
    # repr: keys hold None and NaN, which neither sort nor compare equal
    return sorted(repr(tuple(r)) for r in df.groupBy(*keys).count().collect())


def _fit_counts(out, keys):
    return sorted(repr((*(r[k] for k in keys), r["n"])) for r in out.collect())


@contextlib.contextmanager
def _conf(spark, key, value):
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_more_partitions_than_series(spark):
    with _conf(spark, "spark.sql.shuffle.partitions", "16"):
        df = spark.createDataFrame(
            [(s, t) for s in ("a", "b", "c") for t in range(5)], "s string, t long"
        )
        out = fit_series(df, ["s"], ["t"], ["t"], _stats, _stats_schema(df, ["s"]))
        # one Python task per core, not one per (mostly empty) partition
        assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
        rows = sorted(out.collect())
    assert [(r.s, r.n, r.t) for r in rows] == [
        (s, 5, [0, 1, 2, 3, 4]) for s in ("a", "b", "c")
    ]


def test_zero_row_input(spark):
    df = spark.createDataFrame([], "s string, t long")
    out = fit_series(df, ["s"], ["t"], ["t"], _stats, _stats_schema(df, ["s"]))
    assert out.collect() == []
    assert out.schema == _stats_schema(df, ["s"])


def test_series_split_across_arrow_batches(spark):
    """Seven-row batches cut most series; each must still arrive whole,
    time-ordered, once — including a series longer than two batches."""
    rng = np.random.default_rng(0)
    rows = [(s, int(t)) for s in range(40) for t in rng.permutation(1 + s % 23)]
    rows = [rows[i] for i in rng.permutation(len(rows))]
    df = spark.createDataFrame(rows, "s int, t long")
    with _conf(spark, BATCH_ROWS, "7"):
        out = fit_series(df, ["s"], ["t"], ["t"], _stats, _stats_schema(df, ["s"]))
        got = sorted((r.s, r.t) for r in out.collect())
    assert got == [(s, list(range(1 + s % 23))) for s in range(40)]


def test_null_times_sort_last(spark):
    """Nulls in the order column come last (pandas' ``sort_values``
    placement) and reach the fitter as NaN."""
    df = spark.createDataFrame(
        [("a", None), ("a", 2), ("a", 1), ("b", None)], "s string, t long"
    )
    schema = T.StructType([df.schema["s"], T.StructField("t", T.ArrayType(T.DoubleType()))])
    out = fit_series(df, ["s"], ["t"], ["t"], lambda c: [{"t": c["t"].tolist()}], schema)
    assert sorted((r.s, r.t) for r in out.collect()) == [("a", [1.0, 2.0, None]), ("b", [None])]


@pytest.mark.parametrize(
    "key_type, values",
    [
        ("string", ["x", None, "", "y"]),
        ("double", [1.0, float("nan"), None, 0.0]),
        ("timestamp", [dt.datetime(2001, 1, 1), None, dt.datetime(2001, 1, 1, 0, 0, 1)]),
    ],
)
def test_keys_group_like_group_by(spark, key_type, values):
    """Null keys form one series, NaN keys another; two-column keys
    mixing a string with the typed column cut on either change."""
    rows = [
        (g, k, t)
        for g in ("p", None)
        for i, k in enumerate(values)
        for t in range(3 + 2 * i)
    ]
    df = spark.createDataFrame(rows, f"g string, k {key_type}, t long")
    with _conf(spark, BATCH_ROWS, "7"):
        for keys in (["k"], ["g", "k"]):
            out = fit_series(df, keys, ["t"], ["t"], _stats, _stats_schema(df, keys))
            assert _fit_counts(out, keys) == _group_counts(df, keys)


# ----------------------------------------------- per-group pandas reference


def _pandas_reference(obs, keys, order_cols, fit_one, schema):
    """The envelope ``fit_series`` replaced: one pandas frame per
    group, sorted in-group, one output frame per group."""
    out_cols = [f.name for f in schema.fields]

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_cols)
        rows = fit_one(pdf)
        head = {k: pdf[k].iloc[0] for k in keys}
        return pd.DataFrame([{**head, **r} for r in rows], columns=out_cols)

    return obs.groupBy(*keys).applyInPandas(fit, schema)


def _canon(df):
    """Rows with every float rendered to 17 significant digits."""

    def cell(v):
        if isinstance(v, float):
            return repr(v)
        if isinstance(v, list):
            return [cell(x) for x in v]
        return v

    return sorted(repr([cell(v) for v in r]) for r in df.collect())


def _fixture_grid(spark, side=4, n_years=20):
    """FIXTURES.md §1–2: a ``side`` × ``side`` pixel grid cycling the §2
    recipes plus ``abrupt_break`` (step +0.15 at month 120), monthly
    values with a seasonal swing; a few values are null."""
    recipes = sorted(RECIPES) + ["abrupt_break"]
    months = np.arange(12 * n_years)
    rng = np.random.default_rng(7)
    rows = []
    for i in range(side * side):
        name = recipes[i % len(recipes)]
        if name == "abrupt_break":
            f = 0.45 + 0.15 * (months >= 120)
        else:
            f = np.repeat(RECIPES[name][0](np.arange(float(n_years))), 12)
        noise = np.random.RandomState(i).normal(0.0, 0.02, months.size)
        y = f + 0.05 * np.sin(2 * np.pi * months / 12) + noise
        y[rng.random(months.size) < 0.01] = np.nan
        for m in months:
            rows.append(
                (
                    "gimms",
                    13.0 + 0.072 * (i % side),
                    52.0 + 0.072 * (i // side),
                    dt.date(1990 + m // 12, 1 + m % 12, 1),
                    None if np.isnan(y[m]) else float(y[m]),
                )
            )
    return spark.createDataFrame(
        rows,
        "series_id string, longitude double, latitude double, "
        "period_start date, value double",
    )


KEYS = ["series_id", "longitude", "latitude"]


def test_polytrend_matches_pandas_reference(spark):
    monthly = _fixture_grid(spark)
    annual = monthly.groupBy(*KEYS, F.year("period_start").alias("year")).agg(
        F.avg("value").alias("value")
    )
    got = polytrend_groups(annual, KEYS, "year", "value", threshold=0.1)

    def fit(pdf):
        y = pdf["value"].to_numpy(dtype=np.float64)
        y = y[~np.isnan(y)]
        if y.size == 0 or not np.all(y > 0.1):
            return [{"status": "below_threshold" if y.size else "too_short"}]
        return [{"status": "ok", **polytrend_classify(y), "n_points": int(y.size)}]

    ref = _pandas_reference(annual, KEYS, ["year"], fit, got.schema)
    assert got.schema == ref.schema
    assert _canon(got) == _canon(ref)
    assert {r.status for r in got.collect()} == {"ok"}


def test_dbest_several_rows_per_series_match_pandas_reference(spark):
    """DBEST reports every change (several rows per series); 100-row
    batches split each 240-month series across batches."""
    monthly = _fixture_grid(spark)

    def fit(pdf):
        y, status = _prepare_series(pdf["value"].to_numpy(), None)
        if status != STATUS_OK:
            return [{"status": status}]
        res = dbest_change_detection(y)
        fields = ("start", "duration", "end", "change", "change_type", "significance", "p_value")
        return [
            {
                "status": STATUS_OK,
                "breakpoint_no": res["breakpoint_no"],
                "segment_no": res["segment_no"],
                **{c: res[c][i] for c in fields},
            }
            for i in range(len(res["start"]))
        ]

    with _conf(spark, BATCH_ROWS, "100"):
        got = dbest_changes(monthly, KEYS, largest_only=False)
        ref = _pandas_reference(monthly, KEYS, ["period_start"], fit, got.schema)
        assert got.count() > monthly.select(*KEYS).distinct().count()
        assert got.schema == ref.schema
        assert _canon(got) == _canon(ref)
