"""Mann–Kendall trend test + Sen's slope (pure numpy).

The standard non-parametric trend toolkit of the reference's domain
(vegetation-index time series — the PolyTrend/DBEST literature uses
MK/Sen as the baseline comparison): S = Σ_{i<j} sign(y_j − y_i),
tie-corrected variance, normal approximation with continuity
correction, and Sen's slope = median of all pairwise slopes. Series
are per-group and short (tens to hundreds of points), so the O(n²)
pairwise computation is a trivially vectorized numpy triangle run
once per series by :func:`~trendengine_spark.operators.util.fit_series`
— the same per-series execution envelope as PolyTrend (SURVEY §2.4).

Correctness evidence: the integer-exact pieces (S, the ×18 variance
numerator, Sen's slope over integer series) are ALSO expressible as a
relational pairwise self-join, which the oracle-checked
``trend_mann_kendall_stats`` query states in DuckDB SQL — the numpy
UDF is cross-checked against an independent relational formulation of
the same math. The normal-approximation z/p (rows-only) is pinned by
golden/property tests (monotone → significant, constant → S=0/p=1,
hand-computed tie case).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T


def _erfc(x: float) -> float:
    """Abramowitz–Stegun 7.1.26 complementary error function
    (|err| < 1.5e-7) — own implementation, no scipy."""
    ax = abs(x)
    t = 1.0 / (1.0 + 0.3275911 * ax)
    poly = t * (
        0.254829592
        + t * (-0.284496736 + t * (1.421413741 + t * (-1.453152027 + t * 1.061405429)))
    )
    v = poly * math.exp(-ax * ax)
    return v if x >= 0 else 2.0 - v


def mann_kendall(y: np.ndarray) -> dict:
    """Full MK test on a time-ordered series. Returns s (int),
    var_s18 (int — 18·Var(S), exact), var_s, z (continuity-corrected
    normal score), p_value (two-sided), trend ∈ {-1, 0, 1} at
    α = 0.05."""
    y = np.asarray(y, dtype=np.float64)
    # nulls arriving through a DataFrame become NaN; np.sign(NaN) is
    # NaN and int(NaN) raises inside the worker — drop them up front
    # (MK is rank-based; a missing observation simply contributes no
    # pairs, the standard treatment)
    y = y[~np.isnan(y)]
    n = len(y)
    if n < 2:
        return {
            "n": n, "s": 0, "var_s18": 0, "var_s": 0.0,
            "z": 0.0, "p_value": 1.0, "trend": 0,
        }
    diffs = np.sign(y[None, :] - y[:, None])
    s = int(np.triu(diffs, 1).sum())
    # tie correction: Σ t(t−1)(2t+5) over tie groups
    _, counts = np.unique(y, return_counts=True)
    tie_term = int(sum(t * (t - 1) * (2 * t + 5) for t in counts))
    var_s18 = n * (n - 1) * (2 * n + 5) - tie_term
    var_s = var_s18 / 18.0
    if var_s <= 0:
        z = 0.0
    elif s > 0:
        z = (s - 1) / math.sqrt(var_s)
    elif s < 0:
        z = (s + 1) / math.sqrt(var_s)
    else:
        z = 0.0
    p = _erfc(abs(z) / math.sqrt(2.0))
    trend = int(np.sign(s)) if p < 0.05 else 0
    return {
        "n": n, "s": s, "var_s18": int(var_s18), "var_s": var_s,
        "z": z, "p_value": p, "trend": trend,
    }


def sens_slope(y: np.ndarray, x: np.ndarray | None = None) -> float:
    """Sen's slope: median of (y_j − y_i)/(x_j − x_i) over all i<j.
    Robust to outliers (breakdown ~29%); exact slope on a noiseless
    linear series."""
    y = np.asarray(y, dtype=np.float64)
    if x is None:
        x = np.arange(len(y), dtype=np.float64)
    else:
        x = np.asarray(x, float)
    keep = ~np.isnan(y)
    y, x = y[keep], x[keep]
    n = len(y)
    if n < 2:
        return 0.0
    iu, ju = np.triu_indices(n, 1)
    return float(np.median((y[ju] - y[iu]) / (x[ju] - x[iu])))


MK_SCHEMA_FULL = T.StructType(
    [
        T.StructField("n", T.IntegerType(), True),
        T.StructField("s_stat", T.LongType(), True),
        T.StructField("var_s18", T.LongType(), True),
        T.StructField("z", T.DoubleType(), True),
        T.StructField("p_value", T.DoubleType(), True),
        T.StructField("trend", T.IntegerType(), True),
        T.StructField("sens_slope", T.DoubleType(), True),
    ]
)


def mann_kendall_groups(
    df: DataFrame,
    keys: list[str],
    time_col: str = "time",
    value_col: str = "value",
) -> DataFrame:
    """Per-group MK + Sen via
    :func:`~trendengine_spark.operators.util.fit_series` — explicit
    time sort within each series (never positional, SURVEY §4.4.2).
    Per-series state is the series itself (short by construction:
    composited series, not raw events)."""
    key_fields = [df.schema[k] for k in keys]
    schema = T.StructType(list(key_fields) + list(MK_SCHEMA_FULL.fields))

    def fit(cols: dict) -> list[dict]:
        y = np.asarray(cols[value_col], dtype=np.float64)
        r = mann_kendall(y)
        return [
            {
                "n": r["n"], "s_stat": r["s"], "var_s18": r["var_s18"],
                "z": r["z"], "p_value": r["p_value"], "trend": r["trend"],
                "sens_slope": sens_slope(y),
            }
        ]

    from trendengine_spark.operators.util import fit_series

    return fit_series(df, keys, [time_col], [value_col], fit, schema)


def seasonal_mann_kendall(
    y: np.ndarray, seasons: np.ndarray
) -> dict:
    """Seasonal (Hirsch–Slack) Mann–Kendall: run MK WITHIN each
    season's across-year series and combine — S_total = Σ_m S_m,
    Var_total = Σ_m Var_m (seasons are independent under H0), normal
    approximation on the combined statistic. The standard test for
    series with strong annual cycles (NDVI!), where plain MK reads
    the seasonal swing as spurious trend/noise. ``seasons`` labels
    each observation (e.g. month-of-year); within a season the
    observations must already be time-ordered. Seasonal Sen slope =
    median of all WITHIN-season pairwise slopes (x = within-season
    rank index)."""
    y = np.asarray(y, dtype=np.float64)
    seasons = np.asarray(seasons)
    s_total = 0
    var18_total = 0
    slopes: list[np.ndarray] = []
    for m in np.unique(seasons):
        ym = y[seasons == m]
        ym = ym[~np.isnan(ym)]  # same missing-data treatment as mann_kendall
        r = mann_kendall(ym)
        s_total += r["s"]
        var18_total += r["var_s18"]
        if len(ym) >= 2:
            iu, ju = np.triu_indices(len(ym), 1)
            slopes.append((ym[ju] - ym[iu]) / (ju - iu))
    var_s = var18_total / 18.0
    if var_s <= 0:
        z = 0.0
    elif s_total > 0:
        z = (s_total - 1) / math.sqrt(var_s)
    elif s_total < 0:
        z = (s_total + 1) / math.sqrt(var_s)
    else:
        z = 0.0
    p = _erfc(abs(z) / math.sqrt(2.0))
    return {
        "s_total": int(s_total),
        "var_s18_total": int(var18_total),
        "z": z,
        "p_value": p,
        "trend": int(np.sign(s_total)) if p < 0.05 else 0,
        "seasonal_sen": float(np.median(np.concatenate(slopes)))
        if slopes
        else 0.0,
    }


SMK_SCHEMA = T.StructType(
    [
        T.StructField("s_total", T.LongType(), True),
        T.StructField("var_s18_total", T.LongType(), True),
        T.StructField("z", T.DoubleType(), True),
        T.StructField("p_value", T.DoubleType(), True),
        T.StructField("trend", T.IntegerType(), True),
        T.StructField("seasonal_sen", T.DoubleType(), True),
    ]
)


def seasonal_mann_kendall_groups(
    df: DataFrame,
    keys: list[str],
    time_col: str = "time",
    season_col: str = "season",
    value_col: str = "value",
) -> DataFrame:
    """Per-group seasonal MK via
    :func:`~trendengine_spark.operators.util.fit_series` (explicit
    (season, time) sort within each series)."""
    key_fields = [df.schema[k] for k in keys]
    schema = T.StructType(list(key_fields) + list(SMK_SCHEMA.fields))

    def fit(cols: dict) -> list[dict]:
        return [seasonal_mann_kendall(cols[value_col], cols[season_col])]

    from trendengine_spark.operators.util import fit_series

    return fit_series(
        df, keys, [season_col, time_col], [value_col, season_col], fit, schema
    )
