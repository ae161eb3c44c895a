"""PolyTrend — polynomial trend classification, re-derived natively.

Re-derivation of the published PolyTrend algorithm (Jamali, Seaquist,
Eklundh & Ardö 2014, "Automated mapping of vegetation trends with
polynomials using NDVI imagery over the Sahel", Remote Sensing of
Environment) from the paper's decision cascade. The reference app
calls the CRAN R package once per pixel over rpy2
(``TrendEngine/calculations/polytrend.py:285-286,336-337``) and
consumes positional outputs [2..6] = (trend_type, slope, direction,
significance, degree) (``polytrend.py:300-305,358-365``).

Decision cascade (as published):

1. Fit a cubic. If the cubic coefficient is significant at ``alpha``
   AND the cubic has its critical points (roots of the derivative)
   inside the observed window (i.e. the cubic shape is actually
   expressed in-window), the series has a cubic trend *shape*:
   - if the linear net-change slope is also significant → type 3
     (cubic), significance 1;
   - else the trend is concealed → type -1, significance -1.
2. Else fit a quadratic with the same logic (vertex in-window) →
   type 2 or concealed.
3. Else fit a line: significant slope → type 1 (linear),
   significance 1; otherwise → type 0 (no trend), significance -1.

``slope`` and ``direction = sign(slope)`` always come from the
degree-1 fit (the net-change line), matching the reference's
consumption of a single slope/direction per pixel regardless of
class (``polytrend.py:300-305``).

Spark execution: :func:`polytrend_groups` runs the classifier through
:func:`~trendengine_spark.operators.util.fit_series` — one hash
repartition by series, a per-partition sort, and one ``mapInArrow``
pass that classifies each series as its rows stream by; ~40 points
per series (annual composite), so series skew is impossible by
construction (SURVEY.md §4.3).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from trendengine_spark.functions.stattools import ols_poly

#: trend_type codes, reference polytrend.py:204-210
CONCEALED, NO_TREND, LINEAR, QUADRATIC, CUBIC = -1, 0, 1, 2, 3


def polytrend_classify(y: np.ndarray, alpha: float = 0.05) -> dict:
    """Classify one series. Returns dict with trend_type, slope,
    direction, significance, degree, p_value."""
    y = np.asarray(y, dtype=np.float64)
    n = y.size
    x = np.arange(n, dtype=np.float64)

    out = {
        "trend_type": NO_TREND,
        "slope": 0.0,
        "direction": 1,
        "significance": -1,
        "degree": 0,
        "p_value": 1.0,
    }
    if n < 4:
        return out
    # degenerate zero-variance series: OLS residuals are ~0, so the
    # coefficient t-statistics are 0/0 noise — by definition no trend
    if np.ptp(y) <= 1e-12 * max(1.0, abs(float(y[0]))):
        return out

    # net-change line (always computed; slope/direction contract)
    lin_coef, _, _, lin_p, _ = ols_poly(y, 1, x)
    slope, slope_p = float(lin_coef[1]), float(lin_p[1])
    out["slope"] = slope
    out["direction"] = 1 if slope >= 0 else -1

    def in_window(roots: np.ndarray) -> bool:
        real = roots[np.isreal(roots)].real
        return bool(real.size) and bool(
            np.all((real >= x[0]) & (real <= x[-1]))
        )

    # 1. cubic
    if n >= 5:
        coef3, _, _, p3, _ = ols_poly(y, 3, x)
        if p3[3] < alpha:
            # derivative 3c3 x^2 + 2c2 x + c1; need both critical points real & in-window
            deriv = np.array([3 * coef3[3], 2 * coef3[2], coef3[1]])
            roots = np.roots(deriv) if abs(deriv[0]) > 0 else np.array([])
            if roots.size == 2 and np.all(np.isreal(roots)) and in_window(roots):
                if slope_p < alpha:
                    out.update(trend_type=CUBIC, significance=1, degree=3, p_value=float(p3[3]))
                else:
                    out.update(trend_type=CONCEALED, significance=-1, degree=3, p_value=float(p3[3]))
                return out

    # 2. quadratic
    coef2, _, _, p2, _ = ols_poly(y, 2, x)
    if p2[2] < alpha:
        vertex = -coef2[1] / (2 * coef2[2]) if coef2[2] != 0 else np.inf
        if x[0] <= vertex <= x[-1]:
            if slope_p < alpha:
                out.update(trend_type=QUADRATIC, significance=1, degree=2, p_value=float(p2[2]))
            else:
                out.update(trend_type=CONCEALED, significance=-1, degree=2, p_value=float(p2[2]))
            return out

    # 3. linear
    if slope_p < alpha:
        out.update(trend_type=LINEAR, significance=1, degree=1, p_value=slope_p)
    else:
        out.update(trend_type=NO_TREND, significance=-1, degree=1, p_value=slope_p)
    return out


def _result_schema(
    series_cols: list[str],
    key_types: dict[str, T.DataType],
    include_series: bool = False,
) -> T.StructType:
    fields = [T.StructField(c, key_types[c], True) for c in series_cols]
    fields += [
        T.StructField("status", T.StringType(), True),
        T.StructField("trend_type", T.IntegerType(), True),
        T.StructField("slope", T.DoubleType(), True),
        T.StructField("direction", T.IntegerType(), True),
        T.StructField("significance", T.IntegerType(), True),
        T.StructField("degree", T.IntegerType(), True),
        T.StructField("p_value", T.DoubleType(), True),
        T.StructField("n_points", T.IntegerType(), True),
    ]
    if include_series:
        # the reference's point path carries the analyzed series as a
        # cell value ("ts" header field, polytrend.py:333,346-366)
        fields.append(T.StructField("ts", T.ArrayType(T.DoubleType()), True))
    return T.StructType(fields)


def polytrend_groups(
    obs: DataFrame,
    series_cols: list[str],
    time_col: str = "time",
    value_col: str = "value",
    alpha: float = 0.05,
    threshold: float | None = None,
    include_series: bool = False,
) -> DataFrame:
    """Per-series PolyTrend over a (composited) observation frame.

    Ordering is made explicit by sorting on ``time_col`` inside each
    group (the reference relies on implicit row order,
    ``polytrend.py:282`` — SURVEY.md §4.4.2). ``threshold`` applies
    the reference's quality gate in-UDF; unqualified series yield one
    typed row (``status='below_threshold'``, analytics null) instead
    of silently vanishing — the reference's polygon path skips them
    (``polytrend.py:284``) and its point path kills the process
    (``exit()``, ``polytrend.py:339-341``, SURVEY §4.4.8); callers
    wanting reference polygon semantics filter ``status == 'ok'``.
    """
    key_types = {f.name: f.dataType for f in obs.schema.fields}
    schema = _result_schema(series_cols, key_types, include_series)

    def fit(cols: dict) -> list[dict]:
        y = np.asarray(cols[value_col], dtype=np.float64)
        y = y[~np.isnan(y)]
        if y.size == 0 or (threshold is not None and not np.all(y > threshold)):
            return [{"status": "below_threshold" if y.size else "too_short"}]
        row = {"status": "ok", **polytrend_classify(y, alpha), "n_points": int(y.size)}
        if include_series:
            row["ts"] = y.tolist()
        return [row]

    from trendengine_spark.operators.util import fit_series

    return fit_series(obs, series_cols, [time_col], [value_col], fit, schema)
