"""BFAST-monitor-style MOSUM disturbance detection (pure numpy).

A "lite" re-derivation of the near-real-time monitoring idea of
Verbesselt et al. 2012 (BFAST Monitor — the other ubiquitous tool of
the reference's NDVI domain next to DBEST): fit a harmonic + trend
model on a STABLE HISTORY period, then watch the monitoring period's
moving sums of scaled residuals (MOSUM); a sum that escapes the
boundary flags a structural break at that date, with the post-break
mean residual as the magnitude.

Deliberately simplified relative to the R package (public method, no
code consulted): first-order harmonic season, a constant boundary
``lam`` instead of the asymptotic log-boundary, and magnitude =
median monitoring-period residual from the break on. Golden tests pin
the contract: stable and purely-seasonal series do not alarm, a
planted level shift alarms within one MOSUM window of the true date
with ~the planted magnitude.

Execution envelope is the PolyTrend/DBEST one: per-series numpy run
by :func:`~trendengine_spark.operators.util.fit_series`, series short
by construction (composited).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T


def _harmonic_design(n: int, freq: float, order: int = 1) -> np.ndarray:
    """Design matrix [1, t, cos(2πkt/f), sin(2πkt/f) for k ≤ order]."""
    t = np.arange(n, dtype=np.float64)
    cols = [np.ones(n), t]
    for k in range(1, order + 1):
        w = 2.0 * math.pi * k * t / freq
        cols.append(np.cos(w))
        cols.append(np.sin(w))
    return np.stack(cols, axis=1)


def bfast_monitor(
    y: np.ndarray,
    freq: float = 12.0,
    history_n: int | None = None,
    h_frac: float = 0.25,
    lam: float = 4.0,
    order: int = 1,
) -> dict:
    """Monitor ``y[history_n:]`` against the model fitted on
    ``y[:history_n]`` (default: first 60% of the series). Returns
    {break_detected, break_idx (index into the FULL series, -1 if
    none), magnitude, mosum_max, sigma, n_history, n_monitor}.

    MOSUM_t = Σ_{s=t-h+1..t} e_s / (σ̂·√n_history), h = ⌈h_frac·n⌉;
    alarm at the first |MOSUM| > lam. σ̂ from history residuals with
    the harmonic+trend dof removed; a degenerate (constant) history
    uses σ̂ = 0 → any nonzero monitoring residual alarms, which is
    the right reading of a perfectly stable history."""
    y = np.asarray(y, dtype=np.float64)
    n = len(y)
    if history_n is None:
        history_n = max(int(n * 0.6), 4)
    if history_n < 4 or n - history_n < 1:
        return {
            "break_detected": False, "break_idx": -1, "magnitude": 0.0,
            "mosum_max": 0.0, "sigma": 0.0,
            "n_history": int(history_n), "n_monitor": int(max(n - history_n, 0)),
        }
    X = _harmonic_design(n, freq, order)
    beta, *_ = np.linalg.lstsq(X[:history_n], y[:history_n], rcond=None)
    resid = y - X @ beta
    dof = max(history_n - X.shape[1], 1)
    sigma = float(np.sqrt((resid[:history_n] ** 2).sum() / dof))
    h = max(int(math.ceil(h_frac * history_n)), 1)
    denom = (sigma if sigma > 0 else 1e-12) * math.sqrt(history_n)
    mon = resid[history_n:]
    # rolling sums over the monitoring stream; the first h-1 sums use
    # the shorter available window (bfastmonitor pads with history
    # residuals — the lite variant starts the window at the monitor
    # boundary, which only DELAYS detection by < h points)
    csum = np.cumsum(mon)
    mosum = np.empty(len(mon))
    for i in range(len(mon)):
        lo = i - h + 1
        mosum[i] = csum[i] - (csum[lo - 1] if lo > 0 else 0.0)
    mosum /= denom
    mosum_max = float(np.abs(mosum).max()) if len(mon) else 0.0
    hits = np.flatnonzero(np.abs(mosum) > lam)
    if len(hits) == 0:
        return {
            "break_detected": False, "break_idx": -1, "magnitude": 0.0,
            "mosum_max": mosum_max, "sigma": sigma,
            "n_history": int(history_n), "n_monitor": int(len(mon)),
        }
    first = int(hits[0])
    return {
        "break_detected": True,
        "break_idx": int(history_n + first),
        "magnitude": float(np.median(mon[first:])),
        "mosum_max": mosum_max,
        "sigma": sigma,
        "n_history": int(history_n),
        "n_monitor": int(len(mon)),
    }


BFM_SCHEMA = T.StructType(
    [
        T.StructField("break_detected", T.BooleanType(), True),
        T.StructField("break_idx", T.IntegerType(), True),
        T.StructField("magnitude", T.DoubleType(), True),
        T.StructField("mosum_max", T.DoubleType(), True),
        T.StructField("n_history", T.IntegerType(), True),
        T.StructField("n_monitor", T.IntegerType(), True),
    ]
)


def bfast_monitor_groups(
    df: DataFrame,
    keys: list[str],
    time_col: str = "time",
    value_col: str = "value",
    freq: float = 12.0,
    h_frac: float = 0.25,
    lam: float = 4.0,
) -> DataFrame:
    """Per-series monitoring via
    :func:`~trendengine_spark.operators.util.fit_series` (explicit time
    sort within each series)."""
    key_fields = [df.schema[k] for k in keys]
    schema = T.StructType(list(key_fields) + list(BFM_SCHEMA.fields))

    def fit(cols: dict) -> list[dict]:
        r = bfast_monitor(
            np.asarray(cols[value_col], dtype=np.float64),
            freq=freq, h_frac=h_frac, lam=lam,
        )
        return [{f.name: r[f.name] for f in BFM_SCHEMA.fields}]

    from trendengine_spark.operators.util import fit_series

    return fit_series(df, keys, [time_col], [value_col], fit, schema)
