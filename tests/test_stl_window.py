"""The windowed, batched STL smoother against the dense formula.

``stattools._loess`` evaluates each output point over a window of at
most 2q grid points and smooths all cycle-subseries of one length in
one call. The reference below is the former dense smoother — the full
(E, n) weight matrix, one call per phase — with the same R ``stl``
slope guard, kept here only as a test oracle. The two may differ only
in summation order (dropped exact-zero terms), so every component
must agree within 1e-12 and DBEST's discrete outputs must be equal
(up to tied splits, see the last test).
"""

from __future__ import annotations

import numpy as np
import pytest

from trendengine_spark.functions import dbest, stattools
from trendengine_spark.functions.stattools import (
    _loess,
    _loess_frame,
    _next_odd,
    stl_decompose,
)

TOL = 1e-12


def _dense_loess(x, y, q, rho=None, xeval=None):
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    n = x.size
    xeval = x if xeval is None else np.asarray(xeval, dtype=np.float64)
    r = np.ones(n) if rho is None else np.asarray(rho, dtype=np.float64)
    q_eff = min(q, n)
    d = np.abs(x[None, :] - xeval[:, None])
    lam = np.partition(d, q_eff - 1, axis=1)[:, q_eff - 1]
    if q > n:
        lam = lam + (q - n) / 2.0
    lam = np.where(lam <= 0.0, 1.0, lam)
    w = np.clip(1.0 - (d / lam[:, None]) ** 3, 0.0, None) ** 3 * r[None, :]
    sw = w.sum(axis=1)
    safe_sw = np.where(sw <= 0.0, 1.0, sw)
    xm = (w * x[None, :]).sum(axis=1) / safe_sw
    ym = (w * y[None, :]).sum(axis=1) / safe_sw
    dx = x[None, :] - xm[:, None]
    denom = (w * dx**2).sum(axis=1)
    num = (w * dx * (y[None, :] - ym[:, None])).sum(axis=1)
    line = np.sqrt(denom / safe_sw) > 0.001 * (x[-1] - x[0])
    slope = np.where(line, num / np.where(line, denom, 1.0), 0.0)
    out = ym + slope * (xeval - xm)
    return np.where(sw <= 0.0, y.mean(), out)


def _dense_stl(y, period, seasonal_smoother=7, inner_iter=2, outer_iter=1):
    y = np.asarray(y, dtype=np.float64)
    n = y.size
    if period < 2 or n < 2 * period:
        return y.copy(), np.zeros(n), np.zeros(n)
    n_s = _next_odd(max(seasonal_smoother, 7))
    n_l = _next_odd(period)
    n_t = _next_odd(1.5 * period / (1.0 - 1.5 / n_s))
    t_idx = np.arange(n, dtype=np.float64)
    trend = np.zeros(n)
    seasonal = np.zeros(n)
    rho = np.ones(n)
    for outer in range(max(outer_iter, 0) + 1):
        for _ in range(inner_iter):
            detrended = y - trend
            c = np.empty(n + 2 * period)
            for p in range(period):
                sub = detrended[p::period]
                m = sub.size
                c[p::period] = _dense_loess(
                    np.arange(1.0, m + 1.0), sub, n_s,
                    rho=rho[p::period], xeval=np.arange(0.0, m + 2.0),
                )
            lp = stattools._ma(stattools._ma(stattools._ma(c, period), period), 3)
            low = _dense_loess(t_idx, lp, n_l)
            seasonal = c[period : period + n] - low
            trend = _dense_loess(t_idx, y - seasonal, n_t, rho=rho)
        if outer < max(outer_iter, 0):
            resid = y - seasonal - trend
            h = 6.0 * np.median(np.abs(resid))
            if h <= 0:
                rho = np.ones(n)
            else:
                u = np.clip(np.abs(resid) / h, 0.0, 1.0)
                rho = (1.0 - u**2) ** 2
    return trend, seasonal, y - trend - seasonal


def _series(rng, n, period):
    """Seasonal series over a trend, with noise, an occasional level
    shift and spikes (bisquare weights of exactly 0), and about a
    third of them quantized to steps of 0.2."""
    t = np.arange(n)
    y = (
        0.45
        + rng.uniform(-0.003, 0.003) * t
        + rng.uniform(0.0, 0.1) * np.sin(2 * np.pi * t / period + rng.uniform(0, 6))
        + rng.normal(0.0, rng.choice([0.0, 0.005, 0.03]), n)
    )
    if rng.random() < 0.5:
        y[rng.integers(n // 4, 3 * n // 4) :] += rng.choice([-0.2, 0.15])
    for i in rng.integers(0, n, rng.integers(0, 4)):
        y[i] += rng.choice([-2.0, 3.0])
    if rng.random() < 0.35:
        y = np.round(y / 0.2) * 0.2
    return y


def test_loess_single_weight_is_flat_through_that_point():
    """One non-zero weight leaves one effective point: the fit must be
    flat through it everywhere, extrapolated points included. Without
    the slope guard about one case in seven here returned a line whose
    slope is rounding noise (errors up to 9.0)."""
    rng = np.random.default_rng(0)
    for _ in range(400):
        n = int(rng.integers(5, 40))
        x = np.arange(1.0, n + 1.0)
        j = int(rng.integers(0, n))
        y = rng.normal(0.3, 1.0, n)
        rho = np.zeros(n)
        rho[j] = rng.uniform(0.0, 1.0)
        out = _loess(_loess_frame(x, n + 5, np.arange(0.0, n + 2.0)), y, rho=rho)
        assert np.max(np.abs(out - y[j])) <= TOL, (n, j)


def test_loess_window_matches_dense_formula():
    """Random frames: regular grids at any offset, q from 1 to past n,
    evaluation points extrapolated past both ends, robustness weights
    with zeros, quantized values, batched rows."""
    rng = np.random.default_rng(11)
    for _ in range(300):
        n = int(rng.integers(2, 70))
        q = int(rng.choice([1, 3, 7, 13, 23, n + int(rng.integers(1, 30))]))
        x = np.arange(n, dtype=np.float64) + float(rng.integers(-3, 4))
        lo, hi = int(rng.integers(0, 4)), int(rng.integers(0, 4))
        xeval = np.arange(x[0] - lo, x[-1] + hi + 1.0)
        k = int(rng.integers(1, 6))
        y = rng.normal(0.0, 1.0, (k, n))
        if rng.random() < 0.4:
            y = np.round(y / 0.2) * 0.2
        rho = None
        if rng.random() < 0.7:
            rho = rng.uniform(0.0, 1.0, (k, n)) * (rng.random((k, n)) > 0.4)
        got = _loess(_loess_frame(x, q, xeval), y, rho=rho)
        assert got.shape == (k, xeval.size)
        for i in range(k):
            want = _dense_loess(x, y[i], q, None if rho is None else rho[i], xeval)
            assert np.max(np.abs(got[i] - want)) <= TOL, (n, q, i)


@pytest.mark.parametrize("period", [4, 5, 7, 12, 24])
def test_stl_matches_dense_reference(period):
    rng = np.random.default_rng(period)
    lengths = [2 * period, 2 * period + 1, 2 * period + period // 2]
    lengths += [int(v) for v in rng.integers(2 * period, 320, 12)]
    worst = 0.0
    for n in lengths:
        y = _series(rng, n, period)
        outer = int(rng.choice([0, 1, 1, 2]))
        got = stl_decompose(y, period, outer_iter=outer)
        want = _dense_stl(y, period, outer_iter=outer)
        for g, w in zip(got, want):
            worst = max(worst, float(np.max(np.abs(g - w))))
    assert any(n % period for n in lengths)
    assert worst <= TOL, worst


def _has_tied_split(trend, threshold):
    """True when some split of DBEST's top-down segmentation has two
    interior points within TOL of the largest chord deviation: argmax
    then picks by last-ulp noise, in either kernel."""
    stack = [(0, trend.size - 1)]
    while stack:
        i0, i1 = stack.pop()
        if i1 - i0 < 2:
            continue
        d = dbest._chord_deviations(trend, i0, i1)[1:-1]
        k = int(np.argmax(d))
        if d[k] > threshold:
            if np.sum(d >= d[k] - TOL) > 1:
                return True
            stack += [(i0, i0 + k + 1), (i0 + k + 1, i1)]
    return False


def test_dbest_outputs_match_dense_reference(monkeypatch):
    """Equal discrete DBEST outputs, except where the reference's own
    segmentation has a tied split (a plateau of a few quantized levels,
    e.g. series 14 here: three distinct values, two points tied to
    1e-15 for the fourth breakpoint). There a last-ulp difference in
    the trend moves the breakpoint in either direction; the trends
    still agree within TOL (test_stl_matches_dense_reference)."""
    rng = np.random.default_rng(2015)
    ys = [_series(rng, int(rng.choice([120, 240, 252, 263])), 12) for _ in range(80)]
    keys = ("breakpoint_no", "segment_no", "start", "end", "duration", "change_type")
    got = [dbest.dbest_change_detection(y, 12) for y in ys]
    monkeypatch.setattr(dbest, "stl_decompose", _dense_stl)
    want = [dbest.dbest_change_detection(y, 12) for y in ys]
    tied = 0
    for y, g, w in zip(ys, got, want):
        trend, _, remainder = _dense_stl(y, 12)
        if _has_tied_split(trend, dbest.default_distance_threshold(trend, remainder)):
            tied += 1
            continue
        assert {k: g[k] for k in keys} == {k: w[k] for k in keys}
    assert tied <= 2
