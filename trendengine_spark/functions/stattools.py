"""Pure-numpy statistical primitives.

scipy/statsmodels are not available in the runtime, so the few
classical routines the fitting algorithms need are implemented here
from their textbook definitions (regularized incomplete beta via
Lentz's continued-fraction method; OLS inference from the normal
equations; classical moving-average seasonal decomposition).
"""

from __future__ import annotations

import numpy as np


def _betacf(a: float, b: float, x: float, max_iter: int = 200, eps: float = 3e-12) -> float:
    """Continued fraction for the incomplete beta function (Lentz)."""
    tiny = 1e-300
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c = 1.0
    d = 1.0 - qab * x / qap
    if abs(d) < tiny:
        d = tiny
    d = 1.0 / d
    h = d
    for m in range(1, max_iter + 1):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        if abs(d) < tiny:
            d = tiny
        c = 1.0 + aa / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        h *= d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        if abs(d) < tiny:
            d = tiny
        c = 1.0 + aa / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < eps:
            break
    return h


def betainc_reg(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    ln_beta = (
        _gammaln(a + b) - _gammaln(a) - _gammaln(b) + a * np.log(x) + b * np.log1p(-x)
    )
    front = np.exp(ln_beta)
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def _gammaln(z: float) -> float:
    """Log-gamma (Lanczos approximation, g=7)."""
    coeffs = (
        0.99999999999980993,
        676.5203681218851,
        -1259.1392167224028,
        771.32342877765313,
        -176.61502916214059,
        12.507343278686905,
        -0.13857109526572012,
        9.9843695780195716e-6,
        1.5056327351493116e-7,
    )
    if z < 0.5:
        # reflection
        return np.log(np.pi / np.sin(np.pi * z)) - _gammaln(1.0 - z)
    z -= 1.0
    x = coeffs[0]
    for i, c in enumerate(coeffs[1:], start=1):
        x += c / (z + i)
    t = z + 7.5
    return 0.5 * np.log(2.0 * np.pi) + (z + 0.5) * np.log(t) - t + np.log(x)


def t_pvalue_two_sided(t_stat: float, dof: float) -> float:
    """Two-sided p-value of a Student-t statistic:
    P(|T| >= |t|) = I_{dof/(dof+t^2)}(dof/2, 1/2)."""
    if not np.isfinite(t_stat):
        return 0.0 if abs(t_stat) == np.inf else 1.0
    if dof <= 0:
        return 1.0
    x = dof / (dof + t_stat * t_stat)
    return float(betainc_reg(dof / 2.0, 0.5, x))


#: Two-sided Student-t critical values t_crit(α=0.05, df) for
#: df = 1..120 — TCRIT_975[df-1] is the 97.5th percentile of t(df),
#: so "p < 0.05" ⟺ "|t| > TCRIT_975[df-1]" (strictly: the boundary
#: |t| = t_crit has measure zero and both tests are strict). Values
#: were generated by BISECTING :func:`t_pvalue_two_sided` — the
#: engine's own betainc-based p-value — to the last double ulp
#: (200 halvings of [0, 700]), so the lookup is exactly consistent
#: with the numpy classification path; spot-checks against published
#: tables (df=1: 12.7062, df=10: 2.2281, df=28: 2.0484, df=120:
#: 1.9799) agree to every printed digit. This table is what makes
#: the PolyTrend cascade's only non-relational step (the t-test at
#: fixed α) expressible as engine-portable SQL: both Spark and the
#: DuckDB oracle carry the same literal array and compare t² against
#: its square (`u1_polytrend_relational`). Beyond df=120 callers use
#: the asymptotic normal value 1.959963984540054 (documented
#: approximation; max table-vs-asymptote gap at df=121 is ~0.02).
TCRIT_975 = (
    12.706204736174707, 4.302652729749467, 3.1824463052837046,
    2.776445105197787, 2.5705818356363093, 2.446911851144863,
    2.364624251592752, 2.306004135203953, 2.2621571627981503,
    2.2281388519860674, 2.20098516009159, 2.178812829667086,
    2.160368656462429, 2.1447866879177178, 2.131449545559593,
    2.1199052992208878, 2.1098155778332286, 2.1009220402408766,
    2.093024054408029, 2.085963447265402, 2.0796138447275614,
    2.073873067903841, 2.068657610418765, 2.063898561627606,
    2.0595385527526964, 2.0555294386427114, 2.051830516480057,
    2.0484071417949323, 2.0452296421322798, 2.042272456300676,
    2.0395134463956768, 2.036933343459893, 2.034515297449065,
    2.032244509317373, 2.030107928249907, 2.0280940009799036,
    2.0261924630284427, 2.0243941639111513, 2.022690920036515,
    2.021075390305964, 2.019540970441007, 2.0180817028180122,
    2.0166921992273013, 2.0153675744431565, 2.014103388880126,
    2.012895598918605, 2.0117405137288107, 2.0106347576239214,
    2.0095752371288653, 2.008559112100347, 2.0075837703153536,
    2.0066468050611452, 2.005745995317254, 2.004879288187359,
    2.0040447832883603, 2.0032407188470027, 2.002465459290036,
    2.0017174841448937, 2.000995378087881, 2.0002978220138345,
    1.999623584994477, 1.998971517032858, 1.9983405425201652,
    1.9977296543170642, 1.99713790839132, 1.9965644189515503,
    1.9960083540244802, 1.9954689314289493, 1.994945415106281,
    1.9944371117701265, 1.9939433678452407, 1.993463566661453,
    1.9929971258893877, 1.9925434951804353, 1.9921021540017043,
    1.9916726096440773, 1.9912543953877684, 1.9908470688110382,
    1.9904502102294115, 1.9900634212536987, 1.989686323456092,
    1.9893185571357033, 1.988959780174253, 1.9886096669747342,
    1.988267907476193, 1.9879342062379326, 1.9876082815879035,
    1.987289864830706, 1.9869786995057934, 1.9866745407032524,
    1.9863771544180613, 1.9860863169505611, 1.9858018143452143,
    1.9855234418659593, 1.985251003504832, 1.9849843115217476,
    1.9847231860132295, 1.9844674545077032, 1.9842169515856003,
    1.9839715185226936, 1.9837310029547082, 1.9834952585619299,
    1.9832641447724804, 1.9830375264827111, 1.9828152737939626,
    1.9825972617643786, 1.9823833701745381, 1.9821734833065108,
    1.9819674897352002, 1.9817652821318685, 1.981566757074347,
    1.9813718148757178, 1.9811803594140536, 1.9809922979752423,
    1.9808075411032604, 1.9806260024584181, 1.9804475986827008,
    1.9802722492722475, 1.9800998764562066, 1.9799304050816515,
)


def ols_poly(y: np.ndarray, degree: int, x: np.ndarray | None = None):
    """OLS polynomial fit with coefficient inference.

    Returns (coeffs ascending order, std_errs, t_stats, p_values,
    fitted). p_values[k] is the two-sided t-test p for coefficient of
    x**k with dof = n - (degree+1).
    """
    y = np.asarray(y, dtype=np.float64)
    n = y.size
    if x is None:
        x = np.arange(n, dtype=np.float64)
    p = degree + 1
    X = np.vander(x, p, increasing=True)
    if n and y.min() == y.max():
        # exactly-constant series: the OLS minimizer is exactly
        # [y0, 0, ..., 0] with zero residuals. LAPACK's lstsq returns
        # an epsilon slope here (BLAS-build/thread dependent — it
        # flipped the DBEST sig-at-zero branch between rounds); the
        # closed form is bit-exact in every environment and leaves
        # all non-degenerate series on the unchanged lstsq path.
        coef = np.zeros(p)
        coef[0] = y[0]
    else:
        coef, *_ = np.linalg.lstsq(X, y, rcond=None)
    fitted = X @ coef
    resid = y - fitted
    dof = n - p
    if dof <= 0:
        se = np.full(p, np.nan)
        tstat = np.full(p, np.nan)
        pval = np.ones(p)
        return coef, se, tstat, pval, fitted
    s2 = float(resid @ resid) / dof
    xtx_inv = np.linalg.pinv(X.T @ X)
    se = np.sqrt(np.maximum(np.diag(xtx_inv) * s2, 0.0))
    with np.errstate(divide="ignore", invalid="ignore"):
        tstat = np.where(se > 0, coef / se, np.inf * np.sign(coef))
    pval = np.array([t_pvalue_two_sided(t, dof) for t in tstat])
    return coef, se, tstat, pval, fitted


def linear_slope_test(y: np.ndarray, x: np.ndarray | None = None):
    """Degree-1 OLS: returns (slope, intercept, p_value_of_slope)."""
    coef, _, _, pval, _ = ols_poly(y, 1, x)
    return float(coef[1]), float(coef[0]), float(pval[1])


def classical_decompose(y: np.ndarray, period: int):
    """Classical additive seasonal decomposition (moving averages).

    trend: centered moving average of window ``period`` (2x(period)
    MA for even periods); seasonal: per-phase mean of the detrended
    series, normalized to zero mean, tiled; remainder: the rest.
    Ends of the trend are extended by linear extrapolation from the
    valid center so downstream segmentation sees a full-length trend.
    """
    y = np.asarray(y, dtype=np.float64)
    n = y.size
    if period < 2 or n < 2 * period:
        # degenerate: no seasonal structure resolvable
        return y.copy(), np.zeros(n), np.zeros(n)
    if period % 2 == 0:
        kernel = np.ones(period + 1)
        kernel[0] = kernel[-1] = 0.5
        kernel /= period
    else:
        kernel = np.ones(period) / period
    half = kernel.size // 2
    trend_core = np.convolve(y, kernel, mode="valid")  # length n - 2*half
    trend = np.full(n, np.nan)
    trend[half : n - half] = trend_core
    # extend ends linearly from the first/last `period` valid points
    idx = np.arange(n, dtype=np.float64)
    head = slice(half, half + period)
    tail = slice(n - half - period, n - half)
    hs, hi, _ = _quick_line(idx[head], trend[head])
    ts_, ti, _ = _quick_line(idx[tail], trend[tail])
    trend[:half] = hi + hs * idx[:half]
    trend[n - half :] = ti + ts_ * idx[n - half :]
    detrended = y - trend
    seasonal_means = np.array(
        [np.nanmean(detrended[p::period]) for p in range(period)]
    )
    seasonal_means -= seasonal_means.mean()
    seasonal = np.tile(seasonal_means, n // period + 1)[:n]
    remainder = y - trend - seasonal
    return trend, seasonal, remainder


def _loess_frame(x: np.ndarray, q: int, xeval: np.ndarray | None = None):
    """Neighbourhoods of a degree-1 LOESS with span ``q`` over the
    ascending grid ``x``, evaluated at ``xeval`` (default ``x``).

    The ``q`` nearest neighbours of any point (inside the grid or
    extrapolated past either end) are a contiguous run of ``x`` within
    ``q`` places of the point's insertion index, so a window of
    ``min(2q, n)`` grid points holds all of them. The window therefore
    yields the same bandwidth ``lam`` (the q-th smallest distance,
    inflated by ``(q - n)/2`` when ``q > n`` as in the reference STL)
    and the same non-zero tricube weights as the full (E, n) distance
    matrix: every point outside it lies at least ``lam`` away. STL's
    grids are unit-spaced integers, so the ``lam <= 0`` guard (q = 1
    on a grid point) cannot admit an outside point either.

    Returns (idx, xw, tri, xeval, tol): window indices and x values,
    base tricube weights, all (E, W), the evaluation points, and the
    slope guard ``0.001 × (x range)`` that :func:`_loess` applies. The
    frame depends only on (x, q, xeval), so STL builds each one once
    and reuses it on every pass.
    """
    x = np.asarray(x, dtype=np.float64)
    xeval = x if xeval is None else np.asarray(xeval, dtype=np.float64)
    n = x.size
    width = min(2 * q, n)
    start = np.clip(np.searchsorted(x, xeval) - q, 0, n - width)
    idx = start[:, None] + np.arange(width)
    xw = x[idx]
    d = np.abs(xw - xeval[:, None])
    q_eff = min(q, n)
    lam = np.partition(d, q_eff - 1, axis=1)[:, q_eff - 1]
    if q > n:
        lam = lam + (q - n) / 2.0
    lam = np.where(lam <= 0.0, 1.0, lam)
    tri = np.clip(1.0 - (d / lam[:, None]) ** 3, 0.0, None) ** 3
    return idx, xw, tri, xeval, 0.001 * (x[-1] - x[0])


def _loess(frame, y: np.ndarray, rho: np.ndarray | None = None) -> np.ndarray:
    """Degree-1 LOESS smoother (Cleveland 1979, as used inside STL).

    At each evaluation point of ``frame`` (:func:`_loess_frame`):
    weight the window's points by their tricube (times the robustness
    weights ``rho`` if given) and evaluate the weighted least-squares
    line there. ``y`` (and ``rho``) may carry leading batch axes,
    ``(..., n)`` → ``(..., E)``: STL smooths all cycle-subseries of
    one length in a single call.

    As R's ``stl`` (``stlest``), the line is fitted only when the
    weighted spread of x, ``sqrt(Σw(x−x̄)²/Σw)``, exceeds 0.001 of the
    x range; otherwise the fit is the flat weighted mean. Without the
    guard a window whose robustness weights leave about one effective
    point returns a slope made of rounding noise. A point with no
    weight at all gets the series mean.
    """
    idx, xw, tri, xeval, tol = frame
    y = np.asarray(y, dtype=np.float64)
    yw = y[..., idx]
    w = tri if rho is None else tri * np.asarray(rho, dtype=np.float64)[..., idx]
    sw = w.sum(axis=-1)
    safe_sw = np.where(sw <= 0.0, 1.0, sw)
    xm = (w * xw).sum(axis=-1) / safe_sw
    ym = (w * yw).sum(axis=-1) / safe_sw
    dx = xw - xm[..., None]
    denom = (w * dx**2).sum(axis=-1)
    num = (w * dx * (yw - ym[..., None])).sum(axis=-1)
    line = np.sqrt(denom / safe_sw) > tol
    slope = np.where(line, num / np.where(line, denom, 1.0), 0.0)
    out = ym + slope * (xeval - xm)
    return np.where(sw <= 0.0, y.mean(axis=-1, keepdims=True), out)


def _ma(a: np.ndarray, m: int) -> np.ndarray:
    """Simple moving average of window m ('valid': len(a) - m + 1)."""
    return np.convolve(a, np.ones(m) / m, mode="valid")


def _next_odd(v: float) -> int:
    k = int(np.ceil(v))
    return k if k % 2 == 1 else k + 1


def stl_decompose(
    y: np.ndarray,
    period: int,
    seasonal_smoother: int = 7,
    inner_iter: int = 2,
    outer_iter: int = 1,
):
    """STL: Seasonal-Trend decomposition using LOESS (Cleveland,
    Cleveland, McRae & Terpenning 1990), additive, pure numpy.

    The reference pipes its series through R's ``stl`` inside DBEST
    (reference ``TrendEngine/calculations/dbest.py:83-92``; components
    consumed at ``dbest.py:326-329``); scipy/statsmodels are absent
    here so the published algorithm is implemented directly:

    inner loop — (1) detrend, (2) LOESS-smooth each cycle-subseries
    (span ``n_s``), extended one period each side, (3) low-pass the
    extended seasonal (MA period ×2, MA 3, LOESS span ``n_l``),
    (4) seasonal = subseries-smooth − low-pass, (5) trend =
    LOESS(deseasonalized, span ``n_t``). outer loop — bisquare
    robustness weights from the remainder, fixed ``outer_iter``
    passes (R's default is 0 extra for ``robust=FALSE``; 1 pass gives
    bounded protection at deterministic cost).

    Cost is O(n·q) per smoothing: each LOESS evaluates only a window
    of at most 2q grid points around each output point
    (:func:`_loess_frame`), never the full n × n distance matrix.
    The cycle-subseries are smoothed in at most two batched calls,
    one per subseries length (phases ``< n % period`` have one point
    more than the rest). The four frames (two subseries lengths,
    low-pass, trend) are built once and reused on every pass. Each
    local line carries R's slope guard (see :func:`_loess`).

    Returns (trend, seasonal, remainder), each length ``len(y)``.
    """
    y = np.asarray(y, dtype=np.float64)
    n = y.size
    if period < 2 or n < 2 * period:
        return y.copy(), np.zeros(n), np.zeros(n)
    n_s = _next_odd(max(seasonal_smoother, 7))
    n_l = _next_odd(period)
    n_t = _next_odd(1.5 * period / (1.0 - 1.5 / n_s))
    t_idx = np.arange(n, dtype=np.float64)
    low_frame = _loess_frame(t_idx, n_l)
    trend_frame = _loess_frame(t_idx, n_t)
    # phase p's subseries is row p of the (period, m + 1) transpose of
    # the series padded to whole cycles; its m_p + 2 smoothed values
    # (cycle positions 0 .. m_p + 1) are column p of the extended
    # series c reshaped to (m + 3, period) — the extended axis is
    # shifted one period right, so phase-p slots are c[p::period]
    m, n_long = divmod(n, period)
    groups = []
    for phases, length in ((slice(0, n_long), m + 1), (slice(n_long, period), m)):
        if phases.start < phases.stop:
            pos = np.arange(1.0, length + 1.0)
            frame = _loess_frame(pos, n_s, np.arange(0.0, length + 2.0))
            groups.append((phases, length, frame))
    cycles = np.empty((m + 1) * period)
    c_cycles = np.empty((m + 3, period))
    trend = np.zeros(n)
    seasonal = np.zeros(n)
    rho = np.ones(n)
    for outer in range(max(outer_iter, 0) + 1):
        cycles[:n] = rho
        rho_sub = cycles.reshape(m + 1, period).T.copy()
        for _ in range(inner_iter):
            cycles[:n] = y - trend
            sub = cycles.reshape(m + 1, period).T
            for phases, length, frame in groups:
                sm = _loess(frame, sub[phases, :length], rho=rho_sub[phases, :length])
                c_cycles[: length + 2, phases] = sm.T
            c = c_cycles.ravel()[: n + 2 * period]
            # low-pass: MA(period) x2 then MA(3) -> length n, then LOESS
            lp = _ma(_ma(_ma(c, period), period), 3)
            low = _loess(low_frame, lp)
            seasonal = c[period : period + n] - low
            trend = _loess(trend_frame, y - seasonal, rho=rho)
        if outer < max(outer_iter, 0):
            resid = y - seasonal - trend
            h = 6.0 * np.median(np.abs(resid))
            if h <= 0:
                rho = np.ones(n)
            else:
                u = np.clip(np.abs(resid) / h, 0.0, 1.0)
                rho = (1.0 - u**2) ** 2
    remainder = y - trend - seasonal
    return trend, seasonal, remainder


def _quick_line(x: np.ndarray, y: np.ndarray):
    """slope, intercept, mean for a short segment (no inference)."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    xm, ym = x.mean(), y.mean()
    denom = ((x - xm) ** 2).sum()
    slope = 0.0 if denom == 0 else float(((x - xm) * (y - ym)).sum() / denom)
    return slope, float(ym - slope * xm), float(ym)
