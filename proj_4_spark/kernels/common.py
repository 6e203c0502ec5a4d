"""Vectorized scalar-function library (SURVEY.md §2.6).

Each function is a NumPy transliteration of the reference routine cited in
its docstring, preserving operation order, iteration counts and tolerances
so results agree with the C implementation to the last ulp wherever libm
allows (SURVEY.md §4.2: the reference deliberately disables FMA contraction;
NumPy ufuncs are likewise FMA-free).

Error sentinel: the reference uses HUGE_VAL (src/fwd.cpp:42-43); we use NaN.
All functions accept and propagate NaN.
"""

from __future__ import annotations

import numpy as np

M_PI = np.pi
M_TWOPI = 2 * np.pi
M_HALFPI = np.pi / 2
M_FORTPI = np.pi / 4
DEG_TO_RAD = np.pi / 180.0
RAD_TO_DEG = 180.0 / np.pi
ARCSEC_TO_RAD = DEG_TO_RAD / 3600.0  # src/transformations/helmert.cpp:475


def adjlon(lon: np.ndarray) -> np.ndarray:
    """Reduce longitude to [-pi, pi] (with 1e-12 overshoot tolerance).

    src/adjlon.cpp:7-24.
    """
    lon = np.asarray(lon, dtype=np.float64)
    need = np.abs(lon) >= M_PI + 1e-12
    if not need.any():
        return lon
    shifted = lon + M_PI
    shifted = shifted - M_TWOPI * np.floor(shifted / M_TWOPI)
    shifted = shifted - M_PI
    return np.where(need, shifted, lon)


def tsfn(phi: np.ndarray, sinphi: np.ndarray, e: float) -> np.ndarray:
    """exp(-isometric latitude); src/tsfn.cpp:6-17."""
    esin = sinphi * e
    denominator = 1.0 + esin
    with np.errstate(divide="ignore", invalid="ignore"):
        out = np.tan(0.5 * (M_HALFPI - phi)) / np.power(
            (1.0 - esin) / denominator, 0.5 * e
        )
    return np.where(denominator == 0.0, np.nan, out)


def phi2(ts0: np.ndarray, e: float) -> np.ndarray:
    """Inverse isometric latitude via Snyder iteration.

    src/phi2.cpp:12-83: convergence on |2*(ts - old_ts)| <= 1e-10,
    max 15 iterations; masked vectorization freezes converged lanes so the
    per-lane update sequence is identical to the scalar C loop.
    Non-convergent lanes -> NaN (reference sets PJD_ERR_NON_CON_INV_PHI2).
    """
    TOL = 1.0e-10
    N_ITER = 15
    ts0 = np.asarray(ts0, dtype=np.float64)
    eccnth = 0.5 * e
    ts = ts0.copy()
    active = np.isfinite(ts)
    count = np.full(ts.shape, N_ITER, dtype=np.int64)
    while active.any():
        tsa = ts[active]
        sin_phi = (1 - tsa * tsa) / (1 + tsa * tsa)
        con = e * sin_phi
        with np.errstate(invalid="ignore"):
            new_ts = ts0[active] * np.power((1.0 - con) / (1.0 + con), eccnth)
        dphi = 2 * (new_ts - tsa)
        ts[active] = new_ts
        count_a = count[active] - 1
        count[active] = count_a
        still = (np.abs(dphi) > TOL) & (count_a > 0) & np.isfinite(new_ts)
        nxt = active.copy()
        nxt[active] = still
        active = nxt
    out = M_HALFPI - 2.0 * np.arctan(ts)
    # Documented deviation (ADVICE r7): a lane whose |dphi| first drops
    # within TOL exactly ON the 15th update is NaN-masked here
    # (count <= 0), whereas the reference's `if (--i == 0 && ...)` order
    # (src/phi2.cpp:55-66) accepts convergence on the final pass.  The
    # SQL staged twin (_sql_phi2_stages) replicates THIS kernel, so
    # twin/UDF parity is exact; the edge is unreachable for real inputs
    # (the Snyder iteration converges in <= 6 passes for e < 0.9).
    return np.where(count <= 0, np.nan, out)


def qsfn(sinphi: np.ndarray, e: float, one_es: float) -> np.ndarray:
    """Authalic-latitude q; src/qsfn.cpp:9-25."""
    EPSILON = 1.0e-7
    if e >= EPSILON:
        con = e * sinphi
        div1 = 1.0 - con * con
        div2 = 1.0 + con
        with np.errstate(divide="ignore", invalid="ignore"):
            out = one_es * (
                sinphi / div1 - (0.5 / e) * np.log((1.0 - con) / div2)
            )
        return np.where((div1 == 0.0) | (div2 == 0.0), np.nan, out)
    return sinphi + sinphi


def msfn(sinphi: np.ndarray, cosphi: np.ndarray, es: float) -> np.ndarray:
    """Parallel-radius factor m; src/msfn.cpp:6-8."""
    return cosphi / np.sqrt(1.0 - es * sinphi * sinphi)


# --- meridional arc series, src/mlfn.cpp -----------------------------------
_C00 = 1.0
_C02 = 0.25
_C04 = 0.046875
_C06 = 0.01953125
_C08 = 0.01068115234375
_C22 = 0.75
_C44 = 0.46875
_C46 = 0.01302083333333333333
_C48 = 0.00712076822916666666
_C66 = 0.36458333333333333333
_C68 = 0.00569661458333333333
_C88 = 0.3076171875


def enfn(es: float) -> tuple[float, float, float, float, float]:
    """Meridional-arc series coefficients; src/mlfn.cpp:30-44."""
    en0 = _C00 - es * (_C02 + es * (_C04 + es * (_C06 + es * _C08)))
    en1 = es * (_C22 - es * (_C04 + es * (_C06 + es * _C08)))
    t = es * es
    en2 = t * (_C44 - es * (_C46 + es * _C48))
    t *= es
    en3 = t * (_C66 - es * _C68)
    en4 = t * es * _C88
    return (en0, en1, en2, en3, en4)


def mlfn(phi, sphi, cphi, en) -> np.ndarray:
    """Meridional distance; src/mlfn.hpp inline_pj_mlfn."""
    cphi = cphi * sphi
    sphi = sphi * sphi
    return en[0] * phi - cphi * (
        en[1] + sphi * (en[2] + sphi * (en[3] + sphi * en[4]))
    )


def inv_mlfn(arg, es, en) -> np.ndarray:
    """Inverse meridional distance, Newton iteration.

    src/mlfn.hpp inline_pj_inv_mlfn: EPS 1e-11, MAX_ITER 10; masked lanes
    freeze on convergence. Non-convergent lanes keep last value (the
    reference logs an error but returns the estimate).
    """
    EPS = 1e-11
    MAX_ITER = 10
    arg = np.asarray(arg, dtype=np.float64)
    k = 1.0 / (1.0 - es)
    phi = arg.copy()
    active = np.isfinite(phi)
    for _ in range(MAX_ITER):
        if not active.any():
            break
        p = phi[active]
        s = np.sin(p)
        c = np.cos(p)
        t = 1.0 - es * s * s
        dphi = (mlfn(p, s, c, en) - arg[active]) * (t * np.sqrt(t)) * k
        phi[active] = p - dphi
        still = np.abs(dphi) >= EPS
        nxt = active.copy()
        nxt[active] = still
        active = nxt
    return phi


def aasin(v: np.ndarray) -> np.ndarray:
    """Clamped arcsine; src/aasincos.cpp:11-21 (clamp at |v|>=1)."""
    return np.arcsin(np.clip(v, -1.0, 1.0))


def aacos(v: np.ndarray) -> np.ndarray:
    """Clamped arccosine; src/aasincos.cpp:23-33."""
    return np.arccos(np.clip(v, -1.0, 1.0))


def asqrt(v: np.ndarray) -> np.ndarray:
    """sqrt clamped at 0; src/aasincos.cpp:34-35."""
    return np.sqrt(np.maximum(v, 0.0))


def aatan2(n: np.ndarray, d: np.ndarray) -> np.ndarray:
    """atan2 returning 0 near (0,0); src/aasincos.cpp:36-39."""
    ATOL = 1e-50
    both_tiny = (np.abs(n) < ATOL) & (np.abs(d) < ATOL)
    return np.where(both_tiny, 0.0, np.arctan2(n, d))


_P00 = 0.33333333333333333333
_P01 = 0.17222222222222222222
_P02 = 0.10257936507936507937
_P10 = 0.06388888888888888888
_P11 = 0.06640211640211640212
_P20 = 0.01677689594356261023


def authset(es: float) -> tuple[float, float, float]:
    """Authalic-latitude series coefficients; src/auth.cpp:18-32."""
    apa0 = es * _P00
    t = es * es
    apa0 += t * _P01
    apa1 = t * _P10
    t *= es
    apa0 += t * _P02
    apa1 += t * _P11
    apa2 = t * _P20
    return (apa0, apa1, apa2)


def authlat(beta, apa) -> np.ndarray:
    """Latitude from authalic latitude; src/auth.cpp:33-38."""
    t = beta + beta
    return beta + apa[0] * np.sin(t) + apa[1] * np.sin(t + t) + apa[2] * np.sin(t + t + t)


def logtanpfpim1(x: np.ndarray) -> np.ndarray:
    """log(tan(x/2 + pi/4)) with log1p near 0; src/projections/merc.cpp:14-20."""
    x = np.asarray(x, dtype=np.float64)
    small = np.abs(x) <= np.finfo(np.float64).eps
    with np.errstate(invalid="ignore", divide="ignore"):
        big = np.log(np.tan(M_FORTPI + 0.5 * x))
    return np.where(small, np.log1p(x), big)


def hypot(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    return np.hypot(x, y)


def generic_inverse_2d(fwd, P, x, y, lam_init, phi_init):
    """Vectorized port of pj_generic_inverse_2d (src/generic_inverse.cpp:44):
    2D Newton-Raphson with numerically-estimated Jacobian, 15 iterations,
    +-0.3 rad step clamp, lam/phi clamped to valid ranges.

    fwd(lam, phi) -> (X, Y) evaluates the projection kernel (no
    prepare/finalize).
    """
    lam = np.array(lam_init, dtype=np.float64, copy=True)
    phi = np.array(phi_init, dtype=np.float64, copy=True)
    dl_X = np.zeros_like(lam)
    dl_Y = np.zeros_like(lam)
    dp_X = np.zeros_like(lam)
    dp_Y = np.zeros_like(lam)
    for _ in range(15):
        Xa, Ya = fwd(lam, phi)
        dX = Xa - x
        dY = Ya - y
        done = (np.abs(dX) < 1e-10) & (np.abs(dY) < 1e-10)
        if done.all():
            break
        recompute = (np.abs(dX) > 1e-6) | (np.abs(dY) > 1e-6)
        if recompute.any():
            dLam = np.where(lam > 0, -1e-6, 1e-6)
            X2, Y2 = fwd(lam + dLam, phi)
            dXl = (X2 - Xa) / dLam
            dYl = (Y2 - Ya) / dLam
            dPhi = np.where(phi > 0, -1e-6, 1e-6)
            X2, Y2 = fwd(lam, phi + dPhi)
            dXp = (X2 - Xa) / dPhi
            dYp = (Y2 - Ya) / dPhi
            det = dXl * dYp - dXp * dYl
            with np.errstate(divide="ignore", invalid="ignore"):
                nz = (det != 0) & recompute
                dl_X = np.where(nz, dYp / det, dl_X)
                dl_Y = np.where(nz, -dXp / det, dl_Y)
                dp_X = np.where(nz, -dYl / det, dp_X)
                dp_Y = np.where(nz, dXl / det, dp_Y)
        upd = ~done
        delta_lam = np.clip(dX * dl_X + dY * dl_Y, -0.3, 0.3)
        lam = np.where(upd & (x != 0), np.clip(lam - delta_lam, -M_PI, M_PI), lam)
        delta_phi = np.clip(dX * dp_X + dY * dp_Y, -0.3, 0.3)
        phi = np.where(upd & (y != 0), np.clip(phi - delta_phi, -M_HALFPI, M_HALFPI), phi)
    return lam, phi
