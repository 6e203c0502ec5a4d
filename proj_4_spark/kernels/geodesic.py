"""Karney geodesics (inverse problem), vectorized.

Reference: src/geodesic.c (Karney's C library bundled with the
reference) — geod_init 430-459, SinCosSeries 1173-1194, Lengths
1195-1255, Astroid 1256-1306, InverseStart 1308-1473, Lambda12
1475-1575, series coefficients 1577-1770, geod_geninverse_int
(Newton loop with bracketing + bisection fallback) 780-1050.

Transliteration preserves the C operation order; per-point control flow
(meridian / equatorial / short-line / Newton) becomes masked lanes, and
the Newton iteration runs all lanes with frozen state for converged
points, which yields identical per-lane sequences to the scalar loops.

Accuracy: matches the reference's 20-case geodtest.cpp table to <1e-8 m
in distance and <1e-12 deg in azimuths, including nearly antipodal
cases.  This is the package's only geodesic solver: aeqd, kNN, the gie
metric and polygon area all call it.
"""

from __future__ import annotations

import math

import numpy as np

_DIGITS = 53
_EPS = np.finfo(np.float64).eps
_TINY = math.sqrt(np.finfo(np.float64).tiny)
_TOL0 = _EPS
_TOL1 = 200 * _TOL0
_TOL2 = math.sqrt(_TOL0)
_TOLB = _TOL0 * _TOL2
_XTHRESH = 1000 * _TOL2
_MAXIT1 = 20
_MAXIT2 = _MAXIT1 + _DIGITS + 10
_DEGREE = math.pi / 180

nA3 = nC3 = nC1 = nC2 = nC4 = 6


def _sumx(u, v):
    """Error-free two-sum (geodesic.c:210-221)."""
    s = u + v
    up = s - v
    vpp = s - up
    up = up - u
    vpp = vpp - v
    return s, -(up + vpp)


def _ang_normalize(x):
    """remainder(x, 360), -180 -> 180 (geodesic.c:245-248).

    Must be IEEE remainder (round-half-even quotient), NOT np.remainder:
    np.remainder(-1e-14, 360) rounds up to 360 and collapses tiny
    negative longitudes to +0, which flips transit() parity in the
    polygon-area crossing count (the Planimeter6 lon12 rounding case)."""
    x = np.asarray(x, dtype=np.float64)
    y = x - 360.0 * np.round(x / 360.0)
    # guard the rare half-ulp spill outside [-180, 180] at huge |x|
    y = np.where(y > 180.0, y - 360.0, np.where(y < -180.0, y + 360.0, y))
    return np.where(y == -180.0, 180.0, y)


def _ang_diff(x, y):
    """y - x in (-180,180] with error term (geodesic.c:253-262)."""
    d, t = _sumx(_ang_normalize(-x), _ang_normalize(y))
    d = _ang_normalize(d)
    d2, e = _sumx(np.where((d == 180.0) & (t > 0), -180.0, d), t)
    return d2, e


def _ang_round(x):
    """Round tiny values to a multiple of 2^-57 deg (geodesic.c:264-272)."""
    z = 1.0 / 16.0
    y = np.abs(x)
    y = np.where(y < z, z - (z - y), y)
    return np.where(x == 0, 0.0, np.where(x < 0, -y, y))


def _sincosd(x):
    """Exact-quadrant sin/cos of degrees (geodesic.c:274-301)."""
    q = np.round(x / 90.0)  # ties-to-even, like remquo
    r = x - q * 90.0
    r = r * _DEGREE
    s, c = np.sin(r), np.cos(r)
    with np.errstate(invalid="ignore"):
        # masked NaN lanes cast to an arbitrary quadrant; their sin/cos
        # stay NaN either way (choose of NaN inputs)
        qm = np.asarray(q, dtype=np.int64) & 3
    sinx = np.choose(qm, [s, c, -s, -c])
    cosx = np.choose(qm, [c, -s, -c, s])
    sinx = sinx + 0.0
    cosx = cosx + 0.0
    return sinx, cosx


def _atan2d(y, x):
    """Quadrant-careful atan2 in degrees (geodesic.c:303-324)."""
    swap = np.abs(y) > np.abs(x)
    x2 = np.where(swap, y, x)
    y2 = np.where(swap, x, y)
    q = np.where(swap, 2, 0)
    neg = x2 < 0
    x2 = np.where(neg, -x2, x2)
    q = q + neg.astype(np.int64)
    ang = np.arctan2(y2, x2) / _DEGREE
    ang = np.where(q == 1, np.where(y2 >= 0, 180.0, -180.0) - ang, ang)
    ang = np.where(q == 2, 90.0 - ang, ang)
    ang = np.where(q == 3, -90.0 + ang, ang)
    return ang


def _norm2(s, c):
    r = np.hypot(s, c)
    with np.errstate(invalid="ignore", divide="ignore"):
        # masked lanes carry NaN/0 — the quotient stays NaN and is
        # overwritten by the caller's lane mask
        return s / r, c / r


def _polyval(coefs, x):
    """Horner with python-scalar or array x; coefs highest-first."""
    y = np.zeros_like(x) + coefs[0] if not np.isscalar(x) else coefs[0]
    for p in coefs[1:]:
        y = y * x + p
    return y


def _sin_cos_series(sinp: bool, sinx, cosx, c):
    """Clenshaw (geodesic.c:1173-1194).  `c` is a list of arrays with
    C indexing: sin series uses c[1..n], cos series c[0..n-1]."""
    n = len(c) - 1 if sinp else len(c)
    k = n + (1 if sinp else 0)
    ar = 2 * (cosx - sinx) * (cosx + sinx)
    if n & 1:
        k -= 1
        y0 = np.broadcast_to(np.asarray(c[k], dtype=np.float64),
                             np.shape(sinx)).copy()
    else:
        y0 = np.zeros_like(sinx)
    y1 = np.zeros_like(sinx)
    m = n // 2
    while m:
        m -= 1
        k -= 1
        y1 = ar * y0 - y1 + c[k]
        k -= 1
        y0 = ar * y1 - y0 + c[k]
    return (2 * sinx * cosx * y0) if sinp else (cosx * (y0 - y1))


def _A1m1f(eps):
    t = _polyval([1.0, 4.0, 64.0, 0.0], eps * eps) / 256.0
    return (t + eps) / (1 - eps)


def _C1f(eps):
    coeff = [(-1, 6, -16, 32), (-9, 64, -128, 2048), (9, -16, 768),
             (3, -5, 512), (-7, 1280), (-7, 2048)]
    eps2 = eps * eps
    d = eps.copy() if isinstance(eps, np.ndarray) else eps
    c = [None] * (nC1 + 1)
    for ell in range(1, nC1 + 1):
        row = coeff[ell - 1]
        c[ell] = d * _polyval(list(row[:-1]), eps2) / row[-1]
        d = d * eps
    return c


def _A2m1f(eps):
    t = _polyval([-11.0, -28.0, -192.0, 0.0], eps * eps) / 256.0
    return (t - eps) / (1 + eps)


def _C2f(eps):
    coeff = [(1, 2, 16, 32), (35, 64, 384, 2048), (15, 80, 768),
             (7, 35, 512), (63, 1280), (77, 2048)]
    eps2 = eps * eps
    d = eps.copy() if isinstance(eps, np.ndarray) else eps
    c = [None] * (nC2 + 1)
    for ell in range(1, nC2 + 1):
        row = coeff[ell - 1]
        c[ell] = d * _polyval(list(row[:-1]), eps2) / row[-1]
        d = d * eps
    return c


class Geodesic:
    """geod_geodesic (geod_init, geodesic.c:430-459)."""

    def __init__(self, a: float = 6378137.0, f: float = 1 / 298.257223563):
        self.a = a
        self.f = f
        self.f1 = 1 - f
        self.e2 = f * (2 - f)
        self.ep2 = self.e2 / self.f1**2
        self.n = f / (2 - f)
        self.b = a * self.f1
        self.etol2 = 0.1 * _TOL2 / math.sqrt(
            max(0.001, abs(f)) * min(1.0, 1 - f / 2) / 2
        )
        # A3coeff (geodesic.c:1715-1737)
        coeff = [((-3,), 128), ((-2, -3), 64), ((-1, -3, -1), 16),
                 ((3, -1, -2), 8), ((1, -1), 2), ((1,), 1)]
        self.A3x = [0.0] * nA3
        k = 0
        for j in range(nA3 - 1, -1, -1):
            nums, den = coeff[nA3 - 1 - j]
            self.A3x[k] = _polyval([float(v) for v in nums], self.n) / den
            k += 1
        # C3coeff (geodesic.c:1739-1770)
        c3 = [
            ((3,), 128), ((2, 5), 128), ((-1, 3, 3), 64), ((-1, 0, 1), 8),
            ((-1, 1), 4),
            ((5,), 256), ((1, 3), 128), ((-3, -2, 3), 64), ((1, -3, 2), 32),
            ((7,), 512), ((-10, 9), 384), ((5, -9, 5), 192),
            ((7,), 512), ((-14, 7), 512),
            ((21,), 2560),
        ]
        self.C3x = [
            _polyval([float(v) for v in nums], self.n) / den
            for nums, den in c3
        ]
        # c2: authalic radius squared (geod_init, geodesic.c:397-400)
        e2 = self.e2
        if e2 == 0:
            ratio = 1.0
        elif e2 > 0:
            ratio = math.atanh(math.sqrt(e2)) / math.sqrt(e2)
        else:
            ratio = math.atan(math.sqrt(-e2)) / math.sqrt(-e2)
        self.c2 = (a * a + self.b * self.b * ratio) / 2
        # C4coeff (geodesic.c:1783-1838), traversal order l asc, eps^j desc
        c4 = [
            ((97,), 15015), ((1088, 156), 45045),
            ((-224, -4784, 1573), 45045),
            ((-10656, 14144, -4576, -858), 45045),
            ((64, 624, -4576, 6864, -3003), 15015),
            ((100, 208, 572, 3432, -12012, 30030), 45045),
            ((1,), 9009), ((-2944, 468), 135135),
            ((5792, 1040, -1287), 135135),
            ((5952, -11648, 9152, -2574), 135135),
            ((-64, -624, 4576, -6864, 3003), 135135),
            ((8,), 10725), ((1856, -936), 225225),
            ((-8448, 4992, -1144), 225225),
            ((-1440, 4160, -4576, 1716), 225225),
            ((-136,), 63063), ((1024, -208), 105105),
            ((3584, -3328, 1144), 315315),
            ((-128,), 135135), ((-2560, 832), 405405),
            ((128,), 99099),
        ]
        self.C4x = [
            _polyval([float(v) for v in nums], self.n) / den
            for nums, den in c4
        ]

    # -- series evaluated at per-point eps -----------------------------
    def _A3f(self, eps):
        return _polyval(self.A3x, eps)

    def _C3f(self, eps):
        c = [None] * nC3  # c[1..5] used
        mult = np.ones_like(eps)
        o = 0
        for ell in range(1, nC3):
            m = nC3 - ell - 1
            mult = mult * eps
            c[ell] = mult * _polyval(self.C3x[o:o + m + 1], eps)
            o += m + 1
        c[0] = np.zeros_like(eps)
        return c

    def _C4f(self, eps):
        """C4f (geodesic.c for the area series; cos indexing c[0..5])."""
        c = [None] * nC4
        mult = np.ones_like(eps)
        o = 0
        for ell in range(nC4):
            m = nC4 - ell - 1
            c[ell] = mult * _polyval(self.C4x[o:o + m + 1], eps)
            o += m + 1
            mult = mult * eps
        return c

    def _lengths(self, eps, sig12, ssig1, csig1, dn1, ssig2, csig2, dn2,
                 want_s12: bool):
        """Lengths (geodesic.c:1195-1255) for the two call shapes used
        by the inverse problem: (s12b, m12b) or (m12b, m0)."""
        A1 = _A1m1f(eps)
        Ca = _C1f(eps)
        A2 = _A2m1f(eps)
        Cb = _C2f(eps)
        m0 = A1 - A2
        A2p = 1 + A2
        A1p = 1 + A1
        if want_s12:
            B1 = (_sin_cos_series(True, ssig2, csig2, Ca)
                  - _sin_cos_series(True, ssig1, csig1, Ca))
            s12b = A1p * (sig12 + B1)
            B2 = (_sin_cos_series(True, ssig2, csig2, Cb)
                  - _sin_cos_series(True, ssig1, csig1, Cb))
            J12 = m0 * sig12 + (A1p * B1 - A2p * B2)
        else:
            s12b = None
            Cc = [None] + [A1p * Ca[l] - A2p * Cb[l] for l in range(1, nC2 + 1)]
            J12 = m0 * sig12 + (_sin_cos_series(True, ssig2, csig2, Cc)
                                - _sin_cos_series(True, ssig1, csig1, Cc))
        m12b = (dn2 * (csig1 * ssig2) - dn1 * (ssig1 * csig2)
                - csig1 * csig2 * J12)
        return s12b, m12b, m0

    def inverse(self, lat1, lon1, lat2, lon2, want_area: bool = False):
        """geod_geninverse (geodesic.c:780-1065): degrees in,
        returns (s12 meters, azi1 deg, azi2 deg, a12 deg); with
        want_area also S12 (the geodesic quadrilateral area term,
        geodesic.c:1044-1104) as a fifth element."""
        g = self
        lat1 = np.atleast_1d(np.asarray(lat1, dtype=np.float64))
        lon1 = np.atleast_1d(np.asarray(lon1, dtype=np.float64))
        lat2 = np.atleast_1d(np.asarray(lat2, dtype=np.float64))
        lon2 = np.atleast_1d(np.asarray(lon2, dtype=np.float64))
        n = len(lat1)
        # GeographicLib gives NaN for any non-finite input; the branches
        # below would turn a NaN longitude (or one latitude) into a
        # finite distance or azimuth
        bad = ~(np.isfinite(lat1) & np.isfinite(lon1)
                & np.isfinite(lat2) & np.isfinite(lon2))

        lon12, lon12s = _ang_diff(lon1, lon2)
        lonsign = np.where(lon12 >= 0, 1.0, -1.0)
        lon12 = lonsign * _ang_round(lon12)
        lon12s = _ang_round((180.0 - lon12) - lonsign * lon12s)
        lam12 = lon12 * _DEGREE
        sl_hi, cl_hi = _sincosd(lon12s)
        sl_lo, cl_lo = _sincosd(lon12)
        hi = lon12 > 90
        slam12 = np.where(hi, sl_hi, sl_lo)
        clam12 = np.where(hi, -cl_hi, cl_lo)

        lat1 = _ang_round(np.where(np.abs(lat1) > 90, np.nan, lat1))
        lat2 = _ang_round(np.where(np.abs(lat2) > 90, np.nan, lat2))
        swapp = np.where(np.abs(lat1) < np.abs(lat2), -1.0, 1.0)
        lonsign = np.where(swapp < 0, -lonsign, lonsign)
        la1 = np.where(swapp < 0, lat2, lat1)
        la2 = np.where(swapp < 0, lat1, lat2)
        latsign = np.where(la1 < 0, 1.0, -1.0)
        la1 = la1 * latsign
        la2 = la2 * latsign

        sbet1, cbet1 = _sincosd(la1)
        sbet1 = sbet1 * g.f1
        sbet1, cbet1 = _norm2(sbet1, cbet1)
        cbet1 = np.maximum(_TINY, cbet1)
        sbet2, cbet2 = _sincosd(la2)
        sbet2 = sbet2 * g.f1
        sbet2, cbet2 = _norm2(sbet2, cbet2)
        cbet2 = np.maximum(_TINY, cbet2)

        # force bet2 = +/- bet1 when they nearly coincide (geodesic.c:860-870)
        m1 = (cbet1 < -sbet1) & (cbet2 == cbet1)
        sbet2 = np.where(m1, np.where(sbet2 < 0, sbet1, -sbet1), sbet2)
        m2 = ~(cbet1 < -sbet1) & (np.abs(sbet2) == -sbet1)
        cbet2 = np.where(m2, cbet1, cbet2)

        dn1 = np.sqrt(1 + g.ep2 * sbet1**2)
        dn2 = np.sqrt(1 + g.ep2 * sbet2**2)

        s12x = np.zeros(n)
        m12x = np.zeros(n)
        sig12 = np.full(n, -1.0)
        a12 = np.zeros(n)
        salp1 = np.zeros(n)
        calp1 = np.zeros(n)
        salp2 = np.zeros(n)
        calp2 = np.zeros(n)
        # area bookkeeping: somg12 > 1 marks "compute from omg12 later"
        omg12 = np.zeros(n)
        somg12 = np.full(n, 2.0)
        comg12 = np.zeros(n)

        # ---- meridian branch (geodesic.c:875-920) ----------------------
        meridian = (la1 == -90) | (slam12 == 0)
        m_calp1, m_salp1 = clam12, slam12
        m_calp2 = np.ones(n)
        m_salp2 = np.zeros(n)
        m_ssig1, m_csig1 = sbet1, m_calp1 * cbet1
        m_ssig2, m_csig2 = sbet2, m_calp2 * cbet2
        m_sig12 = np.arctan2(
            np.maximum(0.0, m_csig1 * m_ssig2 - m_ssig1 * m_csig2) + 0.0,
            m_csig1 * m_csig2 + m_ssig1 * m_ssig2,
        )
        m_s12b, m_m12b, _ = self._lengths(
            np.full(n, g.n), m_sig12, m_ssig1, m_csig1, dn1,
            m_ssig2, m_csig2, dn2, want_s12=True,
        )
        m_ok = (m_sig12 < 1) | (m_m12b >= 0)
        m_zero = m_sig12 < 3 * _TINY
        meridian_done = meridian & m_ok
        use = meridian_done
        sig12 = np.where(use, np.where(m_zero, 0.0, m_sig12), sig12)
        s12x = np.where(use, np.where(m_zero, 0.0, m_s12b) * g.b, s12x)
        m12x = np.where(use, np.where(m_zero, 0.0, m_m12b) * g.b, m12x)
        a12 = np.where(use, sig12 / _DEGREE, a12)
        salp1 = np.where(use, m_salp1, salp1)
        calp1 = np.where(use, m_calp1, calp1)
        salp2 = np.where(use, m_salp2, salp2)
        calp2 = np.where(use, m_calp2, calp2)

        # ---- equatorial branch (geodesic.c:922-937) ---------------------
        equatorial = (~meridian_done) & (sbet1 == 0) & (
            (g.f <= 0) | (lon12s >= g.f * 180)
        )
        eq_sig12 = lam12 / g.f1
        use = equatorial
        salp1 = np.where(use, 1.0, salp1)
        calp1 = np.where(use, 0.0, calp1)
        salp2 = np.where(use, 1.0, salp2)
        calp2 = np.where(use, 0.0, calp2)
        s12x = np.where(use, g.a * lam12, s12x)
        sig12 = np.where(use, eq_sig12, sig12)
        omg12 = np.where(use, eq_sig12, omg12)  # omg12 = lam12/f1
        m12x = np.where(use, g.b * np.sin(eq_sig12), m12x)
        a12 = np.where(use, lon12 / g.f1, a12)

        # ---- general branch ---------------------------------------------
        general = ~(meridian_done | equatorial)
        if general.any():
            (gs_sig12, gs_salp1, gs_calp1, gs_salp2, gs_calp2,
             dnm) = self._inverse_start(
                sbet1, cbet1, dn1, sbet2, cbet2, dn2, lam12, slam12, clam12)
            shortcut = general & (gs_sig12 >= 0)
            use = shortcut
            sig12 = np.where(use, gs_sig12, sig12)
            s12x = np.where(use, gs_sig12 * g.b * dnm, s12x)
            m12x = np.where(use, dnm**2 * g.b * np.sin(gs_sig12 / dnm), m12x)
            with np.errstate(invalid="ignore", divide="ignore"):
                omg12 = np.where(use, lam12 / (g.f1 * dnm), omg12)
            a12 = np.where(use, gs_sig12 / _DEGREE, a12)
            salp1 = np.where(use, gs_salp1, salp1)
            calp1 = np.where(use, gs_calp1, calp1)
            salp2 = np.where(use, gs_salp2, salp2)
            calp2 = np.where(use, gs_calp2, calp2)

            newton = general & (gs_sig12 < 0)
            if newton.any():
                (nt_sig12, nt_salp1, nt_calp1, nt_salp2, nt_calp2,
                 nt_s12x, nt_m12x, nt_domg12) = self._newton(
                    sbet1, cbet1, dn1, sbet2, cbet2, dn2,
                    slam12, clam12, gs_salp1, gs_calp1, newton)
                use = newton
                sig12 = np.where(use, nt_sig12, sig12)
                s12x = np.where(use, nt_s12x, s12x)
                m12x = np.where(use, nt_m12x, m12x)
                a12 = np.where(use, nt_sig12 / _DEGREE, a12)
                salp1 = np.where(use, nt_salp1, salp1)
                calp1 = np.where(use, nt_calp1, calp1)
                salp2 = np.where(use, nt_salp2, salp2)
                calp2 = np.where(use, nt_calp2, calp2)
                # omg12 = lam12 - domg12 (geodesic.c:1029-1034)
                sd, cd = np.sin(nt_domg12), np.cos(nt_domg12)
                somg12 = np.where(use, slam12 * cd - clam12 * sd, somg12)
                comg12 = np.where(use, clam12 * cd + slam12 * sd, comg12)

        s12 = 0.0 + s12x

        S12 = None
        if want_area:
            # area block (geodesic.c:1044-1104), in the INTERNAL
            # (swapped/signed) frame before the azimuth restoration
            salp0 = salp1 * cbet1
            calp0 = np.hypot(calp1, salp1 * sbet1)
            nz = (calp0 != 0) & (salp0 != 0)
            # lanes with calp0 == salp0 == 0 are masked out below (the C
            # code guards them before computing); silence their 0/0
            with np.errstate(invalid="ignore", divide="ignore"):
                a_ssig1, a_csig1 = _norm2(sbet1, calp1 * cbet1)
                a_ssig2, a_csig2 = _norm2(sbet2, calp2 * cbet2)
            k2 = calp0**2 * g.ep2
            a_eps = k2 / (2 * (1 + np.sqrt(1 + k2)) + k2)
            A4 = g.a**2 * calp0 * salp0 * g.e2
            C4a = self._C4f(a_eps)
            B41 = _sin_cos_series(False, a_ssig1, a_csig1, C4a)
            B42 = _sin_cos_series(False, a_ssig2, a_csig2, C4a)
            S12 = np.where(nz, A4 * (B42 - B41), 0.0)

            nonmer = ~meridian_done
            recompute = nonmer & (somg12 > 1)
            somg12 = np.where(recompute, np.sin(omg12), somg12)
            comg12 = np.where(recompute, np.cos(omg12), comg12)
            gamma = nonmer & (comg12 > -0.7071) & (sbet2 - sbet1 < 1.75)
            domg = 1 + comg12
            dbet1 = 1 + cbet1
            dbet2 = 1 + cbet2
            alp12_g = 2 * np.arctan2(
                somg12 * (sbet1 * dbet2 + sbet2 * dbet1),
                domg * (sbet1 * sbet2 + dbet1 * dbet2),
            )
            salp12 = salp2 * calp1 - calp2 * salp1
            calp12 = calp2 * calp1 + salp2 * salp1
            fix = (salp12 == 0) & (calp12 < 0)
            salp12 = np.where(fix, _TINY * calp1, salp12)
            calp12 = np.where(fix, -1.0, calp12)
            alp12 = np.where(gamma, alp12_g, np.arctan2(salp12, calp12))
            S12 = S12 + g.c2 * alp12
            S12 = S12 * (swapp * lonsign * latsign)
            S12 = S12 + 0.0

        # swap back (geodesic.c:1036-1049)
        sw = swapp < 0
        salp1, salp2 = np.where(sw, salp2, salp1), np.where(sw, salp1, salp2)
        calp1, calp2 = np.where(sw, calp2, calp1), np.where(sw, calp1, calp2)
        salp1 = salp1 * swapp * lonsign
        calp1 = calp1 * swapp * latsign
        salp2 = salp2 * swapp * lonsign
        calp2 = calp2 * swapp * latsign

        azi1 = _atan2d(salp1, calp1)
        azi2 = _atan2d(salp2, calp2)
        out = (s12, azi1, azi2, a12) + ((S12,) if want_area else ())
        return tuple(np.where(bad, np.nan, v) for v in out)

    def _inverse_start(self, sbet1, cbet1, dn1, sbet2, cbet2, dn2,
                       lam12, slam12, clam12):
        """InverseStart (geodesic.c:1308-1473), vectorized."""
        g = self
        n = len(sbet1)
        sig12 = np.full(n, -1.0)
        sbet12 = sbet2 * cbet1 - cbet2 * sbet1
        cbet12 = cbet2 * cbet1 + sbet2 * sbet1
        sbet12a = sbet2 * cbet1 + cbet2 * sbet1
        shortline = (cbet12 >= 0) & (sbet12 < 0.5) & (cbet2 * lam12 < 0.5)

        sbetm2 = (sbet1 + sbet2) ** 2
        sbetm2 = sbetm2 / (sbetm2 + (cbet1 + cbet2) ** 2)
        dnm = np.sqrt(1 + g.ep2 * sbetm2)
        omg12 = lam12 / (g.f1 * dnm)
        somg12 = np.where(shortline, np.sin(omg12), slam12)
        comg12 = np.where(shortline, np.cos(omg12), clam12)

        salp1 = cbet2 * somg12
        with np.errstate(invalid="ignore", divide="ignore"):
            calp1 = np.where(
                comg12 >= 0,
                sbet12 + cbet2 * sbet1 * somg12**2 / (1 + comg12),
                sbet12a - cbet2 * sbet1 * somg12**2 / (1 - comg12),
            )
        ssig12 = np.hypot(salp1, calp1)
        csig12 = sbet1 * sbet2 + cbet1 * cbet2 * comg12

        really_short = shortline & (ssig12 < g.etol2)
        salp2 = cbet1 * somg12
        with np.errstate(invalid="ignore", divide="ignore"):
            calp2 = sbet12 - cbet1 * sbet2 * np.where(
                comg12 >= 0, somg12**2 / (1 + comg12), 1 - comg12
            )
        salp2, calp2 = _norm2(salp2, calp2)
        sig12 = np.where(really_short, np.arctan2(ssig12, csig12), sig12)

        skip_astroid = (
            really_short
            | (abs(g.n) > 0.1)
            | (csig12 >= 0)
            | (ssig12 >= 6 * abs(g.n) * math.pi * cbet1**2)
        )
        if not skip_astroid.all():
            lam12x = np.arctan2(-slam12, -clam12)
            if g.f >= 0:
                k2 = sbet1**2 * g.ep2
                eps = k2 / (2 * (1 + np.sqrt(1 + k2)) + k2)
                lamscale = g.f * cbet1 * self._A3f(eps) * math.pi
                betscale = lamscale * cbet1
                x = lam12x / lamscale
                y = sbet12a / betscale
            else:
                cbet12a = cbet2 * cbet1 - sbet2 * sbet1
                bet12a = np.arctan2(sbet12a, cbet12a)
                _, m12b, m0 = self._lengths(
                    np.full(n, g.n), math.pi + bet12a,
                    sbet1, -cbet1, dn1, sbet2, cbet2, dn2, want_s12=False,
                )
                x = -1 + m12b / (cbet1 * cbet2 * m0 * math.pi)
                # sbet12a/x evaluates both lanes; x may be 0/NaN in the
                # unselected (x >= -0.01) branch
                with np.errstate(invalid="ignore", divide="ignore"):
                    betscale = np.where(
                        x < -0.01, sbet12a / x, -g.f * cbet1**2 * math.pi
                    )
                    lamscale = betscale / cbet1
                    y = lam12x / lamscale

            near_cut = (y > -_TOL1) & (x > -1 - _XTHRESH)
            if g.f >= 0:
                nc_salp1 = np.minimum(1.0, -x)
                nc_calp1 = -np.sqrt(np.maximum(0.0, 1 - nc_salp1**2))
            else:
                nc_calp1 = np.maximum(np.where(x > -_TOL1, 0.0, -1.0), x)
                nc_salp1 = np.sqrt(np.maximum(0.0, 1 - nc_calp1**2))

            k = _astroid(x, y)
            # both lanes evaluate; k may be 0 in the unselected branch
            with np.errstate(invalid="ignore", divide="ignore"):
                omg12a = lamscale * np.where(
                    g.f >= 0, -x * k / (1 + k), -y * (1 + k) / k
                )
            as_somg12 = np.sin(omg12a)
            as_comg12 = -np.cos(omg12a)
            as_salp1 = cbet2 * as_somg12
            with np.errstate(invalid="ignore", divide="ignore"):
                as_calp1 = sbet12a - cbet2 * sbet1 * as_somg12**2 / (1 - as_comg12)

            astro_salp1 = np.where(near_cut, nc_salp1, as_salp1)
            astro_calp1 = np.where(near_cut, nc_calp1, as_calp1)
            salp1 = np.where(skip_astroid, salp1, astro_salp1)
            calp1 = np.where(skip_astroid, calp1, astro_calp1)

        pos = salp1 > 0
        ns, nc = _norm2(np.where(pos, salp1, 1.0), np.where(pos, calp1, 0.0))
        salp1 = np.where(pos, ns, 1.0)
        calp1 = np.where(pos, nc, 0.0)
        return sig12, salp1, calp1, salp2, calp2, dnm

    def _lambda12(self, sbet1, cbet1, dn1, sbet2, cbet2, dn2,
                  salp1, calp1, slam120, clam120, diffp: bool):
        """Lambda12 (geodesic.c:1475-1575), vectorized."""
        g = self
        calp1 = np.where((sbet1 == 0) & (calp1 == 0), -_TINY, calp1)
        salp0 = salp1 * cbet1
        calp0 = np.hypot(calp1, salp1 * sbet1)

        ssig1 = sbet1
        somg1 = salp0 * sbet1
        csig1 = comg1 = calp1 * cbet1
        ssig1, csig1 = _norm2(ssig1, csig1)

        with np.errstate(invalid="ignore", divide="ignore"):
            salp2 = np.where(cbet2 != cbet1, salp0 / cbet2, salp1)
            calp2 = np.where(
                (cbet2 != cbet1) | (np.abs(sbet2) != -sbet1),
                np.sqrt(np.maximum(
                    0.0,
                    (calp1 * cbet1) ** 2
                    + np.where(cbet1 < -sbet1,
                               (cbet2 - cbet1) * (cbet1 + cbet2),
                               (sbet1 - sbet2) * (sbet1 + sbet2)),
                )) / cbet2,
                np.abs(calp1),
            )
        ssig2 = sbet2
        somg2 = salp0 * sbet2
        csig2 = comg2 = calp2 * cbet2
        ssig2, csig2 = _norm2(ssig2, csig2)

        # `+ 0.0` forces -0.0 -> +0.0 (C's maxx returns the +0 operand;
        # atan2(-0, x<0) would flip sig12 to -pi)
        sig12 = np.arctan2(
            np.maximum(0.0, csig1 * ssig2 - ssig1 * csig2) + 0.0,
            csig1 * csig2 + ssig1 * ssig2,
        )
        somg12 = np.maximum(0.0, comg1 * somg2 - somg1 * comg2) + 0.0
        comg12 = comg1 * comg2 + somg1 * somg2
        eta = np.arctan2(somg12 * clam120 - comg12 * slam120,
                         comg12 * clam120 + somg12 * slam120)
        k2 = calp0**2 * g.ep2
        eps = k2 / (2 * (1 + np.sqrt(1 + k2)) + k2)
        Ca = self._C3f(eps)
        B312 = (_sin_cos_series(True, ssig2, csig2, Ca[:nC3])
                - _sin_cos_series(True, ssig1, csig1, Ca[:nC3]))
        domg12 = -g.f * self._A3f(eps) * salp0 * (sig12 + B312)
        lam12 = eta + domg12

        dlam12 = None
        if diffp:
            _, dl, _ = self._lengths(eps, sig12, ssig1, csig1, dn1,
                                     ssig2, csig2, dn2, want_s12=False)
            with np.errstate(invalid="ignore", divide="ignore"):
                dlam12 = np.where(
                    calp2 == 0,
                    -2 * g.f1 * dn1 / sbet1,
                    dl * g.f1 / (calp2 * cbet2),
                )
        return (lam12, salp2, calp2, sig12, ssig1, csig1, ssig2, csig2,
                eps, domg12, dlam12)

    def _newton(self, sbet1, cbet1, dn1, sbet2, cbet2, dn2,
                slam12, clam12, salp1, calp1, active):
        """The bracketed Newton iteration (geodesic.c:947-1010)."""
        g = self
        n = len(sbet1)
        salp1 = salp1.copy()
        calp1 = calp1.copy()
        salp1a = np.full(n, _TINY)
        calp1a = np.ones(n)
        salp1b = np.full(n, _TINY)
        calp1b = np.full(n, -1.0)
        tripn = np.zeros(n, dtype=bool)
        tripb = np.zeros(n, dtype=bool)
        done = ~active
        sig12 = np.zeros(n)
        ssig1 = np.zeros(n)
        csig1 = np.ones(n)
        ssig2 = np.zeros(n)
        csig2 = np.ones(n)
        eps = np.zeros(n)
        salp2 = np.zeros(n)
        calp2 = np.ones(n)
        domg12 = np.zeros(n)

        for numit in range(_MAXIT2):
            if done.all():
                break
            diffp = numit < _MAXIT1
            (lam12, t_salp2, t_calp2, t_sig12, t_ssig1, t_csig1,
             t_ssig2, t_csig2, t_eps, t_domg12, dv) = self._lambda12(
                sbet1, cbet1, dn1, sbet2, cbet2, dn2,
                salp1, calp1, slam12, clam12, diffp)
            v = lam12
            upd = ~done
            salp2 = np.where(upd, t_salp2, salp2)
            calp2 = np.where(upd, t_calp2, calp2)
            sig12 = np.where(upd, t_sig12, sig12)
            ssig1 = np.where(upd, t_ssig1, ssig1)
            csig1 = np.where(upd, t_csig1, csig1)
            ssig2 = np.where(upd, t_ssig2, ssig2)
            csig2 = np.where(upd, t_csig2, csig2)
            eps = np.where(upd, t_eps, eps)
            domg12 = np.where(upd, t_domg12, domg12)

            conv = tripb | ~(np.abs(v) >= np.where(tripn, 8, 1) * _TOL0)
            done = done | (upd & conv)
            upd = ~done
            if done.all():
                break

            with np.errstate(invalid="ignore", divide="ignore"):
                # update bracket (geodesic.c:973-977)
                bmask = upd & (v > 0) & (
                    (numit > _MAXIT1) | (calp1 / salp1 > calp1b / salp1b)
                )
                salp1b = np.where(bmask, salp1, salp1b)
                calp1b = np.where(bmask, calp1, calp1b)
                amask = upd & (v < 0) & (
                    (numit > _MAXIT1) | (calp1 / salp1 < calp1a / salp1a)
                )
                salp1a = np.where(amask, salp1, salp1a)
                calp1a = np.where(amask, calp1, calp1a)

                newton_ok = np.zeros(n, dtype=bool)
                if numit < _MAXIT1:
                    dalp1 = -v / dv
                    sdalp1 = np.sin(dalp1)
                    cdalp1 = np.cos(dalp1)
                    nsalp1 = salp1 * cdalp1 + calp1 * sdalp1
                    newton_ok = upd & (dv > 0) & (nsalp1 > 0) & (
                        np.abs(dalp1) < math.pi
                    )
                    n_calp1 = calp1 * cdalp1 - salp1 * sdalp1
                    ns, nc = _norm2(np.where(newton_ok, nsalp1, 1.0),
                                    np.where(newton_ok, n_calp1, 1.0))
                    salp1 = np.where(newton_ok, ns, salp1)
                    calp1 = np.where(newton_ok, nc, calp1)
                    tripn = np.where(newton_ok, np.abs(v) <= 16 * _TOL0, tripn)

            bisect = upd & ~newton_ok
            bs = (salp1a + salp1b) / 2
            bc = (calp1a + calp1b) / 2
            bs, bc = _norm2(bs, bc)
            salp1 = np.where(bisect, bs, salp1)
            calp1 = np.where(bisect, bc, calp1)
            tripn = np.where(bisect, False, tripn)
            tripb = np.where(
                bisect,
                (np.abs(salp1a - salp1) + (calp1a - calp1) < _TOLB)
                | (np.abs(salp1 - salp1b) + (calp1 - calp1b) < _TOLB),
                tripb,
            )

        s12b, m12b, _ = self._lengths(
            eps, sig12, ssig1, csig1, dn1, ssig2, csig2, dn2, want_s12=True
        )
        return (sig12, salp1, calp1, salp2, calp2, s12b * g.b, m12b * g.b,
                domg12)


def _astroid(x, y):
    """Astroid (geodesic.c:1256-1306), vectorized."""
    p = x**2
    q = y**2
    r = (p + q - 1) / 6
    direct = (q == 0) & (r <= 0)
    S = p * q / 4
    r2 = r**2
    r3 = r * r2
    disc = S * (S + 2 * r3)
    with np.errstate(invalid="ignore", divide="ignore"):
        T3 = S + r3
        sq_disc = np.sqrt(np.maximum(disc, 0.0))
        T3 = T3 + np.where(T3 < 0, -sq_disc, sq_disc)
        T = np.cbrt(T3)
        u_pos = r + T + np.where(T != 0, r2 / np.where(T == 0, 1.0, T), 0.0)
        ang = np.arctan2(np.sqrt(np.maximum(-disc, 0.0)), -(S + r3))
        u_neg = r + 2 * r * np.cos(ang / 3)
        u = np.where(disc >= 0, u_pos, u_neg)
        v = np.sqrt(u**2 + q)
        uv = np.where(u < 0, q / (v - u), u + v)
        w = (uv - q) / (2 * v)
        k = uv / (np.sqrt(uv + w**2) + w)
    return np.where(direct, 0.0, k)


from functools import lru_cache


@lru_cache(maxsize=16)
def _cached_geodesic(a: float, f: float) -> "Geodesic":
    """Geodesic setup computes the A3/C3 series coefficients; cache per
    (a, f) — the gie metric calls this once per expect line and the kNN
    UDF once per Arrow batch."""
    return Geodesic(a, f)


def geodesic_inverse_karney(lon1, lat1, lon2, lat2,
                            a: float = 6378137.0,
                            f: float = 1 / 298.257223563):
    """Distance-only inverse problem: RADIANS in, meters out.  Equal-shape
    arrays; the solver for (a, f) is built once and cached."""
    g = _cached_geodesic(a, f)
    R = 180.0 / math.pi
    s12, _, _, _ = g.inverse(
        np.asarray(lat1) * R, np.asarray(lon1) * R,
        np.asarray(lat2) * R, np.asarray(lon2) * R,
    )
    return s12


def _C1pf(eps):
    """C1p coefficients (reverted distance series), geodesic.c:1643-1668."""
    coeff = [(205, -432, 768, 1536), (4005, -4736, 3840, 12288),
             (-225, 116, 384), (-7173, 2695, 7680), (3467, 7680),
             (38081, 61440)]
    eps2 = eps * eps
    d = eps.copy() if isinstance(eps, np.ndarray) else eps
    c = [None] * (nC1 + 1)
    for ell in range(1, nC1 + 1):
        row = coeff[ell - 1]
        c[ell] = d * _polyval([float(v) for v in row[:-1]], eps2) / row[-1]
        d = d * eps
    return c


def _geod_direct(g: "Geodesic", lat1, lon1, azi1, s12):
    """geod_direct: the direct problem, vectorized.

    geod_lineinit_int (geodesic.c:460-545) + geod_genposition distance
    mode (geodesic.c:565-700, caps C1|C1p|C3).  Returns
    (lat2, lon2, azi2, a12)."""
    lat1 = np.atleast_1d(np.asarray(lat1, dtype=np.float64))
    lon1 = np.atleast_1d(np.asarray(lon1, dtype=np.float64))
    azi1 = np.atleast_1d(np.asarray(azi1, dtype=np.float64))
    s12 = np.atleast_1d(np.asarray(s12, dtype=np.float64))

    azi1 = _ang_normalize(azi1)
    salp1, calp1 = _sincosd(_ang_round(azi1))

    lat1f = np.where(np.abs(lat1) > 90, np.nan, lat1)
    sbet1, cbet1 = _sincosd(_ang_round(lat1f))
    sbet1 = sbet1 * g.f1
    sbet1, cbet1 = _norm2(sbet1, cbet1)
    cbet1 = np.maximum(_TINY, cbet1)
    dn1 = np.sqrt(1 + g.ep2 * sbet1**2)

    salp0 = salp1 * cbet1
    calp0 = np.hypot(calp1, salp1 * sbet1)
    ssig1 = sbet1
    somg1 = salp0 * sbet1
    csig1 = comg1 = np.where((sbet1 != 0) | (calp1 != 0), cbet1 * calp1, 1.0)
    ssig1, csig1 = _norm2(ssig1, csig1)

    k2 = calp0**2 * g.ep2
    eps = k2 / (2 * (1 + np.sqrt(1 + k2)) + k2)

    A1m1 = _A1m1f(eps)
    C1a = _C1f(eps)
    B11 = _sin_cos_series(True, ssig1, csig1, C1a)
    s_, c_ = np.sin(B11), np.cos(B11)
    stau1 = ssig1 * c_ + csig1 * s_
    ctau1 = csig1 * c_ - ssig1 * s_
    C1pa = _C1pf(eps)
    C3a = g._C3f(eps)
    A3c = -g.f * salp0 * g._A3f(eps)
    B31 = _sin_cos_series(True, ssig1, csig1, C3a[:nC3])

    # distance mode (geodesic.c:612-629); |f| <= 0.01 so no Newton fixup
    tau12 = s12 / (g.b * (1 + A1m1))
    s_, c_ = np.sin(tau12), np.cos(tau12)
    B12 = -_sin_cos_series(True, stau1 * c_ + ctau1 * s_,
                           ctau1 * c_ - stau1 * s_, C1pa)
    sig12 = tau12 - (B12 - B11)
    ssig12, csig12 = np.sin(sig12), np.cos(sig12)

    ssig2 = ssig1 * csig12 + csig1 * ssig12
    csig2 = csig1 * csig12 - ssig1 * ssig12
    sbet2 = calp0 * ssig2
    cbet2 = np.hypot(salp0, calp0 * csig2)
    deg = cbet2 == 0
    cbet2 = np.where(deg, _TINY, cbet2)
    csig2 = np.where(deg, _TINY, csig2)
    salp2 = salp0
    calp2 = calp0 * csig2

    # longitude (LONG_UNROLL, geodesic.c:672-690)
    E = np.where(salp0 >= 0, 1.0, -1.0)  # copysign(1, salp0)
    somg2 = salp0 * ssig2
    comg2 = csig2
    omg12 = E * (sig12
                 - (np.arctan2(ssig2, csig2) - np.arctan2(ssig1, csig1))
                 + (np.arctan2(E * somg2, comg2) - np.arctan2(E * somg1, comg1)))
    lam12 = omg12 + A3c * (
        sig12 + (_sin_cos_series(True, ssig2, csig2, C3a[:nC3]) - B31)
    )
    lon12 = lam12 / _DEGREE
    lon2 = _ang_normalize(_ang_normalize(lon1) + _ang_normalize(lon12))

    lat2 = _atan2d(sbet2, g.f1 * cbet2)
    azi2 = _atan2d(salp2, calp2)
    return lat2, lon2, azi2, sig12 / _DEGREE


def geodesic_direct(lon1, lat1, azi1, s12,
                    a: float = 6378137.0, f: float = 1 / 298.257223563):
    """Direct problem, degrees in/out: (lon2, lat2, azi2)."""
    g = _cached_geodesic(a, f)
    lat2, lon2, azi2, _ = _geod_direct(g, lat1, lon1, azi1, s12)
    return lon2, lat2, azi2


Geodesic.direct = _geod_direct


# ---------------------------------------------------------------------------
# polygon area / perimeter (geod_polygonarea, geodesic.c:1898-2069)
# ---------------------------------------------------------------------------

def _transit(lon1, lon2):
    """transit (geodesic.c:1838-1848): +-1 when the edge crosses the
    prime meridian east/west-going, else 0.  Vectorized."""
    lon1 = _ang_normalize(np.asarray(lon1, dtype=np.float64))
    lon2 = _ang_normalize(np.asarray(lon2, dtype=np.float64))
    lon12, _ = _ang_diff(lon1, lon2)
    return np.where(
        (lon1 <= 0) & (lon2 > 0) & (lon12 > 0), 1,
        np.where((lon2 <= 0) & (lon1 > 0) & (lon12 < 0), -1, 0),
    )


def _area_reduce(area: float, area0: float, crossings: int,
                 reverse: bool, sign: bool) -> float:
    """areareduceA/B (geodesic.c:1850-1896) on an exact (fsum) total."""
    area = math.remainder(area, area0)
    if crossings & 1:
        area += (area0 / 2) if area < 0 else (-area0 / 2)
    if not reverse:  # clockwise -> counter-clockwise convention
        area = -area
    if sign:  # put area in (-area0/2, area0/2]
        if area > area0 / 2:
            area -= area0
        elif area <= -area0 / 2:
            area += area0
    else:  # put area in [0, area0)
        if area >= area0:
            area -= area0
        elif area < 0:
            area += area0
    return 0.0 + area


def geodesic_polygon_area(lons, lats, a: float = 6378137.0,
                          f: float = 1 / 298.257223563,
                          reverse: bool = False, sign: bool = True):
    """geod_polygonarea (geodesic.c:2059-2069): closed polygon from the
    vertex sequence (degrees, in order; closing edge implicit).

    Returns (area_m2, perimeter_m, n).  All n edges solve in ONE
    vectorized inverse call; the S12/s12 totals use math.fsum (the
    reference uses Neumaier accumulators for the same reason).
    Counter-clockwise positive with sign=True, matching planimeter."""
    g = _cached_geodesic(a, f)
    lats = np.atleast_1d(np.asarray(lats, dtype=np.float64))
    lons = _ang_normalize(np.atleast_1d(np.asarray(lons, dtype=np.float64)))
    n = len(lats)
    if n < 2:
        return 0.0, 0.0, n
    la2 = np.roll(lats, -1)
    lo2 = np.roll(lons, -1)
    s12, _, _, _, S12 = g.inverse(lats, lons, la2, lo2, want_area=True)
    perimeter = math.fsum(s12.tolist())
    crossings = int(_transit(lons, lo2).sum())
    area0 = 4 * math.pi * g.c2
    area = _area_reduce(math.fsum(S12.tolist()), area0, crossings,
                        reverse, sign)
    return area, perimeter, n


def geodesic_polyline_length(lons, lats, a: float = 6378137.0,
                             f: float = 1 / 298.257223563):
    """polyline variant (geod_polygon_init(p, 1)): open path length."""
    g = _cached_geodesic(a, f)
    lats = np.atleast_1d(np.asarray(lats, dtype=np.float64))
    lons = _ang_normalize(np.atleast_1d(np.asarray(lons, dtype=np.float64)))
    if len(lats) < 2:
        return 0.0, len(lats)
    s12, _, _, _ = g.inverse(lats[:-1], lons[:-1], lats[1:], lons[1:])
    return math.fsum(s12.tolist()), len(lats)
