"""Batch 10: nzmg (New Zealand Map Grid), gstmerc (Gauss-Schreiber TM).

References: src/projections/nzmg.cpp (complex-polynomial grid with
pj_zpoly1/pj_zpolyd1 from src/zpoly1.cpp), src/projections/gstmerc.cpp.
"""

from __future__ import annotations

import math

import numpy as np

from proj_4_spark.kernels import common as C
from proj_4_spark.kernels.base import PJ, UNITS_CLASSIC, UNITS_RADIANS


def _zpoly1(zr, zi, coefs):
    """Complex polynomial evaluation z*sum(C_k z^k) by Horner
    (pj_zpoly1, src/zpoly1.cpp)."""
    cr, ci = coefs[-1]
    ar = np.full_like(zr, cr)
    ai = np.full_like(zi, ci)
    for cr, ci in reversed(coefs[:-1]):
        tr = ar * zr - ai * zi + cr
        ai = ar * zi + ai * zr + ci
        ar = tr
    tr = ar * zr - ai * zi
    ai = ar * zi + ai * zr
    return tr, ai


def _zpolyd1(zr, zi, coefs):
    """Complex polynomial + derivative (pj_zpolyd1, src/zpoly1.cpp):
    f = z*p(z), der = p(z) + z*p'(z); recurrence preserved from the C.
    Returns (f_r, f_i, der_r, der_i)."""
    cr, ci = coefs[-1]
    ar = np.full_like(zr, cr)
    ai = np.full_like(zi, ci)
    br = ar.copy()
    bi = ai.copy()
    first = True
    for cr, ci in reversed(coefs[:-1]):
        if first:
            first = False
        else:
            tr = ar + zr * br - zi * bi
            bi = ai + zr * bi + zi * br
            br = tr
        tr = cr + zr * ar - zi * ai
        ai = ci + zr * ai + zi * ar
        ar = tr
    tr = ar + zr * br - zi * bi
    bi = ai + zr * bi + zi * br
    br = tr
    fr = zr * ar - zi * ai
    fi = zr * ai + zi * ar
    return fr, fi, br, bi


_NZ_BF = [
    (0.7557853228, 0.0),
    (0.249204646, 0.003371507),
    (-0.001541739, 0.041058560),
    (-0.10162907, 0.01727609),
    (-0.26623489, -0.36249218),
    (-0.6870983, -1.1651967),
]
_NZ_TPHI = (1.5627014243, 0.5185406398, -0.03333098, -0.1052906,
            -0.0368594, 0.007317, 0.01220, 0.00394, -0.0013)
_NZ_TPSI = (0.6399175073, -0.1358797613, 0.063294409, -0.02526853,
            0.0117879, -0.0055161, 0.0026906, -0.001333, 0.00067, -0.00034)
_RAD_TO_SEC5 = 2.062648062470963551564733573
_SEC5_TO_RAD = 0.4848136811095359935899141023


def setup_nzmg(P: PJ) -> PJ:
    """nzmg.cpp: fixed-Earth grid (intl ellipsoid, fixed origin/offsets
    stomped at setup, nzmg.cpp:105-113)."""
    P.a = 6378388.0
    P.ra = 1.0 / P.a
    P.lam0 = C.DEG_TO_RAD * 173.0
    P.phi0 = C.DEG_TO_RAD * -41.0
    P.x0 = 2510000.0
    P.y0 = 6023150.0

    def fwd(lam, phi, z, t, _P):
        dphi = (phi - P.phi0) * _RAD_TO_SEC5
        pr = np.full_like(dphi, _NZ_TPSI[-1])
        for c in reversed(_NZ_TPSI[:-1]):
            pr = c + dphi * pr
        pr = pr * dphi
        x, y = _zpoly1(pr, lam, _NZ_BF)
        # p.r -> y (northing), p.i -> x (easting)
        return y, x, z, t

    def inv(x, y, z, t, _P):
        pr = y.copy()
        pi = x.copy()
        converged = np.zeros_like(pr, dtype=bool)
        active = np.isfinite(pr)
        for _ in range(20):
            if not active.any():
                break
            fr, fi, fpr, fpi = _zpolyd1(pr[active], pi[active], _NZ_BF)
            fr = fr - y[active]
            fi = fi - x[active]
            den = fpr * fpr + fpi * fpi
            dpr = -(fr * fpr + fi * fpi) / den
            dpi = -(fi * fpr - fr * fpi) / den
            pr[active] = pr[active] + dpr
            pi[active] = pi[active] + dpi
            done = (np.abs(dpr) + np.abs(dpi)) <= 1e-10
            cv = converged[active]
            cv |= done
            converged[active] = cv
            nxt = active.copy()
            nxt[active] = ~done
            active = nxt
        lam = pi
        phi = np.full_like(pr, _NZ_TPHI[-1])
        for c in reversed(_NZ_TPHI[:-1]):
            phi = c + pr * phi
        phi = P.phi0 + pr * phi * _SEC5_TO_RAD
        lam = np.where(converged, lam, np.nan)
        phi = np.where(converged, phi, np.nan)
        return lam, phi, z, t

    P.fwd, P.inv = fwd, inv
    P.left = UNITS_RADIANS
    P.right = UNITS_CLASSIC
    return P


def setup_gstmerc(P: PJ) -> PJ:
    """gstmerc.cpp (Gauss-Laborde Reunion)."""
    n1 = math.sqrt(1.0 + P.es * math.cos(P.phi0) ** 4 / (1.0 - P.es))
    phic = math.asin(math.sin(P.phi0) / n1)
    c = (math.log(float(C.tsfn(np.float64(-phic), np.float64(0.0), 0.0)))
         - n1 * math.log(float(C.tsfn(np.float64(-P.phi0),
                                      np.float64(-math.sin(P.phi0)), P.e))))
    n2 = P.k0 * P.a * math.sqrt(1.0 - P.es) / (1.0 - P.es * math.sin(P.phi0) ** 2)
    XS = 0.0
    YS = -n2 * phic

    def fwd(lam, phi, z, t, _P):
        L = n1 * lam
        Ls = c + n1 * np.log(C.tsfn(-phi, -np.sin(phi), P.e))
        sinLs1 = np.sin(L) / np.cosh(Ls)
        Ls1 = np.log(C.tsfn(-np.arcsin(np.clip(sinLs1, -1, 1)), np.zeros_like(L), 0.0))
        x = (XS + n2 * Ls1) * P.ra
        y = (YS + n2 * np.arctan(np.sinh(Ls) / np.cos(L))) * P.ra
        return x, y, z, t

    def inv(x, y, z, t, _P):
        L = np.arctan(np.sinh((x * P.a - XS) / n2) / np.cos((y * P.a - YS) / n2))
        sinC = np.sin((y * P.a - YS) / n2) / np.cosh((x * P.a - XS) / n2)
        LC = np.log(C.tsfn(-np.arcsin(np.clip(sinC, -1, 1)), np.zeros_like(L), 0.0))
        lam = L / n1
        phi = -C.phi2(np.exp((LC - c) / n1), P.e)
        return lam, phi, z, t

    P.fwd, P.inv = fwd, inv
    P.left = UNITS_RADIANS
    P.right = UNITS_CLASSIC
    return P
