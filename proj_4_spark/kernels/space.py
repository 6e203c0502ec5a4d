"""Space Oblique Mercator family: lsat (Landsat), misrsom (MISR).

References: src/projections/lsat.cpp, src/projections/misrsom.cpp
(Snyder & Linck, USGS-NMD).  The two differ only in orbital constants,
rlm, and one loop-termination quirk: lsat's inner loop runs 51 passes
(l = 50..0) and still emits coordinates when it exhausts (l ends at -1,
truthy), while misrsom's runs 50 (l = 50..1) and yields HUGE_VAL on
exhaustion (l == 0).  Both are reproduced per-lane.
"""

from __future__ import annotations

import math

import numpy as np

from proj_4_spark.kernels import common as C
from proj_4_spark.kernels.base import PJ, ProjError, UNITS_CLASSIC, UNITS_RADIANS

TOL = 1e-7
HALFPI = C.M_HALFPI
FORTPI = C.M_FORTPI
PI = C.M_PI
TWOPI = C.M_TWOPI
PI_HALFPI = PI + HALFPI
TWOPI_HALFPI = TWOPI + HALFPI


class _Som:
    """Shared opaque constants (struct pj_opaque, lsat.cpp:16-20)."""

    __slots__ = ("a2", "a4", "b", "c1", "c3", "q", "t", "u", "w", "p22",
                 "sa", "ca", "xj", "rlm", "rlm2")


def _seraz0(Q: _Som, lam_deg: float, mult: float) -> None:
    """seraz0 (lsat.cpp:22-43): Fourier coefficient accumulation."""
    lam = math.radians(lam_deg)
    sd = math.sin(lam)
    sdsq = sd * sd
    s = Q.p22 * Q.sa * math.cos(lam) * math.sqrt(
        (1.0 + Q.t * sdsq) / ((1.0 + Q.w * sdsq) * (1.0 + Q.q * sdsq)))
    d1 = 1.0 + Q.q * sdsq
    h = math.sqrt((1.0 + Q.q * sdsq) / (1.0 + Q.w * sdsq)) * (
        (1.0 + Q.w * sdsq) / (d1 * d1) - Q.p22 * Q.ca)
    sq = math.sqrt(Q.xj * Q.xj + s * s)
    fc = mult * (h * Q.xj - s * s) / sq
    Q.b += fc
    Q.a2 += fc * math.cos(lam + lam)
    Q.a4 += fc * math.cos(lam * 4.0)
    fc = mult * s * (h + Q.xj) / sq
    Q.c1 += fc * math.cos(lam)
    Q.c3 += fc * math.cos(lam * 3.0)


def _som_setup(P: PJ, alf: float, p22: float, rlm: float) -> _Som:
    """Common tail of PROJECTION(lsat)/PROJECTION(misrsom)."""
    Q = _Som()
    Q.p22 = p22
    Q.sa = math.sin(alf)
    Q.ca = math.cos(alf)
    if abs(Q.ca) < 1e-9:
        Q.ca = 1e-9
    esc = P.es * Q.ca * Q.ca
    ess = P.es * Q.sa * Q.sa
    w = (1.0 - esc) * P.rone_es
    Q.w = w * w - 1.0
    Q.q = ess * P.rone_es
    Q.t = ess * (2.0 - P.es) * P.rone_es * P.rone_es
    Q.u = esc * P.rone_es
    Q.xj = P.one_es * P.one_es * P.one_es
    Q.rlm = rlm
    Q.rlm2 = rlm + TWOPI
    Q.a2 = Q.a4 = Q.b = Q.c1 = Q.c3 = 0.0
    _seraz0(Q, 0.0, 1.0)
    lam = 9.0
    while lam <= 81.0001:
        _seraz0(Q, lam, 4.0)
        lam += 18.0
    lam = 18.0
    while lam <= 72.0001:
        _seraz0(Q, lam, 2.0)
        lam += 18.0
    _seraz0(Q, 90.0, 1.0)
    Q.a2 /= 30.0
    Q.a4 /= 60.0
    Q.b /= 30.0
    Q.c1 /= 15.0
    Q.c3 /= 45.0
    return Q


def _make_fwd(P: PJ, Q: _Som, lsat_loop: bool):
    """Vectorized lsat_e_forward / misrsom_e_forward.

    lsat_loop=True: inner loop l = 50..0 (51 passes; exhaustion leaves
    l = -1, so xy is still computed).  False: l = 50..1 (50 passes;
    exhaustion -> HUGE_VAL).
    """

    def fwd(lam, phi, z, t_, _P):
        phi = np.clip(phi, -HALFPI, HALFPI)
        tanphi = np.tan(phi)
        lampp = np.where(phi >= 0.0, HALFPI, PI_HALFPI)
        n = lam.shape[0] if hasattr(lam, "shape") else 1
        lamdp = np.zeros_like(lam)
        lamt = np.zeros_like(lam)
        outer = np.ones_like(lam, dtype=bool)   # lanes still iterating
        l_zero = np.zeros_like(lam, dtype=bool)  # lanes with l == 0
        inner_iters = 51 if lsat_loop else 50
        for nn in range(1, 4):
            sav0 = lampp
            lamtp = lam + Q.p22 * lampp
            cl = np.cos(lamtp)
            fac = np.where(cl < 0.0,
                           lampp + np.sin(lampp) * HALFPI,
                           lampp - np.sin(lampp) * HALFPI)
            conv = np.zeros_like(lam, dtype=bool)
            conv_iter = np.full_like(lam, -1, dtype=np.int64)
            sav = sav0.copy()
            lamdp_i = lamdp.copy()
            lamt_i = lamt.copy()
            for k in range(inner_iters):
                run = outer & ~conv
                if not run.any():
                    break
                lt = lam + Q.p22 * sav
                c = np.cos(lt)
                lt = np.where(np.abs(c) < TOL, lt - TOL, lt)
                with np.errstate(divide="ignore", invalid="ignore"):
                    xlam = (P.one_es * tanphi * Q.sa + np.sin(lt) * Q.ca) / c
                ld = np.arctan(xlam) + fac
                lamt_i = np.where(run, lt, lamt_i)
                lamdp_i = np.where(run, ld, lamdp_i)
                newc = run & (np.abs(np.abs(sav) - np.abs(ld)) < TOL)
                conv_iter = np.where(newc, k, conv_iter)
                conv |= newc
                sav = np.where(run & ~conv, ld, sav)
            lamdp = np.where(outer, lamdp_i, lamdp)
            lamt = np.where(outer, lamt_i, lamt)
            if lsat_loop:
                lz = outer & (conv_iter == 50)          # break at l == 0
            else:
                lz = outer & ~conv                      # exhausted -> l == 0
            l_zero |= lz
            in_band = (lamdp > Q.rlm) & (lamdp < Q.rlm2)
            stop = lz | (nn >= 3) | in_band
            cont = outer & ~stop
            lampp = np.where(cont & (lamdp <= Q.rlm), TWOPI_HALFPI, lampp)
            lampp = np.where(cont & (lamdp >= Q.rlm2), HALFPI, lampp)
            outer = cont
            if not outer.any():
                break
        sp = np.sin(phi)
        phidp = C.aasin((P.one_es * Q.ca * sp - Q.sa * np.cos(phi) *
                         np.sin(lamt)) / np.sqrt(1.0 - P.es * sp * sp))
        tanph = np.log(np.tan(FORTPI + 0.5 * phidp))
        sd = np.sin(lamdp)
        sdsq = sd * sd
        s = Q.p22 * Q.sa * np.cos(lamdp) * np.sqrt(
            (1.0 + Q.t * sdsq) / ((1.0 + Q.w * sdsq) * (1.0 + Q.q * sdsq)))
        d = np.sqrt(Q.xj * Q.xj + s * s)
        x = (Q.b * lamdp + Q.a2 * np.sin(2.0 * lamdp)
             + Q.a4 * np.sin(lamdp * 4.0) - tanph * s / d)
        y = Q.c1 * sd + Q.c3 * np.sin(lamdp * 3.0) + tanph * Q.xj / d
        x = np.where(l_zero, np.nan, x)
        y = np.where(l_zero, np.nan, y)
        return x, y, z, t_

    return fwd


def _make_inv(P: PJ, Q: _Som):
    """Vectorized lsat_e_inverse / misrsom_e_inverse (identical code)."""

    def inv(x, y, z, t_, _P):
        lamdp = x / Q.b
        s = np.zeros_like(x)
        active = np.ones_like(x, dtype=bool)
        for _ in range(50):
            if not active.any():
                break
            sav = lamdp
            sd = np.sin(lamdp)
            sdsq = sd * sd
            s_i = Q.p22 * Q.sa * np.cos(lamdp) * np.sqrt(
                (1.0 + Q.t * sdsq) / ((1.0 + Q.w * sdsq) * (1.0 + Q.q * sdsq)))
            ld = (x + y * s_i / Q.xj - Q.a2 * np.sin(2.0 * lamdp)
                  - Q.a4 * np.sin(lamdp * 4.0)
                  - s_i / Q.xj * (Q.c1 * np.sin(lamdp) + Q.c3 * np.sin(lamdp * 3.0)))
            ld = ld / Q.b
            s = np.where(active, s_i, s)
            lamdp = np.where(active, ld, lamdp)
            active = active & (np.abs(lamdp - sav) >= TOL)
        sl = np.sin(lamdp)
        fac = np.exp(np.sqrt(1.0 + s * s / Q.xj / Q.xj)
                     * (y - Q.c1 * sl - Q.c3 * np.sin(lamdp * 3.0)))
        phidp = 2.0 * (np.arctan(fac) - FORTPI)
        dd = sl * sl
        lamdp = np.where(np.abs(np.cos(lamdp)) < TOL, lamdp - TOL, lamdp)
        spp = np.sin(phidp)
        sppsq = spp * spp
        denom = 1.0 - sppsq * (1.0 + Q.u)
        bad = denom == 0.0
        denom = np.where(bad, np.nan, denom)
        with np.errstate(invalid="ignore", divide="ignore"):
            lamt = np.arctan(
                ((1.0 - sppsq * P.rone_es) * np.tan(lamdp) * Q.ca
                 - spp * Q.sa * np.sqrt(
                     (1.0 + Q.q * dd) * (1.0 - sppsq) - sppsq * Q.u)
                 / np.cos(lamdp)) / denom)
        sgn_l = np.where(lamt >= 0.0, 1.0, -1.0)
        scl = np.where(np.cos(lamdp) >= 0.0, 1.0, -1.0)
        lamt = lamt - HALFPI * (1.0 - scl) * sgn_l
        lam = lamt - Q.p22 * lamdp
        if abs(Q.sa) < TOL:
            phi = C.aasin(spp / np.sqrt(P.one_es * P.one_es + P.es * sppsq))
        else:
            phi = np.arctan((np.tan(lamdp) * np.cos(lamt) - Q.ca * np.sin(lamt))
                            / (P.one_es * Q.sa))
        lam = np.where(bad, np.nan, lam)
        phi = np.where(bad, np.nan, phi)
        return lam, phi, z, t_

    return inv


def setup_lsat(P: PJ) -> PJ:
    """lsat.cpp:161-215."""
    land = P.param_i("lsat")
    if land <= 0 or land > 5:
        raise ProjError("lsat_not_in_range")
    path = P.param_i("path")
    if path <= 0 or path > (251 if land <= 3 else 233):
        raise ProjError("path_not_in_range")
    if land <= 3:
        P.lam0 = math.radians(128.87) - TWOPI / 251.0 * path
        p22 = 103.2669323
        alf = math.radians(99.092)
    else:
        P.lam0 = math.radians(129.3) - TWOPI / 233.0 * path
        p22 = 98.8841202
        alf = math.radians(98.2)
    Q = _som_setup(P, alf, p22 / 1440.0, PI * (1.0 / 248.0 + 0.5161290322580645))
    P.fwd = _make_fwd(P, Q, lsat_loop=True)
    P.inv = _make_inv(P, Q)
    P.left = UNITS_RADIANS
    P.right = UNITS_CLASSIC
    return P


def setup_misrsom(P: PJ) -> PJ:
    """misrsom.cpp:178-225."""
    path = P.param_i("path")
    if path <= 0 or path > 233:
        raise ProjError("path_not_in_range")
    P.lam0 = math.radians(129.3056) - TWOPI / 233.0 * path
    Q = _som_setup(P, math.radians(98.30382), 98.88 / 1440.0, 0.0)
    P.fwd = _make_fwd(P, Q, lsat_loop=False)
    P.inv = _make_inv(P, Q)
    P.left = UNITS_RADIANS
    P.right = UNITS_CLASSIC
    return P
