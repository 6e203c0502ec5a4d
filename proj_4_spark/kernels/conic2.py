"""Conics + classic survey projections: eqdc, cass, poly, bonne, vandg.

References (src/projections/): eqdc.cpp, cass.cpp, poly.cpp, bonne.cpp,
vandg.cpp.  The C eqdc kernel mutates Q->rho (thread hazard like aea);
ours is pure.
"""

from __future__ import annotations

import math

import numpy as np

from proj_4_spark.kernels import common as C
from proj_4_spark.kernels.base import PJ, ProjError, UNITS_CLASSIC, UNITS_RADIANS

_EPS10 = 1e-10


def _finish(P: PJ, fwd, inv) -> PJ:
    P.fwd = fwd
    P.inv = inv
    P.left = UNITS_RADIANS
    P.right = UNITS_CLASSIC
    return P


# --- eqdc (eqdc.cpp) ------------------------------------------------------------

def setup_eqdc(P: PJ) -> PJ:
    phi1 = P.param_r("lat_1")
    phi2 = P.param_r("lat_2")
    if abs(phi1) > C.M_HALFPI or abs(phi2) > C.M_HALFPI:
        raise ProjError("lat_larger_than_90")
    if abs(phi1 + phi2) < _EPS10:
        raise ProjError("conic_lat_equal")
    en = C.enfn(P.es)
    sinphi = math.sin(phi1)
    n = sinphi
    cosphi = math.cos(phi1)
    secant = abs(phi1 - phi2) >= _EPS10
    ellips = P.es > 0.0
    if ellips:
        m1 = float(C.msfn(np.float64(sinphi), np.float64(cosphi), P.es))
        ml1 = float(C.mlfn(np.float64(phi1), np.float64(sinphi), np.float64(cosphi), en))
        if secant:
            sinphi = math.sin(phi2)
            cosphi = math.cos(phi2)
            n = (m1 - float(C.msfn(np.float64(sinphi), np.float64(cosphi), P.es))) / (
                float(C.mlfn(np.float64(phi2), np.float64(sinphi), np.float64(cosphi), en)) - ml1
            )
            if n == 0:
                raise ProjError("invalid_eccentricity")
        c = ml1 + m1 / n
        rho0 = c - float(C.mlfn(np.float64(P.phi0), np.float64(math.sin(P.phi0)),
                                np.float64(math.cos(P.phi0)), en))
    else:
        if secant:
            n = (cosphi - math.cos(phi2)) / (phi2 - phi1)
        if n == 0:
            raise ProjError("conic_lat_equal")
        c = phi1 + math.cos(phi1) / n
        rho0 = c - P.phi0
    # expose the setup constants for the Catalyst expression twin
    # (engine/spark.py reads them; the kernel keeps its closure)
    P.opaque.update(n=n, c=c, rho0=rho0, en=en, ellips=ellips)

    def fwd(lam, phi, z, t, _P):
        if ellips:
            rho = c - C.mlfn(phi, np.sin(phi), np.cos(phi), en)
        else:
            rho = c - phi
        lamn = lam * n
        return rho * np.sin(lamn), rho0 - rho * np.cos(lamn), z, t

    def inv(x, y, z, t, _P):
        yy = rho0 - y
        rho = np.hypot(x, yy)
        if n < 0.0:
            rho = -rho
            x = -x
            yy = -yy
        nonzero = rho != 0.0
        phi = c - rho
        if ellips:
            phi = C.inv_mlfn(phi, P.es, en)
        lam = np.arctan2(x, yy) / n
        pole = C.M_HALFPI if n > 0.0 else -C.M_HALFPI
        return (np.where(nonzero, lam, 0.0), np.where(nonzero, phi, pole), z, t)

    return _finish(P, fwd, inv)


# --- cass (cass.cpp) --------------------------------------------------------------

def setup_cass(P: PJ) -> PJ:
    C1, C2, C3, C4, C5 = (0.16666666666666666666, 0.00833333333333333333,
                          0.04166666666666666666, 0.33333333333333333333,
                          0.06666666666666666666)
    if P.es == 0:
        def fwd(lam, phi, z, t, _P):
            x = np.arcsin(np.clip(np.cos(phi) * np.sin(lam), -1, 1))
            y = np.arctan2(np.tan(phi), np.cos(lam)) - _P.phi0
            return x, y, z, t

        def inv(x, y, z, t, _P):
            dd = y + _P.phi0
            phi = np.arcsin(np.clip(np.sin(dd) * np.cos(x), -1, 1))
            lam = np.arctan2(np.tan(x), np.cos(dd))
            return lam, phi, z, t

        return _finish(P, fwd, inv)

    en = C.enfn(P.es)
    m0 = float(C.mlfn(np.float64(P.phi0), np.float64(math.sin(P.phi0)),
                      np.float64(math.cos(P.phi0)), en))

    def fwd(lam, phi, z, t, _P):
        n = np.sin(phi)
        c = np.cos(phi)
        y = C.mlfn(phi, n, c, en)
        n = 1.0 / np.sqrt(1.0 - P.es * n * n)
        tn = np.tan(phi)
        tt = tn * tn
        a1 = lam * c
        cc = c * (P.es * c / (1 - P.es))
        a2 = a1 * a1
        x = n * a1 * (1.0 - a2 * tt * (C1 - (8.0 - tt + 8.0 * cc) * a2 * C2))
        y = y - (m0 - n * tn * a2 * (0.5 + (5.0 - tt + 6.0 * cc) * a2 * C3))
        return x, y, z, t

    def inv(x, y, z, t, _P):
        ph1 = C.inv_mlfn(m0 + y, P.es, en)
        tn = np.tan(ph1)
        tt = tn * tn
        n = np.sin(ph1)
        r = 1.0 / (1.0 - P.es * n * n)
        n = np.sqrt(r)
        r = r * (1.0 - P.es) * n
        dd = x / n
        d2 = dd * dd
        phi = ph1 - (n * tn / r) * d2 * (0.5 - (1.0 + 3.0 * tt) * d2 * C3)
        lam = dd * (1.0 + tt * d2 * (-C4 + (1.0 + 3.0 * tt) * d2 * C5)) / np.cos(ph1)
        return lam, phi, z, t

    return _finish(P, fwd, inv)


# --- poly (poly.cpp) ----------------------------------------------------------------

def setup_poly(P: PJ) -> PJ:
    TOL, CONV, N_ITER, I_ITER, ITOL = 1e-10, 1e-10, 10, 20, 1e-12
    ellips = P.es != 0.0
    if ellips:
        en = C.enfn(P.es)
        ml0 = float(C.mlfn(np.float64(P.phi0), np.float64(math.sin(P.phi0)),
                           np.float64(math.cos(P.phi0)), en))
    else:
        ml0 = -P.phi0

    if ellips:
        def fwd(lam, phi, z, t, _P):
            eq = np.abs(phi) <= TOL
            sp = np.sin(phi)
            cp = np.cos(phi)
            with np.errstate(divide="ignore", invalid="ignore"):
                ms = np.where(np.abs(cp) > TOL, C.msfn(sp, cp, P.es) / np.where(sp == 0, 1.0, sp), 0.0)
            lams = lam * sp
            x = np.where(eq, lam, ms * np.sin(lams))
            y = np.where(eq, -ml0,
                         (C.mlfn(phi, sp, cp, en) - ml0) + ms * (1.0 - np.cos(lams)))
            return x, y, z, t

        def inv(x, y, z, t, _P):
            yy = y + ml0
            eq = np.abs(yy) <= TOL
            r = yy * yy + x * x
            phi = yy.copy()
            active = np.isfinite(phi) & ~eq
            bad = np.zeros_like(phi, dtype=bool)
            count = np.zeros_like(phi, dtype=np.int64)
            for _ in range(I_ITER):
                if not active.any():
                    break
                sp = np.sin(phi[active])
                cp = np.cos(phi[active])
                s2ph = sp * cp
                small_cp = np.abs(cp) < ITOL
                mlp = np.sqrt(1.0 - P.es * sp * sp)
                with np.errstate(divide="ignore", invalid="ignore"):
                    cc = sp * mlp / cp
                ml = C.mlfn(phi[active], sp, cp, en)
                mlb = ml * ml + r[active]
                mlp = P.one_es / (mlp * mlp * mlp)
                with np.errstate(divide="ignore", invalid="ignore"):
                    dPhi = (
                        (ml + ml + cc * mlb - 2.0 * yy[active] * (cc * ml + 1.0))
                        / (
                            P.es * s2ph * (mlb - 2.0 * yy[active] * ml) / cc
                            + 2.0 * (yy[active] - ml) * (cc * mlp - 1.0 / s2ph)
                            - mlp - mlp
                        )
                    )
                phi[active] = phi[active] + np.where(small_cp, 0.0, dPhi)
                b = bad[active]
                b |= small_cp
                bad[active] = b
                done = (np.abs(dPhi) <= ITOL) | small_cp
                cnt = count[active] + 1
                count[active] = cnt
                nxt = active.copy()
                nxt[active] = ~done
                active = nxt
            nonconv = (count >= I_ITER) & ~eq
            cphi = np.sin(phi)
            with np.errstate(divide="ignore", invalid="ignore"):
                lam = np.arcsin(np.clip(
                    x * np.tan(phi) * np.sqrt(1.0 - P.es * cphi * cphi), -1, 1
                )) / np.sin(phi)
            lam = np.where(eq, x, lam)
            phi = np.where(eq, 0.0, phi)
            lam = np.where(bad | nonconv, np.nan, lam)
            phi = np.where(bad | nonconv, np.nan, phi)
            return lam, phi, z, t
    else:
        def fwd(lam, phi, z, t, _P):
            eq = np.abs(phi) <= TOL
            with np.errstate(divide="ignore", invalid="ignore"):
                cot = 1.0 / np.tan(phi)
            E = lam * np.sin(phi)
            x = np.where(eq, lam, np.sin(E) * cot)
            y = np.where(eq, ml0, phi - P.phi0 + cot * (1.0 - np.cos(E)))
            return x, y, z, t

        def inv(x, y, z, t, _P):
            yy = P.phi0 + y
            eq = np.abs(yy) <= TOL
            B = x * x + yy * yy
            phi = yy.copy()
            active = np.isfinite(phi) & ~eq
            count = np.zeros_like(phi, dtype=np.int64)
            for _ in range(N_ITER):
                if not active.any():
                    break
                tp = np.tan(phi[active])
                dphi = (
                    yy[active] * (phi[active] * tp + 1.0) - phi[active]
                    - 0.5 * (phi[active] * phi[active] + B[active]) * tp
                ) / ((phi[active] - yy[active]) / tp - 1.0)
                phi[active] = phi[active] - dphi
                done = np.abs(dphi) <= CONV
                cnt = count[active] + 1
                count[active] = cnt
                nxt = active.copy()
                nxt[active] = ~done
                active = nxt
            nonconv = (count >= N_ITER) & ~eq
            with np.errstate(divide="ignore", invalid="ignore"):
                lam = np.arcsin(np.clip(x * np.tan(phi), -1, 1)) / np.sin(phi)
            lam = np.where(eq, x, lam)
            phi = np.where(eq, 0.0, phi)
            lam = np.where(nonconv, np.nan, lam)
            phi = np.where(nonconv, np.nan, phi)
            return lam, phi, z, t

    return _finish(P, fwd, inv)


# --- bonne (bonne.cpp) -----------------------------------------------------------------

def setup_bonne(P: PJ) -> PJ:
    phi1 = P.param_r("lat_1")
    if abs(phi1) < _EPS10:
        raise ProjError("lat1_is_zero")
    if P.es != 0.0:
        en = C.enfn(P.es)
        am1_s = math.sin(phi1)
        c1 = math.cos(phi1)
        m1 = float(C.mlfn(np.float64(phi1), np.float64(am1_s), np.float64(c1), en))
        am1 = c1 / (math.sqrt(1.0 - P.es * am1_s * am1_s) * am1_s)

        def fwd(lam, phi, z, t, _P):
            E = np.sin(phi)
            c = np.cos(phi)
            rh = am1 + m1 - C.mlfn(phi, E, c, en)
            big = np.abs(rh) > _EPS10
            with np.errstate(divide="ignore", invalid="ignore"):
                E2 = c * lam / (rh * np.sqrt(1.0 - P.es * E * E))
            x = np.where(big, rh * np.sin(E2), 0.0)
            y = np.where(big, am1 - rh * np.cos(E2), 0.0)
            return x, y, z, t

        def inv(x, y, z, t, _P):
            yy = am1 - y
            rh = np.hypot(x, yy)
            phi = C.inv_mlfn(am1 + m1 - rh, P.es, en)
            s = np.abs(phi)
            interior = s < C.M_HALFPI
            at_pole = np.abs(s - C.M_HALFPI) <= _EPS10
            sp = np.sin(phi)
            with np.errstate(divide="ignore", invalid="ignore"):
                lam_i = rh * np.arctan2(x, yy) * np.sqrt(1.0 - P.es * sp * sp) / np.cos(phi)
            lam = np.where(interior, lam_i, np.where(at_pole, 0.0, np.nan))
            phi = np.where(interior | at_pole, phi, np.nan)
            return lam, phi, z, t
    else:
        cphi1 = 0.0 if abs(phi1) + _EPS10 >= C.M_HALFPI else 1.0 / math.tan(phi1)

        def fwd(lam, phi, z, t, _P):
            rh = cphi1 + phi1 - phi
            big = np.abs(rh) > _EPS10
            with np.errstate(divide="ignore", invalid="ignore"):
                E = lam * np.cos(phi) / rh
            x = np.where(big, rh * np.sin(E), 0.0)
            y = np.where(big, cphi1 - rh * np.cos(E), 0.0)
            return x, y, z, t

        def inv(x, y, z, t, _P):
            yy = cphi1 - y
            rh = np.hypot(x, yy)
            phi = cphi1 + phi1 - rh
            bad = np.abs(phi) > C.M_HALFPI
            at_pole = np.abs(np.abs(phi) - C.M_HALFPI) <= _EPS10
            with np.errstate(divide="ignore", invalid="ignore"):
                lam = np.where(at_pole, 0.0, rh * np.arctan2(x, yy) / np.cos(phi))
            lam = np.where(bad, np.nan, lam)
            phi = np.where(bad, np.nan, phi)
            return lam, phi, z, t

    return _finish(P, fwd, inv)


# --- vandg (vandg.cpp) ---------------------------------------------------------------

def setup_vandg(P: PJ) -> PJ:
    TOL = 1e-10
    THIRD = 0.33333333333333333333
    C2_27 = 0.07407407407407407407
    PI4_3 = 4.18879020478639098458
    PISQ = 9.86960440108935861869
    TPISQ = 19.73920880217871723738
    HPISQ = 4.93480220054467930934

    def fwd(lam, phi, z, t, _P):
        p2 = np.abs(phi / C.M_HALFPI)
        bad = (p2 - TOL) > 1.0
        p2 = np.minimum(p2, 1.0)
        eq = np.abs(phi) <= TOL
        on_axis = (np.abs(lam) <= TOL) | (np.abs(p2 - 1.0) < TOL)

        with np.errstate(divide="ignore", invalid="ignore"):
            al = 0.5 * np.abs(C.M_PI / lam - lam / C.M_PI)
            al2 = al * al
            g = np.sqrt(np.maximum(1.0 - p2 * p2, 0.0))
            g = g / (p2 + g - 1.0)
            g2 = g * g
            pp = g * (2.0 / p2 - 1.0)
            pp2 = pp * pp
            xg = g - pp2
            gg = pp2 + al2
            x_main = C.M_PI * (al * xg + np.sqrt(np.maximum(al2 * xg * xg - gg * (g2 - pp2), 0.0))) / gg
        x_main = np.where(lam < 0.0, -x_main, x_main)
        y_main = np.abs(x_main / C.M_PI)
        y_main = 1.0 - y_main * (y_main + 2.0 * al)
        neg_y = y_main < -TOL
        y_main = np.where(y_main < 0.0, 0.0, y_main)
        y_main = np.sqrt(y_main) * np.where(phi < 0.0, -C.M_PI, C.M_PI)

        y_axis = C.M_PI * np.tan(0.5 * np.arcsin(np.clip(p2, -1, 1)))
        y_axis = np.where(phi < 0.0, -y_axis, y_axis)

        x = np.where(eq, lam, np.where(on_axis, 0.0, x_main))
        y = np.where(eq, 0.0, np.where(on_axis, y_axis, y_main))
        err = bad | (neg_y & ~eq & ~on_axis)
        return np.where(err, np.nan, x), np.where(err, np.nan, y), z, t

    def inv(x, y, z, t, _P):
        x2 = x * x
        ay = np.abs(y)
        flat = ay < TOL
        tt0 = x2 * x2 + TPISQ * (x2 + HPISQ)
        with np.errstate(divide="ignore", invalid="ignore"):
            lam_flat = np.where(np.abs(x) <= TOL, 0.0,
                                0.5 * (x2 - PISQ + np.sqrt(tt0)) / np.where(x == 0, 1.0, x))

        y2 = y * y
        r = x2 + y2
        r2 = r * r
        c1 = -C.M_PI * ay * (r + PISQ)
        c3 = r2 + C.M_TWOPI * (ay * r + C.M_PI * (y2 + C.M_PI * (ay + C.M_HALFPI)))
        c2 = c1 + PISQ * (r - 3.0 * y2)
        c0 = C.M_PI * ay
        c2 = c2 / c3
        al = c1 / c3 - THIRD * c2 * c2
        m = 2.0 * np.sqrt(np.maximum(-THIRD * al, 0.0))
        d = C2_27 * c2 * c2 * c2 + (c0 * c0 - THIRD * c2 * c1) / c3
        al_m = al * m
        degenerate = np.abs(al_m) < 1e-16
        with np.errstate(divide="ignore", invalid="ignore"):
            d = 3.0 * d / np.where(degenerate, 1.0, al_m)
        td = np.abs(d)
        bad = (td - TOL) > 1.0
        d = np.where(td > 1.0, np.where(d > 0.0, 0.0, C.M_PI),
                     np.arccos(np.clip(d, -1, 1)))
        phi = C.M_PI * (m * np.cos(d * THIRD + PI4_3) - THIRD * c2)
        phi = np.where(y < 0.0, -phi, phi)
        tt = r2 + TPISQ * (x2 - y2 + HPISQ)
        with np.errstate(divide="ignore", invalid="ignore"):
            lam = np.where(np.abs(x) <= TOL, 0.0,
                           0.5 * (r - PISQ + np.where(tt <= 0.0, 0.0, np.sqrt(np.maximum(tt, 0)))) / np.where(x == 0, 1.0, x))
        err = (bad | degenerate) & ~flat
        phi = np.where(flat, 0.0, phi)
        lam = np.where(flat, lam_flat, lam)
        return np.where(err, np.nan, lam), np.where(err, np.nan, phi), z, t

    P.es = 0.0
    return _finish(P, fwd, inv)
