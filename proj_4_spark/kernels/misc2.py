"""Misc spherical batch 4: globular/novelty + two-point + oblated.

References (src/projections/): nicol.cpp, bacon.cpp (bacon/apian/ortel),
august.cpp, lagrng.cpp, vandg2.cpp (vandg2/vandg3), vandg4.cpp,
mbtfpp.cpp, mbtfpq.cpp, sts.cpp (kav5/qua_aut/fouc/mbt_s), oea.cpp,
tpeqd.cpp.
"""

from __future__ import annotations

import math

import numpy as np

from proj_4_spark.kernels import common as C
from proj_4_spark.kernels.base import PJ, ProjError, spherical

_TOL = 1e-10


def setup_nicol(P: PJ) -> PJ:
    """nicol.cpp (no inverse)."""
    EPS = 1e-10

    def fwd(lam, phi, z, t, _P):
        with np.errstate(divide="ignore", invalid="ignore"):
            tb = C.M_HALFPI / lam - lam / C.M_HALFPI
            c = phi / C.M_HALFPI
            sp = np.sin(phi)
            d = (1 - c * c) / (sp - c)
            r2 = (tb / d) ** 2
            m = (tb * sp / d - 0.5 * tb) / (1.0 + r2)
            n = (sp / r2 + 0.5 * d) / (1.0 + 1.0 / r2)
            xg = np.sqrt(m * m + np.cos(phi) ** 2 / (1.0 + r2))
            x_main = C.M_HALFPI * (m + np.where(lam < 0.0, -xg, xg))
            yg = np.sqrt(np.maximum(n * n - (sp * sp / r2 + d * sp - 1.0) / (1.0 + 1.0 / r2), 0))
            y_main = C.M_HALFPI * (n + np.where(phi < 0.0, yg, -yg))
        lam0c = np.abs(lam) < EPS
        phi0c = np.abs(phi) < EPS
        lam90 = np.abs(np.abs(lam) - C.M_HALFPI) < EPS
        phi90 = np.abs(np.abs(phi) - C.M_HALFPI) < EPS
        x = np.select(
            [lam0c, phi0c, lam90, phi90],
            [np.zeros_like(lam), lam, lam * np.cos(phi), np.zeros_like(lam)],
            x_main,
        )
        y = np.select(
            [lam0c, phi0c, lam90, phi90],
            [phi, np.zeros_like(phi), C.M_HALFPI * np.sin(phi), phi],
            y_main,
        )
        return x, y, z, t

    return spherical(P, fwd)


def _bacon_like(P: PJ, bacn: bool, ortl: bool) -> PJ:
    """bacon.cpp."""
    HLFPI2 = 2.46740110027233965467
    EPS = 1e-10

    def fwd(lam, phi, z, t, _P):
        y = C.M_HALFPI * np.sin(phi) if bacn else phi
        ax = np.abs(lam)
        f = 0.5 * (HLFPI2 / ax + ax)
        with np.errstate(invalid="ignore", divide="ignore"):
            x_in = ax - f + np.sqrt(np.maximum(f * f - y * y, 0))
            x_ortl = np.sqrt(np.maximum(HLFPI2 - phi * phi + EPS, 0)) + ax - C.M_HALFPI
        if ortl:
            x = np.where(ax >= C.M_HALFPI, x_ortl, x_in)
        else:
            x = x_in
        x = np.where(lam < 0.0, -x, x)
        x = np.where(ax < EPS, 0.0, x)
        return x, y, z, t

    return spherical(P, fwd)


def setup_bacon(P: PJ) -> PJ:
    return _bacon_like(P, True, False)


def setup_apian(P: PJ) -> PJ:
    return _bacon_like(P, False, False)


def setup_ortel(P: PJ) -> PJ:
    return _bacon_like(P, False, True)


def setup_august(P: PJ) -> PJ:
    """august.cpp (no inverse)."""
    M = 1.333333333333333

    def fwd(lam, phi, z, t, _P):
        tt = np.tan(0.5 * phi)
        c1 = np.sqrt(np.maximum(1.0 - tt * tt, 0))
        hl = lam * 0.5
        c = 1.0 + c1 * np.cos(hl)
        x1 = np.sin(hl) * c1 / c
        y1 = tt / c
        x12 = x1 * x1
        y12 = y1 * y1
        x = M * x1 * (3.0 + x12 - 3.0 * y12)
        y = M * y1 * (3.0 + 3.0 * x12 - y12)
        return x, y, z, t

    return spherical(P, fwd)


def setup_lagrng(P: PJ) -> PJ:
    """lagrng.cpp."""
    w = P.param_f("W") if P.has("W") else 2.0
    if w <= 0:
        raise ProjError("w_or_m_zero_or_less")
    hw = 0.5 * w
    rw = 1.0 / w
    hrw = 0.5 * rw
    sin_phi1 = math.sin(P.param_r("lat_1"))
    if abs(abs(sin_phi1) - 1.0) < _TOL:
        raise ProjError("lat_larger_than_90")
    a1 = math.pow((1.0 - sin_phi1) / (1.0 + sin_phi1), hrw)
    a2 = a1 * a1

    def fwd(lam, phi, z, t, _P):
        sin_phi = np.sin(phi)
        polar = np.abs(np.abs(sin_phi) - 1) < _TOL
        with np.errstate(divide="ignore", invalid="ignore"):
            v = a1 * np.power((1.0 + sin_phi) / (1.0 - sin_phi), hrw)
        lw = lam * rw
        c = 0.5 * (v + 1.0 / v) + np.cos(lw)
        bad = (c < _TOL) & ~polar
        with np.errstate(divide="ignore", invalid="ignore"):
            x = 2.0 * np.sin(lw) / c
            y = (v - 1.0 / v) / c
        x = np.where(polar, 0.0, x)
        y = np.where(polar, np.where(phi < 0, -2.0, 2.0), y)
        return np.where(bad, np.nan, x), np.where(bad, np.nan, y), z, t

    def inv(x, y, z, t, _P):
        polar = np.abs(np.abs(y) - 2.0) < _TOL
        x2 = x * x
        y2p = 2.0 + y
        y2m = 2.0 - y
        c = y2p * y2m - x2
        bad = (np.abs(c) < _TOL) & ~polar
        with np.errstate(divide="ignore", invalid="ignore"):
            phi = 2.0 * np.arctan(np.power((y2p * y2p + x2) / (a2 * (y2m * y2m + x2)), hw)) - C.M_HALFPI
            lam = w * np.arctan2(4.0 * x, c)
        phi = np.where(polar, np.where(y < 0, -C.M_HALFPI, C.M_HALFPI), phi)
        lam = np.where(polar, 0.0, lam)
        return np.where(bad, np.nan, lam), np.where(bad, np.nan, phi), z, t

    return spherical(P, fwd, inv)


def _vandg23(P: PJ, vdg3: bool) -> PJ:
    """vandg2.cpp (no inverse)."""
    TWO_D_PI = 2.0 / C.M_PI

    def fwd(lam, phi, z, t, _P):
        bt = np.abs(TWO_D_PI * phi)
        ct = 1.0 - bt * bt
        ct = np.where(ct < 0.0, 0.0, np.sqrt(np.maximum(ct, 0)))
        axis = np.abs(lam) < _TOL
        with np.errstate(divide="ignore", invalid="ignore"):
            at = 0.5 * np.abs(C.M_PI / lam - lam / C.M_PI)
            if vdg3:
                x1 = bt / (1.0 + ct)
                x = C.M_PI * (np.sqrt(np.maximum(at * at + 1.0 - x1 * x1, 0)) - at)
                y = C.M_PI * x1
            else:
                x1 = (ct * np.sqrt(1.0 + at * at) - at * ct * ct) / (1.0 + at * at * bt * bt)
                x = C.M_PI * x1
                y = C.M_PI * np.sqrt(np.maximum(1.0 - x1 * (x1 + 2.0 * at) + _TOL, 0))
        x = np.where(lam < 0.0, -x, x)
        y = np.where(phi < 0.0, -y, y)
        y_axis = C.M_PI * np.where(phi < 0.0, -bt, bt) / (1.0 + ct)
        x = np.where(axis, 0.0, x)
        y = np.where(axis, y_axis, y)
        return x, y, z, t

    return spherical(P, fwd)


def setup_vandg2(P: PJ) -> PJ:
    return _vandg23(P, False)


def setup_vandg3(P: PJ) -> PJ:
    return _vandg23(P, True)


def setup_vandg4(P: PJ) -> PJ:
    """vandg4.cpp (no inverse)."""
    TWO_D_PI = 2.0 / C.M_PI

    def fwd(lam, phi, z, t, _P):
        eq = np.abs(phi) < _TOL
        axis = (np.abs(lam) < _TOL) | (np.abs(np.abs(phi) - C.M_HALFPI) < _TOL)
        with np.errstate(divide="ignore", invalid="ignore"):
            bt = np.abs(TWO_D_PI * phi)
            bt2 = bt * bt
            ct = 0.5 * (bt * (8.0 - bt * (2.0 + bt2)) - 5.0) / (bt2 * (bt - 1.0))
            ct2 = ct * ct
            dt = TWO_D_PI * lam
            dt = dt + 1.0 / dt
            dt = np.sqrt(np.maximum(dt * dt - 4.0, 0))
            dt = np.where((np.abs(lam) - C.M_HALFPI) < 0.0, -dt, dt)
            dt2 = dt * dt
            x1 = (bt + ct) ** 2
            tt = bt + 3.0 * ct
            ft = x1 * (bt2 + ct2 * dt2 - 1.0) + (1.0 - bt2) * (
                bt2 * (tt * tt + 4.0 * ct2) + ct2 * (12.0 * bt * ct + 4.0 * ct2)
            )
            x1v = (dt * (x1 + ct2 - 1.0) + 2.0 * np.sqrt(np.maximum(ft, 0))) / (4.0 * x1 + dt2)
            x = C.M_HALFPI * x1v
            y = C.M_HALFPI * np.sqrt(np.maximum(1.0 + dt * np.abs(x1v) - x1v * x1v, 0))
        x = np.where(lam < 0.0, -x, x)
        y = np.where(phi < 0.0, -y, y)
        x = np.where(eq, lam, np.where(axis, 0.0, x))
        y = np.where(eq, 0.0, np.where(axis, phi, y))
        return x, y, z, t

    return spherical(P, fwd)


def setup_mbtfpp(P: PJ) -> PJ:
    """mbtfpp.cpp."""
    CSy, FXC, FYC = 0.95257934441568037152, 0.92582009977255146156, 3.40168025708304504493
    C23, C13, ONEEPS = 2 / 3.0, 1 / 3.0, 1.0000001

    def fwd(lam, phi, z, t, _P):
        ph = np.arcsin(np.clip(CSy * np.sin(phi), -1, 1))
        x = FXC * lam * (2.0 * np.cos(C23 * ph) - 1.0)
        y = FYC * np.sin(C13 * ph)
        return x, y, z, t

    def inv(x, y, z, t, _P):
        phi = y / FYC
        bad1 = np.abs(phi) > ONEEPS
        phi = np.where(np.abs(phi) >= 1.0,
                       np.where(phi < 0.0, -C.M_HALFPI, C.M_HALFPI),
                       np.arcsin(np.clip(phi, -1, 1)))
        phi = phi * 3.0
        lam = x / (FXC * (2.0 * np.cos(C23 * phi) - 1.0))
        sphi = np.sin(phi) / CSy
        bad2 = np.abs(sphi) > ONEEPS
        phi = np.where(np.abs(sphi) >= 1.0,
                       np.where(sphi < 0.0, -C.M_HALFPI, C.M_HALFPI),
                       np.arcsin(np.clip(sphi, -1, 1)))
        bad = bad1 | bad2
        return np.where(bad, np.nan, lam), np.where(bad, np.nan, phi), z, t

    return spherical(P, fwd, inv)


def setup_mbtfpq(P: PJ) -> PJ:
    """mbtfpq.cpp (Newton NITER=20 EPS=1e-7)."""
    CC, RC = 1.70710678118654752440, 0.58578643762690495119
    FYC, RYC = 1.87475828462269495505, 0.53340209679417701685
    FXC, RXC = 0.31245971410378249250, 3.20041258076506210122
    ONETOL = 1.000001

    def fwd(lam, phi, z, t, _P):
        c = CC * np.sin(phi)
        ph = phi.copy()
        active = np.isfinite(ph)
        for _ in range(20):
            if not active.any():
                break
            th1 = (np.sin(0.5 * ph[active]) + np.sin(ph[active]) - c[active]) / (
                0.5 * np.cos(0.5 * ph[active]) + np.cos(ph[active])
            )
            ph[active] = ph[active] - th1
            done = np.abs(th1) < 1e-7
            nxt = active.copy()
            nxt[active] = ~done
            active = nxt
        x = FXC * lam * (1.0 + 2.0 * np.cos(ph) / np.cos(0.5 * ph))
        y = FYC * np.sin(0.5 * ph)
        return x, y, z, t

    def inv(x, y, z, t, _P):
        phi = RYC * y
        big = np.abs(phi) > 1.0
        bad1 = np.abs(phi) > ONETOL
        tt = np.where(big, np.where(phi < 0.0, -1.0, 1.0), phi)
        phi = np.where(big, np.where(phi < 0.0, -C.M_PI, C.M_PI),
                       2.0 * np.arcsin(np.clip(phi, -1, 1)))
        lam = RXC * x / (1.0 + 2.0 * np.cos(phi) / np.cos(0.5 * phi))
        phi = RC * (tt + np.sin(phi))
        bad2 = np.abs(phi) > ONETOL
        phi = np.where(np.abs(phi) > 1.0,
                       np.where(phi < 0.0, -C.M_HALFPI, C.M_HALFPI),
                       np.arcsin(np.clip(phi, -1, 1)))
        bad = bad1 | bad2
        return np.where(bad, np.nan, lam), np.where(bad, np.nan, phi), z, t

    return spherical(P, fwd, inv)


def _sts(P: PJ, p: float, q: float, tan_mode: bool) -> PJ:
    """sts.cpp (kav5/qua_aut/fouc/mbt_s)."""
    C_x = q / p
    C_y = p
    C_p = 1.0 / q

    def fwd(lam, phi, z, t, _P):
        x = C_x * lam * np.cos(phi)
        ph = phi * C_p
        c = np.cos(ph)
        if tan_mode:
            x = x * c * c
            y = C_y * np.tan(ph)
        else:
            x = x / c
            y = C_y * np.sin(ph)
        return x, y, z, t

    def inv(x, y, z, t, _P):
        yy = y / C_y
        ph = np.arctan(yy) if tan_mode else C.aasin(yy)
        c = np.cos(ph)
        phi = ph / C_p
        lam = x / (C_x * np.cos(phi))
        lam = lam / (c * c) if tan_mode else lam * c
        return lam, phi, z, t

    return spherical(P, fwd, inv)


def setup_fouc(P: PJ) -> PJ:
    return _sts(P, 2.0, 2.0, True)


def setup_kav5(P: PJ) -> PJ:
    return _sts(P, 1.50488, 1.35439, False)


def setup_qua_aut(P: PJ) -> PJ:
    return _sts(P, 2.0, 2.0, False)


def setup_mbt_s(P: PJ) -> PJ:
    return _sts(P, 1.48875, 1.36509, False)


def setup_oea(P: PJ) -> PJ:
    """oea.cpp."""
    n = P.param_f("n")
    m = P.param_f("m")
    if n <= 0.0 or m <= 0.0:
        raise ProjError("invalid_m_or_n")
    theta = P.param_r("theta")
    sp0 = math.sin(P.phi0)
    cp0 = math.cos(P.phi0)
    rn, rm = 1.0 / n, 1.0 / m
    two_r_n, two_r_m = 2.0 * rn, 2.0 * rm
    hm, hn = 0.5 * m, 0.5 * n

    def fwd(lam, phi, z, t, _P):
        cp = np.cos(phi)
        sp = np.sin(phi)
        cl = np.cos(lam)
        Az = C.aatan2(cp * np.sin(lam), cp0 * sp - sp0 * cp * cl) + theta
        shz = np.sin(0.5 * C.aacos(sp0 * sp + cp0 * cp * cl))
        M = C.aasin(shz * np.sin(Az))
        N = C.aasin(shz * np.cos(Az) * np.cos(M) / np.cos(M * two_r_m))
        y = n * np.sin(N * two_r_n)
        x = m * np.sin(M * two_r_m) * np.cos(N) / np.cos(N * two_r_n)
        return x, y, z, t

    def inv(x, y, z, t, _P):
        N = hn * C.aasin(y * rn)
        M = hm * C.aasin(x * rm * np.cos(N * two_r_n) / np.cos(N))
        xp = 2.0 * np.sin(M)
        yp = 2.0 * np.sin(N) * np.cos(M * two_r_m) / np.cos(M)
        Az = C.aatan2(xp, yp) - theta
        cAz = np.cos(Az)
        zz = 2.0 * C.aasin(0.5 * np.hypot(xp, yp))
        sz = np.sin(zz)
        cz = np.cos(zz)
        phi = C.aasin(sp0 * cz + cp0 * sz * cAz)
        lam = C.aatan2(sz * np.sin(Az), cp0 * cz - sp0 * sz * cAz)
        return lam, phi, z, t

    return spherical(P, fwd, inv)


def setup_tpeqd(P: PJ) -> PJ:
    """tpeqd.cpp."""
    phi_1 = P.param_r("lat_1")
    lam_1 = P.param_r("lon_1")
    phi_2 = P.param_r("lat_2")
    lam_2 = P.param_r("lon_2")
    if phi_1 == phi_2 and lam_1 == lam_2:
        raise ProjError("control_point_no_dist")
    P.lam0 = float(C.adjlon(np.float64(0.5 * (lam_1 + lam_2))))
    dlam2 = float(C.adjlon(np.float64(lam_2 - lam_1)))
    cp1, cp2 = math.cos(phi_1), math.cos(phi_2)
    sp1, sp2 = math.sin(phi_1), math.sin(phi_2)
    cs = cp1 * sp2
    sc = sp1 * cp2
    ccs = cp1 * cp2 * math.sin(dlam2)
    z02 = math.acos(max(-1, min(1, sp1 * sp2 + cp1 * cp2 * math.cos(dlam2))))
    if z02 == 0.0:
        raise ProjError("lat_1_or_2_zero_or_90")
    hz0 = 0.5 * z02
    A12 = math.atan2(cp2 * math.sin(dlam2), cp1 * sp2 - sp1 * cp2 * math.cos(dlam2))
    pp = math.asin(max(-1, min(1, cp1 * math.sin(A12))))
    ca, sa = math.cos(pp), math.sin(pp)
    lp_ = float(C.adjlon(np.float64(math.atan2(cp1 * math.cos(A12), sp1) - hz0)))
    dlam2 *= 0.5
    lamc = C.M_HALFPI - math.atan2(math.sin(A12) * sp1, math.cos(A12)) - dlam2
    thz0 = math.tan(hz0)
    rhshz0 = 0.5 / math.sin(hz0)
    r2z0 = 0.5 / z02
    z02 *= z02

    def fwd(lam, phi, z, t, _P):
        sp = np.sin(phi)
        cp = np.cos(phi)
        dl1 = lam + dlam2
        dl2 = lam - dlam2
        z1 = C.aacos(sp1 * sp + cp1 * cp * np.cos(dl1))
        z2 = C.aacos(sp2 * sp + cp2 * cp * np.cos(dl2))
        z1 = z1 * z1
        z2 = z2 * z2
        tt = z1 - z2
        x = r2z0 * tt
        tt = z02 - tt
        y = r2z0 * C.asqrt(4.0 * z02 * z2 - tt * tt)
        y = np.where((ccs * sp - cp * (cs * np.sin(dl1) - sc * np.sin(dl2))) < 0.0, -y, y)
        return x, y, z, t

    def inv(x, y, z, t, _P):
        cz1 = np.cos(np.hypot(y, x + hz0))
        cz2 = np.cos(np.hypot(y, x - hz0))
        s = cz1 + cz2
        d = cz1 - cz2
        lam = -np.arctan2(d, s * thz0)
        phi = C.aacos(np.hypot(thz0 * s, d) * rhshz0)
        phi = np.where(y < 0.0, -phi, phi)
        sp = np.sin(phi)
        cp = np.cos(phi)
        lam = lam - lp_
        s2 = np.cos(lam)
        phi2 = C.aasin(sa * sp + ca * cp * s2)
        lam2 = np.arctan2(cp * np.sin(lam), sa * cp * s2 - ca * sp) + lamc
        return lam2, phi2, z, t

    return spherical(P, fwd, inv)
