"""Cylindrical/pseudocylindrical/misc-spherical batch 3.

References (src/projections/): cc.cpp, tcc.cpp, tcea.cpp, loxim.cpp,
collg.cpp, crast.cpp, fahey.cpp, fouc_s.cpp, wink1.cpp, wink2.cpp,
boggs.cpp, denoy.cpp, aitoff.cpp (aitoff, wintri), hammer.cpp, nell.cpp,
nell_h.cpp, mbt_fps.cpp, natearth.cpp, natearth2.cpp, times.cpp,
comill.cpp.  Inverse of wink2/aitoff/wintri via the generic 2D Newton
inverse (src/generic_inverse.cpp:44).
"""

from __future__ import annotations

import math

import numpy as np

from proj_4_spark.kernels import common as C
from proj_4_spark.kernels.base import PJ, ProjError, spherical

_EPS10 = 1e-10


def _newton(phi0, k, num_den, niter, tol):
    """Generic masked Newton loop: phi -= V where V = num_den(phi, k).
    Returns (phi, converged)."""
    ph = phi0.copy()
    converged = np.zeros(ph.shape, dtype=bool)
    active = np.isfinite(ph)
    for _ in range(niter):
        if not active.any():
            break
        V = num_den(ph[active], k[active])
        ph[active] = ph[active] - V
        done = np.abs(V) < tol
        cv = converged[active]
        cv |= done
        converged[active] = cv
        nxt = active.copy()
        nxt[active] = ~done
        active = nxt
    return ph, converged


def setup_cc(P: PJ) -> PJ:
    """cc.cpp."""
    def fwd(lam, phi, z, t, _P):
        bad = np.abs(np.abs(phi) - C.M_HALFPI) <= _EPS10
        return np.where(bad, np.nan, lam), np.where(bad, np.nan, np.tan(phi)), z, t

    def inv(x, y, z, t, _P):
        return x, np.arctan(y), z, t

    return spherical(P, fwd, inv)


def setup_tcc(P: PJ) -> PJ:
    """tcc.cpp (no inverse)."""
    def fwd(lam, phi, z, t, _P):
        b = np.cos(phi) * np.sin(lam)
        bt = 1.0 - b * b
        bad = bt < _EPS10
        with np.errstate(divide="ignore", invalid="ignore"):
            x = b / np.sqrt(np.where(bad, 1.0, bt))
        y = np.arctan2(np.tan(phi), np.cos(lam))
        return np.where(bad, np.nan, x), np.where(bad, np.nan, y), z, t

    return spherical(P, fwd, None)


def setup_tcea(P: PJ) -> PJ:
    """tcea.cpp."""
    def fwd(lam, phi, z, t, _P):
        x = np.cos(phi) * np.sin(lam) / _P.k0
        y = _P.k0 * (np.arctan2(np.tan(phi), np.cos(lam)) - _P.phi0)
        return x, y, z, t

    def inv(x, y, z, t, _P):
        yy = y / _P.k0 + _P.phi0
        xx = x * _P.k0
        tt = np.sqrt(np.maximum(1.0 - xx * xx, 0.0))
        phi = np.arcsin(np.clip(tt * np.sin(yy), -1, 1))
        lam = np.arctan2(xx, tt * np.cos(yy))
        return lam, phi, z, t

    return spherical(P, fwd, inv)


def setup_loxim(P: PJ) -> PJ:
    """loxim.cpp (EPS=1e-8)."""
    EPS = 1e-8
    phi1 = P.param_r("lat_1")
    cosphi1 = math.cos(phi1)
    if cosphi1 < EPS:
        raise ProjError("lat_larger_than_90")
    tanphi1 = math.tan(C.M_FORTPI + 0.5 * phi1)

    def fwd(lam, phi, z, t, _P):
        y = phi - phi1
        small = np.abs(y) < EPS
        xv = C.M_FORTPI + 0.5 * phi
        degenerate = (np.abs(xv) < EPS) | (np.abs(np.abs(xv) - C.M_HALFPI) < EPS)
        with np.errstate(divide="ignore", invalid="ignore"):
            x_big = lam * y / np.log(np.tan(xv) / tanphi1)
        x = np.where(small, lam * cosphi1, np.where(degenerate, 0.0, x_big))
        return x, y, z, t

    def inv(x, y, z, t, _P):
        phi = y + phi1
        small = np.abs(y) < EPS
        lv = C.M_FORTPI + 0.5 * phi
        degenerate = (np.abs(lv) < EPS) | (np.abs(np.abs(lv) - C.M_HALFPI) < EPS)
        with np.errstate(divide="ignore", invalid="ignore"):
            lam_big = x * np.log(np.tan(lv) / tanphi1) / y
        lam = np.where(small, x / cosphi1, np.where(degenerate, 0.0, lam_big))
        return lam, phi, z, t

    return spherical(P, fwd, inv)


def setup_collg(P: PJ) -> PJ:
    """collg.cpp."""
    FXC, FYC, ONEEPS = 1.12837916709551257390, 1.77245385090551602729, 1.0000001

    def fwd(lam, phi, z, t, _P):
        y = 1.0 - np.sin(phi)
        y = np.where(y <= 0.0, 0.0, np.sqrt(np.maximum(y, 0)))
        x = FXC * lam * y
        y = FYC * (1.0 - y)
        return x, y, z, t

    def inv(x, y, z, t, _P):
        phi = y / FYC - 1.0
        phi = 1.0 - phi * phi
        big = np.abs(phi) >= 1.0
        bad = np.abs(phi) > ONEEPS
        phi = np.where(big, np.where(phi < 0, -C.M_HALFPI, C.M_HALFPI),
                       np.arcsin(np.clip(phi, -1, 1)))
        lamd = 1.0 - np.sin(phi)
        with np.errstate(divide="ignore", invalid="ignore"):
            lam = np.where(lamd <= 0.0, 0.0, x / (FXC * np.sqrt(np.where(lamd <= 0, 1.0, lamd))))
        phi = np.where(bad, np.nan, phi)
        lam = np.where(bad, np.nan, lam)
        return lam, phi, z, t

    return spherical(P, fwd, inv)


def setup_crast(P: PJ) -> PJ:
    """crast.cpp."""
    XM, RXM, YM, RYM = 0.97720502380583984317, 1.02332670794648848847, 3.06998012383946546542, 0.32573500793527994772
    TH = 0.333333333333333333

    def fwd(lam, phi, z, t, _P):
        ph = phi * TH
        x = XM * lam * (2.0 * np.cos(ph + ph) - 1.0)
        y = YM * np.sin(ph)
        return x, y, z, t

    def inv(x, y, z, t, _P):
        phi = 3.0 * np.arcsin(np.clip(y * RYM, -1, 1))
        lam = x * RXM / (2.0 * np.cos((phi + phi) * TH) - 1)
        return lam, phi, z, t

    return spherical(P, fwd, inv)


def setup_fahey(P: PJ) -> PJ:
    """fahey.cpp."""
    TOL = 1e-6

    def fwd(lam, phi, z, t, _P):
        tp = np.tan(0.5 * phi)
        y = 1.819152 * tp
        x = 0.819152 * lam * C.asqrt(1 - tp * tp)
        return x, y, z, t

    def inv(x, y, z, t, _P):
        yy = y / 1.819152
        phi = 2.0 * np.arctan(yy)
        yy = 1.0 - yy * yy
        with np.errstate(divide="ignore", invalid="ignore"):
            lam = np.where(np.abs(yy) < TOL, 0.0,
                           x / (0.819152 * np.sqrt(np.where(yy <= 0, 1.0, yy))))
        return lam, phi, z, t

    return spherical(P, fwd, inv)


def setup_fouc_s(P: PJ) -> PJ:
    """fouc_s.cpp (Newton NITER=10 TOL=1e-7)."""
    n = P.param_f("n")
    if n < 0.0 or n > 1.0:
        raise ProjError("n_out_of_range")
    n1 = 1.0 - n

    def fwd(lam, phi, z, t, _P):
        tt = np.cos(phi)
        x = lam * tt / (n + n1 * tt)
        y = n * phi + n1 * np.sin(phi)
        return x, y, z, t

    def inv(x, y, z, t, _P):
        if n != 0.0:
            ph, conv = _newton(
                y.copy(), y,
                lambda p, k: (n * p + n1 * np.sin(p) - k) / (n + n1 * np.cos(p)),
                10, 1e-7,
            )
            ph = np.where(conv, ph, np.where(y < 0.0, -C.M_HALFPI, C.M_HALFPI))
        else:
            ph = C.aasin(y)
        V = np.cos(ph)
        lam = x * (n + n1 * V) / V
        return lam, ph, z, t

    return spherical(P, fwd, inv)


def setup_wink1(P: PJ) -> PJ:
    """wink1.cpp."""
    cosphi1 = math.cos(P.param_r("lat_ts"))

    def fwd(lam, phi, z, t, _P):
        return 0.5 * lam * (cosphi1 + np.cos(phi)), phi, z, t

    def inv(x, y, z, t, _P):
        return 2.0 * x / (cosphi1 + np.cos(y)), y, z, t

    return spherical(P, fwd, inv)


def setup_wink2(P: PJ) -> PJ:
    """wink2.cpp (fwd Newton; inverse = generic 2D Newton)."""
    cosphi1 = math.cos(P.param_r("lat_1"))

    def _fwd_core(lam, phi):
        y0 = phi * C.M_TWOPI / C.M_PI / 2  # M_TWO_D_PI * phi = 2/pi * phi
        y0 = phi * (2.0 / C.M_PI)
        k = C.M_PI * np.sin(phi)
        ph, conv = _newton(
            phi * 1.8, k,
            lambda p, kk: (p + np.sin(p) - kk) / (1.0 + np.cos(p)),
            10, 1e-7,
        )
        ph = np.where(conv, ph * 0.5, np.where(ph < 0, -C.M_HALFPI, C.M_HALFPI))
        x = 0.5 * lam * (np.cos(ph) + cosphi1)
        y = C.M_FORTPI * (np.sin(ph) + y0)
        return x, y

    def fwd(lam, phi, z, t, _P):
        x, y = _fwd_core(lam, phi)
        return x, y, z, t

    def inv(x, y, z, t, _P):
        lam, phi = C.generic_inverse_2d(_fwd_core, _P, x, y, x, y)
        return lam, phi, z, t

    return spherical(P, fwd, inv)


def setup_boggs(P: PJ) -> PJ:
    """boggs.cpp (no inverse; NITER=20, EPS=1e-7)."""
    FXC, FXC2, FYC = 2.00276, 1.11072, 0.49931

    def fwd(lam, phi, z, t, _P):
        at_pole = np.abs(np.abs(phi) - C.M_HALFPI) < 1e-7
        k = np.sin(phi) * C.M_PI
        theta, _conv = _newton(
            phi.copy(), k,
            lambda p, kk: (p + np.sin(p) - kk) / (1.0 + np.cos(p)),
            20, 1e-7,
        )
        theta = theta * 0.5
        with np.errstate(divide="ignore", invalid="ignore"):
            x = FXC * lam / (1.0 / np.cos(phi) + FXC2 / np.cos(theta))
        x = np.where(at_pole, 0.0, x)
        y = FYC * (phi + math.sqrt(2.0) * np.sin(theta))
        return x, y, z, t

    return spherical(P, fwd, None)


def setup_denoy(P: PJ) -> PJ:
    """denoy.cpp (no inverse)."""
    C0, C1, C3 = 0.95, -0.08333333333333333333, 0.00166666666666666666
    D1, D5 = 0.9, 0.03

    def fwd(lam, phi, z, t, _P):
        al = np.abs(lam)
        x = lam * np.cos(
            (C0 + al * (C1 + al * al * C3))
            * (phi * (D1 + D5 * phi * phi * phi * phi))
        )
        return x, phi, z, t

    return spherical(P, fwd, None)


def _aitoff_like(P: PJ, winkel: bool, cosphi1: float) -> PJ:
    """aitoff.cpp: fwd 33-56; inverse via generic 2D Newton (the reference
    uses a bespoke double loop converging to 1e-12 rad — the generic Newton
    reaches the same fixed point within gie tolerances)."""

    def _fwd_core(lam, phi):
        c = 0.5 * lam
        d = np.arccos(np.clip(np.cos(phi) * np.cos(c), -1, 1))
        with np.errstate(divide="ignore", invalid="ignore"):
            inv_sin_d = np.where(d != 0.0, 1.0 / np.sin(np.where(d == 0, 1.0, d)), 0.0)
        x = np.where(d != 0.0, 2.0 * d * np.cos(phi) * np.sin(c) * inv_sin_d, 0.0)
        y = np.where(d != 0.0, d * np.sin(phi) * inv_sin_d, 0.0)
        if winkel:
            x = (x + lam * cosphi1) * 0.5
            y = (y + phi) * 0.5
        return x, y

    def fwd(lam, phi, z, t, _P):
        x, y = _fwd_core(lam, phi)
        return x, y, z, t

    def inv(x, y, z, t, _P):
        lam, phi = C.generic_inverse_2d(_fwd_core, _P, x, y, x, y)
        return lam, phi, z, t

    return spherical(P, fwd, inv)


def setup_aitoff(P: PJ) -> PJ:
    return _aitoff_like(P, False, 0.0)


def setup_wintri(P: PJ) -> PJ:
    if P.has("lat_1"):
        cosphi1 = math.cos(P.param_r("lat_1"))
        if cosphi1 == 0.0:
            raise ProjError("lat_larger_than_90")
    else:
        cosphi1 = 0.636619772367581343  # acos(2/pi), aitoff.cpp
    return _aitoff_like(P, True, cosphi1)


def setup_hammer(P: PJ) -> PJ:
    """hammer.cpp."""
    EPS = 1e-10
    if P.has("W"):
        w = abs(P.param_f("W"))
        if w <= 0.0:
            raise ProjError("w_or_m_zero_or_less")
    else:
        w = 0.5
    if P.has("M"):
        m = abs(P.param_f("M"))
        if m <= 0.0:
            raise ProjError("w_or_m_zero_or_less")
    else:
        m = 1.0
    rm = 1.0 / m
    m = m / w

    def fwd(lam, phi, z, t, _P):
        cosphi = np.cos(phi)
        lw = lam * w
        denom = 1.0 + cosphi * np.cos(lw)
        bad = denom == 0.0
        with np.errstate(divide="ignore", invalid="ignore"):
            d = np.sqrt(2.0 / np.where(bad, 1.0, denom))
        x = m * d * cosphi * np.sin(lw)
        y = rm * d * np.sin(phi)
        return np.where(bad, np.nan, x), np.where(bad, np.nan, y), z, t

    def inv(x, y, z, t, _P):
        zz = np.sqrt(np.maximum(1.0 - 0.25 * w * w * x * x - 0.25 * y * y, 0.0))
        bad = np.abs(2.0 * zz * zz - 1.0) < EPS
        lam = C.aatan2(w * x * zz, 2.0 * zz * zz - 1) / w
        phi = C.aasin(zz * y)
        return np.where(bad, np.nan, lam), np.where(bad, np.nan, phi), z, t

    return spherical(P, fwd, inv)


def setup_nell(P: PJ) -> PJ:
    """nell.cpp (Newton MAX_ITER=10 TOL=1e-7)."""
    def fwd(lam, phi, z, t, _P):
        k = 2.0 * np.sin(phi)
        p2 = phi * phi
        ph0 = phi * (1.00371 + p2 * (-0.0935382 + p2 * -0.011412))
        ph, _ = _newton(
            ph0, k,
            lambda p, kk: (p + np.sin(p) - kk) / (1.0 + np.cos(p)),
            10, 1e-7,
        )
        x = 0.5 * lam * (1.0 + np.cos(ph))
        return x, ph, z, t

    def inv(x, y, z, t, _P):
        lam = 2.0 * x / (1.0 + np.cos(y))
        phi = C.aasin(0.5 * (y + np.sin(y)))
        return lam, phi, z, t

    return spherical(P, fwd, inv)


def setup_nell_h(P: PJ) -> PJ:
    """nell_h.cpp (inverse Newton NITER=9 EPS=1e-7)."""
    def fwd(lam, phi, z, t, _P):
        x = 0.5 * lam * (1.0 + np.cos(phi))
        y = 2.0 * (phi - np.tan(0.5 * phi))
        return x, y, z, t

    def inv(x, y, z, t, _P):
        p = 0.5 * y
        ph, conv = _newton(
            np.zeros_like(y), p,
            lambda ph_, pp: (ph_ - np.tan(ph_ / 2) - pp)
            / (1.0 - 0.5 / (np.cos(0.5 * ph_) ** 2)),
            9, 1e-7,
        )
        lam = np.where(conv, 2.0 * x / (1.0 + np.cos(ph)), 2.0 * x)
        phi = np.where(conv, ph, np.where(p < 0.0, -C.M_HALFPI, C.M_HALFPI))
        return lam, phi, z, t

    return spherical(P, fwd, inv)


def setup_mbt_fps(P: PJ) -> PJ:
    """mbt_fps.cpp."""
    C1, C2, C3 = 0.45503, 1.36509, 1.41546
    C_x, C_y, C1_2 = 0.22248, 1.44492, 0.33333333333333333333333333

    def fwd(lam, phi, z, t, _P):
        k = C3 * np.sin(phi)
        ph, _ = _newton(
            phi.copy(), k,
            lambda p, kk: (C1 * np.sin(p / C2) + np.sin(p) - kk)
            / (C1_2 * np.cos(p / C2) + np.cos(p)),
            10, 1e-7,
        )
        tt = ph / C2
        x = C_x * lam * (1.0 + 3.0 * np.cos(ph) / np.cos(tt))
        y = C_y * np.sin(tt)
        return x, y, z, t

    def inv(x, y, z, t, _P):
        tt = C.aasin(y / C_y)
        phi = C2 * tt
        lam = x / (C_x * (1.0 + 3.0 * np.cos(phi) / np.cos(tt)))
        phi = C.aasin((C1 * np.sin(tt) + np.sin(phi)) / C3)
        return lam, phi, z, t

    return spherical(P, fwd, inv)


def _poly_cyl(P: PJ, fwd_x, fwd_y, B_coef, C_coef, max_y, lam_from):
    """Shared Newton-on-y inverse pattern (natearth/natearth2/comill)."""

    def fwd(lam, phi, z, t, _P):
        return fwd_x(lam, phi), fwd_y(phi), z, t

    def inv(x, y, z, t, _P):
        yv = np.clip(y, -max_y, max_y)
        yc = yv.copy()
        converged = np.zeros(yc.shape, dtype=bool)
        active = np.isfinite(yc)
        for _ in range(100):
            if not active.any():
                break
            f = fwd_y(yc[active]) - yv[active]
            fder = C_coef(yc[active])
            tol = f / fder
            yc[active] = yc[active] - tol
            done = np.abs(tol) < 1e-11
            cv = converged[active]
            cv |= done
            converged[active] = cv
            nxt = active.copy()
            nxt[active] = ~done
            active = nxt
        phi = np.where(converged, yc, np.nan)
        lam = np.where(converged, lam_from(x, yc), np.nan)
        return lam, phi, z, t

    return spherical(P, fwd, inv)


def setup_natearth(P: PJ) -> PJ:
    """natearth.cpp."""
    A0, A1, A2, A3, A4 = 0.8707, -0.131979, -0.013791, 0.003971, -0.001529
    B0, B1, B2, B3, B4 = 1.007226, 0.015085, -0.044475, 0.028874, -0.005916

    def xfac(phi):
        p2 = phi * phi
        p4 = p2 * p2
        return A0 + p2 * (A1 + p2 * (A2 + p4 * p2 * (A3 + p2 * A4)))

    return _poly_cyl(
        P,
        lambda lam, phi: lam * xfac(phi),
        lambda phi: phi * (B0 + phi * phi * (B1 + (phi * phi) ** 2 * (B2 + B3 * phi * phi + B4 * (phi * phi) ** 2))),
        None,
        lambda y: B0 + y * y * (3 * B1 + (y * y) ** 2 * (7 * B2 + 9 * B3 * y * y + 11 * B4 * (y * y) ** 2)),
        0.8707 * 0.52 * C.M_PI,
        lambda x, yc: x / xfac(yc),
    )


def setup_natearth2(P: PJ) -> PJ:
    """natearth2.cpp."""
    A0, A1, A2, A3, A4, A5 = 0.84719, -0.13063, -0.04515, 0.05494, -0.02326, 0.00331
    B0, B1, B2, B3 = 1.01183, -0.02625, 0.01926, -0.00396

    def xfac(phi):
        p2 = phi * phi
        p4 = p2 * p2
        p6 = p2 * p4
        return A0 + A1 * p2 + p6 * p6 * (A2 + A3 * p2 + A4 * p4 + A5 * p6)

    def yfn(phi):
        p2 = phi * phi
        p4 = p2 * p2
        return phi * (B0 + p4 * p4 * (B1 + B2 * p2 + B3 * p4))

    def yder(y):
        y2 = y * y
        y4 = y2 * y2
        return B0 + y4 * y4 * (9 * B1 + 11 * B2 * y2 + 13 * B3 * y4)

    return _poly_cyl(P, lambda lam, phi: lam * xfac(phi), yfn, None, yder,
                     0.84719 * 0.535117535153096 * C.M_PI,
                     lambda x, yc: x / xfac(yc))


def setup_comill(P: PJ) -> PJ:
    """comill.cpp."""
    K1, K2, K3 = 0.9902, 0.1604, -0.03054

    return _poly_cyl(
        P,
        lambda lam, phi: lam,
        lambda phi: phi * (K1 + phi * phi * (K2 + K3 * phi * phi)),
        None,
        lambda y: K1 + y * y * (3 * K2 + 5 * K3 * y * y),
        0.6000207669862655 * C.M_PI,
        lambda x, yc: x,
    )


def setup_times(P: PJ) -> PJ:
    """times.cpp."""
    def fwd(lam, phi, z, t, _P):
        T = np.tan(phi / 2.0)
        S = np.sin(C.M_FORTPI * T)
        x = lam * (0.74482 - 0.34588 * S * S)
        y = 1.70711 * T
        return x, y, z, t

    def inv(x, y, z, t, _P):
        T = y / 1.70711
        S = np.sin(C.M_FORTPI * T)
        lam = x / (0.74482 - 0.34588 * S * S)
        phi = 2 * np.arctan(T)
        return lam, phi, z, t

    return spherical(P, fwd, inv)
