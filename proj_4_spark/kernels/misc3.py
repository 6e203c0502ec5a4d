"""Misc spherical batch 5: simple conics family + novelty forwards.

References (src/projections/): sconics.cpp (euler/murd1/murd2/murd3/
pconic/tissot/vitk1), airy.cpp, gins8.cpp, lask.cpp, larr.cpp,
tobmerc.cpp, rpoly.cpp.
"""

from __future__ import annotations

import math

import numpy as np

from proj_4_spark.kernels import common as C
from proj_4_spark.kernels.base import (PJ, ProjError, UNITS_CLASSIC,
                                       UNITS_RADIANS, spherical)

_EPS10 = 1e-10


def _sconics(P: PJ, type_: str) -> PJ:
    """sconics.cpp:47-160."""
    EPS = 1e-10
    if not (P.has("lat_1") and P.has("lat_2")):
        raise ProjError("missing_args", "lat_1/lat_2 required")
    p1 = P.param_r("lat_1")
    p2 = P.param_r("lat_2")
    sig = 0.5 * (p2 + p1)
    del_ = 0.5 * (p2 - p1)
    if abs(del_) < EPS or abs(sig) < EPS:
        raise ProjError("abs_lat1_eq_abs_lat2")

    c1 = c2 = 0.0
    if type_ == "tissot":
        n = math.sin(sig)
        cs = math.cos(del_)
        rho_c = n / cs + cs / n
        rho_0 = math.sqrt((rho_c - 2 * math.sin(P.phi0)) / n)
    elif type_ == "murd1":
        rho_c = math.sin(del_) / (del_ * math.tan(sig)) + sig
        rho_0 = rho_c - P.phi0
        n = math.sin(sig)
    elif type_ == "murd2":
        cs = math.sqrt(math.cos(del_))
        rho_c = cs / math.tan(sig)
        rho_0 = rho_c + math.tan(sig - P.phi0)
        n = math.sin(sig) * cs
    elif type_ == "murd3":
        rho_c = del_ / (math.tan(sig) * math.tan(del_)) + sig
        rho_0 = rho_c - P.phi0
        n = math.sin(sig) * math.sin(del_) * math.tan(del_) / (del_ * del_)
    elif type_ == "euler":
        n = math.sin(sig) * math.sin(del_) / del_
        del_ *= 0.5
        rho_c = del_ / (math.tan(del_) * math.tan(sig)) + sig
        rho_0 = rho_c - P.phi0
    elif type_ == "pconic":
        n = math.sin(sig)
        c2 = math.cos(del_)
        c1 = 1.0 / math.tan(sig)
        dd = P.phi0 - sig
        if abs(dd) - _EPS10 >= C.M_HALFPI:
            raise ProjError("lat_0_half_pi_from_mean")
        rho_0 = c2 * (c1 - math.tan(dd))
        rho_c = 0.0
    elif type_ == "vitk1":
        cs = math.tan(del_)
        n = cs * math.sin(sig) / del_
        rho_c = del_ / (cs * math.tan(sig)) + sig
        rho_0 = rho_c - P.phi0
    else:
        raise ProjError("invalid_arg", type_)

    def fwd(lam, phi, z, t, _P):
        if type_ == "murd2":
            rho = rho_c + np.tan(sig - phi)
        elif type_ == "pconic":
            rho = c2 * (c1 - np.tan(phi - sig))
        else:
            rho = rho_c - phi
        lamn = lam * n
        return rho * np.sin(lamn), rho_0 - rho * np.cos(lamn), z, t

    def inv(x, y, z, t, _P):
        yy = rho_0 - y
        rho = np.hypot(x, yy)
        if n < 0.0:
            rho = -rho
            x = -x
            yy = -yy
        lam = np.arctan2(x, yy) / n
        if type_ == "pconic":
            phi = np.arctan(c1 - rho / c2) + sig
        elif type_ == "murd2":
            phi = sig - np.arctan(rho - rho_c)
        else:
            phi = rho_c - rho
        return lam, phi, z, t

    return spherical(P, fwd, inv)


def setup_euler(P):
    return _sconics(P, "euler")


def setup_murd1(P):
    return _sconics(P, "murd1")


def setup_murd2(P):
    return _sconics(P, "murd2")


def setup_murd3(P):
    return _sconics(P, "murd3")


def setup_pconic(P):
    return _sconics(P, "pconic")


def setup_tissot(P):
    return _sconics(P, "tissot")


def setup_vitk1(P):
    return _sconics(P, "vitk1")


def setup_airy(P: PJ) -> PJ:
    """airy.cpp (no inverse)."""
    EPS = 1e-10
    no_cut = P.param_b("no_cut")
    beta = 0.5 * (C.M_HALFPI - P.param_r("lat_b"))
    if abs(beta) < EPS:
        Cb = -0.5
    else:
        Cb = 1.0 / math.tan(beta)
        Cb *= Cb * math.log(math.cos(beta))
    if abs(abs(P.phi0) - C.M_HALFPI) < EPS:
        mode = "s_pole" if P.phi0 < 0 else "n_pole"
        p_halfpi = -C.M_HALFPI if P.phi0 < 0 else C.M_HALFPI
        sinph0 = cosph0 = 0.0
    elif abs(P.phi0) < EPS:
        mode = "equit"
        p_halfpi = 0.0
        sinph0 = cosph0 = 0.0
    else:
        mode = "obliq"
        p_halfpi = 0.0
        sinph0 = math.sin(P.phi0)
        cosph0 = math.cos(P.phi0)

    def fwd(lam, phi, z, t, _P):
        sinlam = np.sin(lam)
        coslam = np.cos(lam)
        if mode in ("equit", "obliq"):
            sinphi = np.sin(phi)
            cosphi = np.cos(phi)
            cosz = cosphi * coslam
            if mode == "obliq":
                cosz = sinph0 * sinphi + cosph0 * cosz
            bad = (~np.array(no_cut)) & (cosz < -EPS)
            s = 1.0 - cosz
            tt = 0.5 * (1.0 + cosz)
            with np.errstate(divide="ignore", invalid="ignore"):
                Krho = np.where(
                    np.abs(s) > EPS,
                    -np.log(np.where(tt <= 0, 1.0, tt)) / np.where(s == 0, 1.0, s) - Cb / np.where(tt == 0, 1.0, tt),
                    0.5 - Cb,
                )
            bad = bad | ((tt == 0) & (np.abs(s) > EPS))
            x = Krho * cosphi * sinlam
            if mode == "obliq":
                y = Krho * (cosph0 * sinphi - sinph0 * cosphi * coslam)
            else:
                y = Krho * sinphi
        else:
            ph = np.abs(p_halfpi - phi)
            bad = (~np.array(no_cut)) & ((ph - EPS) > C.M_HALFPI)
            ph = ph * 0.5
            big = ph > EPS
            tt = np.tan(ph)
            with np.errstate(divide="ignore", invalid="ignore"):
                Krho = -2.0 * (np.log(np.cos(ph)) / np.where(tt == 0, 1.0, tt) + tt * Cb)
            x = np.where(big, Krho * sinlam, 0.0)
            y = np.where(big, Krho * coslam, 0.0)
            if mode == "n_pole":
                y = -y
        return np.where(bad, np.nan, x), np.where(bad, np.nan, y), z, t

    return spherical(P, fwd)


def setup_gins8(P: PJ) -> PJ:
    """gins8.cpp (no inverse)."""
    Cl, Cp, C12 = 0.000952426, 0.162388, 0.08333333333333333

    def fwd(lam, phi, z, t, _P):
        tt = phi * phi
        y = phi * (1.0 + tt * C12)
        x = lam * (1.0 - Cp * tt)
        t2 = lam * lam
        x = x * (0.87 - Cl * t2 * t2)
        return x, y, z, t

    return spherical(P, fwd)


def setup_lask(P: PJ) -> PJ:
    """lask.cpp (no inverse)."""
    a10, a12, a32, a14 = 0.975534, -0.119161, -0.0143059, -0.0547009
    b01, b21, b03, b41, b23, b05 = (1.00384, 0.0802894, 0.0998909,
                                    0.000199025, -0.0285500, -0.0491032)

    def fwd(lam, phi, z, t, _P):
        l2 = lam * lam
        p2 = phi * phi
        x = lam * (a10 + p2 * (a12 + l2 * a32 + p2 * a14))
        y = phi * (b01 + l2 * (b21 + p2 * b23 + l2 * b41) + p2 * (b03 + p2 * b05))
        return x, y, z, t

    return spherical(P, fwd)


def setup_larr(P: PJ) -> PJ:
    """larr.cpp (no inverse)."""
    SIXTH = 0.16666666666666666

    def fwd(lam, phi, z, t, _P):
        x = 0.5 * lam * (1.0 + np.sqrt(np.cos(phi)))
        y = phi / (np.cos(0.5 * phi) * np.cos(SIXTH * lam))
        return x, y, z, t

    return spherical(P, fwd)


def setup_tobmerc(P: PJ) -> PJ:
    """tobmerc.cpp (spherical Tobler-Mercator; keeps es untouched)."""

    def fwd(lam, phi, z, t, _P):
        bad = np.abs(np.abs(phi) - C.M_HALFPI) <= _EPS10
        cosphi = np.cos(phi)
        x = _P.k0 * lam * cosphi * cosphi
        y = _P.k0 * C.logtanpfpim1(phi)
        return np.where(bad, np.nan, x), np.where(bad, np.nan, y), z, t

    def inv(x, y, z, t, _P):
        phi = np.arctan(np.sinh(y / _P.k0))
        cosphi = np.cos(phi)
        lam = x / _P.k0 / (cosphi * cosphi)
        return lam, phi, z, t

    P.fwd = fwd
    P.inv = inv
    P.left = UNITS_RADIANS
    P.right = UNITS_CLASSIC
    return P


def setup_rpoly(P: PJ) -> PJ:
    """rpoly.cpp (no inverse)."""
    EPS = 1e-9
    phi1 = abs(P.param_r("lat_ts"))
    mode = phi1 > EPS
    if mode:
        fxb = 0.5 * math.sin(phi1)
        fxa = 0.5 / fxb
    else:
        fxa = fxb = 0.0

    def fwd(lam, phi, z, t, _P):
        if mode:
            fa = np.tan(lam * fxb) * fxa
        else:
            fa = 0.5 * lam
        eq = np.abs(phi) < EPS
        with np.errstate(divide="ignore", invalid="ignore"):
            cot = 1.0 / np.tan(phi)
        fa2 = 2.0 * np.arctan(fa * np.sin(phi))
        x = np.where(eq, fa + fa, np.sin(fa2) * cot)
        y = np.where(eq, -P.phi0, phi - P.phi0 + (1.0 - np.cos(fa2)) * cot)
        return x, y, z, t

    return spherical(P, fwd)
