"""Batch 6: ocea, lcca, nsper/tpers.

References (src/projections/): ocea.cpp, lcca.cpp, nsper.cpp.
"""

from __future__ import annotations

import math

import numpy as np

from proj_4_spark.kernels import common as C
from proj_4_spark.kernels.base import PJ, ProjError, UNITS_CLASSIC, UNITS_RADIANS

_EPS10 = 1e-10


def setup_ocea(P: PJ) -> PJ:
    """ocea.cpp."""
    rok = 1.0 / P.k0
    rtk = P.k0
    if P.has("alpha"):
        alpha = C.M_PI + P.param_r("alpha")
        lonz = P.param_r("lonc")
        lam_p = math.atan2(-math.cos(alpha), -math.sin(P.phi0) * math.sin(alpha)) + lonz
        phi_p = math.asin(math.cos(P.phi0) * math.sin(alpha))
    else:
        phi_1 = P.param_r("lat_1")
        phi_2 = P.param_r("lat_2")
        lam_1 = P.param_r("lon_1")
        lam_2 = P.param_r("lon_2")
        lam_p = math.atan2(
            math.cos(phi_1) * math.sin(phi_2) * math.cos(lam_1)
            - math.sin(phi_1) * math.cos(phi_2) * math.cos(lam_2),
            math.sin(phi_1) * math.cos(phi_2) * math.sin(lam_2)
            - math.cos(phi_1) * math.sin(phi_2) * math.sin(lam_1),
        )
        if lam_1 == -C.M_HALFPI:
            lam_p = -lam_p
        clml = math.cos(lam_p - lam_1)
        tphi1 = math.tan(phi_1)
        if tphi1 == 0.0:
            phi_p = -C.M_HALFPI if clml >= 0.0 else C.M_HALFPI
        else:
            phi_p = math.atan(-clml / tphi1)
    P.lam0 = lam_p + C.M_HALFPI
    cosphi = math.cos(phi_p)
    sinphi = math.sin(phi_p)

    def fwd(lam, phi, z, t, _P):
        yy = np.sin(lam)
        tt = np.cos(lam)
        with np.errstate(divide="ignore", invalid="ignore"):
            x = np.arctan((np.tan(phi) * cosphi + sinphi * yy) / tt)
        x = np.where(tt < 0.0, x + C.M_PI, x)
        x = x * rtk
        y = rok * (sinphi * np.sin(phi) - cosphi * np.cos(phi) * yy)
        return x, y, z, t

    def inv(x, y, z, t, _P):
        yy = y / rok
        xx = x / rtk
        tt = np.sqrt(np.maximum(1.0 - yy * yy, 0.0))
        s = np.sin(xx)
        phi = np.arcsin(np.clip(yy * sinphi + tt * cosphi * s, -1, 1))
        lam = np.arctan2(tt * sinphi * s - yy * cosphi, tt * np.cos(xx))
        return lam, phi, z, t

    P.es = 0.0
    P.fwd, P.inv = fwd, inv
    P.left = UNITS_RADIANS
    P.right = UNITS_CLASSIC
    return P


def setup_lcca(P: PJ) -> PJ:
    """lcca.cpp (inverse Newton MAX_ITER=10 @1e-12)."""
    en = C.enfn(P.es)
    if P.phi0 == 0.0:
        raise ProjError("lat_0_is_zero")
    lfac = math.sin(P.phi0)
    M0 = float(C.mlfn(np.float64(P.phi0), np.float64(lfac), np.float64(math.cos(P.phi0)), en))
    s2p0 = lfac * lfac
    R0 = 1.0 / (1.0 - P.es * s2p0)
    N0 = math.sqrt(R0)
    R0 *= P.one_es * N0
    tan0 = math.tan(P.phi0)
    r0 = N0 / tan0
    Cc = 1.0 / (6.0 * R0 * N0)

    def fS(S):
        return S * (1.0 + S * S * Cc)

    def fSp(S):
        return 1.0 + 3.0 * S * S * Cc

    def fwd(lam, phi, z, t, _P):
        S = C.mlfn(phi, np.sin(phi), np.cos(phi), en) - M0
        dr = fS(S)
        r = r0 - dr
        lml = lam * lfac
        x = _P.k0 * (r * np.sin(lml))
        y = _P.k0 * (r0 - r * np.cos(lml))
        return x, y, z, t

    def inv(x, y, z, t, _P):
        xx = x / _P.k0
        yy = y / _P.k0
        theta = np.arctan2(xx, r0 - yy)
        dr = yy - xx * np.tan(0.5 * theta)
        lam = theta / lfac
        S = dr.copy()
        converged = np.zeros_like(S, dtype=bool)
        active = np.isfinite(S)
        for _ in range(10):
            if not active.any():
                break
            dif = (fS(S[active]) - dr[active]) / fSp(S[active])
            S[active] = S[active] - dif
            done = np.abs(dif) < 1e-12
            cv = converged[active]
            cv |= done
            converged[active] = cv
            nxt = active.copy()
            nxt[active] = ~done
            active = nxt
        phi = C.inv_mlfn(S + M0, P.es, en)
        phi = np.where(converged, phi, np.nan)
        lam = np.where(converged, lam, np.nan)
        return lam, phi, z, t

    P.fwd, P.inv = fwd, inv
    P.left = UNITS_RADIANS
    P.right = UNITS_CLASSIC
    return P


def _nsper_like(P: PJ, tilt: bool) -> PJ:
    """nsper.cpp (nsper/tpers)."""
    height = P.param_f("h")
    if abs(abs(P.phi0) - C.M_HALFPI) < _EPS10:
        mode = "s_pole" if P.phi0 < 0 else "n_pole"
        sinph0 = cosph0 = 0.0
    elif abs(P.phi0) < _EPS10:
        mode = "equit"
        sinph0 = cosph0 = 0.0
    else:
        mode = "obliq"
        sinph0 = math.sin(P.phi0)
        cosph0 = math.cos(P.phi0)
    pn1 = height / P.a
    if pn1 <= 0 or pn1 > 1e10:
        raise ProjError("invalid_h")
    p = 1.0 + pn1
    rp = 1.0 / p
    h = 1.0 / pn1
    pfact = (p + 1.0) * h
    if tilt:
        omega = P.param_r("tilt")
        gamma = P.param_r("azi")
        cg, sg = math.cos(gamma), math.sin(gamma)
        cw, sw = math.cos(omega), math.sin(omega)

    def fwd(lam, phi, z, t, _P):
        sinphi = np.sin(phi)
        cosphi = np.cos(phi)
        coslam = np.cos(lam)
        if mode == "obliq":
            y = sinph0 * sinphi + cosph0 * cosphi * coslam
        elif mode == "equit":
            y = cosphi * coslam
        elif mode == "s_pole":
            y = -sinphi
        else:
            y = sinphi
        bad = y < rp
        with np.errstate(divide="ignore", invalid="ignore"):
            y = pn1 / (p - y)
        x = y * cosphi * np.sin(lam)
        if mode == "obliq":
            y = y * (cosph0 * sinphi - sinph0 * cosphi * coslam)
        elif mode == "equit":
            y = y * sinphi
        else:
            cl = -coslam if mode == "n_pole" else coslam
            y = y * cosphi * cl
        if tilt:
            yt = y * cg + x * sg
            ba = 1.0 / (yt * sw * h + cw)
            x = (x * cg - y * sg) * cw * ba
            y = yt * ba
        return np.where(bad, np.nan, x), np.where(bad, np.nan, y), z, t

    def inv(x, y, z, t, _P):
        if tilt:
            yt = 1.0 / (pn1 - y * sw)
            bm = pn1 * x * yt
            bq = pn1 * y * cw * yt
            x = bm * cg + bq * sg
            y = bq * cg - bm * sg
        rh = np.hypot(x, y)
        center = np.abs(rh) <= _EPS10
        sinz = 1.0 - rh * rh * pfact
        bad = sinz < 0.0
        rh_safe = np.where(rh == 0, 1.0, rh)
        with np.errstate(divide="ignore", invalid="ignore"):
            sinz = (p - np.sqrt(np.maximum(sinz, 0))) / (pn1 / rh_safe + rh_safe / pn1)
        cosz = np.sqrt(np.maximum(1.0 - sinz * sinz, 0))
        if mode == "obliq":
            phi = np.arcsin(np.clip(cosz * sinph0 + y * sinz * cosph0 / rh_safe, -1, 1))
            yy = (cosz - sinph0 * np.sin(phi)) * rh
            xx = x * sinz * cosph0
        elif mode == "equit":
            phi = np.arcsin(np.clip(y * sinz / rh_safe, -1, 1))
            yy = cosz * rh
            xx = x * sinz
        elif mode == "n_pole":
            phi = np.arcsin(np.clip(cosz, -1, 1))
            yy = -y
            xx = x
        else:
            phi = -np.arcsin(np.clip(cosz, -1, 1))
            yy = y
            xx = x
        lam = np.arctan2(xx, yy)
        phi = np.where(center, P.phi0, phi)
        lam = np.where(center, 0.0, lam)
        return np.where(bad, np.nan, lam), np.where(bad, np.nan, phi), z, t

    P.es = 0.0
    P.fwd, P.inv = fwd, inv
    P.left = UNITS_RADIANS
    P.right = UNITS_CLASSIC
    return P


def setup_nsper(P: PJ) -> PJ:
    return _nsper_like(P, False)


def setup_tpers(P: PJ) -> PJ:
    return _nsper_like(P, True)
