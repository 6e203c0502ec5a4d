"""Modified Stereographic family: mil_os, lee_os, gs48, alsk, gs50.

Reference: src/projections/mod_ster.cpp (complex-series refinement of a
conformal stereographic base; Newton inverse, 20 iterations @1e-12).
"""

from __future__ import annotations

import math

import numpy as np

from proj_4_spark.kernels import common as C
from proj_4_spark.kernels.base import PJ, UNITS_CLASSIC, UNITS_RADIANS
from proj_4_spark.kernels.misc8 import _zpoly1, _zpolyd1

_EPSLN = 1e-12

_MIL = [(0.924500, 0.0), (0.0, 0.0), (0.019430, 0.0)]
_LEE = [(0.721316, 0.0), (0.0, 0.0), (-0.0088162, -0.00617325)]
_GS48 = [(0.98879, 0.0), (0.0, 0.0), (-0.050909, 0.0), (0.0, 0.0),
         (0.075528, 0.0)]
_ALSK_E = [(0.9945303, 0.0), (0.0052083, -0.0027404), (0.0072721, 0.0048181),
           (-0.0151089, -0.1932526), (0.0642675, -0.1381226),
           (0.3582802, -0.2884586)]
_ALSK_S = [(0.9972523, 0.0), (0.0052513, -0.0041175), (0.0074606, 0.0048125),
           (-0.0153783, -0.1968253), (0.0636871, -0.1408027),
           (0.3660976, -0.2937382)]
_GS50_E = [(0.9827497, 0.0), (0.0210669, 0.0053804), (-0.1031415, -0.0571664),
           (-0.0323337, -0.0322847), (0.0502303, 0.1211983),
           (0.0251805, 0.0895678), (-0.0012315, -0.1416121),
           (0.0072202, -0.1317091), (-0.0194029, 0.0759677),
           (-0.0210072, 0.0834037)]
_GS50_S = [(0.9842990, 0.0), (0.0211642, 0.0037608), (-0.1036018, -0.0575102),
           (-0.0329095, -0.0320119), (0.0499471, 0.1223335),
           (0.0260460, 0.0899805), (0.0007388, -0.1435792),
           (0.0075848, -0.1334108), (-0.0216473, 0.0776645),
           (-0.0225161, 0.0853673)]


def _mod_ster(P: PJ, zcoeff) -> PJ:
    """setup + kernels; mod_ster.cpp:14-108."""
    if P.es != 0.0:
        esphi = P.e * math.sin(P.phi0)
        chio = 2.0 * math.atan(
            math.tan((C.M_HALFPI + P.phi0) * 0.5)
            * math.pow((1.0 - esphi) / (1.0 + esphi), P.e * 0.5)
        ) - C.M_HALFPI
    else:
        chio = P.phi0
    schio = math.sin(chio)
    cchio = math.cos(chio)

    def fwd(lam, phi, z, t, _P):
        sinlon = np.sin(lam)
        coslon = np.cos(lam)
        esphi = P.e * np.sin(phi)
        chi = 2.0 * np.arctan(
            np.tan((C.M_HALFPI + phi) * 0.5)
            * np.power((1.0 - esphi) / (1.0 + esphi), P.e * 0.5)
        ) - C.M_HALFPI
        schi = np.sin(chi)
        cchi = np.cos(chi)
        denom = 1.0 + schio * schi + cchio * cchi * coslon
        bad = denom == 0
        with np.errstate(divide="ignore", invalid="ignore"):
            s = 2.0 / np.where(bad, 1.0, denom)
        pr = s * cchi * sinlon
        pi = s * (cchio * schi - schio * cchi * coslon)
        x, y = _zpoly1(pr, pi, zcoeff)
        return np.where(bad, np.nan, x), np.where(bad, np.nan, y), z, t

    def inv(x, y, z, t, _P):
        pr = x.copy()
        pi = y.copy()
        conv1 = np.zeros_like(pr, dtype=bool)
        active = np.isfinite(pr)
        for _ in range(20):
            if not active.any():
                break
            fr, fi, fpr, fpi = _zpolyd1(pr[active], pi[active], zcoeff)
            fr = fr - x[active]
            fi = fi - y[active]
            den = fpr * fpr + fpi * fpi
            dpr = -(fr * fpr + fi * fpi) / den
            dpi = -(fi * fpr - fr * fpi) / den
            pr[active] = pr[active] + dpr
            pi[active] = pi[active] + dpi
            done = (np.abs(dpr) + np.abs(dpi)) <= _EPSLN
            cv = conv1[active]
            cv |= done
            conv1[active] = cv
            nxt = active.copy()
            nxt[active] = ~done
            active = nxt
        rh = np.hypot(pr, pi)
        zz = 2.0 * np.arctan(0.5 * rh)
        sinz = np.sin(zz)
        cosz = np.cos(zz)
        center = np.abs(rh) <= _EPSLN
        rh_safe = np.where(center, 1.0, rh)
        chi = C.aasin(cosz * schio + pi * sinz * cchio / rh_safe)
        # conformal -> geodetic latitude fixed point (<=20 @1e-12)
        phi = chi.copy()
        conv2 = np.zeros_like(phi, dtype=bool)
        active = np.isfinite(phi)
        for _ in range(20):
            if not active.any():
                break
            esphi = P.e * np.sin(phi[active])
            dphi = 2.0 * np.arctan(
                np.tan((C.M_HALFPI + chi[active]) * 0.5)
                * np.power((1.0 + esphi) / (1.0 - esphi), P.e * 0.5)
            ) - C.M_HALFPI - phi[active]
            phi[active] = phi[active] + dphi
            done = np.abs(dphi) <= _EPSLN
            cv = conv2[active]
            cv |= done
            conv2[active] = cv
            nxt = active.copy()
            nxt[active] = ~done
            active = nxt
        lam = np.arctan2(pr * sinz, rh * cchio * cosz - pi * schio * sinz)
        ok = conv1 & conv2
        phi = np.where(center, P.phi0, phi)
        lam = np.where(center, 0.0, lam)
        return np.where(ok | center, lam, np.nan), np.where(ok | center, phi, np.nan), z, t

    P.fwd, P.inv = fwd, inv
    P.left = UNITS_RADIANS
    P.right = UNITS_CLASSIC
    return P


def setup_mil_os(P: PJ) -> PJ:
    P.lam0 = C.DEG_TO_RAD * 20.0
    P.phi0 = C.DEG_TO_RAD * 18.0
    P.es = 0.0
    return _mod_ster(P, _MIL)


def setup_lee_os(P: PJ) -> PJ:
    P.lam0 = C.DEG_TO_RAD * -165.0
    P.phi0 = C.DEG_TO_RAD * -10.0
    P.es = 0.0
    return _mod_ster(P, _LEE)


def setup_gs48(P: PJ) -> PJ:
    P.lam0 = C.DEG_TO_RAD * -96.0
    P.phi0 = C.DEG_TO_RAD * 39.0
    P.es = 0.0
    P.a = 6370997.0
    return _mod_ster(P, _GS48)


def setup_alsk(P: PJ) -> PJ:
    P.lam0 = C.DEG_TO_RAD * -152.0
    P.phi0 = C.DEG_TO_RAD * 64.0
    if P.es != 0.0:
        P.a = 6378206.4
        P.es = 0.00676866
        P.e = math.sqrt(P.es)
        return _mod_ster(P, _ALSK_E)
    P.a = 6370997.0
    return _mod_ster(P, _ALSK_S)


def setup_gs50(P: PJ) -> PJ:
    P.lam0 = C.DEG_TO_RAD * -120.0
    P.phi0 = C.DEG_TO_RAD * 45.0
    if P.es != 0.0:
        P.a = 6378206.4
        P.es = 0.00676866
        P.e = math.sqrt(P.es)
        return _mod_ster(P, _GS50_E)
    P.a = 6370997.0
    return _mod_ster(P, _GS50_S)
