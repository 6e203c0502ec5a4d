"""Oblique/national projections: somerc (Swiss), krovak.

References: src/projections/somerc.cpp, src/projections/krovak.cpp.
"""

from __future__ import annotations

import math

import numpy as np

from proj_4_spark.kernels import common as C
from proj_4_spark.kernels.base import PJ, ProjError, UNITS_CLASSIC, UNITS_RADIANS

M_PI_4 = math.pi / 4


def setup_somerc(P: PJ) -> PJ:
    """somerc.cpp (fwd 10-25, inv 27-55, setup 57-80; NITER=6 EPS=1e-10)."""
    hlf_e = 0.5 * P.e
    cp = math.cos(P.phi0)
    cp *= cp
    c = math.sqrt(1 + P.es * cp * cp * P.rone_es)
    sp = math.sin(P.phi0)
    sinp0 = sp / c
    phip0 = math.asin(max(-1.0, min(1.0, sinp0)))
    cosp0 = math.cos(phip0)
    sp *= P.e
    K = math.log(math.tan(M_PI_4 + 0.5 * phip0)) - c * (
        math.log(math.tan(M_PI_4 + 0.5 * P.phi0))
        - hlf_e * math.log((1.0 + sp) / (1.0 - sp))
    )
    kR = P.k0 * math.sqrt(P.one_es) / (1.0 - sp * sp)

    def fwd(lam, phi, z, t, _P):
        sp_ = P.e * np.sin(phi)
        phip = 2.0 * np.arctan(np.exp(
            c * (np.log(np.tan(M_PI_4 + 0.5 * phi))
                 - hlf_e * np.log((1.0 + sp_) / (1.0 - sp_))) + K
        )) - C.M_HALFPI
        lamp = c * lam
        cp_ = np.cos(phip)
        phipp = C.aasin(cosp0 * np.sin(phip) - sinp0 * cp_ * np.cos(lamp))
        lampp = C.aasin(cp_ * np.sin(lamp) / np.cos(phipp))
        x = kR * lampp
        y = kR * np.log(np.tan(M_PI_4 + 0.5 * phipp))
        return x, y, z, t

    def inv(x, y, z, t, _P):
        phipp = 2.0 * (np.arctan(np.exp(y / kR)) - M_PI_4)
        lampp = x / kR
        cp_ = np.cos(phipp)
        phip = C.aasin(cosp0 * np.sin(phipp) + sinp0 * cp_ * np.cos(lampp))
        lamp = C.aasin(cp_ * np.sin(lampp) / np.cos(phip))
        con = (K - np.log(np.tan(M_PI_4 + 0.5 * phip))) / c
        cur = phip.copy()
        converged = np.zeros_like(cur, dtype=bool)
        active = np.isfinite(cur)
        for _ in range(6):
            if not active.any():
                break
            esp = P.e * np.sin(cur[active])
            delp = (
                con[active] + np.log(np.tan(M_PI_4 + 0.5 * cur[active]))
                - hlf_e * np.log((1.0 + esp) / (1.0 - esp))
            ) * (1.0 - esp * esp) * np.cos(cur[active]) * P.rone_es
            cur[active] = cur[active] - delp
            done = np.abs(delp) < 1e-10
            cv = converged[active]
            cv |= done
            converged[active] = cv
            nxt = active.copy()
            nxt[active] = ~done
            active = nxt
        phi = np.where(converged, cur, np.nan)
        lam = np.where(converged, lamp / c, np.nan)
        return lam, phi, z, t

    P.fwd, P.inv = fwd, inv
    P.left = UNITS_RADIANS
    P.right = UNITS_CLASSIC
    return P


def setup_krovak(P: PJ) -> PJ:
    """krovak.cpp:86-240 (Bessel ellipsoid forced; czech sign; S0/UQ
    constants; 100-iteration fixed point @1e-15)."""
    # krovak stomps ONLY a/es/e to Bessel (krovak.cpp:205-208) — P->ra,
    # one_es, rone_es keep the user-ellipsoid values (a documented quirk:
    # CLASSIC descaling in inv_prepare divides by the ORIGINAL a while
    # finalize multiplies by Bessel a; reproduced for parity)
    P.a = 6377397.155
    P.es = 0.006674372230614
    P.e = math.sqrt(P.es)
    if not P.has("lat_0"):
        P.phi0 = 0.863937979737193
    if not P.has("lon_0"):
        P.lam0 = 0.7417649320975901 - 0.308341501185665
    if not P.has("k") and not P.has("k_0"):
        P.k0 = 0.9999

    UQ = 1.04216856380474
    S0 = 1.37008346281555
    czech = 1.0 if P.param_b("czech") else -1.0

    alpha = math.sqrt(1.0 + (P.es * math.cos(P.phi0) ** 4) / (1.0 - P.es))
    u0 = math.asin(math.sin(P.phi0) / alpha)
    g = math.pow((1.0 + P.e * math.sin(P.phi0)) / (1.0 - P.e * math.sin(P.phi0)),
                 alpha * P.e / 2.0)
    thp = math.tan(P.phi0 / 2.0 + M_PI_4)
    if thp == 0.0:
        raise ProjError("invalid_arg")
    k = math.tan(u0 / 2.0 + M_PI_4) / math.pow(thp, alpha) * g
    n0 = math.sqrt(1.0 - P.es) / (1.0 - P.es * math.sin(P.phi0) ** 2)
    n = math.sin(S0)
    rho0 = P.k0 * n0 / math.tan(S0)
    ad = math.pi / 2 - UQ

    def fwd(lam, phi, z, t, _P):
        gfi = np.power((1.0 + P.e * np.sin(phi)) / (1.0 - P.e * np.sin(phi)),
                       alpha * P.e / 2.0)
        u = 2.0 * (np.arctan(k * np.power(np.tan(phi / 2.0 + M_PI_4), alpha) / gfi) - M_PI_4)
        deltav = -lam * alpha
        s = np.arcsin(np.clip(
            math.cos(ad) * np.sin(u) + math.sin(ad) * np.cos(u) * np.cos(deltav), -1, 1))
        cos_s = np.cos(s)
        degenerate = cos_s < 1e-12
        with np.errstate(divide="ignore", invalid="ignore"):
            d = np.arcsin(np.clip(np.cos(u) * np.sin(deltav) / np.where(degenerate, 1.0, cos_s), -1, 1))
        eps = n * d
        rho = rho0 * math.pow(math.tan(S0 / 2.0 + M_PI_4), n) / np.power(np.tan(s / 2.0 + M_PI_4), n)
        y = rho * np.cos(eps) * czech
        x = rho * np.sin(eps) * czech
        x = np.where(degenerate, 0.0, x)
        y = np.where(degenerate, 0.0, y)
        return x, y, z, t

    def inv(x, y, z, t, _P):
        xx = y * czech
        yy = x * czech
        rho = np.sqrt(xx * xx + yy * yy)
        eps = np.arctan2(yy, xx)
        d = eps / math.sin(S0)
        with np.errstate(divide="ignore", invalid="ignore"):
            s = np.where(
                rho == 0.0, math.pi / 2,
                2.0 * (np.arctan(np.power(rho0 / np.where(rho == 0, 1.0, rho), 1.0 / n)
                                 * math.tan(S0 / 2.0 + M_PI_4)) - M_PI_4),
            )
        u = np.arcsin(np.clip(
            math.cos(ad) * np.sin(s) - math.sin(ad) * np.cos(s) * np.cos(d), -1, 1))
        deltav = np.arcsin(np.clip(np.cos(s) * np.sin(d) / np.cos(u), -1, 1))
        lam_full = P.lam0 - deltav / alpha
        fi1 = u.copy()
        phi = np.full_like(u, np.nan)
        active = np.isfinite(fi1)
        for _ in range(100):
            if not active.any():
                break
            new_phi = 2.0 * (np.arctan(
                math.pow(k, -1.0 / alpha)
                * np.power(np.tan(u[active] / 2.0 + M_PI_4), 1.0 / alpha)
                * np.power((1.0 + P.e * np.sin(fi1[active])) / (1.0 - P.e * np.sin(fi1[active])), P.e / 2.0)
            ) - M_PI_4)
            done = np.abs(fi1[active] - new_phi) < 1e-15
            vals = phi[active]
            vals[done] = new_phi[done]
            phi[active] = vals
            fi1[active] = new_phi
            nxt = active.copy()
            nxt[active] = ~done
            active = nxt
        lam = lam_full - P.lam0
        lam = np.where(np.isnan(phi), np.nan, lam)
        return lam, phi, z, t

    P.fwd, P.inv = fwd, inv
    P.left = UNITS_RADIANS
    P.right = UNITS_CLASSIC
    return P
