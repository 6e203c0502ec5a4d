"""Oblique Stereographic Alternative (sterea) via Gauss conformal sphere.

References: src/gauss.cpp (pj_gauss_ini/pj_gauss/pj_inv_gauss,
MAX_ITER=20, DEL_TOL=1e-14), src/projections/sterea.cpp.
"""

from __future__ import annotations

import math

import numpy as np

from proj_4_spark.kernels import common as C
from proj_4_spark.kernels.base import PJ, ProjError, UNITS_CLASSIC, UNITS_RADIANS


def _srat(esinp, ratexp):
    """gauss.cpp:46-48."""
    return np.power((1.0 - esinp) / (1.0 + esinp), ratexp)


def _gauss_ini(e: float, phi0: float):
    """gauss.cpp:50-82: returns (C_, K, ratexp, chi, rc)."""
    es = e * e
    sphi = math.sin(phi0)
    cphi = math.cos(phi0)
    cphi2 = cphi * cphi
    rc = math.sqrt(1.0 - es) / (1.0 - es * sphi * sphi)
    C_ = math.sqrt(1.0 + es * cphi2 * cphi2 / (1.0 - es))
    if C_ == 0.0:
        raise ProjError("tolerance_condition", "gauss C == 0")
    chi = math.asin(sphi / C_)
    ratexp = 0.5 * C_ * e
    srat_val = float(_srat(np.float64(e * sphi), ratexp))
    if srat_val == 0.0:
        raise ProjError("tolerance_condition", "gauss srat == 0")
    if 0.5 * phi0 + C.M_FORTPI < 1e-10:
        K = 1.0 / srat_val
    else:
        K = math.tan(0.5 * chi + C.M_FORTPI) / (
            math.pow(math.tan(0.5 * phi0 + C.M_FORTPI), C_) * srat_val
        )
    return C_, K, ratexp, chi, rc


def _gauss_fwd(lam, phi, e, C_, K, ratexp):
    """gauss.cpp:84-94."""
    sphi = 2.0 * np.arctan(
        K * np.power(np.tan(0.5 * phi + C.M_FORTPI), C_)
        * _srat(e * np.sin(phi), ratexp)
    ) - C.M_HALFPI
    slam = C_ * lam
    return slam, sphi


def _gauss_inv(slam, sphi, e, C_, K):
    """gauss.cpp:96-113: masked fixed-point, MAX_ITER=20, DEL_TOL=1e-14."""
    lam = slam / C_
    num = np.power(np.tan(0.5 * sphi + C.M_FORTPI) / K, 1.0 / C_)
    cur = sphi.copy()
    phi = np.full_like(sphi, np.nan)
    active = np.isfinite(cur)
    for _ in range(20):
        if not active.any():
            break
        elp = 2.0 * np.arctan(
            num[active] * _srat(e * np.sin(cur[active]), -0.5 * e)
        ) - C.M_HALFPI
        done = np.abs(elp - cur[active]) < 1e-14
        vals = phi[active]
        vals[done] = elp[done]
        phi[active] = vals
        cur[active] = elp
        nxt = active.copy()
        nxt[active] = ~done
        active = nxt
    # non-convergent lanes keep the last estimate (reference logs errno
    # but returns the value, gauss.cpp:110-112)
    phi = np.where(np.isnan(phi), cur, phi)
    return lam, phi


def sterea_e_forward(lam, phi, z, t, P: PJ):
    """sterea.cpp:46-67."""
    Q = P.opaque
    slam, sphi = _gauss_fwd(lam, phi, P.e, Q["C"], Q["K"], Q["ratexp"])
    sinc = np.sin(sphi)
    cosc = np.cos(sphi)
    cosl = np.cos(slam)
    denom = 1.0 + Q["sinc0"] * sinc + Q["cosc0"] * cosc * cosl
    bad = denom == 0.0
    with np.errstate(divide="ignore", invalid="ignore"):
        k = P.k0 * Q["R2"] / np.where(bad, 1.0, denom)
    x = k * cosc * np.sin(slam)
    y = k * (Q["cosc0"] * sinc - Q["sinc0"] * cosc * cosl)
    x = np.where(bad, np.nan, x)
    y = np.where(bad, np.nan, y)
    return x, y, z, t


def sterea_e_inverse(x, y, z, t, P: PJ):
    """sterea.cpp:70-88."""
    Q = P.opaque
    x = x / P.k0
    y = y / P.k0
    rho = np.hypot(x, y)
    center = rho == 0.0
    rho_safe = np.where(center, 1.0, rho)
    c = 2.0 * np.arctan2(rho, Q["R2"])
    sinc = np.sin(c)
    cosc = np.cos(c)
    sphi = np.arcsin(np.clip(cosc * Q["sinc0"] + y * sinc * Q["cosc0"] / rho_safe, -1, 1))
    slam = np.arctan2(x * sinc, rho * Q["cosc0"] * cosc - y * Q["sinc0"] * sinc)
    sphi = np.where(center, Q["phic0"], sphi)
    slam = np.where(center, 0.0, slam)
    lam, phi = _gauss_inv(slam, sphi, P.e, Q["C"], Q["K"])
    return lam, phi, z, t


def setup_sterea(P: PJ) -> PJ:
    """sterea.cpp:103-124."""
    C_, K, ratexp, chi, rc = _gauss_ini(P.e, P.phi0)
    Q = P.opaque
    Q["C"] = C_
    Q["K"] = K
    Q["ratexp"] = ratexp
    Q["phic0"] = chi
    Q["sinc0"] = math.sin(chi)
    Q["cosc0"] = math.cos(chi)
    Q["R2"] = 2.0 * rc
    P.fwd, P.inv = sterea_e_forward, sterea_e_inverse
    P.left = UNITS_RADIANS
    P.right = UNITS_CLASSIC
    return P
