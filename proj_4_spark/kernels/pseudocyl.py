"""Pseudocylindrical projections: moll/wag4/wag5, sinu/gn_sinu/eck6/mbtfps,
eqearth.

References: src/projections/moll.cpp, src/projections/gn_sinu.cpp,
src/projections/eqearth.cpp (iteration counts and tolerances preserved).
"""

from __future__ import annotations

import math

import numpy as np

from proj_4_spark.kernels import common as C
from proj_4_spark.kernels.base import PJ, ProjError, UNITS_CLASSIC, UNITS_RADIANS

_EPS10 = 1e-10


# --- moll family (moll.cpp) --------------------------------------------------

def moll_s_forward(lam, phi, z, t, P: PJ):
    """moll.cpp:22-42 (Newton, MAX_ITER=10, LOOP_TOL=1e-7)."""
    Q = P.opaque
    k = Q["C_p"] * np.sin(phi)
    phi_it = phi.copy()
    active = np.isfinite(phi_it)
    converged = np.zeros_like(phi_it, dtype=bool)
    for _ in range(10):
        # no early exit: a lane that converged stays frozen, so the
        # bounded loop gives the same numbers and traces (engine/trace)
        V = (phi_it[active] + np.sin(phi_it[active]) - k[active]) / (
            1.0 + np.cos(phi_it[active])
        )
        phi_it[active] = phi_it[active] - V
        done = np.abs(V) < 1e-7
        conv = converged[active]
        conv |= done
        converged[active] = conv
        nxt = active.copy()
        nxt[active] = ~done
        active = nxt
    phi_out = np.where(
        converged, phi_it * 0.5,
        np.where(phi_it < 0.0, -C.M_HALFPI, C.M_HALFPI),
    )
    x = Q["C_x"] * lam * np.cos(phi_out)
    y = Q["C_y"] * np.sin(phi_out)
    return x, y, z, t


def moll_s_inverse(x, y, z, t, P: PJ):
    """moll.cpp:45-58."""
    Q = P.opaque
    phi = C.aasin(y / Q["C_y"])
    with np.errstate(divide="ignore", invalid="ignore"):
        lam = x / (Q["C_x"] * np.cos(phi))
    ok = np.abs(lam) < C.M_PI
    phi2 = phi + phi
    phi_out = C.aasin((phi2 + np.sin(phi2)) / Q["C_p"])
    phi_out = np.where(ok, phi_out, np.nan)
    lam = np.where(ok, lam, np.nan)
    return lam, phi_out, z, t


def _moll_setup(P: PJ, p: float) -> PJ:
    """moll.cpp:61-77: forces spherical."""
    sp = math.sin(p)
    p2 = p + p
    r = math.sqrt(C.M_TWOPI * sp / (p2 + math.sin(p2)))
    P.opaque["C_x"] = 2.0 * r / C.M_PI
    P.opaque["C_y"] = r / sp
    P.opaque["C_p"] = p2 + math.sin(p2)
    P.fwd, P.inv = moll_s_forward, moll_s_inverse
    P.left = UNITS_RADIANS
    P.right = UNITS_CLASSIC
    return P


def setup_moll(P: PJ) -> PJ:
    return _moll_setup(P, C.M_HALFPI)


def setup_wag4(P: PJ) -> PJ:
    return _moll_setup(P, C.M_PI / 3.0)


def setup_wag5(P: PJ) -> PJ:
    """moll.cpp:98-111: fixed constants."""
    P.opaque["C_x"] = 0.90977
    P.opaque["C_y"] = 1.65014
    P.opaque["C_p"] = 3.00896
    P.fwd, P.inv = moll_s_forward, moll_s_inverse
    P.left = UNITS_RADIANS
    P.right = UNITS_CLASSIC
    return P


# --- sinusoidal family (gn_sinu.cpp) -----------------------------------------

def gn_sinu_e_forward(lam, phi, z, t, P: PJ):
    """gn_sinu.cpp:27-35."""
    Q = P.opaque
    s = np.sin(phi)
    c = np.cos(phi)
    y = C.mlfn(phi, s, c, Q["en"])
    x = lam * c / np.sqrt(1.0 - P.es * s * s)
    return x, y, z, t


def gn_sinu_e_inverse(x, y, z, t, P: PJ):
    """gn_sinu.cpp:38-54."""
    Q = P.opaque
    phi = C.inv_mlfn(y, P.es, Q["en"])
    s = np.abs(phi)
    interior = s < C.M_HALFPI
    at_pole = (s - _EPS10) < C.M_HALFPI
    sp = np.sin(phi)
    with np.errstate(divide="ignore", invalid="ignore"):
        lam_in = x * np.sqrt(1.0 - P.es * sp * sp) / np.cos(phi)
    lam = np.where(interior, lam_in, np.where(at_pole, 0.0, np.nan))
    phi = np.where(interior | at_pole, phi, np.nan)
    return lam, phi, z, t


def gn_sinu_s_forward(lam, phi, z, t, P: PJ):
    """gn_sinu.cpp:57-85 (Newton when m != 0; MAX_ITER=8, LOOP_TOL=1e-7)."""
    Q = P.opaque
    m, n = Q["m"], Q["n"]
    if m == 0.0:
        phi_out = C.aasin(n * np.sin(phi)) if n != 1.0 else phi
        bad = np.zeros_like(phi, dtype=bool)
    else:
        k = n * np.sin(phi)
        phi_it = phi.copy()
        active = np.isfinite(phi_it)
        converged = np.zeros_like(phi_it, dtype=bool)
        for _ in range(8):
            V = (m * phi_it[active] + np.sin(phi_it[active]) - k[active]) / (
                m + np.cos(phi_it[active])
            )
            phi_it[active] = phi_it[active] - V
            done = np.abs(V) < 1e-7
            conv = converged[active]
            conv |= done
            converged[active] = conv
            nxt = active.copy()
            nxt[active] = ~done
            active = nxt
        phi_out = phi_it
        bad = ~converged
    x = Q["C_x"] * lam * (m + np.cos(phi_out))
    y = Q["C_y"] * phi_out
    x = np.where(bad, np.nan, x)
    y = np.where(bad, np.nan, y)
    return x, y, z, t


def gn_sinu_s_inverse(x, y, z, t, P: PJ):
    """gn_sinu.cpp:88-97."""
    Q = P.opaque
    m, n = Q["m"], Q["n"]
    yy = y / Q["C_y"]
    if m != 0.0:
        phi = C.aasin((m * yy + np.sin(yy)) / n)
    elif n != 1.0:
        phi = C.aasin(np.sin(yy) / n)
    else:
        phi = yy
    lam = x / (Q["C_x"] * (m + np.cos(yy)))
    return lam, phi, z, t


def _sinu_sph_setup(P: PJ) -> None:
    """gn_sinu.cpp:113-120."""
    Q = P.opaque
    Q["C_y"] = math.sqrt((Q["m"] + 1.0) / Q["n"])
    Q["C_x"] = Q["C_y"] / (Q["m"] + 1.0)
    P.fwd, P.inv = gn_sinu_s_forward, gn_sinu_s_inverse


def setup_sinu(P: PJ) -> PJ:
    """gn_sinu.cpp:123-142."""
    Q = P.opaque
    Q["en"] = C.enfn(P.es)
    if P.es != 0.0:
        P.fwd, P.inv = gn_sinu_e_forward, gn_sinu_e_inverse
    else:
        Q["n"] = 1.0
        Q["m"] = 0.0
        _sinu_sph_setup(P)
    P.left = UNITS_RADIANS
    P.right = UNITS_CLASSIC
    return P


def setup_eck6(P: PJ) -> PJ:
    """gn_sinu.cpp:145-157."""
    P.opaque["m"] = 1.0
    P.opaque["n"] = 2.570796326794896619231321691
    _sinu_sph_setup(P)
    P.left = UNITS_RADIANS
    P.right = UNITS_CLASSIC
    return P


def setup_mbtfps(P: PJ) -> PJ:
    """gn_sinu.cpp:160-172."""
    P.opaque["m"] = 0.5
    P.opaque["n"] = 1.785398163397448309615660845
    _sinu_sph_setup(P)
    P.left = UNITS_RADIANS
    P.right = UNITS_CLASSIC
    return P


def setup_gn_sinu(P: PJ) -> PJ:
    """gn_sinu.cpp:175-193."""
    if P.has("n") and P.has("m"):
        P.opaque["n"] = P.param_f("n")
        P.opaque["m"] = P.param_f("m")
        if P.opaque["n"] <= 0 or P.opaque["m"] < 0:
            raise ProjError("invalid_m_or_n")
    else:
        raise ProjError("invalid_m_or_n")
    _sinu_sph_setup(P)
    P.left = UNITS_RADIANS
    P.right = UNITS_CLASSIC
    return P


# --- eqearth (eqearth.cpp) ----------------------------------------------------

_A1 = 1.340264
_A2 = -0.081106
_A3 = 0.000893
_A4 = 0.003796
_M = math.sqrt(3.0) / 2.0
_MAX_Y = 1.3173627591574


def eqearth_e_forward(lam, phi, z, t, P: PJ):
    """eqearth.cpp:44-74."""
    Q = P.opaque
    sbeta = np.sin(phi)
    if P.es != 0.0:
        sbeta = C.qsfn(sbeta, P.e, 1.0 - P.es) / Q["qp"]
        sbeta = np.clip(sbeta, -1.0, 1.0)
    psi = np.arcsin(_M * sbeta)
    psi2 = psi * psi
    psi6 = psi2 * psi2 * psi2
    x = lam * np.cos(psi) / (
        _M * (_A1 + 3 * _A2 * psi2 + psi6 * (7 * _A3 + 9 * _A4 * psi2))
    )
    y = psi * (_A1 + _A2 * psi2 + psi6 * (_A3 + _A4 * psi2))
    return x * Q["rqda"], y * Q["rqda"], z, t


def eqearth_e_inverse(x, y, z, t, P: PJ):
    """eqearth.cpp:77-131 (Newton-Raphson, MAX_ITER=12, EPS=1e-11)."""
    Q = P.opaque
    x = x / Q["rqda"]
    y = np.clip(y / Q["rqda"], -_MAX_Y, _MAX_Y)
    yc = y.copy()
    active = np.isfinite(yc)
    converged = np.zeros_like(yc, dtype=bool)
    for _ in range(12):
        if not active.any():
            break
        ycur = yc[active]
        y2 = ycur * ycur
        y6 = y2 * y2 * y2
        f = ycur * (_A1 + _A2 * y2 + y6 * (_A3 + _A4 * y2)) - y[active]
        fder = _A1 + 3 * _A2 * y2 + y6 * (7 * _A3 + 9 * _A4 * y2)
        tol = f / fder
        yc[active] = ycur - tol
        done = np.abs(tol) < 1e-11
        conv = converged[active]
        conv |= done
        converged[active] = conv
        nxt = active.copy()
        nxt[active] = ~done
        active = nxt
    y2 = yc * yc
    y6 = y2 * y2 * y2
    with np.errstate(divide="ignore", invalid="ignore"):
        lam = _M * x * (_A1 + 3 * _A2 * y2 + y6 * (7 * _A3 + 9 * _A4 * y2)) / np.cos(yc)
    phi = np.arcsin(np.clip(np.sin(yc) / _M, -1, 1))
    if P.es != 0.0:
        phi = C.authlat(phi, Q["apa"])
    phi = np.where(converged, phi, np.nan)
    lam = np.where(converged, lam, np.nan)
    return lam, phi, z, t


def setup_eqearth(P: PJ) -> PJ:
    """eqearth.cpp:145-165."""
    Q = P.opaque
    Q["rqda"] = 1.0
    if P.es != 0.0:
        Q["apa"] = C.authset(P.es)
        Q["qp"] = float(C.qsfn(np.float64(1.0), P.e, P.one_es))
        Q["rqda"] = math.sqrt(0.5 * Q["qp"])
    P.fwd, P.inv = eqearth_e_forward, eqearth_e_inverse
    P.left = UNITS_RADIANS
    P.right = UNITS_CLASSIC
    return P
