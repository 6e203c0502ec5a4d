"""Albers Equal Area / Lambert Equal Area Conic.

Reference: src/projections/aea.cpp:105-245 — the C kernel mutates Q->rho
(a documented thread hazard, aea.cpp:108); our kernels are pure
(SURVEY.md §2.2).
"""

from __future__ import annotations

import math

import numpy as np

from proj_4_spark.kernels import common as C
from proj_4_spark.kernels.base import PJ, ProjError, UNITS_CLASSIC, UNITS_RADIANS

_EPS10 = 1.0e-10
_TOL7 = 1.0e-7


def _phi1(qs: np.ndarray, Te: float, Tone_es: float) -> np.ndarray:
    """Inverse authalic latitude, Newton iteration; aea.cpp:48-70.

    N_ITER=15, EPSILON=1e-7, TOL=1e-10; masked lanes freeze on convergence;
    non-convergent lanes -> NaN (reference returns HUGE_VAL).
    """
    N_ITER = 15
    EPSILON = 1.0e-7
    TOL = 1.0e-10
    Phi = np.arcsin(np.clip(0.5 * qs, -1.0, 1.0))
    if Te < EPSILON:
        return Phi
    active = np.isfinite(Phi)
    count = np.full_like(Phi, N_ITER, dtype=np.int64)
    while active.any():
        p = Phi[active]
        sinpi = np.sin(p)
        cospi = np.cos(p)
        con = Te * sinpi
        com = 1.0 - con * con
        with np.errstate(divide="ignore", invalid="ignore"):
            dphi = (
                0.5 * com * com / cospi * (
                    qs[active] / Tone_es
                    - sinpi / com
                    + 0.5 / Te * np.log((1.0 - con) / (1.0 + con))
                )
            )
        Phi[active] = p + dphi
        count_a = count[active] - 1
        count[active] = count_a
        still = (np.abs(dphi) > TOL) & (count_a >= 0) & np.isfinite(dphi)
        nxt = active.copy()
        nxt[active] = still
        active = nxt
    return np.where(count < 0, np.nan, Phi)


def aea_e_forward(lam, phi, z, t, P: PJ):
    """aea.cpp:105-118."""
    Q = P.opaque
    if Q["ellips"]:
        rho = Q["c"] - Q["n"] * C.qsfn(np.sin(phi), P.e, P.one_es)
    else:
        rho = Q["c"] - Q["n2"] * np.sin(phi)
    bad = rho < 0.0
    rho = Q["dd"] * np.sqrt(np.where(bad, 0.0, rho))
    lamn = lam * Q["n"]
    x = rho * np.sin(lamn)
    y = Q["rho0"] - rho * np.cos(lamn)
    x = np.where(bad, np.nan, x)
    y = np.where(bad, np.nan, y)
    return x, y, z, t


def aea_e_inverse(x, y, z, t, P: PJ):
    """aea.cpp:121-160."""
    Q = P.opaque
    n = Q["n"]
    yy = Q["rho0"] - y
    rho = np.hypot(x, yy)
    if n < 0.0:
        rho = -rho
        x = -x
        yy = -yy
    nonzero = rho != 0.0
    phi_r = rho / Q["dd"]
    if Q["ellips"]:
        phi_q = (Q["c"] - phi_r * phi_r) / n
        at_limit = np.abs(Q["ec"] - np.abs(phi_q)) <= _TOL7
        too_big = (np.abs(phi_q) > 2) & ~at_limit
        phi_it = _phi1(np.where(at_limit | too_big, 0.0, phi_q), P.e, P.one_es)
        phi = np.where(
            at_limit,
            np.where(phi_q < 0.0, -C.M_HALFPI, C.M_HALFPI),
            phi_it,
        )
        phi = np.where(too_big, np.nan, phi)
    else:
        phi_q = (Q["c"] - phi_r * phi_r) / Q["n2"]
        phi = np.where(
            np.abs(phi_q) <= 1.0,
            np.arcsin(np.clip(phi_q, -1.0, 1.0)),
            np.where(phi_q < 0.0, -C.M_HALFPI, C.M_HALFPI),
        )
    lam = np.arctan2(x, yy) / n
    pole_phi = C.M_HALFPI if n > 0.0 else -C.M_HALFPI
    phi = np.where(nonzero, phi, pole_phi)
    lam = np.where(nonzero, lam, 0.0)
    lam = np.where(np.isnan(phi), np.nan, lam)
    return lam, phi, z, t


def _setup(P: PJ, phi1: float, phi2: float) -> PJ:
    """aea.cpp:164-218."""
    Q: dict = {}
    if abs(phi1) > C.M_HALFPI or abs(phi2) > C.M_HALFPI:
        raise ProjError("lat_larger_than_90")
    if abs(phi1 + phi2) < _EPS10:
        raise ProjError("conic_lat_equal")
    sinphi = math.sin(phi1)
    n = sinphi
    cosphi = math.cos(phi1)
    secant = abs(phi1 - phi2) >= _EPS10
    ellips = P.es > 0.0
    Q["ellips"] = ellips
    if ellips:
        m1 = float(C.msfn(np.float64(sinphi), np.float64(cosphi), P.es))
        ml1 = float(C.qsfn(np.float64(sinphi), P.e, P.one_es))
        if secant:
            sinphi = math.sin(phi2)
            cosphi = math.cos(phi2)
            m2 = float(C.msfn(np.float64(sinphi), np.float64(cosphi), P.es))
            ml2 = float(C.qsfn(np.float64(sinphi), P.e, P.one_es))
            if ml2 == ml1:
                raise ProjError("conic_lat_equal")
            n = (m1 * m1 - m2 * m2) / (ml2 - ml1)
            if n == 0:
                raise ProjError("invalid_eccentricity")
        Q["ec"] = 1.0 - 0.5 * P.one_es * math.log((1.0 - P.e) / (1.0 + P.e)) / P.e
        Q["c"] = m1 * m1 + n * ml1
        Q["dd"] = 1.0 / n
        Q["rho0"] = Q["dd"] * math.sqrt(
            Q["c"] - n * float(C.qsfn(np.float64(math.sin(P.phi0)), P.e, P.one_es))
        )
        Q["n2"] = 0.0
    else:
        if secant:
            n = 0.5 * (n + math.sin(phi2))
        n2 = n + n
        Q["n2"] = n2
        Q["c"] = cosphi * cosphi + n2 * sinphi
        Q["dd"] = 1.0 / n
        Q["rho0"] = Q["dd"] * math.sqrt(Q["c"] - n2 * math.sin(P.phi0))
        Q["ec"] = 0.0
    Q["n"] = n
    P.opaque.update(Q)
    P.fwd, P.inv = aea_e_forward, aea_e_inverse
    P.left = UNITS_RADIANS
    P.right = UNITS_CLASSIC
    return P


def setup_aea(P: PJ) -> PJ:
    """aea.cpp:221-231."""
    return _setup(P, P.param_r("lat_1"), P.param_r("lat_2"))


def setup_leac(P: PJ) -> PJ:
    """aea.cpp:234-245: lat_2 = +/-90 by +south, lat_1 from params."""
    phi2 = P.param_r("lat_1")
    phi1 = -C.M_HALFPI if P.param_b("south") else C.M_HALFPI
    return _setup(P, phi1, phi2)
