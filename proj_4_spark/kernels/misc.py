"""Misc operators: gnom, ortho (spherical), affine, geogoffset.

References: src/projections/gnom.cpp, src/projections/ortho.cpp,
src/transformations/affine.cpp:31-250.
"""

from __future__ import annotations

import math

import numpy as np

from proj_4_spark.kernels import common as C
from proj_4_spark.kernels.base import PJ, ProjError, UNITS_CLASSIC, UNITS_RADIANS

_EPS10 = 1e-10


def _azi_mode(P: PJ) -> str:
    t = abs(P.phi0)
    if abs(t - C.M_HALFPI) < _EPS10:
        return "s_pole" if P.phi0 < 0 else "n_pole"
    return "equit" if t < _EPS10 else "obliq"


# --- gnom (gnom.cpp) ----------------------------------------------------------

def gnom_s_forward(lam, phi, z, t, P: PJ):
    """gnom.cpp:33-77."""
    Q = P.opaque
    mode = Q["mode"]
    sinphi = np.sin(phi)
    cosphi = np.cos(phi)
    coslam = np.cos(lam)
    if mode == "equit":
        y = cosphi * coslam
    elif mode == "obliq":
        y = Q["sinph0"] * sinphi + Q["cosph0"] * cosphi * coslam
    elif mode == "s_pole":
        y = -sinphi
    else:
        y = sinphi
    bad = y <= _EPS10
    with np.errstate(divide="ignore", invalid="ignore"):
        y = 1.0 / np.where(bad, 1.0, y)
    x = y * cosphi * np.sin(lam)
    if mode == "equit":
        y = y * sinphi
    elif mode == "obliq":
        y = y * (Q["cosph0"] * sinphi - Q["sinph0"] * cosphi * coslam)
    else:
        cl = -coslam if mode == "n_pole" else coslam
        y = y * cosphi * cl
    x = np.where(bad, np.nan, x)
    y = np.where(bad, np.nan, y)
    return x, y, z, t


def gnom_s_inverse(x, y, z, t, P: PJ):
    """gnom.cpp:80-125."""
    Q = P.opaque
    mode = Q["mode"]
    rh = np.hypot(x, y)
    phi0_arr = np.arctan(rh)
    sinz = np.sin(phi0_arr)
    cosz = np.sqrt(1.0 - sinz * sinz)
    center = np.abs(rh) <= _EPS10
    rh_safe = np.where(center, 1.0, rh)
    if mode == "obliq":
        raw = cosz * Q["sinph0"] + y * sinz * Q["cosph0"] / rh_safe
        phi = np.where(np.abs(raw) >= 1.0,
                       np.where(raw > 0, C.M_HALFPI, -C.M_HALFPI),
                       np.arcsin(np.clip(raw, -1, 1)))
        yy = (cosz - Q["sinph0"] * np.sin(phi)) * rh
        xx = x * sinz * Q["cosph0"]
    elif mode == "equit":
        raw = y * sinz / rh_safe
        phi = np.where(np.abs(raw) >= 1.0,
                       np.where(raw > 0, C.M_HALFPI, -C.M_HALFPI),
                       np.arcsin(np.clip(raw, -1, 1)))
        yy = cosz * rh
        xx = x * sinz
    elif mode == "s_pole":
        phi = phi0_arr - C.M_HALFPI
        xx, yy = x, y
    else:
        phi = C.M_HALFPI - phi0_arr
        xx, yy = x, -y
    lam = np.arctan2(xx, yy)
    phi = np.where(center, P.phi0, phi)
    lam = np.where(center, 0.0, lam)
    return lam, phi, z, t


def setup_gnom(P: PJ) -> PJ:
    """gnom.cpp:128-150 (spherical only)."""
    Q = P.opaque
    Q["mode"] = _azi_mode(P)
    Q["sinph0"] = math.sin(P.phi0) if Q["mode"] == "obliq" else 0.0
    Q["cosph0"] = math.cos(P.phi0) if Q["mode"] == "obliq" else 0.0
    P.fwd, P.inv = gnom_s_forward, gnom_s_inverse
    P.left = UNITS_RADIANS
    P.right = UNITS_CLASSIC
    return P


# --- ortho (ortho.cpp, spherical branch) ---------------------------------------

def ortho_s_forward(lam, phi, z, t, P: PJ):
    """ortho.cpp:38-76."""
    Q = P.opaque
    mode = Q["mode"]
    cosphi = np.cos(phi)
    coslam = np.cos(lam)
    if mode == "equit":
        bad = cosphi * coslam < -_EPS10
        y = np.sin(phi)
    elif mode == "obliq":
        sinphi = np.sin(phi)
        bad = Q["sinph0"] * sinphi + Q["cosph0"] * cosphi * coslam < -_EPS10
        y = Q["cosph0"] * sinphi - Q["sinph0"] * cosphi * coslam
    else:
        cl = -coslam if mode == "n_pole" else coslam
        bad = np.abs(phi - P.phi0) - _EPS10 > C.M_HALFPI
        y = cosphi * cl
    x = cosphi * np.sin(lam)
    x = np.where(bad, np.nan, x)
    y = np.where(bad, np.nan, y)
    return x, y, z, t


def ortho_s_inverse(x, y, z, t, P: PJ):
    """ortho.cpp:79-128."""
    Q = P.opaque
    mode = Q["mode"]
    rh = np.hypot(x, y)
    sinc = rh.copy()
    bad = (sinc - 1.0) > _EPS10
    sinc = np.minimum(sinc, 1.0)
    cosc = np.sqrt(np.maximum(1.0 - sinc * sinc, 0.0))
    center = np.abs(rh) <= _EPS10
    rh_safe = np.where(rh == 0, 1.0, rh)
    if mode == "n_pole":
        phi = np.arccos(np.clip(sinc, -1, 1))
        lam = np.arctan2(x, -y)
    elif mode == "s_pole":
        phi = -np.arccos(np.clip(sinc, -1, 1))
        lam = np.arctan2(x, y)
    else:
        if mode == "equit":
            raw = y * sinc / rh_safe
            xx = x * sinc
            yy = cosc * rh
        else:
            raw = cosc * Q["sinph0"] + y * sinc * Q["cosph0"] / rh_safe
            yy = (cosc - Q["sinph0"] * raw) * rh
            xx = x * sinc * Q["cosph0"]
        phi = np.where(np.abs(raw) >= 1.0,
                       np.where(raw < 0, -C.M_HALFPI, C.M_HALFPI),
                       np.arcsin(np.clip(raw, -1, 1)))
        lam = np.where(
            yy == 0.0,
            np.where(xx == 0.0, 0.0, np.where(xx < 0, -C.M_HALFPI, C.M_HALFPI)),
            np.arctan2(xx, yy),
        )
    phi = np.where(center, P.phi0, phi)
    lam = np.where(center, 0.0, lam)
    phi = np.where(bad, np.nan, phi)
    lam = np.where(bad, np.nan, lam)
    return lam, phi, z, t


def ortho_e_forward(lam, phi, z, t, P: PJ):
    """ortho.cpp:133-157 (EPSG GN7-2 ellipsoidal orthographic)."""
    Q = P.opaque
    sinph0, cosph0 = Q["sinph0"], Q["cosph0"]
    cosphi = np.cos(phi)
    sinphi = np.sin(phi)
    coslam = np.cos(lam)
    sinlam = np.sin(lam)
    bad = sinph0 * sinphi + cosph0 * cosphi * coslam < -_EPS10
    nu = 1.0 / np.sqrt(1.0 - P.es * sinphi * sinphi)
    x = nu * cosphi * sinlam
    y = nu * (sinphi * cosph0 - cosphi * sinph0 * coslam) + P.es * (
        Q["nu0"] * sinph0 - nu * sinphi) * cosph0
    return np.where(bad, np.nan, x), np.where(bad, np.nan, y), z, t


def ortho_e_inverse(x, y, z, t, P: PJ):
    """ortho.cpp:160-276: closed-form polar/equatorial cases + 2D Newton
    with the analytic Jacobian for the oblique case."""
    Q = P.opaque
    mode = Q["mode"]
    sinph0, cosph0 = Q["sinph0"], Q["cosph0"]
    if mode in ("n_pole", "s_pole"):
        sgn = 1.0 if mode == "n_pole" else -1.0
        rh2 = x * x + y * y
        bad = (rh2 - 1.0) > _EPS10
        edge = rh2 >= 1.0 - 1e-15
        with np.errstate(invalid="ignore", divide="ignore"):
            phi = np.arccos(np.sqrt(np.clip(
                rh2 * P.one_es / (1 - P.es * np.minimum(rh2, 1 - 1e-16)), 0, 1))) * sgn
        phi = np.where(edge, 0.0, phi)
        lam = np.arctan2(x, y * -sgn)
        return np.where(bad, np.nan, lam), np.where(bad, np.nan, phi), z, t
    if mode == "equit":
        bad = x * x + (y * (P.a / P.b)) ** 2 > 1 + 1e-11
        with np.errstate(divide="ignore", invalid="ignore"):
            sinphi2 = np.where(y == 0, 0.0, 1.0 / (((1 - P.es) / np.where(y == 0, 1.0, y)) ** 2 + P.es))
        at_pole = sinphi2 > 1 - 1e-11
        phi = np.arcsin(np.sqrt(np.clip(sinphi2, 0, 1))) * np.where(y > 0, 1.0, -1.0)
        with np.errstate(divide="ignore", invalid="ignore"):
            sinlam = x * np.sqrt((1 - P.es * sinphi2) / np.maximum(1 - sinphi2, 1e-300))
        lam = np.where(np.abs(sinlam) - 1 > -1e-15,
                       C.M_HALFPI * np.where(x > 0, 1.0, -1.0),
                       np.arcsin(np.clip(sinlam, -1, 1)))
        phi = np.where(at_pole, C.M_HALFPI * np.where(y > 0, 1.0, -1.0), phi)
        lam = np.where(at_pole, 0.0, lam)
        return np.where(bad, np.nan, lam), np.where(bad, np.nan, phi), z, t
    # oblique: recenter, spherical first guess, Newton with analytic Jacobian
    yr = (y - Q["y_shift"]) / Q["y_scale"]
    bad = x * x + yr * yr > 1 + 1e-11
    lam, phi, _, _ = ortho_s_inverse(x, yr, z, t, P)
    conv = np.zeros_like(lam, dtype=bool)
    for _ in range(20):
        cosphi = np.cos(phi)
        sinphi = np.sin(phi)
        coslam = np.cos(lam)
        sinlam = np.sin(lam)
        omes2 = 1.0 - P.es * sinphi * sinphi
        nu = 1.0 / np.sqrt(omes2)
        xn = nu * cosphi * sinlam
        yn = nu * (sinphi * cosph0 - cosphi * sinph0 * coslam) + P.es * (
            Q["nu0"] * sinph0 - nu * sinphi) * cosph0
        rho = (1.0 - P.es) * nu / omes2
        J11 = -rho * sinphi * sinlam
        J12 = nu * cosphi * coslam
        J21 = rho * (cosphi * cosph0 + sinphi * sinph0 * coslam)
        J22 = nu * sinph0 * cosph0 * sinlam
        D = J11 * J22 - J12 * J21
        dx = x - xn
        dy = y - yn
        with np.errstate(divide="ignore", invalid="ignore"):
            dphi = (J22 * dx - J12 * dy) / D
            dlam = (-J21 * dx + J11 * dy) / D
        upd = ~conv
        phi = np.where(upd, np.clip(phi + dphi, -C.M_HALFPI, C.M_HALFPI), phi)
        lam = np.where(upd, lam + dlam, lam)
        conv = conv | ((np.abs(dphi) < 1e-12) & (np.abs(dlam) < 1e-12))
        if conv.all():
            break
    lam = np.where(conv, lam, np.nan)
    phi = np.where(conv, phi, np.nan)
    return np.where(bad, np.nan, lam), np.where(bad, np.nan, phi), z, t


def setup_ortho(P: PJ) -> PJ:
    """ortho.cpp:281-308 (spherical + EPSG ellipsoidal variants)."""
    Q = P.opaque
    Q["mode"] = _azi_mode(P)
    Q["sinph0"] = math.sin(P.phi0)
    Q["cosph0"] = math.cos(P.phi0)
    if P.es == 0:
        P.fwd, P.inv = ortho_s_forward, ortho_s_inverse
    else:
        Q["nu0"] = 1.0 / math.sqrt(1.0 - P.es * Q["sinph0"] ** 2)
        Q["y_shift"] = P.es * Q["nu0"] * Q["sinph0"] * Q["cosph0"]
        Q["y_scale"] = 1.0 / math.sqrt(1.0 - P.es * Q["cosph0"] ** 2)
        P.fwd, P.inv = ortho_e_forward, ortho_e_inverse
    P.left = UNITS_RADIANS
    P.right = UNITS_CLASSIC
    return P


# --- affine / geogoffset (affine.cpp) ------------------------------------------

def _affine_apply(x, y, z, t, off, S):
    nx = off[0] + S[0][0] * x + S[0][1] * y + S[0][2] * z
    ny = off[1] + S[1][0] * x + S[1][1] * y + S[1][2] * z
    nz = off[2] + S[2][0] * x + S[2][1] * y + S[2][2] * z
    nt = off[3] + S[3] * t
    return nx, ny, nz, nt


def setup_affine(P: PJ) -> PJ:
    """affine.cpp:222-240 + computeReverseParameters 160-214."""
    off = (P.param_f("xoff"), P.param_f("yoff"), P.param_f("zoff"), P.param_f("toff"))
    s11 = P.param_f("s11", 1.0) if P.has("s11") else 1.0
    s22 = P.param_f("s22", 1.0) if P.has("s22") else 1.0
    s33 = P.param_f("s33", 1.0) if P.has("s33") else 1.0
    tscale = P.param_f("tscale", 1.0) if P.has("tscale") else 1.0
    S = [
        [s11, P.param_f("s12"), P.param_f("s13")],
        [P.param_f("s21"), s22, P.param_f("s23")],
        [P.param_f("s31"), P.param_f("s32"), s33],
        tscale,
    ]
    a, b, c = S[0]
    d, e, f = S[1]
    g, h, i = S[2]
    A = e * i - f * h
    B = -(d * i - f * g)
    Cf = d * h - e * g
    D = -(b * i - c * h)
    E = a * i - c * g
    F = -(a * h - b * g)
    G = b * f - c * e
    H = -(a * f - c * d)
    I = a * e - b * d
    det = a * A + b * B + c * Cf
    inv_ok = det != 0.0 and tscale != 0.0
    if inv_ok:
        R = [
            [A / det, D / det, G / det],
            [B / det, E / det, H / det],
            [Cf / det, F / det, I / det],
            1.0 / tscale,
        ]

    def fwd4d(x, y, z, t, _P):
        return _affine_apply(x, y, z, t, off, S)

    P.fwd4d = fwd4d
    if inv_ok:
        def inv4d(x, y, z, t, _P):
            x = x - off[0]
            y = y - off[1]
            z = z - off[2]
            nx = R[0][0] * x + R[0][1] * y + R[0][2] * z
            ny = R[1][0] * x + R[1][1] * y + R[1][2] * z
            nz = R[2][0] * x + R[2][1] * y + R[2][2] * z
            nt = R[3] * (t - off[3])
            return nx, ny, nz, nt

        P.inv4d = inv4d
    P.left = "whatever"
    P.right = "whatever"
    return P


def setup_geogoffset(P: PJ) -> PJ:
    """affine.cpp:227-250: dlon/dlat in arc-seconds, dh meters; radians I/O."""
    off = (
        P.param_f("dlon") * C.ARCSEC_TO_RAD,
        P.param_f("dlat") * C.ARCSEC_TO_RAD,
        P.param_f("dh"),
        0.0,
    )

    def fwd4d(x, y, z, t, _P):
        return x + off[0], y + off[1], z + off[2], t

    def inv4d(x, y, z, t, _P):
        return x - off[0], y - off[1], z - off[2], t

    P.fwd4d = fwd4d
    P.inv4d = inv4d
    P.left = UNITS_RADIANS
    P.right = UNITS_RADIANS
    return P


def _todo(name):
    def setup(P: PJ) -> PJ:
        raise ProjError("unsupported", f"{name} not yet implemented")

    return setup


setup_robin = _todo("robin")
