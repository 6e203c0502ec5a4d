"""Batch 9: igh (Interrupted Goode Homolosine), ccon (Central Conic).

References: src/projections/igh.cpp, src/projections/ccon.cpp.
"""

from __future__ import annotations

import math

import numpy as np

from proj_4_spark.kernels import common as C
from proj_4_spark.kernels.base import PJ, ProjError, UNITS_CLASSIC, UNITS_RADIANS

_D = C.DEG_TO_RAD
_PHI_B = (40 + 44 / 60.0 + 11.8 / 3600.0) * _D
_EPSLN = 1e-10


def setup_igh(P: PJ) -> PJ:
    """igh.cpp: 12 sub-zones (sinusoidal near the equator, Mollweide
    poleward), vectorized as per-zone masked kernel application."""
    from proj_4_spark.kernels.pseudocyl import (
        _moll_setup,
        _sinu_sph_setup,
        gn_sinu_s_forward,
        gn_sinu_s_inverse,
        moll_s_forward,
        moll_s_inverse,
    )

    d = {k: k * _D for k in (10, 20, 30, 40, 50, 60, 80, 90, 100, 140, 160, 180)}

    sinu_pj = PJ("sinu", {}, P.ell)
    sinu_pj.opaque["n"] = 1.0
    sinu_pj.opaque["m"] = 0.0
    _sinu_sph_setup(sinu_pj)
    moll_pj = PJ("moll", {}, P.ell)
    _moll_setup(moll_pj, C.M_HALFPI)

    def sinu_fwd(lam, phi):
        x, y, _, _ = gn_sinu_s_forward(lam, phi, lam, lam, sinu_pj)
        return x, y

    def moll_fwd(lam, phi):
        x, y, _, _ = moll_s_forward(lam, phi, lam, lam, moll_pj)
        return x, y

    def sinu_inv(x, y):
        lam, phi, _, _ = gn_sinu_s_inverse(x, y, x, x, sinu_pj)
        return lam, phi

    def moll_inv(x, y):
        lam, phi, _, _ = moll_s_inverse(x, y, x, x, moll_pj)
        return lam, phi

    # zone table: (is_moll, x0 (=lam0), y0); igh.cpp:218-244
    # y0 for moll zones is +-dy0 computed below
    x1, y1 = moll_fwd(np.array([0.0]), np.array([_PHI_B]))
    x3, y3 = sinu_fwd(np.array([0.0]), np.array([_PHI_B]))
    dy0 = float(y3[0] - y1[0])

    ZONES = {
        1: (True, -d[100], dy0),
        2: (True, d[30], dy0),
        3: (False, -d[100], 0.0),
        4: (False, d[30], 0.0),
        5: (False, -d[160], 0.0),
        6: (False, -d[60], 0.0),
        7: (False, d[20], 0.0),
        8: (False, d[140], 0.0),
        9: (True, -d[160], -dy0),
        10: (True, -d[60], -dy0),
        11: (True, d[20], -dy0),
        12: (True, d[140], -dy0),
    }

    def zone_of_fwd(lam, phi):
        z = np.zeros_like(lam, dtype=np.int64)
        north_m = phi >= _PHI_B
        north_s = (phi >= 0) & ~north_m
        south_s = (phi >= -_PHI_B) & (phi < 0)
        south_m = phi < -_PHI_B
        z = np.where(north_m, np.where(lam <= -d[40], 1, 2), z)
        z = np.where(north_s, np.where(lam <= -d[40], 3, 4), z)
        z = np.where(south_s, np.select(
            [lam <= -d[100], lam <= -d[20], lam <= d[80]], [5, 6, 7], 8), z)
        z = np.where(south_m, np.select(
            [lam <= -d[100], lam <= -d[20], lam <= d[80]], [9, 10, 11], 12), z)
        return z

    def fwd(lam, phi, z_, t, _P):
        zone = zone_of_fwd(lam, phi)
        x = np.full_like(lam, np.nan)
        y = np.full_like(lam, np.nan)
        for zi, (is_moll, lam0_z, y0_z) in ZONES.items():
            m = zone == zi
            if not m.any():
                continue
            f = moll_fwd if is_moll else sinu_fwd
            zx, zy = f(lam[m] - lam0_z, phi[m])
            x[m] = zx + lam0_z          # x0 == lam0 for every zone
            y[m] = zy + y0_z
        return x, y, z_, t

    def inv(x, y, z_, t, _P):
        y90 = dy0 + math.sqrt(2.0)
        zone = np.zeros_like(x, dtype=np.int64)
        inside = ~((y > y90 + _EPSLN) | (y < -y90 + _EPSLN))
        north_m = inside & (y >= _PHI_B)
        north_s = inside & (y >= 0) & ~north_m
        south_s = inside & (y >= -_PHI_B) & (y < 0)
        south_m = inside & (y < -_PHI_B)
        zone = np.where(north_m, np.where(x <= -d[40], 1, 2), zone)
        zone = np.where(north_s, np.where(x <= -d[40], 3, 4), zone)
        zone = np.where(south_s, np.select(
            [x <= -d[100], x <= -d[20], x <= d[80]], [5, 6, 7], 8), zone)
        zone = np.where(south_m, np.select(
            [x <= -d[100], x <= -d[20], x <= d[80]], [9, 10, 11], 12), zone)
        lam = np.full_like(x, np.nan)
        phi = np.full_like(x, np.nan)
        E = _EPSLN
        for zi, (is_moll, lam0_z, y0_z) in ZONES.items():
            m = zone == zi
            if not m.any():
                continue
            f = moll_inv if is_moll else sinu_inv
            zlam, zphi = f(x[m] - lam0_z, y[m] - y0_z)
            zlam = zlam + lam0_z
            # per-zone projectability checks (igh.cpp:130-155)
            if zi == 1:
                ok = ((zlam >= -d[180] - E) & (zlam <= -d[40] + E)) | (
                    (zlam >= -d[40] - E) & (zlam <= -d[10] + E)
                    & (zphi >= d[60] - E) & (zphi <= d[90] + E))
            elif zi == 2:
                ok = ((zlam >= -d[40] - E) & (zlam <= d[180] + E)) | (
                    (zlam >= -d[180] - E) & (zlam <= -d[160] + E)
                    & (zphi >= d[50] - E) & (zphi <= d[90] + E)) | (
                    (zlam >= -d[50] - E) & (zlam <= -d[40] + E)
                    & (zphi >= d[60] - E) & (zphi <= d[90] + E))
            elif zi == 3:
                ok = (zlam >= -d[180] - E) & (zlam <= -d[40] + E)
            elif zi == 4:
                ok = (zlam >= -d[40] - E) & (zlam <= d[180] + E)
            elif zi in (5, 9):
                ok = (zlam >= -d[180] - E) & (zlam <= -d[100] + E)
            elif zi in (6, 10):
                ok = (zlam >= -d[100] - E) & (zlam <= -d[20] + E)
            elif zi in (7, 11):
                ok = (zlam >= -d[20] - E) & (zlam <= d[80] + E)
            else:
                ok = (zlam >= d[80] - E) & (zlam <= d[180] + E)
            lam[m] = np.where(ok, zlam, np.nan)
            phi[m] = np.where(ok, zphi, np.nan)
        return lam, phi, z_, t

    P.es = 0.0
    P.fwd, P.inv = fwd, inv
    P.left = UNITS_RADIANS
    P.right = UNITS_CLASSIC
    return P


def setup_igh_o(P: PJ) -> PJ:
    """igh_o.cpp: Oceanic-view interrupted Goode — zones 1-3/10-12
    Mollweide, 4-9 sinusoidal, different interruption meridians."""
    from proj_4_spark.kernels.pseudocyl import (
        _moll_setup,
        _sinu_sph_setup,
        gn_sinu_s_forward,
        gn_sinu_s_inverse,
        moll_s_forward,
        moll_s_inverse,
    )

    d = {k: k * _D for k in (10, 20, 40, 50, 60, 90, 100, 110, 130, 140, 150, 160, 180)}

    sinu_pj = PJ("sinu", {}, P.ell)
    sinu_pj.opaque["n"] = 1.0
    sinu_pj.opaque["m"] = 0.0
    _sinu_sph_setup(sinu_pj)
    moll_pj = PJ("moll", {}, P.ell)
    _moll_setup(moll_pj, C.M_HALFPI)

    def sinu_fwd(lam, phi):
        x, y, _, _ = gn_sinu_s_forward(lam, phi, lam, lam, sinu_pj)
        return x, y

    def moll_fwd(lam, phi):
        x, y, _, _ = moll_s_forward(lam, phi, lam, lam, moll_pj)
        return x, y

    def sinu_inv(x, y):
        lam, phi, _, _ = gn_sinu_s_inverse(x, y, x, x, sinu_pj)
        return lam, phi

    def moll_inv(x, y):
        lam, phi, _, _ = moll_s_inverse(x, y, x, x, moll_pj)
        return lam, phi

    x1, y1 = moll_fwd(np.array([0.0]), np.array([_PHI_B]))
    x4, y4 = sinu_fwd(np.array([0.0]), np.array([_PHI_B]))
    dy0 = float(y4[0] - y1[0])

    ZONES = {
        1: (True, -d[140], dy0),
        2: (True, -d[10], dy0),
        3: (True, d[130], dy0),
        4: (False, -d[140], 0.0),
        5: (False, -d[10], 0.0),
        6: (False, d[130], 0.0),
        7: (False, -d[110], 0.0),
        8: (False, d[20], 0.0),
        9: (False, d[150], 0.0),
        10: (True, -d[110], -dy0),
        11: (True, d[20], -dy0),
        12: (True, d[150], -dy0),
    }

    def _zone(lam_or_x, phi_or_y):
        v, u = phi_or_y, lam_or_x
        z = np.zeros_like(u, dtype=np.int64)
        nm = v >= _PHI_B
        ns = (v >= 0) & ~nm
        ss = (v >= -_PHI_B) & (v < 0)
        sm = v < -_PHI_B
        z = np.where(nm, np.select([u <= -d[90], u >= d[60]], [1, 3], 2), z)
        z = np.where(ns, np.select([u <= -d[90], u >= d[60]], [4, 6], 5), z)
        z = np.where(ss, np.select([u <= -d[60], u >= d[90]], [7, 9], 8), z)
        z = np.where(sm, np.select([u <= -d[60], u >= d[90]], [10, 12], 11), z)
        return z

    def fwd(lam, phi, z_, t, _P):
        zone = _zone(lam, phi)
        x = np.full_like(lam, np.nan)
        y = np.full_like(lam, np.nan)
        for zi, (is_moll, lam0_z, y0_z) in ZONES.items():
            m = zone == zi
            if not m.any():
                continue
            f = moll_fwd if is_moll else sinu_fwd
            zx, zy = f(lam[m] - lam0_z, phi[m])
            x[m] = zx + lam0_z
            y[m] = zy + y0_z
        return x, y, z_, t

    def inv(x, y, z_, t, _P):
        y90 = dy0 + math.sqrt(2.0)
        inside = ~((y > y90 + _EPSLN) | (y < -y90 + _EPSLN))
        zone = np.where(inside, _zone(x, y), 0)
        lam = np.full_like(x, np.nan)
        phi = np.full_like(x, np.nan)
        E = _EPSLN
        for zi, (is_moll, lam0_z, y0_z) in ZONES.items():
            m = zone == zi
            if not m.any():
                continue
            f = moll_inv if is_moll else sinu_inv
            zlam, zphi = f(x[m] - lam0_z, y[m] - y0_z)
            zlam = zlam + lam0_z
            if zi == 1:
                ok = ((zlam >= -d[180] - E) & (zlam <= -d[90] + E)) | (
                    (zlam >= d[160] - E) & (zlam <= d[180] + E)
                    & (zphi >= d[50] - E) & (zphi <= d[90] + E))
            elif zi == 2:
                ok = (zlam >= -d[90] - E) & (zlam <= d[60] + E)
            elif zi == 3:
                ok = ((zlam >= d[60] - E) & (zlam <= d[180] + E)) | (
                    (zlam >= -d[180] - E) & (zlam <= -d[160] + E)
                    & (zphi >= d[50] - E) & (zphi <= d[90] + E))
            elif zi == 4:
                ok = (zlam >= -d[180] - E) & (zlam <= -d[90] + E)
            elif zi == 5:
                ok = (zlam >= -d[90] - E) & (zlam <= d[60] + E)
            elif zi == 6:
                ok = (zlam >= d[60] - E) & (zlam <= d[180] + E)
            elif zi in (7, 10):
                ok = (zlam >= -d[180] - E) & (zlam <= -d[60] + E)
            elif zi == 8:
                ok = (zlam >= -d[60] - E) & (zlam <= d[90] + E)
            elif zi in (9, 12):
                ok = (zlam >= d[90] - E) & (zlam <= d[180] + E)
            else:  # 11
                ok = ((zlam >= -d[60] - E) & (zlam <= d[90] + E)) | (
                    (zlam >= d[90] - E) & (zlam <= d[100] + E)
                    & (zphi >= -d[90] - E) & (zphi <= -d[40] + E))
            lam[m] = np.where(ok, zlam, np.nan)
            phi[m] = np.where(ok, zphi, np.nan)
        return lam, phi, z_, t

    P.es = 0.0
    P.fwd, P.inv = fwd, inv
    P.left = UNITS_RADIANS
    P.right = UNITS_CLASSIC
    return P


def setup_ccon(P: PJ) -> PJ:
    """ccon.cpp (central conic)."""
    phi1 = P.param_r("lat_1")
    if abs(phi1) < 1e-10:
        raise ProjError("lat1_is_zero")
    sinphi1 = math.sin(phi1)
    cosphi1 = math.cos(phi1)
    ctgphi1 = cosphi1 / sinphi1

    def fwd(lam, phi, z, t, _P):
        r = ctgphi1 - np.tan(phi - phi1)
        x = r * np.sin(lam * sinphi1)
        y = ctgphi1 - r * np.cos(lam * sinphi1)
        return x, y, z, t

    def inv(x, y, z, t, _P):
        yy = ctgphi1 - y
        phi = phi1 - np.arctan(np.hypot(x, yy) - ctgphi1)
        lam = np.arctan2(x, yy) / sinphi1
        return lam, phi, z, t

    P.fwd, P.inv = fwd, inv
    P.left = UNITS_RADIANS
    P.right = UNITS_CLASSIC
    return P
