"""Azimuthal Equidistant (aeqd) incl. Guam mode.

Reference: src/projections/aeqd.cpp.  The ellipsoidal oblique/equatorial
branch solves the geodesic inverse/direct problems with Karney's
algorithm (aeqd.cpp:70-78,155-161), here through the vectorized port in
kernels/geodesic.py, so it stays exact up to the antipode.
"""

from __future__ import annotations

import math

import numpy as np

from proj_4_spark.kernels import common as C
from proj_4_spark.kernels.base import PJ, UNITS_CLASSIC, UNITS_RADIANS
from proj_4_spark.kernels.geodesic import _cached_geodesic

_EPS10 = 1e-10
_TOL = 1e-14


def setup_aeqd(P: PJ) -> PJ:
    """aeqd.cpp:276-330."""
    if abs(abs(P.phi0) - C.M_HALFPI) < _EPS10:
        mode = "s_pole" if P.phi0 < 0 else "n_pole"
        sinph0 = -1.0 if P.phi0 < 0 else 1.0
        cosph0 = 0.0
    elif abs(P.phi0) < _EPS10:
        mode = "equit"
        sinph0, cosph0 = 0.0, 1.0
    else:
        mode = "obliq"
        sinph0, cosph0 = math.sin(P.phi0), math.cos(P.phi0)

    guam = P.param_b("guam")
    g = _cached_geodesic(P.a, P.f)
    if P.es != 0.0:
        en = C.enfn(P.es)
        M1 = float(C.mlfn(np.float64(P.phi0), np.float64(sinph0),
                          np.float64(cosph0), en))
        # Mp is the meridional distance to the projection's own pole
        # (aeqd.cpp:310-315)
        if mode == "s_pole":
            Mp = float(C.mlfn(np.float64(-C.M_HALFPI), np.float64(-1.0),
                              np.float64(0.0), en))
        else:
            Mp = float(C.mlfn(np.float64(C.M_HALFPI), np.float64(1.0),
                              np.float64(0.0), en))

    # --- ellipsoidal ---------------------------------------------------
    def e_guam_fwd(lam, phi, z, t, _P):
        """aeqd.cpp:36-49."""
        cosphi = np.cos(phi)
        sinphi = np.sin(phi)
        tt = 1.0 / np.sqrt(1.0 - P.es * sinphi * sinphi)
        x = lam * cosphi * tt
        y = (C.mlfn(phi, sinphi, cosphi, en) - M1
             + 0.5 * lam * lam * cosphi * sinphi * tt)
        return x, y, z, t

    def e_guam_inv(x, y, z, t, _P):
        """aeqd.cpp:127-143 (3 fixed iterations)."""
        x2 = 0.5 * x * x
        phi = np.full_like(x, P.phi0)
        tt = np.zeros_like(x)
        for _ in range(3):
            tt = P.e * np.sin(phi)
            tt = np.sqrt(1.0 - tt * tt)
            phi = C.inv_mlfn(M1 + y - x2 * np.tan(phi) * tt, P.es, en)
        lam = x * tt / np.cos(phi)
        return lam, phi, z, t

    def e_fwd(lam, phi, z, t, _P):
        """aeqd.cpp:51-90."""
        coslam = np.cos(lam)
        cosphi = np.cos(phi)
        sinphi = np.sin(phi)
        if mode in ("n_pole", "s_pole"):
            cl = -coslam if mode == "n_pole" else coslam
            rho = np.abs(Mp - C.mlfn(phi, sinphi, cosphi, en))
            x = rho * np.sin(lam)
            y = rho * cl
            return x, y, z, t
        center = (np.abs(lam) < _EPS10) & (np.abs(phi - P.phi0) < _EPS10)
        s12, azi1, _, _ = g.inverse(
            np.full_like(phi, P.phi0 / C.DEG_TO_RAD),
            np.full_like(lam, P.lam0 / C.DEG_TO_RAD),
            phi / C.DEG_TO_RAD, (lam + P.lam0) / C.DEG_TO_RAD,
        )
        azi1 = azi1 * C.DEG_TO_RAD
        x = s12 * np.sin(azi1) / P.a
        y = s12 * np.cos(azi1) / P.a
        x = np.where(center, 0.0, x)
        y = np.where(center, 0.0, y)
        return x, y, z, t

    def e_inv(x, y, z, t, _P):
        """aeqd.cpp:146-173."""
        c = np.hypot(x, y)
        center = c < _EPS10
        if mode in ("obliq", "equit"):
            x2 = x * P.a
            y2 = y * P.a
            azi1 = np.arctan2(x2, y2) / C.DEG_TO_RAD
            s12 = np.sqrt(x2 * x2 + y2 * y2)
            lat2, lon2, _, _ = g.direct(
                np.full_like(y, P.phi0 / C.DEG_TO_RAD),
                np.full_like(x, P.lam0 / C.DEG_TO_RAD), azi1, s12,
            )
            phi = lat2 * C.DEG_TO_RAD
            lam = lon2 * C.DEG_TO_RAD - P.lam0
        else:
            phi = C.inv_mlfn(Mp - c if mode == "n_pole" else Mp + c, P.es, en)
            lam = np.arctan2(x, -y if mode == "n_pole" else y)
        phi = np.where(center, P.phi0, phi)
        lam = np.where(center, 0.0, lam)
        return lam, phi, z, t

    # --- spherical -----------------------------------------------------
    def s_fwd(lam, phi, z, t, _P):
        """aeqd.cpp:93-135."""
        sinphi = np.sin(phi)
        cosphi = np.cos(phi)
        coslam = np.cos(lam)
        if mode in ("equit", "obliq"):
            if mode == "equit":
                cosc = cosphi * coslam
            else:
                cosc = sinph0 * sinphi + cosph0 * cosphi * coslam
            near_unit = np.abs(np.abs(cosc) - 1.0) < _TOL
            bad = near_unit & (cosc < 0.0)
            # antipodal-center lanes delegate to the geodesic form
            # (aeqd.cpp:103: return aeqd_e_forward)
            with np.errstate(divide="ignore", invalid="ignore"):
                yv = np.arccos(np.clip(cosc, -1, 1))
                yv = yv / np.sin(yv)
            x = yv * cosphi * np.sin(lam)
            y = yv * (sinphi if mode == "equit"
                      else cosph0 * sinphi - sinph0 * cosphi * coslam)
            if near_unit.any():
                ex, ey, _, _ = e_fwd(lam, phi, z, t, _P)
                x = np.where(near_unit & ~bad, ex, x)
                y = np.where(near_unit & ~bad, ey, y)
            x = np.where(bad, np.nan, x)
            y = np.where(bad, np.nan, y)
        else:
            ph = -phi if mode == "n_pole" else phi
            cl = -coslam if mode == "n_pole" else coslam
            bad = np.abs(ph - C.M_HALFPI) < _EPS10
            y = C.M_HALFPI + ph
            x = y * np.sin(lam)
            y = y * cl
            x = np.where(bad, np.nan, x)
            y = np.where(bad, np.nan, y)
        return x, y, z, t

    def s_inv(x, y, z, t, _P):
        """aeqd.cpp:176-220."""
        c_rh = np.hypot(x, y)
        bad = c_rh - _EPS10 > C.M_PI
        c_rh = np.minimum(c_rh, C.M_PI)
        center = c_rh < _EPS10
        c_safe = np.where(center, 1.0, c_rh)
        if mode in ("obliq", "equit"):
            sinc = np.sin(c_rh)
            cosc = np.cos(c_rh)
            if mode == "equit":
                phi = C.aasin(y * sinc / c_safe)
                xx = x * sinc
                yy = cosc * c_rh
            else:
                phi = C.aasin(cosc * sinph0 + y * sinc * cosph0 / c_safe)
                yy = (cosc - sinph0 * np.sin(phi)) * c_rh
                xx = x * sinc * cosph0
            lam = np.where(yy == 0.0, 0.0, np.arctan2(xx, yy))
        elif mode == "n_pole":
            phi = C.M_HALFPI - c_rh
            lam = np.arctan2(x, -y)
        else:
            phi = c_rh - C.M_HALFPI
            lam = np.arctan2(x, y)
        phi = np.where(center, P.phi0, phi)
        lam = np.where(center, 0.0, lam)
        return np.where(bad, np.nan, lam), np.where(bad, np.nan, phi), z, t

    if P.es == 0.0:
        P.fwd, P.inv = s_fwd, s_inv
    elif guam:
        P.fwd, P.inv = e_guam_fwd, e_guam_inv
    else:
        P.fwd, P.inv = e_fwd, e_inv
    P.left = UNITS_RADIANS
    P.right = UNITS_CLASSIC
    return P
