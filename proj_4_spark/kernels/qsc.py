"""Quadrilateralized Spherical Cube (qsc).

Reference: src/projections/qsc.cpp — six cube faces chosen at plan time
from lat_0/lon_0; per-face area dispatch vectorized with np.select.
"""

from __future__ import annotations

import math

import numpy as np

from proj_4_spark.kernels import common as C
from proj_4_spark.kernels.base import PJ, UNITS_CLASSIC, UNITS_RADIANS

_EPS10 = 1e-10
FORTPI = C.M_FORTPI
HALFPI = C.M_HALFPI
PI = C.M_PI
PI_HALFPI = PI + HALFPI


def _shift_lon(lon, offset):
    s = lon + offset
    s = np.where(s < -PI, s + C.M_TWOPI, s)
    s = np.where(s > PI, s - C.M_TWOPI, s)
    return s


def _equat_face_theta(phi, y, x):
    """qsc_fwd_equat_face_theta; qsc.cpp:87-110.  Returns (theta, area)."""
    theta = np.arctan2(y, x)
    a0 = np.abs(theta) <= FORTPI
    a1 = (theta > FORTPI) & (theta <= HALFPI + FORTPI)
    a2 = (theta > HALFPI + FORTPI) | (theta <= -(HALFPI + FORTPI))
    area = np.select([a0, a1, a2], [0, 1, 2], 3)
    theta = np.select(
        [a0, a1, a2],
        [theta, theta - HALFPI, np.where(theta >= 0.0, theta - PI, theta + PI)],
        theta + HALFPI,
    )
    flat = phi < _EPS10
    theta = np.where(flat, 0.0, theta)
    area = np.where(flat, 0, area)
    return theta, area


def setup_qsc(P: PJ) -> PJ:
    """qsc.cpp:265-296."""
    if P.phi0 >= HALFPI - FORTPI / 2.0:
        face = "top"
    elif P.phi0 <= -(HALFPI - FORTPI / 2.0):
        face = "bottom"
    elif abs(P.lam0) <= FORTPI:
        face = "front"
    elif abs(P.lam0) <= HALFPI + FORTPI:
        face = "right" if P.lam0 > 0.0 else "left"
    else:
        face = "back"
    # (1 - f)^2, with b = a(1 - f) as qsc.cpp computes it
    b = P.a * math.sqrt(1.0 - P.es)
    one_minus_f = 1.0 - (P.a - b) / P.a
    omf2 = one_minus_f * one_minus_f

    def fwd(lam, phi_in, z, t_, _P):
        if P.es != 0.0:
            lat = np.arctan(omf2 * np.tan(phi_in))
        else:
            lat = phi_in
        lon = lam
        if face == "top":
            phi = HALFPI - lat
            c0 = (lon >= FORTPI) & (lon <= HALFPI + FORTPI)
            c1 = (lon > HALFPI + FORTPI) | (lon <= -(HALFPI + FORTPI))
            c2 = (lon > -(HALFPI + FORTPI)) & (lon <= -FORTPI)
            area = np.select([c0, c1, c2], [0, 1, 2], 3)
            theta = np.select(
                [c0, c1, c2],
                [lon - HALFPI, np.where(lon > 0.0, lon - PI, lon + PI), lon + HALFPI],
                lon,
            )
        elif face == "bottom":
            phi = HALFPI + lat
            c0 = (lon >= FORTPI) & (lon <= HALFPI + FORTPI)
            c1 = (lon < FORTPI) & (lon >= -FORTPI)
            c2 = (lon < -FORTPI) & (lon >= -(HALFPI + FORTPI))
            area = np.select([c0, c1, c2], [0, 1, 2], 3)
            theta = np.select(
                [c0, c1, c2],
                [-lon + HALFPI, -lon, -lon - HALFPI],
                np.where(lon > 0.0, -lon + PI, -lon - PI),
            )
        else:
            if face == "right":
                lon = _shift_lon(lon, HALFPI)
            elif face == "back":
                lon = _shift_lon(lon, PI)
            elif face == "left":
                lon = _shift_lon(lon, -HALFPI)
            sinlat = np.sin(lat)
            coslat = np.cos(lat)
            sinlon = np.sin(lon)
            coslon = np.cos(lon)
            q = coslat * coslon
            r = coslat * sinlon
            s = sinlat
            if face == "front":
                phi = np.arccos(np.clip(q, -1, 1))
                theta, area = _equat_face_theta(phi, s, r)
            elif face == "right":
                phi = np.arccos(np.clip(r, -1, 1))
                theta, area = _equat_face_theta(phi, s, -q)
            elif face == "back":
                phi = np.arccos(np.clip(-q, -1, 1))
                theta, area = _equat_face_theta(phi, s, -r)
            else:  # left
                phi = np.arccos(np.clip(-r, -1, 1))
                theta, area = _equat_face_theta(phi, s, q)
        mu = np.arctan((12.0 / PI) * (theta + np.arccos(np.clip(
            np.sin(theta) * math.cos(FORTPI), -1, 1)) - HALFPI))
        with np.errstate(divide="ignore", invalid="ignore"):
            t = np.sqrt(
                (1.0 - np.cos(phi))
                / (np.cos(mu) * np.cos(mu))
                / (1.0 - np.cos(np.arctan(1.0 / np.cos(theta))))
            )
        mu = mu + np.select([area == 1, area == 2, area == 3],
                            [HALFPI, PI, PI_HALFPI], 0.0)
        x = t * np.cos(mu)
        y = t * np.sin(mu)
        return x, y, z, t_

    def inv(x, y, z, t_, _P):
        nu = np.arctan(np.sqrt(x * x + y * y))
        mu = np.arctan2(y, x)
        c0 = (x >= 0.0) & (x >= np.abs(y))
        c1 = (y >= 0.0) & (y >= np.abs(x)) & ~c0
        c2 = (x < 0.0) & (-x >= np.abs(y)) & ~c0 & ~c1
        area = np.select([c0, c1, c2], [0, 1, 2], 3)
        mu = np.select(
            [c0, c1, c2],
            [mu, mu - HALFPI, np.where(mu < 0.0, mu + PI, mu - PI)],
            mu + HALFPI,
        )
        t = (PI / 12.0) * np.tan(mu)
        tantheta = np.sin(t) / (np.cos(t) - (1.0 / math.sqrt(2.0)))
        theta = np.arctan(tantheta)
        cosmu = np.cos(mu)
        tannu = np.tan(nu)
        cosphi = 1.0 - cosmu * cosmu * tannu * tannu * (
            1.0 - np.cos(np.arctan(1.0 / np.cos(theta))))
        cosphi = np.clip(cosphi, -1.0, 1.0)
        if face == "top":
            phi = np.arccos(cosphi)
            out_phi = HALFPI - phi
            out_lam = np.select(
                [area == 0, area == 1, area == 2],
                [theta + HALFPI, np.where(theta < 0.0, theta + PI, theta - PI),
                 theta - HALFPI],
                theta,
            )
        elif face == "bottom":
            phi = np.arccos(cosphi)
            out_phi = phi - HALFPI
            out_lam = np.select(
                [area == 0, area == 1, area == 2],
                [-theta + HALFPI, -theta, -theta - HALFPI],
                np.where(theta < 0.0, -theta - PI, -theta + PI),
            )
        else:
            q = cosphi
            tt = q * q
            s = np.where(tt >= 1.0, 0.0, np.sqrt(np.maximum(1.0 - tt, 0)) * np.sin(theta))
            tt = tt + s * s
            r = np.where(tt >= 1.0, 0.0, np.sqrt(np.maximum(1.0 - tt, 0)))
            # area rotations (qsc.cpp:219-229)
            r1 = np.where(area == 1, -s, np.where(area == 2, -r, np.where(area == 3, s, r)))
            s1 = np.where(area == 1, r, np.where(area == 2, -s, np.where(area == 3, -r, s)))
            r, s = r1, s1
            # face rotations (qsc.cpp:231-243)
            if face == "right":
                q, r = -r, q
            elif face == "back":
                q, r = -q, -r
            elif face == "left":
                q, r = r, -q
            out_phi = np.arccos(np.clip(-s, -1, 1)) - HALFPI
            out_lam = np.arctan2(r, q)
            if face == "right":
                out_lam = _shift_lon(out_lam, -HALFPI)
            elif face == "back":
                out_lam = _shift_lon(out_lam, -PI)
            elif face == "left":
                out_lam = _shift_lon(out_lam, HALFPI)
        if P.es != 0.0:
            # the inverse of fwd's atan(omf2 * tan(phi)).  qsc.cpp's
            # atan(sqrt(a^2 - xa^2) / ((1 - f) * xa)), with xa =
            # b / sqrt(tan^2 + omf2), is the same value for b = a(1 - f),
            # but its a^2 - xa^2 cancels near the equator (lat 1.03e-6
            # deg came back as 0.0)
            out_phi = np.arctan(np.tan(out_phi) / omf2)
        return out_lam, out_phi, z, t_

    P.fwd, P.inv = fwd, inv
    P.left = UNITS_RADIANS
    P.right = UNITS_CLASSIC
    return P
