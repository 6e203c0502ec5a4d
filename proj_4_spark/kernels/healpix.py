"""HEALPix and rHEALPix.

Reference: src/projections/healpix.cpp.  The ellipsoidal variants work
on the authalic sphere: setup rescales P.a to the authalic radius
(healpix.cpp:594-601, 637-643) and the kernels convert latitude through
the authalic latitude (pj_qsfn ratio fwd, pj_authlat series inv).
rHEALPix reassembles the four polar caps into square north_square /
south_square via per-cap 90-degree rotations (combine_caps,
healpix.cpp:404-466); the inverse first checks point-in-image with the
reference's own pnpoly walk (healpix.cpp:117-215) and yields NaN
outside (HUGE_VAL + PJD_ERR_INVALID_X_OR_Y in C).
"""

from __future__ import annotations

import math

import numpy as np

from proj_4_spark.kernels import common as C
from proj_4_spark.kernels.base import PJ, ProjError, UNITS_CLASSIC, UNITS_RADIANS

_EPS = 1e-15
FORTPI = C.M_FORTPI
HALFPI = C.M_HALFPI
PI = C.M_PI

# CCW rotation by k*90deg: cos/sin lookup (ROT table, healpix.cpp:43-52;
# get_rotate_index maps negative k to the 4-k rotation, i.e. k mod 4).
_COSK = np.array([1.0, 0.0, -1.0, 0.0])
_SINK = np.array([0.0, 1.0, 0.0, -1.0])


def _sign(v):
    return np.where(v > 0, 1.0, np.where(v < 0, -1.0, 0.0))


def _healpix_verts():
    """healpixVertsJit (healpix.cpp:166-186) — closed 19-vertex ring."""
    return [
        (-PI - _EPS, FORTPI),
        (-3 * FORTPI, HALFPI + _EPS),
        (-HALFPI, FORTPI + _EPS),
        (-FORTPI, HALFPI + _EPS),
        (0.0, FORTPI + _EPS),
        (FORTPI, HALFPI + _EPS),
        (HALFPI, FORTPI + _EPS),
        (3 * FORTPI, HALFPI + _EPS),
        (PI + _EPS, FORTPI),
        (PI + _EPS, -FORTPI),
        (3 * FORTPI, -HALFPI - _EPS),
        (HALFPI, -FORTPI - _EPS),
        (FORTPI, -HALFPI - _EPS),
        (0.0, -FORTPI - _EPS),
        (-FORTPI, -HALFPI - _EPS),
        (-HALFPI, -FORTPI - _EPS),
        (-3 * FORTPI, -HALFPI - _EPS),
        (-PI - _EPS, -FORTPI),
        (-PI - _EPS, FORTPI),
    ]


def _rhealpix_verts(ns: int, ss: int):
    """rhealpixVertsJit (healpix.cpp:195-208); NOT closed back to vertex 0
    — the reference's pnpoly walks consecutive edges only, so the final
    closing edge is absent there too."""
    return [
        (-PI - _EPS, FORTPI + _EPS),
        (-PI + ns * HALFPI - _EPS, FORTPI + _EPS),
        (-PI + ns * HALFPI - _EPS, 3 * FORTPI + _EPS),
        (-PI + (ns + 1.0) * HALFPI + _EPS, 3 * FORTPI + _EPS),
        (-PI + (ns + 1.0) * HALFPI + _EPS, FORTPI + _EPS),
        (PI + _EPS, FORTPI + _EPS),
        (PI + _EPS, -FORTPI - _EPS),
        (-PI + (ss + 1.0) * HALFPI + _EPS, -FORTPI - _EPS),
        (-PI + (ss + 1.0) * HALFPI + _EPS, -3 * FORTPI - _EPS),
        (-PI + ss * HALFPI - _EPS, -3 * FORTPI - _EPS),
        (-PI + ss * HALFPI - _EPS, -FORTPI - _EPS),
        (-PI - _EPS, -FORTPI - _EPS),
    ]


def _pnpoly(verts, tx, ty):
    """Vectorized transliteration of pnpoly (healpix.cpp:117-157):
    boundary vertices count as inside; edges are consecutive pairs only."""
    inside_vert = np.zeros_like(tx, dtype=bool)
    for vx, vy in verts:
        inside_vert |= (tx == vx) & (ty == vy)
    counter = np.zeros_like(tx, dtype=np.int64)
    p1x, p1y = verts[0]
    n = len(verts)
    for i in range(1, n):
        p2x, p2y = verts[i % n]
        if p1y != p2y:
            cond = (
                (ty > min(p1y, p2y))
                & (ty <= max(p1y, p2y))
                & (tx <= max(p1x, p2x))
            )
            xinters = (ty - p1y) * (p2x - p1x) / (p2y - p1y) + p1x
            counter += cond & ((p1x == p2x) | (tx <= xinters))
        p1x, p1y = p2x, p2y
    return inside_vert | (counter % 2 == 1)


def _healpix_sphere(lam, phi):
    """healpix_sphere (healpix.cpp:242-267)."""
    phi0 = math.asin(2.0 / 3.0)
    sigma = np.sqrt(3.0 * (1.0 - np.abs(np.sin(phi))))
    cn = np.minimum(np.floor(2.0 * lam / PI + 2.0), 3.0)
    lamc = -3.0 * FORTPI + HALFPI * cn
    equat = np.abs(phi) <= phi0
    x = np.where(equat, lam, lamc + (lam - lamc) * sigma)
    y = np.where(equat, 3.0 * PI / 8.0 * np.sin(phi),
                 _sign(phi) * FORTPI * (2.0 - sigma))
    return x, y


def _healpix_sphere_inverse(x, y):
    """healpix_spherhealpix_e_inverse (healpix.cpp:270-297)."""
    equat = np.abs(y) <= FORTPI
    polar = (np.abs(y) < HALFPI) & ~equat
    cn = np.minimum(np.floor(2.0 * x / PI + 2.0), 3.0)
    xc = -3.0 * FORTPI + HALFPI * cn
    tau = 2.0 - 4.0 * np.abs(y) / PI
    with np.errstate(divide="ignore", invalid="ignore"):
        lam_p = xc + (x - xc) / tau
        phi_p = _sign(y) * np.arcsin(np.clip(1.0 - tau * tau / 3.0, -1, 1))
    lam = np.where(equat, x, np.where(polar, lam_p, -PI))
    phi = np.where(equat, np.arcsin(np.clip(8.0 * y / (3.0 * PI), -1, 1)),
                   np.where(polar, phi_p, _sign(y) * HALFPI))
    return lam, phi


def _combine_caps(x, y, ns: int, ss: int, inverse: bool):
    """combine_caps + get_cap (healpix.cpp:320-466), vectorized.

    The per-cap ROT matrix is a CCW rotation by k*90deg with
    k = (cn - pole) mod 4 (fwd north / inv south) or (pole - cn) mod 4
    (fwd south / inv north).
    """
    north = y > FORTPI
    south = y < -FORTPI
    if not inverse:
        # get_cap fwd: cn from the HEALPix x position (healpix.cpp:355-372)
        cn = np.select(
            [x < -HALFPI, x < 0.0, x < HALFPI], [0, 1, 2], 3
        ).astype(np.int64)
        capx = -3.0 * FORTPI + cn * HALFPI
        k = np.where(north, (cn - ns) % 4, (ss - cn) % 4)
        pole = np.where(north, ns, ss)
        ax = -3.0 * FORTPI + pole * HALFPI
    else:
        # get_cap inv: which HEALPix cap the square piece disassembles to
        # (healpix.cpp:373-400)
        xs = np.where(north, x - ns * HALFPI, x - ss * HALFPI)
        cn_n = np.select(
            [
                (y >= -xs - FORTPI - _EPS) & (y < xs + 5 * FORTPI - _EPS),
                (y > -xs - FORTPI + _EPS) & (y >= xs + 5 * FORTPI - _EPS),
                (y <= -xs - FORTPI + _EPS) & (y > xs + 5 * FORTPI + _EPS),
            ],
            [(ns + 1) % 4, (ns + 2) % 4, (ns + 3) % 4],
            ns,
        )
        cn_s = np.select(
            [
                (y <= xs + FORTPI + _EPS) & (y > -xs - 5 * FORTPI + _EPS),
                (y < xs + FORTPI - _EPS) & (y <= -xs - 5 * FORTPI + _EPS),
                (y >= xs + FORTPI - _EPS) & (y < -xs - 5 * FORTPI - _EPS),
            ],
            [(ss + 1) % 4, (ss + 2) % 4, (ss + 3) % 4],
            ss,
        )
        cn = np.where(north, cn_n, cn_s).astype(np.int64)
        capx = np.where(north, -3.0 * FORTPI + ns * HALFPI,
                        -3.0 * FORTPI + ss * HALFPI)
        k = np.where(north, (ns - cn) % 4, (cn - ss) % 4)
        ax = -3.0 * FORTPI + cn * HALFPI
    capy = np.where(north, HALFPI, -HALFPI)
    ck, sk = _COSK[k], _SINK[k]
    dx = x - capx
    dy = y - capy
    ox = ck * dx - sk * dy + ax
    oy = sk * dx + ck * dy + capy
    polar = north | south
    return np.where(polar, ox, x), np.where(polar, oy, y)


def _auth_setup(P: PJ):
    """Authalic-sphere rescale shared by both ellipsoidal setups
    (healpix.cpp:594-601)."""
    apa = C.authset(P.es)
    qp = C.qsfn(1.0, P.e, P.one_es)
    P.a = P.a * math.sqrt(0.5 * qp)
    P.ra = 1.0 / P.a
    return apa, qp


def _auth_lat_fwd(P: PJ, qp, phi):
    q = C.qsfn(np.sin(phi), P.e, P.one_es)
    ratio = np.clip(q / qp, -1.0, 1.0)
    return np.arcsin(ratio)


def setup_healpix(P: PJ) -> PJ:
    """healpix.cpp:580-607."""
    rot_xy = math.radians(P.param_f("rot_xy"))
    ell = P.es != 0.0
    if ell:
        apa, qp = _auth_setup(P)
    verts = _healpix_verts()

    def fwd(lam, phi, z, t, _P):
        if ell:
            phi = _auth_lat_fwd(P, qp, phi)
        x, y = _healpix_sphere(lam, phi)
        if rot_xy != 0.0:
            ca, sa = math.cos(-rot_xy), math.sin(-rot_xy)
            x, y = x * ca - y * sa, y * ca + x * sa
        return x, y, z, t

    def inv(x, y, z, t, _P):
        if rot_xy != 0.0:
            ca, sa = math.cos(rot_xy), math.sin(rot_xy)
            x, y = x * ca - y * sa, y * ca + x * sa
        bad = ~_pnpoly(verts, x, y)
        lam, phi = _healpix_sphere_inverse(x, y)
        if ell:
            phi = C.authlat(phi, apa)
        lam = np.where(bad, np.nan, lam)
        phi = np.where(bad, np.nan, phi)
        return lam, phi, z, t

    P.fwd, P.inv = fwd, inv
    P.left = UNITS_RADIANS
    P.right = UNITS_CLASSIC
    return P


def setup_rhealpix(P: PJ) -> PJ:
    """healpix.cpp:610-648."""
    ns = P.param_i("north_square")
    ss = P.param_i("south_square")
    if ns < 0 or ns > 3 or ss < 0 or ss > 3:
        raise ProjError("axis")
    ell = P.es != 0.0
    if ell:
        apa, qp = _auth_setup(P)
    verts = _rhealpix_verts(ns, ss)

    def fwd(lam, phi, z, t, _P):
        if ell:
            phi = _auth_lat_fwd(P, qp, phi)
        x, y = _healpix_sphere(lam, phi)
        x, y = _combine_caps(x, y, ns, ss, inverse=False)
        return x, y, z, t

    def inv(x, y, z, t, _P):
        bad = ~_pnpoly(verts, x, y)
        x2, y2 = _combine_caps(x, y, ns, ss, inverse=True)
        lam, phi = _healpix_sphere_inverse(x2, y2)
        if ell:
            phi = C.authlat(phi, apa)
        lam = np.where(bad, np.nan, lam)
        phi = np.where(bad, np.nan, phi)
        return lam, phi, z, t

    P.fwd, P.inv = fwd, inv
    P.left = UNITS_RADIANS
    P.right = UNITS_CLASSIC
    return P
