"""Adams/Guyou/Peirce square projections (elliptic-integral based).

Reference: src/projections/adams.cpp (ell_int_5 Chebyshev evaluation
20-43; mode dispatch 45-126; adams_ws2 Newton inverse 129-147).
"""

from __future__ import annotations

import numpy as np

from proj_4_spark.kernels import common as C
from proj_4_spark.kernels.base import PJ, UNITS_CLASSIC, UNITS_RADIANS

_TOL = 1e-9
_RSQRT2 = 0.7071067811865475244008443620
_C0 = 2.19174570831038
_COEF = (
    -8.58691003636495e-07,
    2.02692115653689e-07,
    3.12960480765314e-05,
    5.30394739921063e-05,
    -0.0012804644680613,
    -0.00575574836830288,
    0.0914203033408211,
)


def _ell_int_5(phi):
    """adams.cpp:20-43 (Chebyshev/Clenshaw evaluation)."""
    y = phi * (2.0 / C.M_PI)
    y = 2.0 * y * y - 1.0
    y2 = 2.0 * y
    d1 = np.zeros_like(np.asarray(phi, dtype=np.float64))
    d2 = np.zeros_like(d1)
    for c in _COEF:
        temp = d1
        d1 = y2 * d1 - d2 + c
        d2 = temp
    return phi * (y * d1 - d2 + 0.5 * _C0)


def _adams_core(lam, phi, mode):
    """adams_forward mode dispatch; adams.cpp:45-126.  Returns (x, y, bad)."""
    bad = np.zeros_like(lam, dtype=bool)
    if mode == "guyou":
        bad = (np.abs(lam) - _TOL) > C.M_HALFPI
        at_pole = np.abs(np.abs(phi) - C.M_HALFPI) < _TOL
        sl = np.sin(lam)
        sp = np.sin(phi)
        cp = np.cos(phi)
        a = C.aacos((cp * sl - sp) * _RSQRT2)
        b = C.aacos((cp * sl + sp) * _RSQRT2)
        sm = lam < 0.0
        sn = phi < 0.0
    elif mode == "peirce_q":
        bad = phi < -_TOL
        at_pole = np.zeros_like(bad)
        sl = np.sin(lam)
        cl = np.cos(lam)
        cp = np.cos(phi)
        a = C.aacos(cp * (sl + cl) * _RSQRT2)
        b = C.aacos(cp * (sl - cl) * _RSQRT2)
        sm = sl < 0.0
        sn = cl > 0.0
    elif mode == "adams_hemi":
        sp = np.sin(phi)
        bad = (np.abs(lam) - _TOL) > C.M_HALFPI
        at_pole = np.zeros_like(bad)
        av = np.cos(phi) * np.sin(lam)
        sm = (sp + av) < 0.0
        sn = (sp - av) < 0.0
        a = C.aacos(av)
        b = C.M_HALFPI - phi
    elif mode == "adams_ws1":
        at_pole = np.zeros_like(lam, dtype=bool)
        sp = np.tan(0.5 * phi)
        bv = np.cos(C.aasin(sp)) * np.sin(0.5 * lam)
        a = C.aacos((bv - sp) * _RSQRT2)
        b = C.aacos((bv + sp) * _RSQRT2)
        sm = lam < 0.0
        sn = phi < 0.0
    elif mode == "adams_ws2":
        at_pole = np.zeros_like(lam, dtype=bool)
        spp = np.tan(0.5 * phi)
        av = np.cos(C.aasin(spp)) * np.sin(0.5 * lam)
        sm = (spp + av) < 0.0
        sn = (spp - av) < 0.0
        b = C.aacos(spp)
        a = C.aacos(av)
    else:
        raise ValueError(mode)

    m = C.aasin(np.sqrt(1.0 + np.minimum(0.0, np.cos(a + b))))
    m = np.where(sm, -m, m)
    n = C.aasin(np.sqrt(np.abs(1.0 - np.maximum(0.0, np.cos(a - b)))))
    n = np.where(sn, -n, n)
    x = _ell_int_5(m)
    y = _ell_int_5(n)
    if mode in ("adams_hemi", "adams_ws2"):
        temp = x
        x = _RSQRT2 * (x - y)
        y = _RSQRT2 * (temp + y)
    if mode == "guyou":
        x = np.where(at_pole, 0.0, x)
        y = np.where(at_pole, np.where(phi < 0, -1.85407, 1.85407), y)
    return np.where(bad, np.nan, x), np.where(bad, np.nan, y), bad


def _ell_int_5_inv(v):
    """Invert ell_int_5 by Newton with the analytic derivative
    dF/dphi = 1/sqrt(1 - 0.5 sin^2 phi) (incomplete elliptic integral of
    the first kind with sin^2(alpha) = 1/2).  Monotonic -> quadratic
    convergence from phi = v / (C0/2)."""
    v = np.asarray(v, dtype=np.float64)
    phi = np.clip(v / (0.5 * _C0), -C.M_HALFPI, C.M_HALFPI)
    for _ in range(20):
        f = _ell_int_5(phi) - v
        der = 1.0 / np.sqrt(1.0 - 0.5 * np.sin(phi) ** 2)
        step = f / der
        phi = np.clip(phi - step, -C.M_HALFPI, C.M_HALFPI)
        if np.all(np.abs(step) < 1e-14):
            break
    return phi


def _adams_ws2_inverse(x, y, z, t, P):
    """Closed-form adams_ws2 inverse (replaces the reference's 2D Newton,
    adams.cpp:129-147, whose convergence near the poles depends on
    last-ulp rounding of the forward; results agree with converged C
    output to <1e-10 rad and remain exact at the poles).

    Derivation: un-rotate 45 deg, invert the elliptic integrals to get
    (m, n); with K1 = cos(a)cos(b), K2 = sin(a)sin(b) recovered from
    sin^2 m = 1 + cos(a+b), sin^2 n = 1 - cos(a-b), and the ws2 relations
    cos b = tan(phi/2), cos a = cos(asin(tan(phi/2))) sin(lam/2), the
    quantity u = tan^2(phi/2) solves u^2 - u(1 + K1^2 - K2^2) + K1^2 = 0;
    root picked by forward-residual.
    """
    rx = _RSQRT2 * (x + y)
    ry = _RSQRT2 * (y - x)
    m = _ell_int_5_inv(rx)
    n = _ell_int_5_inv(ry)
    cm = np.cos(m)
    cn = np.cos(n)
    c1 = -(cm * cm)              # cos(a+b) = sin^2 m - 1 = -cos^2 m <= 0
    c2 = cn * cn                 # cos(a-b) = 1 - sin^2 n = cos^2 n >= 0
    K1 = 0.5 * (c1 + c2)         # cos(a)cos(b) = spp * S * sl
    K2 = 0.5 * (c2 - c1)         # sin(a)sin(b) = R * S >= 0
    B = 1.0 + K1 * K1 - K2 * K2
    disc = np.sqrt(np.maximum(B * B - 4.0 * K1 * K1, 0.0))
    best_lam = np.zeros_like(x)
    best_phi = np.zeros_like(x)
    best_res = np.full_like(x, np.inf)
    # the two roots are u = tan^2(phi/2) and u = cos^2(a); compute the
    # larger stably, the smaller via the product relation u1*u2 = K1^2
    r1 = np.maximum((B + disc) * 0.5, 0.0)
    with np.errstate(divide="ignore", invalid="ignore"):
        r2 = np.where(r1 > 0, (K1 * K1) / np.where(r1 == 0, 1.0, r1), 0.0)
    # sign recovery: sgn(m) = sgn(spp+av), sgn(n) = sgn(spp-av)
    # (adams.cpp:110-115); when they agree that's the sign of spp, when
    # they disagree |av|>|spp| and the spp sign is ambiguous -> try both
    s_sum = np.sign(m)
    s_dif = np.sign(n)
    agree = s_sum * s_dif >= 0
    sign_a = np.where(s_sum + s_dif >= 0, 1.0, -1.0)
    candidates = [(r1, sign_a), (r2, sign_a)]
    amb = ~agree
    if amb.any():
        candidates += [(r1, -sign_a), (r2, -sign_a)]
    for root, sgn in candidates:
        u = np.clip(root, 0.0, 1.0)
        spp = sgn * np.sqrt(u)
        S2 = 1.0 - u
        with np.errstate(divide="ignore", invalid="ignore"):
            sl = np.where(S2 * np.abs(spp) > 1e-300,
                          K1 / (np.sqrt(np.maximum(S2, 0)) * spp), 0.0)
        sl = np.clip(sl, -1.0, 1.0)
        phi_c = 2.0 * np.arctan(spp)
        lam_c = 2.0 * np.arcsin(sl)
        fx, fy, _ = _adams_core(lam_c, phi_c, "adams_ws2")
        res = np.abs(fx - x) + np.abs(fy - y)
        better = res < best_res
        best_lam = np.where(better, lam_c, best_lam)
        best_phi = np.where(better, phi_c, best_phi)
        best_res = np.where(better, res, best_res)
    # polish with one damped Newton pass through the generic inverse for
    # lanes whose residual is above the forward's own noise floor
    rough = best_res > 1e-10
    if rough.any():
        lam2, phi2 = C.generic_inverse_2d(
            lambda ll, pp: _adams_core(ll, pp, "adams_ws2")[:2], P,
            x, y, best_lam, best_phi,
        )
        fx, fy, _ = _adams_core(lam2, phi2, "adams_ws2")
        res2 = np.abs(fx - x) + np.abs(fy - y)
        improved = rough & (res2 < best_res)
        best_lam = np.where(improved, lam2, best_lam)
        best_phi = np.where(improved, phi2, best_phi)
        best_res = np.where(improved, res2, best_res)
    # out-of-domain input (no (lam,phi) maps there) -> error, matching the
    # reference's non_convergent errno (adams_ws2.gie expected failure)
    bad = best_res > 1e-6
    best_lam = np.where(bad, np.nan, best_lam)
    best_phi = np.where(bad, np.nan, best_phi)
    return best_lam, best_phi, z, t


def _setup(P: PJ, mode: str) -> PJ:
    def fwd(lam, phi, z, t, _P):
        x, y, _ = _adams_core(lam, phi, mode)
        return x, y, z, t

    P.es = 0.0
    P.fwd = fwd
    if mode == "adams_ws2":
        P.inv = _adams_ws2_inverse
    P.left = UNITS_RADIANS
    P.right = UNITS_CLASSIC
    return P


def setup_guyou(P):
    return _setup(P, "guyou")


def setup_peirce_q(P):
    return _setup(P, "peirce_q")


def setup_adams_hemi(P):
    return _setup(P, "adams_hemi")


def setup_adams_ws1(P):
    return _setup(P, "adams_ws1")


def setup_adams_ws2(P):
    return _setup(P, "adams_ws2")
