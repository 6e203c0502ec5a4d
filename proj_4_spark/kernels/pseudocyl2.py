"""Pseudocylindrical / cylindrical long tail (all spherical).

References (src/projections/): eck1.cpp, eck2.cpp, eck3.cpp (eck3, kav7,
wag6, putp1), eck4.cpp, eck5.cpp, mill.cpp, gall.cpp, wag2.cpp, wag3.cpp,
wag7.cpp, putp2.cpp, putp3.cpp, putp4p.cpp (putp4p, weren), putp5.cpp,
putp6.cpp, urmfps.cpp (urmfps, wag1).  Every op forces es=0 as the C does.
"""

from __future__ import annotations

import math

import numpy as np

from proj_4_spark.kernels import common as C
from proj_4_spark.kernels.base import PJ, ProjError, spherical


# --- eck1 (eck1.cpp) ---------------------------------------------------------
_E1_FC = 0.92131773192356127802
_E1_RP = 0.31830988618379067154


def setup_eck1(P: PJ) -> PJ:
    def fwd(lam, phi, z, t, _P):
        return (_E1_FC * lam * (1.0 - _E1_RP * np.abs(phi)), _E1_FC * phi, z, t)

    def inv(x, y, z, t, _P):
        phi = y / _E1_FC
        lam = x / (_E1_FC * (1.0 - _E1_RP * np.abs(phi)))
        return lam, phi, z, t

    return spherical(P, fwd, inv)


# --- eck2 (eck2.cpp) ---------------------------------------------------------
_E2_FXC = 0.46065886596178063902
_E2_FYC = 1.44720250911653531871
_E2_C13 = 0.33333333333333333333
_E2_ONEEPS = 1.0000001


def setup_eck2(P: PJ) -> PJ:
    def fwd(lam, phi, z, t, _P):
        yy = np.sqrt(4.0 - 3.0 * np.sin(np.abs(phi)))
        x = _E2_FXC * lam * yy
        y = _E2_FYC * (2.0 - yy)
        y = np.where(phi < 0.0, -y, y)
        return x, y, z, t

    def inv(x, y, z, t, _P):
        phi = 2.0 - np.abs(y) / _E2_FYC
        lam = x / (_E2_FXC * phi)
        phi = (4.0 - phi * phi) * _E2_C13
        big = np.abs(phi) >= 1.0
        bad = np.abs(phi) > _E2_ONEEPS
        phi = np.where(big, np.where(phi < 0.0, -C.M_HALFPI, C.M_HALFPI),
                       np.arcsin(np.clip(phi, -1, 1)))
        phi = np.where(y < 0, -phi, phi)
        phi = np.where(bad, np.nan, phi)
        lam = np.where(bad, np.nan, lam)
        return lam, phi, z, t

    return spherical(P, fwd, inv)


# --- eck3 family (eck3.cpp): x = Cx*lam*(A + asqrt(1 - B*phi^2)) --------------

def _eck3_family(P: PJ, C_x, C_y, A, B) -> PJ:
    def fwd(lam, phi, z, t, _P):
        return (C_x * lam * (A + C.asqrt(1.0 - B * phi * phi)), C_y * phi, z, t)

    def inv(x, y, z, t, _P):
        phi = y / C_y
        denom = C_x * (A + C.asqrt(1.0 - B * phi * phi))
        with np.errstate(divide="ignore", invalid="ignore"):
            lam = np.where(denom == 0.0, np.nan, x / np.where(denom == 0, 1.0, denom))
        return lam, phi, z, t

    return spherical(P, fwd, inv)


def setup_eck3(P: PJ) -> PJ:
    return _eck3_family(P, 0.42223820031577120149, 0.84447640063154240298,
                        1.0, 0.4052847345693510857755)


def setup_kav7(P: PJ) -> PJ:
    return _eck3_family(P, 0.8660254037844, 1.0, 0.0, 0.30396355092701331433)


def setup_wag6(P: PJ) -> PJ:
    return _eck3_family(P, 0.94745, 0.94745, 0.0, 0.30396355092701331433)


def setup_putp1(P: PJ) -> PJ:
    return _eck3_family(P, 1.89490, 0.94745, -0.5, 0.30396355092701331433)


# --- eck4 (eck4.cpp; Newton NITER=6 EPS=1e-7) ---------------------------------
_E4_CX = 0.42223820031577120149
_E4_CY = 1.32650042817700232218
_E4_RCY = 0.75386330736002178205
_E4_CP = 3.57079632679489661922
_E4_RCP = 0.28004957675577868795


def setup_eck4(P: PJ) -> PJ:
    def fwd(lam, phi, z, t, _P):
        p = _E4_CP * np.sin(phi)
        V = phi * phi
        ph = phi * (0.895168 + V * (0.0218849 + V * 0.00826809))
        converged = np.zeros(ph.shape, dtype=bool)
        active = np.isfinite(ph)
        for _ in range(6):
            if not active.any():
                break
            c = np.cos(ph[active])
            s = np.sin(ph[active])
            V = (ph[active] + s * (c + 2.0) - p[active]) / (
                1.0 + c * (c + 2.0) - s * s
            )
            ph[active] = ph[active] - V
            done = np.abs(V) < 1e-7
            cv = converged[active]
            cv |= done
            converged[active] = cv
            nxt = active.copy()
            nxt[active] = ~done
            active = nxt
        x = np.where(converged, _E4_CX * lam * (1.0 + np.cos(ph)), _E4_CX * lam)
        y = np.where(converged, _E4_CY * np.sin(ph),
                     np.where(ph < 0.0, -_E4_CY, _E4_CY))
        return x, y, z, t

    def inv(x, y, z, t, _P):
        phi = C.aasin(y * _E4_RCY)
        c = np.cos(phi)
        lam = x / (_E4_CX * (1.0 + c))
        phi = C.aasin((phi + np.sin(phi) * (c + 2.0)) * _E4_RCP)
        return lam, phi, z, t

    return spherical(P, fwd, inv)


# --- eck5 (eck5.cpp) ----------------------------------------------------------
_E5_XF = 0.44101277172455148219
_E5_RXF = 2.26750802723822639137
_E5_YF = 0.88202554344910296438
_E5_RYF = 1.13375401361911319568


def setup_eck5(P: PJ) -> PJ:
    def fwd(lam, phi, z, t, _P):
        return _E5_XF * (1.0 + np.cos(phi)) * lam, _E5_YF * phi, z, t

    def inv(x, y, z, t, _P):
        phi = _E5_RYF * y
        lam = _E5_RXF * x / (1.0 + np.cos(phi))
        return lam, phi, z, t

    return spherical(P, fwd, inv)


# --- mill (mill.cpp) ----------------------------------------------------------

def setup_mill(P: PJ) -> PJ:
    def fwd(lam, phi, z, t, _P):
        return lam, np.log(np.tan(C.M_FORTPI + phi * 0.4)) * 1.25, z, t

    def inv(x, y, z, t, _P):
        return x, 2.5 * (np.arctan(np.exp(0.8 * y)) - C.M_FORTPI), z, t

    return spherical(P, fwd, inv)


# --- gall (gall.cpp) ----------------------------------------------------------
_G_YF = 1.70710678118654752440
_G_XF = 0.70710678118654752440
_G_RYF = 0.58578643762690495119
_G_RXF = 1.41421356237309504880


def setup_gall(P: PJ) -> PJ:
    def fwd(lam, phi, z, t, _P):
        return _G_XF * lam, _G_YF * np.tan(0.5 * phi), z, t

    def inv(x, y, z, t, _P):
        return _G_RXF * x, 2.0 * np.arctan(y * _G_RYF), z, t

    return spherical(P, fwd, inv)


# --- wag2 (wag2.cpp) ----------------------------------------------------------

def setup_wag2(P: PJ) -> PJ:
    C_x, C_y, C_p1, C_p2 = 0.92483, 1.38725, 0.88022, 0.88550

    def fwd(lam, phi, z, t, _P):
        ph = C.aasin(C_p1 * np.sin(C_p2 * phi))
        return C_x * lam * np.cos(ph), C_y * ph, z, t

    def inv(x, y, z, t, _P):
        ph = y / C_y
        lam = x / (C_x * np.cos(ph))
        ph = C.aasin(np.sin(ph) / C_p1) / C_p2
        return lam, ph, z, t

    return spherical(P, fwd, inv)


# --- wag3 (wag3.cpp) ----------------------------------------------------------

def setup_wag3(P: PJ) -> PJ:
    ts = P.param_r("lat_ts")
    C_x = math.cos(ts) / math.cos(2.0 * ts / 3.0)
    TT = 0.6666666666666666666667

    def fwd(lam, phi, z, t, _P):
        return C_x * lam * np.cos(TT * phi), phi, z, t

    def inv(x, y, z, t, _P):
        return x / (C_x * np.cos(TT * y)), y, z, t

    return spherical(P, fwd, inv)


# --- wag7 (wag7.cpp; forward only) ---------------------------------------------

def setup_wag7(P: PJ) -> PJ:
    def fwd(lam, phi, z, t, _P):
        y = 0.90630778703664996 * np.sin(phi)
        theta = np.arcsin(np.clip(y, -1, 1))
        ct = np.cos(theta)
        lam3 = lam / 3.0
        x = 2.66723 * ct * np.sin(lam3)
        D = 1.0 / np.sqrt(0.5 * (1.0 + ct * np.cos(lam3)))
        return x * D, y * 1.24104 * D, z, t

    return spherical(P, fwd)


# --- putp2 (putp2.cpp; Newton NITER=10 EPS=1e-10) -------------------------------

def setup_putp2(P: PJ) -> PJ:
    C_x, C_y, C_p = 1.89490, 1.71848, 0.6141848493043784
    PI_DIV_3 = 1.0471975511965977

    def fwd(lam, phi, z, t, _P):
        p = C_p * np.sin(phi)
        p2 = phi * phi
        ph = phi * (0.615709 + p2 * (0.00909953 + p2 * 0.0046292))
        converged = np.zeros(ph.shape, dtype=bool)
        active = np.isfinite(ph)
        for _ in range(10):
            if not active.any():
                break
            c = np.cos(ph[active])
            s = np.sin(ph[active])
            V = (ph[active] + s * (c - 1.0) - p[active]) / (
                1.0 + c * (c - 1.0) - s * s
            )
            ph[active] = ph[active] - V
            done = np.abs(V) < 1e-10
            cv = converged[active]
            cv |= done
            converged[active] = cv
            nxt = active.copy()
            nxt[active] = ~done
            active = nxt
        ph = np.where(converged, ph, np.where(ph < 0, -PI_DIV_3, PI_DIV_3))
        x = C_x * lam * (np.cos(ph) - 0.5)
        y = C_y * np.sin(ph)
        return x, y, z, t

    def inv(x, y, z, t, _P):
        ph = C.aasin(y / C_y)
        c = np.cos(ph)
        lam = x / (C_x * (c - 0.5))
        ph = C.aasin((ph + np.sin(ph) * (c - 1.0)) / C_p)
        return lam, ph, z, t

    return spherical(P, fwd, inv)


# --- putp3 / putp3p (putp3.cpp) --------------------------------------------------

def _putp3(P: PJ, A: float) -> PJ:
    CC = 0.79788456

    def fwd(lam, phi, z, t, _P):
        return CC * lam * (1.0 - A * phi * phi), CC * phi, z, t

    def inv(x, y, z, t, _P):
        phi = y / CC
        return x / (CC * (1.0 - A * phi * phi)), phi, z, t

    return spherical(P, fwd, inv)


def setup_putp3(P: PJ) -> PJ:
    return _putp3(P, 4.0 * 0.1013211836)


def setup_putp3p(P: PJ) -> PJ:
    return _putp3(P, 2.0 * 0.1013211836)


# --- putp4p / weren (putp4p.cpp) ---------------------------------------------------

def _putp4p(P: PJ, C_x: float, C_y: float) -> PJ:
    def fwd(lam, phi, z, t, _P):
        ph = C.aasin(0.883883476 * np.sin(phi))
        x = C_x * lam * np.cos(ph)
        ph = ph * 0.333333333333333
        x = x / np.cos(ph)
        y = C_y * np.sin(ph)
        return x, y, z, t

    def inv(x, y, z, t, _P):
        ph = C.aasin(y / C_y)
        lam = x * np.cos(ph) / C_x
        ph = ph * 3.0
        lam = lam / np.cos(ph)
        ph = C.aasin(1.13137085 * np.sin(ph))
        return lam, ph, z, t

    return spherical(P, fwd, inv)


def setup_putp4p(P: PJ) -> PJ:
    return _putp4p(P, 0.874038744, 3.883251825)


def setup_weren(P: PJ) -> PJ:
    return _putp4p(P, 1.0, 4.442882938)


# --- putp5 / putp5p (putp5.cpp) -----------------------------------------------------

def _putp5(P: PJ, A: float, B: float) -> PJ:
    CC, D = 1.01346, 1.2158542

    def fwd(lam, phi, z, t, _P):
        return CC * lam * (A - B * np.sqrt(1.0 + D * phi * phi)), CC * phi, z, t

    def inv(x, y, z, t, _P):
        phi = y / CC
        return x / (CC * (A - B * np.sqrt(1.0 + D * phi * phi))), phi, z, t

    return spherical(P, fwd, inv)


def setup_putp5(P: PJ) -> PJ:
    return _putp5(P, 2.0, 1.0)


def setup_putp5p(P: PJ) -> PJ:
    return _putp5(P, 1.5, 0.5)


# --- putp6 / putp6p (putp6.cpp; Newton NITER=10 EPS=1e-10) ---------------------------

def _putp6(P: PJ, C_x, C_y, A, B, D) -> PJ:
    CON_POLE = 1.732050807568877

    def fwd(lam, phi, z, t, _P):
        p = B * np.sin(phi)
        ph = phi * 1.10265779
        converged = np.zeros(ph.shape, dtype=bool)
        active = np.isfinite(ph)
        for _ in range(10):
            if not active.any():
                break
            r = np.sqrt(1.0 + ph[active] * ph[active])
            V = ((A - r) * ph[active] - np.log(ph[active] + r) - p[active]) / (A - 2.0 * r)
            ph[active] = ph[active] - V
            done = np.abs(V) < 1e-10
            cv = converged[active]
            cv |= done
            converged[active] = cv
            nxt = active.copy()
            nxt[active] = ~done
            active = nxt
        ph = np.where(converged, ph, np.where(p < 0.0, -CON_POLE, CON_POLE))
        x = C_x * lam * (D - np.sqrt(1.0 + ph * ph))
        y = C_y * ph
        return x, y, z, t

    def inv(x, y, z, t, _P):
        ph = y / C_y
        r = np.sqrt(1.0 + ph * ph)
        lam = x / (C_x * (D - r))
        ph2 = C.aasin(((A - r) * ph - np.log(ph + r)) / B)
        return lam, ph2, z, t

    return spherical(P, fwd, inv)


def setup_putp6(P: PJ) -> PJ:
    return _putp6(P, 1.01346, 0.91910, 4.0, 2.1471437182129378784, 2.0)


def setup_putp6p(P: PJ) -> PJ:
    return _putp6(P, 0.44329, 0.80404, 6.0, 5.61125, 3.0)


# --- urmfps / wag1 (urmfps.cpp) -------------------------------------------------------

def _urmfps(P: PJ, n: float) -> PJ:
    C_x = 0.8773826753
    C_y = 1.139753528477 / n

    def fwd(lam, phi, z, t, _P):
        ph = C.aasin(n * np.sin(phi))
        return C_x * lam * np.cos(ph), C_y * ph, z, t

    def inv(x, y, z, t, _P):
        yy = y / C_y
        phi = C.aasin(np.sin(yy) / n)
        lam = x / (C_x * np.cos(yy))
        return lam, phi, z, t

    return spherical(P, fwd, inv)


def setup_urmfps(P: PJ) -> PJ:
    if not P.has("n"):
        raise ProjError("n_out_of_range")
    n = P.param_f("n")
    if n <= 0.0 or n > 1.0:
        raise ProjError("n_out_of_range")
    return _urmfps(P, n)


def setup_wag1(P: PJ) -> PJ:
    return _urmfps(P, 0.8660254037844386467637231707)
