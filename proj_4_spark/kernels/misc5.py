"""Batch 7: omerc, hatano, patterson, urm5.

References (src/projections/): omerc.cpp, hatano.cpp, patterson.cpp,
urm5.cpp.
"""

from __future__ import annotations

import math

import numpy as np

from proj_4_spark.kernels import common as C
from proj_4_spark.kernels.base import PJ, ProjError, UNITS_CLASSIC, UNITS_RADIANS


def setup_omerc(P: PJ) -> PJ:
    """Oblique Mercator (Hotine); omerc.cpp."""
    TOL, EPS = 1e-7, 1e-10
    no_rot = P.param_b("no_rot")
    alp = P.has("alpha")
    gam = P.has("gamma")
    alpha_c = P.param_r("alpha") if alp else 0.0
    gamma = P.param_r("gamma") if gam else 0.0
    no_off = False
    if alp or gam:
        lamc = P.param_r("lonc")
        no_off = P.param_b("no_off") or P.param_b("no_uoff")
    else:
        lam1 = P.param_r("lon_1")
        phi1 = P.param_r("lat_1")
        lam2 = P.param_r("lon_2")
        phi2 = P.param_r("lat_2")
        if abs(phi1) > C.M_HALFPI or abs(phi2) > C.M_HALFPI:
            raise ProjError("lat_larger_than_90")
        if (abs(phi1 - phi2) <= TOL or abs(phi1) <= TOL
                or abs(abs(phi1) - C.M_HALFPI) <= TOL
                or abs(abs(P.phi0) - C.M_HALFPI) <= TOL
                or abs(abs(phi2) - C.M_HALFPI) <= TOL):
            raise ProjError("lat_0_or_alpha_eq_90")

    com = math.sqrt(P.one_es)
    if abs(P.phi0) > EPS:
        sinph0 = math.sin(P.phi0)
        cosph0 = math.cos(P.phi0)
        con = 1.0 - P.es * sinph0 * sinph0
        B = cosph0 * cosph0
        B = math.sqrt(1.0 + P.es * B * B / P.one_es)
        A = B * P.k0 * com / con
        D = B * com / (cosph0 * math.sqrt(con))
        F = D * D - 1.0
        if F <= 0.0:
            F = 0.0
        else:
            F = math.sqrt(F)
            if P.phi0 < 0.0:
                F = -F
        F += D
        E = F * math.pow(float(C.tsfn(np.float64(P.phi0), np.float64(sinph0), P.e)), B)
    else:
        B = 1.0 / com
        A = P.k0
        E = D = F = 1.0

    if alp or gam:
        if alp:
            gamma0 = math.asin(max(-1, min(1, math.sin(alpha_c) / D)))
            if not gam:
                gamma = alpha_c
        else:
            gamma0 = gamma
            alpha_c = math.asin(max(-1, min(1, D * math.sin(gamma0))))
        if abs(abs(P.phi0) - C.M_HALFPI) <= TOL:
            raise ProjError("lat_0_or_alpha_eq_90")
        P.lam0 = lamc - math.asin(max(-1, min(1, 0.5 * (F - 1.0 / F) * math.tan(gamma0)))) / B
    else:
        H = math.pow(float(C.tsfn(np.float64(phi1), np.float64(math.sin(phi1)), P.e)), B)
        L = math.pow(float(C.tsfn(np.float64(phi2), np.float64(math.sin(phi2)), P.e)), B)
        F = E / H
        p = (L - H) / (L + H)
        if p == 0:
            raise ProjError("invalid_eccentricity")
        J = E * E
        J = (J - L * H) / (J + L * H)
        con = lam1 - lam2
        if con < -C.M_PI:
            lam2 -= C.M_TWOPI
        elif con > C.M_PI:
            lam2 += C.M_TWOPI
        P.lam0 = float(C.adjlon(np.float64(
            0.5 * (lam1 + lam2)
            - math.atan(J * math.tan(0.5 * B * (lam1 - lam2)) / p) / B
        )))
        denom = F - 1.0 / F
        if denom == 0:
            raise ProjError("invalid_eccentricity")
        gamma0 = math.atan(2.0 * math.sin(B * float(C.adjlon(np.float64(lam1 - P.lam0)))) / denom)
        gamma = alpha_c = math.asin(max(-1, min(1, D * math.sin(gamma0))))

    singam = math.sin(gamma0)
    cosgam = math.cos(gamma0)
    sinrot = math.sin(gamma)
    cosrot = math.cos(gamma)
    rB = 1.0 / B
    ArB = A * rB
    BrA = 1.0 / ArB
    if no_off:
        u_0 = 0.0
    else:
        u_0 = abs(ArB * math.atan(math.sqrt(D * D - 1.0) / math.cos(alpha_c)))
        if P.phi0 < 0.0:
            u_0 = -u_0
    Fh = 0.5 * gamma0
    v_pole_n = ArB * math.log(math.tan(C.M_FORTPI - Fh))
    v_pole_s = ArB * math.log(math.tan(C.M_FORTPI + Fh))

    # expose the closure scalars for the engine's Catalyst twin
    # (engine/spark.py recomputes nothing — same constants, same bits)
    P.opaque.update({
        "A": A, "B": B, "E": E, "ArB": ArB, "BrA": BrA, "rB": rB,
        "singam": singam, "cosgam": cosgam,
        "sinrot": sinrot, "cosrot": cosrot, "u_0": u_0,
        "v_pole_n": v_pole_n, "v_pole_s": v_pole_s, "no_rot": no_rot,
    })

    def fwd(lam, phi, z, t, _P):
        interior = np.abs(np.abs(phi) - C.M_HALFPI) > EPS
        with np.errstate(divide="ignore", invalid="ignore"):
            W = E / np.power(C.tsfn(phi, np.sin(phi), P.e), B)
            one_div_W = 1.0 / W
            S = 0.5 * (W - one_div_W)
            T = 0.5 * (W + one_div_W)
            V = np.sin(B * lam)
            U = (S * singam - V * cosgam) / T
            bad = interior & (np.abs(np.abs(U) - 1.0) < EPS)
            v = 0.5 * ArB * np.log((1.0 - U) / (1.0 + U))
            temp = np.cos(B * lam)
            u = np.where(np.abs(temp) < TOL, A * lam,
                         ArB * np.arctan2(S * cosgam + V * singam, temp))
        v = np.where(interior, v, np.where(phi > 0, v_pole_n, v_pole_s))
        u = np.where(interior, u, ArB * phi)
        if no_rot:
            x, y = u, v
        else:
            u = u - u_0
            x = v * cosrot + u * sinrot
            y = u * cosrot - v * sinrot
        return np.where(bad, np.nan, x), np.where(bad, np.nan, y), z, t

    def inv(x, y, z, t, _P):
        if no_rot:
            v, u = y, x
        else:
            v = x * cosrot - y * sinrot
            u = y * cosrot + x * sinrot + u_0
        with np.errstate(over="ignore", divide="ignore", invalid="ignore"):
            Qp = np.exp(-BrA * v)
        bad = Qp == 0
        Qp_safe = np.where(bad, 1.0, Qp)
        Sp = 0.5 * (Qp_safe - 1.0 / Qp_safe)
        Tp = 0.5 * (Qp_safe + 1.0 / Qp_safe)
        Vp = np.sin(BrA * u)
        Up = (Vp * cosgam + Sp * singam) / Tp
        at_pole = np.abs(np.abs(Up) - 1.0) < EPS
        with np.errstate(divide="ignore", invalid="ignore"):
            ts_val = E / np.sqrt((1.0 + Up) / (1.0 - Up))
            phi = C.phi2(np.power(np.where(at_pole, 1.0, ts_val), 1.0 / B), P.e)
            lam = -rB * np.arctan2(Sp * cosgam - Vp * singam, np.cos(BrA * u))
        phi = np.where(at_pole, np.where(Up < 0, -C.M_HALFPI, C.M_HALFPI), phi)
        lam = np.where(at_pole, 0.0, lam)
        lam = np.where(np.isnan(phi), np.nan, lam)
        return np.where(bad, np.nan, lam), np.where(bad, np.nan, phi), z, t

    P.fwd, P.inv = fwd, inv
    P.left = UNITS_RADIANS
    P.right = UNITS_CLASSIC
    return P


def setup_hatano(P: PJ) -> PJ:
    """hatano.cpp (Newton NITER=20 EPS=1e-7; asymmetric N/S constants)."""
    CN, CS = 2.67595, 2.43763
    RCN, RCS = 0.37369906014686373063, 0.41023453108141924738
    FYCN, FYCS = 1.75859, 1.93052
    RYCN, RYCS = 0.56863737426006061674, 0.51799515156538134803
    FXC, RXC = 0.85, 1.17647058823529411764
    ONETOL = 1.000001

    def fwd(lam, phi, z, t, _P):
        c = np.sin(phi) * np.where(phi < 0.0, CS, CN)
        ph = phi.copy()
        active = np.isfinite(ph)
        for _ in range(20):
            th1 = (ph[active] + np.sin(ph[active]) - c[active]) / (1.0 + np.cos(ph[active]))
            ph[active] = ph[active] - th1
            done = np.abs(th1) < 1e-7
            nxt = active.copy()
            nxt[active] = ~done
            active = nxt
        ph = ph * 0.5
        x = FXC * lam * np.cos(ph)
        y = np.sin(ph) * np.where(ph < 0.0, FYCS, FYCN)
        return x, y, z, t

    def inv(x, y, z, t, _P):
        th = y * np.where(y < 0.0, RYCS, RYCN)
        bad1 = np.abs(th) > ONETOL
        th = np.where(np.abs(th) > 1.0,
                      np.where(th > 0.0, C.M_HALFPI, -C.M_HALFPI),
                      np.arcsin(np.clip(th, -1, 1)))
        lam = RXC * x / np.cos(th)
        th = th + th
        phi = (th + np.sin(th)) * np.where(y < 0.0, RCS, RCN)
        bad2 = np.abs(phi) > ONETOL
        phi = np.where(np.abs(phi) > 1.0,
                       np.where(phi > 0.0, C.M_HALFPI, -C.M_HALFPI),
                       np.arcsin(np.clip(phi, -1, 1)))
        bad = bad1 | bad2
        return np.where(bad, np.nan, lam), np.where(bad, np.nan, phi), z, t

    P.es = 0.0
    P.fwd, P.inv = fwd, inv
    P.left = UNITS_RADIANS
    P.right = UNITS_CLASSIC
    return P


def setup_patterson(P: PJ) -> PJ:
    """patterson.cpp (Newton MAX_ITER=100 @1e-11)."""
    K1, K2, K3, K4 = 1.0148, 0.23185, -0.14499, 0.02406
    MAX_Y = 1.790857183

    def fwd(lam, phi, z, t, _P):
        p2 = phi * phi
        y = phi * (K1 + p2 * p2 * (K2 + p2 * (K3 + K4 * p2)))
        return lam, y, z, t

    def inv(x, y, z, t, _P):
        yv = np.clip(y, -MAX_Y, MAX_Y)
        yc = yv.copy()
        active = np.isfinite(yc)
        for _ in range(100):
            if not active.any():
                break
            y2 = yc[active] * yc[active]
            f = yc[active] * (K1 + y2 * y2 * (K2 + y2 * (K3 + K4 * y2))) - yv[active]
            fder = K1 + y2 * y2 * (5.0 * K2 + y2 * (7.0 * K3 + 9.0 * K4 * y2))
            tol = f / fder
            yc[active] = yc[active] - tol
            done = np.abs(tol) < 1e-11
            nxt = active.copy()
            nxt[active] = ~done
            active = nxt
        return x, yc, z, t

    P.es = 0.0
    P.fwd, P.inv = fwd, inv
    P.left = UNITS_RADIANS
    P.right = UNITS_CLASSIC
    return P


def setup_urm5(P: PJ) -> PJ:
    """urm5.cpp (no inverse)."""
    if not P.has("n"):
        raise ProjError("n_out_of_range")
    n = P.param_f("n")
    if n <= 0.0 or n > 1.0:
        raise ProjError("n_out_of_range")
    q3 = P.param_f("q") / 3.0
    alpha = P.param_r("alpha")
    t0 = n * math.sin(alpha)
    denom = math.sqrt(1.0 - t0 * t0)
    if denom == 0:
        raise ProjError("lat_0_or_alpha_eq_90")
    m = math.cos(alpha) / denom
    rmn = 1.0 / (m * n)

    def fwd(lam, phi, z, t, _P):
        ph = C.aasin(n * np.sin(phi))
        x = m * lam * np.cos(ph)
        t2 = ph * ph
        y = ph * (1.0 + t2 * q3) * rmn
        return x, y, z, t

    P.es = 0.0
    P.fwd = fwd
    P.left = UNITS_RADIANS
    P.right = UNITS_CLASSIC
    return P
