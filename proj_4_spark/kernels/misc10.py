"""Batch 12: bertin1953, labrd (Laborde Madagascar), bipc (bipolar
conic), imw_p (International Map of the World Polyconic).

References: src/projections/bertin1953.cpp, src/projections/labrd.cpp,
src/projections/bipc.cpp, src/projections/imw_p.cpp.
"""

from __future__ import annotations

import math

import numpy as np

from proj_4_spark.kernels import common as C
from proj_4_spark.kernels.base import PJ, ProjError, UNITS_CLASSIC, UNITS_RADIANS


def setup_bertin1953(P: PJ) -> PJ:
    """bertin1953.cpp (no inverse; fixed pole at phi0=-42, lam offset
    -16.5 deg)."""
    P.lam0 = 0.0
    P.phi0 = math.radians(-42.0)
    cdp = math.cos(P.phi0)
    sdp = math.sin(P.phi0)
    cdg, sdg = 1.0, 0.0

    def fwd(lam, phi, z_, t, _P):
        fu, k, w = 1.4, 12.0, 1.68
        lam = lam + math.radians(-16.5)
        cosphi = np.cos(phi)
        x = np.cos(lam) * cosphi
        y = np.sin(lam) * cosphi
        zz = np.sin(phi)
        z0 = zz * cdp + x * sdp
        lam = np.arctan2(y * cdg - z0 * sdg, x * cdp - zz * sdp)
        z0 = z0 * cdg + y * sdg
        phi = np.arcsin(np.clip(z0, -1, 1))
        lam = C.adjlon(lam)
        cond = lam + phi < -fu
        d = (lam - phi + 1.6) * (lam + phi + fu) / 8.0
        lam = np.where(cond, lam + d, lam)
        phi = np.where(cond, phi - 0.8 * d * np.sin(phi + C.M_PI / 2.0), phi)
        cosphi = np.cos(phi)
        d = np.sqrt(2.0 / (1.0 + cosphi * np.cos(lam / 2.0)))
        x = w * d * cosphi * np.sin(lam / 2.0)
        y = d * np.sin(phi)
        d = (1.0 - np.cos(lam * phi)) / k
        x = np.where(y < 0.0, x * (1.0 + d), x)
        y = np.where(y > 0.0, y * (1.0 + d / 1.5 * x * x), y)
        return x, y, z_, t

    P.es = 0.0
    P.fwd = fwd
    P.left = UNITS_RADIANS
    P.right = UNITS_CLASSIC
    return P


def setup_labrd(P: PJ) -> PJ:
    """labrd.cpp (Laborde; 20-iteration fixed point in the inverse)."""
    if P.phi0 == 0.0:
        raise ProjError("lat_0_is_zero")
    Az = P.param_r("azi")
    sinp = math.sin(P.phi0)
    t = 1.0 - P.es * sinp * sinp
    N = 1.0 / math.sqrt(t)
    R = P.one_es * N / t
    kRg = P.k0 * math.sqrt(N * R)
    p0s = math.atan(math.sqrt(R / N) * math.tan(P.phi0))
    A = sinp / math.sin(p0s)
    t = P.e * sinp
    Cc = (0.5 * P.e * A * math.log((1.0 + t) / (1.0 - t))
          - A * math.log(math.tan(C.M_FORTPI + 0.5 * P.phi0))
          + math.log(math.tan(C.M_FORTPI + 0.5 * p0s)))
    t = Az + Az
    Cb = 1.0 / (12.0 * kRg * kRg)
    Ca = (1.0 - math.cos(t)) * Cb
    Cb *= math.sin(t)
    Cc3 = 3.0 * (Ca * Ca - Cb * Cb)
    Cd = 6.0 * Ca * Cb

    def fwd(lam, phi, z_, t_, _P):
        V1 = A * np.log(np.tan(C.M_FORTPI + 0.5 * phi))
        tt = P.e * np.sin(phi)
        V2 = 0.5 * P.e * A * np.log((1.0 + tt) / (1.0 - tt))
        ps = 2.0 * (np.arctan(np.exp(V1 - V2 + Cc)) - C.M_FORTPI)
        I1 = ps - p0s
        cosps = np.cos(ps)
        cosps2 = cosps * cosps
        sinps = np.sin(ps)
        sinps2 = sinps * sinps
        I4 = A * cosps
        I2 = 0.5 * A * I4 * sinps
        I3 = I2 * A * A * (5.0 * cosps2 - sinps2) / 12.0
        I6 = I4 * A * A
        I5 = I6 * (cosps2 - sinps2) / 6.0
        I6 = I6 * (A * A * (5.0 * cosps2 * cosps2 + sinps2 * (sinps2 - 18.0 * cosps2)) / 120.0)
        tt = lam * lam
        x = kRg * lam * (I4 + tt * (I5 + tt * I6))
        y = kRg * (I1 + tt * (I2 + tt * I3))
        x2 = x * x
        y2 = y * y
        V1 = 3.0 * x * y2 - x * x2
        V2 = y * y2 - 3.0 * x2 * y
        x = x + (Ca * V1 + Cb * V2)
        y = y + (Ca * V2 - Cb * V1)
        return x, y, z_, t_

    def inv(x, y, z_, t_, _P):
        x2 = x * x
        y2 = y * y
        V1 = 3.0 * x * y2 - x * x2
        V2 = y * y2 - 3.0 * x2 * y
        V3 = x * (5.0 * y2 * y2 + x2 * (-10.0 * y2 + x2))
        V4 = y * (5.0 * x2 * x2 + y2 * (-10.0 * x2 + y2))
        x = x + (-Ca * V1 - Cb * V2 + Cc3 * V3 + Cd * V4)
        y = y + (Cb * V1 - Ca * V2 - Cd * V3 + Cc3 * V4)
        ps = p0s + y / kRg
        pe = ps + P.phi0 - p0s
        conv = np.zeros_like(pe, dtype=bool)
        for _ in range(20):
            V1 = A * np.log(np.tan(C.M_FORTPI + 0.5 * pe))
            tpe = P.e * np.sin(pe)
            V2 = 0.5 * P.e * A * np.log((1.0 + tpe) / (1.0 - tpe))
            tt = ps - 2.0 * (np.arctan(np.exp(V1 - V2 + Cc)) - C.M_FORTPI)
            pe = np.where(conv, pe, pe + tt)
            conv = conv | (np.abs(tt) < 1e-10)
            if conv.all():
                break
        tt = P.e * np.sin(pe)
        tt = 1.0 - tt * tt
        Re = P.one_es / (tt * np.sqrt(tt))
        tt = np.tan(ps)
        t2 = tt * tt
        s = kRg * kRg
        d = Re * P.k0 * kRg
        I7 = tt / (2.0 * d)
        I8 = tt * (5.0 + 3.0 * t2) / (24.0 * d * s)
        d = np.cos(ps) * kRg * A
        I9 = 1.0 / d
        d = d * s
        I10 = (1.0 + 2.0 * t2) / (6.0 * d)
        I11 = (5.0 + t2 * (28.0 + 24.0 * t2)) / (120.0 * d * s)
        x2 = x * x
        phi = pe + x2 * (-I7 + I8 * x2)
        lam = x * (I9 + x2 * (-I10 + x2 * I11))
        return lam, phi, z_, t_

    P.fwd, P.inv = fwd, inv
    P.left = UNITS_RADIANS
    P.right = UNITS_CLASSIC
    return P


# --- bipc: Bipolar conic of western hemisphere (bipc.cpp) -------------------

_B_EPS = 1e-10
_B_ONEEPS = 1.000000001
_B_NITER = 10
_B_lamB = -0.34894976726250681539
_B_n = 0.63055844881274687180
_B_F = 1.89724742567461030582
_B_Azab = 0.81650043674686363166
_B_Azba = 1.82261843856185925133
_B_T = 1.27246578267089012270
_B_rhoc = 1.20709121521568721927
_B_cAzc = 0.69691523038678375519
_B_sAzc = 0.71715351331143607555
_B_C45 = 0.70710678118654752469
_B_S45 = 0.70710678118654752410
_B_C20 = 0.93969262078590838411
_B_S20 = -0.34202014332566873287
_B_R110 = 1.91986217719376253360
_B_R104 = 1.81514242207410275904


def setup_bipc(P: PJ) -> PJ:
    """bipc.cpp (spherical; fixed bipolar geometry constants; +ns skips
    the final Azc skew rotation).  Error lanes (tolerance condition,
    |z|>1+eps, negative half-angle) yield NaN — C returns (0,0) with
    PJD_ERR_TOLERANCE_CONDITION set."""
    noskew = P.param_b("ns")

    def fwd(lam, phi, z_, t_, _P):
        cphi = np.cos(phi)
        sphi = np.sin(phi)
        sdlam0 = _B_lamB - lam
        cdlam = np.cos(sdlam0)
        sdlam = np.sin(sdlam0)
        at_pole = np.abs(np.abs(phi) - C.M_HALFPI) < _B_EPS
        with np.errstate(divide="ignore", invalid="ignore"):
            tphi = np.where(at_pole, np.inf, sphi / cphi)
        Az = np.where(at_pole,
                      np.where(phi < 0.0, C.M_PI, 0.0),
                      np.arctan2(sdlam, _B_C45 * (tphi - cdlam)))
        tag = Az > _B_Azba
        # tag branch (Azab pole at (-110, 20))
        sdlam_b = np.sin(lam + _B_R110)
        cdlam_b = np.cos(lam + _B_R110)
        zb = _B_S20 * sphi + _B_C20 * cphi * cdlam_b
        # no-tag branch (Azba pole at (-20+lamB, 45))
        za = _B_S45 * (sphi + cphi * cdlam)
        zz = np.where(tag, zb, za)
        err = np.abs(zz) > _B_ONEEPS
        zz = np.clip(zz, -1.0, 1.0)
        zang = np.arccos(zz)
        Az_b = np.where(np.isinf(tphi), Az,
                        np.arctan2(sdlam_b, _B_C20 * tphi - _B_S20 * cdlam_b))
        Az = np.where(tag, Az_b, Az)
        Av = np.where(tag, _B_Azab, _B_Azba)
        y0 = np.where(tag, _B_rhoc, -_B_rhoc)
        err |= zang < 0.0
        with np.errstate(invalid="ignore"):
            tpow = np.power(np.tan(0.5 * zang), _B_n)
        r = _B_F * tpow
        al_h = 0.5 * (_B_R104 - zang)
        err |= al_h < 0.0
        al_h = np.maximum(al_h, 0.0)
        al = (tpow + np.power(al_h, _B_n)) / _B_T
        err |= np.abs(al) > _B_ONEEPS
        al = np.arccos(np.clip(al, -1.0, 1.0))
        t = _B_n * (Av - Az)
        r = np.where(np.abs(t) < al,
                     r / np.cos(al + np.where(tag, t, -t)), r)
        x = r * np.sin(t)
        y = y0 + np.where(tag, -r, r) * np.cos(t)
        if noskew:
            x, y = (-x * _B_cAzc - y * _B_sAzc,
                    -y * _B_cAzc + x * _B_sAzc)
        x = np.where(err, np.nan, x)
        y = np.where(err, np.nan, y)
        return x, y, z_, t_

    def inv(x, y, z_, t_, _P):
        if noskew:
            x, y = (-x * _B_cAzc + y * _B_sAzc,
                    -y * _B_cAzc - x * _B_sAzc)
        neg = x < 0.0
        y = np.where(neg, _B_rhoc - y, y + _B_rhoc)
        s = np.where(neg, _B_S20, _B_S45)
        c = np.where(neg, _B_C20, _B_C45)
        Av = np.where(neg, _B_Azab, _B_Azba)
        r0 = np.hypot(x, y)
        r = r0.copy()
        rl = r0.copy()
        Az = np.arctan2(x, y)
        fAz = np.abs(Az)
        zang = np.zeros_like(r)
        active = np.ones_like(x, dtype=bool)
        conv = np.zeros_like(x, dtype=bool)
        for _ in range(_B_NITER):
            if not active.any():
                break
            with np.errstate(invalid="ignore"):
                z_i = 2.0 * np.arctan(np.power(r / _B_F, 1.0 / _B_n))
                al = np.arccos(np.clip(
                    (np.power(np.tan(0.5 * z_i), _B_n)
                     + np.power(np.tan(0.5 * (_B_R104 - z_i)), _B_n)) / _B_T,
                    -1.0, 1.0))
            zang = np.where(active, z_i, zang)
            r_new = np.where(fAz < al,
                             r0 * np.cos(al + np.where(neg, Az, -Az)), r)
            done = np.abs(rl - r_new) < _B_EPS
            rl = np.where(active, r_new, rl)
            r = np.where(active, r_new, r)
            conv |= active & done
            active = active & ~done
        bad = ~conv
        Az2 = Av - Az / _B_n
        phi = C.aasin(s * np.cos(zang) + c * np.sin(zang) * np.cos(Az2))
        with np.errstate(divide="ignore", invalid="ignore"):
            lam = np.arctan2(np.sin(Az2), c / np.tan(zang) - s * np.cos(Az2))
        lam = np.where(neg, lam - _B_R110, _B_lamB - lam)
        lam = np.where(bad, np.nan, lam)
        phi = np.where(bad, np.nan, phi)
        return lam, phi, z_, t_

    P.es = 0.0
    P.fwd, P.inv = fwd, inv
    P.left = UNITS_RADIANS
    P.right = UNITS_CLASSIC
    return P


# --- imw_p: International Map of the World Polyconic (imw_p.cpp) -----------

_IMW_TOL = 1e-10
_IMW_EPS = 1e-10


def setup_imw_p(P: PJ) -> PJ:
    """imw_p.cpp.  Modes: phi_1 == 0 or phi_2 == 0 straighten one
    parallel; the inverse is the reference's own 2D fixed point on
    (phi, lam) with up to 1000 iterations."""
    en = C.enfn(P.es)
    if not P.has("lat_1") or not P.has("lat_2"):
        raise ProjError("lat_1_2_unspecified")
    phi_1 = P.param_r("lat_1")
    phi_2 = P.param_r("lat_2")
    delta = 0.5 * (phi_2 - phi_1)
    sig = 0.5 * (phi_2 + phi_1)
    if abs(delta) < _IMW_EPS or abs(sig) < _IMW_EPS:
        raise ProjError("abs_lat1_eq_abs_lat2")
    if phi_2 < phi_1:
        phi_1, phi_2 = phi_2, phi_1
    if P.has("lon_1"):
        lam_1 = P.param_r("lon_1")
    else:
        s = abs(sig * C.RAD_TO_DEG)
        lam_1 = math.radians(2.0 if s <= 60 else (4.0 if s <= 76 else 8.0))

    def _xy(phi):
        sp = math.sin(phi)
        R = 1.0 / (math.tan(phi) * math.sqrt(1.0 - P.es * sp * sp))
        Fv = lam_1 * sp
        return R * math.sin(Fv), R * (1.0 - math.cos(Fv)), sp, R

    mode = 0
    sphi_1 = math.sin(phi_1)
    sphi_2 = math.sin(phi_2)
    R_1 = R_2 = 0.0
    if phi_1 != 0.0:
        x1, y1, sphi_1, R_1 = _xy(phi_1)
    else:
        mode = 1  # PHI_1_IS_ZERO
        y1 = 0.0
        x1 = lam_1
    if phi_2 != 0.0:
        x2, T2, sphi_2, R_2 = _xy(phi_2)
    else:
        mode = -1  # PHI_2_IS_ZERO
        T2 = 0.0
        x2 = lam_1
    m1 = float(C.mlfn(np.float64(phi_1), np.float64(sphi_1),
                      np.float64(math.cos(phi_1)), en))
    m2 = float(C.mlfn(np.float64(phi_2), np.float64(sphi_2),
                      np.float64(math.cos(phi_2)), en))
    tt = m2 - m1
    ss = x2 - x1
    y2 = math.sqrt(tt * tt - ss * ss) + y1
    C2 = y2 - T2
    tt = 1.0 / tt
    Pc = (m2 * y1 - m1 * y2) * tt
    Qc = (y2 - y1) * tt
    Pp = (m2 * x1 - m1 * x2) * tt
    Qp = (x2 - x1) * tt

    def loc_for(lam, phi, yc_prev):
        """loc_for (imw_p.cpp:52-100), vectorized; lanes with phi == 0
        keep their previous yc (C leaves *yc untouched there)."""
        zero = phi == 0.0
        sp = np.sin(phi)
        m = C.mlfn(phi, sp, np.cos(phi), en)
        xa = Pp + Qp * m
        ya = Pc + Qc * m
        with np.errstate(divide="ignore", invalid="ignore"):
            R = 1.0 / (np.tan(phi) * np.sqrt(1.0 - P.es * sp * sp))
            # out-of-domain lanes go NaN exactly as the C sqrt does
            Cv = np.sqrt(R * R - xa * xa)
        Cv = np.where(phi < 0.0, -Cv, Cv)
        Cv = Cv + ya - R
        if mode == -1:
            xb = lam
            yb = np.full_like(lam, C2)
        else:
            tb = lam * sphi_2
            xb = R_2 * np.sin(tb)
            yb = C2 + R_2 * (1.0 - np.cos(tb))
        if mode == 1:
            xc = lam
            yc = np.zeros_like(lam)
        else:
            tc = lam * sphi_1
            xc = R_1 * np.sin(tc)
            yc = R_1 * (1.0 - np.cos(tc))
        with np.errstate(divide="ignore", invalid="ignore"):
            D = (xb - xc) / (yb - yc)
            B = xc + D * (Cv + R - yc)
            x = D * np.sqrt(R * R * (1.0 + D * D) - B * B)
        x = np.where(phi > 0.0, -x, x)
        x = (B + x) / (1.0 + D * D)
        with np.errstate(invalid="ignore"):
            y = np.sqrt(R * R - x * x)
        y = np.where(phi > 0.0, -y, y)
        y = y + Cv + R
        x = np.where(zero, lam, x)
        y = np.where(zero, 0.0, y)
        yc = np.where(zero, yc_prev, yc)
        return x, y, yc

    def fwd(lam, phi, z_, t_, _P):
        x, y, _ = loc_for(lam, phi, np.zeros_like(lam))
        return x, y, z_, t_

    def inv(x, y, z_, t_, _P):
        phi = np.full_like(x, phi_2)
        lam = x / math.cos(phi_2)
        yc = np.zeros_like(x)
        active = np.ones_like(x, dtype=bool)
        bad = np.zeros_like(x, dtype=bool)
        for _ in range(1000):
            if not active.any():
                break
            tx, ty, yc_n = loc_for(lam, phi, yc)
            yc = np.where(active, yc_n, yc)
            denom = ty - yc
            dzero = denom == 0.0
            newbad = active & dzero & (np.abs(ty - y) > _IMW_TOL)
            bad |= newbad
            upd_phi = active & ~dzero
            with np.errstate(divide="ignore", invalid="ignore"):
                phi_n = (phi - phi_1) * (y - yc) / denom + phi_1
            phi = np.where(upd_phi, phi_n, phi)
            upd_lam = active & (tx != 0.0) & (np.abs(tx - x) > _IMW_TOL)
            with np.errstate(divide="ignore", invalid="ignore"):
                lam = np.where(upd_lam, lam * x / tx, lam)
            done = (np.abs(tx - x) <= _IMW_TOL) & (np.abs(ty - y) <= _IMW_TOL)
            # NaN lanes leave the C loop too (NaN comparisons are false)
            nanlane = active & (np.isnan(tx) | np.isnan(ty) | np.isnan(phi))
            bad |= nanlane
            active = active & ~done & ~newbad & ~nanlane
        bad |= active  # i == N_MAX_ITER -> non_convergent
        lam = np.where(bad, np.nan, lam)
        phi = np.where(bad, np.nan, phi)
        return lam, phi, z_, t_

    P.fwd, P.inv = fwd, inv
    P.left = UNITS_RADIANS
    P.right = UNITS_CLASSIC
    return P


# --- chamb: Chamberlin Trimetric (chamb.cpp, forward only) ------------------

_CH_THIRD = 0.333333333333333333
_CH_TOL = 1e-9


def setup_chamb(P: PJ) -> PJ:
    """chamb.cpp.  Three control points; the projected point is the mean
    of the three arc intercepts.  Spherical, no inverse."""
    import numpy as _np

    def _vect_s(dphi, c1, s1, c2, s2, dlam):
        cdl = math.cos(dlam)
        if abs(dphi) > 1.0 or abs(dlam) > 1.0:
            r = math.acos(min(1.0, max(-1.0, s1 * s2 + c1 * c2 * cdl)))
        else:
            dp = math.sin(0.5 * dphi)
            dl = math.sin(0.5 * dlam)
            r = 2.0 * math.asin(min(1.0, math.sqrt(dp * dp + c1 * c2 * dl * dl)))
        if abs(r) > _CH_TOL:
            az = math.atan2(c2 * math.sin(dlam), c1 * s2 - s1 * c2 * cdl)
        else:
            r = az = 0.0
        return r, az

    def _lc_s(b, c, a):
        return math.acos(min(1.0, max(-1.0, 0.5 * (b * b + c * c - a * a) / (b * c))))

    ctl = []
    for i in (1, 2, 3):
        phi = P.param_r(f"lat_{i}")
        lam = C.adjlon(np.float64(P.param_r(f"lon_{i}") - P.lam0)).item()
        ctl.append({"phi": phi, "lam": lam,
                    "cosphi": math.cos(phi), "sinphi": math.sin(phi)})
    for i in range(3):
        j = (i + 1) % 3
        r, az = _vect_s(ctl[j]["phi"] - ctl[i]["phi"],
                        ctl[i]["cosphi"], ctl[i]["sinphi"],
                        ctl[j]["cosphi"], ctl[j]["sinphi"],
                        ctl[j]["lam"] - ctl[i]["lam"])
        if r == 0.0:
            raise ProjError("control_point_no_dist")
        ctl[i]["vr"], ctl[i]["vaz"] = r, az
    beta_0 = _lc_s(ctl[0]["vr"], ctl[2]["vr"], ctl[1]["vr"])
    beta_1 = _lc_s(ctl[0]["vr"], ctl[1]["vr"], ctl[2]["vr"])
    beta_2 = C.M_PI - beta_0
    ctl[0]["py"] = ctl[1]["py"] = ctl[2]["vr"] * math.sin(beta_0)
    p_y = 2.0 * ctl[0]["py"]
    ctl[2]["py"] = 0.0
    ctl[1]["px"] = 0.5 * ctl[0]["vr"]
    ctl[0]["px"] = -ctl[1]["px"]
    ctl[2]["px"] = ctl[0]["px"] + ctl[2]["vr"] * math.cos(beta_0)
    p_x = ctl[2]["px"]

    def _vect_np(dphi, c1, s1, c2, s2, dlam):
        cdl = np.cos(dlam)
        big = (np.abs(dphi) > 1.0) | (np.abs(dlam) > 1.0)
        r_acos = C.aacos(s1 * s2 + c1 * c2 * cdl)
        dp = np.sin(0.5 * dphi)
        dl = np.sin(0.5 * dlam)
        r_hav = 2.0 * C.aasin(np.sqrt(dp * dp + c1 * c2 * dl * dl))
        r = np.where(big, r_acos, r_hav)
        az = np.arctan2(c2 * np.sin(dlam), c1 * s2 - s1 * c2 * cdl)
        small = np.abs(r) <= _CH_TOL
        return np.where(small, 0.0, r), np.where(small, 0.0, az)

    def fwd(lam, phi, z_, t_, _P):
        sinphi = np.sin(phi)
        cosphi = np.cos(phi)
        vr = []
        vaz = []
        for i in range(3):
            r, az = _vect_np(phi - ctl[i]["phi"], ctl[i]["cosphi"],
                             ctl[i]["sinphi"], cosphi, sinphi,
                             lam - ctl[i]["lam"])
            az = C.adjlon(az - ctl[i]["vaz"])
            vr.append(r)
            vaz.append(az)
        x = np.full_like(lam, p_x)
        y = np.full_like(lam, p_y)
        for i in range(3):
            j = (i + 1) % 3
            with np.errstate(divide="ignore", invalid="ignore"):
                a = C.aacos(np.clip(
                    0.5 * (ctl[i]["vr"] ** 2 + vr[i] ** 2 - vr[j] ** 2)
                    / (ctl[i]["vr"] * vr[i]), -1.0, 1.0))
            a = np.where(vaz[i] < 0.0, -a, a)
            if i == 0:
                x = x + vr[i] * np.cos(a)
                y = y - vr[i] * np.sin(a)
            elif i == 1:
                a = beta_1 - a
                x = x - vr[i] * np.cos(a)
                y = y - vr[i] * np.sin(a)
            else:
                a = beta_2 - a
                x = x + vr[i] * np.cos(a)
                y = y + vr[i] * np.sin(a)
        x = x * _CH_THIRD
        y = y * _CH_THIRD
        # lanes sitting exactly on a control point: its plane coordinates
        # (chamb.cpp:74-76; first zero-distance control wins)
        for i in (2, 1, 0):
            at = vr[i] == 0.0
            x = np.where(at, ctl[i]["px"], x)
            y = np.where(at, ctl[i]["py"], y)
        return x, y, z_, t_

    P.es = 0.0
    P.fwd = fwd
    P.left = UNITS_RADIANS
    P.right = UNITS_CLASSIC
    return P
