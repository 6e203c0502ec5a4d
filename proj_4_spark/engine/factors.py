"""Projection scale factors (proj_factors / proj -S).

Reference: src/factors.cpp:15-106 (factor assembly) and
src/deriv.cpp:9-71 (4-point numerical partial derivatives of the raw
forward kernel).  Vectorized: the four kernel evaluations run on whole
NumPy columns; the DataFrame wrapper is one Arrow-batched pandas UDF.

Outputs per point (FACTORS struct, src/proj_internal.h):
  h, k           meridional / parallel scale
  s              areal scale
  conv           meridian convergence (radians)
  thetap         meridian/parallel intersection angle (radians)
  a, b           Tissot indicatrix semi-axes
  omega          maximum angular distortion (radians)
"""

from __future__ import annotations

import numpy as np

from proj_4_spark.kernels import common as C

DEFAULT_H = 1e-5  # radians; factors.cpp DEFAULT_H
_EPS = 1e-12

_FIELDS = ("h", "k", "s", "conv", "thetap", "a", "b", "omega")


def _raw_fwd(P, lam, phi):
    """The raw projection kernel, pj_deriv-style: no prepare/finalize,
    no a-scaling, no offsets (deriv.cpp calls P->fwd directly)."""
    fn = P.fwd or P.fwd3d or P.fwd4d
    if fn is None:
        raise ValueError(f"{P.name} has no forward kernel")
    z = np.zeros_like(lam)
    with np.errstate(invalid="ignore", divide="ignore", over="ignore"):
        x, y, _, _ = fn(lam, phi, z, z, P)
    return x, y


def factors(op, lam, phi, h: float = 0.0) -> dict[str, np.ndarray]:
    """pj_factors over columns.  lam/phi in radians (absolute longitude;
    the central-meridian offset is applied here, factors.cpp:59-61).
    Error rows (overrange, failed derivatives) come back NaN."""
    from proj_4_spark.engine.plan import create_operation

    if isinstance(op, str):
        op = create_operation(op)
    P = op.P
    lam = np.asarray(lam, dtype=np.float64).copy()
    phi = np.asarray(phi, dtype=np.float64).copy()

    h = abs(h)
    if h < _EPS:
        h = DEFAULT_H

    bad = ((np.abs(phi) - C.M_HALFPI) > _EPS) | (np.abs(lam) > 10.0)

    if P.geoc:  # geocentric -> geographic latitude (factors.cpp:51-52)
        phi = np.arctan(P.rone_es * np.tan(phi))

    # nudge off the pole so the +/-h stencil exists (factors.cpp:54-56)
    over_pole = np.abs(phi) > (C.M_HALFPI - h)
    phi = np.where(over_pole, np.sign(phi) * (C.M_HALFPI - h), phi)

    lam = lam - P.lam0
    if not P.over:
        lam = C.adjlon(lam)

    # 4-point derivative stencil (deriv.cpp:9-71)
    x_ne, y_ne = _raw_fwd(P, lam + h, phi + h)
    x_se, y_se = _raw_fwd(P, lam + h, phi - h)
    x_sw, y_sw = _raw_fwd(P, lam - h, phi - h)
    x_nw, y_nw = _raw_fwd(P, lam - h, phi + h)
    four_h = 4.0 * h
    x_l = (x_ne + x_se - x_sw - x_nw) / four_h
    y_l = (y_ne + y_se - y_sw - y_nw) / four_h
    x_p = (x_ne - x_se - x_sw + x_nw) / four_h
    y_p = (y_ne - y_se - y_sw + y_nw) / four_h
    bad = bad | ~(np.isfinite(x_l) & np.isfinite(y_l)
                  & np.isfinite(x_p) & np.isfinite(y_p))

    cosphi = np.cos(phi)
    fh = np.hypot(x_p, y_p)
    fk = np.hypot(x_l, y_l) / cosphi
    if P.es != 0.0:
        t = np.sin(phi)
        t = 1.0 - P.es * t * t
        n = np.sqrt(t)
        fh = fh * (t * n / P.one_es)
        fk = fk * n
        r = t * t / P.one_es
    else:
        r = 1.0

    conv = -np.arctan2(x_p, y_p)
    s = (y_p * x_l - x_p * y_l) * r / cosphi
    with np.errstate(invalid="ignore", divide="ignore"):
        thetap = C.aasin(s / (fh * fk))
    t = fk * fk + fh * fh
    fa = np.sqrt(np.maximum(t + 2.0 * s, 0.0))
    t2 = t - 2.0 * s
    t2 = np.where(t2 > 0, np.sqrt(np.maximum(t2, 0.0)), 0.0)
    fb = 0.5 * (fa - t2)
    fa = 0.5 * (fa + t2)
    with np.errstate(invalid="ignore", divide="ignore"):
        omega = 2.0 * C.aasin((fa - fb) / (fa + fb))

    out = {"h": fh, "k": fk, "s": s, "conv": conv, "thetap": thetap,
           "a": fa, "b": fb, "omega": omega}
    for key in out:
        out[key] = np.where(bad, np.nan, out[key])
    return out


def factors_df(df, projstring: str, lon: str = "lon", lat: str = "lat",
               h: float = 0.0, prefix: str = "f_"):
    """DataFrame wrapper: adds {prefix}{h,k,s,conv,thetap,a,b,omega}
    columns (degrees in, radians for the angle outputs).  One
    Arrow-batched pandas UDF (kernel_udf.kernel_columns) returning a
    struct column — a projection in the Catalyst plan, no shuffle.  A
    row the projection cannot take reads NaN in every column."""
    from proj_4_spark.engine.spark import _cached_operation
    from proj_4_spark.kernel_udf import kernel_columns

    _cached_operation(projstring)  # fail fast driver-side

    def _fac(lons, lats):
        res = factors(_cached_operation(projstring), lons * C.DEG_TO_RAD,
                      lats * C.DEG_TO_RAD, h)
        return [res[f] for f in _FIELDS]

    cols = kernel_columns(_fac, [lon, lat], _FIELDS)
    return df.withColumns({f"{prefix}{f}": c for f, c in cols.items()})
