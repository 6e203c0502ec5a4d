"""Robinson projection (table-interpolated).

Reference: src/projections/robin.cpp — 5-degree-node cubic coefficient
tables (float32 in the C, preserved as float32 here), forward V()
evaluation and Newton inverse (MAX_ITER=100 @1e-10).
"""

from __future__ import annotations

import numpy as np

from proj_4_spark.kernels import common as C
from proj_4_spark.kernels.base import PJ, UNITS_CLASSIC, UNITS_RADIANS

# coefficient tables from robin.cpp (float32 there; numeric data)
_X = [(1.0, 2.2199e-17, -7.15515e-05, 3.1103e-06), (0.9986, -0.000482243, -2.4897e-05, -1.3309e-06), (0.9954, -0.00083103, -4.48605e-05, -9.86701e-07), (0.99, -0.00135364, -5.9661e-05, 3.6777e-06), (0.9822, -0.00167442, -4.49547e-06, -5.72411e-06), (0.973, -0.00214868, -9.03571e-05, 1.8736e-08), (0.96, -0.00305085, -9.00761e-05, 1.64917e-06), (0.9427, -0.00382792, -6.53386e-05, -2.6154e-06), (0.9216, -0.00467746, -0.00010457, 4.81243e-06), (0.8962, -0.00536223, -3.23831e-05, -5.43432e-06), (0.8679, -0.00609363, -0.000113898, 3.32484e-06), (0.835, -0.00698325, -6.40253e-05, 9.34959e-07), (0.7986, -0.00755338, -5.00009e-05, 9.35324e-07), (0.7597, -0.00798324, -3.5971e-05, -2.27626e-06), (0.7186, -0.00851367, -7.01149e-05, -8.6303e-06), (0.6732, -0.00986209, -0.000199569, 1.91974e-05), (0.6213, -0.010418, 8.83923e-05, 6.24051e-06), (0.5722, -0.00906601, 0.000182, 6.24051e-06), (0.5322, -0.00677797, 0.000275608, 6.24051e-06)]
_Y = [(-5.20417e-18, 0.0124, 1.21431e-18, -8.45284e-11), (0.062, 0.0124, -1.26793e-09, 4.22642e-10), (0.124, 0.0124, 5.07171e-09, -1.60604e-09), (0.186, 0.0123999, -1.90189e-08, 6.00152e-09), (0.248, 0.0124002, 7.10039e-08, -2.24e-08), (0.31, 0.0123992, -2.64997e-07, 8.35986e-08), (0.372, 0.0124029, 9.88983e-07, -3.11994e-07), (0.434, 0.0123893, -3.69093e-06, -4.35621e-07), (0.4958, 0.0123198, -1.02252e-05, -3.45523e-07), (0.5571, 0.0121916, -1.54081e-05, -5.82288e-07), (0.6176, 0.0119938, -2.41424e-05, -5.25327e-07), (0.6769, 0.011713, -3.20223e-05, -5.16405e-07), (0.7346, 0.0113541, -3.97684e-05, -6.09052e-07), (0.7903, 0.0109107, -4.89042e-05, -1.04739e-06), (0.8435, 0.0103431, -6.4615e-05, -1.40374e-09), (0.8936, 0.00969686, -6.4636e-05, -8.547e-06), (0.9394, 0.00840947, -0.000192841, -4.2106e-06), (0.9761, 0.00616527, -0.000256, -4.2106e-06), (1.0, 0.00328947, -0.000319159, -4.2106e-06)]

_XA = np.array(_X, dtype=np.float32).astype(np.float64)
_YA = np.array(_Y, dtype=np.float32).astype(np.float64)

_FXC = 0.8487
_FYC = 1.3523
_C1 = 11.45915590261646417544
_RC1 = 0.08726646259971647884
_NODES = 18
_ONEEPS = 1.000001
_EPS = 1e-10


def _V(T, z):
    """V(C,z) = c0 + z*(c1 + z*(c2 + z*c3)); robin.cpp:8."""
    return T[:, 0] + z * (T[:, 1] + z * (T[:, 2] + z * T[:, 3]))


def _V_at(T, i, z):
    """_V of table row i: each coefficient column gathered by np.choose,
    which dispatches on its index (np.take does not), so the forward
    traces to a Spark SQL array lookup."""
    c0, c1, c2, c3 = (np.choose(i, T[:, j]) for j in range(4))
    return c0 + z * (c1 + z * (c2 + z * c3))


def _DV(T, z):
    return T[:, 1] + 2 * z * T[:, 2] + z * z * 3.0 * T[:, 3]


def setup_robin(P: PJ) -> PJ:
    def fwd(lam, phi, z_, t, _P):
        dphi = np.abs(phi)
        i = np.floor(dphi * _C1 + 1e-15).astype(np.int64)
        bad = ~np.isfinite(phi) | (i < 0)
        i = np.clip(i, 0, _NODES)
        dphi = C.RAD_TO_DEG * (dphi - _RC1 * i)
        x = _V_at(_XA, i, dphi) * _FXC * lam
        y = _V_at(_YA, i, dphi) * _FYC
        y = np.where(phi < 0.0, -y, y)
        return np.where(bad, np.nan, x), np.where(bad, np.nan, y), z_, t

    def inv(x, y, z_, t, _P):
        lam = x / _FXC
        phi = np.abs(y / _FYC)
        simple = phi >= 1.0
        bad = phi > _ONEEPS
        lam_simple = lam / _XA[_NODES, 0]
        phi_simple = np.where(y < 0.0, -C.M_HALFPI, C.M_HALFPI)

        i = np.floor(np.where(simple, 0.0, phi) * _NODES).astype(np.int64)
        bad = bad | (i < 0) | ((i >= _NODES) & ~simple)
        i = np.clip(i, 0, _NODES - 1)
        # nudge the node interval so Y[i].c0 <= phi < Y[i+1].c0
        for _ in range(_NODES):
            dec = _YA[i, 0] > phi
            inc = ~dec & (_YA[np.minimum(i + 1, _NODES), 0] <= phi)
            if not (dec | inc).any():
                break
            i = np.clip(i - dec.astype(np.int64) + inc.astype(np.int64), 0, _NODES - 1)
        T = _YA[i]
        tt = 5.0 * (phi - T[:, 0]) / (_YA[np.minimum(i + 1, _NODES), 0] - T[:, 0])
        conv = np.zeros(tt.shape, dtype=bool)
        for _ in range(100):
            t1 = (_V(T, tt) - phi) / _DV(T, tt)
            tt = np.where(conv, tt, tt - t1)
            conv = conv | (np.abs(t1) < _EPS)
            if conv.all():
                break
        phi_g = (5 * i + tt) * C.DEG_TO_RAD
        phi_g = np.where(y < 0.0, -phi_g, phi_g)
        lam_g = lam / _V(_XA[i], tt)
        out_lam = np.where(simple, lam_simple, lam_g)
        out_phi = np.where(simple, phi_simple, phi_g)
        oob = np.abs(out_lam) > C.M_PI
        bad = bad | oob
        return np.where(bad, np.nan, out_lam), np.where(bad, np.nan, out_phi), z_, t

    P.es = 0.0
    P.fwd, P.inv = fwd, inv
    P.left = UNITS_RADIANS
    P.right = UNITS_CLASSIC
    return P
