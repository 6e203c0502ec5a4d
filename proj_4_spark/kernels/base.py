"""Plan-time operator object ("prepared statement").

`PJ` mirrors the reference's `struct PJconsts` (src/proj_internal.h:350-566):
an immutable-after-setup bag of derived floats plus fwd/inv kernel callables.
It is built once on the driver and captured in pandas-UDF closures
(SURVEY.md §1.2 "Spark mapping").

Kernels are vectorized: ``fwd(lam, phi, z, t, P) -> (x, y, z, t)`` over
float64 NumPy arrays.  Errors are NaN in x/y (reference: HUGE_VAL,
src/fwd.cpp:42-43).
"""

from __future__ import annotations

from typing import Callable, Optional

import numpy as np

from proj_4_spark.kernels.ellipsoid import Ellipsoid

# I/O unit classes — enum pj_io_units, src/proj_internal.h:172-179
UNITS_WHATEVER = "whatever"
UNITS_CLASSIC = "classic"      # xy in semimajor-axis units; finalize scales by a
UNITS_PROJECTED = "projected"  # xy in meters
UNITS_CARTESIAN = "cartesian"  # geocentric XYZ meters
UNITS_RADIANS = "radians"
UNITS_DEGREES = "degrees"

# Linear units table, src/units.cpp
UNITS_TO_METER: dict[str, float] = {
    "km": 1000.0,
    "m": 1.0,
    "dm": 0.1,
    "cm": 0.01,
    "mm": 0.001,
    "kmi": 1852.0,
    "in": 0.0254,
    "ft": 0.3048,
    "yd": 0.9144,
    "mi": 1609.344,
    "fath": 1.8288,
    "ch": 20.1168,
    "link": 0.201168,
    "us-in": 1.0 / 39.37,
    "us-ft": 0.304800609601219,
    "us-yd": 0.914401828803658,
    "us-ch": 20.11684023368047,
    "us-mi": 1609.347218694437,
    "ind-yd": 0.91439523,
    "ind-ft": 0.30479841,
    "ind-ch": 20.11669506,
}


class ProjError(ValueError):
    """Plan-time setup failure (reference: pj_default_destructor + errno)."""

    def __init__(self, errno: str, msg: str = ""):
        self.errno = errno
        super().__init__(f"{errno}: {msg}" if msg else errno)


KernelFn = Callable[..., tuple]


class PJ:
    """Operator instance.  Attribute names follow src/proj_internal.h so the
    kernel transliterations read like the C they mirror."""

    def __init__(self, name: str, params: dict, ell: Ellipsoid):
        self.name = name
        self.params = params
        self.ell = ell
        # flat copies of ellipsoid constants (kernels index these heavily)
        self.a = ell.a
        self.b = ell.b
        self.ra = ell.ra
        self.rb = ell.rb
        self.e = ell.e
        self.es = ell.es
        self.e2s = ell.e2s
        self.e3s = ell.e3s
        self.one_es = ell.one_es
        self.rone_es = ell.rone_es
        self.f = ell.f
        self.n = ell.n
        # the datum ellipsoid BEFORE any projection setup munges a/es
        # (spherical-only kernels zero es); cs2cs emulation must use
        # these, src/init.cpp:661-662 + 4D_api.cpp:691,718
        self.a_orig = ell.a
        self.es_orig = ell.es

        # cartographic offsets, src/proj_internal.h:496-512
        self.lam0 = 0.0
        self.phi0 = 0.0
        self.x0 = 0.0
        self.y0 = 0.0
        self.z0 = 0.0
        self.t0 = 0.0
        self.k0 = 1.0
        self.to_meter = 1.0
        self.fr_meter = 1.0
        self.vto_meter = 1.0
        self.vfr_meter = 1.0
        self.from_greenwich = 0.0
        self.long_wrap_center = 0.0
        self.is_long_wrap_set = False
        self.over = False          # +over: no longitude reduction
        self.geoc = False          # geocentric latitude I/O
        self.is_geocent = False
        self.is_latlong = False

        # I/O unit tags, src/proj_internal.h:478-479
        self.left = UNITS_RADIANS
        self.right = UNITS_CLASSIC

        # kernels (vectorized); set by each projection's setup()
        self.fwd: Optional[KernelFn] = None
        self.inv: Optional[KernelFn] = None
        self.fwd3d: Optional[KernelFn] = None
        self.inv3d: Optional[KernelFn] = None
        self.fwd4d: Optional[KernelFn] = None
        self.inv4d: Optional[KernelFn] = None

        self.skip_fwd_prepare = False
        self.skip_fwd_finalize = False
        self.skip_inv_prepare = False
        self.skip_inv_finalize = False

        # helper sub-PJs (cs2cs emulation graph), src/proj_internal.h:482-487
        self.axisswap = None
        self.helmert = None
        self.cart = None
        self.cart_wgs84 = None
        self.hgridshift = None
        self.vgridshift = None

        self.opaque: dict = {}

    # -- generic parameter helpers (pj_param semantics, src/pj_param.cpp) --
    def param_f(self, key: str, default: float = 0.0) -> float:
        v = self.params.get(key)
        return default if v is None else float(v)

    def param_r(self, key: str, default: float = 0.0) -> float:
        """Angle parameter: degrees (or DMS) in the proj-string -> radians."""
        v = self.params.get(key)
        if v is None:
            return default
        from proj_4_spark.engine.projstring import dmstor

        return dmstor(str(v))

    def param_i(self, key: str, default: int = 0) -> int:
        v = self.params.get(key)
        return default if v is None else int(v)

    def param_b(self, key: str) -> bool:
        """Boolean flag: present with no value, or =1/true."""
        if key not in self.params:
            return False
        v = self.params[key]
        return v in (None, "", "1", "true", "True", True)

    def has(self, key: str) -> bool:
        return key in self.params


def spherical(P: PJ, fwd, inv=None) -> PJ:
    """The setup tail of a spherical-only projection: the sphere (es=0),
    its kernels (no inverse by default), radians in, classic units out."""
    P.es = 0.0
    P.fwd = fwd
    P.inv = inv
    P.left = UNITS_RADIANS
    P.right = UNITS_CLASSIC
    return P


def fresh(x, y, z, t):
    """Writable float64 copies of a coordinate batch."""
    return (
        np.array(x, dtype=np.float64, copy=True),
        np.array(y, dtype=np.float64, copy=True),
        np.array(z, dtype=np.float64, copy=True),
        np.array(t, dtype=np.float64, copy=True),
    )
