"""Ellipsoid registry and derived constants.

Mirrors the reference's static ellipsoid table (src/ellps.cpp:9-54) and the
ancillary-parameter derivation in pj_calc_ellipsoid_params
(src/ell_set.cpp:505-583).  All constants are computed once at plan time and
captured in UDF closures — the Spark analogue of PROJ's setup-time constant
folding (SURVEY.md §4.2).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

# name -> (param_key_a, value_a, param_key_2, value_2)   src/ellps.cpp:9-54
ELLPS_TABLE: dict[str, dict[str, float]] = {
    "MERIT": {"a": 6378137.0, "rf": 298.257},
    "SGS85": {"a": 6378136.0, "rf": 298.257},
    "GRS80": {"a": 6378137.0, "rf": 298.257222101},
    "IAU76": {"a": 6378140.0, "rf": 298.257},
    "airy": {"a": 6377563.396, "rf": 299.3249646},
    "APL4.9": {"a": 6378137.0, "rf": 298.25},
    "NWL9D": {"a": 6378145.0, "rf": 298.25},
    "mod_airy": {"a": 6377340.189, "b": 6356034.446},
    "andrae": {"a": 6377104.43, "rf": 300.0},
    "danish": {"a": 6377019.2563, "rf": 300.0},
    "aust_SA": {"a": 6378160.0, "rf": 298.25},
    "GRS67": {"a": 6378160.0, "rf": 298.2471674270},
    "GSK2011": {"a": 6378136.5, "rf": 298.2564151},
    "bessel": {"a": 6377397.155, "rf": 299.1528128},
    "bess_nam": {"a": 6377483.865, "rf": 299.1528128},
    "clrk66": {"a": 6378206.4, "b": 6356583.8},
    "clrk80": {"a": 6378249.145, "rf": 293.4663},
    "clrk80ign": {"a": 6378249.2, "rf": 293.4660212936269},
    "CPM": {"a": 6375738.7, "rf": 334.29},
    "delmbr": {"a": 6376428.0, "rf": 311.5},
    "engelis": {"a": 6378136.05, "rf": 298.2566},
    "evrst30": {"a": 6377276.345, "rf": 300.8017},
    "evrst48": {"a": 6377304.063, "rf": 300.8017},
    "evrst56": {"a": 6377301.243, "rf": 300.8017},
    "evrst69": {"a": 6377295.664, "rf": 300.8017},
    "evrstSS": {"a": 6377298.556, "rf": 300.8017},
    "fschr60": {"a": 6378166.0, "rf": 298.3},
    "fschr60m": {"a": 6378155.0, "rf": 298.3},
    "fschr68": {"a": 6378150.0, "rf": 298.3},
    "helmert": {"a": 6378200.0, "rf": 298.3},
    "hough": {"a": 6378270.0, "rf": 297.0},
    "intl": {"a": 6378388.0, "rf": 297.0},
    "krass": {"a": 6378245.0, "rf": 298.3},
    "kaula": {"a": 6378163.0, "rf": 298.24},
    "lerch": {"a": 6378139.0, "rf": 298.257},
    "mprts": {"a": 6397300.0, "rf": 191.0},
    "new_intl": {"a": 6378157.5, "b": 6356772.2},
    "plessis": {"a": 6376523.0, "b": 6355863.0},
    "PZ90": {"a": 6378136.0, "rf": 298.25784},
    "SEasia": {"a": 6378155.0, "b": 6356773.3205},
    "walbeck": {"a": 6376896.0, "b": 6355834.8467},
    "WGS60": {"a": 6378165.0, "rf": 298.3},
    "WGS66": {"a": 6378145.0, "rf": 298.25},
    "WGS72": {"a": 6378135.0, "rf": 298.26},
    "WGS84": {"a": 6378137.0, "rf": 298.257223563},
    "sphere": {"a": 6370997.0, "b": 6370997.0},
}

DEFAULT_ELLPS = "GRS80"  # src/init.cpp:319-351 append_default_ellipsoid


class EllipsoidError(ValueError):
    pass


@dataclass(frozen=True)
class Ellipsoid:
    """Derived ellipsoid constants, per pj_calc_ellipsoid_params
    (src/ell_set.cpp:505-583).  Immutable; embedded in kernel closures."""

    a: float
    es: float
    # every derived field defaults and is filled in __post_init__
    e: float = field(default=0.0)
    alpha: float = field(default=0.0)
    e2: float = field(default=0.0)
    e2s: float = field(default=0.0)
    e3: float = field(default=0.0)
    e3s: float = field(default=0.0)
    f: float = field(default=0.0)
    rf: float = field(default=math.inf)
    n: float = field(default=0.0)
    b: float = field(default=0.0)
    rb: float = field(default=0.0)
    ra: float = field(default=0.0)
    one_es: float = field(default=1.0)
    rone_es: float = field(default=1.0)

    def __post_init__(self):
        a, es = self.a, self.es
        if a <= 0:
            raise EllipsoidError("major axis not given")
        if es < 0 or es >= 1:
            raise EllipsoidError("invalid eccentricity")
        e = math.sqrt(es)
        alpha = math.asin(e)
        sa = math.sin(alpha)
        object.__setattr__(self, "e", e)
        object.__setattr__(self, "alpha", alpha)
        object.__setattr__(self, "e2", math.tan(alpha))
        object.__setattr__(self, "e2s", math.tan(alpha) ** 2)
        e3 = sa / math.sqrt(2 - sa * sa) if alpha != 0 else 0.0
        object.__setattr__(self, "e3", e3)
        object.__setattr__(self, "e3s", e3 * e3)
        f = 1 - math.cos(alpha)
        object.__setattr__(self, "f", f)
        object.__setattr__(self, "rf", 1.0 / f if f != 0.0 else math.inf)
        object.__setattr__(self, "n", math.tan(alpha / 2) ** 2)
        b = (1 - f) * a
        object.__setattr__(self, "b", b)
        object.__setattr__(self, "rb", 1.0 / b)
        object.__setattr__(self, "ra", 1.0 / a)
        one_es = 1.0 - es
        if one_es == 0.0:
            raise EllipsoidError("invalid eccentricity")
        object.__setattr__(self, "one_es", one_es)
        object.__setattr__(self, "rone_es", 1.0 / one_es)


def ellipsoid_from_params(params: dict[str, str]) -> Ellipsoid:
    """Resolve +ellps/+a/+b/+rf/+f/+es/+e/+R into an Ellipsoid.

    Follows pj_ellipsoid precedence (src/ell_set.cpp): explicit size params
    (+a/+R) beat +ellps; shape params (+rf/+f/+es/+e/+b) refine +a.
    +R=<radius> forces a sphere.  Default ellipsoid is GRS80
    (src/init.cpp:319-351) unless the op overrides it.
    """
    if "R" in params:
        r = float(params["R"])
        return Ellipsoid(a=r, es=0.0)

    src: dict[str, float] = {}
    if "ellps" in params:
        name = params["ellps"]
        if name not in ELLPS_TABLE:
            raise EllipsoidError(f"unknown ellipsoid {name!r}")
        src.update(ELLPS_TABLE[name])
    # explicit params override the named ellipsoid
    for k in ("a", "b", "rf", "f", "es", "e"):
        if k in params:
            # explicit shape param invalidates table-derived shape
            if k in ("b", "rf", "f", "es", "e"):
                for shape_k in ("b", "rf", "f", "es", "e"):
                    src.pop(shape_k, None)
            src[k] = float(params[k])

    if "a" not in src:
        raise EllipsoidError("major axis not given")
    a = src["a"]
    if "es" in src:
        es = src["es"]
    elif "e" in src:
        es = src["e"] ** 2
    elif "rf" in src:
        f = 1.0 / src["rf"]
        es = 2 * f - f * f
    elif "f" in src:
        f = src["f"]
        es = 2 * f - f * f
    elif "b" in src:
        f = (a - src["b"]) / a
        es = 2 * f - f * f
    else:
        es = 0.0
    # guard tiny negative es from b==a roundoff
    if abs(es) < 1e-15:
        es = 0.0
    a, es = _spherify(a, es, params)
    return Ellipsoid(a=a, es=es)


# series coefficients for ellipsoid-equivalent spheres, src/ell_set.cpp:328-333
_SIXTH = 1 / 6.0
_RA4 = 17 / 360.0
_RA6 = 67 / 3024.0
_RV4 = 5 / 72.0
_RV6 = 55 / 1296.0


def _spherify(a: float, es: float, params: dict) -> tuple[float, float]:
    """Spherification flags R_A/R_V/R_a/R_g/R_h/R_lat_a/R_lat_g;
    src/ell_set.cpp:336-421."""
    keys = ("R_A", "R_V", "R_a", "R_g", "R_h", "R_lat_a", "R_lat_g")
    key = next((k for k in keys if k in params), None)
    if key is None:
        return a, es
    b = a * math.sqrt(1 - es)
    if key == "R_A":
        a *= 1.0 - es * (_SIXTH + es * (_RA4 + es * _RA6))
    elif key == "R_V":
        a *= 1.0 - es * (_SIXTH + es * (_RV4 + es * _RV6))
    elif key == "R_a":
        a = (a + b) / 2
    elif key == "R_g":
        a = math.sqrt(a * b)
    elif key == "R_h":
        if a + b == 0:
            raise EllipsoidError("tolerance condition")
        a = (2 * a * b) / (a + b)
    else:  # R_lat_a / R_lat_g
        from proj_4_spark.engine.projstring import dmstor

        t = dmstor(str(params[key]))
        if abs(t) > math.pi / 2:
            raise EllipsoidError("ref_rad_larger_than_90")
        t = math.sin(t)
        t = 1 - es * t * t
        if t == 0.0:
            raise EllipsoidError("invalid eccentricity")
        if key == "R_lat_a":
            a *= (1.0 - es + t) / (2 * t * math.sqrt(t))
        else:
            a *= math.sqrt(1 - es) / t
    if a <= 0.0:
        raise EllipsoidError("major axis not given")
    return a, 0.0
