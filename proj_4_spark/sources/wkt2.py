"""WKT2 (ISO 19162) CRS text ingestion — subset.

Modern CRS text pastes (GEOGCRS / PROJCRS, WKT2-2015/2019) compile to
proj-strings without proj.db, reusing the SAME EPSG conversion-method
mapping the generated catalog is built with
(sources/epsg_methods.method_fragment) — so a WKT2 definition and its
catalog preset produce identical fragments.

Supported subset (the survey's §7.7 WKT scope, narrowed to what the
engine can execute):

- GEOGCRS/GEODCRS: DATUM or ENSEMBLE -> ELLIPSOID[name, a, rf],
  PRIMEM -> +pm, angle unit on the base (degree assumed when absent);
- PROJCRS: BASEGEOGCRS (same extraction) + CONVERSION[METHOD,
  PARAMETER...] + CS axis LENGTHUNIT -> +units/+to_meter;
- METHOD/PARAMETER resolve by ID["EPSG",code] when present, else by
  canonical EPSG name (the reference accepts both,
  src/iso19111/io.cpp WKTParser);
- parameter values convert through the unit factor carried in the WKT
  text itself, with exact paths for degree/grad (matching the
  generator's uom handling — roundtripping degrees through the radian
  factor would corrupt them).

Also supported: VERTCRS (ID-keyed, with a normalized-name fallback
against the generated VERT_PRESETS), COMPOUNDCRS (horizontal +
vertical members), and BOUNDCRS (SOURCECRS + ABRIDGEDTRANSFORMATION
-> +towgs84/+nadgrids on the source CRS, io.cpp:4406 buildBoundCRS —
the shape gdalsrsinfo exports for any towgs84-bearing CRS; a PROJJSON
BoundCRS reaches the same reader with a COORDINATEOPERATION).

This Node tree is the one CRS model of the text formats: sources/
projjson maps PROJJSON onto it, the ellipsoid matcher
(ellipsoid_fragment) serves the WKT2, PROJJSON and ESRI WKT1 readers,
and the preset resolver (_resolve_preset) both writers.

Also supported: DERIVEDPROJCRS (base projection + deriving conversion
composed as a pipeline; EPSG 9624 affine parametric and PROJ-based
deriving methods), and coordinate-operation objects
(COORDINATEOPERATION / CONCATENATEDOPERATION / CONVERSION).

Out of scope (raise ValueError): WKT1 (see sources/esri_wkt1.py for
the ESRI WKT1 reader).

References: WKTParser grammar src/iso19111/io.cpp:1103+; test strings
test/unit/test_io.cpp (wkt2_2019 / wkt2_2019_simplified cases).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from proj_4_spark.kernels.ellipsoid import ELLPS_TABLE
from proj_4_spark.sources.epsg_methods import fmt, method_fragment
from proj_4_spark.sources.initfiles import splice_fragment, vertical_fragment

# ---------------------------------------------------------------------------
# tokenizer / parser
# ---------------------------------------------------------------------------


@dataclass
class Node:
    kw: str
    args: list = field(default_factory=list)

    def first(self, *kws):
        for a in self.args:
            if isinstance(a, Node) and a.kw.upper() in kws:
                return a
        return None

    def all(self, *kws):
        return [a for a in self.args
                if isinstance(a, Node) and a.kw.upper() in kws]


def _tokenize(text: str):
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c.isspace() or c == ",":
            i += 1
            continue
        if c in "[]()":
            yield c
            i += 1
            continue
        if c == '"':
            j = i + 1
            buf = []
            while j < n:
                if text[j] == '"':
                    if j + 1 < n and text[j + 1] == '"':
                        buf.append('"')
                        j += 2
                        continue
                    break
                buf.append(text[j])
                j += 1
            yield ("str", "".join(buf))
            i = j + 1
            continue
        j = i
        while j < n and text[j] not in '[](),"' and not text[j].isspace():
            j += 1
        tok = text[i:j]
        try:
            yield ("num", float(tok))
        except ValueError:
            yield ("word", tok)
        i = j


def parse_wkt(text: str) -> Node:
    toks = list(_tokenize(text))
    pos = 0

    def parse_value():
        nonlocal pos
        t = toks[pos]
        if isinstance(t, tuple) and t[0] == "word" and pos + 1 < len(toks) \
                and toks[pos + 1] in ("[", "("):
            kw = t[1]
            pos += 2
            node = Node(kw)
            while toks[pos] not in ("]", ")"):
                node.args.append(parse_value())
            pos += 1
            return node
        pos += 1
        if isinstance(t, tuple):
            return t[1]
        raise ValueError(f"unexpected token {t!r} in WKT")

    root = parse_value()
    if pos != len(toks):
        raise ValueError("trailing tokens after WKT root node")
    if not isinstance(root, Node):
        raise ValueError("WKT root is not a node")
    return root


# ---------------------------------------------------------------------------
# EPSG name tables (canonical names, io.cpp WKTParser accepts either
# the name or the ID node; codes per conversion.sql)
# ---------------------------------------------------------------------------

METHOD_NAME_TO_CODE = {
    "transverse mercator": 9807,
    "transverse mercator (south orientated)": 9808,
    "lambert conic conformal (1sp)": 9801,
    "lambert conic conformal (2sp)": 9802,
    "lambert conic conformal (2sp michigan)": 1051,
    "mercator (variant a)": 9804,
    "mercator (variant b)": 9805,
    "popular visualisation pseudo mercator": 1024,
    "cassini-soldner": 9806,
    "oblique stereographic": 9809,
    "polar stereographic (variant a)": 9810,
    "polar stereographic (variant b)": 9829,
    "hotine oblique mercator (variant a)": 9812,
    "hotine oblique mercator (variant b)": 9815,
    "american polyconic": 9818,
    "krovak": 1041,
    "krovak (north orientated)": 9819,
    "lambert azimuthal equal area": 9820,
    "lambert azimuthal equal area (spherical)": 9821,
    "albers equal area": 9822,
    "equal earth": 1078,
    "equidistant cylindrical": 1028,
    "equidistant cylindrical (spherical)": 1029,
    "lambert cylindrical equal area": 9835,
    "lambert cylindrical equal area (spherical)": 9834,
    "new zealand map grid": 9811,
    "modified azimuthal equidistant": 9832,
    "guam projection": 9831,
    "colombia urban": 1052,
    "bonne": 9827,
    "lambert conic near-conformal": 9817,
    "affine parametric transformation": 9624,
}

PARAM_NAME_TO_CODE = {
    "latitude of natural origin": 8801,
    "longitude of natural origin": 8802,
    "scale factor at natural origin": 8805,
    "false easting": 8806,
    "false northing": 8807,
    "latitude of projection centre": 8811,
    "longitude of projection centre": 8812,
    "azimuth of initial line": 8813,
    "azimuth at projection centre": 8813,
    "angle from rectified to skew grid": 8814,
    "scale factor on initial line": 8815,
    "scale factor at projection centre": 8815,
    "easting at projection centre": 8816,
    "northing at projection centre": 8817,
    "scale factor on pseudo standard parallel": 8819,
    "latitude of false origin": 8821,
    "longitude of false origin": 8822,
    "latitude of 1st standard parallel": 8823,
    "latitude of 2nd standard parallel": 8824,
    "easting at false origin": 8826,
    "northing at false origin": 8827,
    "latitude of standard parallel": 8832,
    "longitude of origin": 8833,
    "co-latitude of cone axis": 1036,
    "ellipsoid scaling factor": 1038,
    "projection plane origin height": 1039,
    # Affine parametric transformation (9624) coefficients; A0/B0 are
    # lengths, the rest unitless coefficients (proj_constants.h:622-638)
    "a0": 8623, "a1": 8624, "a2": 8625,
    "b0": 8639, "b1": 8640, "b2": 8641,
}

# parameter kind per code (drives default-unit handling)
_ANGLE_CODES = {8801, 8802, 8811, 8812, 8813, 8814, 8821, 8822, 8823,
                8824, 8832, 8833, 1036}
_SCALE_CODES = {8805, 8815, 8819, 1038}

_DEG = math.pi / 180.0


def _angle_value(value: float, factor: float | None) -> float:
    """WKT angle value -> degrees, with exact degree/grad paths (the
    radian-factor roundtrip corrupts integral degrees)."""
    # the conventional WKT degree factor 0.0174532925199433 is a
    # 15-digit rounding of pi/180 — treat anything within 1e-16 as the
    # exact degree unit (routing through the rounded factor would turn
    # 49 into 49.000000000000014)
    if factor is None or abs(factor - _DEG) < 1e-16:
        return value
    if abs(factor - math.pi / 200.0) < 1e-16:  # grad
        return value * 0.9
    return value * factor * 180.0 / math.pi


def _unit_factor(node: Node | None) -> float | None:
    if node is None:
        return None
    nums = [a for a in node.args if isinstance(a, float)]
    return nums[0] if nums else None


def _id_code(node: Node) -> int | None:
    idn = node.first("ID", "AUTHORITY")
    if idn is None:
        return None
    args = [a for a in idn.args if not isinstance(a, Node)]
    if len(args) >= 2 and str(args[0]).upper() == "EPSG":
        try:
            return int(float(str(args[1])))
        except ValueError:
            return None
    return None


# ---------------------------------------------------------------------------
# reader
# ---------------------------------------------------------------------------


def _inverse_flattening(a: float, b: float) -> float:
    """1/f of an (a, b)-defined ellipsoid; 0.0 for a sphere."""
    return 0.0 if b == a else a / (a - b)


def _registry_ellipsoid(name: str) -> tuple[float, float]:
    """(a, 1/f) of a registry ellipsoid; b-defined entries (clrk66
    etc.) give their effective inverse flattening a/(a-b)."""
    spec = ELLPS_TABLE[name]
    a = spec["a"]
    if "rf" in spec:
        return a, spec["rf"]
    return a, _inverse_flattening(a, spec["b"])


def ellipsoid_fragment(a: float, rf: float) -> str:
    """(a, 1/f) -> ``ellps=NAME`` when a registry entry matches, else
    ``a=/rf=`` (``a=/b=`` for a sphere).  Shared by the WKT2, PROJJSON
    and ESRI WKT1 readers."""
    for name in ELLPS_TABLE:
        ea, erf = _registry_ellipsoid(name)
        # exact match, or the 15-significant-digit WKT rounding of the
        # registry value (b-defined ellipsoids like clrk66 print rf as
        # 294.978698213898 in the reference's own WKT, a last-bit short
        # of the computed a/(a-b) — the reference canonicalizes such
        # text back to the named ellipsoid via tolerant equivalence,
        # iso19111 _isEquivalentTo)
        if ea == a and (erf == rf or float(f"{erf:.15g}") == rf):
            return f"ellps={name}"
    if rf == 0.0:
        return f"a={fmt(a)} b={fmt(a)}"
    return f"a={fmt(a)} rf={fmt(rf)}"


def _ellps_fragment_from(ell: Node) -> str:
    vals = [a for a in ell.args if isinstance(a, float)]
    if len(vals) < 2:
        raise ValueError("ELLIPSOID needs semi-major axis and 1/f")
    a, rf = vals[0], vals[1]
    lu = _unit_factor(ell.first("LENGTHUNIT", "UNIT"))
    if lu is not None and lu != 1.0:
        a *= lu
    return ellipsoid_fragment(a, rf)


def _base_fragments(crs: Node) -> list[str]:
    datum = crs.first("DATUM", "TRF", "GEODETICDATUM", "ENSEMBLE")
    if datum is None:
        raise ValueError("GEOGCRS without DATUM/ENSEMBLE")
    ell = datum.first("ELLIPSOID", "SPHEROID")
    if ell is None:
        raise ValueError("DATUM without ELLIPSOID")
    frags = [_ellps_fragment_from(ell)]
    pm = crs.first("PRIMEM", "PRIMEMERIDIAN")
    if pm is not None:
        vals = [a for a in pm.args if isinstance(a, float)]
        if vals:
            lon = _angle_value(vals[0],
                               _unit_factor(pm.first("ANGLEUNIT", "UNIT")))
            if lon != 0.0:
                frags.append(f"pm={fmt(lon)}")
    return frags


def _conversion_params(conv: Node) -> tuple[int, dict]:
    meth = conv.first("METHOD", "PROJECTION")
    if meth is None:
        raise ValueError("CONVERSION without METHOD")
    code = _id_code(meth)
    if code is None:
        names = [a for a in meth.args if isinstance(a, str)]
        code = METHOD_NAME_TO_CODE.get(names[0].lower()) if names else None
    if code is None:
        raise ValueError(f"unsupported WKT2 method {meth.args[:1]}")
    p: dict[int, float] = {}
    for par in conv.all("PARAMETER"):
        pcode = _id_code(par)
        if pcode is None:
            names = [a for a in par.args if isinstance(a, str)]
            pcode = PARAM_NAME_TO_CODE.get(names[0].lower()) if names else None
        if pcode is None:
            continue  # unknown parameter: skip (io.cpp warns similarly)
        vals = [a for a in par.args if isinstance(a, float)]
        if not vals:
            continue
        v = vals[0]
        if pcode in _ANGLE_CODES:
            v = _angle_value(v, _unit_factor(
                par.first("ANGLEUNIT", "UNIT")))
        elif pcode in _SCALE_CODES:
            f = _unit_factor(par.first("SCALEUNIT", "UNIT"))
            v = v * f if f not in (None, 1.0) else v
        else:
            f = _unit_factor(par.first("LENGTHUNIT", "UNIT"))
            v = v * f if f not in (None, 1.0) else v
        p[pcode] = v
    return code, p


# method_fragment accessors over a normalized {param code: value} dict
# (angles in degrees, lengths in metres, scales unitless)
_ACCESSORS = (lambda d, c, default=None: d.get(c, default),
              lambda d, c, default=0.0: d.get(c, default),
              lambda d, c, default=1.0: d.get(c, default))


def _epsg_fragment(code: int, p: dict) -> str:
    frag = method_fragment(code, p, *_ACCESSORS)
    if frag is None:
        raise ValueError(f"unsupported EPSG method {code}")
    return frag


def _units_fragment_from(crs: Node) -> str:
    """+units from the CS axis length unit (PROJCRS level)."""
    factor = None
    cs = crs.first("CS")
    for scope in ([cs] if cs is not None else []) + [crs] + \
            (crs.all("AXIS") or []):
        if scope is None:
            continue
        u = scope.first("LENGTHUNIT", "UNIT")
        if u is not None:
            factor = _unit_factor(u)
            break
    if factor is None:
        for ax in crs.all("AXIS"):
            u = ax.first("LENGTHUNIT", "UNIT")
            if u is not None:
                factor = _unit_factor(u)
                break
    return length_units_fragment(factor)


# +units name -> (WKT unit name, meters per unit)
_UNIT_WKT = {
    "m": ("metre", 1.0),
    "ft": ("foot", 0.3048),
    "us-ft": ("US survey foot", 1200.0 / 3937.0),
}


def length_units_fragment(factor: float | None) -> str:
    """+units (or +to_meter) for a length unit of `factor` meters: the
    one rule of the WKT2 and ESRI WKT1 readers.  A unit of _UNIT_WKT
    matches within 1e-12, the tolerance the catalog was generated with;
    no factor means meters."""
    if factor is None:
        return "units=m"
    for name, (_, meters) in _UNIT_WKT.items():
        if abs(factor - meters) < 1e-12:
            return f"units={name}"
    return f"to_meter={fmt(factor)}"


def _vertical_fragment_from(vert: Node) -> str:
    """VERTCRS -> the catalog's +geoidgrids/+vunits fragment.  WKT2
    vertical CRS text carries no geoid model, so resolution goes
    through the vertical registry by the node's ID["EPSG",code] —
    the same way the reference resolves a VerticalCRS against proj.db
    before building a vertical transformation."""
    from proj_4_spark.sources.epsg_generated import VERT_PRESETS

    code = _id_code(vert)
    if code is None:
        # name-keyed fallback: real-world WKT2 sometimes omits the ID;
        # the reference resolves vertical datums by name too (WKTParser
        # datum name lookup).  Normalized CRS name first, then the
        # VDATUM name with/without a " height" suffix.
        def norm(s: str) -> str:
            return "".join(ch for ch in s.lower() if ch.isalnum())

        by_name = {norm(v[0]): c for c, v in VERT_PRESETS.items() if v[0]}
        names = [a for a in vert.args if isinstance(a, str)][:1]
        vd = vert.first("VDATUM", "VERTICALDATUM", "VRF")
        if vd is not None:
            dn = [a for a in vd.args if isinstance(a, str)][:1]
            for d in dn:
                names.append(d)
                names.append(d + " height")
                if d.lower().endswith(" geoid"):
                    names.append(d[: -len(" geoid")] + " height")
        for cand in names:
            code = by_name.get(norm(cand))
            if code is not None:
                break
        if code is None:
            raise ValueError(
                f"VERTCRS {names[:1]} has no ID[\"EPSG\",...] and its "
                "name matches no generated vertical preset")
    if code not in VERT_PRESETS:
        raise ValueError(f"vertical CRS EPSG:{code} not in the generated "
                         "registry")
    return vertical_fragment(code)


def wkt2_to_projstring(text: str) -> str:
    """Compile a WKT2 GEOGCRS/PROJCRS/COMPOUNDCRS/BOUNDCRS string to a
    proj-string."""
    root = parse_wkt(text)
    return _node_to_projstring(root)


def _node_to_projstring(root: Node) -> str:
    kw = root.kw.upper()
    if kw in ("GEOGCRS", "GEODCRS", "GEOGRAPHICCRS", "GEODETICCRS"):
        return " ".join(["proj=longlat"] + _base_fragments(root)
                        + ["no_defs"])
    if kw == "COMPOUNDCRS":
        parts = [a for a in root.args if isinstance(a, Node)
                 and a.kw.upper() in ("GEOGCRS", "GEODCRS", "PROJCRS",
                                      "VERTCRS", "VERTICALCRS")]
        horiz = [p for p in parts if p.kw.upper() not in
                 ("VERTCRS", "VERTICALCRS")]
        vert = [p for p in parts if p.kw.upper() in
                ("VERTCRS", "VERTICALCRS")]
        if len(horiz) != 1 or len(vert) != 1:
            raise ValueError("COMPOUNDCRS needs one horizontal and one "
                             "vertical component")
        return splice_fragment(_node_to_projstring(horiz[0]),
                               _vertical_fragment_from(vert[0]))
    if kw == "BOUNDCRS":
        return _boundcrs_to_projstring(root)
    if kw in ("COORDINATEOPERATION", "CONCATENATEDOPERATION",
              "CONVERSION"):
        return _operation_to_projstring(root)
    if kw == "DERIVEDPROJCRS":
        return _derived_projcrs_to_projstring(root)
    if kw != "PROJCRS" and kw != "PROJECTEDCRS":
        raise ValueError(f"unsupported WKT2 root {root.kw!r} "
                         "(subset: GEOGCRS/PROJCRS/COMPOUNDCRS/"
                         "BOUNDCRS/DERIVEDPROJCRS/COORDINATEOPERATION/"
                         "CONCATENATEDOPERATION)")
    base = root.first("BASEGEOGCRS", "BASEGEODCRS")
    if base is None:
        raise ValueError("PROJCRS without BASEGEOGCRS")
    conv = root.first("CONVERSION")
    if conv is None:
        raise ValueError("PROJCRS without CONVERSION")
    return " ".join([_epsg_fragment(*_conversion_params(conv))]
                    + _base_fragments(base)
                    + [_units_fragment_from(root), "no_defs"])


def _derived_projcrs_to_projstring(root: Node) -> str:
    """DERIVEDPROJCRS (io.cpp:4639 buildDerivedProjectedCRS): derived
    coordinates = derivingConversion(baseProjection(lon, lat)), so the
    deriving conversion composes AFTER the base projected CRS in a
    pipeline — the same way ob_tran composes kernels.  The reference
    parses this node but has no PROJ-string export for it (crs.cpp:5791
    is WKT-only); the pipeline below is the ISO 19111 derivation
    semantics over the engine's own step composer.  Deriving methods:
    EPSG 9624 affine parametric and 'PROJ-based operation method:
    +proj=...' (the reference's own escape hatch)."""
    basep = root.first("BASEPROJCRS")
    if basep is None:
        raise ValueError("DERIVEDPROJCRS without BASEPROJCRS")
    dconv = root.first("DERIVINGCONVERSION")
    if dconv is None:
        raise ValueError("DERIVEDPROJCRS without DERIVINGCONVERSION")
    base_geog = basep.first("BASEGEOGCRS", "BASEGEODCRS")
    if base_geog is None:
        raise ValueError("BASEPROJCRS without BASEGEOGCRS")
    conv = basep.first("CONVERSION")
    if conv is None:
        raise ValueError("BASEPROJCRS without CONVERSION")

    base_step = " ".join([_epsg_fragment(*_conversion_params(conv))]
                         + _base_fragments(base_geog))

    meth = dconv.first("METHOD", "PROJECTION")
    names = ([a for a in meth.args if isinstance(a, str)]
             if meth is not None else [])
    name = names[0] if names else ""
    if name.lower().startswith("proj-based operation method:"):
        dstep = name.split(":", 1)[1].strip().replace("+", "")
        if not dstep.startswith("proj="):
            raise ValueError("malformed PROJ-based operation method")
    else:
        dcode, dp = _conversion_params(dconv)
        dstep = method_fragment(dcode, dp, *_ACCESSORS)
        if dstep is None:
            raise ValueError(
                f"unsupported DERIVINGCONVERSION method {dcode} "
                "(supported: EPSG 9624 affine parametric transformation "
                "and PROJ-based operation methods)")
    # derived CS units apply AFTER the deriving conversion (its length
    # parameters were already normalized to metres by the unit factors
    # carried in the text)
    units = _units_fragment_from(root)
    steps = [base_step, dstep]
    if units == "units=ft":
        steps.append("proj=unitconvert xy_in=m xy_out=ft")
    elif units == "units=us-ft":
        steps.append("proj=unitconvert xy_in=m xy_out=us-ft")
    elif units != "units=m":
        raise ValueError(
            f"unsupported derived-CS unit for DERIVEDPROJCRS ({units})")
    return "proj=pipeline step " + " step ".join(steps)


# ---------------------------------------------------------------------------
# coordinate-operation objects: COORDINATEOPERATION / CONCATENATEDOPERATION /
# CONVERSION["PROJ-based..."] -> pipeline proj-strings
#
# The reference parses operation WKT at src/iso19111/io.cpp:3075
# (buildCoordinateOperation) and :3133 (buildConcatenatedOperation), and
# exports the result as a +proj=pipeline via
# Transformation::_exportToPROJString
# (src/iso19111/coordinateoperation.cpp:9229): geographic-domain Helmerts
# wrap in cart/cart⁻¹ with push/pop v_3 for 2D CRSs
# (setupPROJGeodeticSourceCRS, coordinateoperation.cpp:9174), grid methods
# become hgridshift, and the pipeline is book-ended by the CRSs' own
# axis-order/unit normalization (axisswap 2,1 + unitconvert for lat,lon
# degree CRSs — see the expected strings in
# test/unit/test_operation.cpp:571).  This section replays exactly that
# compilation, so the resulting Operation consumes/produces coordinates
# in the source/target CRS's native axis order and units, like PROJ's
# cct on the same text.
# ---------------------------------------------------------------------------

_AS_RAD = math.pi / 180.0 / 3600.0

# transformation methods (coordinate_operation_method.sql codes); the
# (geog2D/geog3D/geocentric domain) triples share one kernel chain and
# differ only in the cart wrap + push/pop v_3
_OP_TRANSLATION = {1031: "geocent", 9603: "geog2", 1035: "geog3"}
_OP_POSVEC = {1033: "geocent", 9606: "geog2", 1037: "geog3"}
_OP_COORDFRAME = {1032: "geocent", 9607: "geog2", 1038: "geog3"}
_OP_TIME_PV = {1053: "geocent", 1054: "geog2", 1055: "geog3"}
_OP_TIME_CF = {1056: "geocent", 1057: "geog2", 1058: "geog3"}

_OP_PARAM_NAMES = {
    "x-axis translation": 8605, "y-axis translation": 8606,
    "z-axis translation": 8607, "x-axis rotation": 8608,
    "y-axis rotation": 8609, "z-axis rotation": 8610,
    "scale difference": 8611,
    "rate of change of x-axis translation": 1040,
    "rate of change of y-axis translation": 1041,
    "rate of change of z-axis translation": 1042,
    "rate of change of x-axis rotation": 1043,
    "rate of change of y-axis rotation": 1044,
    "rate of change of z-axis rotation": 1045,
    "rate of change of scale difference": 1046,
    "parameter reference epoch": 1047,
    "semi-major axis length difference": 8654,
    "flattening difference": 8655,
    "latitude offset": 8601, "longitude offset": 8602,
    "vertical offset": 8603,
}


def _to_metres(v: float, f: float | None) -> float:
    return v if f in (None, 1.0) else v * f


def _to_arcsec(v: float, f: float | None) -> float:
    """Angle parameter -> arc-seconds (helmert +rx convention), with
    exact degree/arc-second paths (the rounded-factor divide corrupts
    last bits — the WKT2 degree-factor lesson)."""
    if f is None or abs(f - _AS_RAD) < 1e-21:
        return v
    if abs(f - _DEG) < 1e-16:
        return v * 3600.0
    return v * f / _AS_RAD


def _to_ppm(v: float, f: float | None) -> float:
    if f is None or f == 1e-6:
        return v
    if f == 1.0:
        return v * 1e6
    return v * f / 1e-6


_OP_PARAM_CODES = set(_OP_PARAM_NAMES.values())


def _op_param(par: Node) -> tuple[int | None, float | None, float | None]:
    """(EPSG transformation-parameter code, raw value, unit factor) of a
    PARAMETER node; the code comes from a known ID, else the name."""
    pcode = _id_code(par)
    if pcode not in _OP_PARAM_CODES:
        names = [a for a in par.args if isinstance(a, str)]
        pcode = _OP_PARAM_NAMES.get(names[0].lower()) if names else None
    vals = [a for a in par.args if isinstance(a, float)]
    f = _unit_factor(par.first("ANGLEUNIT", "SCALEUNIT", "LENGTHUNIT",
                               "TIMEUNIT", "UNIT"))
    return pcode, (vals[0] if vals else None), f


def _op_params(node: Node) -> dict[int, tuple[float, float | None]]:
    """{EPSG transformation-parameter code: (raw value, unit factor)}"""
    out: dict[int, tuple[float, float | None]] = {}
    for par in node.all("PARAMETER"):
        pcode, v, f = _op_param(par)
        if pcode is not None and v is not None:
            out[pcode] = (v, f)
    return out


def _inner_crs(node: Node, kw: str) -> Node:
    holder = node.first(kw)
    if holder is None:
        raise ValueError(f"{node.kw} missing {kw}")
    inner = next((a for a in holder.args if isinstance(a, Node)), None)
    if inner is None:
        raise ValueError(f"{kw} without a CRS node")
    return inner


_GEOG_KWS = ("GEOGCRS", "GEODCRS", "GEOGRAPHICCRS", "GEODETICCRS")
_PROJ_KWS = ("PROJCRS", "PROJECTEDCRS")


def _geog_of(crs: Node) -> Node:
    """The geodetic component: the CRS itself, or a PROJCRS's base."""
    kw = crs.kw.upper()
    if kw in _GEOG_KWS:
        return crs
    if kw in _PROJ_KWS:
        base = crs.first("BASEGEOGCRS", "BASEGEODCRS")
        if base is None:
            raise ValueError("PROJCRS without BASEGEOGCRS")
        return base
    if kw == "BOUNDCRS":
        return _geog_of(_inner_crs(crs, "SOURCECRS"))
    raise ValueError(f"unsupported CRS kind {crs.kw!r} in a "
                     "coordinate operation")


def _is_geocentric(crs: Node) -> bool:
    """GEODCRS with CS[Cartesian,3] is a geocentric CRS."""
    if crs.kw.upper() not in _GEOG_KWS:
        return False
    cs = crs.first("CS")
    return (cs is not None and cs.args
            and str(cs.args[0]).lower() == "cartesian")


def _ellps_of(crs: Node) -> str:
    frags = _base_fragments(_geog_of(crs))
    if any(fr.startswith("pm=") for fr in frags):
        raise ValueError("non-Greenwich prime meridian not supported in "
                         "coordinate-operation pipelines")
    return " ".join(frags)


def _geog_io_steps(crs: Node, entering: bool) -> list[str]:
    """Normalization between a CRS's native axis order/units and the
    pipeline-internal radians lon,lat (the reference book-ends exported
    pipelines the same way, test_operation.cpp:571).  entering=True is
    the source side (CRS -> radians)."""
    kw = crs.kw.upper()
    if kw in _PROJ_KWS:
        # conversions consume/produce easting,northing metres directly
        uf = _units_fragment_from(crs)
        if uf != "units=m":
            raise ValueError(f"non-metre projected CRS units ({uf}) not "
                             "supported in coordinate-operation pipelines")
        return []
    if _is_geocentric(crs):
        return []
    if kw not in _GEOG_KWS:
        raise ValueError(f"unsupported CRS kind {crs.kw!r} in a "
                         "coordinate operation")
    axes = crs.all("AXIS")
    lat_first = False
    unit = "deg"
    if axes:
        strs = [a for a in axes[0].args if isinstance(a, str)]
        direction = strs[1].lower() if len(strs) >= 2 else ""
        lat_first = direction == "north"
        f = _unit_factor(axes[0].first("ANGLEUNIT", "UNIT"))
        if f is None:
            f = _unit_factor(crs.first("ANGLEUNIT"))
        if f is not None:
            if abs(f - _DEG) < 1e-16:
                unit = "deg"
            elif abs(f - math.pi / 200.0) < 1e-16:
                unit = "grad"
            elif f == 1.0:
                unit = "rad"
            else:
                raise ValueError(
                    f"unsupported angular axis unit factor {f!r}")
    steps = []
    if entering:
        if lat_first:
            steps.append("proj=axisswap order=2,1")
        if unit != "rad":
            steps.append(f"proj=unitconvert xy_in={unit} xy_out=rad")
    else:
        if unit != "rad":
            steps.append(f"proj=unitconvert xy_in=rad xy_out={unit}")
        if lat_first:
            steps.append("proj=axisswap order=2,1")
    return steps


def _op_parameterfile(node: Node) -> str:
    pf = node.first("PARAMETERFILE")
    if pf is None:
        raise ValueError(f"{node.kw}: grid method without PARAMETERFILE")
    strs = [a for a in pf.args if isinstance(a, str)]
    if len(strs) < 2:
        raise ValueError("PARAMETERFILE needs a file name")
    return strs[1]


def _is_hgrid_method(code: int | None, low: str) -> bool:
    """NTv2/NTv1/CTABLE2 horizontal grid-shift method (by EPSG code or
    lower-cased name)."""
    return code == 9615 or "ntv2" in low or low in ("ntv1", "ctable2")


def _helmert_family(code: int | None,
                    low: str) -> tuple[str | None, str | None]:
    """(convention, domain) of a Helmert-family method — translation /
    position vector / coordinate frame, static and time-dependent
    (coordinateoperation.cpp:9240-9395) — by EPSG code, else by
    lower-cased name (domain None then); (None, None) otherwise."""
    for table, family in ((_OP_TRANSLATION, "trans"),
                          (_OP_POSVEC, "position_vector"),
                          (_OP_COORDFRAME, "coordinate_frame"),
                          (_OP_TIME_PV, "position_vector"),
                          (_OP_TIME_CF, "coordinate_frame")):
        if code in table:
            return family, table[code]
    for key, family in (("geocentric translations", "trans"),
                        ("position vector", "position_vector"),
                        ("coordinate frame", "coordinate_frame")):
        if key in low:
            return family, None
    return None, None


def _coordop_core(node: Node) -> tuple[list[str], Node, Node]:
    """(core pipeline steps — no outer normalization —, source CRS,
    target CRS) for one COORDINATEOPERATION node."""
    src = _inner_crs(node, "SOURCECRS")
    tgt = _inner_crs(node, "TARGETCRS")
    meth = node.first("METHOD")
    if meth is None:
        raise ValueError("COORDINATEOPERATION without METHOD")
    names = [a for a in meth.args if isinstance(a, str)]
    name = names[0] if names else ""
    if not name:
        raise ValueError("METHOD without a name")
    low = name.lower()
    code = _id_code(meth)
    p = _op_params(node)

    def P(c, conv):
        v = p.get(c)
        return conv(v[0], v[1]) if v is not None else 0.0

    if low.startswith("proj-based operation method:"):
        body = name.split(":", 1)[1].strip().replace("+", "")
        if "proj=pipeline" in body:
            raise ValueError("nested pipeline in PROJ-based method")
        return [body], src, tgt

    # grid-shift methods: NTv2/NTv1/CTABLE2 horizontal grids ->
    # hgridshift; VERTCON-style vertical offset files -> vgridshift
    if _is_hgrid_method(code, low):
        return ["proj=hgridshift grids=" + _op_parameterfile(node)], src, tgt
    if code == 9658 or "vertcon" in low or \
            low.startswith("vertical offset by grid interpolation"):
        return ["proj=vgridshift grids=" + _op_parameterfile(node)], src, tgt

    family, domain = _helmert_family(code, low)
    if family is not None:
        if domain is None:
            if "geog3d" in low:
                domain = "geog3"
            elif "geocentric" in low or _is_geocentric(src):
                domain = "geocent"
            else:
                domain = "geog2"
        h = (f"proj=helmert x={fmt(P(8605, _to_metres))} "
             f"y={fmt(P(8606, _to_metres))} z={fmt(P(8607, _to_metres))}")
        if family != "trans":
            h += (f" rx={fmt(P(8608, _to_arcsec))}"
                  f" ry={fmt(P(8609, _to_arcsec))}"
                  f" rz={fmt(P(8610, _to_arcsec))}"
                  f" s={fmt(P(8611, _to_ppm))}")
            if any(c in p for c in range(1040, 1048)):
                # time-dependent rates: SI per-year values + epoch
                h += (f" dx={fmt(P(1040, _to_metres))}"
                      f" dy={fmt(P(1041, _to_metres))}"
                      f" dz={fmt(P(1042, _to_metres))}"
                      f" drx={fmt(P(1043, _to_arcsec))}"
                      f" dry={fmt(P(1044, _to_arcsec))}"
                      f" drz={fmt(P(1045, _to_arcsec))}"
                      f" ds={fmt(P(1046, _to_ppm))}"
                      f" t_epoch={fmt(P(1047, _to_metres))}")
            h += f" convention={family}"
        if domain == "geocent":
            return [h], src, tgt
        steps = []
        if domain == "geog2":
            steps.append("proj=push v_3")
        steps.append("proj=cart " + _ellps_of(src))
        steps.append(h)
        steps.append("inv proj=cart " + _ellps_of(tgt))
        if domain == "geog2":
            steps.append("proj=pop v_3")
        return steps, src, tgt

    if code in (9604, 9605) or "molodensky" in low:
        abridged = code == 9605 or low.startswith("abridged")
        step = (f"proj=molodensky {_ellps_of(src)} "
                f"dx={fmt(P(8605, _to_metres))} "
                f"dy={fmt(P(8606, _to_metres))} "
                f"dz={fmt(P(8607, _to_metres))} "
                f"da={fmt(P(8654, _to_metres))} "
                f"df={fmt(P(8655, lambda v, f: v))}")
        if abridged:
            step += " abridged"
        return [step], src, tgt

    if code == 9601 or low == "longitude rotation":
        return ([f"proj=geogoffset dlon={fmt(P(8602, _to_arcsec))}"],
                src, tgt)
    if code == 9619 or low == "geographic2d offsets":
        return ([f"proj=geogoffset dlat={fmt(P(8601, _to_arcsec))} "
                 f"dlon={fmt(P(8602, _to_arcsec))}"], src, tgt)
    if code == 9660 or low == "geographic3d offsets":
        return ([f"proj=geogoffset dlat={fmt(P(8601, _to_arcsec))} "
                 f"dlon={fmt(P(8602, _to_arcsec))} "
                 f"dh={fmt(P(8603, _to_metres))}"], src, tgt)
    if code == 9616 or low == "vertical offset":
        return ([f"proj=geogoffset dh={fmt(P(8603, _to_metres))}"],
                src, tgt)

    raise ValueError(f"unsupported coordinate-operation method {name!r}"
                     f" (EPSG:{code})")


# +towgs84 slots: EPSG Helmert parameter code -> converter to the
# towgs84 unit (metres, arc-seconds, ppm)
_TOWGS84_PARAMS = {8605: _to_metres, 8606: _to_metres, 8607: _to_metres,
                   8608: _to_arcsec, 8609: _to_arcsec, 8610: _to_arcsec,
                   8611: _to_ppm}


def _boundcrs_to_projstring(root: Node) -> str:
    """BOUNDCRS[SOURCECRS, TARGETCRS[WGS84], transformation] -> the
    source CRS fragments + towgs84 or nadgrids.  WKT2 text (the shape
    gdalsrsinfo exports for any towgs84-bearing CRS) carries an
    ABRIDGEDTRANSFORMATION; a PROJJSON BoundCRS arrives as the
    COORDINATEOPERATION node sources/projjson builds.

    Reference: WKTParser::Private::buildBoundCRS
    (src/iso19111/io.cpp:4406), JSONParser::buildBoundCRS and
    Transformation::getTOWGS84Parameters
    (src/iso19111/coordinateoperation.cpp:6706): abridged parameter
    values are unitless metres / arc-seconds and Scale difference is
    (value - 1) * 1e6 ppm (convertFromAbridged,
    coordinateoperation.cpp:1294-1345); COORDINATEOPERATION parameters
    carry their units; Coordinate Frame rotations flip sign into the
    position-vector towgs84 convention."""
    tr = root.first("ABRIDGEDTRANSFORMATION", "COORDINATEOPERATION")
    if root.first("SOURCECRS") is None or tr is None:
        raise ValueError("BOUNDCRS needs SOURCECRS and "
                         "ABRIDGEDTRANSFORMATION")
    frag = _node_to_projstring(_inner_crs(root, "SOURCECRS"))
    meth = tr.first("METHOD")
    if meth is None:
        raise ValueError(f"{tr.kw} without METHOD")
    mname = next((a for a in meth.args if isinstance(a, str)), "").lower()
    mcode = _id_code(meth)
    if _is_hgrid_method(mcode, mname):
        return splice_fragment(frag, "nadgrids=" + _op_parameterfile(tr))
    family, _domain = _helmert_family(mcode, mname)
    if family is None:
        raise ValueError(f"unsupported BOUNDCRS method {mname!r} "
                         f"(EPSG:{mcode})")
    abridged = tr.kw.upper() == "ABRIDGEDTRANSFORMATION"
    vals = dict.fromkeys(_TOWGS84_PARAMS, 0.0)
    for par in tr.all("PARAMETER"):
        pcode, v, f = _op_param(par)
        if v is None:
            continue
        if pcode not in _TOWGS84_PARAMS:
            pname = next((a for a in par.args if isinstance(a, str)), "")
            raise ValueError(f"unsupported {tr.kw} parameter {pname!r}")
        if abridged:
            f = None
            if pcode == 8611:
                v = (v - 1.0) * 1e6
        vals[pcode] = _TOWGS84_PARAMS[pcode](v, f)
    if family == "coordinate_frame":
        for c in (8608, 8609, 8610):
            vals[c] = -vals[c] if vals[c] != 0.0 else 0.0
    return splice_fragment(
        frag, "towgs84=" + ",".join(fmt(v) for v in vals.values()))


def _conversion_step(conv: Node, geog_ctx: Node) -> str:
    """A CONVERSION inside a CONCATENATEDOPERATION STEP -> one pipeline
    step.  'Inverse of X' names / ID[\"INVERSE(EPSG)\",...] mark the
    inverse (io.cpp buildCoordinateOperation handles the same prefix);
    the ellipsoid comes from the running geodetic context."""
    import copy

    meth = conv.first("METHOD", "PROJECTION")
    if meth is None:
        raise ValueError("CONVERSION without METHOD")
    names = [a for a in meth.args if isinstance(a, str)]
    name = names[0] if names else ""
    inverse = name.lower().startswith("inverse of ")
    if inverse:
        conv = copy.deepcopy(conv)
        meth = conv.first("METHOD", "PROJECTION")
        for i, a in enumerate(meth.args):
            if isinstance(a, str):
                meth.args[i] = a[len("inverse of "):]
                break
    step = (f"{_epsg_fragment(*_conversion_params(conv))} "
            f"{_ellps_of(geog_ctx)}")
    return ("inv " + step) if inverse else step


def _operation_to_projstring(root: Node) -> str:
    kw = root.kw.upper()
    if kw == "CONVERSION":
        meth = root.first("METHOD", "PROJECTION")
        names = [a for a in meth.args if isinstance(a, str)] if meth else []
        name = names[0] if names else ""
        if name.lower().startswith("proj-based operation method:"):
            body = name.split(":", 1)[1].strip().replace("+", "")
            if not body.startswith("proj="):
                raise ValueError("malformed PROJ-based operation method")
            return body
        raise ValueError("standalone CONVERSION needs a CRS context "
                         "(only PROJ-based operation methods supported)")
    if kw == "COORDINATEOPERATION":
        core, src, tgt = _coordop_core(root)
        steps = (_geog_io_steps(src, True) + core
                 + _geog_io_steps(tgt, False))
    elif kw == "CONCATENATEDOPERATION":
        src = _inner_crs(root, "SOURCECRS")
        tgt = _inner_crs(root, "TARGETCRS")
        step_holders = root.all("STEP")
        if not step_holders:
            raise ValueError("CONCATENATEDOPERATION without STEP")
        nodes = []
        for st in step_holders:
            inner = [a for a in st.args if isinstance(a, Node)]
            if len(inner) != 1:
                raise ValueError("STEP must contain exactly one "
                                 "coordinate operation")
            nodes.append(inner[0])
        if len(nodes) < 2:
            raise ValueError("concatenated operation must have at least "
                             "two operations")
        cur = src  # running CRS context for conversion ellipsoids
        core: list[str] = []
        for sn in nodes:
            skw = sn.kw.upper()
            if skw == "CONVERSION":
                core.append(_conversion_step(sn, cur))
            elif skw == "COORDINATEOPERATION":
                sub, _s2, t2 = _coordop_core(sn)
                core += sub
                cur = t2
            elif skw == "CONCATENATEDOPERATION":
                raise ValueError("nested CONCATENATEDOPERATION not "
                                 "supported")
            else:
                raise ValueError(f"invalid STEP content {sn.kw!r} "
                                 "(expected CONVERSION or "
                                 "COORDINATEOPERATION)")
        steps = (_geog_io_steps(src, True) + core
                 + _geog_io_steps(tgt, False))
    else:
        raise ValueError(f"not a coordinate-operation node: {root.kw!r}")
    if not steps:
        return "proj=noop"
    return "proj=pipeline step " + " step ".join(steps)


# ---------------------------------------------------------------------------
# writer (for round-trip testing and interchange): proj-string preset ->
# WKT2-2019 text for the same supported method subset
# ---------------------------------------------------------------------------

_WKT_METHODS = {
    # proj name -> (method code, method name,
    #               [(param code, param name, proj key, kind, default)])
    "tmerc": (9807, "Transverse Mercator", [
        (8801, "Latitude of natural origin", "lat_0", "A", 0.0),
        (8802, "Longitude of natural origin", "lon_0", "A", 0.0),
        (8805, "Scale factor at natural origin", "k", "K", 1.0),
        (8806, "False easting", "x_0", "L", 0.0),
        (8807, "False northing", "y_0", "L", 0.0)]),
    "lcc2": (9802, "Lambert Conic Conformal (2SP)", [
        (8821, "Latitude of false origin", "lat_0", "A", 0.0),
        (8822, "Longitude of false origin", "lon_0", "A", 0.0),
        (8823, "Latitude of 1st standard parallel", "lat_1", "A", 0.0),
        (8824, "Latitude of 2nd standard parallel", "lat_2", "A", 0.0),
        (8826, "Easting at false origin", "x_0", "L", 0.0),
        (8827, "Northing at false origin", "y_0", "L", 0.0)]),
    "lcc2m": (1051, "Lambert Conic Conformal (2SP Michigan)", [
        (8821, "Latitude of false origin", "lat_0", "A", 0.0),
        (8822, "Longitude of false origin", "lon_0", "A", 0.0),
        (8823, "Latitude of 1st standard parallel", "lat_1", "A", 0.0),
        (8824, "Latitude of 2nd standard parallel", "lat_2", "A", 0.0),
        (8826, "Easting at false origin", "x_0", "L", 0.0),
        (8827, "Northing at false origin", "y_0", "L", 0.0),
        (1038, "Ellipsoid scaling factor", "k_0", "K", 1.0)]),
    "lcc1": (9801, "Lambert Conic Conformal (1SP)", [
        (8801, "Latitude of natural origin", "lat_0", "A", 0.0),
        (8802, "Longitude of natural origin", "lon_0", "A", 0.0),
        (8805, "Scale factor at natural origin", "k_0", "K", 1.0),
        (8806, "False easting", "x_0", "L", 0.0),
        (8807, "False northing", "y_0", "L", 0.0)]),
    "merc_a": (9804, "Mercator (variant A)", [
        (8802, "Longitude of natural origin", "lon_0", "A", 0.0),
        (8805, "Scale factor at natural origin", "k", "K", 1.0),
        (8806, "False easting", "x_0", "L", 0.0),
        (8807, "False northing", "y_0", "L", 0.0)]),
    "merc_b": (9805, "Mercator (variant B)", [
        (8823, "Latitude of 1st standard parallel", "lat_ts", "A", 0.0),
        (8802, "Longitude of natural origin", "lon_0", "A", 0.0),
        (8806, "False easting", "x_0", "L", 0.0),
        (8807, "False northing", "y_0", "L", 0.0)]),
    "webmerc": (1024, "Popular Visualisation Pseudo Mercator", [
        (8802, "Longitude of natural origin", "lon_0", "A", 0.0),
        (8806, "False easting", "x_0", "L", 0.0),
        (8807, "False northing", "y_0", "L", 0.0)]),
    "cass": (9806, "Cassini-Soldner", [
        (8801, "Latitude of natural origin", "lat_0", "A", 0.0),
        (8802, "Longitude of natural origin", "lon_0", "A", 0.0),
        (8806, "False easting", "x_0", "L", 0.0),
        (8807, "False northing", "y_0", "L", 0.0)]),
    "sterea": (9809, "Oblique Stereographic", [
        (8801, "Latitude of natural origin", "lat_0", "A", 0.0),
        (8802, "Longitude of natural origin", "lon_0", "A", 0.0),
        (8805, "Scale factor at natural origin", "k", "K", 1.0),
        (8806, "False easting", "x_0", "L", 0.0),
        (8807, "False northing", "y_0", "L", 0.0)]),
    "laea": (9820, "Lambert Azimuthal Equal Area", [
        (8801, "Latitude of natural origin", "lat_0", "A", 0.0),
        (8802, "Longitude of natural origin", "lon_0", "A", 0.0),
        (8806, "False easting", "x_0", "L", 0.0),
        (8807, "False northing", "y_0", "L", 0.0)]),
    "aea": (9822, "Albers Equal Area", [
        (8821, "Latitude of false origin", "lat_0", "A", 0.0),
        (8822, "Longitude of false origin", "lon_0", "A", 0.0),
        (8823, "Latitude of 1st standard parallel", "lat_1", "A", 0.0),
        (8824, "Latitude of 2nd standard parallel", "lat_2", "A", 0.0),
        (8826, "Easting at false origin", "x_0", "L", 0.0),
        (8827, "Northing at false origin", "y_0", "L", 0.0)]),
    "poly": (9818, "American Polyconic", [
        (8801, "Latitude of natural origin", "lat_0", "A", 0.0),
        (8802, "Longitude of natural origin", "lon_0", "A", 0.0),
        (8806, "False easting", "x_0", "L", 0.0),
        (8807, "False northing", "y_0", "L", 0.0)]),
    "eqearth": (1078, "Equal Earth", [
        (8802, "Longitude of natural origin", "lon_0", "A", 0.0),
        (8806, "False easting", "x_0", "L", 0.0),
        (8807, "False northing", "y_0", "L", 0.0)]),
    "eqc": (1028, "Equidistant Cylindrical", [
        (8823, "Latitude of 1st standard parallel", "lat_ts", "A", 0.0),
        (8802, "Longitude of natural origin", "lon_0", "A", 0.0),
        (8806, "False easting", "x_0", "L", 0.0),
        (8807, "False northing", "y_0", "L", 0.0)]),
    "cea": (9835, "Lambert Cylindrical Equal Area", [
        (8823, "Latitude of 1st standard parallel", "lat_ts", "A", 0.0),
        (8802, "Longitude of natural origin", "lon_0", "A", 0.0),
        (8806, "False easting", "x_0", "L", 0.0),
        (8807, "False northing", "y_0", "L", 0.0)]),
    "bonne": (9827, "Bonne", [
        (8801, "Latitude of natural origin", "lat_1", "A", 0.0),
        (8802, "Longitude of natural origin", "lon_0", "A", 0.0),
        (8806, "False easting", "x_0", "L", 0.0),
        (8807, "False northing", "y_0", "L", 0.0)]),
    "aeqd": (9832, "Modified Azimuthal Equidistant", [
        (8801, "Latitude of natural origin", "lat_0", "A", 0.0),
        (8802, "Longitude of natural origin", "lon_0", "A", 0.0),
        (8806, "False easting", "x_0", "L", 0.0),
        (8807, "False northing", "y_0", "L", 0.0)]),
    "somerc": (9815, "Hotine Oblique Mercator (variant B)", [
        (8811, "Latitude of projection centre", "lat_0", "A", 0.0),
        (8812, "Longitude of projection centre", "lon_0", "A", 0.0),
        (8813, "Azimuth at projection centre", "__alpha90", "A", 90.0),
        (8814, "Angle from Rectified to Skew Grid", "__gamma90", "A", 90.0),
        (8815, "Scale factor at projection centre", "k_0", "K", 1.0),
        (8816, "Easting at projection centre", "x_0", "L", 0.0),
        (8817, "Northing at projection centre", "y_0", "L", 0.0)]),
    "krovak": (9819, "Krovak (North Orientated)", [
        (8811, "Latitude of projection centre", "lat_0", "A", 0.0),
        (8833, "Longitude of origin", "lon_0", "A", 0.0),
        (1036, "Co-latitude of cone axis", "alpha", "A", 0.0),
        (8819, "Scale factor on pseudo standard parallel", "k", "K", 1.0),
        (8806, "False easting", "x_0", "L", 0.0),
        (8807, "False northing", "y_0", "L", 0.0)]),
    "guam": (9831, "Guam Projection", [
        (8801, "Latitude of natural origin", "lat_0", "A", 0.0),
        (8802, "Longitude of natural origin", "lon_0", "A", 0.0),
        (8806, "False easting", "x_0", "L", 0.0),
        (8807, "False northing", "y_0", "L", 0.0)]),
    "nzmg": (9811, "New Zealand Map Grid", [
        (8801, "Latitude of natural origin", "lat_0", "A", 0.0),
        (8802, "Longitude of natural origin", "lon_0", "A", 0.0),
        (8806, "False easting", "x_0", "L", 0.0),
        (8807, "False northing", "y_0", "L", 0.0)]),
}


def _parse_projstring_tokens(projstring: str) -> dict[str, str]:
    out: dict[str, str] = {}
    for tok in projstring.replace("+", " ").split():
        if "=" in tok:
            k, v = tok.split("=", 1)
            out[k] = v
        else:
            out[tok] = ""
    return out


def _wkt_family(params: dict[str, str]) -> tuple[str, dict[str, str]] | None:
    name = params.get("proj")
    p = dict(params)
    if name == "utm":
        zone = int(p["zone"])
        p["lat_0"] = "0"
        p["lon_0"] = str(zone * 6 - 183)
        p["k"] = "0.9996"
        p["x_0"] = "500000"
        p["y_0"] = "10000000" if "south" in p else "0"
        return "tmerc", p
    if name == "tmerc" and "axis" not in p:
        return "tmerc", p
    if name == "lcc" and "axis" not in p:
        if "lat_2" in p:
            return ("lcc2m" if "k_0" in p else "lcc2"), p
        return "lcc1", p
    if name == "merc":
        return ("merc_b" if "lat_ts" in p else "merc_a"), p
    if name == "aeqd":
        return ("guam" if "guam" in p else "aeqd"), p
    if name in ("webmerc", "cass", "sterea", "poly", "eqearth", "bonne",
                "nzmg", "somerc"):
        return name, p
    if name == "krovak" and p.get("axis") == "swu":
        return "krovak", p
    if name == "laea" and "R_A" not in p:
        return "laea", p
    if name == "aea":
        return "aea", p
    if name == "eqc" and "R_A" not in p:
        return "eqc", p
    if name == "cea" and "R_A" not in p:
        return "cea", p
    return None


@dataclass
class _Preset:
    """A proj-string preset resolved once for both CRS-text writers
    (WKT2 here, PROJJSON in sources/projjson): tokens with +datum
    expanded, the ellipsoid, the prime meridian in degrees, the length
    unit and the datum shift."""
    p: dict
    ellps: str
    a: float
    rf: float
    pm: float
    unit: tuple[str, float]
    towgs84: list[float] | None
    nadgrids: str | None


def _resolve_preset(projstring: str) -> _Preset:
    from proj_4_spark.engine.plan import DATUMS

    p = _parse_projstring_tokens(projstring)
    if "datum" in p:
        d = DATUMS.get(p["datum"])
        if d is None:
            raise ValueError(f"unknown datum {p['datum']}")
        for k, v in d.items():
            p.setdefault(k, v)
    if "ellps" in p:
        ename = p["ellps"]
        a, rf = _registry_ellipsoid(ename)
    elif "a" in p:
        ename = "unnamed"
        a = float(p["a"])
        rf = float(p["rf"]) if "rf" in p else 0.0
        if rf == 0.0 and "b" in p:
            rf = _inverse_flattening(a, float(p["b"]))
    else:
        raise ValueError("preset without ellipsoid information")
    # a NAMED meridian (pm=paris etc., src/datums.cpp pj_prime_meridians)
    # resolves through the proj-string reader's table
    raw_pm = p.get("pm", 0.0) or 0.0
    try:
        pm = float(raw_pm)
    except (TypeError, ValueError):
        from proj_4_spark.engine.projstring import prime_meridian_rad
        pm = prime_meridian_rad(str(raw_pm)) * 180.0 / math.pi
    if p.get("units") in _UNIT_WKT:
        unit = _UNIT_WKT[p["units"]]
    elif "to_meter" in p:
        unit = ("unknown", float(p["to_meter"]))
    else:
        unit = ("metre", 1.0)
    towgs84 = None
    if p.get("towgs84") and not p.get("nadgrids"):
        towgs84 = [float(x) for x in str(p["towgs84"]).split(",")]
        towgs84 += [0.0] * (7 - len(towgs84))
    return _Preset(p, ename, a, rf, pm, unit, towgs84,
                   p.get("nadgrids") or None)


def _writer_conversion(p: dict, fmt_name: str):
    """(method code, method name, [(param code, param name, kind,
    value)]) of a projected preset in the writers' method subset."""
    fam = _wkt_family(p)
    if fam is None:
        raise ValueError(f"no {fmt_name} writer for proj={p.get('proj')!r}")
    key, pp = fam
    code, mname, plist = _WKT_METHODS[key]
    return code, mname, [
        (pcode, pname, kind, float(pp.get(projkey, default) or default))
        for pcode, pname, projkey, kind, default in plist]


_WGS84_GEOG_WKT = ('GEOGCRS["WGS 84",DATUM["World Geodetic System '
                   '1984",ELLIPSOID["WGS 84",6378137,298.257223563,'
                   'LENGTHUNIT["metre",1]]],'
                   'UNIT["degree",0.0174532925199433]]')


def _bound_wkt(core: str, pre: _Preset, name: str) -> str:
    """Wrap datum-bearing presets in BOUNDCRS — the writer must not
    silently DROP +towgs84/+nadgrids (the reader converts back).
    Note the ABRIDGED convention stores Scale difference as
    1 + ppm*1e-6, which round-trips the ppm value to ~1e-10 relative
    (inherent to the WKT2 abridged form; PROJ has the same artifact)."""
    if pre.nadgrids:
        tr = (f'ABRIDGEDTRANSFORMATION["{name} to WGS84",'
              'METHOD["NTv2",ID["EPSG",9615]],'
              'PARAMETERFILE["Latitude and longitude difference file",'
              f'"{pre.nadgrids}"]]')
    elif pre.towgs84:
        vals = pre.towgs84
        pnames = ["X-axis translation", "Y-axis translation",
                  "Z-axis translation", "X-axis rotation",
                  "Y-axis rotation", "Z-axis rotation"]
        parts = [f'PARAMETER["{n}",{fmt(v)}]'
                 for n, v in zip(pnames, vals[:6])]
        parts.append(f'PARAMETER["Scale difference",'
                     f'{fmt(1.0 + vals[6] * 1e-6)}]')
        tr = (f'ABRIDGEDTRANSFORMATION["{name} to WGS84",'
              'METHOD["Position Vector transformation '
              '(geog2D domain)",ID["EPSG",9606]],'
              + ",".join(parts) + "]")
    else:
        return core
    return (f"BOUNDCRS[SOURCECRS[{core}],"
            f"TARGETCRS[{_WGS84_GEOG_WKT}],{tr}]")


def projstring_to_wkt2(projstring: str, name: str = "unnamed") -> str:
    """WKT2-2019 text for a supported projected/geographic proj-string
    preset (the writer half of the round-trip test: parse(write(x))
    must reproduce x's parameters exactly, INCLUDING the datum shift —
    towgs84/nadgrids presets emit a BOUNDCRS wrapper)."""
    pre = _resolve_preset(projstring)
    ell_wkt = (f'ELLIPSOID["{pre.ellps}",{fmt(pre.a)},{fmt(pre.rf)},'
               'LENGTHUNIT["metre",1]]')
    pm_wkt = (f',PRIMEM["unnamed",{fmt(pre.pm)},'
              'ANGLEUNIT["degree",0.0174532925199433]]') if pre.pm else ""
    if pre.p.get("proj") == "longlat":
        return _bound_wkt(
            (f'GEOGCRS["{name}",DATUM["unknown",{ell_wkt}]{pm_wkt}'
             ',CS[ellipsoidal,2],AXIS["latitude",north],'
             'AXIS["longitude",east],'
             'UNIT["degree",0.0174532925199433]]'), pre, name)
    code, mname, params = _writer_conversion(pre.p, "WKT2")
    units = {"A": 'ANGLEUNIT["degree",0.0174532925199433]',
             "K": 'SCALEUNIT["unity",1]', "L": 'LENGTHUNIT["metre",1]'}
    conv = ",".join(
        [f'CONVERSION["{name} conversion",'
         f'METHOD["{mname}",ID["EPSG",{code}]]']
        + [f'PARAMETER["{pname}",{fmt(v)},{units[kind]},'
           f'ID["EPSG",{pcode}]]' for pcode, pname, kind, v in params]) + "]"
    uname, ufac = pre.unit
    return _bound_wkt(
        (f'PROJCRS["{name}",BASEGEOGCRS["{name} base",'
         f'DATUM["unknown",{ell_wkt}]{pm_wkt}'
         f',UNIT["degree",0.0174532925199433]],{conv},'
         f'CS[Cartesian,2],AXIS["(E)",east],AXIS["(N)",north],'
         f'LENGTHUNIT["{uname}",{fmt(ufac)}]]'), pre, name)
