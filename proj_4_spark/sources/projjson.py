"""PROJJSON CRS text ingestion — subset.

Reference: src/iso19111/io.cpp:4905 (``class JSONParser``);
createFromUserInput dispatches on a leading ``{`` (io.cpp:5974).
PROJJSON carries the same model as WKT2, so the reader maps the JSON
dict onto the WKT2 ``Node`` tree and reuses sources/wkt2's compiler —
the same EPSG method mappers, ellipsoid matching, unit handling and
BoundCRS reader — so a PROJJSON definition and its WKT2 twin produce
identical proj-strings.

Supported subset (mirrors the WKT2 reader's):
- GeographicCRS / GeodeticCRS (datum or datum_ensemble, prime
  meridian, degree/grad/custom angle units);
- ProjectedCRS (base_crs + conversion via the shared EPSG method
  mapping + axis length unit);
- CompoundCRS (horizontal + vertical), VerticalCRS (ID- or
  name-keyed against the generated vertical presets);
- BoundCRS: the transformation becomes a COORDINATEOPERATION node and
  goes through wkt2's BOUNDCRS reader — helmert-family methods ->
  +towgs84 (PROJJSON values are TRUE values with units — metres /
  arc-seconds / ppm — unlike the abridged WKT2 convention), NTv2
  (EPSG:9615) -> +nadgrids.

The writer half (projstring_to_projjson) emits the same subset for
the catalog presets from the WKT2 writer's preset resolver and method
tables; the round-trip test pins parse(write(x)) == x
parameter-exactly.
"""

from __future__ import annotations

import json
import math

from proj_4_spark.sources.wkt2 import (
    Node,
    _inverse_flattening,
    _node_to_projstring,
    _resolve_preset,
    _writer_conversion,
)

_ARCSEC_RAD = math.pi / 180.0 / 3600.0
_DEG_RAD = math.pi / 180.0

# PROJJSON unit strings -> (WKT unit node kind, factor); exact factors
# so the wkt2 converters take their exact degree/arc-second/ppm paths
# (io.cpp getUnit: same five SI-or-common cases)
_UNIT_STRINGS = {
    "metre": ("LENGTHUNIT", 1.0),
    "degree": ("ANGLEUNIT", _DEG_RAD),
    "arc-second": ("ANGLEUNIT", _ARCSEC_RAD),
    "grad": ("ANGLEUNIT", math.pi / 200.0),
    "radian": ("ANGLEUNIT", 1.0),
    "unity": ("SCALEUNIT", 1.0),
    "parts per million": ("SCALEUNIT", 1e-6),
    "kilometre": ("LENGTHUNIT", 1000.0),
    "foot": ("LENGTHUNIT", 0.3048),
    "US survey foot": ("LENGTHUNIT", 1200.0 / 3937.0),
    "year": ("TIMEUNIT", 1.0),
}
# unit object "type" -> WKT unit node kind
_UNIT_TYPES = {"angularunit": "ANGLEUNIT", "linearunit": "LENGTHUNIT",
               "scaleunit": "SCALEUNIT", "timeunit": "TIMEUNIT"}


def _num(v) -> float:
    """A PROJJSON length or scale measure: plain number (SI) or
    {"value": v, "unit": <string or unit object>}."""
    if isinstance(v, dict):
        val = float(v.get("value", 0.0))
        f = _unit_conv(v.get("unit"))
        return val if f is None else val * f
    return float(v)


def _unit_string(u) -> tuple:
    """(WKT unit node kind, factor) of a PROJJSON unit string; a string
    outside _UNIT_STRINGS raises rather than read as the default unit."""
    if u not in _UNIT_STRINGS:
        raise ValueError(f"unsupported unit {u!r}")
    return _UNIT_STRINGS[u]


def _unit_conv(u) -> float | None:
    """Conversion factor of a PROJJSON unit (string or object); None for
    the kind's default (metre / degree / unity) or an object without a
    conversion factor."""
    if isinstance(u, dict):
        f = u.get("conversion_factor")
        return float(f) if f is not None else None
    if u in (None, "metre", "degree", "unity"):
        return None
    return _unit_string(u)[1]


def _units(u) -> list:
    """PROJJSON unit -> [the WKT2 unit Node the wkt2 compiler reads], or
    [] when absent or without a conversion factor."""
    if u is None:
        return []
    if isinstance(u, dict):
        f = _unit_conv(u)
        if f is None:
            return []
        kind = _UNIT_TYPES.get(str(u.get("type", "")).lower(), "UNIT")
        return [Node(kind, [u.get("name", "unknown"), f])]
    kind, f = _unit_string(u)
    return [Node(kind, [u, f])]


def _ids(d: dict) -> list:
    """[ID node] for a PROJJSON object's id (or first of ids), else []."""
    idd = d.get("id")
    if idd is None:
        ids = d.get("ids")
        idd = ids[0] if ids else None
    if not isinstance(idd, dict):
        return []
    return [Node("ID", [str(idd.get("authority", "")),
                        float(idd.get("code", -1))])]


def _ellipsoid_node(e: dict) -> Node:
    name = str(e.get("name", "unknown"))
    if "radius" in e:
        a = _num(e["radius"])
        rf = 0.0
    else:
        a = _num(e["semi_major_axis"])
        if "inverse_flattening" in e:
            rf = _num(e["inverse_flattening"])
        elif "semi_minor_axis" in e:
            rf = _inverse_flattening(a, _num(e["semi_minor_axis"]))
        else:
            rf = 0.0
    return Node("ELLIPSOID", [name, float(a), float(rf)])


def _geog_args(d: dict) -> list:
    """Shared GEOGCRS/BASEGEOGCRS arg list for a GeographicCRS dict."""
    datum = d.get("datum") or d.get("datum_ensemble")
    if datum is None:
        raise ValueError("GeographicCRS without datum/datum_ensemble")
    ell = datum.get("ellipsoid")
    if ell is None:
        raise ValueError("datum without ellipsoid")
    args: list = [str(d.get("name", "unknown")),
                  Node("DATUM", [str(datum.get("name", "unknown")),
                                 _ellipsoid_node(ell)])]
    pm = d.get("prime_meridian")
    if pm is not None:
        # the angle unit rides along as a node, so wkt2._angle_value's
        # exact degree/grad paths apply as they do to WKT2 text
        lon, units = pm.get("longitude", 0.0), []
        if isinstance(lon, dict):
            lon, units = lon.get("value", 0.0), _units(lon.get("unit"))
        args.append(Node("PRIMEM", [str(pm.get("name", "unknown")),
                                    float(lon)] + units))
    # CS/AXIS nodes (axis order + angular unit) — ignored by the CRS
    # compiler but required by the coordinate-operation compiler's
    # normalization steps (wkt2._geog_io_steps)
    cs = d.get("coordinate_system")
    if isinstance(cs, dict):
        axes = cs.get("axis", [])
        args.append(Node("CS", [str(cs.get("subtype", "ellipsoidal")),
                                float(len(axes))]))
        for ax in axes:
            args.append(Node("AXIS", [str(ax.get("name", "")),
                                      str(ax.get("direction", ""))]
                             + _units(ax.get("unit"))))
    return args + _ids(d)


def _operation_args(d: dict, what: str) -> list:
    """[name, METHOD, PARAMETER...] of a PROJJSON conversion or
    transformation (io.cpp:5635 JSONParser::buildTransformation).  A
    string parameter value is a grid file name -> PARAMETERFILE
    (ParameterValue::createFilename); conversions take numbers only."""
    m = d.get("method")
    if m is None:
        raise ValueError(f"{what} without method")
    args: list = [str(d.get("name", "unknown")),
                  Node("METHOD", [str(m.get("name", ""))] + _ids(m))]
    for prm in d.get("parameters", []):
        pname, v = str(prm.get("name", "")), prm.get("value")
        if isinstance(v, str) and what != "conversion":
            args.append(Node("PARAMETERFILE", [pname, v]))
            continue
        if not isinstance(v, (int, float)):
            raise ValueError(f"non-numeric {what} parameter {pname!r}")
        args.append(Node("PARAMETER", [pname, float(v)]
                         + _units(prm.get("unit")) + _ids(prm)))
    return args


def _crs_args(d: dict, what: str) -> list:
    """SOURCECRS/TARGETCRS nodes of a PROJJSON coordinate operation."""
    args = []
    for key, kw in (("source_crs", "SOURCECRS"),
                    ("target_crs", "TARGETCRS")):
        c = d.get(key)
        if c is None:
            raise ValueError(f"{what} without {key}")
        args.append(Node(kw, [_to_node(c)]))
    return args


def _axis_length_unit(d: dict) -> list:
    """[unit node] of the first axis carrying a unit, else []."""
    cs = d.get("coordinate_system") or {}
    for ax in cs.get("axis", []):
        units = _units(ax.get("unit"))
        if units:
            return units
    return []


def _vert_node(d: dict) -> Node:
    args: list = [str(d.get("name", "unknown"))]
    datum = d.get("datum") or d.get("datum_ensemble")
    if datum is not None:
        args.append(Node("VDATUM", [str(datum.get("name", "unknown"))]))
    return Node("VERTCRS", args + _ids(d))


def _to_node(d: dict) -> Node:
    t = str(d.get("type", ""))
    if t in ("GeographicCRS", "GeodeticCRS"):
        return Node("GEOGCRS", _geog_args(d))
    if t == "ProjectedCRS":
        base = d.get("base_crs")
        if base is None:
            raise ValueError("ProjectedCRS without base_crs")
        conv = d.get("conversion")
        if conv is None:
            raise ValueError("ProjectedCRS without conversion")
        return Node("PROJCRS", [str(d.get("name", "unknown")),
                                Node("BASEGEOGCRS", _geog_args(base)),
                                Node("CONVERSION",
                                     _operation_args(conv, "conversion"))]
                    + _axis_length_unit(d) + _ids(d))
    if t == "DerivedProjectedCRS":
        # io.cpp:5494 buildDerivedProjectedCRS (json_import
        # derived_projected_crs, test_io.cpp:12577): base ProjectedCRS +
        # deriving conversion -> the WKT DERIVEDPROJCRS Node shape
        base = d.get("base_crs")
        if base is None or str(base.get("type", "")) != "ProjectedCRS":
            raise ValueError("DerivedProjectedCRS needs a ProjectedCRS "
                             "base_crs")
        conv = d.get("conversion")
        if conv is None:
            raise ValueError("DerivedProjectedCRS without conversion")
        basegeog = base.get("base_crs")
        baseconv = base.get("conversion")
        if basegeog is None or baseconv is None:
            raise ValueError("base ProjectedCRS without base_crs/"
                             "conversion")
        basep = Node("BASEPROJCRS",
                     [str(base.get("name", "unknown")),
                      Node("BASEGEOGCRS", _geog_args(basegeog)),
                      Node("CONVERSION",
                           _operation_args(baseconv, "conversion"))])
        return Node("DERIVEDPROJCRS",
                    [str(d.get("name", "unknown")), basep,
                     Node("DERIVINGCONVERSION",
                          _operation_args(conv, "conversion"))]
                    + _axis_length_unit(d) + _ids(d))
    if t == "CompoundCRS":
        comps = [_to_node(c) for c in d.get("components", [])]
        return Node("COMPOUNDCRS", [str(d.get("name", "unknown"))] + comps)
    if t == "VerticalCRS":
        return _vert_node(d)
    if t == "BoundCRS":
        # io.cpp JSONParser::buildBoundCRS; the transformation carries no
        # CRSs of its own, and the target (WGS 84) is implied by towgs84
        src = d.get("source_crs")
        tr = d.get("transformation")
        if src is None or tr is None:
            raise ValueError("BoundCRS needs source_crs and transformation")
        return Node("BOUNDCRS", [
            Node("SOURCECRS", [_to_node(src)]),
            Node("COORDINATEOPERATION",
                 _operation_args(tr, "BoundCRS transformation"))])
    if t == "Transformation":
        # the WKT COORDINATEOPERATION Node shape, compiled by
        # wkt2._operation_to_projstring
        crs = _crs_args(d, "Transformation")
        return Node("COORDINATEOPERATION",
                    crs + _operation_args(d, "Transformation"))
    if t == "ConcatenatedOperation":
        return Node("CONCATENATEDOPERATION",
                    [str(d.get("name", "unknown"))]
                    + _crs_args(d, "ConcatenatedOperation")
                    + [Node("STEP", [_to_node(s)])
                       for s in d.get("steps", [])])
    if t == "Conversion":
        return Node("CONVERSION", _operation_args(d, "conversion"))
    raise ValueError(f"unsupported PROJJSON type {t!r} (subset: "
                     "GeographicCRS/ProjectedCRS/CompoundCRS/"
                     "VerticalCRS/BoundCRS/Transformation/"
                     "ConcatenatedOperation)")


def projjson_to_projstring(text: str | dict) -> str:
    """Compile a PROJJSON document (string or parsed dict) to a
    proj-string."""
    d = json.loads(text) if isinstance(text, str) else text
    if not isinstance(d, dict):
        raise ValueError("PROJJSON root is not an object")
    return _node_to_projstring(_to_node(d))


# ---------------------------------------------------------------------------
# writer (round-trip half; shares the WKT2 writer's preset resolver and
# method tables)
# ---------------------------------------------------------------------------

def _geog_json(pre, name: str) -> dict:
    if pre.rf == 0.0:
        ell = {"name": pre.ellps, "radius": pre.a}
    else:
        ell = {"name": pre.ellps, "semi_major_axis": pre.a,
               "inverse_flattening": pre.rf}
    out = {
        "type": "GeographicCRS",
        "name": name,
        "datum": {"type": "GeodeticReferenceFrame", "name": "unknown",
                  "ellipsoid": ell},
        "coordinate_system": {
            "subtype": "ellipsoidal",
            "axis": [
                {"name": "Longitude", "abbreviation": "lon",
                 "direction": "east", "unit": "degree"},
                {"name": "Latitude", "abbreviation": "lat",
                 "direction": "north", "unit": "degree"},
            ]},
    }
    if pre.pm:
        out["prime_meridian"] = {"name": str(pre.p.get("pm", "unnamed")),
                                 "longitude": pre.pm}
    return out


def _bound_json(core: dict, pre, name: str) -> dict:
    """Wrap a CRS dict in a BoundCRS when the preset carries datum
    info (+towgs84 / +nadgrids) — the writer must not silently DROP
    the datum shift; the reader converts the wrapper back."""
    if pre.nadgrids:
        tr = {
            "name": name + " to WGS84",
            "method": {"name": "NTv2",
                       "id": {"authority": "EPSG", "code": 9615}},
            "parameters": [
                {"name": "Latitude and longitude difference file",
                 "value": pre.nadgrids,
                 "id": {"authority": "EPSG", "code": 8656}}],
        }
    elif pre.towgs84:
        asec = {"type": "AngularUnit", "name": "arc-second",
                "conversion_factor": _ARCSEC_RAD}
        ppm = {"type": "ScaleUnit", "name": "parts per million",
               "conversion_factor": 1e-06}
        names = ["X-axis translation", "Y-axis translation",
                 "Z-axis translation", "X-axis rotation",
                 "Y-axis rotation", "Z-axis rotation",
                 "Scale difference"]
        units = ["metre", "metre", "metre", asec, asec, asec, ppm]
        params = [{"name": n, "value": v, "unit": u,
                   "id": {"authority": "EPSG", "code": 8605 + i}}
                  for i, (n, v, u) in enumerate(zip(names, pre.towgs84,
                                                    units))]
        # +towgs84 is the position-vector convention by definition
        tr = {
            "name": name + " to WGS84",
            "method": {"name": "Position Vector transformation "
                               "(geog2D domain)",
                       "id": {"authority": "EPSG", "code": 9606}},
            "parameters": params,
        }
    else:
        return core
    return {"type": "BoundCRS", "source_crs": core,
            "target_crs": _geog_json(_resolve_preset("ellps=WGS84"),
                                     "WGS 84"),
            "transformation": tr}


def projstring_to_projjson(projstring: str, name: str = "unnamed") -> dict:
    """PROJJSON dict for a supported projected/geographic proj-string
    preset (the writer half of the round-trip test: parse(write(x))
    must reproduce x's parameters exactly, INCLUDING the datum shift —
    towgs84/nadgrids presets emit a BoundCRS wrapper)."""
    pre = _resolve_preset(projstring)
    if pre.p.get("proj") == "longlat":
        return _bound_json(_geog_json(pre, name), pre, name)
    code, mname, params = _writer_conversion(pre.p, "PROJJSON")
    units = {"A": "degree", "K": "unity", "L": "metre"}
    uname, ufac = pre.unit
    if ufac == 1.0:
        unit_json = "metre"
    else:
        unit_json = {"type": "LinearUnit", "name": uname,
                     "conversion_factor": ufac}
    return _bound_json({
        "type": "ProjectedCRS",
        "name": name,
        "base_crs": _geog_json(pre, name + " base"),
        "conversion": {
            "name": name + " conversion",
            "method": {"name": mname,
                       "id": {"authority": "EPSG", "code": code}},
            "parameters": [
                {"name": pname, "value": v, "unit": units[kind],
                 "id": {"authority": "EPSG", "code": pcode}}
                for pcode, pname, kind, v in params],
        },
        "coordinate_system": {
            "subtype": "Cartesian",
            "axis": [
                {"name": "Easting", "abbreviation": "E",
                 "direction": "east", "unit": unit_json},
                {"name": "Northing", "abbreviation": "N",
                 "direction": "north", "unit": unit_json},
            ]},
    }, pre, name)
