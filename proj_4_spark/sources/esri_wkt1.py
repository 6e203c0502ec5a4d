"""ESRI WKT1 (PROJCS/GEOGCS) text ingestion, shared by the catalog
generator (the esri.sql inline-WKT world family, tools/
gen_epsg_catalog.py) and the runtime WKT1 reader below.

The fragment compiler maps ESRI projection names + PARAMETER lists to
proj kernels; `wkt1_to_projstring` adds GEOGCS (SPHEROID/PRIMEM/
TOWGS84) extraction so classic ArcGIS `.prj` text pastes resolve
without proj.db (WKT1 grammar: the ESRI dialect of OGC 01-009;
reference parser src/iso19111/io.cpp WKTParser, ESRI cases in
test/unit/test_io.cpp wkt1_esri_*)."""

from __future__ import annotations

import re

from proj_4_spark.sources.epsg_methods import fmt
from proj_4_spark.sources.wkt2 import (ellipsoid_fragment,
                                       length_units_fragment)

_ESRI_SIMPLE = {
    # esri projection name -> (proj name, uses lat_ts from SP1)
    "Albers": "aea", "Azimuthal_Equidistant": "aeqd",
    "Equidistant_Conic": "eqdc", "Equal_Earth": "eqearth",
    "Polyconic": "poly", "Sinusoidal": "sinu",
    "Orthographic": "ortho", "Gnomonic": "gnom",
    "Lambert_Azimuthal_Equal_Area": "laea", "Bonne": "bonne",
    "Cassini": "cass", "Robinson": "robin", "Mollweide": "moll",
    "Miller_Cylindrical": "mill", "Gall_Stereographic": "gall",
    "Hammer_Aitoff": "hammer", "Aitoff": "aitoff",
    "Winkel_I": "wink1", "Winkel_II": "wink2",
    "Winkel_Tripel": "wintri", "Wagner_IV": "wag4",
    "Wagner_V": "wag5", "Wagner_VII": "wag7",
    "Eckert_I": "eck1", "Eckert_II": "eck2", "Eckert_III": "eck3",
    "Eckert_IV": "eck4", "Eckert_V": "eck5", "Eckert_VI": "eck6",
    "Craster_Parabolic": "crast", "Quartic_Authalic": "qua_aut",
    "Flat_Polar_Quartic": "mbtfpq", "Loximuthal": "loxim",
    "Natural_Earth": "natearth", "Natural_Earth_II": "natearth2",
    "Patterson": "patterson", "Times": "times",
    "Compact_Miller": "comill", "Van_der_Grinten_I": "vandg",
    "Goode_Homolosine": "goode", "Plate_Carree": "eqc",
    "Equidistant_Cylindrical": "eqc", "Behrmann": "cea",
    "Cylindrical_Equal_Area": "cea",
}


def esri_wkt_fragment(wkt: str) -> tuple | None:
    """(projection fragment, units fragment) from an inline ESRI
    PROJCS WKT, or None if the projection has no kernel mapping."""
    mproj = re.search(r'PROJECTION\["([A-Za-z_0-9]+)"\]', wkt)
    if not mproj:
        return None
    name = mproj.group(1)
    prm = {m.group(1): float(m.group(2)) for m in re.finditer(
        r'PARAMETER\["([A-Za-z_0-9]+)",(-?[0-9.eE+]+)\]', wkt)}
    units = re.findall(r'UNIT\["([^"]+)",([0-9.eE+-]+)', wkt)
    ufac = float(units[-1][1]) if units else 1.0
    unitf = length_units_fragment(ufac)

    def g(k, d=0.0):
        return prm.get(k, d)

    x0, y0 = g("False_Easting") * ufac, g("False_Northing") * ufac
    lon0 = g("Central_Meridian")
    tail = f"x_0={fmt(x0)} y_0={fmt(y0)}"
    if name in _ESRI_SIMPLE:
        pn = _ESRI_SIMPLE[name]
        parts = [f"proj={pn}"]
        if name == "Albers":
            parts.append(f"lat_1={fmt(g('Standard_Parallel_1'))} "
                         f"lat_2={fmt(g('Standard_Parallel_2'))} "
                         f"lat_0={fmt(g('Latitude_Of_Origin'))}")
        elif name == "Equidistant_Conic":
            parts.append(f"lat_1={fmt(g('Standard_Parallel_1'))} "
                         f"lat_2={fmt(g('Standard_Parallel_2'))} "
                         f"lat_0={fmt(g('Latitude_Of_Origin'))}")
        elif name in ("Equidistant_Cylindrical", "Plate_Carree",
                      "Behrmann", "Cylindrical_Equal_Area",
                      "Mercator"):
            ts = 30.0 if name == "Behrmann" else g("Standard_Parallel_1")
            parts.append(f"lat_ts={fmt(ts)}")
        elif name in ("Azimuthal_Equidistant", "Orthographic",
                      "Gnomonic", "Lambert_Azimuthal_Equal_Area",
                      "Polyconic", "Cassini"):
            parts.append(f"lat_0={fmt(g('Latitude_Of_Origin'))}")
        elif name == "Bonne":
            parts.append(f"lat_1={fmt(g('Standard_Parallel_1'))}")
        elif name in ("Winkel_I", "Winkel_II", "Winkel_Tripel",
                      "Loximuthal"):
            parts.append(f"lat_1={fmt(g('Standard_Parallel_1', g('Central_Parallel')))}")
        return (" ".join(parts + [f"lon_0={fmt(lon0)}", tail]), unitf)
    if name == "Mercator":
        return (f"proj=merc lat_ts={fmt(g('Standard_Parallel_1'))} "
                f"lon_0={fmt(lon0)} {tail}", unitf)
    if name == "Mercator_Auxiliary_Sphere":
        if g("Auxiliary_Sphere_Type") != 0.0:
            return None
        return (f"proj=webmerc lon_0={fmt(lon0)} {tail}", unitf)
    if name == "Stereographic":
        return (f"proj=stere lat_0={fmt(g('Latitude_Of_Origin'))} "
                f"lon_0={fmt(lon0)} k={fmt(g('Scale_Factor', 1.0))} "
                f"{tail}", unitf)
    if name in ("Stereographic_North_Pole", "Stereographic_South_Pole"):
        pole = 90.0 if name.endswith("North_Pole") else -90.0
        return (f"proj=stere lat_0={fmt(pole)} "
                f"lat_ts={fmt(g('Standard_Parallel_1', pole))} "
                f"lon_0={fmt(lon0)} {tail}", unitf)
    if name == "Transverse_Mercator_Complex":
        return (f"proj=etmerc lat_0={fmt(g('Latitude_Of_Origin'))} "
                f"lon_0={fmt(lon0)} k={fmt(g('Scale_Factor', 1.0))} "
                f"{tail}", unitf)
    if name == "IGAC_Plano_Cartesiano":  # Colombia Urban
        return (f"proj=col_urban "
                f"lat_0={fmt(g('Latitude_Of_Center'))} "
                f"lon_0={fmt(g('Longitude_Of_Center'))} "
                f"h_0={fmt(g('Height'))} {tail}", unitf)
    if name == "Rectified_Skew_Orthomorphic_Natural_Origin":
        return (f"proj=omerc lat_0={fmt(g('Latitude_Of_Center'))} "
                f"lonc={fmt(g('Longitude_Of_Center'))} "
                f"alpha={fmt(g('Azimuth'))} "
                f"gamma={fmt(g('XY_Plane_Rotation', g('Azimuth')))} "
                f"k={fmt(g('Scale_Factor', 1.0))} {tail} no_uoff",
                unitf)
    if name == "Vertical_Near_Side_Perspective":
        return (f"proj=nsper lat_0={fmt(g('Latitude_Of_Center'))} "
                f"lon_0={fmt(g('Longitude_Of_Center', lon0))} "
                f"h={fmt(g('Height'))} {tail}", unitf)
    if name == "Geostationary_Satellite":
        return (f"proj=geos lon_0={fmt(lon0)} h={fmt(g('Height'))} "
                f"{tail}", unitf)
    return None


def _wkt1_base_fragments(text: str) -> list[str]:
    m = re.search(
        r'SPHEROID\["([^"]*)"\s*,\s*([0-9.eE+-]+)\s*,\s*([0-9.eE+-]+)',
        text)
    if not m:
        raise ValueError("WKT1 without SPHEROID")
    frags = [ellipsoid_fragment(float(m.group(2)), float(m.group(3)))]
    mt = re.search(r'TOWGS84\[([^\]]*)\]', text)
    if mt:
        vals = [float(v) for v in mt.group(1).split(",")]
        frags.append("towgs84=" + ",".join(fmt(v) for v in vals))
    mp = re.search(r'PRIMEM\["([^"]*)"\s*,\s*(-?[0-9.eE+]+)', text)
    if mp and float(mp.group(2)) != 0.0:
        frags.append(f"pm={fmt(float(mp.group(2)))}")
    return frags


def wkt1_to_projstring(text: str) -> str:
    """Compile a WKT1 PROJCS/GEOGCS string (ESRI dialect) to a
    proj-string."""
    head = text.lstrip()[:12].upper()
    if head.startswith("GEOGCS"):
        return " ".join(["proj=longlat"] + _wkt1_base_fragments(text)
                        + ["no_defs"])
    if not head.startswith("PROJCS"):
        raise ValueError("unsupported WKT1 root (subset: PROJCS/GEOGCS)")
    got = esri_wkt_fragment(text)
    if got is None:
        m = re.search(r'PROJECTION\["([A-Za-z_0-9]+)"\]', text)
        raise ValueError(
            f"unsupported WKT1 projection {m.group(1) if m else None!r}")
    frag, unitf = got
    return " ".join([frag] + _wkt1_base_fragments(text) + [unitf,
                                                           "no_defs"])
