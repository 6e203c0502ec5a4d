"""ESRI WKT1 (.prj) text ingestion: the runtime reader shares the
generator's fragment compiler, so classic ArcGIS PROJCS/GEOGCS pastes
resolve to the same proj-strings as the compiled ESRI registry."""

import numpy as np
import pytest

from proj_4_spark.engine.plan import DATUMS
from proj_4_spark.kernels.ellipsoid import ELLPS_TABLE
from proj_4_spark.sources.esri_wkt1 import wkt1_to_projstring
from proj_4_spark.sources.wkt2 import _parse_projstring_tokens


def _erf(e):
    if "rf" in e:
        return e["rf"]
    b = e["b"]
    return 0.0 if b == e["a"] else e["a"] / (e["a"] - b)


def _norm(ps):
    p = _parse_projstring_tokens(ps)
    if "datum" in p:
        p.setdefault("ellps", DATUMS[p["datum"]]["ellps"])
    out = {}
    for k, v in p.items():
        if k in ("towgs84", "datum", "nadgrids", "no_defs"):
            continue
        try:
            out[k] = float(v)
        except ValueError:
            out[k] = v
    if "ellps" in out:
        e = ELLPS_TABLE[out.pop("ellps")]
        out["a"] = e["a"]
        out["rf"] = _erf(e)
    elif "b" in out and "rf" not in out:
        a, b = out["a"], out.pop("b")
        out["rf"] = 0.0 if b == a else a / (a - b)
    if out.get("units") == "m":
        out.pop("units")
    return out


def _close(a, b):
    if a.keys() != b.keys():
        return False
    for k in a:
        va, vb = a[k], b[k]
        if isinstance(va, float) and isinstance(vb, float):
            # the esri.sql WKT text truncates a handful of Clarke-1866
            # 1/f literals (294.9786982 vs 294.9786982138982) — the
            # reader reproduces the TEXT faithfully, so compare rf at
            # the text's precision
            tol = 1e-9 * max(1.0, abs(vb)) if k == "rf" else 0.0
            if abs(va - vb) > tol:
                return False
        elif va != vb:
            return False
    return True


def test_wkt1_matches_compiled_esri_registry():
    """Every inline-WKT ESRI projected CRS in the reference's esri.sql
    parses through the runtime reader to the registry's compiled
    preset (the 53xxx/54xxx/102xxx world family: >=200 codes across
    ~30 projection methods)."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from gen_epsg_catalog import parse_sql_file

    from proj_4_spark.sources.epsg_generated import ESRI_PRESETS

    ok = 0
    for table, vals, _raw in parse_sql_file(
            "/root/reference/data/sql/esri.sql"):
        if table != "projected_crs":
            continue
        if not (isinstance(vals[10], str) and "PROJCS" in vals[10]):
            continue
        code = int(vals[1]) if str(vals[1]).isdigit() else None
        if code is None or code not in ESRI_PRESETS:
            continue
        got = wkt1_to_projstring(vals[10])
        assert _close(_norm(got), _norm(ESRI_PRESETS[code])), (
            code, got, ESRI_PRESETS[code])
        ok += 1
    assert ok >= 200, ok


def test_wkt1_geogcs_with_towgs84():
    wkt = ('GEOGCS["DHDN",DATUM["Deutsches_Hauptdreiecksnetz",'
           'SPHEROID["Bessel 1841",6377397.155,299.1528128],'
           'TOWGS84[598.1,73.7,418.2,0.202,0.045,-2.455,6.7]],'
           'PRIMEM["Greenwich",0],'
           'UNIT["degree",0.0174532925199433]]')
    got = wkt1_to_projstring(wkt)
    assert got == ("proj=longlat ellps=bessel "
                   "towgs84=598.1,73.7,418.2,0.202,0.045,-2.455,6.7 "
                   "no_defs")
    # the built operation datum-shifts (cs2cs emulation wires the
    # towgs84 hub leg)
    from proj_4_spark.engine.plan import create_operation

    op = create_operation("+" + got.replace(" ", " +"))
    assert op.P.helmert is not None or op.P.cart is not None


def test_wkt1_b_defined_ellipsoid_matches_registry():
    """Clarke 1866 is b-defined in the registry; its 15-digit 1/f text
    resolves to the named ellipsoid through the same matcher as the
    WKT2 reader, not to a=/rf= literals."""
    from proj_4_spark.sources.wkt2 import wkt2_to_projstring

    wkt1 = ('GEOGCS["GCS_North_American_1927",'
            'DATUM["D_North_American_1927",'
            'SPHEROID["Clarke_1866",6378206.4,294.978698213898]],'
            'PRIMEM["Greenwich",0.0],'
            'UNIT["Degree",0.0174532925199433]]')
    wkt2 = ('GEOGCRS["NAD27",DATUM["North American Datum 1927",'
            'ELLIPSOID["Clarke 1866",6378206.4,294.978698213898,'
            'LENGTHUNIT["metre",1]]],'
            'ANGLEUNIT["degree",0.0174532925199433]]')
    assert wkt1_to_projstring(wkt1) == "proj=longlat ellps=clrk66 no_defs"
    assert wkt2_to_projstring(wkt2) == wkt1_to_projstring(wkt1)


def test_wkt1_projcs_paste():
    wkt = ('PROJCS["World_Robinson",GEOGCS["GCS_WGS_1984",'
           'DATUM["D_WGS_1984",SPHEROID["WGS_1984",6378137.0,'
           '298.257223563]],PRIMEM["Greenwich",0.0],'
           'UNIT["Degree",0.0174532925199433]],'
           'PROJECTION["Robinson"],'
           'PARAMETER["False_Easting",0.0],'
           'PARAMETER["False_Northing",0.0],'
           'PARAMETER["Central_Meridian",0.0],'
           'UNIT["Meter",1.0]]')
    got = wkt1_to_projstring(wkt)
    assert got == ("proj=robin lon_0=0 x_0=0 y_0=0 ellps=WGS84 "
                   "units=m no_defs")
    from proj_4_spark.engine.plan import create_operation

    D = np.pi / 180.0
    op = create_operation("+" + got.replace(" ", " +"))
    x, y, _, _ = op.apply(np.array([10.0 * D]), np.array([45.0 * D]),
                          np.zeros(1), np.zeros(1))
    assert 750000 < x[0] < 900000 and 4.7e6 < y[0] < 4.9e6


def test_wkt1_and_wkt2_share_the_length_unit_rule():
    """One CRS in a US-foot factor that is 2.2e-13 off 1200/3937 reads
    as the same proj-string from WKT1 and WKT2: both readers name a
    length unit within 1e-12 of ft or us-ft."""
    from proj_4_spark.sources.wkt2 import wkt2_to_projstring

    fac = "0.304800609601"
    wkt1 = ('PROJCS["Mercator_ft",GEOGCS["GCS_WGS_1984",'
            'DATUM["D_WGS_1984",SPHEROID["WGS_1984",6378137.0,'
            '298.257223563]],PRIMEM["Greenwich",0.0],'
            'UNIT["Degree",0.0174532925199433]],'
            'PROJECTION["Mercator"],PARAMETER["False_Easting",0.0],'
            'PARAMETER["False_Northing",0.0],'
            'PARAMETER["Central_Meridian",0.0],'
            'PARAMETER["Standard_Parallel_1",10.0],'
            f'UNIT["Foot_US",{fac}]]')
    wkt2 = ('PROJCRS["Mercator_ft",BASEGEOGCRS["WGS 84",'
            'DATUM["World Geodetic System 1984",'
            'ELLIPSOID["WGS 84",6378137,298.257223563]],'
            'UNIT["degree",0.0174532925199433]],'
            'CONVERSION["Mercator",'
            'METHOD["Mercator (variant B)",ID["EPSG",9805]],'
            'PARAMETER["Latitude of 1st standard parallel",10],'
            'PARAMETER["Longitude of natural origin",0],'
            'PARAMETER["False easting",0],PARAMETER["False northing",0]],'
            'CS[Cartesian,2],AXIS["(E)",east],AXIS["(N)",north],'
            f'LENGTHUNIT["US survey foot",{fac}]]')
    assert wkt2_to_projstring(wkt2) == wkt1_to_projstring(wkt1) == (
        "proj=merc lat_ts=10 lon_0=0 x_0=0 y_0=0 ellps=WGS84 units=us-ft "
        "no_defs")


def test_wkt1_errors():
    with pytest.raises(ValueError):
        wkt1_to_projstring('PROJCS["x",GEOGCS["g",DATUM["d",'
                           'SPHEROID["s",6378137,298.25]]],'
                           'PROJECTION["Space_Oblique_Mercator"]]')
    with pytest.raises(ValueError):
        wkt1_to_projstring('GEOGCRS["not wkt1"]')
