"""`+init=FILE:KEY` preset resolution.

Two layers, mirroring the reference:

1. Init FILES (pj_init semantics, src/init.cpp): `+init=nad27:3901` reads
   the `<3901> ... <>` section of the `nad27` file shipped in the
   reference data directory.  Sections are whitespace-separated
   proj-string fragments; expanded params have LOWER precedence than
   explicit ones (init.cpp appends them to the paralist, and lookup is
   first-wins).

2. A minimal built-in `epsg:` catalog.  The reference resolves
   `+init=epsg:XXXX` through its SQLite CRS database; the database layer
   is out of scope here (SURVEY.md §7.7), so the well-known formulaic
   families (WGS84/NAD83/ETRS89 UTM zones, web mercator, geographic) are
   synthesized directly.  Anything else stays `unsupported`.
"""

from __future__ import annotations

import os
import re
from functools import lru_cache

INIT_SEARCH_PATHS = [
    "/root/reference/data",
]

_KNOWN_INIT_FILES = {
    "nad27", "nad83", "world", "other.extra", "GL27", "CH",
    "ITRF2000", "ITRF2008", "ITRF2014",
}


@lru_cache(maxsize=64)
def _read_init_file(name: str) -> dict[str, str]:
    """Parse an init file into {key: projstring-fragment}."""
    path = None
    for d in INIT_SEARCH_PATHS:
        cand = os.path.join(d, name)
        if os.path.exists(cand):
            path = cand
            break
    if path is None:
        raise FileNotFoundError(name)
    text = open(path, encoding="utf-8", errors="replace").read()
    # strip comments
    text = re.sub(r"#.*", "", text)
    # the <metadata> header line has no <> terminator (src/init.cpp
    # treats it specially); drop it so it can't swallow the next section
    text = re.sub(r"<metadata>[^\n]*", "", text)
    out: dict[str, str] = {}
    for m in re.finditer(r"<([^<>\s]+)>(.*?)<>", text, flags=re.S):
        out[m.group(1)] = " ".join(m.group(2).split())
    return out


# Static preset table for the non-formulaic EPSG codes the GIGS suite
# (and common usage) needs.  Values are the public EPSG dataset
# definitions, transcribed from the reference's data/sql/conversion.sql +
# geodetic_crs.sql rows and rendered the way `+init=epsg:` expanded under
# classic proj.4 init rules (use_proj4_init_rules): sexagesimal-DMS
# (EPSG uom 9110, DDD.MMSSsss) converted to decimal degrees, foot-based
# false origins (uom 9002/9003) converted to metres with +units kept.
#
# towgs84 values are carried for documentation fidelity with the classic
# epsg init file; raw pipeline steps never apply them (pj_fwd semantics).
_EPSG_PRESETS: dict[int, str] = {
    # --- geographic CRSs ---
    # GDA94 (data/sql/geodetic_crs.sql '4283': GRS80)
    4283: "proj=longlat ellps=GRS80 towgs84=0,0,0,0,0,0,0 no_defs",
    # NAD83(HARN)
    4152: "proj=longlat ellps=GRS80 towgs84=0,0,0,0,0,0,0 no_defs",
    # WGS 84 geocentric (test/gigs/5201.gie header)
    4978: "proj=geocent datum=WGS84 units=m no_defs",
    # NTF (Paris) — a/b = Clarke 1880 (IGN); test/gigs/5208.gie header
    4807: ("proj=longlat a=6378249.2 b=6356515 "
           "towgs84=-168,-60,320,0,0,0,0 pm=paris no_defs"),
    # NTF
    4275: ("proj=longlat a=6378249.2 b=6356515 "
           "towgs84=-168,-60,320,0,0,0,0 no_defs"),
    # GDM2000
    4742: "proj=longlat ellps=GRS80 no_defs",
    # SIRGAS 2000
    4674: "proj=longlat ellps=GRS80 towgs84=0,0,0,0,0,0,0 no_defs",
    # Reseau National Belge 1972
    4313: ("proj=longlat ellps=intl towgs84=-106.8686,52.2978,-103.7239,"
           "0.3366,-0.457,1.8422,-1.2747 no_defs"),
    # Amersfoort
    4289: ("proj=longlat ellps=bessel towgs84=565.417,50.3319,465.552,"
           "-0.398957,0.343988,-1.8774,4.0725 no_defs"),
    # Pulkovo 1942
    4284: ("proj=longlat ellps=krass towgs84=23.92,-141.27,-80.9,"
           "0,0.35,0.82,-0.12 no_defs"),
    # HD72 (Hungarian Datum 1972, GRS67 ellipsoid)
    4237: "proj=longlat ellps=GRS67 towgs84=52.17,-71.82,-14.9,0,0,0,0 no_defs",
    # ED50
    4230: "proj=longlat ellps=intl towgs84=-87,-98,-121,0,0,0,0 no_defs",
    # Batavia (test/gigs/5111.1.gie header)
    4211: "proj=longlat ellps=bessel towgs84=-377,681,-50,0,0,0,0 no_defs",
    # POSGAR 98
    4190: "proj=longlat ellps=GRS80 towgs84=0,0,0,0,0,0,0 no_defs",
    # Hartebeesthoek94 (WGS84 ellipsoid)
    4148: "proj=longlat ellps=WGS84 towgs84=0,0,0,0,0,0,0 no_defs",
    # ETRS89
    4258: "proj=longlat ellps=GRS80 towgs84=0,0,0,0,0,0,0 no_defs",
    # NAD27 (datum expands to the clrk66 + @conus,... grid chain)
    4267: "proj=longlat datum=NAD27 no_defs",
    # NAD83
    4269: "proj=longlat ellps=GRS80 towgs84=0,0,0,0,0,0,0 no_defs",
    # RGF93
    4171: "proj=longlat ellps=GRS80 towgs84=0,0,0,0,0,0,0 no_defs",
    # OSGB 1936
    4277: "proj=longlat datum=OSGB36 no_defs",
    # --- projected CRSs (conversion.sql rows cited per entry) ---
    # RGF93 / Lambert-93 (conversion 18085; 46.3 DMS = 46.5 deg)
    2154: ("proj=lcc lat_1=49 lat_2=44 lat_0=46.5 lon_0=3 x_0=700000 "
           "y_0=6600000 ellps=GRS80 towgs84=0,0,0,0,0,0,0 units=m no_defs"),
    # ETRS89-extended / LAEA Europe (conversion 19986)
    3035: ("proj=laea lat_0=52 lon_0=10 x_0=4321000 y_0=3210000 "
           "ellps=GRS80 towgs84=0,0,0,0,0,0,0 units=m no_defs"),
    # WGS 84 / NSIDC Sea Ice Polar Stereographic North (conversion 19865)
    3413: ("proj=stere lat_0=90 lat_ts=70 lon_0=-45 x_0=0 y_0=0 "
           "datum=WGS84 units=m no_defs"),
    # WGS 84 / Antarctic Polar Stereographic (conversion 19992)
    3031: ("proj=stere lat_0=-90 lat_ts=-71 lon_0=0 x_0=0 y_0=0 "
           "datum=WGS84 units=m no_defs"),
    # NAD83 / Conus Albers (conversion 5068; 29.3/45.3 DMS = 29.5/45.5)
    5070: ("proj=aea lat_1=29.5 lat_2=45.5 lat_0=23 lon_0=-96 x_0=0 y_0=0 "
           "ellps=GRS80 towgs84=0,0,0,0,0,0,0 units=m no_defs"),
    # OSGB 1936 / British National Grid (conversion 19916)
    27700: ("proj=tmerc lat_0=49 lon_0=-2 k=0.9996012717 x_0=400000 "
            "y_0=-100000 datum=OSGB36 units=m no_defs"),
    # CH1903 / LV03 — Swiss Oblique Mercator 1903M (conversion 19922;
    # 46.570866 DMS = 46.95240555555556, 7.26225 DMS = 7.439583333333333)
    21781: ("proj=somerc lat_0=46.95240555555556 lon_0=7.439583333333333 "
            "k_0=1 x_0=600000 y_0=200000 ellps=bessel "
            "towgs84=674.374,15.056,405.346,0,0,0,0 units=m no_defs"),
    # CH1903+ / LV95 — Swiss Oblique Mercator 1995 (conversion 19950)
    2056: ("proj=somerc lat_0=46.95240555555556 lon_0=7.439583333333333 "
           "k_0=1 x_0=2600000 y_0=1200000 ellps=bessel "
           "towgs84=674.374,15.056,405.346,0,0,0,0 units=m no_defs"),
    # ETRS89 / Poland CS92 (conversion 18300)
    2180: ("proj=tmerc lat_0=0 lon_0=19 k=0.9993 x_0=500000 y_0=-5300000 "
           "ellps=GRS80 towgs84=0,0,0,0,0,0,0 units=m no_defs"),
    # Hartebeesthoek94 / Lo21 — TM South Orientated (conversion 17521)
    2049: ("proj=tmerc lat_0=0 lon_0=21 k=1 x_0=0 y_0=0 axis=wsu "
           "ellps=WGS84 towgs84=0,0,0,0,0,0,0 units=m no_defs"),
    # ED50 / France EuroLambert — LCC 1SP (conversion 18086;
    # 46.48 DMS = 46.8 deg, 2.2014025 DMS = 2.337229166666667 deg)
    2192: ("proj=lcc lat_1=46.8 lat_0=46.8 lon_0=2.337229166666667 "
           "k_0=0.99987742 x_0=600000 y_0=2200000 ellps=intl "
           "towgs84=-87,-98,-121,0,0,0,0 units=m no_defs"),
    # NAD83(HARN) / Utah North (ft) — LCC 2SP (conversion 15362; DMS
    # 40.2/41.47/40.43/-111.3 -> deg; false origin intl ft -> m)
    2921: ("proj=lcc lat_1=41.78333333333333 lat_2=40.71666666666667 "
           "lat_0=40.33333333333333 lon_0=-111.5 x_0=500000.0001504 "
           "y_0=999999.999996 ellps=GRS80 towgs84=0,0,0,0,0,0,0 "
           "units=ft no_defs"),
    # Batavia / NEIEZ — Mercator variant A (test/gigs/5111.1.gie header)
    3001: ("proj=merc lon_0=110 k=0.997 x_0=3900000 y_0=900000 "
           "ellps=bessel towgs84=-377,681,-50,0,0,0,0 units=m no_defs"),
    # GDM2000 / East Malaysia BRSO — HOM variant A (conversion 19894;
    # alpha 53.185691582 DMS = 53.31580995 deg,
    # gamma 53.07483685 DMS = 53.13010236111111 deg)
    3376: ("proj=omerc lat_0=4 lonc=115 alpha=53.31580995 "
           "gamma=53.13010236111111 k=0.99984 x_0=0 y_0=0 no_uoff "
           "ellps=GRS80 units=m no_defs"),
    # Pulkovo 1942 / Caspian Sea Mercator — variant B (conversion 19884)
    3388: ("proj=merc lon_0=51 lat_ts=42 x_0=0 y_0=0 ellps=krass "
           "towgs84=23.92,-141.27,-80.9,0,0.35,0.82,-0.12 units=m no_defs"),
    # NAD83(HARN) / Utah North (ftUS) — LCC 2SP (conversion 15297;
    # false origin ftUS -> m via 1200/3937)
    3568: ("proj=lcc lat_1=41.78333333333333 lat_2=40.71666666666667 "
           "lat_0=40.33333333333333 lon_0=-111.5 x_0=500000.00001016 "
           "y_0=999999.99998984 ellps=GRS80 towgs84=0,0,0,0,0,0,0 "
           "units=us-ft no_defs"),
    # GDA94 / Australian Albers (conversion 17365)
    3577: ("proj=aea lat_1=-18 lat_2=-36 lat_0=0 lon_0=132 x_0=0 y_0=0 "
           "ellps=GRS80 towgs84=0,0,0,0,0,0,0 units=m no_defs"),
    # HD72 / EOV — HOM variant B alpha=gamma=90 = Swiss oblique Mercator
    # (conversion 19931; 47.08398174 DMS = 47.14439372222222 deg,
    # 19.02548584 DMS = 19.04857177777778 deg)
    23700: ("proj=somerc lat_0=47.14439372222222 lon_0=19.04857177777778 "
            "k_0=0.99993 x_0=650000 y_0=200000 ellps=GRS67 "
            "towgs84=52.17,-71.82,-14.9,0,0,0,0 units=m no_defs"),
    # MGI / Austria M28 — TM (conversion 18044; 10.2 DMS = 10d20' =
    # 10.33333333333333 deg).  towgs84 = EPSG:1618 "MGI to WGS 84 (3)"
    # (helmert_transformation.sql; matches the reference cs2cs #207
    # golden to <0.3 mm)
    31284: ("proj=tmerc lat_0=0 lon_0=10.33333333333333 k=1 x_0=150000 "
            "y_0=0 ellps=bessel towgs84=577.326,90.129,463.919,5.137,"
            "1.474,5.297,2.4232 units=m no_defs"),
    # GDA94 / MGA zone 54 (conversion 17354 = UTM 54S on GRS80)
    28354: ("proj=utm zone=54 south ellps=GRS80 towgs84=0,0,0,0,0,0,0 "
            "units=m no_defs"),
    # Amersfoort / RD New — Oblique Stereographic (conversion 19914;
    # 52.0922178 DMS = 52.15616055555555, 5.23155 DMS = 5.38763888888889)
    28992: ("proj=sterea lat_0=52.15616055555555 lon_0=5.38763888888889 "
            "k=0.9999079 x_0=155000 y_0=463000 ellps=bessel "
            "towgs84=565.417,50.3319,465.552,-0.398957,0.343988,"
            "-1.8774,4.0725 units=m no_defs"),
    # Belge 1972 / Belgian Lambert 72 — LCC 2SP (conversion 19961; DMS
    # 4.2202952 = 4.367486666666666, 51.100000204 = 51.16666723333333,
    # 49.500000204 = 49.8333339)
    31370: ("proj=lcc lat_1=51.16666723333333 lat_2=49.8333339 lat_0=90 "
            "lon_0=4.367486666666666 x_0=150000.013 y_0=5400088.438 "
            "ellps=intl towgs84=-106.8686,52.2978,-103.7239,0.3366,"
            "-0.457,1.8422,-1.2747 units=m no_defs"),
}


# IGNF registry presets (authority `+init=IGNF:KEY`): the reference
# resolves these through data/sql/ignf.sql (proj.db); the 8 codes the
# testIGNF CLI suite uses are transcribed here from those rows (grads ->
# degrees for LAMBE; the NTF legs ride the ntf_r93.gsb grid, matching
# the classic IGNF init file's nadgrids entries).
_IGNF_PRESETS: dict[str, str] = {
    # NTF geographiques Greenwich (ignf.sql NTFG + NTFG_TO_RGF93G NTv2)
    "NTFG": ("proj=longlat nadgrids=ntf_r93.gsb,null a=6378249.2 "
             "rf=293.466021 units=m no_defs"),
    # RGF93 geographiques
    "RGF93G": ("proj=longlat towgs84=0,0,0 a=6378137 "
               "rf=298.257222101 units=m no_defs"),
    # NTF Lambert II etendu (conversion PRC012013: LCC 1SP, lat_0=52
    # grads = 46.8 deg, Paris meridian via NTFPGRAD)
    "LAMBE": ("proj=lcc nadgrids=ntf_r93.gsb,null a=6378249.2 "
              "rf=293.466021 pm=2.337229167 lat_0=46.8 lon_0=0 "
              "k_0=0.99987742 lat_1=46.8 x_0=600000 y_0=2200000 "
              "units=m no_defs"),
    # RGF93 Lambert 93 (conversion PRC014052: LCC 2SP)
    "LAMB93": ("proj=lcc towgs84=0,0,0 a=6378137 rf=298.257222101 "
               "lat_0=46.5 lon_0=3 lat_1=44 lat_2=49 x_0=700000 "
               "y_0=6600000 units=m no_defs"),
    # France metropolitaine projection Geoportail (PRC9802423: eqc)
    "GEOPORTALFXX": ("proj=eqc towgs84=0,0,0 a=6378137 "
                     "rf=298.257222101 lat_0=0 lon_0=0 lat_ts=46.5 "
                     "x_0=0 y_0=0 units=m no_defs"),
    # WGS84 projection Miller Geoportail (PRC7001567: bare PROJ mill)
    "MILLER": ("proj=mill towgs84=0,0,0 a=6378137 rf=298.257222101 "
               "lon_0=0 x_0=0 y_0=0 units=m no_defs"),
    # Reunion Piton des Neiges 1949 cartesiennes (geocentric;
    # TSG601 position-vector 7-param to RGR92; intl ellipsoid)
    "REUN47": ("proj=geocent towgs84=789.524,-626.486,-89.904,"
               "0.6006,76.7946,-10.5788,-32.3241 a=6378388 rf=297 "
               "units=m no_defs"),
    # RGR92 cartesiennes geocentriques
    "RGR92": ("proj=geocent towgs84=0,0,0 a=6378137 "
              "rf=298.257222101 units=m no_defs"),
}


def vertical_fragment(vert_code) -> str:
    """+geoidgrids/+vunits/+axis fragment for a vertical CRS code from
    the generated catalog (VERT_PRESETS, compiled from the reference's
    vertical_crs.sql + Geographic3D->GravityRelatedHeight rows of
    grid_transformation.sql).  Installed geoid grids are preferred
    (comma-joined, area routing happens at lookup time inside
    vgridshift); when none of the models is installed the most-precise
    candidate's name is emitted anyway — grid load then fails exactly
    like the reference without the datumgrid package."""
    from proj_4_spark.sources.epsg_generated import VERT_PRESETS
    from proj_4_spark.sources.grids import resolve_grid_path

    name, axfrag, cands = VERT_PRESETS[vert_code]
    installed = []
    for _src, grid, _acc, _bb in cands:
        try:
            resolve_grid_path(grid)
            installed.append(grid)
        except FileNotFoundError:
            continue
    parts = []
    if installed:
        parts.append("geoidgrids=" + ",".join(dict.fromkeys(installed)))
    elif cands:
        parts.append(f"geoidgrids={cands[0][1]}")
    if axfrag:
        parts.append(axfrag)
    return " ".join(parts)


def splice_fragment(frag: str, extra: str) -> str:
    """Add ``extra`` to a proj-string fragment, before a trailing
    ``no_defs`` (vertical fragments, +towgs84/+nadgrids)."""
    if not extra:
        return frag
    if frag.endswith(" no_defs"):
        return frag[: -len(" no_defs")] + f" {extra} no_defs"
    return f"{frag} {extra}"


def _compound_expand(horiz_code: int, vert_code: int) -> str:
    frag = _epsg_builtin(horiz_code)
    if frag is None:
        raise LookupError(f"epsg:{horiz_code} not in built-in catalog")
    return splice_fragment(frag, vertical_fragment(vert_code))


def _vertical_or_compound_builtin(code: int) -> str | None:
    """Resolve a compound CRS code (horizontal preset + vertical
    fragment) or a bare vertical CRS code (the geoid model's source
    geographic-3D CRS supplies the horizontal frame — for EGM-family
    models that is WGS 84 (EPSG:4979), matching what cs2cs produces for
    'EPSG:4979+<vert>')."""
    from proj_4_spark.sources.epsg_generated import (
        COMPOUND_PRESETS, VERT_PRESETS)

    comp = COMPOUND_PRESETS.get(code)
    if comp is not None:
        _name, horiz, vert = comp
        return _compound_expand(horiz, vert)
    vert = VERT_PRESETS.get(code)
    if vert is not None:
        _name, _axfrag, cands = vert
        horiz_code = cands[0][0] if cands else 4979
        horiz = _epsg_builtin(horiz_code) if isinstance(horiz_code, int) \
            else None
        if horiz is None:
            horiz = "proj=longlat datum=WGS84 no_defs"
        return splice_fragment(horiz, vertical_fragment(code))
    return None


def _epsg_builtin(code: int) -> str | None:
    """EPSG preset resolution, in precedence order:

    1. the hand-verified presets above (each matches a reference golden
       — CLI outputs / GIGS expected values built on the classic init
       towgs84 selections);
    2. formulaic families (UTM zone arithmetic);
    3. the GENERATED catalog compiled from the reference's public EPSG
       SQL dataset by tools/gen_epsg_catalog.py (~5600 codes) — same
       definitions, but its towgs84 pick follows a documented
       min-accuracy rule rather than the classic hand-curated choices,
       so the golden-pinned entries above keep precedence.
    """
    if os.environ.get("PROJ4SPARK_EPSG_GENERATED_FIRST"):
        # test knob: resolve from the generated catalog BEFORE the
        # hand-verified presets (tests/test_epsg_catalog.py replays gie
        # suites through the generated definitions this way)
        from proj_4_spark.sources.epsg_generated import PRESETS

        frag = PRESETS.get(code)
        if frag is not None:
            return frag
    if code in _EPSG_PRESETS:
        return _EPSG_PRESETS[code]
    if code == 3857:
        return ("proj=webmerc datum=WGS84 units=m no_defs")
    if code == 4326:
        return "proj=longlat datum=WGS84 no_defs"
    if 32601 <= code <= 32660:  # WGS 84 / UTM north
        return f"proj=utm zone={code - 32600} datum=WGS84 units=m no_defs"
    if 32701 <= code <= 32760:  # WGS 84 / UTM south
        return f"proj=utm zone={code - 32700} south datum=WGS84 units=m no_defs"
    if 26901 <= code <= 26923:  # NAD83 / UTM
        return f"proj=utm zone={code - 26900} datum=NAD83 units=m no_defs"
    if 25828 <= code <= 25838:  # ETRS89 / UTM
        return (f"proj=utm zone={code - 25800} ellps=GRS80 "
                "towgs84=0,0,0,0,0,0,0 units=m no_defs")
    from proj_4_spark.sources.epsg_generated import PRESETS

    return PRESETS.get(code)


def resolve_init(spec: str) -> str:
    """Return the proj-string fragment for an `+init=` spec.

    Raises KeyError (unknown key), FileNotFoundError (unknown file) or
    LookupError (epsg code outside the built-in families).
    """
    if ":" not in spec:
        raise KeyError(f"malformed init spec: {spec!r}")
    fname, key = spec.split(":", 1)
    if fname == "IGNF":
        frag = _IGNF_PRESETS.get(key)
        if frag is None:
            # generated registry (compiled from the reference's public
            # ignf.sql by tools/gen_epsg_catalog.py, ~600 codes); the
            # hand presets above keep precedence (testIGNF goldens ride
            # their nadgrids-first NTF route)
            from proj_4_spark.sources.epsg_generated import IGNF_PRESETS

            frag = IGNF_PRESETS.get(key)
        if frag is None:
            raise LookupError(f"IGNF:{key} not in built-in catalog")
        return frag
    if fname.lower() == "epsg":
        if "+" in key:
            # cs2cs compound idiom "horizontal+vertical" (e.g.
            # EPSG:4326+5773): expand to the horizontal preset with the
            # vertical CRS's geoidgrids/unit fragment spliced in
            h, v = key.split("+", 1)
            return _compound_expand(int(h), int(v))
        frag = _epsg_builtin(int(key))
        if frag is None:
            frag = _vertical_or_compound_builtin(int(key))
        if frag is None:
            raise LookupError(f"epsg:{key} not in built-in catalog")
        return frag
    if fname.upper() == "ESRI":
        from proj_4_spark.sources.epsg_generated import ESRI_PRESETS

        frag = ESRI_PRESETS.get(int(key))
        if frag is None:
            raise LookupError(f"ESRI:{key} not in generated catalog")
        return frag
    if fname not in _KNOWN_INIT_FILES:
        # try anyway: user-supplied init file living in the search path
        pass
    sections = _read_init_file(fname)
    if key not in sections:
        raise KeyError(f"{fname}:{key}")
    return sections[key]
