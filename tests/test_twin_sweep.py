"""Forward twin parity over every staged SQL skeleton.

A skeleton is a forward twin's staged SQL (tools/dump_twin_sql.py's
capture, ``transform()``'s default call shape) with its numeric
literals masked and its staging columns renumbered by first
appearance.  The hand-picked parity tests cover some families; this
sweep runs one representative proj-string per skeleton of the whole
corpus (the catalog presets and the proj-string literals in tests/ and
perfbench/inputs.py) through ``transform()`` and through the Arrow-UDF
path, over seeded points inside the preset's area of use plus poles,
+-180 degrees, -0.0, NaN, NULL and out-of-domain rows.  Results are
read with ``collect()``: NULL and NaN must fall on the same rows and
cells on both paths, and the values agree within ATOL (output units);
only the rows at the poles get a relative term as well.

A skeleton no representative covers fails the test; regenerate the
list with ``python tests/test_twin_sweep.py``.
"""

import collections
import importlib.util
import math
import os
import re
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# per output unit (metre, foot, degree), rtol 0, as the datum parity's
# metre cases: every row off the poles is held to ATOL alone
ATOL = 1e-6
# a row at or past POLAR degrees of latitude sits on a singularity of
# the conformal projections, where tan and pow amplify the few-ulp
# differences of the two libms (Java vs glibc): EPSG:3000/3001 at 90
# degrees read y = 6.2e7 m and differ by 1.1e-5 m (2e-13 relative),
# and past 1e8 m one ulp exceeds ATOL.  Such a row gets RTOL (the datum
# parity's non-metre rtol), and past SINGULAR RTOL_SINGULAR: a conic at
# its wrong pole reaches 4e12 m from tan(pi/2), where the two libms
# differ by 8e-9 relative (EPSG:5637 at -90 degrees)
POLAR, RTOL = 89.9, 1e-9
SINGULAR, RTOL_SINGULAR = 1e9, 1e-7

# one proj-string per forward skeleton, in corpus order (regenerate with
# `python tests/test_twin_sweep.py`)
REPRESENTATIVES = [
    'EPSG:2000',
    'EPSG:2001',
    'EPSG:2002',
    'EPSG:2006',
    'EPSG:2036',
    'EPSG:2039',
    'EPSG:2044',
    'EPSG:2056',
    'EPSG:2057',
    'EPSG:2063',
    'EPSG:2066',
    'EPSG:2081',
    'EPSG:2082',
    'EPSG:2083',
    'EPSG:2084',
    'EPSG:2089',
    'EPSG:2091',
    'EPSG:2094',
    'EPSG:2099',
    'EPSG:2101',
    'EPSG:2102',
    'EPSG:2104',
    'EPSG:2105',
    'EPSG:2133',
    'EPSG:2136',
    'EPSG:2154',
    'EPSG:2155',
    'EPSG:2157',
    'EPSG:2159',
    'EPSG:2163',
    'EPSG:2166',
    'EPSG:2169',
    'EPSG:2170',
    'EPSG:2171',
    'EPSG:2175',
    'EPSG:2180',
    'EPSG:2192',
    'EPSG:2194',
    'EPSG:2199',
    'EPSG:2205',
    'EPSG:2216',
    'EPSG:2222',
    'EPSG:2225',
    'EPSG:2308',
    'EPSG:2314',
    'EPSG:2317',
    'EPSG:2318',
    'EPSG:2326',
    'EPSG:2400',
    'EPSG:2401',
    'EPSG:2463',
    'EPSG:2490',
    'EPSG:2492',
    'EPSG:2521',
    'EPSG:2736',
    'EPSG:2932',
    'EPSG:2942',
    'EPSG:2953',
    'EPSG:2969',
    'EPSG:2970',
    'EPSG:2971',
    'EPSG:2973',
    'EPSG:2977',
    'EPSG:2980',
    'EPSG:2981',
    'EPSG:2984',
    'EPSG:2988',
    'EPSG:2990',
    'EPSG:2995',
    'EPSG:2996',
    'EPSG:2998',
    'EPSG:3000',
    'EPSG:3001',
    'EPSG:3003',
    'EPSG:3005',
    'EPSG:3031',
    'EPSG:3035',
    'EPSG:3058',
    'EPSG:3060',
    'EPSG:3066',
    'EPSG:3068',
    'EPSG:3070',
    'EPSG:3078',
    'EPSG:3106',
    'EPSG:3107',
    'EPSG:3110',
    'EPSG:3113',
    'EPSG:3121',
    'EPSG:3140',
    'EPSG:3141',
    'EPSG:3143',
    'EPSG:3163',
    'EPSG:3164',
    'EPSG:3165',
    'EPSG:3166',
    'EPSG:3167',
    'EPSG:3168',
    'EPSG:3204',
    'EPSG:3210',
    'EPSG:3275',
    'EPSG:3303',
    'EPSG:3304',
    'EPSG:3307',
    'EPSG:3310',
    'EPSG:3314',
    'EPSG:3315',
    'EPSG:3329',
    'EPSG:3337',
    'EPSG:3349',
    'EPSG:3356',
    'EPSG:3357',
    'EPSG:3376',
    'EPSG:3377',
    'EPSG:3378',
    'EPSG:3388',
    'EPSG:3395',
    'EPSG:3407',
    'EPSG:3408',
    'EPSG:3409',
    'EPSG:3410',
    'EPSG:3411',
    'EPSG:3415',
    'EPSG:3439',
    'EPSG:3561',
    'EPSG:3571',
    'EPSG:3572',
    'EPSG:3577',
    'EPSG:3762',
    'EPSG:3764',
    'EPSG:3769',
    'EPSG:3783',
    'EPSG:3786',
    'EPSG:3787',
    'EPSG:3819',
    'EPSG:3821',
    'EPSG:3824',
    'EPSG:3852',
    'EPSG:3857',
    'EPSG:3906',
    'EPSG:3907',
    'EPSG:3912',
    'EPSG:3973',
    'EPSG:3974',
    'EPSG:3975',
    'EPSG:3991',
    'EPSG:3993',
    'EPSG:3995',
    'EPSG:4121',
    'EPSG:4123',
    'EPSG:4124',
    'EPSG:4127',
    'EPSG:4129',
    'EPSG:4131',
    'EPSG:4132',
    'EPSG:4134',
    'EPSG:4135',
    'EPSG:4139',
    'EPSG:4144',
    'EPSG:4149',
    'EPSG:4156',
    'EPSG:4178',
    'EPSG:4179',
    'EPSG:4181',
    'EPSG:4183',
    'EPSG:4188',
    'EPSG:4194',
    'EPSG:4196',
    'EPSG:4200',
    'EPSG:4202',
    'EPSG:4207',
    'EPSG:4212',
    'EPSG:4216',
    'EPSG:4217',
    'EPSG:4231',
    'EPSG:4238',
    'EPSG:4242',
    'EPSG:4254',
    'EPSG:4270',
    'EPSG:4272',
    'EPSG:4274',
    'EPSG:4277',
    'EPSG:4284',
    'EPSG:4298',
    'EPSG:4309',
    'EPSG:4313',
    'EPSG:4317',
    'EPSG:4390',
    'EPSG:4391',
    'EPSG:4393',
    'EPSG:4559',
    'EPSG:4611',
    'EPSG:4626',
    'EPSG:4632',
    'EPSG:4642',
    'EPSG:4660',
    'EPSG:4662',
    'EPSG:4666',
    'EPSG:4672',
    'EPSG:4673',
    'EPSG:4683',
    'EPSG:4687',
    'EPSG:4710',
    'EPSG:4740',
    'EPSG:4750',
    'EPSG:5018',
    'EPSG:5235',
    'EPSG:5247',
    'EPSG:5252',
    'EPSG:5253',
    'EPSG:5343',
    'EPSG:5456',
    'EPSG:5463',
    'EPSG:5472',
    'EPSG:5482',
    'EPSG:5514',
    'EPSG:5518',
    'EPSG:5519',
    'EPSG:5530',
    'EPSG:5636',
    'EPSG:5637',
    'EPSG:5641',
    'EPSG:5643',
    'EPSG:5659',
    'EPSG:5825',
    'EPSG:5880',
    'EPSG:5923',
    'EPSG:6128',
    'EPSG:6129',
    'EPSG:6141',
    'EPSG:6244',
    'EPSG:6250',
    'EPSG:6255',
    'EPSG:6350',
    'EPSG:6394',
    'EPSG:6411',
    'EPSG:6414',
    'EPSG:6610',
    'EPSG:6721',
    'EPSG:6809',
    'EPSG:6811',
    'EPSG:6840',
    'EPSG:6841',
    'EPSG:6842',
    'EPSG:6843',
    'EPSG:6932',
    'EPSG:6933',
    'EPSG:7877',
    'EPSG:7878',
    'EPSG:8065',
    'EPSG:8068',
    'EPSG:8441',
    'EPSG:8857',
    'EPSG:8858',
    'EPSG:8988',
    'EPSG:8989',
    'EPSG:8993',
    'EPSG:9191',
    'EPSG:20248',
    'EPSG:21291',
    'EPSG:21782',
    'EPSG:22391',
    'EPSG:22700',
    'EPSG:22770',
    'EPSG:22780',
    'EPSG:22991',
    'EPSG:23028',
    'EPSG:23700',
    'EPSG:24200',
    'EPSG:24370',
    'EPSG:24375',
    'EPSG:24571',
    'EPSG:26191',
    'EPSG:27037',
    'EPSG:27200',
    'EPSG:27205',
    'EPSG:27258',
    'EPSG:27291',
    'EPSG:27492',
    'EPSG:27700',
    'EPSG:28191',
    'EPSG:28991',
    'EPSG:29100',
    'EPSG:29101',
    'EPSG:29849',
    'EPSG:29871',
    'EPSG:29873',
    'EPSG:29900',
    'EPSG:30729',
    'EPSG:30791',
    'EPSG:31287',
    'EPSG:31370',
    'EPSG:31600',
    'EPSG:31700',
    'EPSG:32201',
    'EPSG:32662',
    'ESRI:53003',
    'ESRI:53008',
    'ESRI:53009',
    'ESRI:53010',
    'ESRI:53011',
    'ESRI:53012',
    'ESRI:53013',
    'ESRI:53014',
    'ESRI:53015',
    'ESRI:53016',
    'ESRI:53018',
    'ESRI:53019',
    'ESRI:53021',
    'ESRI:53022',
    'ESRI:53023',
    'ESRI:53024',
    'ESRI:53026',
    'ESRI:53027',
    'ESRI:53028',
    'ESRI:53029',
    'ESRI:53030',
    'ESRI:53035',
    'ESRI:53036',
    'ESRI:53042',
    'ESRI:53043',
    'ESRI:53044',
    'ESRI:53046',
    'ESRI:53048',
    'ESRI:53049',
    'ESRI:53076',
    'ESRI:53077',
    'ESRI:53078',
    'ESRI:53079',
    'ESRI:53080',
    'ESRI:54008',
    'ESRI:54021',
    'ESRI:54024',
    'ESRI:54026',
    'ESRI:54027',
    'ESRI:54052',
    'ESRI:54053',
    'ESRI:65161',
    'ESRI:102005',
    'ESRI:102013',
    'ESRI:102015',
    'ESRI:102016',
    'ESRI:102019',
    'ESRI:102023',
    'ESRI:102025',
    'ESRI:102031',
    'ESRI:102032',
    'ESRI:102033',
    'ESRI:102034',
    'ESRI:102035',
    'ESRI:102038',
    'ESRI:102062',
    'ESRI:102064',
    'ESRI:102068',
    'ESRI:102158',
    'ESRI:102163',
    'ESRI:102217',
    'ESRI:102389',
    'ESRI:102391',
    'ESRI:102497',
    'ESRI:102498',
    'ESRI:102589',
    'ESRI:102599',
    'ESRI:102600',
    'ESRI:102766',
    'ESRI:102799',
    'ESRI:102830',
    'ESRI:102974',
    'IGNF:IGN72LAM',
    'IGNF:MARE53G',
    'IGNF:MARE53UTM58S',
    'IGNF:MILLER',
    'IGNF:NEA74LBTNM2',
    'IGNF:PDN08GAUSSL',
    'IGNF:PGP50STEREPS',
    'IGNF:REUN47GAUSSL',
    'IGNF:STPM50UTM21',
    '+proj=aea +R=6371000 +lat_1=29.5 +lat_2=45.5',
    '+proj=aea +lat_1=29.5 +lat_2=45.5 +ellps=clrk66 +towgs84=-8,160,176',
    '+proj=cass +R=6371000 +lat_0=-20',
    '+proj=eqdc +R=6371000 +lat_1=-20 +lat_2=-60',
    '+proj=eqdc +ellps=GRS80 +lat_1=20 +lat_2=60 +lat_0=40 +lon_0=-96',
    '+proj=etmerc +lon_0=9 +k=0.9996 +x_0=500000 +ellps=WGS84 +units=us-ft',
    '+proj=geos +h=35785831.0 +R=6371000',
    '+proj=geos +h=35785831.0 +lon_0=-75 +sweep=x +ellps=GRS80',
    '+proj=gnom +R=6371000 +lat_0=-90',
    '+proj=gnom +R=6371000 +lat_0=40',
    '+proj=gnom +R=6371000 +lat_0=90',
    '+proj=healpix +R=6400000',
    '+proj=krovak +czech +ellps=bessel',
    '+proj=krovak +ellps=bessel',
    '+proj=laea +R=6371000 +lat_0=0',
    '+proj=laea +R=6371000 +lat_0=45',
    '+proj=laea +ellps=GRS80 +lat_0=0 +lon_0=10',
    '+proj=laea +ellps=GRS80 +lat_0=52',
    '+proj=laea +lat_0=52 +lon_0=10 +ellps=GRS80 +towgs84=1,2,3',
    '+proj=lcc +R=6371000 +lat_1=-33 +lat_2=-45',
    '+proj=lcc +lat_1=44 +lat_2=49 +lat_0=46 +lon_0=3 +x_0=700000 +y_0=6600000 +units=km +ellps=clrk80ign +towgs84=-168,-60,320',
    '+proj=lcc +lat_1=49 +lat_2=77 +lat_0=49 +lon_0=-95 +ellps=clrk66 +towgs84=-10,158,187',
    '+proj=merc +datum=NAD83',
    '+proj=merc +datum=OSGB36',
    '+proj=merc +ellps=GRS80 +towgs84=1,2,3',
    '+proj=nzmg',
    '+proj=omerc +lat_0=45 +lonc=10 +alpha=30 +no_off +R=6371000',
    '+proj=omerc +lat_0=45 +lonc=10 +alpha=30 +no_rot +ellps=WGS84',
    '+proj=ortho +R=6371000 +lat_0=-90',
    '+proj=ortho +R=6371000 +lat_0=40',
    '+proj=ortho +R=6371000 +lat_0=42 +lon_0=-30',
    '+proj=ortho +R=6371000 +lat_0=90',
    '+proj=ortho +ellps=WGS84 +lat_0=40 +lon_0=-30',
    '+proj=pipeline +ellps=GRS80 +step +proj=cart +step +proj=cart +inv',
    '+proj=pipeline +ellps=GRS80 +step +proj=cart +step +proj=helmert +x=1 +step +proj=cart +inv',
    '+proj=pipeline +ellps=GRS80 +step +proj=cart +step +proj=helmert +x=10 +y=-20 +z=30 +step +proj=cart +inv',
    '+proj=pipeline +ellps=GRS80 +step +proj=cart +step +proj=helmert +x=67.8 +y=-106.3 +z=-119.2 +rx=0.1 +ry=0.2 +rz=0.3 +s=2.5 +convention=position_vector +step +proj=cart +inv',
    '+proj=pipeline +ellps=GRS80 +step +proj=cart +step +proj=molobadekas +x=593.032 +y=26.0 +z=478.741 +rx=0.409394 +ry=-0.359705 +rz=1.86849 +s=4.0772 +px=3903453.148 +py=368135.313 +pz=5012970.306 +convention=coordinate_frame +step +inv +proj=cart +ellps=bessel',
    '+proj=pipeline +ellps=WGS84 +step +proj=cart +ellps=bessel +step +proj=helmert +x=577 +y=90 +z=464 +step +inv +proj=helmert +x=-87 +y=-98 +z=-121 +step +inv +proj=cart +ellps=intl',
    '+proj=pipeline +ellps=WGS84 +step +proj=cart +ellps=bessel +step +proj=helmert +x=577.326 +y=90.129 +z=463.919 +rx=5.137 +ry=1.474 +rz=5.297 +s=2.4232 +convention=position_vector +step +inv +proj=cart +ellps=GRS80',
    '+proj=qsc +ellps=GRS80 +lat_0=0 +lon_0=0',
    '+proj=robin +R=6371000 +lon_0=150 +x_0=10 +y_0=-5',
    '+proj=robin +R=6371000 +towgs84=1,2,3',
    '+proj=robin +ellps=GRS80 +units=km',
    '+proj=somerc +lat_0=46.95 +lon_0=7.44 +k_0=1 +ellps=bessel',
    '+proj=stere +R=6371000 +lat_0=-90',
    '+proj=stere +R=6371000 +lat_0=40',
    '+proj=stere +R=6371000 +lat_0=90',
    '+proj=stere +lat_0=40 +lon_0=-100 +R=6371000',
    '+proj=stere +lat_0=40 +lon_0=10 +datum=WGS84',
    '+proj=sterea +lat_0=-30 +lon_0=20 +ellps=GRS80',
    '+proj=sterea +lat_0=52.15 +lon_0=5.38 +k=0.9999 +ellps=bessel',
    '+proj=webmerc +datum=GGRS87',
    '+proj=webmerc +datum=NAD83',
    '+proj=webmerc +ellps=WGS84 +units=km',
    '+proj=webmerc +units=km +ellps=WGS84 +towgs84=1,2,3',
    'proj=merc lat_ts=10 lon_0=0 x_0=0 y_0=0 ellps=WGS84 units=us-ft no_defs',
]

_NUM = re.compile(r"(?<![\w.])\d+(?:\.\d*)?(?:[eE][+-]?\d+)?D?")
_COL = re.compile(r"_jd_[A-Za-z_]*?\d+\b")


def _dump():
    spec = importlib.util.spec_from_file_location(
        "dump_twin_sql", os.path.join(REPO, "tools", "dump_twin_sql.py"))
    dump = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(dump)
    return dump


def skeleton(stages, barriers, final) -> str:
    text = repr((stages, barriers, final))
    names = {}
    text = _COL.sub(lambda m: names.setdefault(m.group(0),
                                               f"_jd_#{len(names)}"), text)
    return _NUM.sub("#", text)


def forward_skeletons():
    """{skeleton: [proj-strings]} over the dump corpus's forward twins."""
    from proj_4_spark.engine import spark as S
    from proj_4_spark.kernels.base import ProjError

    dump = _dump()
    saved = S._SqlStager.apply
    S._SqlStager.apply = lambda self, df, final, names: skeleton(
        self.stages, sorted(self._barriers), final)
    found = collections.defaultdict(list)
    try:
        for ps in dump.corpus():
            try:
                if S.describe_route(ps, "fwd") == "udf":
                    continue
            except ProjError:
                continue
            found[dump._staged(ps, "fwd")].append(ps)
    finally:
        S._SqlStager.apply = saved
    return found


def _pick(candidates):
    """A representative: the first preset with an area of use, else the
    first proj-string."""
    from proj_4_spark.sources.epsg_generated import EXTENTS

    for ps in candidates:
        if _extent(ps, EXTENTS) is not None:
            return ps
    return candidates[0]


def _extent(ps, extents):
    auth, _, code = ps.partition(":")
    if auth == "EPSG" and code.isdigit():
        return extents.get(int(code))
    if auth in ("ESRI", "IGNF"):
        return extents.get(ps)
    return None


def _points(ps, n=12):
    """(id, lon, lat, h) rows: seeded points inside the area of use (the
    world below 80 degrees without one), then the edge rows."""
    import numpy as np

    from proj_4_spark.sources.epsg_generated import EXTENTS

    west, south, east, north = _extent(ps, EXTENTS) or (-170, -80, 170, 80)
    if east < west:
        east += 360.0
    rng = np.random.default_rng(20)
    lon = rng.uniform(west, east, n)
    lon = np.where(lon > 180.0, lon - 360.0, lon)
    lat = rng.uniform(south, north, n)
    edge = [(0.0, 90.0), (0.0, -90.0), (180.0, 45.0), (-180.0, -45.0),
            (-0.0, -0.0), (-0.0, 10.0), (10.0, -0.0), (math.nan, 10.0),
            (10.0, math.nan), (None, 10.0), (10.0, None), (10.0, 90.1),
            (600.0, 10.0), (-541.0, -89.9)]
    rows = [(float(a), float(b)) for a, b in zip(lon, lat)] + edge
    hs = np.linspace(-100.0, 3000.0, len(rows))
    return [(i, x, y, float(h)) for i, ((x, y), h) in enumerate(zip(rows, hs))]


def _same(a, b, lat):
    if a is None or b is None:
        return a is None and b is None
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    polar = lat is not None and abs(lat) >= POLAR
    rtol = (0.0 if not polar else
            RTOL if abs(b) <= SINGULAR else RTOL_SINGULAR)
    return abs(a - b) <= ATOL + rtol * abs(b)


def test_every_forward_skeleton_has_a_representative():
    found = forward_skeletons()
    reps = set(REPRESENTATIVES)
    missing = {s: v[0] for s, v in found.items() if not reps & set(v)}
    assert not missing, (
        f"{len(missing)} forward skeletons have no representative, e.g. "
        f"{sorted(missing.values())[:5]}; regenerate REPRESENTATIVES")


@pytest.mark.parametrize("chunk", range(4))
def test_forward_skeleton_parity(spark, udf_transform, chunk):
    """Each representative's twin equals its Arrow-UDF path on every
    row: NULL/NaN on the same cells, values within ATOL (plus the
    relative term at the poles)."""
    from proj_4_spark.engine.spark import describe_route, transform

    bad = []
    for ps in REPRESENTATIVES[chunk::4]:
        assert describe_route(ps) != "udf", ps
        df = spark.createDataFrame(_points(ps),
                                   "id long, lon double, lat double, "
                                   "h double")
        kw = dict(x="lon", y="lat", z="h")
        out = udf_transform(transform(df, ps, out_prefix="f_", **kw), ps,
                            out_prefix="s_", **kw)
        cols = [f"{p}{c}" for c in "xyzt" for p in ("f_", "s_")]
        for row in out.select("id", "lon", "lat", *cols).collect():
            for c in "xyzt":
                a, b = row[f"f_{c}"], row[f"s_{c}"]
                if not _same(a, b, row["lat"]):
                    bad.append((ps, row["lon"], row["lat"], c, a, b))
    assert not bad, (len(bad), bad[:10])


if __name__ == "__main__":
    found = forward_skeletons()
    order = {}
    for ps in _dump().corpus():
        order.setdefault(ps, len(order))
    reps = sorted((_pick(v) for v in found.values()), key=order.get)
    print(f"# {len(found)} forward skeletons")
    for ps in reps:
        print(f"    {ps!r},")
