"""Coverage ratchets (VERDICT r3 #10): counts only go UP.

The gie corpus floors live in test_gie_corpus.py (hard fail==0 plus
per-file pass minimums); this file pins the driver-facing surface."""


def test_driver_query_count_monotone():
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as E

    qs = E.queries()
    os_ = E.oracle_sql()
    assert len(qs) >= 49, len(qs)
    # EVERY query is value-verified: r4 closed the last no_oracle rows
    assert set(os_) == set(qs), set(qs) ^ set(os_)


def test_epsg_catalog_size_monotone():
    from proj_4_spark.sources.epsg_generated import (
        EXTENTS,
        PRESETS,
        TRANSFORMS,
    )

    from proj_4_spark.sources.epsg_generated import (
        ESRI_PRESETS,
        IGNF_PRESETS,
    )

    assert len(PRESETS) >= 6148
    assert len(IGNF_PRESETS) >= 590
    assert len(ESRI_PRESETS) >= 2400
    assert len(EXTENTS) >= 6100
    assert sum(len(v) for v in TRANSFORMS.values()) >= 2400
    # r5: vertical + compound registries (geoid models, compound codes)
    from proj_4_spark.sources.epsg_generated import (
        COMPOUND_PRESETS,
        VERT_PRESETS,
    )

    assert len(VERT_PRESETS) >= 470
    assert len(COMPOUND_PRESETS) >= 520
    assert sum(1 for v in VERT_PRESETS.values() if v[2]) >= 100
    from proj_4_spark.sources.epsg_generated import VERT_TRANSFORMS

    assert sum(len(v) for v in VERT_TRANSFORMS.values()) >= 89


def test_registry_parity_holds():
    """175/176 pj_list ops constructible (pipeline is the 176th)."""
    from proj_4_spark.engine.plan import _registry

    assert len(_registry()) >= 175


def _route(ps, direction):
    """Name of the twin transform() runs for (ps, direction), or None
    for the Arrow-UDF path."""
    from proj_4_spark.engine.spark import describe_route

    route = describe_route(ps, direction)
    return None if route == "udf" else route


def test_r6_twin_roster_and_text_formats():
    """r6 ratchets: the datum-pipeline twin, the widened inverse-twin
    roster, and the full CRS-text surface (WKT2 incl. BOUNDCRS, ESRI
    WKT1, PROJJSON) stay wired."""
    from proj_4_spark.engine.plan import create_operation

    pipe = ("+proj=pipeline +ellps=GRS80 +step +proj=cart "
            "+step +proj=helmert +x=1 +step +proj=cart +inv")
    assert _route(pipe, "fwd") == "datum_pipeline"
    assert _route(pipe, "inv") == "datum_pipeline"

    inv_twins = (
        "+proj=webmerc +ellps=WGS84",
        "+proj=merc +R=6371000",
        "+proj=eqc +ellps=WGS84",
        "+proj=cea +ellps=WGS84",       # ellipsoidal authlat series
        "+proj=laea +R=6371000 +lat_0=52",
        "+proj=stere +R=6371000 +lat_0=90",
        "+proj=sinu +R=6371000",
        "+proj=eqdc +R=6371000 +lat_1=20 +lat_2=60",
        "+proj=cass +R=6371000",
        "+proj=ortho +R=6371000 +lat_0=40",
        "+proj=gnom +R=6371000",
    )
    for ps in inv_twins:
        assert _route(ps, "inv") == "inv", ps

    # fwd twin roster keeps compiling
    fwd_twins = ("webmerc", "merc", "eqc", "cea", "lcc", "aea", "leac",
                 "stere", "ups", "laea", "sterea", "somerc", "krovak",
                 "sinu", "eqdc", "eqearth", "cass", "ortho", "gnom")
    ex = {"lcc": " +lat_1=33 +lat_2=45", "aea": " +lat_1=29 +lat_2=45",
          "leac": " +lat_1=29", "eqdc": " +lat_1=20 +lat_2=60",
          "krovak": "", "somerc": ""}
    for name in fwd_twins:
        ps = f"+proj={name} +ellps=GRS80" + ex.get(name, "")
        assert _route(ps, "fwd") == "fwd", ps

    # CRS-text formats all dispatch through create_operation
    from proj_4_spark.sources.projjson import projstring_to_projjson
    import json

    assert create_operation(json.dumps(projstring_to_projjson(
        "proj=utm zone=32 ellps=WGS84"))).P.name == "utm"
    assert create_operation(
        'BOUNDCRS[SOURCECRS[GEOGCRS["g",DATUM["d",ELLIPSOID["e",'
        '6378137,298.257223563]]]],TARGETCRS[GEOGCRS["t",DATUM["d",'
        'ELLIPSOID["e",6378137,298.257223563]]]],'
        'ABRIDGEDTRANSFORMATION["a",METHOD["Geocentric translations '
        '(geog2D domain)",ID["EPSG",9603]],'
        'PARAMETER["X-axis translation",1],'
        'PARAMETER["Y-axis translation",2],'
        'PARAMETER["Z-axis translation",3]]]'
    ).P.params.get("towgs84") == "1,2,3,0,0,0,0"


def test_r7_iterative_inverse_twins_stay_wired():
    """r7 ratchet: the staged iterative-inverse twins (bounded phi2 /
    phi1 unroll with frozen-lane convergence) keep compiling for
    lcc / aea / leac (sphere + ellipsoid) and ellipsoidal merc; the
    remaining iterative families keep refusing (UDF path)."""
    for ps in (
        "+proj=lcc +ellps=GRS80 +lat_1=33 +lat_2=45",
        "+proj=lcc +R=6371000 +lat_1=-33 +lat_2=-45",
        "+proj=aea +ellps=GRS80 +lat_1=29.5 +lat_2=45.5",
        "+proj=aea +R=6371000 +lat_1=29.5 +lat_2=45.5",
        "+proj=leac +ellps=WGS84 +lat_1=45",
        "+proj=merc +ellps=WGS84",
    ):
        assert _route(ps, "inv") == "inv", ps
    for ps in ("+proj=robin +R=6371000",
               # sterea measured out (0.64x the UDF path; see
               # _INV_KERNEL_NAMES)
               "+proj=sterea +lat_0=52.2 +lon_0=5.4 +k=0.9999079 "
               "+x_0=155000 +y_0=463000 +ellps=bessel"):
        assert _route(ps, "inv") is None, ps
    # late r7: Poder-Engsager (utm roundtrips Python-free end to end),
    # ellipsoidal stere/ups and the eqearth Newton inverse join too
    for ps in ("+proj=utm +zone=32 +ellps=GRS80",
               "+proj=stere +ellps=WGS84 +lat_0=90 +lat_ts=70",
               "+proj=ups +ellps=WGS84",
               "+proj=eqearth +ellps=WGS84",
               "+proj=omerc +lat_0=4 +lonc=115 +alpha=53 "
               "+ellps=evrst69"):
        assert _route(ps, "inv") == "inv", ps
    # the omerc FORWARD has its own staged kernel
    assert _route("+proj=omerc +lat_0=4 +lonc=115 +alpha=53 "
                  "+ellps=evrst69", "fwd") == "fwd"
    # geos (both directions) and the ellipsoidal laea inverse are staged
    # twins gated by the codegen-health test in tests/test_plans.py:
    # r7's raw geos inverse tree failed janino (~22.8k-line method,
    # silent interpreted fallback) and r8's ellipsoidal laea inverse sat
    # at 64,030 bytecodes, 8x over the HotSpot JIT ceiling
    geos = "+proj=geos +h=35785831.0 +ellps=GRS80"
    assert _route(geos, "fwd") == "fwd"
    assert _route(geos, "inv") == "inv"
    assert _route("+proj=laea +ellps=GRS80 +lat_0=52", "inv") == "inv"
    assert _route("+proj=laea +R=6371000 +lat_0=52", "inv") == "inv"

    # the datum-modified inverse accepts the iterative families too
    # (+towgs84 conic zone inverses run Python-free)
    assert _route("+proj=lcc +lat_1=49 +lat_2=77 +ellps=clrk66 "
                  "+towgs84=-10,158,187", "inv") == "inv"
    assert _route("+proj=merc +ellps=GRS80 +towgs84=1,2,3",
                  "inv") == "inv"
    assert _route("+proj=lcc +lat_1=49 +lat_2=77 +ellps=clrk66 "
                  "+towgs84=-10,158,187", "fwd") == "fwd"
    # a datum-modified Poder-Engsager forward takes the same roster as
    # the bare one
    assert _route("+proj=utm +zone=32 +datum=NAD83", "fwd") == "fwd"

    # modifiers no twin models keep the Arrow-UDF path
    for ps, d in (("+proj=webmerc +ellps=WGS84 +inv", "fwd"),
                  ("+proj=webmerc +ellps=WGS84 +inv", "inv"),
                  ("+proj=merc +ellps=WGS84 +over", "fwd"),
                  ("+proj=merc +ellps=WGS84 +axis=wsu", "fwd"),
                  ("+proj=tmerc +algo=auto +lon_0=9 +ellps=WGS84", "fwd"),
                  ("+proj=tmerc +approx +lon_0=9 +ellps=WGS84", "inv"),
                  ("+proj=ortho +ellps=GRS80 +lat_0=40", "inv"),
                  ("+proj=webmerc +datum=NAD27", "fwd"),
                  ("+proj=robin +R=6371000 +towgs84=1,2,3", "inv")):
        assert _route(ps, d) is None, (ps, d)

    # r7 late roster: inv_mlfn twins (ellipsoidal eqdc/sinu/cass)
    for ps in ("+proj=eqdc +ellps=GRS80 +lat_1=20 +lat_2=60",
               "+proj=sinu +ellps=WGS84",
               "+proj=cass +ellps=GRS80"):
        assert _route(ps, "inv") == "inv", ps

    # moll family: closed-form inverse + the staged Newton forward
    # (late r7)
    for nm in ("moll", "wag4", "wag5"):
        ps = f"+proj={nm} +R=6371000"
        assert _route(ps, "inv") == "inv", nm
        assert _route(ps, "fwd") == "fwd", nm


def test_robin_forward_twin_routes():
    """The Robinson forward is a twin: bare (+proj=robin, ESRI:54030,
    ESRI:53030) and +towgs84 both on the ``fwd`` route.
    Its inverse (node nudge + Newton) keeps the Arrow-UDF path."""
    from proj_4_spark.engine.spark import describe_route

    for ps in ("+proj=robin +ellps=WGS84", "+proj=robin +R=6371000",
               "ESRI:54030", "ESRI:53030"):
        assert describe_route(ps) == "fwd", ps
        assert describe_route(ps, "inv") == "udf", ps
    ps = "+proj=robin +ellps=WGS84 +towgs84=1,2,3"
    assert describe_route(ps, "forward") == "fwd"
    assert describe_route(ps, "inverse") == "udf"
    # +inv swaps the kernels: the forward direction runs the inverse
    assert describe_route("+proj=robin +ellps=WGS84 +inv") == "udf"


# describe_route over all 9,150 EPSG/ESRI/IGNF presets, geographic ones
# included: the count per (direction, route).  A "udf" count may only
# fall, and a change that lowers one commits the new numbers here.
ROUTE_CENSUS = {
    ("fwd", "fwd"): 8359, ("fwd", "udf"): 791,
    ("inv", "inv"): 8188, ("inv", "udf"): 962,
}


def test_route_census():
    """The Arrow-UDF share of the catalog only falls.  A preset that
    cannot be built counts as "udf": IGNF:LAMBE and IGNF:NTFG ride the
    ntf_r93.gsb grid, which may be absent, and once built their grid
    hook refuses every twin, so the census reads the same on every
    box."""
    import collections

    from proj_4_spark.engine.spark import describe_route
    from proj_4_spark.kernels.base import ProjError
    from proj_4_spark.sources.epsg_generated import (
        ESRI_PRESETS,
        IGNF_PRESETS,
        PRESETS,
    )

    counts = collections.Counter()
    for auth, presets in (("EPSG", PRESETS), ("ESRI", ESRI_PRESETS),
                          ("IGNF", IGNF_PRESETS)):
        for code in presets:
            for d in ("fwd", "inv"):
                try:
                    route = describe_route(f"{auth}:{code}", d)
                except ProjError:
                    route = "udf"
                counts[(d, route)] += 1
    rose = {k: (ROUTE_CENSUS.get(k, 0), n) for k, n in counts.items()
            if k[1] == "udf" and n > ROUTE_CENSUS.get(k, 0)}
    assert not rose, f"presets moved onto the Arrow-UDF path: {rose}"
    assert dict(counts) == ROUTE_CENSUS, (
        f"the census moved; commit the new counts: {dict(counts)}")


# PySpark 4.1 fails one selectExpr past 50 lateral-alias levels ("Max
# iterations (100) reached for batch Resolution").
MAX_TWIN_STAGES = 50


def test_twin_region_depth(monkeypatch):
    """Every codegen region of every twin holds fewer than
    MAX_TWIN_STAGES stages, over tools/dump_twin_sql.py's corpus (the
    catalog presets and the proj-string literals in tests/ and
    perfbench/inputs.py, both directions) in its three call shapes.  A
    region is one selectExpr whose stages read each other as lateral
    column aliases, so its stage count bounds their alias depth from
    above.  Prints the deepest region."""
    import importlib.util
    import os

    from proj_4_spark.engine import spark as S
    from proj_4_spark.kernels.base import ProjError

    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools", "dump_twin_sql.py")
    spec = importlib.util.spec_from_file_location("dump_twin_sql", path)
    dump = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(dump)

    def regions(self, df, final_exprs, out_names):
        sizes, n = [], 0
        for i in range(len(self.stages)):
            n += 1
            if i in self._barriers:
                sizes.append(n)
                n = 0
        return sizes + [n]

    monkeypatch.setattr(S._SqlStager, "apply", regions)
    deepest, where, twins = 0, None, 0
    for ps in dump.corpus():
        for d in ("fwd", "inv"):
            try:
                if S.describe_route(ps, d) == "udf":
                    continue
            except ProjError:
                continue
            twins += 1
            for k, shape in enumerate(dump.SHAPES):
                n = max(dump._staged(ps, d, **shape))
                if n > deepest:
                    deepest, where = n, (ps, d, shape)
    print(f"deepest twin region: {deepest} stages, {where}")
    assert twins > 16000
    assert deepest < MAX_TWIN_STAGES, (deepest, where)


def test_kernel_udfs_have_one_arrow_boundary():
    """Every pandas UDF under engine/ and spatial/ is built by
    kernel_udf.kernel_columns, the one place that reads NULL as NaN and
    writes an errored row as NaN: no module there names pandas_udf."""
    import ast
    import pathlib

    import proj_4_spark

    root = pathlib.Path(proj_4_spark.__file__).parent
    found = []
    for sub in ("engine", "spatial"):
        for path in sorted((root / sub).rglob("*.py")):
            for node in ast.walk(ast.parse(path.read_text())):
                name = (node.id if isinstance(node, ast.Name) else
                        node.attr if isinstance(node, ast.Attribute) else
                        None)
                if isinstance(node, ast.alias):
                    name = node.name
                if name == "pandas_udf":
                    found.append(f"{path.relative_to(root)}:{node.lineno}")
    assert not found, found
