"""Per-point alternative-operation selection + retry
(src/4D_api.cpp:204-364 semantics over a static candidate list)."""
import numpy as np
import pytest

from proj_4_spark.engine.altops import AltOperation, Candidate

D2R = np.pi / 180.0

# the src/datums.cpp:49 NAD27 fallback chain, minus the unshipped
# ntv2_0.gsb/ntv1: conus (better accuracy) and alaska, both declared
# with the WIDE NAD27 area of use (the EPSG-style bbox exceeds each
# grid's actual coverage — exactly what makes per-point retry
# necessary, cf. the lon=-111.5 lat=45.26 example in 4D_api.cpp:273)
NAD27_BBOX = (-172.0, 18.0, -47.0, 79.0)


def _nad27_candidates():
    a = Candidate.from_projstring(
        "+proj=hgridshift +grids=conus", NAD27_BBOX, accuracy=0.15)
    b = Candidate.from_projstring(
        "+proj=hgridshift +grids=alaska", NAD27_BBOX, accuracy=0.5)
    c = Candidate.from_projstring(  # grid-free fallback (towgs84-style)
        "+proj=helmert +x=-8 +y=160 +z=176", (-180.0, -90.0, 180.0, 90.0),
        accuracy=10.0)
    return [a, b, c]


def test_retry_routes_alaska_point_via_second_candidate():
    """A point in Alaska falls in candidate-1's declared bbox (conus,
    best accuracy) but outside the conus grid -> kernel NaN -> per-point
    retry must select the alaska candidate, matching a direct alaska
    hgridshift value-for-value."""
    cands = _nad27_candidates()
    alt = AltOperation(cands)
    lon = np.array([-100.0, -150.0, -111.5]) * D2R  # conus, alaska, conus
    lat = np.array([40.0, 63.0, 45.26]) * D2R
    z = np.zeros(3)
    x, y, _, _, chosen = alt.apply(lon, lat, z, z.copy(), "fwd")
    assert chosen.tolist() == [0, 1, 0]
    assert np.isfinite(x).all() and np.isfinite(y).all()

    # value-level: each point equals the direct application of its
    # routed candidate (hgridshift itself is corpus-verified)
    for i, ci in enumerate(chosen):
        dx, dy, _, _ = cands[ci].op.apply(
            lon[i:i + 1], lat[i:i + 1], z[:1], z[:1].copy())
        assert x[i] == dx[0] and y[i] == dy[0]
    # and the retry actually changed the answer vs naive best-accuracy
    naive_x, _, _, _ = cands[0].op.apply(lon[1:2], lat[1:2], z[:1], z[:1].copy())
    assert not np.isfinite(naive_x[0])


def test_grid_free_fallback_outside_all_bboxes():
    """A point outside every candidate bbox uses the first grid-free
    candidate (4D_api.cpp:330-360), not an error."""
    cands = _nad27_candidates()
    cands[2].bbox_src = (-20.0, 30.0, 40.0, 70.0)  # europe-ish, excludes pt
    alt = AltOperation(cands)
    lon = np.array([120.0]) * D2R  # asia: outside all three bboxes
    lat = np.array([30.0]) * D2R
    z = np.zeros(1)
    x, y, _, _, chosen = alt.apply(lon, lat, z, z.copy(), "fwd")
    assert chosen[0] == 2  # helmert is the first needs_grids=False entry
    dx, dy, _, _ = cands[2].op.apply(lon, lat, z, z.copy())
    assert x[0] == dx[0] and y[0] == dy[0]


def test_no_grid_free_candidate_errors_nan():
    cands = _nad27_candidates()[:2]  # both need grids
    alt = AltOperation(cands)
    lon = np.array([120.0]) * D2R
    lat = np.array([30.0]) * D2R
    z = np.zeros(1)
    x, y, _, _, chosen = alt.apply(lon, lat, z, z.copy(), "fwd")
    assert chosen[0] == -1 and not np.isfinite(x[0])


def test_ranking_onshore_beats_offshore_with_better_accuracy():
    """The carthage/testvarious preference (4D_api.cpp:232-243): a later
    onshore candidate with better known accuracy displaces an offshore
    first match."""
    noop_a = Candidate.from_projstring(
        "+proj=helmert +x=1000", (-180, -90, 180, 90),
        accuracy=5.0, is_offshore=True)
    noop_b = Candidate.from_projstring(
        "+proj=helmert +x=2000", (-180, -90, 180, 90),
        accuracy=1.0, is_offshore=False)
    alt = AltOperation([noop_a, noop_b])
    x, _, _, _, chosen = alt.apply(
        np.array([0.1]), np.array([0.1]), np.zeros(1), np.zeros(1), "fwd")
    assert chosen[0] == 1 and x[0] == pytest.approx(0.1 + 2000)

    # ...but an offshore later candidate never displaces (offshore test)
    alt2 = AltOperation([
        Candidate.from_projstring("+proj=helmert +x=1000", (-180, -90, 180, 90),
                                  accuracy=5.0),
        Candidate.from_projstring("+proj=helmert +x=2000", (-180, -90, 180, 90),
                                  accuracy=1.0, is_offshore=True),
    ])
    _, _, _, _, chosen2 = alt2.apply(
        np.array([0.1]), np.array([0.1]), np.zeros(1), np.zeros(1), "fwd")
    assert chosen2[0] == 0


def test_unknown_accuracy_first_match_is_sticky():
    """4D_api.cpp quirk preserved: a first match with accuracy -1 sets
    bestAccuracy=-1, which no later accuracy>=0 can beat."""
    alt = AltOperation([
        Candidate.from_projstring("+proj=helmert +x=1000", (-180, -90, 180, 90),
                                  accuracy=-1.0),
        Candidate.from_projstring("+proj=helmert +x=2000", (-180, -90, 180, 90),
                                  accuracy=0.01),
    ])
    _, _, _, _, chosen = alt.apply(
        np.array([0.1]), np.array([0.1]), np.zeros(1), np.zeros(1), "fwd")
    assert chosen[0] == 0


def test_inverse_direction_uses_dst_bbox():
    """Selection for direction='inv' must use the DESTINATION bboxes:
    a worse-accuracy world candidate exists, so routing to candidate 0
    proves the narrow dst bbox was consulted (not fallback order — the
    assertion on candidate 1 below would catch that)."""
    cands = [
        Candidate.from_projstring(
            "+proj=helmert +x=1000", bbox_src=(-10, -10, 10, 10),
            bbox_dst=(100, 20, 140, 60), accuracy=2.0),
        Candidate.from_projstring(
            "+proj=helmert +x=2000", bbox_src=(-10, -10, 10, 10),
            bbox_dst=(-180, -90, 180, 90), accuracy=1.0),
    ]
    alt = AltOperation(cands)
    # degree bboxes compare against RADIAN inputs (Operation.apply units)
    inside = np.array([120.0]) * D2R   # inside candidate-0's DST bbox
    outside = np.array([50.0]) * D2R   # only the world candidate matches
    lat = np.array([30.0]) * D2R
    x, _, _, _, chosen = alt.apply(
        np.concatenate([inside, outside]), np.concatenate([lat, lat]),
        np.zeros(2), np.zeros(2), "inv")
    # candidate 0 is spatially first for the inside point; candidate 1
    # (better accuracy, world bbox) replaces it — 4D_api ranking — so
    # the discriminating row is the OUTSIDE point: dst-bbox containment
    # must route it to candidate 1, while a src-bbox bug (src boxes
    # exclude both points) would route both to the fallback
    assert chosen[1] == 1 and x[1] == pytest.approx(outside[0] - 2000)
    assert chosen[0] == 1 and x[0] == pytest.approx(inside[0] - 2000)

    # and with NO world candidate, only the inside point matches c0 via
    # its dst bbox; the outside point must fall back (helmert grid-free)
    alt2 = AltOperation(cands[:1])
    x2, _, _, _, ch2 = alt2.apply(
        np.concatenate([inside, outside]), np.concatenate([lat, lat]),
        np.zeros(2), np.zeros(2), "inv")
    assert ch2[0] == 0 and x2[0] == pytest.approx(inside[0] - 1000)
    # outside point: no spatial match -> grid-free fallback chose c0 too,
    # but ONLY via the fallback path; prove selection saw no match by
    # checking a grids-only variant errors instead
    grid_only = [Candidate.from_projstring(
        "+proj=hgridshift +grids=conus", bbox_src=(-10, -10, 10, 10),
        bbox_dst=(100, 20, 140, 60), accuracy=1.0)]
    x3, _, _, _, ch3 = AltOperation(grid_only).apply(
        outside, lat, np.zeros(1), np.zeros(1), "inv")
    assert ch3[0] == -1 and not np.isfinite(x3[0])


def test_alt_transform_dataframe_surface(spark):
    """Spark surface equals the NumPy engine row-for-row."""
    import pandas as pd

    from proj_4_spark.engine.altops import alt_transform

    cands = _nad27_candidates()
    pdf = pd.DataFrame({
        "pt_id": [0, 1, 2, 3],
        "lon": [-100.0, -150.0, -111.5, 120.0],
        "lat": [40.0, 63.0, 45.26, 30.0],
    })
    out = (alt_transform(spark.createDataFrame(pdf), cands)
           .orderBy("pt_id").toPandas())
    alt = AltOperation(cands)
    ex, ey, _, _, ec = alt.apply(
        pdf["lon"].to_numpy() * D2R, pdf["lat"].to_numpy() * D2R,
        np.zeros(4), np.zeros(4), "fwd")
    assert out["chosen_op"].tolist() == ec.tolist() == [0, 1, 0, 2]
    np.testing.assert_array_equal(out["x"].to_numpy(), ex)
    np.testing.assert_array_equal(out["y"].to_numpy(), ey)


def test_alt_transform_rejects_candidate_without_spec():
    """The Spark surface ships projstring specs to the workers; a
    bespoke-op candidate is refused by name (AltOperation still runs it
    in NumPy)."""
    from proj_4_spark.engine.altops import alt_transform
    from proj_4_spark.engine.plan import create_operation

    bespoke = Candidate(op=create_operation("+proj=helmert +x=1"),
                        bbox_src=(-180.0, -90.0, 180.0, 90.0),
                        name="bespoke helmert")
    shipped = Candidate.from_projstring("+proj=helmert +x=2",
                                        (-180.0, -90.0, 180.0, 90.0))
    with pytest.raises(ValueError, match="bespoke helmert"):
        alt_transform(None, [shipped, bespoke])
    x, _, _, _, ch = AltOperation([bespoke]).apply(
        np.array([0.1]), np.array([0.2]), np.zeros(1), np.zeros(1), "fwd")
    assert ch[0] == 0 and np.isfinite(x[0])


def test_crs_to_crs_candidates_nad27_catalog_routing():
    """VERDICT r3 #9: alt_transform from two CRS names — the candidate
    list is built from the GENERATED EPSG catalog (TRANSFORMS table:
    grid_transformation + helmert_transformation rows with usage
    extents), matching proj_create_crs_to_crs_from_pj's shape
    (src/4D_api.cpp:1264-1354) for the cataloged subset.

    NAD27->NAD83: conus points route to the conus NADCON grid, alaska
    points (across the antimeridian-split extent) to the alaska grid,
    points outside every installed grid error — and each routed value
    equals the directly-applied single-grid operation."""
    import warnings

    import numpy as np

    from proj_4_spark import create_operation
    from proj_4_spark.engine.altops import AltOperation, crs_to_crs_candidates

    warnings.filterwarnings("ignore")
    cands = crs_to_crs_candidates("EPSG:4267", "EPSG:4269")
    names = [c.name for c in cands]
    assert names[0] == "NAD27 to NAD83 (1)"          # conus, acc 0.15
    assert names.count("NAD27 to NAD83 (2)") == 2    # alaska, split bbox
    assert all(c.accuracy > 0 for c in cands)

    alt = AltOperation(cands)
    D = np.pi / 180.0
    # gie-style vectors: two conus, two alaska, one uncovered (Hawaii)
    lon = np.array([-100.0, -87.5, -150.0, -165.0, -157.8]) * D
    lat = np.array([40.0, 35.2, 62.0, 64.5, 21.3]) * D
    z = np.zeros(5)
    ox, oy, _, _, chosen = alt.apply(lon, lat, z, z.copy(), "fwd")
    assert [cands[i].name if i >= 0 else None for i in chosen] == [
        "NAD27 to NAD83 (1)", "NAD27 to NAD83 (1)",
        "NAD27 to NAD83 (2)", "NAD27 to NAD83 (2)", None]
    assert np.isnan(ox[4]) and np.isnan(oy[4])

    conus = create_operation("+proj=hgridshift +grids=conus",
                             emulation=False)
    alaska = create_operation("+proj=hgridshift +grids=alaska",
                              emulation=False)
    cx, cy, _, _ = conus.apply(lon[:2], lat[:2], z[:2], z[:2].copy())
    ax, ay, _, _ = alaska.apply(lon[2:4], lat[2:4], z[:2], z[:2].copy())
    assert np.array_equal(ox[:2], cx) and np.array_equal(oy[:2], cy)
    assert np.array_equal(ox[2:4], ax) and np.array_equal(oy[2:4], ay)
    # the shift is real (NAD27->NAD83 is tens of meters here)
    assert 0.5 < abs(ox[0] - lon[0]) / D * 3600 < 5.0


def test_crs_to_crs_candidates_helmert_and_inverse():
    """Helmert entries compile to cart->helmert->cart⁻¹ pipelines; a
    reversed (dst, src) lookup wraps the operation in +inv and
    round-trips against the forward candidate."""
    import warnings

    import numpy as np

    from proj_4_spark.engine.altops import AltOperation, crs_to_crs_candidates

    warnings.filterwarnings("ignore")
    # ED50 (4230) -> WGS84 (4326): helmert entries from the catalog
    fwd = crs_to_crs_candidates("EPSG:4230", "EPSG:4326")
    inv = crs_to_crs_candidates("EPSG:4326", "EPSG:4230")
    assert any("+proj=helmert" in (c.spec or "") for c in fwd)
    D = np.pi / 180.0
    lon, lat = np.array([2.3 * D]), np.array([48.8 * D])  # Paris: ED50 zone
    z = np.zeros(1)
    fx, fy, fz, _, ch = AltOperation(fwd).apply(lon, lat, z, z.copy(), "fwd")
    assert ch[0] >= 0
    shift_m = abs(fx[0] - lon[0]) / D * 111000
    assert 30 < shift_m < 200  # ED50->WGS84 is ~100 m in France
    # applying the matching reversed candidate returns the input (the
    # forward's ellipsoidal height must ride along — dropping it is the
    # classic 2D datum-shift ~1e-8 deg height-coupling error)
    rc = next(c for c in inv if c.name == fwd[ch[0]].name)
    rx, ry, _, _ = rc.op.apply(fx, fy, fz, z.copy())
    assert abs(rx[0] - lon[0]) / D < 1e-9 and abs(ry[0] - lat[0]) / D < 1e-9


def test_crs_to_crs_candidates_ignf_authority():
    """TRANSFORMS also carries the IGNF registry's operations: the
    NTF->RGF93 geographic pair routes through the ntf_r93.gsb NTv2
    candidate, matching the classic IGNF nadgrids chain."""
    import warnings

    import numpy as np

    from proj_4_spark.engine.altops import AltOperation, crs_to_crs_candidates

    warnings.filterwarnings("ignore")
    cands = crs_to_crs_candidates("IGNF:NTFG", "IGNF:RGF93G")
    assert any(c.needs_grids for c in cands)
    D = np.pi / 180.0
    x, y = np.array([2.3 * D]), np.array([48.8 * D])  # Paris
    z = np.zeros(1)
    ox, oy, _, _, ch = AltOperation(cands).apply(x, y, z, z.copy(), "fwd")
    assert ch[0] >= 0
    # NTF -> RGF93 around Paris is a few arc-seconds (~-168 m in X)
    dlon_as = (ox[0] - x[0]) / D * 3600
    assert -4.0 < dlon_as < -1.0, dlon_as


def test_crs_to_crs_candidates_non_wgs84_cart_ellipsoids():
    """Helmert cart legs resolve each side's OWN ellipsoid from its
    authority registry — pairs whose target is not WGS84-ellipsoid
    (ESRI:104106 Lisboa Hayford -> ESRI:104105 Lisboa Bessel, and
    ESRI:104027 ONGD17 -> EPSG:8989 ITRF89) must not get a hardcoded
    +ellps=WGS84 target leg (ADVICE r4, medium)."""
    import warnings

    import numpy as np

    from proj_4_spark.engine.altops import AltOperation, crs_to_crs_candidates

    warnings.filterwarnings("ignore")
    lis = crs_to_crs_candidates("ESRI:104106", "ESRI:104105")
    assert lis, "Lisboa pair must be cataloged"
    for c in lis:
        steps = (c.spec or "").split("+step")
        assert "ellps=intl" in steps[1], c.spec      # Hayford source leg
        assert "ellps=bessel" in steps[-1], c.spec   # Bessel target leg

    ong = crs_to_crs_candidates("ESRI:104027", "EPSG:8989")
    for c in ong:
        steps = (c.spec or "").split("+step")
        assert "ellps=GRS80" in steps[1] and "ellps=GRS80" in steps[-1]

    # value check: fwd through the Lisboa pair then the reversed lookup
    # returns the input only when the legs use the right ellipsoids
    inv = crs_to_crs_candidates("ESRI:104105", "ESRI:104106")
    D = np.pi / 180.0
    lon, lat = np.array([-9.14 * D]), np.array([38.71 * D])  # Lisbon
    z = np.zeros(1)
    fx, fy, fz, _, ch = AltOperation(lis).apply(lon, lat, z, z.copy(), "fwd")
    assert ch[0] >= 0
    rc = next(c for c in inv if c.name == lis[ch[0]].name)
    rx, ry, _, _ = rc.op.apply(fx, fy, fz, z.copy())
    assert abs(rx[0] - lon[0]) / D < 1e-9 and abs(ry[0] - lat[0]) / D < 1e-9


def test_hub_composed_candidates_for_unlisted_pair():
    """A CRS pair with NO direct TRANSFORMS entry composes src->WGS84->
    dst from each side's cataloged hub entries, mirroring
    CoordinateOperationFactory::createOperations' pivot behavior
    (src/iso19111/coordinateoperation.cpp:11099+) — VERDICT r4 item 2.
    DHDN (EPSG:4314) <-> ED50 (EPSG:4230): overlapping areas, both
    hub-connected, no direct entry."""
    import warnings

    import numpy as np

    from proj_4_spark.engine.altops import AltOperation, crs_to_crs_candidates
    from proj_4_spark.sources.epsg_generated import TRANSFORMS

    warnings.filterwarnings("ignore")
    assert (4314, 4230) not in TRANSFORMS and (4230, 4314) not in TRANSFORMS

    cands = crs_to_crs_candidates("EPSG:4314", "EPSG:4230")
    assert cands, "hub composition must produce candidates"
    # cost-ranked: known accuracies ascending, then unknowns
    accs = [c.accuracy for c in cands if c.accuracy >= 0]
    assert accs == sorted(accs)
    # composed accuracy = sum of the component accuracies (>= either)
    assert all(a >= 1.0 for a in accs)
    # the pipeline pivots through WGS84: bessel cart leg in, intl out
    assert "+ellps=bessel" in cands[0].spec
    assert "via WGS84 hub" in cands[0].name

    D = np.pi / 180.0
    lon, lat = np.array([9.0 * D]), np.array([51.0 * D])  # central Germany
    z = np.zeros(1)
    x, y, zz, _, ch = AltOperation(cands).apply(lon, lat, z, z.copy(), "fwd")
    assert ch[0] >= 0
    # DHDN -> ED50 over Germany is a tens-of-metres shift
    dn = abs(y[0] - lat[0]) / D * 111000
    assert 20 < dn < 120, dn

    # the reverse-direction lookup composes the inverse route and
    # returns to the input within the composed accuracy bound
    inv = crs_to_crs_candidates("EPSG:4230", "EPSG:4314")
    rx, ry, _, _, ch2 = AltOperation(inv).apply(x, y, zz, z.copy(), "fwd")
    assert ch2[0] >= 0
    err_m = max(abs(rx[0] - lon[0]), abs(ry[0] - lat[0])) / D * 111000
    assert err_m < cands[ch[0]].accuracy + inv[ch2[0]].accuracy + 1.0

    # disjoint-area pair (ED50 vs NAD27): no spatial intersection ->
    # explicit LookupError, not a bogus world-wide candidate
    import pytest

    with pytest.raises(LookupError):
        crs_to_crs_candidates("EPSG:4230", "EPSG:4267")


def test_vertical_candidates_offset_and_vertcon():
    """Vertical-to-vertical operations from the generated catalog
    (VERT_TRANSFORMS): constant Vertical Offset entries apply as
    geogoffset candidates (value-checked both directions); VERTCON
    grid entries are cataloged and skip cleanly when the vertcon .gtx
    grids are not installed."""
    import warnings

    import numpy as np
    import pytest

    from proj_4_spark.engine.altops import AltOperation, vertical_candidates

    warnings.filterwarnings("ignore")
    # NZVD2009 -> One Tree Point 1964: +0.06 m (EPSG:4441)
    cands = vertical_candidates("EPSG:4440", "EPSG:5767")
    assert cands and cands[0].spec.startswith("+proj=geogoffset +dh=0.06")
    D = np.pi / 180.0
    lon, lat = np.array([174.0 * D]), np.array([-35.5 * D])
    z = np.zeros(1)
    _, _, oz, _, ch = AltOperation(cands).apply(lon, lat, z, z.copy(), "fwd")
    assert ch[0] >= 0 and abs(oz[0] - 0.06) < 1e-12
    # reversed lookup inverts the offset
    inv = vertical_candidates("EPSG:5767", "EPSG:4440")
    _, _, rz, _, ch2 = AltOperation(inv).apply(lon, lat, oz, z.copy(), "fwd")
    assert ch2[0] >= 0 and abs(rz[0]) < 1e-12

    # NGVD29 -> NAVD88 is cataloged via the three VERTCON grids; none
    # are installed, so the lookup reports that explicitly
    from proj_4_spark.sources.epsg_generated import VERT_TRANSFORMS

    assert len(VERT_TRANSFORMS[(5702, 5703)]) == 3
    with pytest.raises(LookupError, match="grids that are not installed"):
        vertical_candidates("EPSG:5702", "EPSG:5703")


def test_missing_grid_direct_entries_fall_back_to_hub():
    """A pair whose DIRECT catalog entries all need uninstalled grids
    (Old Hawaiian -> NAD83(HARN), EPSG:4135 -> EPSG:4152) falls back to
    the WGS84-hub composition instead of erroring."""
    import warnings

    import numpy as np

    from proj_4_spark.engine.altops import AltOperation, crs_to_crs_candidates
    from proj_4_spark.sources.epsg_generated import TRANSFORMS

    warnings.filterwarnings("ignore")
    direct = (list(TRANSFORMS.get((4135, 4152), []))
              + list(TRANSFORMS.get((4152, 4135), [])))
    assert direct and all(e[2] == "grid" for e in direct)

    cands = crs_to_crs_candidates("EPSG:4135", "EPSG:4152")
    assert cands and all("via WGS84 hub" in c.name for c in cands)
    D = np.pi / 180.0
    lon, lat = np.array([-157.8 * D]), np.array([21.3 * D])  # Honolulu
    z = np.zeros(1)
    x, y, _, _, ch = AltOperation(cands).apply(lon, lat, z, z.copy(), "fwd")
    assert ch[0] >= 0
    # Old Hawaiian -> NAD83 is a ~250-500 m datum shift around Hawaii
    dm = np.hypot((x[0] - lon[0]) * 111000 * np.cos(lat[0]),
                  (y[0] - lat[0]) * 111000) / D
    assert 100 < dm < 800, dm
