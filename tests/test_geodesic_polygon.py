"""Geodesic polygon area + line sampling, pinned against the
reference's own planimeter cases (src/tests/geodtest.cpp:809-907) and
GeodSolve74's S12 value (:663-680)."""
import math

import numpy as np
import pytest

from proj_4_spark.kernels.geodesic import (
    Geodesic,
    geodesic_polygon_area,
    geodesic_polyline_length,
)


def _planimeter(lons, lats):
    return geodesic_polygon_area(lons, lats)


def test_geodsolve74_s12():
    """geodtest.cpp GeodSolve74: the per-edge area term S12."""
    g = Geodesic()
    s12, azi1, azi2, a12, S12 = g.inverse(
        np.array([54.1589]), np.array([15.3872]),
        np.array([54.1591]), np.array([15.3877]), want_area=True)
    assert azi1[0] == pytest.approx(55.723110355, abs=5e-9)
    assert azi2[0] == pytest.approx(55.723515675, abs=5e-9)
    assert s12[0] == pytest.approx(39.527686385, abs=5e-9)
    assert S12[0] == pytest.approx(286698586.30197, abs=5e-4)


def test_planimeter0():
    """Pole-encircling fix (geodtest.cpp:809-840)."""
    a, p, _ = _planimeter([0, 90, 180, 270], [89, 89, 89, 89])
    assert p == pytest.approx(631819.8745, abs=1e-4)
    assert a == pytest.approx(24952305678.0, abs=1)

    a, p, _ = _planimeter([0, 90, 180, 270], [-89, -89, -89, -89])
    assert p == pytest.approx(631819.8745, abs=1e-4)
    assert a == pytest.approx(-24952305678.0, abs=1)

    a, p, _ = _planimeter([-1, 0, 1, 0], [0, -1, 0, 1])
    assert p == pytest.approx(627598.2731, abs=1e-4)
    assert a == pytest.approx(24619419146.0, abs=1)

    a, p, _ = _planimeter([0, 0, 90], [90, 0, 0])
    assert p == pytest.approx(30022685, abs=1)
    assert a == pytest.approx(63758202715511.0, abs=1)

    length, _ = geodesic_polyline_length([0, 0, 90], [90, 0, 0])
    assert length == pytest.approx(20020719, abs=1)


def test_planimeter5_pole_crossing():
    a, p, _ = _planimeter([0.1, 90.1, -179.9], [89, 89, 89])
    assert p == pytest.approx(539297, abs=1)
    assert a == pytest.approx(12476152838.5, abs=1)


def test_planimeter6_lon12_rounding():
    for lons in ([-0.00000000000001, 180, 0], [0.00000000000001, 0, 180],
                 [0.00000000000001, 180, 0], [-0.00000000000001, 0, 180]):
        a, p, _ = _planimeter(lons, [9, 9, 9])
        assert p == pytest.approx(36026861, abs=1)
        assert a == pytest.approx(0, abs=1)


def test_planimeter12_arctic_circle():
    a, p, _ = _planimeter([0, 180], [66.562222222, 66.562222222])
    assert p == pytest.approx(10465729, abs=1)
    assert a == pytest.approx(0, abs=1)


def test_planimeter13_pole_encircled_twice():
    a, p, _ = _planimeter([-360, -240, -120, 0, 120, 240],
                          [89, 89, 89, 89, 89, 89])
    assert p == pytest.approx(1160741, abs=1)
    assert a == pytest.approx(32415230256.0, abs=1)


def test_planimeter15_sign_reverse_combinations():
    """geodtest.cpp:908-955 — the compute(reverse, sign) variants of the
    (2,1)(1,2)(3,3) triangle."""
    r = 18454562325.45119
    a0 = 510065621724088.5093  # ellipsoid area
    lons, lats = [1, 2, 3], [2, 1, 3]
    a, _, _ = geodesic_polygon_area(lons, lats, reverse=False, sign=True)
    assert a == pytest.approx(r, abs=0.5)
    a, _, _ = geodesic_polygon_area(lons, lats, reverse=False, sign=False)
    assert a == pytest.approx(r, abs=0.5)
    a, _, _ = geodesic_polygon_area(lons, lats, reverse=True, sign=True)
    assert a == pytest.approx(-r, abs=0.5)
    a, _, _ = geodesic_polygon_area(lons, lats, reverse=True, sign=False)
    assert a == pytest.approx(a0 - r, abs=0.5)


def test_inverse_without_area_unchanged():
    """want_area must not perturb the 4-tuple path (regression guard)."""
    g = Geodesic()
    base = g.inverse(np.array([40.6]), np.array([-73.8]),
                     np.array([51.6]), np.array([-0.5]))
    w = g.inverse(np.array([40.6]), np.array([-73.8]),
                  np.array([51.6]), np.array([-0.5]), want_area=True)
    for i in range(4):
        np.testing.assert_array_equal(base[i], w[i])


@pytest.mark.parametrize("position", ["lat1", "lon1", "lat2", "lon2"])
@pytest.mark.parametrize("bad", [math.nan, math.inf])
def test_inverse_non_finite_input_is_nan(position, bad):
    """Any non-finite input gives NaN s12/azi1/azi2/a12/S12, as in
    GeographicLib (a NaN longitude gave s12 = 9,985,168 m, a NaN lat1
    azi1 = 90); the finite rows beside it are unchanged."""
    g = Geodesic()
    args = {"lat1": [40.6, 40.6], "lon1": [-73.8, -73.8],
            "lat2": [51.6, 51.6], "lon2": [-0.5, -0.5]}
    args[position][1] = bad
    out = g.inverse(*(np.array(args[k]) for k in ("lat1", "lon1", "lat2",
                                                   "lon2")), want_area=True)
    ref = g.inverse(np.array([40.6]), np.array([-73.8]),
                    np.array([51.6]), np.array([-0.5]), want_area=True)
    for got, want in zip(out, ref):
        assert got[0] == want[0]
        assert np.isnan(got[1]), (position, bad, out)


def test_inverse_karney_nan_input_is_nan():
    from proj_4_spark.kernels.geodesic import geodesic_inverse_karney

    assert np.isnan(geodesic_inverse_karney(math.nan, 0.0, 1.0, 1.0)).all()


def test_polygon_with_nan_vertex_is_nan():
    """One NaN vertex poisons area and perimeter (it gave area
    -2.54e14 m^2 and perimeter 10,207,062 m)."""
    area, perim, n = geodesic_polygon_area([0, 1, math.nan, 0], [0, 0, 1, 1])
    assert math.isnan(area) and math.isnan(perim) and n == 4
    area, perim, _ = geodesic_polygon_area([0, 1, 1, 0], [0, 0, math.nan, 1])
    assert math.isnan(area) and math.isnan(perim)


def test_polygon_area_df(spark):
    """DataFrame aggregate equals the NumPy engine per polygon."""
    import pandas as pd

    from proj_4_spark.engine.spark import geodesic_polygon_area_df

    polys = {
        "tri": ([1, 2, 3], [2, 1, 3]),
        "pole": ([0, 90, 180, 270], [89, 89, 89, 89]),
        "eq": ([-1, 0, 1, 0], [0, -1, 0, 1]),
    }
    rows = [(pid, lo, la, i)
            for pid, (lons, lats) in polys.items()
            for i, (lo, la) in enumerate(zip(lons, lats))]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["poly_id", "lon", "lat", "seq"]))
    got = geodesic_polygon_area_df(df).toPandas().set_index("poly_id")
    for pid, (lons, lats) in polys.items():
        area, perim, n = geodesic_polygon_area(lons, lats)
        assert got.loc[pid, "area_m2"] == pytest.approx(area, rel=0, abs=1e-6)
        assert got.loc[pid, "perimeter_m"] == pytest.approx(perim, abs=1e-9)
        assert got.loc[pid, "n_vertices"] == n


def test_line_sample_df(spark):
    """Waypoints lie on the geodesic: endpoint exactness + monotone
    distance along the line (JFK->LHR)."""
    import pandas as pd

    from proj_4_spark.engine.spark import geodesic_line_sample_df
    from proj_4_spark.kernels.geodesic import _cached_geodesic

    df = spark.createDataFrame(pd.DataFrame({
        "line_id": ["jfk-lhr"],
        "lon1": [-73.7789], "lat1": [40.6413],
        "lon2": [-0.4543], "lat2": [51.4700],
    }))
    got = (geodesic_line_sample_df(df, n_points=9)
           .orderBy("k").toPandas())
    assert len(got) == 9
    # k=0 is the start point, k=8 the end point (direct at s=0 and s=s12)
    assert got.iloc[0]["wp_lon"] == pytest.approx(-73.7789, abs=1e-9)
    assert got.iloc[0]["wp_lat"] == pytest.approx(40.6413, abs=1e-9)
    assert got.iloc[8]["wp_lon"] == pytest.approx(-0.4543, abs=1e-8)
    assert got.iloc[8]["wp_lat"] == pytest.approx(51.4700, abs=1e-8)
    # equal spacing: consecutive waypoint separations all ~= s12/8
    g = _cached_geodesic(6378137.0, 1 / 298.257223563)
    lats = got["wp_lat"].to_numpy()
    lons = got["wp_lon"].to_numpy()
    seg, _, _, _ = g.inverse(lats[:-1], lons[:-1], lats[1:], lons[1:])
    assert np.allclose(seg, seg[0], rtol=1e-9)


def test_polygon_area_properties():
    """Property checks (hypothesis-style over seeded samples):
    - reversing vertex order negates the signed area (sign=True);
    - splitting a convex polygon along a diagonal: areas add;
    - perimeter is rotation-invariant (cyclic shift of vertices)."""
    rng = np.random.default_rng(17)
    for trial in range(25):
        cx = rng.uniform(-150, 150)
        cy = rng.uniform(-60, 60)
        k = int(rng.integers(4, 9))
        radius = rng.uniform(0.5, 6.0)
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        lons = cx + radius * np.cos(ang)
        lats = cy + radius * np.sin(ang)

        a_fwd, p_fwd, _ = geodesic_polygon_area(lons, lats)
        a_rev, p_rev, _ = geodesic_polygon_area(lons[::-1], lats[::-1])
        assert a_rev == pytest.approx(-a_fwd, rel=0, abs=1e-3)
        assert p_rev == pytest.approx(p_fwd, abs=1e-6)

        # split along the 0 -> j diagonal (convex by construction)
        j = k // 2
        a1, _, _ = geodesic_polygon_area(lons[:j + 1], lats[:j + 1])
        a2, _, _ = geodesic_polygon_area(
            np.concatenate([lons[j:], lons[:1]]),
            np.concatenate([lats[j:], lats[:1]]))
        assert a1 + a2 == pytest.approx(a_fwd, rel=1e-9, abs=1e-2), trial

        # cyclic shift: same polygon
        s = int(rng.integers(1, k))
        a_shift, p_shift, _ = geodesic_polygon_area(
            np.roll(lons, s), np.roll(lats, s))
        assert a_shift == pytest.approx(a_fwd, rel=0, abs=1e-3)
        assert p_shift == pytest.approx(p_fwd, abs=1e-6)
