"""Property-based tests (hypothesis): forward/inverse roundtrip closure
and basic invariants across a wide slice of the projection registry.

Complements the gie corpus (fixed golden vectors) with randomized
domain coverage — the reference's own gie_self_tests plus fuzzing, in
spirit.  Tolerances are in degrees after a fwd->inv roundtrip, chosen
per projection family (iterative inverses accumulate more than
closed-form ones)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from proj_4_spark.engine.plan import create_operation

D = np.pi / 180

# (projstring, lon range, lat range, roundtrip tol in degrees)
CASES = [
    ("+proj=utm +zone=32 +ellps=GRS80", (3, 15), (-80, 80), 1e-9),
    ("+proj=merc +ellps=WGS84", (-179, 179), (-85, 85), 1e-9),
    ("+proj=webmerc +ellps=WGS84", (-179, 179), (-85, 85), 1e-9),
    ("+proj=lcc +ellps=GRS80 +lat_1=33 +lat_2=45 +lat_0=40 +lon_0=-96",
     (-140, -50), (5, 75), 1e-9),
    ("+proj=aea +ellps=GRS80 +lat_1=29.5 +lat_2=45.5", (-60, 60), (-80, 80), 1e-8),
    ("+proj=stere +lat_0=90 +lat_ts=70 +ellps=WGS84", (-179, 179), (10, 89), 1e-8),
    ("+proj=sterea +lat_0=52.15 +lon_0=5.38 +k=0.9999 +ellps=bessel",
     (-10, 20), (40, 60), 1e-9),
    ("+proj=laea +lat_0=45 +lon_0=10 +ellps=GRS80", (-60, 80), (-30, 85), 1e-7),
    ("+proj=eqc +ellps=GRS80 +lat_ts=30", (-179, 179), (-89, 89), 1e-9),
    ("+proj=cea +ellps=GRS80", (-179, 179), (-80, 80), 1e-6),  # authlat series
    ("+proj=cass +ellps=GRS80 +lon_0=10", (6, 14), (-75, 75), 1e-5),  # fwd/inv series pair not exactly mutual (PROJ-inherent)
    ("+proj=eqdc +ellps=GRS80 +lat_1=20 +lat_2=60", (-80, 80), (-70, 85), 1e-8),
    ("+proj=omerc +lat_0=4 +lonc=115 +alpha=53.315 +k=0.99984 +ellps=GRS80",
     (90, 140), (-30, 40), 1e-8),
    ("+proj=somerc +lat_0=46.95 +lon_0=7.44 +k_0=1 +ellps=bessel",
     (-10, 25), (30, 60), 1e-9),
    ("+proj=krovak +ellps=bessel", (10, 22), (44, 54), 1e-8),
    ("+proj=poly +ellps=GRS80 +lon_0=10", (-30, 50), (-70, 70), 1e-7),
    ("+proj=moll +R=6400000", (-179, 179), (-85, 85), 1e-7),
    ("+proj=sinu +ellps=GRS80", (-179, 179), (-85, 85), 1e-8),
    ("+proj=robin +R=6400000", (-179, 179), (-85, 85), 1e-5),
    ("+proj=eqearth +ellps=GRS80", (-179, 179), (-85, 85), 1e-7),
    ("+proj=geos +h=35785831 +ellps=GRS80 +lon_0=0", (-60, 60), (-55, 55), 1e-7),
    ("+proj=aeqd +lat_0=40 +lon_0=10 +ellps=GRS80", (-60, 80), (-40, 85), 1e-7),
    ("+proj=gnom +lat_0=45 +lon_0=10 +R=6400000", (-30, 50), (10, 80), 1e-8),
    ("+proj=ortho +lat_0=45 +lon_0=10 +R=6400000", (-40, 60), (0, 85), 1e-7),
    ("+proj=tmerc +approx +ellps=GRS80 +lon_0=9", (3, 15), (-80, 80), 1e-8),
    ("+proj=healpix +R=6400000", (-179, 179), (-85, 85), 1e-7),
    ("+proj=qsc +ellps=GRS80 +lat_0=0 +lon_0=0", (-40, 40), (-40, 40), 1e-6),  # conformal-lat series
    ("+proj=nzmg", (166, 179), (-48, -34), 1e-8),
    ("+proj=mill +R=6400000", (-179, 179), (-80, 80), 1e-8),
    ("+proj=eck4 +R=6400000", (-179, 179), (-85, 85), 1e-7),
]

_OPS = {}


def _op(ps):
    if ps not in _OPS:
        _OPS[ps] = create_operation(ps)
    return _OPS[ps]


@pytest.mark.parametrize("ps,lon_rng,lat_rng,tol", CASES)
@settings(max_examples=40, deadline=None)
@given(data=st.data())
def test_roundtrip_property(ps, lon_rng, lat_rng, tol, data):
    lon = data.draw(st.floats(*lon_rng, allow_nan=False))
    lat = data.draw(st.floats(*lat_rng, allow_nan=False))
    _check_roundtrip(ps, lon, lat, tol)


@pytest.mark.parametrize("ps,lon,lat,tol", [
    # the ellipsoidal inverse once cancelled near the equator: this
    # point came back at lat 0.0
    ("+proj=qsc +ellps=GRS80 +lat_0=0 +lon_0=0", 0.0, 1.03e-6, 1e-6),
])
def test_roundtrip_examples(ps, lon, lat, tol):
    _check_roundtrip(ps, lon, lat, tol)


def _check_roundtrip(ps, lon, lat, tol):
    op = _op(ps)
    x, y, _, _ = op.apply(np.array([lon * D]), np.array([lat * D]),
                          np.zeros(1), np.zeros(1))
    assert np.isfinite(x[0]) and np.isfinite(y[0]), (ps, lon, lat)
    lo, la, _, _ = op.apply(x, y, np.zeros(1), np.zeros(1), "inv")
    assert abs(lo[0] / D - lon) < tol, (ps, lon, lat, lo[0] / D)
    assert abs(la[0] / D - lat) < tol, (ps, lon, lat, la[0] / D)


@settings(max_examples=60, deadline=None)
@given(
    lat1=st.floats(-89.9, 89.9), lon1=st.floats(-180, 180),
    lat2=st.floats(-89.9, 89.9), lon2=st.floats(-180, 180),
)
def test_geodesic_inverse_direct_closure_property(lat1, lon1, lat2, lon2):
    """inverse -> direct closes on the second point; distance symmetric."""
    from proj_4_spark.kernels.geodesic import Geodesic

    g = Geodesic(6378137.0, 1 / 298.257223563)
    s12, azi1, _, _ = g.inverse(np.array([lat1]), np.array([lon1]),
                                np.array([lat2]), np.array([lon2]))
    la, lo, _, _ = g.direct(np.array([lat1]), np.array([lon1]), azi1, s12)
    assert abs(la[0] - lat2) < 1e-8
    dlon = abs((lo[0] - lon2 + 180.0) % 360.0 - 180.0)
    assert dlon * np.cos(lat2 * D) < 1e-8
    s21, _, _, _ = g.inverse(np.array([lat2]), np.array([lon2]),
                             np.array([lat1]), np.array([lon1]))
    assert abs(s12[0] - s21[0]) < 1e-6


@pytest.mark.parametrize("lat0,lat_rng", [(40.0, (-42, -38)), (0.0, (-2, 2))])
def test_aeqd_near_antipode_matches_karney(lat0, lat_rng):
    """Ellipsoidal oblique/equatorial aeqd near the antipode of its centre
    (aeqd.cpp:70-78,155-161): the radius is the Karney geodesic distance
    from the centre, and fwd -> inv closes.  Seeded NumPy sample."""
    from proj_4_spark.kernels.geodesic import Geodesic

    rng = np.random.default_rng(20261017)
    n = 2000
    lon = rng.uniform(-172, -168, n)
    lat = rng.uniform(*lat_rng, n)
    op = _op(f"+proj=aeqd +lat_0={lat0:g} +lon_0=10 +ellps=GRS80")
    x, y, _, _ = op.apply(lon * D, lat * D, np.zeros(n), np.zeros(n))
    s12, _, _, _ = Geodesic(op.P.a, op.P.f).inverse(
        np.full(n, lat0), np.full(n, 10.0), lat, lon)
    assert np.max(np.abs(np.hypot(x, y) - s12)) < 1e-6
    lo, la, _, _ = op.apply(x, y, np.zeros(n), np.zeros(n), "inv")
    dlon = (lo / D - lon + 180.0) % 360.0 - 180.0
    assert np.max(np.abs(dlon)) < 1e-9
    assert np.max(np.abs(la / D - lat)) < 1e-9
