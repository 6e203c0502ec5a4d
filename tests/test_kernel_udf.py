"""The NumPy-kernel UDFs' error contract (proj_4_spark/kernel_udf.py):
a NULL or NaN input row reads NaN in its float outputs on every UDF
surface, as on the Catalyst twins.  Results are read with collect()
or SQL isnan, never toPandas(), which reads a NULL as NaN too."""
import math

import pytest

NAN = float("nan")


def _is_nan(v) -> bool:
    """A float NaN, not a NULL (None)."""
    return isinstance(v, float) and math.isnan(v)


@pytest.fixture(scope="module")
def pts(spark):
    """Row 1 finite; rows 2-5 have a NaN or NULL lon or lat."""
    return spark.createDataFrame(
        [(1, 10.0, 20.0), (2, NAN, 20.0), (3, None, 20.0),
         (4, 10.0, NAN), (5, 10.0, None)],
        "id int, lon double, lat double")


def _rows(df, cols):
    return {r.id: tuple(r[c] for c in cols)
            for r in df.select("id", *cols).collect()}


def _assert_error_rows_nan(df, cols):
    """Row 1 finite, rows 2-5 NaN (not NULL) in every column of `cols`,
    by collect() and by SQL isnan."""
    rows = _rows(df, cols)
    assert all(math.isfinite(v) for v in rows[1]), rows
    for i in (2, 3, 4, 5):
        assert all(_is_nan(v) for v in rows[i]), (i, rows)
    cond = " AND ".join(f"isnan({c})" for c in cols)
    assert df.where(cond).count() == 4


def test_transform_udf_path_error_rows_are_nan(spark, pts):
    """robin inverse has no twin: its Arrow-UDF path wrote NULL x/y for
    a NaN or NULL input (a twin writes NaN)."""
    from proj_4_spark.engine.spark import describe_route, transform

    assert describe_route("+proj=robin", "inv") == "udf"
    m = pts.selectExpr("id", "lon * 1e5 AS x", "lat * 1e5 AS y")
    out = transform(m, "+proj=robin", x="x", y="y", direction="inv",
                    out_prefix="o_")
    _assert_error_rows_nan(out, ["o_x", "o_y"])
    # keep_errors=False drops exactly those rows
    kept = transform(m, "+proj=robin", x="x", y="y", direction="inv",
                     out_prefix="o_", keep_errors=False)
    assert [r.id for r in kept.collect()] == [1]


def test_transform_udf_path_error_rows_match_twin(spark, pts, udf_transform):
    """The same error rows through utm forward as a twin and on the
    Arrow-UDF path read NaN on both."""
    from proj_4_spark.engine.spark import transform

    utm = "+proj=utm +zone=32 +ellps=GRS80"
    for out in (transform(pts, utm, x="lon", y="lat"),
                udf_transform(pts, utm, x="lon", y="lat")):
        _assert_error_rows_nan(out, ["x", "y"])


def test_geodesic_inverse_df_error_rows_are_nan(spark, pts):
    from proj_4_spark.engine.spark import geodesic_inverse_df

    out = geodesic_inverse_df(pts.selectExpr("*", "1.0 AS lon2",
                                             "2.0 AS lat2"),
                              "lon", "lat", "lon2", "lat2")
    _assert_error_rows_nan(out, ["geo_s12", "geo_azi1", "geo_azi2"])


def test_geodesic_direct_df_error_rows_are_nan(spark, pts):
    """A NULL/NaN lat1, azi1 or s12 leaves no output; a NULL/NaN lon1
    leaves no lon2 (lat2 and azi2 do not depend on lon1)."""
    from proj_4_spark.engine.spark import geodesic_direct_df

    out = geodesic_direct_df(
        pts.selectExpr("*", "30.0 AS azi", "1000.0 AS s12"),
        "lon", "lat", "azi", "s12")
    rows = _rows(out, ["geo_lon2", "geo_lat2", "geo_azi2"])
    assert all(math.isfinite(v) for v in rows[1]), rows
    for i in (2, 3):
        assert _is_nan(rows[i][0]) and math.isfinite(rows[i][1]), rows
    for i in (4, 5):
        assert all(_is_nan(v) for v in rows[i]), rows
    azi = geodesic_direct_df(
        spark.createDataFrame([(1, NAN), (2, None)], "id int, azi double")
        .selectExpr("id", "1.0 AS lon", "2.0 AS lat", "azi", "5.0 AS s12"),
        "lon", "lat", "azi", "s12")
    assert all(_is_nan(v) for r in _rows(azi, ["geo_lon2", "geo_lat2",
                                               "geo_azi2"]).values()
               for v in r)


def test_factors_df_error_rows_are_nan(spark, pts):
    from proj_4_spark.engine.factors import _FIELDS, factors_df

    out = factors_df(pts, "+proj=merc +ellps=GRS80")
    _assert_error_rows_nan(out, [f"f_{f}" for f in _FIELDS])


def test_alt_transform_error_rows_are_nan(spark, pts):
    """x/y read NaN; the int chosen_op passes through (-1)."""
    from proj_4_spark.engine.altops import Candidate, alt_transform

    cands = [Candidate.from_projstring("+proj=merc +ellps=WGS84",
                                       (-180.0, -90.0, 180.0, 90.0),
                                       accuracy=1.0)]
    out = alt_transform(pts, cands)
    _assert_error_rows_nan(out, ["x", "y"])
    chosen = _rows(out, ["chosen_op"])
    assert chosen == {1: (0,), 2: (-1,), 3: (-1,), 4: (-1,), 5: (-1,)}


@pytest.mark.parametrize("metric", ["karney", "haversine"])
def test_knn_brute_force_ranks_nan_points_last(spark, metric):
    """A NaN point is never ranked ahead of a finite one: under karney
    its NULL distance sorted first (c at rank 1, dist_m=None)."""
    from proj_4_spark.spatial.knn import knn_brute_force

    points = spark.createDataFrame(
        [("a", 0, 1.0, 2.0), ("b", 0, 3.0, 4.0),
         ("c", 0, 1.0, NAN), ("d", 0, NAN, 2.0)],
        "doc_id string, span_offset int, lon double, lat double")
    queries = spark.createDataFrame([("q", 1.0, 2.0)],
                                    "q_id string, lon double, lat double")
    rows = knn_brute_force(points, queries, k=4, metric=metric).collect()
    ranked = sorted(rows, key=lambda r: r["rank"])
    assert [r.doc_id for r in ranked[:2]] == ["a", "b"]
    assert {r.doc_id for r in ranked[2:]} == {"c", "d"}
    assert all(r.dist_m is not None for r in ranked), ranked
    if metric == "karney":
        assert all(_is_nan(r.dist_m) for r in ranked[2:]), ranked
