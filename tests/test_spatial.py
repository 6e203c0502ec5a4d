"""Spatial layer: documents synthesis, media extraction, transform-on-Spark,
tiles, cells, PIP join vs driver oracle, kNN vs brute-force oracle,
span-sequence invariant (BASELINE.json north_rule checks)."""

import numpy as np
import pytest

pyspark = pytest.importorskip("pyspark")

from proj_4_spark.docs.media import assert_span_equality, explode_media_points
from proj_4_spark.docs.synth import synthesize_arrow, synthesize_spark
from proj_4_spark.engine.spark import transform
from proj_4_spark.sources import fixtures as FX
from proj_4_spark.spatial import cells, tiles
from proj_4_spark.spatial.knn import knn_brute_force, knn_join
from proj_4_spark.spatial.pip import pip_join
from proj_4_spark.spatial.salting import salted_count

N_DOCS = 1500
TESTDATA = "/root/testdata"  # committed scale-factor dirs (TESTDATA.md)


@pytest.fixture(scope="module")
def docs(spark):
    df = synthesize_spark(spark, N_DOCS, partitions=4).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def media_pts(spark, docs):
    pts = explode_media_points(docs).where("lon <= 360").cache()
    pts.count()
    return pts


def test_synth_deterministic_and_interleaved(spark):
    t1 = synthesize_arrow(200)
    t2 = synthesize_arrow(200)
    assert t1.equals(t2)
    rows = t1.to_pylist()
    assert rows[5]["doc_id"] == "doc-%012d" % 5
    assert len(rows[5]["spans"]) == 1 + (5 % 7)
    for i, r in enumerate(rows):
        for k, s in enumerate(r["spans"]):
            assert s["offset"] == k
            if (i + k) % 3 == 0:
                assert s["kind"] == "media" and s["media_ref"].startswith("media://")
            else:
                assert s["kind"] == "text" and s["text"] == f"t-{r['doc_id']}-{k}"


def test_media_extraction_roundtrips_encoding(spark, docs):
    pts = explode_media_points(docs)
    row = pts.first()
    assert row.crs == "EPSG:4326"
    assert -180 <= row.lat <= 90 or row.lon == 999.0


def test_spark_transform_matches_local(spark, media_pts, udf_transform):
    """The Spark UDF path must produce bit-identical results to the
    driver-side NumPy path (same kernels, same batches); the default
    path (the staged etmerc/utm Catalyst twin, default-on since r7)
    must agree within the pinned twin-parity tolerance."""
    from proj_4_spark.engine.plan import create_operation
    from proj_4_spark.kernels.common import DEG_TO_RAD

    sample = media_pts.where("abs(lat) < 84 and abs(lon) <= 180").limit(100).toPandas()
    out = udf_transform(
        spark.createDataFrame(sample), "+proj=utm +zone=32 +ellps=GRS80",
        x="lon", y="lat", out_prefix="u_",
    ).toPandas().sort_values(["doc_id", "span_offset"])
    op = create_operation("+proj=utm +zone=32 +ellps=GRS80")
    s = sample.sort_values(["doc_id", "span_offset"])
    x, y, _, _ = op.apply(
        s["lon"].to_numpy() * DEG_TO_RAD, s["lat"].to_numpy() * DEG_TO_RAD,
        np.zeros(len(s)), np.zeros(len(s)),
    )
    assert np.array_equal(out["u_x"].to_numpy(), x, equal_nan=True)
    assert np.array_equal(out["u_y"].to_numpy(), y, equal_nan=True)
    twin = transform(
        spark.createDataFrame(sample), "+proj=utm +zone=32 +ellps=GRS80",
        x="lon", y="lat", out_prefix="u_",
    ).toPandas().sort_values(["doc_id", "span_offset"])
    assert np.allclose(twin["u_x"].to_numpy(), x, rtol=1e-9, atol=1e-6)
    assert np.allclose(twin["u_y"].to_numpy(), y, rtol=1e-9, atol=1e-6)


def test_tile_assignment_exact(spark, media_pts):
    """Integer-exact tile assignment vs the closed-form NumPy oracle."""
    wm = transform(media_pts, "+proj=webmerc +ellps=WGS84",
                   x="lon", y="lat", out_prefix="wm_", keep_errors=False)
    tiled = tiles.assign_tiles(wm, x="wm_x", y="wm_y", zoom=8).toPandas()
    tx, ty = tiles.tile_np(tiled["wm_x"].to_numpy(), tiled["wm_y"].to_numpy(), 8)
    assert np.array_equal(tiled["tile_x"].to_numpy(), tx)
    assert np.array_equal(tiled["tile_y"].to_numpy(), ty)


def test_cell_jvm_matches_numpy(spark, media_pts):
    df = media_pts.withColumn("cell", cells.cell_col(
        pyspark.sql.functions.col("lon"), pyspark.sql.functions.col("lat"), 7
    )).toPandas()
    expect = cells.cell_np(df["lon"].to_numpy(), df["lat"].to_numpy(), 7)
    got = df["cell"].to_numpy()
    ok = expect != -1
    assert np.array_equal(got[ok], expect[ok])


def test_neighbors_col_exact_decode_near_row_boundary(spark):
    """Regression: neighbors_col once decoded iy via double division —
    cell ids carry res<<58 (> 2^53), so long->double rounding shifted
    decoded iy by one for ix within ~128 of a row boundary.  Sweep the
    worst band (ix near 2^res boundary at high res) and assert the JVM
    decode matches the exact-shift NumPy twin."""
    from pyspark.sql import functions as F

    res = 28  # max res: ix spans 2^28, ids near the top of the double gap
    n = 1 << res
    ixs = np.arange(n - 300, n, dtype=np.int64)
    iys = np.arange(300, dtype=np.int64) + (n // 2)
    ids = (np.int64(res) << cells.RES_SHIFT) | (iys << cells.IY_SHIFT) | ixs
    expect = cells.neighbors_np(ids, ring=1)
    df = spark.createDataFrame([(int(c),) for c in ids], "cell long")
    got = (
        df.withColumn("nb", cells.neighbors_col(F.col("cell"), res, 1))
        .orderBy("cell")
        .collect()
    )
    expect_sets = [set(map(int, row)) for row in expect[np.argsort(ids)]]
    got_sets = [set(map(int, row["nb"])) for row in got]
    assert got_sets == expect_sets


def test_neighbors_col_ring_column_distinct(spark):
    """A per-row ring Column gives neighbors_np's cell set with each cell
    once: rows clamp at the poles and columns cap at the 2^res columns
    once the ring spans the globe."""
    from pyspark.sql import functions as F

    res = 4
    rows = [(iy, ix, ring) for iy, ix in ((0, 0), (7, 8), (15, 15))
            for ring in (0, 1, 3, 7, 8, 16)]
    ids = [int((np.int64(res) << cells.RES_SHIFT)
               | (np.int64(iy) << cells.IY_SHIFT) | ix) for iy, ix, _ in rows]
    df = spark.createDataFrame(
        [(c, r) for c, (_, _, r) in zip(ids, rows)], "cell long, ring int")
    got = df.select(cells.neighbors_col(F.col("cell"), res, F.col("ring"))
                    .alias("nb")).collect()
    for c, (_, _, ring), g in zip(ids, rows, got):
        nb = [int(x) for x in g["nb"]]
        assert len(nb) == len(set(nb))
        assert set(nb) == set(map(int, cells.neighbors_np(c, ring)[0]))


def test_pip_join_distinct_zones_same_lon_profile(spark):
    """Regression: the exact-test UDF once grouped candidate rows by a
    (len, first_lon, last_lon) ring key — two lat-stacked zones sharing a
    lon band collided and points in zone B were tested against zone A's
    ring.  Build exactly that fixture and assert both memberships."""
    zones = spark.createDataFrame(
        [
            ("zA", [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)],
             0.0, 0.0, 10.0, 10.0),
            ("zB", [(0.0, 20.0), (10.0, 20.0), (10.0, 30.0), (0.0, 30.0)],
             0.0, 20.0, 10.0, 30.0),
        ],
        "zone_id string, ring array<struct<lon double, lat double>>, "
        "min_lon double, min_lat double, max_lon double, max_lat double",
    )
    pts = spark.createDataFrame(
        [("d1", 0, 5.0, 5.0), ("d2", 0, 5.0, 25.0)],
        "doc_id string, span_offset int, lon double, lat double",
    )
    got = sorted(
        (r.doc_id, r.zone_id)
        for r in pip_join(pts, zones).select("doc_id", "zone_id").collect()
    )
    assert got == [("d1", "zA"), ("d2", "zB")]


def test_pip_join_matches_oracle(spark, media_pts):
    import pyarrow.parquet as pq

    zpath = FX.ensure_fixture("zones.parquet", FX.zones_table)
    zones_df = spark.read.parquet(zpath)
    got = (
        pip_join(media_pts.where("abs(lon) <= 180"), zones_df)
        .select("doc_id", "span_offset", "zone_id")
        .toPandas()
    )
    got_set = sorted(map(tuple, got.to_numpy().tolist()))
    pts = media_pts.where("abs(lon) <= 180").select(
        "doc_id", "span_offset", "lon", "lat").toPandas()
    exp = FX.expected_pip(
        list(zip(pts.doc_id, pts.span_offset, pts.lon, pts.lat)),
        pq.read_table(zpath),
    )
    assert got_set == exp
    assert len(exp) > 0  # fixture actually exercises the join


def test_pip_join_cells_matches_broadcast_path(spark, media_pts):
    """The cell-indexed hash-join PIP (the non-broadcast 100-TB path)
    must produce exactly the broadcast path's result set."""
    from proj_4_spark.spatial.pip import pip_join_cells

    zpath = FX.ensure_fixture("zones.parquet", FX.zones_table)
    zones_df = spark.read.parquet(zpath)
    pts = media_pts.where("abs(lon) <= 180")
    a = sorted(map(tuple, pip_join(pts, zones_df)
                   .select("doc_id", "span_offset", "zone_id")
                   .toPandas().to_numpy().tolist()))
    b = sorted(map(tuple, pip_join_cells(pts, zones_df, res=5)
                   .select("doc_id", "span_offset", "zone_id")
                   .toPandas().to_numpy().tolist()))
    assert a == b
    assert len(a) > 0


def test_pip_joins_bit_exact_vs_numpy_oracle(spark):
    """Both PIP joins return exactly the (point, zone) pairs that the
    bbox test and `point_in_ring_np` accept.  Adversarial rings: open
    and closed, repeated vertices, -0.0, horizontal and vertical edges,
    NaN vertices (Spark orders NaN above +Infinity, NumPy comparisons
    with NaN are false).  Adversarial points: every vertex, points on
    edges and at the latitude of horizontal edges (a division by zero
    under ANSI mode if the crossing guard is not a CASE), -0.0, NaN."""
    from proj_4_spark.spatial.pip import pip_join_cells, point_in_ring_np

    nan = float("nan")
    rings = {
        "open_square": [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)],
        "closed_tri": [(12.0, 0.0), (20.0, 4.0), (12.0, 8.0), (12.0, 0.0)],
        "repeats_negzero": [(-0.0, -0.0), (-0.0, -0.0), (5.0, 0.0),
                            (5.0, 5.0), (5.0, 5.0), (0.0, 5.0), (0.0, -0.0)],
        "concave_l": [(22.0, 0.0), (30.0, 0.0), (30.0, 3.0), (25.0, 3.0),
                      (25.0, 10.0), (22.0, 10.0)],
        "nan_lon": [(0.0, 12.0), (8.0, 12.0), (nan, 15.0), (8.0, 19.0),
                    (0.0, 19.0)],
        "nan_lat": [(12.0, 12.0), (20.0, 12.0), (20.0, nan), (20.0, 19.0),
                    (12.0, 19.0)],
        "nan_first": [(nan, nan), (22.0, 12.0), (30.0, 12.0), (30.0, 19.0),
                      (22.0, 19.0)],
    }
    zrows = []
    for zid, ring in rings.items():
        xs, ys = np.array(ring).T
        zrows.append((zid, ring, float(np.nanmin(xs)), float(np.nanmin(ys)),
                      float(np.nanmax(xs)), float(np.nanmax(ys))))
    zones = spark.createDataFrame(
        zrows, "zone_id string, ring array<struct<lon double, lat double>>, "
               "min_lon double, min_lat double, max_lon double, max_lat double")

    rng = np.random.Generator(np.random.PCG64(7))
    pts = [tuple(p) for p in np.column_stack(
        [rng.uniform(-2, 32, 3000), rng.uniform(-2, 21, 3000)]).tolist()]
    for ring in rings.values():
        pts += ring                                        # vertices
        for (x1, y1), (x2, y2) in zip(ring, ring[1:] + ring[:1]):
            pts += [((x1 + x2) / 2, (y1 + y2) / 2)]        # edge midpoints
            if y1 == y2:                                   # on the edge line
                pts += [(x1 - 1.0, y1), (x2 + 1.0, y2), (x1 + 0.25, y1)]
    pts += [(-0.0, 3.0), (3.0, -0.0), (-0.0, -0.0), (0.0, 0.0), (nan, 5.0),
            (5.0, nan), (10.0, 5.0), (25.0, 6.0), (30.0, 1.5)]
    lon = np.array([p[0] for p in pts])
    lat = np.array([p[1] for p in pts])

    expected = set()
    for zid, ring, x0, y0, x1, y1 in zrows:
        idx = np.flatnonzero((lon >= x0) & (lon <= x1)
                             & (lat >= y0) & (lat <= y1))
        rx, ry = np.array(ring).T
        hit = point_in_ring_np(lon[idx], lat[idx], rx, ry)
        expected |= {(int(i), zid) for i in idx[hit]}
    assert len(expected) > 500
    # nan_lon and nan_lat have no hits: every crossing they could add
    # lies outside their bbox or has a NaN crossing longitude (which
    # Spark's ordering would turn into a hit)
    assert {z for _, z in expected} == set(rings) - {"nan_lon", "nan_lat"}

    pts_df = spark.createDataFrame(
        [(i, 0, x, y) for i, (x, y) in enumerate(pts)],
        "doc_id long, span_offset int, lon double, lat double")
    for out in (pip_join(pts_df, zones), pip_join_cells(pts_df, zones, res=5)):
        got = {(r.doc_id, r.zone_id)
               for r in out.select("doc_id", "zone_id").collect()}
        assert got == expected, (sorted(got - expected)[:10],
                                 sorted(expected - got)[:10])


def test_knn_matches_brute_force(spark, media_pts):
    qpath = FX.ensure_fixture("knn_queries.parquet", FX.knn_queries)
    queries = spark.read.parquet(qpath).limit(25)
    pts = media_pts.where("abs(lon) <= 180 and abs(lat) <= 85")
    got = knn_join(pts, queries, k=5).toPandas()
    exp = knn_brute_force(pts, queries, k=5).toPandas()
    g = got.sort_values(["q_id", "rank"]).reset_index(drop=True)
    e = exp.sort_values(["q_id", "rank"]).reset_index(drop=True)
    assert len(g) == len(e)
    assert (g["q_id"] == e["q_id"]).all()
    assert (g["doc_id"] == e["doc_id"]).all()
    assert (g["span_offset"] == e["span_offset"]).all()
    assert np.allclose(g["dist_m"], e["dist_m"], rtol=1e-9)


def test_knn_pole_crossing_neighbour(spark):
    """At res 4 the nearest point to (1, 30) lies across the pole, in the
    one column ring 7 leaves unexplored, where ring 7's guard (7.54e6 m)
    is past its valid range: trusting that guard certifies the point at
    (1, -36.5).  The query at (1, 80) derives ring 6 or 7 from
    its ring-1 distance and must take the whole grid instead.  Both must
    equal brute force bit for bit, under both metrics."""
    cases = [
        ([("far", 0, 1.0, -36.5), ("pole", 0, -170.0, 85.0)], ("qA", 1.0, 30.0)),
        ([("ring1", 0, 1.0, 68.3), ("across", 0, -179.0, 89.9)], ("qB", 1.0, 80.0)),
    ]
    for metric in ("karney", "haversine"):
        for pts, query in cases:
            pts = spark.createDataFrame(
                pts, "doc_id string, span_offset int, lon double, lat double")
            queries = spark.createDataFrame(
                [query], "q_id string, lon double, lat double")
            got = knn_join(pts, queries, k=1, metric=metric).collect()
            exp = knn_brute_force(pts, queries, k=1, metric=metric).collect()
            assert [r.doc_id for r in exp] == ["pole" if query[0] == "qA"
                                               else "across"]
            key = [(r.q_id, r.doc_id, r.span_offset, r.rank,
                    np.float64(r.dist_m).view(np.int64)) for r in got]
            assert key == [(r.q_id, r.doc_id, r.span_offset, r.rank,
                            np.float64(r.dist_m).view(np.int64)) for r in exp]


def test_knn_unknown_metric_raises(spark):
    """A metric name outside the table raises, naming the valid ones,
    instead of silently running another metric."""
    pts = spark.createDataFrame(
        [("a", 0, 1.0, 2.0)],
        "doc_id string, span_offset int, lon double, lat double")
    queries = spark.createDataFrame([("q", 1.5, 2.0)],
                                    "q_id string, lon double, lat double")
    for fn in (knn_join, knn_brute_force):
        with pytest.raises(ValueError, match="haversine"):
            fn(pts, queries, k=1, metric="vincenty")


def test_span_sequence_invariant_after_pipeline(spark, docs, media_pts):
    """Running the full geo pipeline must not mutate the documents table
    (span-sequence equality, input_hint)."""
    _ = transform(media_pts, "+proj=webmerc +ellps=WGS84",
                  x="lon", y="lat", out_prefix="wm_").count()
    assert assert_span_equality(spark, docs, docs) == 0


def test_salted_count_equals_plain_count(spark, media_pts):
    from pyspark.sql import functions as F

    df = media_pts.withColumn("cell", cells.cell_col(F.col("lon"), F.col("lat"), 5))
    plain = {r["cell"]: r["count"] for r in df.groupBy("cell").count().collect()}
    salted = {r["cell"]: r["n"] for r in salted_count(df, "cell", "doc_id", 8).collect()}
    assert plain == salted


def test_knn_salted_equals_plain(spark):
    """n_salt>1 splits hot cells across salt sub-partitions but the
    per-query ranking is salt-agnostic: identical output to n_salt=1."""
    from pyspark.sql import functions as F

    from proj_4_spark.spatial.knn import knn_join

    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet").limit(3000)
    pts = ev.select(
        F.col("event_id").cast("string").alias("doc_id"),
        F.lit(0).alias("span_offset"),
        # 80% of points into one hot cell near (2.3, 48.8)
        F.when(F.col("event_id") % 5 < 4,
               2.3 + (F.col("event_id") % 89) / 10000.0)
        .otherwise((F.col("event_id") * 7919 % 360000) / 1000.0 - 180.0)
        .alias("lon"),
        F.when(F.col("event_id") % 5 < 4,
               48.8 + (F.col("event_id") % 97) / 10000.0)
        .otherwise((F.col("event_id") * 104729 % 170000) / 1000.0 - 85.0)
        .alias("lat"),
    )
    queries = pts.where("doc_id % 211 = 0").selectExpr(
        "doc_id as q_id", "lon", "lat")
    plain = knn_join(pts, queries, k=5,
                     metric="haversine").orderBy("q_id", "rank").toPandas()
    salted = knn_join(pts, queries, k=5,
                      metric="haversine", n_salt=8
                      ).orderBy("q_id", "rank").toPandas()
    assert len(plain) == len(salted)
    for c in ("q_id", "doc_id", "rank"):
        assert (plain[c].to_numpy() == salted[c].to_numpy()).all(), c
    assert np.allclose(plain["dist_m"], salted["dist_m"], rtol=0, atol=1e-9)


@pytest.mark.parametrize("sf", ["0.001", "0.01", "0.1"])
def test_knn_res_from_events_footers(spark, sf):
    """The driver's kNN points (one per event) size the cell resolution
    from the events footers: res 4 at every committed scale factor,
    as the sizing rule gave when it lived in the driver."""
    import __spark_entry__ as E

    from proj_4_spark import scale

    pts = E._geo_points(spark, f"{TESTDATA}/sf{sf}")
    rows = scale.parquet_stats(pts)[0]
    assert rows == pts.count()
    assert scale.knn_res(rows) == 4


def test_knn_res_rule_and_fileless_frames(spark, tmp_path):
    """A frame without parquet input files reports zero rows and gets
    the base resolution; the rule adds one level per 4x rows above
    100k, capped at 9; a cached source still reports its footers."""
    from proj_4_spark import scale

    df = spark.createDataFrame([(0.0, 0.0)], "lon double, lat double")
    assert scale.parquet_stats(df) == (0, 0, 0)
    df.write.csv(str(tmp_path / "pts.csv"))
    csv = spark.read.csv(str(tmp_path / "pts.csv"))
    assert csv.inputFiles() and scale.parquet_stats(csv) == (0, 0, 0)
    assert scale.knn_res(0) == 4
    assert [scale.knn_res(n) for n in
            (100_000, 400_000, 1_600_000, 10**12)] == [4, 5, 6, 9]
    ev = spark.read.parquet(f"{TESTDATA}/sf0.01/events.parquet").cache()
    try:
        ev.count()
        again = spark.read.parquet(f"{TESTDATA}/sf0.01/events.parquet")
        assert scale.parquet_stats(again)[0] == ev.count()
    finally:
        ev.unpersist()


def test_knn_filtered_subset_of_large_file(spark):
    """The cell resolution follows the scanned file, not the filtered
    rows: ~1k points kept out of the sf0.1 events (100k rows) get the
    file's resolution, ring 3 would still certify most queries, and
    the join matches brute force."""
    import __spark_entry__ as E
    from pyspark.sql import functions as F

    from proj_4_spark import scale
    from proj_4_spark.spatial.knn import HAVERSINE_R

    geo = E._geo_points(spark, f"{TESTDATA}/sf0.1")
    pts = geo.where("event_id % 100 = 0").select(
        F.col("event_id").cast("string").alias("doc_id"),
        F.lit(0).alias("span_offset"), "lon", "lat")
    queries = geo.where("event_id % 1009 = 0").select(
        F.col("event_id").cast("string").alias("q_id"), "lon", "lat")
    res = scale.knn_res(scale.parquet_stats(pts)[0])
    assert pts.count() <= 1000 and res == scale.knn_res(100_000)
    k, ring = 5, 3
    got = knn_join(pts, queries, k=k, metric="haversine"
                   ).orderBy("q_id", "rank").toPandas()
    exp = knn_brute_force(pts, queries, k=k, metric="haversine"
                          ).orderBy("q_id", "rank").toPandas()
    assert len(got) == len(exp) == k * queries.count()
    assert (got["doc_id"] == exp["doc_id"]).all()
    assert np.allclose(got["dist_m"], exp["dist_m"], rtol=1e-9)
    # a query is certified within `ring` iff its k-th distance is
    # under that ring's guard (knn_join's lower bound on unexplored
    # cells)
    kth = exp.groupby("q_id")["dist_m"].max().rename("kth").reset_index() \
        .merge(queries.toPandas(), on="q_id")
    guard = (ring * cells.cell_size_deg(res)[1] * HAVERSINE_R * np.pi
             / 180 * np.minimum(1.0, np.cos(np.radians(kth["lat"]))))
    assert (kth["kth"] <= guard).mean() >= 0.9


def test_unreadable_input_scheme_counts_as_no_stats(spark, monkeypatch):
    """An input pyarrow cannot open (a scheme it does not know, such as
    Spark's s3a://) reports no statistics, so knn_join and fan_out take
    their small-input answers instead of failing."""
    from proj_4_spark import scale

    monkeypatch.setattr(scale, "_input_files",
                        lambda df: {"s3a://bucket/events/part-0.parquet"})
    pts = spark.createDataFrame(
        [("d%d" % i, 0, float(i), float(i) / 2) for i in range(20)],
        "doc_id string, span_offset int, lon double, lat double")
    queries = spark.createDataFrame([("q0", 3.1, 1.4)],
                                    "q_id string, lon double, lat double")
    assert scale.parquet_stats(pts) == (0, 0, 0)
    assert scale.knn_res(scale.parquet_stats(pts)[0]) == 4
    assert scale.fan_out(pts, 1) is pts
    got = knn_join(pts, queries, k=3, metric="haversine").orderBy("rank")
    exp = knn_brute_force(pts, queries, k=3, metric="haversine").orderBy("rank")
    assert [r.doc_id for r in got.collect()] == \
        [r.doc_id for r in exp.collect()] == ["d3", "d4", "d2"]
