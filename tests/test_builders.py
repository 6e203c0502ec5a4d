"""The document and spatial plan builders emit Spark SQL text.

Each builder's optimized plan equals the one its former Column-object
form built (kept here as the reference), under ANSI mode on and off; its
outputs equal the NumPy oracles on edge rows; column names are quoted
the way ``F.col`` parses them; and a warm call of a templated builder
(proj_4_spark/templates.py) runs no Catalyst rule and stays under a
pinned number of py4j commands, whatever the width of its input.
"""

import collections
import itertools
import math
import re

import numpy as np
import pytest

pyspark = pytest.importorskip("pyspark")

from pyspark.sql import Window
from pyspark.sql import functions as F

from proj_4_spark.docs.media import explode_media_points
from proj_4_spark.docs.synth import synthesize_arrow
from proj_4_spark.engine.spark import transform
from proj_4_spark.sources import fixtures as FX
from proj_4_spark.spatial import cells, knn, pip, salting, tiles
from proj_4_spark.sqltext import column_sql, quote_name
from tests.test_plans import _assert_codegen_health

WEBMERC = "+proj=webmerc +ellps=WGS84"
UTM = "+proj=utm +zone=32 +ellps=GRS80"
ROBIN = "+proj=robin"   # its inverse runs on the Arrow-UDF path


# ------------------------------------------------ Column-built references
# The builders as they were written with Column objects.

def ref_explode(docs_df):
    ex = docs_df.select(
        "doc_id", F.posexplode(F.arrays_zip(
            "spans.kind", "spans.media_ref", "spans.offset",
        )).alias("span_idx", "span"),
    ).where(F.col("span.kind") == "media")
    out = ex.select(
        "doc_id",
        F.col("span.offset").alias("span_offset"),
        F.regexp_extract("span.media_ref", r"[?&]lon=(-?[0-9.]+)", 1)
        .try_cast("double").alias("lon"),
        F.regexp_extract("span.media_ref", r"[?&]lat=(-?[0-9.]+)", 1)
        .try_cast("double").alias("lat"),
        F.regexp_extract("span.media_ref", r"[?&]crs=([A-Za-z0-9:]+)", 1)
        .alias("crs"),
    )
    return out.observe("_media_cg_ref", F.count(F.lit(1)).alias("rows"))


def ref_index_cols(lon_col, lat_col, res):
    n = 1 << res

    def idx(col, lo, span):
        return F.least(
            F.greatest(F.floor((col + lo) / span * n).cast("long"), F.lit(0)),
            F.lit(n - 1))

    return idx(lon_col, 180.0, 360.0), idx(lat_col, 90.0, 180.0)


def ref_pack_col(res, iy, ix):
    return (F.lit(res).cast("long") * (1 << 58)) + (iy * (1 << 29)) + ix


def ref_cell_col(lon_col, lat_col, res):
    ix, iy = ref_index_cols(lon_col, lat_col, res)
    return (F.when((F.abs(lon_col) <= 360.0) & (F.abs(lat_col) <= 90.0),
                   ref_pack_col(res, iy, ix))
            .otherwise(-1))


def ref_neighbors_col(cell_col_, res, ring=1):
    from pyspark.sql import Column

    n = F.lit(1 << res).cast("long")
    r = (ring if isinstance(ring, Column) else F.lit(ring)).cast("long")
    c = F.greatest(cell_col_, F.lit(0).cast("long"))
    iy = F.shiftright(c, 29).bitwiseAND(F.lit((1 << 29) - 1))
    ix = c.bitwiseAND(F.lit((1 << 29) - 1))
    rows = F.sequence(F.greatest(iy - r, F.lit(0).cast("long")),
                      F.least(iy + r, n - 1))
    cols = (F.when(2 * r + 1 >= n, F.sequence(F.lit(0).cast("long"), n - 1))
            .otherwise(F.transform(F.sequence(ix - r, ix + r),
                                   lambda x: F.pmod(x, n))))
    return F.when(cell_col_ < 0, F.array()).otherwise(F.flatten(F.transform(
        rows, lambda y: F.transform(cols, lambda x: ref_pack_col(res, y, x)))))


def ref_assign_tiles(points_df, x="x", y="y", zoom=8):
    n, h = 1 << zoom, tiles.HALF_CIRC
    tx = F.least(F.greatest(F.floor((F.col(x) + h) / (2 * h) * n)
                            .cast("long"), F.lit(0)), F.lit(n - 1))
    ty = F.least(F.greatest(F.floor((F.lit(h) - F.col(y)) / (2 * h) * n)
                            .cast("long"), F.lit(0)), F.lit(n - 1))
    return (points_df.withColumn("zoom", F.lit(zoom))
            .withColumn("tile_x", tx).withColumn("tile_y", ty)
            .withColumn("payload", F.concat(F.lit(f"tile-{zoom}/"),
                                            F.col("tile_x"), F.lit("/"),
                                            F.col("tile_y"))))


def ref_in_ring(lon, lat):
    return F.expr(pip._in_ring(f"`{lon}`", f"`{lat}`"))


def ref_bbox(lon, lat):
    return ((F.col(lon) >= F.col("min_lon")) & (F.col(lon) <= F.col("max_lon"))
            & (F.col(lat) >= F.col("min_lat")) & (F.col(lat) <= F.col("max_lat")))


def ref_rings(zones_df, *cols):
    return zones_df.select("zone_id", *cols,
                           F.col("ring.lon").alias("ring_lon"),
                           F.col("ring.lat").alias("ring_lat"))


_BBOX = ("min_lon", "min_lat", "max_lon", "max_lat")


def ref_pip_join(points_df, zones_df, lon="lon", lat="lat"):
    return points_df.join(
        F.broadcast(ref_rings(zones_df, *_BBOX)),
        on=F.when(ref_bbox(lon, lat), ref_in_ring(lon, lat)).otherwise(False),
        how="inner",
    ).drop(*_BBOX, "ring_lon", "ring_lat")


def ref_zone_cells_col(res):
    ix0, iy0 = ref_index_cols(F.col("min_lon"), F.col("min_lat"), res)
    ix1, iy1 = ref_index_cols(F.col("max_lon"), F.col("max_lat"), res)
    return F.flatten(F.transform(
        F.sequence(iy0, iy1),
        lambda iy: F.transform(F.sequence(ix0, ix1),
                               lambda ix: ref_pack_col(res, iy, ix))))


def ref_pip_join_cells(points_df, zones_df, res=6, lon="lon", lat="lat"):
    zones_cells = zones_df.select(
        "zone_id", *_BBOX, F.explode(ref_zone_cells_col(res)).alias("cell"))
    pts = points_df.withColumn("cell", ref_cell_col(F.col(lon), F.col(lat), res))
    cand = pts.join(zones_cells, "cell", "inner").where(ref_bbox(lon, lat))
    # the ring test behind an observe barrier, never a join constraint
    hits = cand.join(ref_rings(zones_df), "zone_id", "inner").observe(
        "_jd_cgsplit_ref", F.count(F.lit(1)).alias("rows"))
    return (hits.where(ref_in_ring(lon, lat))
            .drop("ring_lon", "ring_lat", *_BBOX, "cell"))


def ref_salt_col(id_col, n_salt):
    return F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salt)).cast("int")


def ref_salted_count(df, key_col="cell", id_col="doc_id", n_salt=16):
    partial = df.withColumn("salt", ref_salt_col(id_col, n_salt)) \
        .groupBy(key_col, "salt").agg(F.count("*").alias("partial_n"))
    return partial.groupBy(key_col).agg(F.sum("partial_n").alias("n"))


def ref_haversine_m(lon1, lat1, lon2, lat2):
    from proj_4_spark.kernels.common import DEG_TO_RAD

    p1, p2 = lat1 * DEG_TO_RAD, lat2 * DEG_TO_RAD
    s_dp = F.sin((p2 - p1) / 2.0)
    s_dl = F.sin((lon2 - lon1) * DEG_TO_RAD / 2.0)
    h = s_dp * s_dp + F.cos(p1) * F.cos(p2) * (s_dl * s_dl)
    # sqltext.clamp's NaN-keeping min(1, sqrt(h))
    return 2.0 * knn.HAVERSINE_R * F.asin(
        -F.greatest(-F.sqrt(h), -F.lit(1.0)))


def ref_ranked(cand, geodesic_m, k):
    w = Window.partitionBy("q_id").orderBy("dist_m", "doc_id", "span_offset")
    return (
        cand.withColumn("dist_m", geodesic_m(F.col("q_lon"), F.col("q_lat"),
                                             F.col("p_lon"), F.col("p_lat")))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "q_lon", "q_lat", "doc_id", "span_offset", "dist_m", "rank")
    )


def ref_knn_join(points_df, queries_df, k, n_salt):
    """knn_join's haversine plan as it was built from Columns."""
    from proj_4_spark import scale

    geodesic_m, m_per_deg = ref_haversine_m, knn.HAVERSINE_R * np.pi / 180
    res = scale.knn_res(scale.parquet_stats(points_df)[0])
    n = 1 << res
    pts = points_df.select(
        "doc_id", "span_offset",
        F.col("lon").alias("p_lon"), F.col("lat").alias("p_lat"),
        ref_cell_col(F.col("lon"), F.col("lat"), res).alias("cell"))
    join_keys = ["cell"]
    if n_salt > 1:
        pts = pts.withColumn("salt", ref_salt_col("doc_id", n_salt))
        join_keys = ["cell", "salt"]
    pts = pts.repartition(*join_keys).cache()

    def ranked_within(q, ring):
        q = q.withColumn("cell", F.explode(ref_neighbors_col(
            ref_cell_col(F.col("q_lon"), F.col("q_lat"), res), res, ring)))
        if n_salt > 1:
            q = q.withColumn("salt", F.explode(
                F.array(*[F.lit(i) for i in range(n_salt)])))
        return ref_ranked(q.join(pts, join_keys, "inner"), geodesic_m, k)

    queries = queries_df.select(
        "q_id", F.col("lon").alias("q_lon"), F.col("lat").alias("q_lat"))
    unit = (F.lit(cells.cell_size_deg(res)[1] * m_per_deg)
            * F.least(F.lit(1.0), F.cos(F.radians(F.col("q_lat")))))
    d1 = F.col("kth_dist")
    ring = (F.when((F.col("n_found") < k) | (unit <= 0), n)
            .when(d1 <= unit, 0)
            .when(d1 / unit >= n // 4, n)
            .otherwise(F.floor(d1 / unit) + 1))
    w = Window.partitionBy("q_id")
    first = (queries.join(ranked_within(queries, 1).drop("q_lon", "q_lat"),
                          "q_id", "left")
             .withColumn("n_found", F.count("doc_id").over(w))
             .withColumn("kth_dist", F.max("dist_m").over(w))
             .withColumn("ring", ring.cast("long"))
             .localCheckpoint(eager=True))
    widened = ranked_within(
        first.where("ring > 0 AND coalesce(rank, 1) = 1")
        .select("q_id", "q_lon", "q_lat", "ring"), F.col("ring"))
    out = ["q_id", "doc_id", "span_offset", "dist_m", "rank"]
    return first.where("ring = 0").select(out).unionByName(widened.select(out))


# ---------------------------------------------------------------- helpers

def _canonical_plan(df) -> str:
    """The optimized plan as JSON, exprIds renumbered by first appearance
    (so a swapped binding still differs), lambda-variable names (bound
    by their exprIds), observation names and dataframe ids masked."""
    s = df._jdf.queryExecution().optimizedPlan().toJSON()
    ids = {}
    s = re.sub(r'"id":(\d+),"jvmId":"[^"]*"',
               lambda m: '"id":%d' % ids.setdefault(m[1], len(ids)), s)
    s = re.sub(r'(NamedLambdaVariable","num-children":0,"name":")[^"]*"',
               r'\1v"', s)
    s = re.sub(r"_media_cg_\w+|_jd_cgsplit_\w+", "_cg", s)
    # Column.alias lists the Dataset-API keys (__dataset_id,
    # __col_position) an alias must not inherit; a SQL alias has none.
    # Neither reaches the physical plan.
    s = re.sub(r'"nonInheritableMetadataKeys":("\[[^\]]*\]"|\[\])', "", s)
    return re.sub(r'"dataframeId":\d+', '"dataframeId":0', s)


@pytest.fixture(params=["false", "true"], ids=["ansi_off", "ansi_on"])
def ansi(spark, request):
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", request.param)
    yield request.param
    spark.conf.set("spark.sql.ansi.enabled", old)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(synthesize_arrow(40, seed=3).to_pandas())


@pytest.fixture(scope="module")
def zones(spark):
    return spark.read.parquet(FX.ensure_fixture("zones.parquet", FX.zones_table))


@pytest.fixture(scope="module")
def edge_pts(spark):
    """Edge rows: NULL and NaN lon/lat, lon +-180 and 999, lat +-90,
    -0.0, and points exactly on res-6 cell edges."""
    nan = float("nan")
    vals = [(None, 1.0), (1.0, None), (nan, 1.0), (1.0, nan),
            (180.0, 0.0), (-180.0, 0.0), (999.0, 10.0), (-999.0, 10.0),
            (0.0, 90.0), (0.0, -90.0), (-0.0, -0.0), (-0.0, 45.0),
            (179.99999999999997, 89.99999999999999)]
    step_x, step_y = cells.cell_size_deg(6)
    vals += [(-180.0 + i * step_x, -90.0 + j * step_y)
             for i in range(0, 65, 7) for j in range(0, 65, 9)]
    return spark.createDataFrame(
        [(f"d{i}", i % 3, x, y) for i, (x, y) in enumerate(vals)],
        "doc_id string, span_offset int, lon double, lat double")


# ------------------------------------------------------ plan equivalence

def test_explode_media_points_plan(spark, ansi, docs):
    assert (_canonical_plan(explode_media_points(docs))
            == _canonical_plan(ref_explode(docs)))


def test_explode_media_points_unparseable_ref(spark, ansi):
    """A media_ref without a parseable lon reads NULL (an error row
    downstream) under ANSI too; it failed the whole query with
    CAST_INVALID_INPUT."""
    docs = spark.createDataFrame(
        [("d1", [("media", "t", "media://d1/0?lon=abc&lat=1.0&crs=EPSG:4326",
                  0), ("text", "x", None, 1)]),
         ("d2", [("media", "t", "media://d2/0?lon=2.5&lat=1.5&crs=EPSG:4326",
                  0)])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>")
    rows = sorted(explode_media_points(docs).collect())
    assert [tuple(r) for r in rows] == [("d1", 0, None, 1.0, "EPSG:4326"),
                                        ("d2", 0, 2.5, 1.5, "EPSG:4326")]


def test_cell_and_neighbors_col_plans(spark, ansi, edge_pts):
    p = edge_pts.withColumn("ring", F.expr("span_offset + 1"))
    for new, ref in [
        (cells.cell_col(F.col("lon"), F.col("lat"), 6),
         ref_cell_col(F.col("lon"), F.col("lat"), 6)),
        (cells.cell_col(F.expr("lon + 0.5D"), F.col("lat"), 6),
         ref_cell_col(F.col("lon") + 0.5, F.col("lat"), 6)),
        (cells.neighbors_col(cells.cell_col(F.col("lon"), F.col("lat"), 6), 6),
         ref_neighbors_col(ref_cell_col(F.col("lon"), F.col("lat"), 6), 6)),
        (cells.neighbors_col(F.expr("CAST(span_offset AS BIGINT)"), 3, F.col("ring")),
         ref_neighbors_col(F.col("span_offset").cast("long"), 3, F.col("ring"))),
        (cells.neighbors_col(F.expr("CAST(7 AS BIGINT)"), 2, 2),
         ref_neighbors_col(F.lit(7).cast("long"), 2, 2)),
    ]:
        assert (_canonical_plan(p.select(new.alias("c")))
                == _canonical_plan(p.select(ref.alias("c"))))
    # a Column that does not render to SQL text is refused, by name
    with pytest.raises(ValueError, match="lon"):
        cells.cell_col(F.col("lon") + 0.5, F.col("lat"), 6)


def test_assign_tiles_plan(spark, ansi, edge_pts):
    wm = edge_pts.selectExpr("*", "lon * 111319.49D AS wm_x",
                             "lat * 111319.49D AS wm_y", "'old' AS tile_x")
    for z in (0, 8):
        assert (_canonical_plan(tiles.assign_tiles(wm, "wm_x", "wm_y", z))
                == _canonical_plan(ref_assign_tiles(wm, "wm_x", "wm_y", z)))


def test_pip_plans(spark, ansi, edge_pts, zones):
    assert (_canonical_plan(pip.pip_join(edge_pts, zones))
            == _canonical_plan(ref_pip_join(edge_pts, zones)))
    assert (_canonical_plan(pip.pip_join_cells(edge_pts, zones, res=5))
            == _canonical_plan(ref_pip_join_cells(edge_pts, zones, res=5)))


def test_salting_plans(spark, ansi, edge_pts):
    df = edge_pts.withColumn("cell", F.expr("span_offset"))
    assert (_canonical_plan(df.select(salting.salt_col("doc_id", 8).alias("s")))
            == _canonical_plan(df.select(ref_salt_col("doc_id", 8).alias("s"))))
    assert (_canonical_plan(salting.salted_count(df, "cell", "doc_id", 8))
            == _canonical_plan(ref_salted_count(df, "cell", "doc_id", 8)))


def _filter_refs(df) -> list[set]:
    """The attribute names each Filter of the optimized plan reads."""
    import json

    nodes = json.loads(df._jdf.queryExecution().optimizedPlan().toJSON())
    return [{e["name"] for e in n["condition"]
             if e["class"].endswith(".AttributeReference")}
            for n in nodes if n["class"].endswith(".logical.Filter")]


def test_keep_errors_filter_plan(spark, ansi, edge_pts):
    """keep_errors=False filters the output behind an observe barrier:
    its Filter reads only the x output column, where without the
    barrier Catalyst would push it down through the twin's Projects,
    inlining the kernel into the condition."""
    kw = dict(x="lon", y="lat", out_prefix="wm_")
    ref = (transform(edge_pts, WEBMERC, **kw)
           .observe("_jd_cgsplit_ref", F.count(F.lit(1)).alias("rows"))
           .where(F.col("wm_x").isNotNull() & ~F.isnan(F.col("wm_x"))))
    got = transform(edge_pts, WEBMERC, keep_errors=False, **kw)
    assert _canonical_plan(got) == _canonical_plan(ref)
    assert _filter_refs(got) == [{"wm_x"}]


def test_keep_errors_helmert_compiles_and_filters(spark):
    """A helmert pipeline's keep_errors=False plan compiles every codegen
    region, each method under the HotSpot JIT ceiling (with the filter
    pushed into the twin, Janino failed on it, which Spark only logs
    before running the region interpreted), and its rows are the
    keep_errors=True rows with a non-NaN x."""
    ps = ("+proj=pipeline +step +proj=cart +ellps=GRS80 +step +proj=helmert "
          "+x=1 +y=2 +z=3 +rx=0.1 +ry=0.2 +rz=0.3 +s=1.5 "
          "+convention=position_vector +step +inv +proj=cart +ellps=WGS84")
    pts = spark.range(400).selectExpr(
        "id", "CASE WHEN id % 7 = 0 THEN CAST('NaN' AS DOUBLE) "
              "WHEN id % 11 = 0 THEN NULL ELSE -10 + id * 0.05D END AS lon",
        "40 + id * 0.03D AS lat")
    got = transform(pts, ps, x="lon", y="lat", keep_errors=False)
    assert _filter_refs(got) == [{"x"}]
    old = spark.conf.get("spark.sql.adaptive.enabled")
    # codegenString sees no subtrees under an unexecuted AQE plan
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        _assert_codegen_health(spark, got, "helmert keep_errors=False")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
    every = transform(pts, ps, x="lon", y="lat").toPandas()
    want = every[every["x"].notna()].sort_values("id")
    assert 300 < len(want) < 400
    have = got.toPandas().sort_values("id")
    assert have.reset_index(drop=True).equals(want.reset_index(drop=True))


@pytest.mark.parametrize("n_salt", [1, 3])
def test_knn_join_plan(spark, ansi, edge_pts, monkeypatch, n_salt):
    """Both builds with their ring-1 pass left lazy (no checkpoint, no
    cache), so the two plans are whole and comparable."""
    from pyspark.sql.classic.dataframe import DataFrame

    monkeypatch.setattr(DataFrame, "localCheckpoint", lambda self, eager=True: self)
    monkeypatch.setattr(DataFrame, "cache", lambda self: self)
    pts = edge_pts.where("abs(lon) <= 180 AND abs(lat) <= 90")
    queries = edge_pts.selectExpr("doc_id AS q_id", "lon", "lat").limit(5)
    got = knn.knn_join(pts, queries, k=3, metric="haversine", n_salt=n_salt)
    assert _canonical_plan(got) == _canonical_plan(
        ref_knn_join(pts, queries, 3, n_salt))
    kq = knn.knn_brute_force(pts, queries, k=3, metric="haversine")
    ref = ref_ranked(
        queries.select("q_id", F.col("lon").alias("q_lon"),
                       F.col("lat").alias("q_lat"))
        .crossJoin(pts.select("doc_id", "span_offset",
                              F.col("lon").alias("p_lon"),
                              F.col("lat").alias("p_lat"))),
        ref_haversine_m, 3).select("q_id", "doc_id", "span_offset", "dist_m", "rank")
    assert _canonical_plan(kq) == _canonical_plan(ref)


# ------------------------------------------------- outputs vs the oracles

def test_cell_and_tile_outputs_match_numpy_on_edge_rows(spark, edge_pts):
    """cell_col equals cell_np on every edge row: -1 for a NULL, NaN or
    out-of-domain coordinate (NULL reads as NaN).  assign_tiles equals
    tile_np on every non-NULL row; on NULL rows it equals the Column
    form, whose `greatest` skips the NULL index (index 0)."""
    got = (tiles.assign_tiles(
        edge_pts.withColumn("cell", cells.cell_col(F.col("lon"), F.col("lat"), 6))
        .selectExpr("*", "lon * 111319.49D AS wx", "lat * 222638.98D AS wy"),
        "wx", "wy", 6)
        .join(ref_assign_tiles(edge_pts.withColumn(
            "cell", ref_cell_col(F.col("lon"), F.col("lat"), 6))
            .selectExpr("*", "lon * 111319.49D AS wx", "lat * 222638.98D AS wy"),
            "wx", "wy", 6).selectExpr("doc_id", "cell AS ref_cell",
                                      "payload AS ref_payload"), "doc_id")
        .toPandas())
    assert len(got) == edge_pts.count()
    assert (got["payload"] == got["ref_payload"]).all()
    assert got["cell"].notna().all()
    cell = got["cell"].to_numpy().astype(np.int64)
    assert (cell == got["ref_cell"].to_numpy().astype(np.int64)).all()
    with np.errstate(invalid="ignore"):
        want = cells.cell_np(got["lon"].to_numpy(float, na_value=np.nan),
                             got["lat"].to_numpy(float, na_value=np.nan), 6)
    assert (cell == want).all()
    assert (want != -1).sum() >= 80 and (want == -1).sum() >= 6
    ok = got["lon"].notna() & got["lat"].notna()
    with np.errstate(invalid="ignore"):
        tx, ty = tiles.tile_np(got["wx"][ok], got["wy"][ok], 6)
    assert (got["tile_x"][ok].to_numpy() == tx).all()
    assert (got["tile_y"][ok].to_numpy() == ty).all()
    # exact tile edges: x = -HALF_CIRC + i * 2 HALF_CIRC / 64
    h = tiles.HALF_CIRC
    xs = [-h + i * 2 * h / 64 for i in range(65)]
    edge = spark.createDataFrame([(x, -x) for x in xs], "x double, y double")
    rows = tiles.assign_tiles(edge, zoom=6).collect()
    tx, ty = tiles.tile_np(xs, [-x for x in xs], 6)
    assert [r.tile_x for r in rows] == tx.tolist()
    assert [r.tile_y for r in rows] == ty.tolist()


def test_neighbors_col_matches_numpy(spark, edge_pts):
    df = edge_pts.where("abs(lon) <= 180 AND abs(lat) <= 90").withColumn(
        "cell", cells.cell_col(F.col("lon"), F.col("lat"), 4))
    rows = df.select("cell", cells.neighbors_col(F.col("cell"), 4, 2)
                     .alias("nb")).collect()
    assert len(rows) > 50
    for r in rows:
        assert sorted(r.nb) == sorted(set(cells.neighbors_np([r.cell], 2)[0]
                                          .tolist()))
    # the cell of a point cell_np does not take has no neighbors
    bad = spark.range(1).select(cells.neighbors_col(
        cells.cell_col(F.expr("CAST('NaN' AS DOUBLE)"), F.expr("0.0D"), 4),
        4, 2).alias("nb"))
    assert bad.first().nb == []


def test_pip_outputs_match_numpy_on_edge_rows(spark, edge_pts, zones):
    """NULL/NaN/out-of-domain points, points on cell edges and each
    zone's own vertices through both PIP joins: the (point, zone) pairs
    that the bbox test and `point_in_ring_np` accept (a NULL coordinate
    reads as NaN: no bbox holds it)."""
    from proj_4_spark.spatial.pip import point_in_ring_np

    zs = zones.collect()
    pts = [(r.lon, r.lat) for r in edge_pts.orderBy("doc_id").collect()]
    pts += [(p["lon"], p["lat"]) for z in zs[:5] for p in z["ring"]]
    pts_df = spark.createDataFrame(
        [(f"p{i}", 0, x, y) for i, (x, y) in enumerate(pts)],
        "doc_id string, span_offset int, lon double, lat double")
    lon = np.array([np.nan if x is None else x for x, _ in pts])
    lat = np.array([np.nan if y is None else y for _, y in pts])
    want = set()
    for z in zs:
        idx = np.flatnonzero((lon >= z["min_lon"]) & (lon <= z["max_lon"])
                             & (lat >= z["min_lat"]) & (lat <= z["max_lat"]))
        rx, ry = [p["lon"] for p in z["ring"]], [p["lat"] for p in z["ring"]]
        hit = point_in_ring_np(lon[idx], lat[idx], rx, ry)
        want |= {(f"p{i}", z["zone_id"]) for i in idx[hit]}
    assert want
    for out in (pip.pip_join(pts_df, zones), pip.pip_join_cells(pts_df, zones, res=5)):
        assert set(map(tuple, out.select("doc_id", "zone_id").collect())) == want


# ------------------------------------------------------ identifier quoting

def test_quote_name_follows_f_col():
    assert quote_name("lon") == "`lon`"
    assert quote_name("a b") == "`a b`"
    assert quote_name("s.f") == "`s`.`f`"
    assert quote_name("`s.f`") == "`s.f`"
    assert quote_name("`a``b`") == "`a``b`"
    assert quote_name("`a b`.c d") == "`a b`.`c d`"
    for bad in ("a`b", "`a", "a..b", "`a`b", ".a", "a."):
        with pytest.raises(ValueError):
            quote_name(bad)


def test_column_sql_renders_only_round_trips(spark):
    df = spark.createDataFrame([(1.0,)], "lon double")
    assert column_sql(F.col("lon")) == "`lon`"
    assert column_sql(F.col("a b")) == "`a b`"
    assert column_sql(F.col("s.f")) == "`s`.`f`"
    assert column_sql(F.col("`a``b`")) == "`a``b`"
    assert column_sql(F.expr("lon + 1")) == "(lon + 1)"
    for other in (F.col("lon") * 2, F.lit(1.5), df["lon"], F.col("lon").alias("x")):
        assert column_sql(other) is None


@pytest.fixture(scope="module")
def odd_names(spark, edge_pts):
    """edge_pts with lon/lat under a name with a space, one with a
    backtick and as a struct field, beside the plain columns."""
    return edge_pts.selectExpr(
        "*", "lon AS `lo n`", "lat AS `la``t`", "named_struct('lat', lat) AS s")


def test_odd_names_through_pip_join(spark, odd_names, zones):
    plain = sorted(map(tuple, pip.pip_join(odd_names, zones)
                       .select("doc_id", "zone_id").collect()))
    assert plain
    for fn in (pip.pip_join, lambda p, z, **kw: pip.pip_join_cells(p, z, 5, **kw)):
        got = fn(odd_names, zones, lon="lo n", lat="`la``t`")
        assert sorted(map(tuple, got.select("doc_id", "zone_id").collect())) == plain
        got = fn(odd_names, zones, lon="`lo n`", lat="s.lat")
        assert sorted(map(tuple, got.select("doc_id", "zone_id").collect())) == plain


def test_odd_names_through_assign_tiles(spark, odd_names):
    wm = odd_names.where("lon IS NOT NULL AND lat IS NOT NULL").selectExpr(
        "*", "'old' AS tile_x")
    plain = tiles.assign_tiles(wm, "lon", "lat", 3)
    want = [(r.doc_id, r.tile_x, r.tile_y, r.payload) for r in plain.collect()]
    # the existing tile_x column is replaced in place
    assert plain.columns.index("tile_x") == wm.columns.index("tile_x")
    assert plain.columns.count("tile_x") == 1
    assert {type(t) for _, t, _, _ in want} == {int}
    for x, y in (("lo n", "`la``t`"), ("`lo n`", "s.lat")):
        got = tiles.assign_tiles(wm, x, y, 3)
        assert got.columns == plain.columns
        assert [(r.doc_id, r.tile_x, r.tile_y, r.payload)
                for r in got.collect()] == want


def test_odd_names_through_salted_count(spark, odd_names):
    df = odd_names.selectExpr("*", "span_offset AS `ce ll`",
                              "named_struct('id', doc_id) AS `d``oc`")
    want = sorted(map(tuple, salting.salted_count(df, "span_offset", "doc_id", 4)
                      .collect()))
    for key, ident in (("ce ll", "`d``oc`.id"), ("`ce ll`", "doc_id")):
        got = salting.salted_count(df, key, ident, 4)
        assert sorted(map(tuple, got.collect())) == want


# ------------------------------------------------------- qualified names

def test_qualified_names_through_builders(spark, edge_pts, zones):
    """Qualified lon/lat/x/y/id_col names resolve through every
    templated builder, under two aliases of one schema (the qualifiers
    are part of the template key)."""
    def rows(df, *cols):
        return sorted(map(tuple, df.select(*cols).collect()), key=str)

    wm = edge_pts.where("lon IS NOT NULL AND lat IS NOT NULL").selectExpr(
        "*", "lon * 111319.49D AS wm_x", "lat * 111319.49D AS wm_y")
    want = {
        "pip": rows(pip.pip_join(edge_pts, zones), "doc_id", "zone_id"),
        "cells": rows(pip.pip_join_cells(edge_pts, zones, 5), "doc_id", "zone_id"),
        "tiles": rows(tiles.assign_tiles(wm, "wm_x", "wm_y", 4), "doc_id", "payload"),
        "salt": rows(salting.salted_count(edge_pts, "span_offset", "doc_id", 4),
                     "span_offset", "n"),
    }
    assert want["pip"] and want["pip"] == want["cells"]
    for a in ("p", "q"):
        pts = edge_pts.alias(a)
        assert rows(pip.pip_join(pts, zones, lon=f"{a}.lon", lat=f"{a}.lat"),
                    "doc_id", "zone_id") == want["pip"]
        assert rows(pip.pip_join_cells(pts, zones, 5, lon=f"{a}.lon",
                                       lat=f"{a}.lat"),
                    "doc_id", "zone_id") == want["cells"]
        assert rows(tiles.assign_tiles(wm.alias(a), f"{a}.wm_x", f"{a}.wm_y", 4),
                    "doc_id", "payload") == want["tiles"]
        assert rows(salting.salted_count(pts, f"{a}.span_offset",
                                         f"{a}.doc_id", 4),
                    "span_offset", "n") == want["salt"]


# ------------------------------------------- transform() names, both paths

def _nan_as_none(rows):
    """Rows as tuples with NaN read as None (the UDF path returns a
    NaN output as NULL)."""
    return sorted((tuple(None if isinstance(v, float) and np.isnan(v) else v
                         for v in r) for r in rows), key=str)


@pytest.fixture(scope="module")
def routes(spark):
    """(proj-string, direction, points) on both paths: utm forward runs
    as a twin, robin inverse on the Arrow-UDF path.  id 3 has a NaN
    lon."""
    from proj_4_spark.engine.spark import describe_route

    out = []
    for ps, direction, scale in ((UTM, "fwd", "1.0D"),
                                 (ROBIN, "inv", "100000.0D")):
        assert (describe_route(ps, direction) == "udf") == (ps == ROBIN)
        out.append((ps, direction, spark.range(8).selectExpr(
            "id", f"CASE WHEN id = 3 THEN CAST('NaN' AS DOUBLE) "
                  f"ELSE (id * 1.5D + 3.0D) * {scale} END AS lon",
            f"(id * 4.0D + 40.0D) * {scale} AS lat", "id * 10.0D AS h")))
    return out


def test_transform_reads_input_names_as_f_col(spark, routes):
    """Qualified, struct-field and backticked x/y/z names give the
    plain-name output on both paths (a dotted name needs backticks)."""
    out = ["id", "x", "y", "z", "t"]
    for ps, d, pts in routes:
        want = _nan_as_none(transform(pts, ps, x="lon", y="lat", z="h",
                                         direction=d).select(out).collect())
        assert len(want) == 8
        cases = [
            (pts.alias("a"), dict(x="a.lon", y="a.lat", z="a.h")),
            (pts.selectExpr(
                "id", "named_struct('lon', lon, 'lat', lat, 'h', h) AS p"),
             dict(x="p.lon", y="p.lat", z="p.h")),
            (pts.selectExpr("id", "lon AS `lo``n`", "lat AS `la.t`", "h"),
             dict(x="`lo``n`", y="`la.t`", z="`h`")),
        ]
        for df, names in cases:
            got = transform(df, ps, direction=d, **names).select(out)
            assert _nan_as_none(got.collect()) == want, (ps, names)


def test_transform_out_prefix_is_one_whole_name(spark, routes):
    """An out_prefix with a dot or a backtick names whole columns, with
    keep_errors True and False, on both paths."""
    for (ps, d, pts), keep in itertools.product(routes, (True, False)):
        plain = transform(pts, ps, x="lon", y="lat", direction=d,
                          out_prefix="o_", keep_errors=keep)
        want = _nan_as_none(plain.collect())
        assert len(want) == (8 if keep else 7)
        for prefix in ("p.", "a`b_"):
            got = transform(pts, ps, x="lon", y="lat", direction=d,
                            out_prefix=prefix, keep_errors=keep)
            assert got.columns == pts.columns + [f"{prefix}{c}" for c in "xyzt"]
            assert _nan_as_none(got.collect()) == want, (ps, prefix, keep)


# ------------------------------------------------ templates: rebind checks

def _points_with_lambda_exprids(spark, zones):
    """One point, (8.0, 53.5), over a LocalRelation whose lon/lat carry
    the exprIds Catalyst's canonical form of `_in_ring` gives its
    `aggregate` lambda variables (read off that form), and the same
    point over an ordinary frame."""
    from pyspark.sql import DataFrame

    probe = zones.selectExpr("ring.lon AS ring_lon", "ring.lat AS ring_lat",
                             "0.0D AS lon", "0.0D AS lat")
    ring_test = (probe.where(pip._in_ring("`lon`", "`lat`"))
                 ._jdf.queryExecution().analyzed().condition())
    # aggregate(..., (odd, i) -> ...): the merge lambda's two variables
    args = ring_test.canonicalized().merge().arguments()
    ids = [args.apply(k).exprId().id() for k in range(args.size())]
    assert len(ids) == 2, ids
    plain = spark.createDataFrame([(8.0, 53.5)], "lon double, lat double")
    out = plain._jdf.queryExecution().analyzed().output()
    jvm = spark._jvm
    cat = jvm.org.apache.spark.sql.catalyst
    attrs = [out.apply(k).withExprId(cat.expressions.ExprId.apply(v))
             for k, v in enumerate(ids)]
    row = cat.InternalRow.fromSeq(jvm.PythonUtils.toSeq([8.0, 53.5]))
    relation = cat.plans.logical.LocalRelation
    leaf = relation(jvm.PythonUtils.toSeq(attrs), jvm.PythonUtils.toSeq([row]),
                    False, getattr(relation, "apply$default$4")())
    return DataFrame(jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, leaf), spark), plain


def test_pip_joins_with_lambda_variable_exprids(spark):
    """Point columns whose exprIds equal `_in_ring`'s canonical lambda
    variable ids drop out of the ring test's canonical references; the
    cell join used to crash on them (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND:
    the ring test was inferred onto the rings side of its zone_id
    join)."""
    # a fresh read: its exprIds are far above the lambda variables'
    zones = spark.read.parquet(FX.ensure_fixture("zones.parquet", FX.zones_table))
    pts, plain = _points_with_lambda_exprids(spark, zones)
    want = sorted(r.zone_id for r in pip.pip_join(plain, zones).collect())
    assert len(want) == 3
    for fn in (pip.pip_join, lambda p, z: pip.pip_join_cells(p, z, res=6)):
        assert sorted(r.zone_id for r in fn(pts, zones).collect()) == want


def _rule_runs(spark) -> int:
    """Catalyst rule runs so far in this JVM (RuleExecutor's meter)."""
    return (spark._jvm.org.apache.spark.sql.catalyst.rules.RuleExecutor
            .getCurrentMetrics().numRuns())


def test_builders_warm_call_runs_no_rule(spark, docs, zones, edge_pts):
    """A warm call of each templated builder, over another frame of the
    same schema, rebinds its analysed template: no Catalyst rule runs
    (pip_join_cells re-instances its second zones read through
    DeduplicateRelations alone, outside the analyzer)."""
    wm = edge_pts.selectExpr("*", "lon AS wm_x", "lat AS wm_y")
    cases = {
        "explode_media_points": (explode_media_points, docs),
        "assign_tiles": (lambda d: tiles.assign_tiles(d, "wm_x", "wm_y", 8), wm),
        "pip_join": (lambda d: pip.pip_join(d, zones), edge_pts),
        "pip_join_cells": (lambda d: pip.pip_join_cells(d, zones, res=6), edge_pts),
        "salted_count": (lambda d: salting.salted_count(d, "span_offset", "doc_id"), wm),
        "transform_keep_errors": (lambda d: transform(
            d, WEBMERC, x="lon", y="lat", out_prefix="wm_", keep_errors=False),
            edge_pts),
        "transform_udf_keep_errors": (lambda d: transform(
            d, ROBIN, x="lon", y="lat", direction="inv", keep_errors=False),
            edge_pts),
    }
    got = {}
    for name, (fn, df) in cases.items():
        fn(df)
        other = df.where("true")
        n0 = _rule_runs(spark)
        fn(other)
        got[name] = _rule_runs(spark) - n0
    assert got == dict.fromkeys(cases, 0), got


@pytest.fixture(scope="module")
def zone_pts(spark, zones):
    """Each zone's bbox center as a point (doc_id = its zone_id), in a
    frame of its own: most of them hit a zone."""
    centers = zones.selectExpr("zone_id AS doc_id", "0 AS span_offset",
                               "(min_lon + max_lon) / 2 AS lon",
                               "(min_lat + max_lat) / 2 AS lat")
    return spark.createDataFrame(centers.collect(), centers.schema)


def test_builder_template_outputs_union_and_self_join(spark, docs, zones, zone_pts):
    """Two outputs of one builder template in one query (two explodes,
    two pip_joins, two Arrow-UDF transforms) share every exprId and
    observation name below their leaves; their union and self-join still
    equal the per-frame results."""
    def rows(df):
        return sorted(map(tuple, df.collect()), key=str)

    for build, df, first in (
            (explode_media_points, docs, "doc_id < 'doc-000000000020'"),
            (lambda p: pip.pip_join(p, zones), zone_pts, "doc_id < 'zone-0010'"),
            (lambda p: transform(p, ROBIN, x="lon", y="lat", direction="inv"),
             zone_pts, "doc_id < 'zone-0010'")):
        a, b = build(df.where(first)), build(df.where(f"NOT ({first})"))
        ra, rb = rows(a), rows(b)
        assert ra and rb
        assert rows(a.union(b)) == sorted(ra + rb, key=str)
        cols = a.columns
        joined = a.alias("l").join(b.alias("r"), "doc_id", "full_outer")
        assert joined.count() == len(ra) + len(rb)
        self_join = a.alias("l").join(a.alias("r"), cols).select(
            *[f"l.{c}" for c in cols])
        assert set(rows(self_join)) == set(ra)


def test_pip_join_cells_rebinds_each_zones_frame(spark, zones, zone_pts):
    """A warm pip_join_cells template over another zones frame of the
    same schema returns that frame's zones (both reads of the zones go
    to the caller's frame); points that share a lineage with the zones
    join as an independent copy of them does."""
    full = set(map(tuple, pip.pip_join_cells(zone_pts, zones, res=6)
                   .select("doc_id", "zone_id").collect()))
    part = zones.where("zone_id >= 'zone-0005'")
    got = set(map(tuple, pip.pip_join_cells(zone_pts, part, res=6)
                  .select("doc_id", "zone_id").collect()))
    assert got == {r for r in full if r[1] >= "zone-0005"}
    assert got and got != full
    centers = zones.selectExpr("zone_id AS doc_id", "0 AS span_offset",
                               "(min_lon + max_lon) / 2 AS lon",
                               "(min_lat + max_lat) / 2 AS lat")
    for fn in (pip.pip_join, lambda p, z: pip.pip_join_cells(p, z, res=6)):
        want = set(map(tuple, fn(zone_pts, zones).collect()))
        assert want
        assert set(map(tuple, fn(centers, zones).collect())) == want


# ------------------------------------------------------- py4j ratchet

# Commands (call, reflection, import; not deletes) a warm call of each
# builder sends.  Built from Column objects they sent 190 (explode),
# 221 (assign_tiles), 288 (pip_join), 979 (pip_join_cells), 109
# (salted_count), 38 (salt_col) and 118 (transform keep_errors=False);
# as SQL text, analysed per call, 26, 28, 30, 49, 42, 3 and 38.
PY4J_BOUND = {
    "explode_media_points": 19,     # 15 measured
    "assign_tiles": 19,             # 15
    "cell_col": 18,                 # 15: two column_sql reads, one F.expr
    "neighbors_col": 12,            # 9
    "pip_join": 31,                 # 27
    "pip_join_cells": 35,           # 31
    "salt_col": 4,                  # 3
    "salted_count": 19,             # 15
    "transform_keep_errors": 19,    # 15
    "transform_udf_keep_errors": 19,   # 15
}


def _py4j_commands(spark, fn) -> int:
    client = spark.sparkContext._gateway._gateway_client
    counts = collections.Counter()
    send = client.send_command

    def counting(command, *args, **kwargs):
        counts[command[0]] += 1
        return send(command, *args, **kwargs)

    fn()  # warm: imports, lru caches, plan templates
    client.send_command = counting
    try:
        fn()
    finally:
        del client.send_command
    return counts["c"] + counts["r"] + counts["i"]


def _widened(df):
    """`df` and 20 more columns."""
    return df.selectExpr("*", *[f"1.5D + {i} AS c{i}" for i in range(20)])


def test_builders_py4j_command_ratchet(spark, docs, zones, edge_pts):
    """Each builder's warm call stays under its bound; a templated one
    sends as many commands on a 3-column input as on a 23-column one."""
    lon, lat, cell = F.col("lon"), F.col("lat"), F.col("cell")
    pts = edge_pts.select("doc_id", "lon", "lat")
    wm = edge_pts.selectExpr("doc_id", "lon AS wm_x", "lat AS wm_y")
    keyed = edge_pts.select("doc_id", "span_offset", "lon")
    narrow_docs = docs.selectExpr("*", "1 AS one")
    templated_cases = {
        "explode_media_points": (explode_media_points, narrow_docs),
        "assign_tiles": (lambda d: tiles.assign_tiles(d, "wm_x", "wm_y", 8), wm),
        "pip_join": (lambda d: pip.pip_join(d, zones), pts),
        "pip_join_cells": (lambda d: pip.pip_join_cells(d, zones, res=6), pts),
        "salted_count": (lambda d: salting.salted_count(d, "span_offset", "doc_id"),
                         keyed),
        "transform_keep_errors": (lambda d: transform(
            d, WEBMERC, x="lon", y="lat", out_prefix="wm_", keep_errors=False),
            pts),
        "transform_udf_keep_errors": (lambda d: transform(
            d, ROBIN, x="lon", y="lat", direction="inv", keep_errors=False),
            pts),
    }
    got, wide = {}, {}
    for name, (fn, df) in templated_cases.items():
        assert len(df.columns) == 3
        w = _widened(df)
        got[name] = _py4j_commands(spark, lambda: fn(df))
        wide[name] = _py4j_commands(spark, lambda: fn(w))
    for name, fn in {
            "cell_col": lambda: cells.cell_col(lon, lat, 6),
            "neighbors_col": lambda: cells.neighbors_col(cell, 6, 1),
            "salt_col": lambda: salting.salt_col("doc_id", 16)}.items():
        got[name] = _py4j_commands(spark, fn)
    over = {k: (v, PY4J_BOUND[k]) for k, v in got.items() if v > PY4J_BOUND[k]}
    assert not over, (over, got)
    assert wide == {k: got[k] for k in wide}, (got, wide)


def test_transform_py4j_commands_do_not_grow_with_width(spark, edge_pts):
    """A warm transform() rebinds its template in a fixed number of py4j
    commands: as many on a 23-column frame as on a 3-column one."""
    narrow = edge_pts.select("doc_id", "lon", "lat")
    wide = narrow.selectExpr("*", *[f"lon + {i} AS c{i}" for i in range(20)])
    got = [_py4j_commands(spark, lambda df=df: transform(
        df, WEBMERC, x="lon", y="lat")) for df in (narrow, wide)]
    assert got[0] == got[1], got


def test_haversine_of_a_nan_point_is_nan(spark):
    """A NaN coordinate has no haversine distance: it reads NaN (as the
    Karney metric does), not pi*R, so it cannot tie with a true
    antipode in knn_brute_force."""
    from proj_4_spark.spatial.knn import _haversine_m

    rows = spark.createDataFrame(
        [(1, 0.0, 0.0, 180.0, 0.0), (2, 0.0, float("nan"), 10.0, 10.0),
         (3, float("nan"), 0.0, 10.0, 10.0)],
        "id int, lon1 double, lat1 double, lon2 double, lat2 double")
    got = {r["id"]: r["d"] for r in rows.select(
        "id", _haversine_m("lon1", "lat1", "lon2", "lat2").alias("d"))
        .collect()}
    assert abs(got[1] - 20015086.79602057) < 1e-6
    assert math.isnan(got[2]) and math.isnan(got[3]), got


def test_spark_internal_surface(spark):
    """The Spark-internal API templates.py rebinds plans through,
    resolved by reflection, so a Spark upgrade that moves one fails
    here by name rather than in every builder."""
    import pyspark

    print("pyspark", pyspark.__version__)

    def methods(name):
        cls = spark._jvm.java.lang.Class.forName(name)
        return {m.getName() for m in cls.getMethods()}

    plan = methods("org.apache.spark.sql.catalyst.plans.logical.LogicalPlan")
    assert {"setAnalyzed", "transformUp",
            "transformAllExpressions"} <= plan
    assert "apply" in methods(
        "org.apache.spark.sql.catalyst.analysis.DeduplicateRelations$")
    assert "name" in methods("org.apache.spark.sql.catalyst.trees.TreeNodeTag")
    assert "ofRows" in methods("org.apache.spark.sql.classic.Dataset")
