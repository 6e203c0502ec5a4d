"""Physical-plan quality gates (the 100-TB checklist, SURVEY.md §4.3):
filters push to the parquet scan, unused columns prune out of ReadSchema,
small dims broadcast, transform UDFs stay projections (no shuffle).
"""

import pytest

pyspark = pytest.importorskip("pyspark")

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df) -> str:
    jvm = df.sparkSession._jvm
    return jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_scan_through_transform(spark):
    """A filter under a pandas-UDF transform must still reach the parquet
    scan as PushedFilters (the UDF is a projection, not a barrier)."""
    from proj_4_spark.engine.spark import transform

    ev = spark.read.parquet(f"{SF}/events.parquet").where("event_id < 1000")
    pts = ev.select(
        "event_id",
        ((F.col("event_id") * 7919 % 360000) / 1000.0 - 180.0).alias("lon"),
        ((F.col("event_id") * 104729 % 170000) / 1000.0 - 85.0).alias("lat"),
    )
    out = transform(pts, "+proj=webmerc +ellps=WGS84", x="lon", y="lat")
    txt = formatted(out)
    assert "PushedFilters: [IsNotNull(event_id), LessThan(event_id,1000)]" in txt


def test_column_pruning_through_transform(spark):
    """Selecting 2 derived columns must prune the scan to event_id only."""
    from proj_4_spark.engine.spark import transform

    ev = spark.read.parquet(f"{SF}/events.parquet")
    pts = ev.select(
        "event_id",
        ((F.col("event_id") * 7919 % 360000) / 1000.0 - 180.0).alias("lon"),
        ((F.col("event_id") * 104729 % 170000) / 1000.0 - 85.0).alias("lat"),
    )
    out = transform(pts, "+proj=webmerc +ellps=WGS84", x="lon", y="lat").select("x", "y")
    txt = formatted(out)
    assert "ReadSchema: struct<event_id:bigint>" in txt, txt[-2000:]


def test_transform_plan_has_no_shuffle(spark, udf_transform):
    """The whole-pipeline UDF is embarrassingly parallel: no Exchange."""
    from proj_4_spark.engine.spark import transform

    ev = spark.read.parquet(f"{SF}/events.parquet")
    pts = ev.select(
        "event_id",
        ((F.col("event_id") * 7919 % 360000) / 1000.0 - 180.0).alias("lon"),
        ((F.col("event_id") * 104729 % 170000) / 1000.0 - 85.0).alias("lat"),
    )
    out = transform(
        pts,
        "+proj=pipeline +ellps=GRS80 +step +proj=cart "
        "+step +proj=helmert +x=10 +y=-20 +z=30 +step +proj=cart +inv",
        x="lon", y="lat",
    )
    plan = plan_of(out)
    assert "Exchange" not in plan
    # r6: the cart/helmert datum pipeline compiles to the Catalyst twin
    # — zero Python workers, one whole-stage-codegen region
    assert plan.count("ArrowEvalPython") + plan.count("BatchEvalPython") == 0
    # the Arrow-UDF fallback still fuses the whole 3-step pipeline into
    # exactly ONE eval node (kernel fusion, SURVEY.md §4.3)
    udf = udf_transform(
        pts,
        "+proj=pipeline +ellps=GRS80 +step +proj=cart "
        "+step +proj=helmert +x=10 +y=-20 +z=30 +step +proj=cart +inv",
        x="lon", y="lat",
    )
    uplan = plan_of(udf)
    assert "Exchange" not in uplan
    assert (uplan.count("ArrowEvalPython")
            + uplan.count("BatchEvalPython")) == 1


def test_describe_route_matches_plan(spark):
    """describe_route names the path transform() takes, for one
    proj-string per plan shape: a twin name means no Python eval node
    in the physical plan, "udf" means exactly one."""
    from proj_4_spark.engine.spark import describe_route, transform

    pipe = ("+proj=pipeline +ellps=GRS80 +step +proj=cart "
            "+step +proj=helmert +x=10 +y=-20 +z=30 +step +proj=cart +inv")
    utm = "+proj=utm +zone=32 +ellps=GRS80"
    lcc = ("+proj=lcc +lat_1=49 +lat_2=77 +ellps=clrk66 "
           "+towgs84=-10,158,187")
    cases = ((pipe, "fwd", "datum_pipeline"),
             (pipe, "inv", "datum_pipeline"),
             (utm, "fwd", "fwd"), (utm, "inv", "inv"),
             (lcc, "fwd", "fwd"), (lcc, "inv", "inv"),
             ("+proj=robin +ellps=WGS84", "inv", "udf"))
    df = spark.createDataFrame([(9.0, 48.0)], "x double, y double")
    for ps, direc, want in cases:
        assert describe_route(ps, direc) == want, (ps, direc)
        plan = plan_of(transform(df, ps, direction=direc))
        evals = plan.count("ArrowEvalPython") + plan.count("BatchEvalPython")
        assert evals == (1 if want == "udf" else 0), (ps, direc, plan)


def test_small_dim_broadcasts(spark):
    """nation joined to orders+customer must be a broadcast hash join."""
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    nation = spark.read.parquet(f"{SF}/nation.parquet")
    joined = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name").agg(F.sum("o_totalprice").alias("rev"))
    )
    plan = plan_of(joined)
    assert "BroadcastHashJoin" in plan


def test_pip_join_is_broadcast(spark):
    """PIP candidate join broadcasts the polygon side (no shuffle of the
    point side)."""
    from proj_4_spark.sources import fixtures as FX
    from proj_4_spark.spatial.pip import pip_join

    zpath = FX.ensure_fixture("zones.parquet", FX.zones_table)
    zones = spark.read.parquet(zpath)
    pts = spark.range(0, 1000).select(
        F.col("id").cast("string").alias("doc_id"),
        F.lit(0).alias("span_offset"),
        (F.col("id") % 360 - 180.0).cast("double").alias("lon"),
        (F.col("id") % 160 - 80.0).cast("double").alias("lat"),
    )
    plan = plan_of(pip_join(pts, zones))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # the exact ring test is a JVM expression: no Python worker
    assert "EvalPython" not in plan
    # the fact side must not be exchanged before the join
    before_join = plan.split("Join")[0]
    assert "Exchange hashpartitioning" not in before_join


def test_cell_and_tile_exprs_are_codegen(spark):
    """Cell/tile assignment must stay inside WholeStageCodegen (no UDF)."""
    from proj_4_spark.spatial.cells import cell_col
    from proj_4_spark.spatial.tiles import assign_tiles

    ev = spark.read.parquet(f"{SF}/events.parquet")
    pts = ev.select(
        ((F.col("event_id") * 7919 % 360000) / 1000.0 - 180.0).alias("lon"),
        ((F.col("event_id") * 104729 % 170000) / 1000.0 - 85.0).alias("lat"),
    )
    df = pts.withColumn("cell", cell_col(F.col("lon"), F.col("lat"), 7))
    df = assign_tiles(df.selectExpr("*", "lon * 111319.49D AS wx",
                                    "lat * 111319.49D AS wy"), "wx", "wy", 8)
    plan = plan_of(df)
    assert "EvalPython" not in plan
    # "*(1)" prefix marks whole-stage-codegen stages in the simple plan
    assert "*(1) Project" in plan


def test_pip_join_cells_is_hash_join_no_broadcast_nlj(spark):
    """The non-broadcast PIP path must be a shuffle HASH join on the
    cell key — never BroadcastNestedLoop / CartesianProduct (at 100 TB
    the zone side may exceed broadcast limits).  Only (zone_id, bbox,
    cell) rides the cell shuffle: no exchange below the cell join
    carries a ring column."""
    import re

    from proj_4_spark.sources import fixtures as FX
    from proj_4_spark.spatial.pip import pip_join_cells

    zpath = FX.ensure_fixture("zones.parquet", FX.zones_table)
    zones_df = spark.read.parquet(zpath)
    pts = spark.createDataFrame(
        [("d", 0, 1.0, 2.0)],
        "doc_id string, span_offset int, lon double, lat double",
    )
    # disable auto-broadcast so the asserted shape is the scale shape
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = pip_join_cells(pts, zones_df, res=5)
        txt = plan_of(out)
        nodes = formatted(out).split("\n\n")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoop" not in txt
    assert "SortMergeJoin" in txt or "ShuffledHashJoin" in txt, txt[:3000]
    assert "EvalPython" not in txt
    cell_inputs = [re.search(r"^Input \[\d+\]: (.*)$", n, re.M).group(1)
                   for n in nodes if re.match(r"\(\d+\) Exchange\n", n)
                   and "hashpartitioning(cell#" in n]
    assert len(cell_inputs) == 2, nodes
    assert not [i for i in cell_inputs if "ring" in i], cell_inputs


def test_knn_join_has_no_cross_product(spark):
    """kNN candidates come from equi-joins on the cell key in both
    passes: a query that found nothing in ring 1 goes to the whole grid
    through the same widening join, never a cross join."""
    from proj_4_spark.spatial.knn import knn_join

    pts = spark.createDataFrame(
        [("near", 0, 1.0, 2.0), ("far", 0, 120.0, -60.0)],
        "doc_id string, span_offset int, lon double, lat double")
    queries = spark.createDataFrame(
        [("q_near", 1.5, 2.0), ("q_far", -100.0, 40.0)],
        "q_id string, lon double, lat double")
    out = knn_join(pts, queries, k=1, metric="haversine")
    assert sorted((r.q_id, r.doc_id) for r in out.collect()) == [
        ("q_far", "near"), ("q_near", "near")]
    txt = plan_of(out)
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt


def test_knn_haversine_runs_in_jvm(spark):
    """The haversine metric is a JVM expression: neither knn_join nor
    knn_brute_force plans a Python evaluation under it, while under
    karney the Karney UDF is the one Python node of each plan."""
    from proj_4_spark.spatial.knn import knn_brute_force, knn_join

    pts = spark.createDataFrame(
        [("a", 0, 1.0, 2.0), ("b", 0, 120.0, -60.0)],
        "doc_id string, span_offset int, lon double, lat double")
    queries = spark.createDataFrame(
        [("q_near", 1.5, 2.0), ("q_far", -100.0, 40.0)],
        "q_id string, lon double, lat double")
    for fn in (knn_join, knn_brute_force):
        assert "EvalPython" not in plan_of(
            fn(pts, queries, k=1, metric="haversine")), fn.__name__
        karney = plan_of(fn(pts, queries, k=1, metric="karney"))
        assert karney.count("ArrowEvalPython") == 1, fn.__name__
        assert "BatchEvalPython" not in karney, fn.__name__


def test_kernel_udf_surfaces_have_one_arrow_eval_one_udf(spark):
    """Each NumPy-kernel UDF surface plans ONE ArrowEvalPython node
    evaluating ONE UDF (its struct), and every double output reads
    coalesce(field, NaN), so an errored row is NaN, not NULL
    (proj_4_spark/kernel_udf.py); alt_transform's int chosen_op passes
    through."""
    import re

    from proj_4_spark.engine.altops import Candidate, alt_transform
    from proj_4_spark.engine.factors import _FIELDS, factors_df
    from proj_4_spark.engine.spark import (geodesic_direct_df,
                                           geodesic_inverse_df, transform)
    from proj_4_spark.spatial.knn import knn_brute_force

    df = spark.createDataFrame([(1.0, 2.0, 3.0, 4.0)],
                               "lon double, lat double, b double, c double")
    pts = spark.createDataFrame(
        [("a", 0, 1.0, 2.0)],
        "doc_id string, span_offset int, lon double, lat double")
    queries = spark.createDataFrame([("q", 1.5, 2.0)],
                                    "q_id string, lon double, lat double")
    cands = [Candidate.from_projstring("+proj=merc +ellps=WGS84",
                                       (-180.0, -90.0, 180.0, 90.0),
                                       accuracy=1.0)]
    surfaces = {
        "transform": (transform(df, "+proj=robin", x="lon", y="lat",
                                direction="inv"), "xyzt"),
        "geodesic_inverse_df": (geodesic_inverse_df(df, "lon", "lat", "b",
                                                    "c"),
                                ("s12", "azi1", "azi2")),
        "geodesic_direct_df": (geodesic_direct_df(df, "lon", "lat", "b",
                                                  "c"),
                               ("lon2", "lat2", "azi2")),
        "factors_df": (factors_df(df, "+proj=merc"), _FIELDS),
        "alt_transform": (alt_transform(df, cands), "xy"),
        "knn_brute_force": (knn_brute_force(pts, queries, k=1), ("d",)),
    }
    for name, (out, fields) in surfaces.items():
        plan = plan_of(out)
        nodes = re.findall(r"ArrowEvalPython \[([^\]]*)\], \[([^\]]*)\]",
                           plan)
        assert len(nodes) == 1 and plan.count("EvalPython") == 1, (name, plan)
        assert re.fullmatch(r"pythonUDF0#\d+", nodes[0][1]), (name, plan)
        for f in fields:
            assert re.search(rf"coalesce\(pythonUDF0#\d+\.{f}, NaN\)",
                             plan), (name, f, plan)
        bare = re.findall(r"[^(]pythonUDF0#\d+\.(\w+) AS", plan)
        assert bare == (["chosen"] if name == "alt_transform" else []), (
            name, plan)


def test_explode_media_points_reads_no_text(spark, tmp_path):
    """The explode generates over arrays_zip(kind, media_ref, offset):
    the parquet scan reads no span text."""
    import pyarrow.parquet as pq

    from proj_4_spark.docs.media import explode_media_points
    from proj_4_spark.docs.synth import synthesize_arrow

    pq.write_table(synthesize_arrow(20, seed=7), str(tmp_path / "d.parquet"))
    txt = formatted(explode_media_points(spark.read.parquet(str(tmp_path))))
    assert ("ReadSchema: struct<doc_id:string,spans:array<struct<"
            "kind:string,media_ref:string,offset:int>>>") in txt, txt


def test_ivf_single_pass_single_exchange(spark):
    """IVF ANN plan (r8): ONE mapInArrow corpus pass emits narrow
    candidate rows against the closure-held query batch — no corpus
    repartition (the old `repartition("list_id")` shuffled the full
    vector payload for nothing: the broadcast probe join never needed
    co-partitioning, and the persisted inverted file in ann_index.py is
    the real layout), no join, and exactly ONE exchange: the ranking
    window's hashpartitioning(q_id).  Measured at sf1: 4.7 s -> 0.9 s
    bench time (OPTIMIZATION_r08.md)."""
    import re

    from proj_4_spark.functions.similarity import ivf_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.where("vec_id < 5").selectExpr("vec_id as q_id", "embedding")
    txt = plan_of(ivf_topk(emb, queries, k=3, n_centroids=8, n_probe=2, dim=64))
    assert "MapInArrow" in txt               # one corpus pass
    parts = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", txt)
    assert len(parts) == 1 and parts[0].startswith("q_id"), parts
    assert "Join" not in txt and "CartesianProduct" not in txt


def test_bucketed_join_is_shuffle_free(spark, tmp_path_factory):
    """Bucketing both sides of a doc_id join removes the Exchange
    entirely (the 100-TB co-location strategy the docs promise): a
    SortMergeJoin over bucketed scans with zero shuffles."""
    import uuid

    wh = str(tmp_path_factory.mktemp("warehouse"))
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    ta, tb = f"docs_a_{uuid.uuid4().hex[:8]}", f"docs_b_{uuid.uuid4().hex[:8]}"
    df = spark.range(0, 10000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 97).alias("v"))
    for name in (ta, tb):
        (df.write.format("parquet")
           .bucketBy(8, "doc_id").sortBy("doc_id")
           .option("path", f"{wh}/{name}")
           .saveAsTable(name))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table(ta).join(spark.table(tb), "doc_id")
        txt = plan_of(j)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql(f"drop table {ta}")
        spark.sql(f"drop table {tb}")
    assert "SortMergeJoin" in txt
    assert "Exchange" not in txt, txt[:3000]


def test_lsh_topk_single_exchange_for_dedup_and_rank(spark):
    """lsh_bucket_topk dedups multiprobe duplicate candidates inside the
    ranking window's own Exchange(q_id): exactly one hashpartitioning
    exchange after the candidate join, and none on (q_id, vec_id)."""
    import re

    from proj_4_spark.functions.similarity import lsh_bucket_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.where("vec_id < 5").selectExpr("vec_id as q_id", "embedding")
    txt = plan_of(lsh_bucket_topk(emb, queries, k=3, n_planes=8, dim=64,
                                  multiprobe=2))
    parts = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", txt)
    # broadcast of the query side is fine; hash exchanges must be the
    # single window partitioning by q_id
    assert len(parts) == 1, parts
    assert parts[0].startswith("q_id"), parts
    assert "vec_id" not in parts[0], parts
    assert "HashAggregate" not in txt, txt[:3000]


def test_salted_count_two_phase_agg_shape(spark):
    """salted_count's physical plan is the two-phase shape the salting
    docs promise: an exchange on (cell, salt) for the partial
    aggregate, then an exchange on (cell) alone for the final — the hot
    cell's rows spread over n_salt reducers in phase 1 and only n_salt
    partial rows meet in phase 2."""
    import re

    from proj_4_spark.spatial.salting import salted_count

    df = spark.range(0, 10000).selectExpr(
        "cast(id as string) as doc_id", "cast(id % 7 as string) as cell")
    txt = plan_of(salted_count(df, n_salt=16))
    parts = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", txt)
    assert len(parts) == 2, parts
    two_key = [p for p in parts if "salt#" in p and "cell" in p]
    one_key = [p for p in parts if "salt#" not in p]
    assert len(two_key) == 1 and len(one_key) == 1, parts
    # both phases keep partial (map-side) aggregation
    assert txt.count("HashAggregate") >= 4, txt[:2000]


def test_grid_backed_catalog_queries_are_single_stage(spark):
    """The r5 grid-backed driver queries (compound geoid vgridshift,
    catalog-routed NAD27 alt-transform) are embarrassingly parallel:
    ONE ArrowEvalPython, no Exchange, scan pruned to event_id.  The
    grid arrays load worker-side from the projstring spec (plan cache),
    never through the task closure — so the plan must contain no
    broadcast of grid data either."""
    import __spark_entry__ as E

    for name in ("compound_geoid", "nad27_catalog_routed"):
        df = E.queries()[name](spark, SF)
        txt = formatted(df)
        assert "Exchange" not in txt, (name, txt[-1500:])
        # one tree node ("ArrowEvalPython (n)"; the details section
        # repeats it as "(n) ArrowEvalPython")
        assert txt.count("ArrowEvalPython (") == 1, (name, txt[-1500:])
        assert "ReadSchema: struct<event_id:bigint>" in txt, name


def test_expression_twin_queries_have_no_python_workers(spark):
    """Driver queries whose kernels have default-on Catalyst twins
    (merc/eqc/aea incl. the ESRI Albers catalog route) must plan with
    ZERO Python eval nodes — the r4/r5 expression-twin guarantee."""
    import __spark_entry__ as E

    for name in ("merc_fwd", "eqc_fwd", "aea_fwd", "esri_usa_albers",
                 "webmerc_tiles", "docs_geo_pipeline", "lcc_fwd",
                 "pipeline_datum_shift", "towgs84_datum_shift",
                 "laea_inverse", "lcc_inverse", "aea_inverse",
                 "geos_inverse", "utm_inverse", "utm_roundtrip",
                 "boundcrs_text_shift", "projjson_text_merc"):
        df = E.queries()[name](spark, SF)
        txt = formatted(df)
        assert "EvalPython" not in txt, (name, txt[-1200:])


def _assert_codegen_health(spark, df, label):
    """Compile each whole-stage-codegen subtree of ``df`` for real and
    assert (a) it produced bytecode (maxMethodCodeSize == -1 marks a
    failed compile, which Spark only logs) and (b) every generated
    method is within the 8000-byte HotSpot JIT ceiling
    (-XX:DontCompileHugeMethods), so no region silently runs
    interpreted at scale."""
    import re

    pkg = getattr(spark._jvm.org.apache.spark.sql.execution.debug,
                  "package$")
    code = getattr(pkg, "MODULE$").codegenString(
        df._jdf.queryExecution().executedPlan())
    sizes = [int(m) for m in re.findall(r"maxMethodCodeSize:(-?\d+)", code)]
    assert sizes, (label, "no codegen subtree found")
    assert all(s != -1 for s in sizes), \
        (label, sizes, "a whole-stage-codegen subtree failed to "
         "compile (interpreted fallback)")
    assert all(s <= 8000 for s in sizes), \
        (label, sizes, "a generated method exceeds the HotSpot "
         "JIT ceiling (DontCompileHugeMethods) — split the "
         "region with a stager barrier")


def test_twin_queries_codegen_health(spark):
    """Runtime codegen-health gate (VERDICT r7 #3): the zero-Python
    plan gates cannot see a janino failure or an over-sized method —
    r7's geos inverse twin collapsed into a ~22.8k-line method, failed
    to compile, and silently ran interpreted; the ellipsoidal laea
    inverse compiled at 64,030 bytecodes (3% under janino's 64 KB hard
    limit) but sat 8x over HotSpot's 8000-byte JIT ceiling, also
    interpreted.  Every twin-gated / headline driver query, and the
    composed datum-modified forward twins (the lcc +towgs84 benchmark
    route, EPSG:2154 and EPSG:3035 — 10,575 / 10,503 bytecodes and a
    janino failure before the codegen barrier between the datum legs
    and the projection), the Robinson forwards (bare, ESRI:54030,
    +towgs84) and the datum-modified tmerc / utm forwards (EPSG:27700,
    EPSG:26918), must pass _assert_codegen_health."""
    import __spark_entry__ as E

    from proj_4_spark.engine.spark import transform

    qs = E.queries()
    old = spark.conf.get("spark.sql.adaptive.enabled")
    # codegenString sees no subtrees under an unexecuted AQE plan
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name in ("merc_fwd", "eqc_fwd", "aea_fwd", "esri_usa_albers",
                     "webmerc_tiles", "docs_geo_pipeline", "lcc_fwd",
                     "pipeline_datum_shift", "towgs84_datum_shift",
                     "laea_inverse", "lcc_inverse", "aea_inverse",
                     "geos_inverse", "utm_inverse", "utm_roundtrip",
                     "boundcrs_text_shift", "projjson_text_merc",
                     "ann_cosine_topk", "ann_lsh_topk", "ann_ivf_topk"):
            _assert_codegen_health(spark, qs[name](spark, SF), name)
        pts = spark.range(0, 64).select(
            (F.col("id") % 8 * 0.5 + 1.0).alias("lon"),
            (F.col("id") / 8 * 0.5 + 44.0).alias("lat"))
        for ps in ("+proj=lcc +lat_0=46.5 +lon_0=3 +lat_1=49 +lat_2=44 "
                   "+x_0=700000 +y_0=6600000 +ellps=clrk80ign "
                   "+towgs84=-168,-60,320", "EPSG:2154", "EPSG:3035",
                   "+proj=robin +ellps=WGS84", "ESRI:54030",
                   "+proj=robin +ellps=WGS84 +towgs84=1,2,3",
                   "EPSG:27700", "EPSG:26918"):
            out = transform(pts, ps, x="lon", y="lat", out_prefix="p_")
            _assert_codegen_health(spark, out, ps)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
