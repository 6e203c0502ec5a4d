"""Generate PLANS.md: the captured physical plan of each headline query
with a scale annotation."""
import sys, re
sys.path.insert(0, '/root/repo')
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions", "16")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as E

NOTES = {
    "merc_fwd": "scan -> Catalyst expression twin (r5: zero Python workers, pure whole-stage codegen projection, no shuffle) -> select. ReadSchema prunes to event_id.",
    "webmerc_tiles": "Catalyst webmerc twin (zero Python) -> JVM integer tile math -> single hash aggregate. One shuffle (the groupBy) with map-side partial aggregation.",
    "pipeline_datum_shift": "r6: the cart->helmert->cart-inv datum pipeline compiles to the staged Catalyst twin - zero Python workers, one whole-stage-codegen region, no shuffle. The Arrow-UDF fallback (jvm_fast_path=False) still fuses all three steps into ONE eval node.",
    "lcc_fwd": "Catalyst lcc twin (zero Python): scan -> whole-stage codegen projection -> select.",
    "towgs84_datum_shift": "r6 COMPOSED twin: a datum-modified single op (+towgs84 cs2cs-emulation hooks) runs datum legs + the projection twin as one whole-stage-codegen region - zero Python; the dominant catalog-preset shape.",
    "laea_inverse": "r6 inverse twin: ETRS89-LAEA reverse geocode (authalic-latitude closed series) - zero Python, pure projection, no shuffle.",
    "boundcrs_text_shift": "the CRS arrives as WKT2 BOUNDCRS TEXT (gdalsrsinfo shape): text -> proj-string -> composed datum twin, zero Python.",
    "projjson_text_merc": "the CRS arrives as PROJJSON TEXT: JSON -> proj-string -> merc Catalyst twin, zero Python.",
    "cell_counts": "pure JVM cell encode (no Python) -> single hash aggregate. One shuffle.",
    "pip_rect_zones": "r8: the 12 plan-time-literal rectangles compile to ONE whole-stage-codegen conditional aggregate over the points scan - zero joins, map-side partials, one tiny exchange (the former BroadcastNestedLoop paid 12M pair visits for 72k hits). General polygons keep pip_join (broadcast + closure rings) / pip_join_cells (cell hash join).",
    "knn_haversine": "points repartitioned by cell once and cached; per-ring hash join on cell; window top-k per query; driver loop only widens rings for unfinished queries. knn_join sizes the cell res itself from the points' parquet footer row count (proj_4_spark/scale.py knn_res; res 4 at the committed SFs), rings start at 1, and each round's tiny top-k is eagerly localCheckpointed so the candidate join runs exactly once.",
    "ann_cosine_topk": "deliberate brute force (oracle baseline), r8 shape: query batch collected once (serving contract), ONE mapInArrow corpus pass emits exact sequential-NumPy dots vs the closure-held query matrix as narrow candidate rows; corpus vectors cross the Python boundary exactly once; only exchange = ranking window.",
    "ann_ivf_topk": "r8: single mapInArrow corpus pass (centroid assignment + candidate dots vs the closure probe map) - no corpus repartition (the old list_id exchange shuffled the full vector payload for nothing), no join; the persisted inverted file in ann_index.py is the real serving layout.",
    "dedup_exact": "md5 groupBy: single shuffle with map-side combine.",
    "docs_geo_pipeline": "parquet scan -> generator-expand (posexplode) -> JVM regexp projections -> Catalyst webmerc twin (r5: zero Python) -> JVM tiles -> single aggregate.",
    "ann_lsh_topk": "hyperplane-LSH multiprobe, r8 shape: driver-side query signatures/probe map (exact sequential arithmetic), ONE mapInArrow corpus pass computes bucket+norm and emits candidate dots only for probed buckets; no bucket join; only exchange = ranking window.",
    "tpch_q1": "filter pushed to scan, single hash aggregate.",
    "revenue_by_nation": "two joins: customer shuffle hash/SMJ, nation broadcast; single aggregate.",
    "events_hourly": "date_trunc JVM-side, single hash aggregate.",
    "alt_op_select": "scan -> ONE Arrow UDF hosting the whole per-point candidate selection + retry loop (candidates rebuilt worker-side from specs, grids never in the task binary) -> select. Pure projection, no shuffle.",
    "polygon_area_sphere": "vertex posexplode -> ONE shuffle keyed by polygon id -> applyInPandas aggregate (one vectorized Karney solve per polygon).",
    "geodesic_waypoints_sphere": "inverse-solve UDF -> JVM fraction explode (sequence) -> direct-solve UDF. Pure projections, no shuffle; waypoint count scales rows JVM-side before the second Arrow hop.",
    "knn_karney_sphere": "same plan as knn_haversine with the production Karney UDF as the metric: cell repartition + cached points, per-ring hash joins, window top-k.",
}

qs = E.queries()
out = ["# PLANS — captured physical plans of the headline queries",
       "",
       "Generated by tools/make_plans.py (`spark.sql.adaptive.enabled=true`,",
       "local[8], sf0.01).  The properties asserted in tests/test_plans.py",
       "(pushdown through the transform UDF, column pruning, broadcast on",
       "dim sides, no BroadcastNestedLoop in the scale PIP path, single-",
       "pass single-exchange ANN, codegen health: every twin method",
       "compiles and fits the JIT ceiling) are gates, re-checked every",
       "test run;",
       "this file is the human-readable evidence.", ""]
for name, note in NOTES.items():
    df = qs[name](spark, "/root/testdata/sf0.01")
    jvm = spark._jvm
    txt = jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    # keep the plan tree, drop the verbose per-node detail sections
    tree = txt.split("\n\n")[0]
    out.append(f"## {name}")
    out.append("")
    out.append(f"**100 TB shape:** {note}")
    out.append("")
    out.append("```")
    out.append(tree)
    out.append("```")
    out.append("")
# preserve the hand-written analysis sections below the marker
MARKER = "## Round-4 plan notes"
try:
    old = open("/root/repo/PLANS.md").read()
except FileNotFoundError:
    tail = ""
else:
    # fail LOUDLY if the marker vanished — silently writing tail=""
    # would delete every hand-written analysis section below it
    tail = old[old.index(MARKER):]

out.append("""## pip_join_cells shuffle-amplification fix (r3)

The r2 shape exploded zones to one row per (zone, covering cell)
CARRYING the full ring arrays — a 1000-vertex polygon covering 100
cells shuffled its ring 100x. r3 explodes only (zone_id, bbox, cell),
hash-joins points on the cell key, prunes by bbox, then re-attaches
rings by a zone_id join (each ring shuffles once; only bbox-surviving
candidates carry it to the exact UDF).

Measured (tools/measure_pip_shuffle.py, 40 zones x 1000-vertex rings,
400k points, broadcast disabled to model the too-large-to-broadcast
regime, local[8]):

| res | cells/zone | old shuffle write | new | reduction | rows equal |
|-----|-----------|-------------------|-----|-----------|------------|
| 6   | ~10-20    | 17.0 MB           | 10.3 MB | 1.6x  | yes (54836) |
| 7   | ~30-70    | 32.7 MB           | 10.7 MB | 3.1x  | yes (54836) |

New-path bytes are dominated by the points-side cell shuffle (invariant);
the zones-side ring traffic itself drops ~cells-per-zone-fold, so the
reduction grows with resolution / polygon size. Driver oracle
pip_cells_zones stayed 150/150 value-exact.
""")
if tail:
    out.append(tail)
open("/root/repo/PLANS.md", "w").write("\n".join(out))
print("written", len("\n".join(out)), "bytes")
