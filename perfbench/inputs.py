"""Seeded input generation for the four workloads, cached on disk.

Every generator is a pure function of (seed, scale): the same seed gives
the same files.  Point and embedding tables are written as several
parquet files (at least one per CPU) so that a scan runs as several
tasks; the shipped test-data tables are one row group each and scan as
one task.

Generated inputs are cached under ``.perfbench/inputs`` in the checkout,
keyed by workload, seed, scale and a hash of the generator sources, so a
stale cache from older generator code is never reused.  Generation time
is recorded with the inputs but never counted in ``setup_s``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
STATE = os.path.join(REPO, ".perfbench")

# ---------------------------------------------------------------- sizes
# Sizes at --scale 1.  They are chosen so that one run of each workload
# completes several unit operations inside a 10 s timed region on a
# 4-CPU box while execution (not plan building) still dominates
# reproject_bulk.
BULK_POINTS = 150_000
BULK_BAD_NULL = 0.005        # share of rows with a NULL lon or lat
BULK_BAD_DOMAIN = 0.005      # share of rows with |lat| > 90 (out of domain)
BULK_SAMPLE = 1 / 150        # share of good rows re-checked against NumPy
CRS_FRAME_POINTS = 1_000
CRS_DEFS = 60                # distinct definitions per sequence
CRS_USES = 2                 # each definition is transformed this often
DOCS = 10_000
KNN_QUERIES = 4
ANN_VECTORS = 4_000
ANN_DIM = 64
ANN_CLUSTERS = 32
ANN_BATCH = 8                # queries per probe batch
ANN_BATCHES = 48

# ------------------------------------------------------------- routes
# reproject_bulk: one route per transform() path (column twin, staged
# twin, datum-pipeline twin, composed twin, Arrow UDF).
HELMERT_PIPELINE = (
    "+proj=pipeline +ellps=GRS80 +step +proj=cart "
    "+step +proj=helmert +x=67.8 +y=-106.3 +z=-119.2 "
    "+rx=0.1 +ry=0.2 +rz=0.3 +s=2.5 +convention=position_vector "
    "+step +proj=cart +inv")
UTM = "+proj=utm +zone=32 +ellps=GRS80"
BULK_ROUTES = (
    # (name, path expected from transform(), proj-string, roundtrip)
    ("merc", "column twin", "+proj=merc +ellps=WGS84", False),
    ("utm_roundtrip", "staged twin", UTM, True),
    ("helmert", "datum-pipeline twin", HELMERT_PIPELINE, False),
    ("lcc_towgs84", "composed twin",
     "+proj=lcc +lat_0=46.5 +lon_0=3 +lat_1=49 +lat_2=44 +x_0=700000 "
     "+y_0=6600000 +ellps=clrk80ign +towgs84=-168,-60,320", False),
    ("robin", "Arrow UDF", "+proj=robin +ellps=WGS84", False),
)

# reproject_many_crs: definition families drawn round-robin, so every
# seed's sequence has the same mix of code paths in every prefix.
CRS_FAMILIES = (
    ("tmerc", True), ("utm", True), ("lcc", True), ("tmerc", False),
    "pair", ("lcc", False), ("merc", True), ("sterea", True),
    ("aea", True), "pair", ("longlat", True), ("cass", True),
    ("utm", False), ("laea", True), "pair",
)
# definitions pinned at fixed sequence slots in every seed: the two
# catalog CRSs whose generated code is known to be oversized
CRS_PINNED = {3: 3035, 5: 2154}
CRS_FORMS = ("epsg", "proj", "wkt2", "projjson")
CRS_WARMUP_CODES = (32633, 2100, 3857, 3400)


def source_hash(*paths: str) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def _files(cpus: int) -> int:
    return max(2 * cpus, 4)


def _write_parquet_parts(table, path: str, n_parts: int) -> None:
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for i in range(n_parts):
        lo, hi = i * n // n_parts, (i + 1) * n // n_parts
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(path, f"part-{i:03d}.parquet"))


class InputCache:
    """One cached input directory; ``build(fn)`` fills it once."""

    def __init__(self, workload: str, seed: int, scale: float,
                 extra_sources: tuple = ()):
        tag = source_hash(os.path.abspath(__file__), *extra_sources)
        self.path = os.path.join(
            STATE, "inputs", f"{workload}-s{seed}-x{scale:g}-{tag}")

    def build(self, fn) -> dict:
        done = os.path.join(self.path, "meta.json")
        if os.path.exists(done):
            with open(done) as fh:
                meta = json.load(fh)
            meta["cached"] = True
            return meta
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)
        t0 = time.perf_counter()
        meta = fn(self.path)
        meta["gen_s"] = time.perf_counter() - t0
        with open(done + ".tmp", "w") as fh:
            json.dump(meta, fh)
        os.replace(done + ".tmp", done)
        meta["cached"] = False
        return meta


# ------------------------------------------------------- reproject_bulk

def bulk_points(seed: int, n: int) -> dict:
    """Uniform lon/lat with a stated share of NULL and out-of-domain
    rows.  Returns NumPy columns plus the ``bad`` mask of rows every
    route must report as errors."""
    rng = np.random.Generator(np.random.PCG64([seed, 1]))
    lon = rng.uniform(-180.0, 180.0, n)
    lat = rng.uniform(-90.0, 90.0, n)
    u = rng.random(n)
    null = u < BULK_BAD_NULL
    domain = (u >= BULK_BAD_NULL) & (u < BULK_BAD_NULL + BULK_BAD_DOMAIN)
    lat[domain] = np.sign(lat[domain]) * rng.uniform(90.5, 100.0,
                                                     domain.sum())
    null_lon = null & (rng.random(n) < 0.5)
    bad = null | domain
    return {"id": np.arange(n, dtype=np.int64), "lon": lon, "lat": lat,
            "null_lon": null_lon, "null_lat": null & ~null_lon,
            "bad": bad, "sample": bad | (rng.random(n) < BULK_SAMPLE)}


def gen_bulk(path: str, seed: int, scale: float, cpus: int) -> dict:
    import pyarrow as pa

    n = max(int(BULK_POINTS * scale), 2000)
    c = bulk_points(seed, n)
    table = pa.table({
        "id": c["id"],
        "lon": pa.array(c["lon"], mask=c["null_lon"]),
        "lat": pa.array(c["lat"], mask=c["null_lat"]),
    })
    _write_parquet_parts(table, os.path.join(path, "points"), _files(cpus))
    # the checked rows, as a table of the same schema: a route over it
    # compiles to the same generated code as over the whole table
    _write_parquet_parts(table.filter(c["sample"]),
                         os.path.join(path, "sample"), 1)
    return {"points": n, "files": _files(cpus),
            "bad_rows": int(c["bad"].sum()),
            "sample_rows": int(c["sample"].sum())}


def kernel_points(seed: int, n: int = 1_000_000):
    """Points for the single-thread kernel row (same distribution as the
    bulk table without bad rows), in degrees."""
    rng = np.random.Generator(np.random.PCG64([seed, 2]))
    return rng.uniform(-180.0, 180.0, n), rng.uniform(-90.0, 90.0, n)


# --------------------------------------------------- reproject_many_crs

def _family_pool(family):
    from proj_4_spark.sources import epsg_generated as cat

    proj, datum = family
    out = []
    for code, ps in cat.PRESETS.items():
        if not isinstance(code, int) or code in CRS_PINNED.values():
            continue
        toks = dict(t.split("=", 1) if "=" in t else (t, "")
                    for t in ps.split())
        if toks.get("proj") != proj:
            continue
        if any(k in toks for k in ("nadgrids", "geoidgrids", "axis")):
            continue
        if (("towgs84" in toks) or ("datum" in toks)) != datum:
            continue
        out.append(code)
    return sorted(out)


def pair_pool():
    """Geographic EPSG pairs whose catalog operations are all Helmert
    (no grid files needed)."""
    from proj_4_spark.sources import epsg_generated as cat

    return sorted(k for k, v in cat.TRANSFORMS.items()
                  if all(isinstance(c, int) for c in k)
                  and all(e[2] == "helmert" for e in v))


def crs_text(code: int, form: str) -> str:
    """One catalog CRS in one of the four accepted text forms."""
    from proj_4_spark.sources import epsg_generated as cat
    from proj_4_spark.sources.projjson import projstring_to_projjson
    from proj_4_spark.sources.wkt2 import projstring_to_wkt2

    ps = cat.PRESETS[code]
    if form == "epsg":
        return f"EPSG:{code}"
    if form == "proj":
        return " ".join("+" + t for t in ps.split())
    if form == "wkt2":
        return projstring_to_wkt2(ps, name=f"EPSG {code}")
    return json.dumps(projstring_to_projjson(ps, name=f"EPSG {code}"))


def crs_definitions(seed: int, n_defs: int) -> list[dict]:
    """``n_defs`` distinct definitions; family and text form are fixed
    by position, the code within the family by the seed."""
    rng = np.random.Generator(np.random.PCG64([seed, 3]))
    pools: dict = {}
    # warm-up definitions stay out of the timed sequence, so its first
    # calls are really cold
    used: set = set(CRS_WARMUP_CODES) | {pair_pool()[0]}
    defs = []
    for i in range(n_defs):
        fam = CRS_FAMILIES[i % len(CRS_FAMILIES)]
        if i in CRS_PINNED:
            code = CRS_PINNED[i]
            defs.append({"kind": "crs", "code": code,
                         "form": CRS_FORMS[i % 4],
                         "text": crs_text(code, CRS_FORMS[i % 4])})
            continue
        key = "pair" if fam == "pair" else fam
        if key not in pools:
            pools[key] = pair_pool() if fam == "pair" else _family_pool(fam)
        pool = [c for c in pools[key] if c not in used]
        pick = pool[int(rng.integers(len(pool)))]
        used.add(pick)
        if fam == "pair":
            defs.append({"kind": "pair", "src": f"EPSG:{pick[0]}",
                         "dst": f"EPSG:{pick[1]}"})
        else:
            form = CRS_FORMS[i % 4]
            defs.append({"kind": "crs", "code": pick, "form": form,
                         "text": crs_text(pick, form)})
    return defs


def crs_sequence(n_defs: int, uses: int) -> list[int]:
    """Call order over definition indices.  Block i makes the first call
    of definition i and repeats the ``uses - 1`` definitions before it,
    so every prefix has the same share of first (cold) calls."""
    seq = []
    for i in range(n_defs + uses - 1):
        for back in range(uses):
            d = i - back
            if 0 <= d < n_defs:
                seq.append(d)
    return seq


def gen_many_crs(path: str, seed: int, scale: float, cpus: int) -> dict:
    import pyarrow as pa

    n = max(int(CRS_FRAME_POINTS * scale), 50)
    rng = np.random.Generator(np.random.PCG64([seed, 4]))
    table = pa.table({"id": np.arange(n, dtype=np.int64),
                      "lon": rng.uniform(-180.0, 180.0, n),
                      "lat": rng.uniform(-80.0, 80.0, n)})
    _write_parquet_parts(table, os.path.join(path, "frame"), cpus)
    n_defs = max(int(CRS_DEFS * scale), 8)
    defs = crs_definitions(seed, n_defs)
    with open(os.path.join(path, "definitions.json"), "w") as fh:
        json.dump(defs, fh)
    seq = crs_sequence(n_defs, CRS_USES)
    return {"points": n, "definitions": n_defs, "calls": len(seq),
            "uses_per_definition": CRS_USES}


# ------------------------------------------------------- geo_docs_join

def gen_docs(path: str, seed: int, scale: float, cpus: int) -> dict:
    """Documents from the engine's single-process synthesiser
    (``synthesize_arrow``: the same mixture as ``synthesize_spark``, made
    in about 2 s instead of a Spark job that costs 10-15 s on a fresh
    seed), written as parquet.  The media points are decoded here a
    second, independent way (plain regex) for the output checks."""
    import re

    import pyarrow as pa
    import pyarrow.parquet as pq

    from proj_4_spark.docs.synth import synthesize_arrow

    n_docs = max(int(DOCS * scale), 500)
    table = synthesize_arrow(n_docs, seed=seed)
    _write_parquet_parts(table, os.path.join(path, "docs"), _files(cpus))
    t = table.to_pylist()
    rx = re.compile(r"lon=(-?[0-9.]+)&lat=(-?[0-9.]+)")
    doc, off, lon, lat = [], [], [], []
    for row in t:
        for sp in row["spans"]:
            if sp["kind"] != "media":
                continue
            m = rx.search(sp["media_ref"])
            doc.append(row["doc_id"])
            off.append(sp["offset"])
            lon.append(float(m.group(1)))
            lat.append(float(m.group(2)))
    pts = pa.table({"doc_id": doc, "span_offset": pa.array(off, pa.int32()),
                    "lon": lon, "lat": lat})
    pq.write_table(pts, os.path.join(path, "expected_points.parquet"))
    lon_a = np.asarray(lon)
    # knn queries: a seeded sample of media points in the synthesiser's
    # hot cells, where one ring round finds k neighbours; sparse queries
    # take up to four rounds of Spark jobs each, which the traced run's
    # time budget cannot carry
    from proj_4_spark.docs.synth import HOT_CENTERS

    rng = np.random.Generator(np.random.PCG64([seed, 5]))
    lat_a = np.asarray(lat)
    hot = np.zeros(len(lon_a), dtype=bool)
    for cx, cy in HOT_CENTERS:
        hot |= (np.abs(lon_a - cx) < 0.5) & (np.abs(lat_a - cy) < 0.5)
    ok = np.flatnonzero(hot)
    pick = rng.choice(ok, min(KNN_QUERIES, len(ok)), replace=False)
    queries = [{"q_id": f"q{i:03d}", "lon": float(lon_a[j]),
                "lat": float(lat_a[j])} for i, j in enumerate(pick)]
    with open(os.path.join(path, "knn_queries.json"), "w") as fh:
        json.dump(queries, fh)
    return {"docs": n_docs, "points": len(lon),
            "error_rows": int((lon_a == 999.0).sum()),
            "files": _files(cpus)}


# --------------------------------------------------------- ann_serving

def ann_vectors(seed: int, n: int):
    rng = np.random.Generator(np.random.PCG64([seed, 6]))
    centres = rng.standard_normal((ANN_CLUSTERS, ANN_DIM))
    label = rng.integers(0, ANN_CLUSTERS, n)
    v = centres[label] + 0.35 * rng.standard_normal((n, ANN_DIM))
    return v.astype(np.float32)


def gen_ann(path: str, seed: int, scale: float, cpus: int) -> dict:
    import pyarrow as pa

    n = max(int(ANN_VECTORS * scale), 1000)
    v = ann_vectors(seed, n)
    table = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(v.ravel(), pa.float32()), ANN_DIM).cast(
                pa.list_(pa.float32())),
    })
    _write_parquet_parts(table, os.path.join(path, "corpus"), _files(cpus))
    rng = np.random.Generator(np.random.PCG64([seed, 7]))
    q = rng.choice(n, ANN_BATCH * ANN_BATCHES, replace=False
                   if n >= ANN_BATCH * ANN_BATCHES else True)
    np.save(os.path.join(path, "query_rows.npy"), q)
    return {"vectors": n, "dim": ANN_DIM, "files": _files(cpus),
            "batch": ANN_BATCH, "batches": ANN_BATCHES}
