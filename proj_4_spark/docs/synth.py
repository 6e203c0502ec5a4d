"""Deterministic synthetic interleaved text+media document table.

Schema per BASELINE.json input_hint / FIXTURES.md §1:
  doc_id: string,
  spans:  array<struct<kind:string, text:string, media_ref:string, offset:int>>

Geo-tag encoding (FIXTURES.md §1):
  media://{doc_id}/{k}?lon={lon:.9f}&lat={lat:.9f}&crs=EPSG:4326

Determinism: one PCG64(seed=42) stream in documented generation order
(FIXTURES.md "Determinism rules").  Generation happens on the driver for
unit-test sizes; for bench-scale tables use `synthesize_spark`, which
derives per-doc substreams PCG64(seed ^ doc_id) so generation is
order-independent and distributes (the scale path to 10^12 docs — each
partition generates its own id-range with no coordination).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

SEED = 42
HOT_CENTERS = [
    (7.48, 53.50),
    (10.75, 53.58),
    (-111.5, 45.26),
    (2.25, 46.5),
    (13.45, 50.66),
]
PATHO_LATS = [90.0, -90.0, 89.9999999, -89.9999999]
PATHO_LONS = [180.0, -180.0, 179.999]

SPANS_SCHEMA = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)


def _media_coords(rng: np.random.Generator, n: int):
    """Draw n media coordinates per the FIXTURES.md §1 mixture."""
    u = rng.random(n)
    lon = np.empty(n)
    lat = np.empty(n)
    # 90% uniform
    uni = u < 0.90
    lon[uni] = rng.uniform(-180, 180, uni.sum())
    lat[uni] = rng.uniform(-85, 85, uni.sum())
    # 8% clustered hot cells
    clus = (u >= 0.90) & (u < 0.98)
    nc = clus.sum()
    centers = rng.integers(0, len(HOT_CENTERS), nc)
    cx = np.array([HOT_CENTERS[i][0] for i in centers])
    cy = np.array([HOT_CENTERS[i][1] for i in centers])
    lon[clus] = cx + rng.normal(0, 0.05, nc)
    lat[clus] = cy + rng.normal(0, 0.05, nc)
    # 2% pathological (incl. 0.1% overall with lon=999 error rows)
    path = u >= 0.98
    npth = path.sum()
    lat[path] = rng.choice(PATHO_LATS, npth)
    lon[path] = rng.choice(PATHO_LONS, npth)
    err = path & (rng.random(n) < 0.05)  # 0.05 * 2% = 0.1% of media spans
    lon[err] = 999.0
    return lon, lat


def _build_rows(doc_ids: np.ndarray, rng: np.random.Generator):
    """Build (doc_id_str, spans) rows for the given int doc ids."""
    rows_doc = []
    rows_spans = []
    for i in doc_ids:
        doc_id = "doc-%012d" % i
        n_spans = 1 + (i % 7)
        spans = []
        for k in range(n_spans):
            is_media = (i + k) % 3 == 0
            if is_media:
                lon, lat = _media_coords(rng, 1)
                ref = "media://%s/%d?lon=%.9f&lat=%.9f&crs=EPSG:4326" % (
                    doc_id, k, lon[0], lat[0],
                )
                spans.append({"kind": "media", "text": "", "media_ref": ref, "offset": k})
            else:
                spans.append({
                    "kind": "text", "text": f"t-{doc_id}-{k}",
                    "media_ref": "", "offset": k,
                })
        rows_doc.append(doc_id)
        rows_spans.append(spans)
    return rows_doc, rows_spans


def synthesize_arrow(n_docs: int, seed: int = SEED) -> pa.Table:
    """Driver-side generation (unit-test scale)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    ids, spans = _build_rows(np.arange(n_docs), rng)
    return pa.table(
        {"doc_id": pa.array(ids, pa.string()),
         "spans": pa.array(spans, pa.list_(SPANS_SCHEMA))}
    )


def synthesize_spark(spark, n_docs: int, seed: int = SEED, partitions: int | None = None):
    """Distributed generation: each partition generates its own id range
    with a per-doc PCG64 substream — no shuffle, no driver bottleneck,
    linear scale-out (the 10^12-doc path)."""
    import pandas as pd
    from pyspark.sql import functions as F

    spans_ddl = (
        "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    )

    def gen(iterator):
        for pdf in iterator:
            ids = pdf["id"].to_numpy()
            out_ids = []
            out_spans = []
            for i in ids:
                # per-doc substream keeps generation order-independent
                rng = np.random.Generator(np.random.PCG64(seed ^ int(i)))
                d, s = _build_rows(np.array([i]), rng)
                out_ids.extend(d)
                out_spans.extend(s)
            yield pd.DataFrame({"doc_id": out_ids, "spans": out_spans})

    base = spark.range(0, n_docs, numPartitions=partitions)
    return base.mapInPandas(gen, schema=f"doc_id string, spans {spans_ddl}")
