"""Driver-side fixture builders + oracles (FIXTURES.md §4-§6).

Expected outputs are materialized with pure-NumPy reference
implementations at fixture-build time — tests never recompute oracles
inside Spark jobs (FIXTURES.md "Determinism rules").
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
FIXTURE_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))), "fixtures")


def zones_table(n_zones: int = 200, seed: int = SEED) -> pa.Table:
    """Convex k-gon zones on a 20x10 graticule (FIXTURES.md §4);
    ~15 zones overlap the hot-cell centers (skew)."""
    from proj_4_spark.docs.synth import HOT_CENTERS

    rng = np.random.Generator(np.random.PCG64(seed))
    rows = []
    for z in range(n_zones):
        k = 3 + z % 6
        if z < 15:
            cx, cy = HOT_CENTERS[z % len(HOT_CENTERS)]
            cx += rng.uniform(-1, 1)
            cy += rng.uniform(-1, 1)
        else:
            gx = z % 20
            gy = (z // 20) % 10
            cx = -171.0 + gx * 18.0 + rng.uniform(-3, 3)
            cy = -81.0 + gy * 18.0 + rng.uniform(-3, 3)
        radius = 0.5 + (z % 8) * 0.5
        cy = float(np.clip(cy, -80 + radius, 80 - radius))
        phase = (z * 0.37) % (2 * math.pi)
        ring = []
        for j in range(k):
            ang = phase + 2 * math.pi * j / k
            ring.append({
                "lon": cx + radius * math.cos(ang),
                "lat": cy + radius * math.sin(ang),
            })
        lons = [p["lon"] for p in ring]
        lats = [p["lat"] for p in ring]
        rows.append({
            "zone_id": "zone-%04d" % z,
            "ring": ring,
            "min_lon": min(lons), "min_lat": min(lats),
            "max_lon": max(lons), "max_lat": max(lats),
        })
    ring_t = pa.list_(pa.struct([("lon", pa.float64()), ("lat", pa.float64())]))
    return pa.table({
        "zone_id": pa.array([r["zone_id"] for r in rows]),
        "ring": pa.array([r["ring"] for r in rows], ring_t),
        "min_lon": pa.array([r["min_lon"] for r in rows]),
        "min_lat": pa.array([r["min_lat"] for r in rows]),
        "max_lon": pa.array([r["max_lon"] for r in rows]),
        "max_lat": pa.array([r["max_lat"] for r in rows]),
    })


def expected_pip(points, zones: pa.Table):
    """Oracle PIP: same even-odd kernel run on the driver.

    points: iterable of (doc_id, span_offset, lon, lat).
    Returns sorted list of (doc_id, span_offset, zone_id)."""
    from proj_4_spark.spatial.pip import point_in_ring_np

    doc_ids = np.array([p[0] for p in points])
    offs = np.array([p[1] for p in points])
    lons = np.array([p[2] for p in points], dtype=np.float64)
    lats = np.array([p[3] for p in points], dtype=np.float64)
    out = []
    zs = zones.to_pylist()
    for z in zs:
        rx = np.array([p["lon"] for p in z["ring"]])
        ry = np.array([p["lat"] for p in z["ring"]])
        bbox = (
            (lons >= z["min_lon"]) & (lons <= z["max_lon"])
            & (lats >= z["min_lat"]) & (lats <= z["max_lat"])
        )
        idx = np.nonzero(bbox)[0]
        if len(idx) == 0:
            continue
        hit = point_in_ring_np(lons[idx], lats[idx], rx, ry)
        for i in idx[hit]:
            out.append((str(doc_ids[i]), int(offs[i]), z["zone_id"]))
    return sorted(out)


def knn_queries(n: int = 100, seed: int = SEED + 1) -> pa.Table:
    """Query points: uniform + hot-cluster mix (FIXTURES.md §6)."""
    from proj_4_spark.docs.synth import HOT_CENTERS

    rng = np.random.Generator(np.random.PCG64(seed))
    n_uni = int(n * 0.7)
    lon = np.concatenate([
        rng.uniform(-180, 180, n_uni),
        np.array([HOT_CENTERS[i % len(HOT_CENTERS)][0] for i in range(n - n_uni)])
        + rng.normal(0, 0.1, n - n_uni),
    ])
    lat = np.concatenate([
        rng.uniform(-80, 80, n_uni),
        np.array([HOT_CENTERS[i % len(HOT_CENTERS)][1] for i in range(n - n_uni)])
        + rng.normal(0, 0.1, n - n_uni),
    ])
    return pa.table({
        "q_id": pa.array(["q-%04d" % i for i in range(n)]),
        "lon": pa.array(lon),
        "lat": pa.array(lat),
    })


def ensure_fixture(name: str, builder) -> str:
    """Build-once parquet fixture under fixtures/."""
    os.makedirs(FIXTURE_DIR, exist_ok=True)
    path = os.path.join(FIXTURE_DIR, name)
    if not os.path.exists(path):
        pq.write_table(builder(), path)
    return path


def knn_karney_expected_table(sf_dir: str = "/root/testdata/sf0.01",
                              k_keep: int = 60) -> pa.Table:
    """Expected ellipsoidal-Karney kNN candidates for the driver's
    `knn_cell_partitioned` query at the correctness SF: per query point
    (event_id % 211 == 0), the `k_keep` nearest of ALL sf0.01 geo points
    by brute force through the SAME vectorized Karney inverse the
    production UDF uses (kernels/geodesic.py; reference geod_inverse,
    src/geodesic.c:1166).  The DuckDB oracle re-ranks these rows
    independently (row_number over dist, doc_id) and takes k=5 — so the
    distributed cell/ring/guard machinery is what the gate checks, while
    the metric itself is pinned by the geodtest suites.

    Brute force is the point here: no cells, no rings, no Spark."""
    from proj_4_spark.kernels.common import DEG_TO_RAD
    from proj_4_spark.kernels.geodesic import geodesic_inverse_karney

    ev = pq.read_table(os.path.join(sf_dir, "events.parquet"),
                       columns=["event_id"])["event_id"].to_numpy()
    ev = np.sort(ev.astype(np.int64))
    lon = (ev * 7919 % 360000) / 1000.0 - 180.0
    lat = (ev * 104729 % 170000) / 1000.0 - 85.0
    a, f = 6378137.0, 1 / 298.257222101
    q_idx = np.flatnonzero(ev % 211 == 0)
    qs, dids, dists = [], [], []
    lam, phi = lon * DEG_TO_RAD, lat * DEG_TO_RAD
    for qi in q_idx:
        d = geodesic_inverse_karney(
            np.full_like(lam, lam[qi]), np.full_like(phi, phi[qi]),
            lam, phi, a, f)
        keep = np.argpartition(d, k_keep)[:k_keep]
        qs.extend([str(ev[qi])] * k_keep)
        dids.extend(str(ev[j]) for j in keep)
        dists.extend(d[keep])
    return pa.table({
        "q_id": pa.array(qs, pa.string()),
        "doc_id": pa.array(dids, pa.string()),
        "dist": pa.array(np.asarray(dists), pa.float64()),
    })


def multimodal_expected_table(n: int = 300, seed: int = SEED) -> pa.Table:
    """Expected decode-derived features for the driver's
    `multimodal_features` query: the same deterministic payload per
    media_id (functions/multimodal.synth_media_row) pushed through the
    same per-payload feature math (payload_features) — but driver-side,
    no Spark, so the DuckDB oracle value-checks the mapInPandas
    plumbing (batching, Arrow binary transfer, schema) end to end."""
    from proj_4_spark.functions.multimodal import (
        payload_features,
        synth_media_row,
    )

    ids, kinds, means, stds = [], [], [], []
    for i in range(n):
        payload, meta = synth_media_row(i, seed=seed)
        feats = payload_features(payload, meta["media_type"])
        ids.append(f"m-{i:08d}")
        kinds.append(meta["media_type"])
        means.append(feats[0])
        stds.append(feats[1])
    return pa.table({
        "media_id": pa.array(ids, pa.string()),
        "media_type": pa.array(kinds, pa.string()),
        "f_mean": pa.array(means, pa.float64()),
        "f_std": pa.array(stds, pa.float64()),
    })
