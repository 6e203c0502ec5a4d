"""Broadcast point-in-polygon join.

Plan shape (north_rule / SURVEY.md §2.5):
  1. broadcast the polygon table (small dimension side — zone rings +
     bboxes), so the join is a BroadcastNestedLoop/Hash with *bbox range
     predicates* doing the candidate pruning JVM-side;
  2. exact test on surviving (point, polygon) candidate pairs with a
     vectorized NumPy ray-crossing kernel inside one pandas UDF.

At 100 TB the fact side never shuffles: candidates ~= points x avg
bbox-overlap (<< cross product), and the exact test is Arrow-batched.
For polygon sets too large to broadcast, pre-join on a shared cell index
(cells.cell_col at a resolution ~ polygon size) instead — same exact
kernel downstream.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def point_in_ring_np(px, py, ring_x, ring_y):
    """Vectorized even-odd (ray crossing) test of points against ONE ring.

    px/py: [n]; ring_x/ring_y: [m] closed or open ring (auto-closed).
    Boundary convention: the standard even-odd half-open rule (consistent
    with the driver-side oracle in tests).
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    rx = np.asarray(ring_x, dtype=np.float64)
    ry = np.asarray(ring_y, dtype=np.float64)
    if rx[0] != rx[-1] or ry[0] != ry[-1]:
        rx = np.append(rx, rx[0])
        ry = np.append(ry, ry[0])
    x1, y1 = rx[:-1], ry[:-1]       # [m]
    x2, y2 = rx[1:], ry[1:]
    # crossings[i] = count over edges; broadcast points x edges
    pyc = py[:, None]
    pxc = px[:, None]
    cond = (y1[None, :] > pyc) != (y2[None, :] > pyc)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1[None, :] + (pyc - y1[None, :]) / (y2[None, :] - y1[None, :]) * (
            x2[None, :] - x1[None, :]
        )
    hits = cond & (pxc < xint)
    return hits.sum(axis=1) % 2 == 1


def pip_join(points_df, zones_df, lon: str = "lon", lat: str = "lat"):
    """points (doc_id, span_offset, lon, lat) x zones
    (zone_id, ring:array<struct<lon,lat>>, min_lon..max_lat)
    -> (doc_id, span_offset, zone_id).

    zones_df is broadcast; bbox predicates prune candidates JVM-side;
    the exact ray-crossing test runs in one Arrow-batched UDF with the
    ring geometry held as a CLOSURE constant keyed by zone_id (r8: the
    rings used to travel as array columns through the join and the
    Arrow boundary — ~40 doubles per candidate row of pure dead weight;
    the zone side is small by this function's contract, the same
    assumption its broadcast already makes, so one driver collect of
    (zone_id, ring) ships the geometry once per task instead of once
    per candidate).  Identical candidates, identical kernel.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    ring_rows = zones_df.select(
        "zone_id", F.col("ring.lon").alias("rx"),
        F.col("ring.lat").alias("ry")).collect()
    rings = {r["zone_id"]: (np.asarray(r["rx"], dtype=np.float64),
                            np.asarray(r["ry"], dtype=np.float64))
             for r in ring_rows}

    cand = points_df.join(
        F.broadcast(
            zones_df.select(
                "zone_id", "min_lon", "min_lat", "max_lon", "max_lat",
            )
        ),
        on=(
            (F.col(lon) >= F.col("min_lon"))
            & (F.col(lon) <= F.col("max_lon"))
            & (F.col(lat) >= F.col("min_lat"))
            & (F.col(lat) <= F.col("max_lat"))
        ),
        how="inner",
    )

    @pandas_udf("boolean")
    def _exact(zid: pd.Series, px: pd.Series,
               py: pd.Series) -> pd.Series:
        n = len(px)
        out = np.zeros(n, dtype=bool)
        if n == 0:
            return pd.Series(out)
        pxv = px.to_numpy(dtype=np.float64)
        pyv = py.to_numpy(dtype=np.float64)
        # group candidate rows by zone_id (unique per ring — a ring-shape
        # key would collide for distinct polygons sharing a lon profile)
        df = pd.DataFrame({"i": np.arange(n), "k": zid.to_numpy()})
        for key, grp in df.groupby("k", sort=False):
            idx = grp["i"].to_numpy()
            rx, ry = rings[key]
            out[idx] = point_in_ring_np(pxv[idx], pyv[idx], rx, ry)
        return pd.Series(out)

    return cand.where(
        _exact(F.col("zone_id"), F.col(lon), F.col(lat))
    ).drop("min_lon", "min_lat", "max_lon", "max_lat")


def _zone_cells_col(res: int):
    """Array column of all res-cells covered by a zone's bbox
    (JVM-side: sequence over the iy/ix index ranges, no UDF)."""
    from pyspark.sql import functions as F

    from proj_4_spark.spatial.cells import index_cols, pack_col

    ix0, iy0 = index_cols(F.col("min_lon"), F.col("min_lat"), res)
    ix1, iy1 = index_cols(F.col("max_lon"), F.col("max_lat"), res)
    return F.flatten(
        F.transform(
            F.sequence(iy0, iy1),
            lambda iy: F.transform(
                F.sequence(ix0, ix1), lambda ix: pack_col(res, iy, ix)),
        )
    )


def pip_join_cells(points_df, zones_df, res: int = 6,
                   lon: str = "lon", lat: str = "lat"):
    """PIP join for zone sets too large to broadcast: both sides key on
    the shared cell index (spatial/cells) and meet in an ordinary HASH
    join — no cross product, no broadcast.

    Plan shape (the 100-TB path promised in the module docstring):
      1. zones explode to the cells covering their bbox — carrying ONLY
         (zone_id, bbox, cell), never the ring: a 1000-vertex polygon
         covering 100 cells must not shuffle its ring 100x (cheap:
         cells per zone ~ bbox area / cell area — pick `res` so that's
         O(10-100));
      2. points compute their single cell (JVM expression);
      3. hash join on cell (both sides shuffle-partitioned by cell —
         co-located, skew handled by AQE / salting upstream);
      4. bbox predicate prunes candidates;
      5. ring geometry re-attaches by a zone_id join (each ring
         shuffles ONCE, and only bbox-surviving candidates carry it),
         then the same exact ray-crossing UDF.

    Same output as pip_join; pick by zone-table size.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from proj_4_spark.spatial.cells import cell_col

    zones_cells = zones_df.select(
        "zone_id",
        "min_lon", "min_lat", "max_lon", "max_lat",
        F.explode(_zone_cells_col(res)).alias("cell"),
    )
    pts = points_df.withColumn("cell", cell_col(F.col(lon), F.col(lat), res))
    cand = pts.join(zones_cells, "cell", "inner").where(
        (F.col(lon) >= F.col("min_lon")) & (F.col(lon) <= F.col("max_lon"))
        & (F.col(lat) >= F.col("min_lat")) & (F.col(lat) <= F.col("max_lat"))
    )
    rings = zones_df.select(
        "zone_id",
        F.col("ring.lon").alias("ring_lon"),
        F.col("ring.lat").alias("ring_lat"),
    )
    cand = cand.join(rings, "zone_id", "inner")

    @pandas_udf("boolean")
    def _exact(
        zid: pd.Series, px: pd.Series, py: pd.Series, rlon: pd.Series, rlat: pd.Series
    ) -> pd.Series:
        n = len(px)
        out = np.zeros(n, dtype=bool)
        if n == 0:
            return pd.Series(out)
        pxv = px.to_numpy(dtype=np.float64)
        pyv = py.to_numpy(dtype=np.float64)
        df = pd.DataFrame({"i": np.arange(n), "k": zid.to_numpy()})
        for _, grp in df.groupby("k", sort=False):
            idx = grp["i"].to_numpy()
            rx = np.asarray(rlon.iloc[idx[0]], dtype=np.float64)
            ry = np.asarray(rlat.iloc[idx[0]], dtype=np.float64)
            out[idx] = point_in_ring_np(pxv[idx], pyv[idx], rx, ry)
        return pd.Series(out)

    return cand.where(
        _exact(F.col("zone_id"), F.col(lon), F.col(lat),
               F.col("ring_lon"), F.col("ring_lat"))
    ).drop("ring_lon", "ring_lat", "min_lon", "min_lat", "max_lon", "max_lat",
           "cell")
