"""Grid-shift file readers: NTv2 (.gsb), GTX (.gtx), CTable2 (.ct2).

Driver-side NumPy parsing (SURVEY.md §2.1 "driver-side parse -> Broadcast");
each grid becomes a plain dict of floats + float32 delta arrays that rides
into executor closures / broadcast variables.  Cell values stay float32
until the final add, matching the C (valueAt returns float,
src/grids.cpp:2917-2928 — SURVEY.md §4.3 fp-parity note).

References:
  NTv2:    src/grids.cpp:1763-1950 (NTv2GridSet::open at 1851; east-to-west
           column order + west-positive seconds, valueAt 1819-1845)
  GTX:     src/grids.cpp:155-268 (big-endian header: lat0/lon0/dlat/dlon/
           rows/cols; float32 cells; nodata -88.8888)
  CTable2: src/grids.cpp:1651-1760 (little-endian header, radians deltas)
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np

DEG_TO_RAD = np.pi / 180.0
ARCSEC_TO_RAD = DEG_TO_RAD / 3600.0

# default grid search paths (read-only reference fixtures + our own)
GRID_SEARCH_PATHS = [
    ".",
    os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), "fixtures", "grids"),
    "/root/reference/data/tests",
    "/root/reference/data",
]


@dataclass
class HGrid:
    """One horizontal shift (sub)grid.  Extents/res in radians; delta
    arrays float32 radians, shape (height, width), row 0 = south,
    col 0 = west; lon deltas already NTv2-convention-compensated
    (east-positive)."""

    name: str
    west: float
    south: float
    east: float
    north: float
    resx: float
    resy: float
    width: int
    height: int
    lon_shift: np.ndarray  # float32 radians
    lat_shift: np.ndarray  # float32 radians
    children: list = field(default_factory=list)
    # True for NTv1/NTv2/CTable2 whose stored west-positive lon was
    # negated at read time; GTiff hgrids store east-positive natively and
    # their valueAt ignores compensateNTConvention (grids.cpp:2094-2106),
    # so the "raw" value (hgrid_value path) equals the baked one.
    raw_lon_negated: bool = True

    @property
    def epsilon(self) -> float:
        return (self.resx + self.resy) * 1e-5  # REL_TOLERANCE_HGRIDSHIFT

    def contains(self, lam, phi):
        # isPointInExtent (grids.cpp:1420-1436): geographic extents try a
        # +-2pi longitude wrap before rejecting (antimeridian grids)
        e = self.epsilon
        lam = np.asarray(lam)
        lam = np.where(lam + e < self.west, lam + 2 * np.pi, lam)
        lam = np.where(lam - e > self.east, lam - 2 * np.pi, lam)
        return (
            (lam + e >= self.west) & (lam - e <= self.east)
            & (phi + e >= self.south) & (phi - e <= self.north)
        )


@dataclass
class VGrid:
    """Vertical shift grid (meters, float32), same layout as HGrid."""

    name: str
    west: float
    south: float
    east: float
    north: float
    resx: float
    resy: float
    width: int
    height: int
    values: np.ndarray  # float32 (height, width)
    nodata: float | None = None  # explicit nodata (GTiff tag); else heuristic

    @property
    def full_world(self) -> bool:
        return self.east - self.west + self.resx >= 2 * np.pi - 1e-10

    @property
    def epsilon(self) -> float:
        return (self.resx + self.resy) * 1e-5

    def contains(self, lam, phi):
        # isPointInExtent with eps = 0 (VerticalShiftGrid::gridAt,
        # grids.cpp:1439-1462): full-world passes any lon; otherwise try
        # one +-2pi wrap before rejecting
        phi_in = (phi >= self.south) & (phi <= self.north)
        if self.full_world:
            return phi_in
        lam = np.asarray(lam)
        lam = np.where(lam < self.west, lam + 2 * np.pi, lam)
        lam = np.where(lam > self.east, lam - 2 * np.pi, lam)
        return phi_in & (lam >= self.west) & (lam <= self.east)


# the reference's own test harness installs the downsampled EGM96 geoid
# under the production name (data/CMakeLists.txt:98 configure_file ->
# for_tests/egm96_15.gtx; Makefile.am:223 ln -sf) — mirror that so the
# gie geoidgrids cases run against the same fixture at the same
# tolerances
_TEST_GRID_ALIASES = {"egm96_15.gtx": "egm96_15_downsampled.gtx"}


def resolve_grid_path(name: str) -> str:
    if os.path.isabs(name) and os.path.exists(name):
        return name
    names = (name, _TEST_GRID_ALIASES.get(name))
    for d in GRID_SEARCH_PATHS:
        for nm in names:
            if nm is None:
                continue
            p = os.path.join(d, nm)
            if os.path.exists(p):
                return p
    raise FileNotFoundError(f"grid {name!r} not found in {GRID_SEARCH_PATHS}")


def _to_double_be_or_le(buf: bytes, offset: int, swap: bool) -> float:
    dt = np.dtype(np.float64).newbyteorder(">" if swap else "=")
    return float(np.frombuffer(buf, dtype=dt, count=1, offset=offset)[0])


def read_ntv2(path: str) -> list[HGrid]:
    """NTv2 .gsb reader; src/grids.cpp:1851-1950 + valueAt 1819-1845.

    Returns the list of subgrids (children resolved by extent nesting).
    """
    with open(path, "rb") as f:
        data = f.read()

    header = data[: 11 * 16]
    if header[56:63] != b"SECONDS":
        raise ValueError("Only GS_TYPE=SECONDS NTv2 files are supported")
    # must_swap detection per grids.cpp:1878: header[8] is NUM_OREC value
    # byte; 11 in native order means no swap needed on LE machines
    must_swap = header[8] != 11
    num_subfiles = int(
        np.frombuffer(header, dtype=np.dtype(np.int32).newbyteorder(
            ">" if must_swap else "="), count=1, offset=40)[0]
    )

    grids: list[HGrid] = []
    pos = 11 * 16
    f4 = np.dtype(np.float32).newbyteorder(">" if must_swap else "=")
    for _ in range(num_subfiles):
        sub = data[pos : pos + 11 * 16]
        if sub[:8] != b"SUB_NAME":
            raise ValueError("bad NTv2 subfile header")
        name = sub[8:16].decode("ascii", "replace").strip()
        OFF = 8 + 16 * 4
        south = _to_double_be_or_le(sub, OFF, must_swap) * DEG_TO_RAD / 3600.0
        north = _to_double_be_or_le(sub, OFF + 16, must_swap) * DEG_TO_RAD / 3600.0
        east = -_to_double_be_or_le(sub, OFF + 32, must_swap) * DEG_TO_RAD / 3600.0
        west = -_to_double_be_or_le(sub, OFF + 48, must_swap) * DEG_TO_RAD / 3600.0
        resy = _to_double_be_or_le(sub, OFF + 64, must_swap) * DEG_TO_RAD / 3600.0
        resx = _to_double_be_or_le(sub, OFF + 80, must_swap) * DEG_TO_RAD / 3600.0
        columns = int(abs((east - west) / resx + 0.5)) + 1
        rows = int(abs((north - south) / resy + 0.5)) + 1
        gs_count = int(
            np.frombuffer(sub, dtype=np.dtype(np.int32).newbyteorder(
                ">" if must_swap else "="), count=1, offset=8 + 16 * 10)[0]
        )
        if gs_count != rows * columns:
            raise ValueError(f"NTv2 subgrid {name}: GS_COUNT mismatch")
        pos += 11 * 16
        # 4 float32 per node: lat shift, lon shift, lat err, lon err
        vals = np.frombuffer(data, dtype=f4, count=gs_count * 4, offset=pos)
        pos += gs_count * 4 * 4
        vals = vals.reshape(rows, columns, 4)
        # east-to-west storage -> flip columns to west-to-east
        lat_sec = vals[:, ::-1, 0]
        lon_sec = vals[:, ::-1, 1]
        # seconds -> float32 radians, NTv2 west-positive compensated
        # (valueAt: float(sec * arcsec2rad), lon negated — grids.cpp:1838-1844)
        lat_shift = (lat_sec.astype(np.float64) * ARCSEC_TO_RAD).astype(np.float32)
        lon_shift = -(lon_sec.astype(np.float64) * ARCSEC_TO_RAD).astype(np.float32)
        grids.append(HGrid(
            name=name, west=west, south=south, east=east, north=north,
            resx=resx, resy=resy, width=columns, height=rows,
            lon_shift=np.ascontiguousarray(lon_shift),
            lat_shift=np.ascontiguousarray(lat_shift),
        ))
    return grids


def read_gtx(path: str) -> VGrid:
    """GTX .gtx reader; src/grids.cpp:192-268 (big-endian header)."""
    with open(path, "rb") as f:
        data = f.read()
    hdr = np.frombuffer(data, dtype=np.dtype(np.float64).newbyteorder(">"),
                        count=4, offset=0)
    yorigin, xorigin, ystep, xstep = (float(v) for v in hdr)
    rows, columns = (int(v) for v in np.frombuffer(
        data, dtype=np.dtype(np.int32).newbyteorder(">"), count=2, offset=32))
    if not (-360 <= xorigin <= 360 and -90 <= yorigin <= 90):
        raise ValueError("gtx file header has invalid extents")
    if xorigin >= 180.0:
        xorigin -= 360.0  # grids.cpp:235-238
    values = np.frombuffer(
        data, dtype=np.dtype(np.float32).newbyteorder(">"),
        count=rows * columns, offset=40,
    ).reshape(rows, columns)
    return VGrid(
        name=os.path.basename(path),
        west=xorigin * DEG_TO_RAD, south=yorigin * DEG_TO_RAD,
        east=(xorigin + xstep * (columns - 1)) * DEG_TO_RAD,
        north=(yorigin + ystep * (rows - 1)) * DEG_TO_RAD,
        resx=xstep * DEG_TO_RAD, resy=ystep * DEG_TO_RAD,
        width=columns, height=rows,
        values=np.ascontiguousarray(values),
    )


def read_ctable2(path: str) -> list[HGrid]:
    """CTable2 .ct2 reader; src/grids.cpp:1687-1760 (LE header; float32
    radians, west-positive lon compensated in valueAt:1754-1756).

    Note: the reference computes north with resX (grids.cpp:1736) — kept
    verbatim for parity."""
    with open(path, "rb") as f:
        data = f.read()
    if data[:8] != b"CTABLE V":
        raise ValueError("not a CTable2 file")
    ll = np.frombuffer(data, dtype="<f8", count=4, offset=96)
    lam_min, phi_min, del_lam, del_phi = (float(v) for v in ll)
    lim = np.frombuffer(data, dtype="<i4", count=2, offset=128)
    width, height = int(lim[0]), int(lim[1])
    n = width * height
    vals = np.frombuffer(data, dtype="<f4", count=n * 2, offset=160)
    vals = vals.reshape(height, width, 2)
    return [HGrid(
        name=os.path.basename(path),
        west=lam_min, south=phi_min,
        east=lam_min + del_lam * (width - 1),
        north=phi_min + del_lam * (height - 1),
        resx=del_lam, resy=del_phi, width=width, height=height,
        lon_shift=np.ascontiguousarray(-vals[:, :, 0]),
        lat_shift=np.ascontiguousarray(vals[:, :, 1]),
    )]


def read_ntv1(path: str) -> list[HGrid]:
    """NTv1 .dat reader; src/grids.cpp:1565-1647 (big-endian header in
    degrees; float64 arc-second deltas, east-to-west columns,
    west-positive lon)."""
    with open(path, "rb") as f:
        data = f.read()
    be_d = np.dtype(np.float64).newbyteorder(">")
    be_i = np.dtype(np.int32).newbyteorder(">")
    if int(np.frombuffer(data, dtype=be_i, count=1, offset=8)[0]) != 12:
        raise ValueError("NTv1 grid shift file has wrong record count")
    south = float(np.frombuffer(data, be_d, 1, offset=24)[0]) * DEG_TO_RAD
    north = float(np.frombuffer(data, be_d, 1, offset=40)[0]) * DEG_TO_RAD
    east = -float(np.frombuffer(data, be_d, 1, offset=56)[0]) * DEG_TO_RAD
    west = -float(np.frombuffer(data, be_d, 1, offset=72)[0]) * DEG_TO_RAD
    resy = float(np.frombuffer(data, be_d, 1, offset=88)[0]) * DEG_TO_RAD
    resx = float(np.frombuffer(data, be_d, 1, offset=104)[0]) * DEG_TO_RAD
    columns = int(abs((east - west) / resx + 0.5)) + 1
    rows = int(abs((north - south) / resy + 0.5)) + 1
    vals = np.frombuffer(data, be_d, rows * columns * 2, offset=192)
    vals = vals.reshape(rows, columns, 2)[:, ::-1, :]  # east-to-west -> flip
    lat_shift = (vals[:, :, 0] * ARCSEC_TO_RAD).astype(np.float32)
    lon_shift = -(vals[:, :, 1] * ARCSEC_TO_RAD).astype(np.float32)
    return [HGrid(
        name=os.path.basename(path), west=west, south=south, east=east,
        north=north, resx=resx, resy=resy, width=columns, height=rows,
        lon_shift=np.ascontiguousarray(lon_shift),
        lat_shift=np.ascontiguousarray(lat_shift),
    )]


def _load_grid_list(names: str, null_grid, read) -> list:
    """Load a +grids=a,b,... list in list order.  An '@' prefix marks a
    grid as optional — a missing optional grid is skipped silently
    (nadgrids semantics, src/datums.cpp:49 / grid init); 'null' is the
    builtin zero-shift grid from ``null_grid()``; ``read(name, path)``
    returns the grids of one resolved file."""
    out = []
    for raw in str(names).split(","):
        nm = raw.strip()
        if not nm:
            continue
        optional = nm.startswith("@")
        nm = nm.lstrip("@")
        if nm == "null":
            out.append(null_grid())
            continue
        try:
            path = resolve_grid_path(nm)
        except FileNotFoundError:
            if optional:
                continue
            raise
        out.extend(read(nm, path))
    return out


def _read_hgrid_file(nm: str, path: str) -> list[HGrid]:
    if nm.endswith(".gsb"):
        return read_ntv2(path)
    if _is_tiff(path):
        return read_gtiff_hgrids(path)
    # sniff magic: CTable2, NTv1 ("HEADER"), else NTv2
    with open(path, "rb") as f:
        magic = f.read(8)
    if magic == b"CTABLE V":
        return read_ctable2(path)
    if magic.startswith(b"HEADER"):
        return read_ntv1(path)
    return read_ntv2(path)


def load_hgrids(names: str) -> list[HGrid]:
    """Load a +grids=a.gsb,b.gsb horizontal list (see _load_grid_list).
    Subgrid preference at lookup time: most-refined containing grid
    wins (gridAt child recursion, src/grids.cpp:2402-2414)."""
    return _load_grid_list(names, null_hgrid, _read_hgrid_file)


def null_hgrid() -> HGrid:
    """The builtin 'null' grid: whole-world zero shift
    (NullHorizontalShiftGrid, src/grids.cpp)."""
    z = np.zeros((3, 3), dtype=np.float32)
    return HGrid(
        name="null", west=-np.pi, south=-np.pi / 2, east=np.pi, north=np.pi / 2,
        resx=np.pi, resy=np.pi / 2, width=3, height=3,
        lon_shift=z, lat_shift=z,
    )


def null_vgrid() -> VGrid:
    return VGrid(
        name="null", west=-np.pi, south=-np.pi / 2, east=np.pi, north=np.pi / 2,
        resx=np.pi, resy=np.pi / 2, width=3, height=3,
        values=np.zeros((3, 3), dtype=np.float32),
    )


def load_vgrids(names: str) -> list[VGrid]:
    return _load_grid_list(
        names, null_vgrid,
        lambda nm, path: (read_gtiff_vgrids(path) if _is_tiff(path)
                          else [read_gtx(path)]))


def read_gtiff_hgrids(path: str) -> list[HGrid]:
    """GeoTIFF horizontal shift grids (GTiffHGridShiftSet::open,
    src/grids.cpp:2150-2300): samples latitude_offset/longitude_offset
    (defaults 0/1), UNITTYPE arc-second (default)/degree/radian,
    positive_value east (default)/west."""
    from proj_4_spark.sources.tiff import read_gtiff_grids

    out: list[HGrid] = []
    for g in read_gtiff_grids(path):
        idx_lat, idx_lon = 0, 1
        found_any = found_lat = found_lon = False
        for i in range(g.samples):
            d = g.item("DESCRIPTION", i)
            if d:
                found_any = True
            if d == "latitude_offset":
                idx_lat, found_lat = i, True
            elif d == "longitude_offset":
                idx_lon, found_lon = i, True
        if found_any and not (found_lat or found_lon):
            if out:
                continue  # extra IFD without offset channels: ignored
            raise ValueError("no longitude_offset/latitude_offset channel")
        if found_lat != found_lon:
            raise ValueError("latitude_offset/longitude_offset must both exist")
        positive_east = True
        pv = g.item("positive_value", idx_lon)
        if pv:
            if pv == "west":
                positive_east = False
            elif pv != "east":
                raise ValueError(f"unsupported positive_value {pv}")
        unit = g.item("UNITTYPE", idx_lat) or "arc-second"
        conv = {"arc-second": ARCSEC_TO_RAD, "radian": 1.0,
                "degree": DEG_TO_RAD}.get(unit)
        if conv is None:
            raise ValueError(f"unsupported unit {unit}")
        # multiply in float64 then round once to float32, exactly like
        # C's float(value * convFactorToRadian) — NumPy 2 scalar promotion
        # would otherwise do the multiply in float32 (one-ulp drift)
        lon = g.data[idx_lon].astype(np.float64) * conv
        lat = g.data[idx_lat].astype(np.float64) * conv
        if not positive_east:
            lon = -lon
        out.append(HGrid(
            name=g.name, west=g.west, south=g.south, east=g.east,
            north=g.north, resx=g.resx, resy=g.resy, width=g.width,
            height=g.height,
            lon_shift=np.ascontiguousarray(lon.astype(np.float32)),
            lat_shift=np.ascontiguousarray(lat.astype(np.float32)),
            raw_lon_negated=False,
        ))
    if not out:
        raise ValueError("no usable horizontal grid IFD")
    return out


def read_gtiff_vgrids(path: str) -> list[VGrid]:
    """GeoTIFF vertical shift grids (GTiffVGridShiftSet::open,
    src/grids.cpp:1258-1342): sample geoid_undulation/vertical_offset
    (default 0), metres."""
    from proj_4_spark.sources.tiff import read_gtiff_grids

    out: list[VGrid] = []
    for g in read_gtiff_grids(path):
        idx = 0
        found_any = found = False
        for i in range(g.samples):
            d = g.item("DESCRIPTION", i)
            if d:
                found_any = True
            if d in ("geoid_undulation", "vertical_offset"):
                idx, found = i, True
        if found_any and not found:
            if out:
                continue
            raise ValueError("no geoid_undulation/vertical_offset channel")
        out.append(VGrid(
            name=g.name, west=g.west, south=g.south, east=g.east,
            north=g.north, resx=g.resx, resy=g.resy, width=g.width,
            height=g.height,
            values=np.ascontiguousarray(g.data[idx].astype(np.float32)),
            nodata=g.nodata,
        ))
    if not out:
        raise ValueError("no usable vertical grid IFD")
    return out


def _is_tiff(path: str) -> bool:
    with open(path, "rb") as f:
        magic = f.read(4)
    return magic[:2] in (b"II", b"MM") and len(magic) == 4 and magic[2] in (42, 43, 0) and (
        magic[2:4] in (b"*\x00", b"+\x00", b"\x00*", b"\x00+"))


def load_generic_grids(names: str):
    """Generic (multi-sample) grids for deformation/xyzgridshift
    (pj_generic_grid_init); GeoTIFF-backed, plus the 'null' grid."""
    from proj_4_spark.sources.tiff import GTiffGrid, read_gtiff_grids

    def null_grid():
        return GTiffGrid(
            name="null", width=3, height=3, spp=3,
            data=np.zeros((3, 3, 3), dtype=np.float32), metadata={},
            nodata=None, is_geographic=True,
            west=-np.pi, south=-np.pi / 2, east=np.pi, north=np.pi / 2,
            resx=np.pi, resy=np.pi / 2, description="null")

    return _load_grid_list(names, null_grid,
                           lambda nm, path: read_gtiff_grids(path))
