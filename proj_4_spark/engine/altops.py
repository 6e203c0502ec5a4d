"""Per-point alternative-operation selection with retry.

Reimplements the candidate-selection loop of proj_create_crs_to_crs
transforms (src/4D_api.cpp:204-254 `pj_get_suggested_operation`,
:268-364 `proj_trans` retry loop) as vectorized NumPy over a STATIC
candidate list (the EPSG-graph construction of that list is out of
scope — SURVEY.md §7.7; callers supply candidates, e.g. the
`@conus,@alaska,...` fallback chains of src/datums.cpp:49).

Semantics preserved point-for-point:
- spatial criterion: direction-dependent area-of-use bbox containment
  (src bbox for FWD, dst bbox for INV), closed intervals;
- ranking: FIRST spatially-matching candidate wins, later ones replace
  it only with (accuracy >= 0 AND accuracy < best AND not offshore) —
  including the quirk that a first match with accuracy -1 sets
  bestAccuracy = -1 and can never be displaced (4D_api.cpp:238-243);
- N_MAX_RETRY = 2: a candidate whose kernel returns HUGE_VAL (our NaN)
  for a point is excluded FOR THAT POINT and selection re-runs (the
  lon=-111.5 lat=45.26 ntv2_0-bbox-but-conus-point case, 4D_api.cpp
  :279-283);
- exhausted retries / no spatial match: fall back to the first
  candidate that needs no grids (4D_api.cpp:330-360); if none, the
  point errors (NaN, EINVAL semantics).

Vectorization: selection is k (small) masked passes over n points
(np.where ranking); application groups points by selected candidate and
applies each pipeline once to its subset (masked re-application), so
per-attempt cost is O(k*n) comparisons + one kernel call per distinct
candidate — no per-point Python.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from proj_4_spark.engine.plan import Operation, create_operation

_N_MAX_RETRY = 2  # src/4D_api.cpp:269


@dataclass
class Candidate:
    """One alternative coordinate operation (CoordOperation in
    src/proj_internal.h: pj + accuracy + area-of-use bboxes + flags)."""

    op: Operation
    # area of use: (minx/west, miny/south, maxx/east, maxy/north).
    # bbox_units="degrees" (the EPSG convention; compared in radians
    # against angular inputs) or "native" (source-CRS units — projected
    # meters — matching how proj_create_crs_to_crs stores minxSrc etc.
    # transformed into source coordinates).
    bbox_src: tuple[float, float, float, float]
    bbox_dst: tuple[float, float, float, float] | None = None
    accuracy: float = -1.0  # < 0: unknown (4D_api.cpp accuracy semantics)
    is_offshore: bool = False
    needs_grids: bool = False
    name: str = ""
    bbox_units: str = "degrees"
    # destination-side units may differ from the source side (e.g. a
    # geographic->projected candidate: degrees src, meters dst — the
    # inverse direction compares projected inputs against bbox_dst);
    # None inherits bbox_units
    bbox_dst_units: str | None = None
    # projstring spec when built via from_projstring: lets the Spark
    # surface ship the (tiny) string and rebuild the operation — with
    # its loaded grids — ON THE WORKER instead of pickling megabytes of
    # grid arrays into the UDF closure of every task binary
    spec: str | None = None

    def __post_init__(self):
        if self.bbox_dst is None:
            self.bbox_dst = self.bbox_src
        if self.bbox_dst_units is None:
            self.bbox_dst_units = self.bbox_units

    @classmethod
    def from_projstring(cls, projstring: str, bbox_src, **kw):
        needs = "+grids=" in projstring or "grids=" in projstring
        kw.setdefault("needs_grids", needs)
        kw.setdefault("name", projstring)
        kw.setdefault("spec", projstring)
        return cls(op=create_operation(projstring, emulation=False),
                   bbox_src=tuple(float(v) for v in bbox_src), **kw)


class AltOperation:
    """proj_trans with alternativeCoordinateOperations: applies the
    best per-point candidate with up to N_MAX_RETRY masked retries.

    apply(lam, phi, z, t, direction) -> (x, y, z, t, chosen) where
    `chosen` is the per-point candidate index (-1: errored / no
    operation).  Angular input in RADIANS like Operation.apply; bboxes
    are degrees (converted once here, as proj_create_crs_to_crs stores
    them in degrees and compares against degree coords — we compare in
    radians-scaled space)."""

    def __init__(self, candidates: list[Candidate]):
        if not candidates:
            raise ValueError("need at least one candidate")
        self.candidates = list(candidates)
        d2r = np.pi / 180.0
        s_scale = np.array([[d2r if c.bbox_units == "degrees" else 1.0]
                            for c in candidates])
        d_scale = np.array([[d2r if c.bbox_dst_units == "degrees" else 1.0]
                            for c in candidates])
        self._src = np.array([c.bbox_src for c in candidates]) * s_scale
        self._dst = np.array([c.bbox_dst for c in candidates]) * d_scale
        self._acc = np.array([c.accuracy for c in candidates])
        self._off = np.array([c.is_offshore for c in candidates])

    def _suggest(self, x, y, excluded, direction):
        """Vectorized pj_get_suggested_operation: per-point best
        candidate index honoring per-point exclusions; -1 if none."""
        boxes = self._src if direction == "fwd" else self._dst
        n = x.shape[0]
        best = np.full(n, -1, dtype=np.int64)
        best_acc = np.full(n, np.finfo(np.float64).max)
        for i, c in enumerate(self.candidates):
            w, s, e, nn = boxes[i]
            ok = ((x >= w) & (x <= e) & (y >= s) & (y <= nn)
                  & ~excluded[:, i])
            # 4D_api.cpp:238-243: first match always taken; later ones
            # only with known better accuracy and onshore
            take = ok & ((best < 0)
                         | ((self._acc[i] >= 0) & (self._acc[i] < best_acc)
                            & ~self._off[i]))
            best = np.where(take, i, best)
            best_acc = np.where(take, self._acc[i], best_acc)
        return best

    def apply(self, x, y, z, t, direction: str = "fwd"):
        x = np.asarray(x, dtype=np.float64).copy()
        y = np.asarray(y, dtype=np.float64).copy()
        z = np.asarray(z, dtype=np.float64).copy()
        t = np.asarray(t, dtype=np.float64).copy()
        n = x.shape[0]
        k = len(self.candidates)

        ox = np.full(n, np.nan)
        oy = np.full(n, np.nan)
        oz = np.full(n, np.nan)
        ot = np.full(n, np.nan)
        chosen = np.full(n, -1, dtype=np.int64)
        excluded = np.zeros((n, k), dtype=bool)
        pending = np.ones(n, dtype=bool)  # still needs a result

        for _retry in range(_N_MAX_RETRY + 1):
            if not pending.any():
                break
            best = self._suggest(x, y, excluded, direction)
            best[~pending] = -1
            for i in range(k):
                m = best == i
                if not m.any():
                    continue
                rx, ry, rz, rt = self.candidates[i].op.apply(
                    x[m], y[m], z[m], t[m], direction)
                good = np.isfinite(rx)
                gi = np.flatnonzero(m)
                gg = gi[good]
                ox[gg], oy[gg] = rx[good], ry[good]
                oz[gg], ot[gg] = rz[good], rt[good]
                chosen[gg] = i
                pending[gg] = False
                excluded[gi[~good], i] = True  # per-point exclusion
            # points with no spatial match leave the loop for the
            # grid-free fallback; exclusions only grow, so once nothing
            # selects a candidate the loop is done
            if not (best >= 0).any():
                break

        # grid-free fallback (4D_api.cpp:330-360): first candidate that
        # does not require grids, applied to every unresolved point
        if pending.any():
            for i, c in enumerate(self.candidates):
                if c.needs_grids:
                    continue
                m = np.flatnonzero(pending)
                rx, ry, rz, rt = c.op.apply(x[m], y[m], z[m], t[m], direction)
                ox[m], oy[m], oz[m], ot[m] = rx, ry, rz, rt
                chosen[m] = np.where(np.isfinite(rx), i, -1)
                pending[m] = False
                break
        # still pending -> no grid-free op: EINVAL / proj_coord_error
        return ox, oy, oz, ot, chosen


import functools


@functools.lru_cache(maxsize=64)
def _cached_alt_operation(meta: tuple) -> "AltOperation":
    """Worker-side AltOperation rebuild from (spec, bboxes, ...) tuples
    — one construction (incl. grid loads) per worker process."""
    cands = [
        Candidate(op=create_operation(spec, emulation=False),
                  bbox_src=bs, bbox_dst=bd, accuracy=acc, is_offshore=off,
                  needs_grids=ng, name=nm, bbox_units=bu,
                  bbox_dst_units=bdu, spec=spec)
        for spec, bs, bd, acc, off, ng, nm, bu, bdu in meta
    ]
    return AltOperation(cands)


def alt_transform(df, candidates: list[Candidate],
                  lon: str = "lon", lat: str = "lat",
                  out_prefix: str = "", degrees: bool | None = None,
                  with_chosen: bool = True, direction: str = "fwd"):
    """DataFrame surface: per-point alternative-operation selection over
    degree lon/lat columns.

    `degrees` defaults to True for direction='fwd' (geographic degree
    inputs) and False for direction='inv', where the inputs are
    typically projected meters and a deg->rad scale would corrupt them.

    Every candidate must carry a projstring `spec` (as every library
    producer sets it: from_projstring, crs_to_crs_candidates,
    vertical_candidates): only the specs + metadata ship to workers
    and each worker rebuilds (and caches) the operations — grids load
    once per worker from their own search path, never through the task
    binary.  A candidate without a spec raises ValueError; bespoke ops
    run through AltOperation in NumPy.

    One Arrow-batched UDF (kernel_udf.kernel_columns).  Returns df plus
    columns {x, y, chosen_op} (prefix-able; a same-named column is
    replaced); a point no candidate takes has NaN x/y and chosen_op -1.
    """
    from proj_4_spark.kernel_udf import kernel_columns

    if degrees is None:
        degrees = direction == "fwd"
    scale = np.pi / 180.0 if degrees else 1.0
    for c in candidates:
        if c.spec is None:
            raise ValueError(
                f"alt_transform candidate {c.name!r} has no projstring "
                "spec (build it with Candidate.from_projstring)")
    meta = tuple(
        (c.spec, tuple(c.bbox_src), tuple(c.bbox_dst), c.accuracy,
         c.is_offshore, c.needs_grids, c.name, c.bbox_units,
         c.bbox_dst_units)
        for c in candidates
    )

    def _alt(lo, la):
        if len(lo) == 0:
            return lo, la, np.zeros(0, np.int32)
        zz = np.zeros_like(lo)
        x, y, _, _, chosen = _cached_alt_operation(meta).apply(
            lo * scale, la * scale, zz, zz.copy(), direction)
        return x, y, chosen.astype(np.int32)

    cols = kernel_columns(_alt, [lon, lat], ("x", "y", "chosen"),
                          ints=("chosen",))
    out = {out_prefix + "x": cols["x"], out_prefix + "y": cols["y"]}
    if with_chosen:
        out[out_prefix + "chosen_op"] = cols["chosen"]
    return df.withColumns(out)


def _epsg_code(spec):
    """Catalog key for a CRS spec: EPSG codes as ints, other cataloged
    authorities (IGNF) as 'AUTH:code' strings (the TRANSFORMS keying)."""
    if isinstance(spec, int):
        return spec
    s = str(spec).strip()
    if ":" in s:
        auth, code = s.split(":", 1)
        if auth.upper() == "EPSG":
            return int(code)
        return f"{auth.upper()}:{code}"
    return int(s)


def _authority_preset(key) -> str | None:
    """Proj-string preset for a catalog key: int = EPSG code (with ESRI's
    numeric aliases as fallback), 'AUTH:code' = that authority's registry.
    Returns None when the key is not cataloged — callers must NOT fall
    back to WGS84: a wrong cart-leg ellipsoid corrupts lat/height."""
    from proj_4_spark.sources.epsg_generated import (
        ESRI_PRESETS, IGNF_PRESETS, PRESETS)

    if isinstance(key, int):
        return PRESETS.get(key) or ESRI_PRESETS.get(key)
    auth, code = str(key).split(":", 1)
    auth = auth.upper()
    if auth == "IGNF":
        return IGNF_PRESETS.get(code)
    if auth == "ESRI" and code.isdigit():
        return ESRI_PRESETS.get(int(code))
    if auth == "EPSG" and code.isdigit():
        return PRESETS.get(int(code))
    return None


def _ellps_frag(preset: str) -> str:
    """Ellipsoid fragment of a preset proj-string, for a cart leg."""
    return " ".join(
        f"+{tok}" for tok in preset.split()
        if tok.split("=")[0] in ("ellps", "a", "b", "rf", "datum"))


def _helmert_spec(payload, src_ellps_frag: str, tgt_ellps_frag: str) -> str:
    """cart -> helmert(position vector) -> cart⁻¹ pipeline (the towgs84
    expansion, src/datums.cpp pj_datum_set semantics).  Each cart leg
    carries ITS OWN CRS's ellipsoid — TRANSFORMS has pairs whose target
    is not WGS84 (e.g. ESRI:104106 -> Lisboa Bessel, ONGD17 -> ITRF89)."""
    keys = ("x", "y", "z", "rx", "ry", "rz", "s")
    parts = " ".join(f"+{k}={v!r}" for k, v in zip(keys, payload))
    if any(payload[3:6]):
        parts += " +convention=position_vector"
    return (f"+proj=pipeline +step +proj=cart {src_ellps_frag} "
            f"+step +proj=helmert {parts} "
            f"+step +inv +proj=cart {tgt_ellps_frag}")


def _entry_steps(kind, payload, entry_src, entry_tgt,
                 inverted: bool) -> list[str] | None:
    """Pipeline step fragments for one catalog entry, step-reversed with
    flipped +inv when inverted (the +inv-pipeline expansion written
    out explicitly so entries can be CONCATENATED into one pipeline).
    None when a helmert entry's CRS preset (hence cart-leg ellipsoid)
    is not cataloged."""
    if kind == "grid":
        s = f"+proj=hgridshift +grids={payload}"
        return [f"+inv {s}"] if inverted else [s]
    src_preset = _authority_preset(entry_src)
    tgt_preset = _authority_preset(entry_tgt)
    src_frag = _ellps_frag(src_preset) if src_preset else ""
    tgt_frag = _ellps_frag(tgt_preset) if tgt_preset else ""
    if not src_frag or not tgt_frag:
        return None
    p7 = tuple(payload) + (0.0,) * (7 - len(payload))
    keys = ("x", "y", "z", "rx", "ry", "rz", "s")
    parts = " ".join(f"+{k}={v!r}" for k, v in zip(keys, p7))
    if any(p7[3:6]):
        parts += " +convention=position_vector"
    if not inverted:
        return [f"+proj=cart {src_frag}",
                f"+proj=helmert {parts}",
                f"+inv +proj=cart {tgt_frag}"]
    return [f"+proj=cart {tgt_frag}",
            f"+inv +proj=helmert {parts}",
            f"+inv +proj=cart {src_frag}"]


def _split_box(bb):
    """Split an antimeridian-wrapping (w,s,e,n) into plain boxes."""
    if bb is None:
        return [(-180.0, -90.0, 180.0, 90.0)]
    w, s, e, n = bb
    if w <= e:
        return [bb]
    return [(w, s, 180.0, n), (-180.0, s, e, n)]


def _intersect_box(a, b):
    w = max(a[0], b[0])
    s = max(a[1], b[1])
    e = min(a[2], b[2])
    n = min(a[3], b[3])
    return (w, s, e, n) if (w < e and s < n) else None


_HUB_CODES = (4326, "IGNF:WGS84G")
_HUB_SIDE_CAP = 8  # best-accuracy entries kept per side in composition


def _hub_side_entries(code, transforms):
    """Catalog entries connecting `code` to the WGS84 hub, as
    (entry, inverted_for_code_to_hub) pairs sorted most-precise
    first and capped."""
    out = []
    for hub in _HUB_CODES:
        out += [(e, False) for e in transforms.get((code, hub), ())]
        out += [(e, True) for e in transforms.get((hub, code), ())]
    out.sort(key=lambda t: (t[0][4] < 0, t[0][4]))
    return out[:_HUB_SIDE_CAP]


def _hub_composed_candidates(s_code, d_code, skip_missing_grids: bool
                             ) -> list[Candidate]:
    """src -> WGS84 -> dst composition for pairs with no direct catalog
    entry — CoordinateOperationFactory::createOperations' pivot-through-
    hub behavior (src/iso19111/coordinateoperation.cpp:11099+, the
    proj.4 towgs84 hub datum shift).  Each composed candidate chains
    one src-side entry (src->hub) with one inverted dst-side entry
    (hub->dst) into a single pipeline (the engine's peephole cancels
    the adjacent cart/cart⁻¹ hub pair when the fragments match);
    accuracy is the component sum, area of use the bbox intersection."""
    from proj_4_spark.sources.epsg_generated import TRANSFORMS

    src_side = _hub_side_entries(s_code, TRANSFORMS)
    dst_side = _hub_side_entries(d_code, TRANSFORMS)
    out = []
    for ea, inv_a in src_side:
        code_a, name_a, kind_a, payload_a, acc_a, bb_a = ea
        sa, ta = ((4326, s_code) if inv_a else (s_code, 4326))
        steps_a = _entry_steps(kind_a, payload_a, sa, ta, inv_a)
        if steps_a is None:
            continue
        for eb, inv_b in dst_side:
            code_b, name_b, kind_b, payload_b, acc_b, bb_b = eb
            # dst-side entry connects dst<->hub; we need hub -> dst,
            # i.e. the OPPOSITE of its code->hub orientation
            sb, tb = ((4326, d_code) if inv_b else (d_code, 4326))
            steps_b = _entry_steps(kind_b, payload_b, sb, tb, not inv_b)
            if steps_b is None:
                continue
            spec = "+proj=pipeline " + " ".join(
                f"+step {s}" for s in steps_a + steps_b)
            acc = (acc_a + acc_b) if (acc_a >= 0 and acc_b >= 0) else -1.0
            name = f"{name_a} + {name_b} (via WGS84 hub)"
            for box_a in _split_box(bb_a):
                for box_b in _split_box(bb_b):
                    box = _intersect_box(box_a, box_b)
                    if box is None:
                        continue
                    try:
                        out.append(Candidate.from_projstring(
                            spec, box, accuracy=float(acc), name=name))
                    except Exception as ex:
                        if skip_missing_grids and (
                                "failed_to_load_grid" in str(ex)
                                or isinstance(ex, FileNotFoundError)):
                            continue
                        raise
    return out


def vertical_candidates(src, dst, skip_missing_grids: bool = True
                        ) -> list[Candidate]:
    """Candidate list for a (source, target) VERTICAL CRS pair from the
    generated catalog (VERT_TRANSFORMS: grid_transformation.sql
    Vertical-Offset-by-Grid rows — VERTCON NGVD29->NAVD88 etc. — plus
    other_transformation.sql constant Vertical Offset rows).

    'vgrid' entries become `+proj=vgridshift +multiplier=1.0` (vertical
    offset grids store the dz to ADD going src->tgt, unlike geoid
    models' historical multiplier=-1 — deal_with_vertcon_gtx_hack,
    src/transformations/vgridshift.cpp:46-71); 'voffset' entries become
    `+proj=geogoffset +dh=` constants.  A reversed lookup wraps the
    operation in +inv.  Interpolation position is the point's
    horizontal coordinate, exactly the reference's note ("may be made
    using NAD27, NAD83 or NAD83(HARN)" — sub-metre-insensitive)."""
    from proj_4_spark.sources.epsg_generated import VERT_TRANSFORMS

    s_code, d_code = _epsg_code(src), _epsg_code(dst)
    entries = [(e, False) for e in VERT_TRANSFORMS.get((s_code, d_code), ())]
    entries += [(e, True) for e in VERT_TRANSFORMS.get((d_code, s_code), ())]
    if not entries:
        raise LookupError(
            f"no cataloged vertical operation {s_code} -> {d_code}")
    out = []
    for (code, name, kind, payload, acc, bb), inverted in entries:
        if kind == "vgrid":
            spec = f"+proj=vgridshift +grids={payload} +multiplier=1.0"
        else:
            spec = f"+proj=geogoffset +dh={payload!r}"
        if inverted:
            spec += " +inv"
        if bb is None:
            bb = (-180.0, -90.0, 180.0, 90.0)
        for box in _split_box(bb):
            try:
                out.append(Candidate.from_projstring(
                    spec, box, accuracy=float(acc), name=name))
            except Exception as ex:
                if skip_missing_grids and (
                        "failed_to_load_grid" in str(ex)
                        or isinstance(ex, FileNotFoundError)):
                    break
                raise
    if not out:
        raise LookupError(
            f"all cataloged vertical operations {s_code} -> {d_code} "
            "need grids that are not installed")
    out.sort(key=lambda c: (c.accuracy < 0, c.accuracy))
    return out


def crs_to_crs_candidates(src, dst, skip_missing_grids: bool = True
                          ) -> list[Candidate]:
    """Candidate list for a (source, target) geographic CRS pair from
    the generated EPSG catalog — the cataloged-subset analogue of
    proj_create_crs_to_crs_from_pj building alternativeCoordinateOperations
    (src/4D_api.cpp:1264-1354): one Candidate per EPSG coordinate
    operation between the two CRSs, with its area-of-use bbox and
    accuracy, sorted most-precise first.

    Grid operations (NADCON/NTv2) become hgridshift candidates; Helmert
    operations become cart->helmert->cart⁻¹ pipelines.  Candidates whose
    grid files are not installed are dropped when skip_missing_grids
    (the reference keeps them but they fail at grid-load; dropping gives
    the same per-point outcome one retry earlier).  EPSG extents that
    cross the antimeridian are SPLIT into two candidates: the reference
    skips wrapped bboxes at this layer (4D_api.cpp:1038) because its
    iso19111 layer already intersected areas — splitting preserves the
    same routing (e.g. Alaska points onto the alaska NADCON grid).

    Directionality: entries are stored (src->tgt); a (tgt, src) request
    wraps each operation in +inv steps."""
    from proj_4_spark.sources.epsg_generated import TRANSFORMS

    s_code, d_code = _epsg_code(src), _epsg_code(dst)
    entries = [(e, False) for e in TRANSFORMS.get((s_code, d_code), ())]
    entries += [(e, True) for e in TRANSFORMS.get((d_code, s_code), ())]
    if not entries:
        # pivot through the WGS84 hub (createOperations fallback)
        out = _hub_composed_candidates(s_code, d_code, skip_missing_grids)
        if not out:
            raise LookupError(
                f"no cataloged coordinate operation {s_code} -> {d_code}, "
                "directly or through the WGS84 hub")
        out.sort(key=lambda c: (c.accuracy < 0, c.accuracy))
        return out
    out = []
    for (code, name, kind, payload, acc, bb), inverted in entries:
        # the entry is stored in ITS OWN (src -> tgt) direction; an
        # inverted lookup inverts the whole operation (+inv pipeline
        # semantics run the steps reversed with flipped directions, so
        # the cart legs keep their correct ellipsoids)
        entry_src = d_code if inverted else s_code
        entry_tgt = s_code if inverted else d_code
        if kind == "grid":
            spec = f"+proj=hgridshift +grids={payload}"
            if inverted:
                spec += " +inv"
        else:
            # resolve BOTH cart-leg ellipsoids from the matching
            # authority registry; skip entries whose CRS is not
            # cataloged rather than silently assuming WGS84
            src_preset = _authority_preset(entry_src)
            tgt_preset = _authority_preset(entry_tgt)
            src_frag = _ellps_frag(src_preset) if src_preset else ""
            tgt_frag = _ellps_frag(tgt_preset) if tgt_preset else ""
            if not src_frag or not tgt_frag:
                continue
            p7 = tuple(payload) + (0.0,) * (7 - len(payload))
            spec = _helmert_spec(p7, src_frag, tgt_frag)
            if inverted:
                spec = spec.replace("+proj=pipeline", "+proj=pipeline +inv")
        if bb is None:
            bb = (-180.0, -90.0, 180.0, 90.0)
        w, so, e, n = bb
        boxes = [bb] if w <= e else [(w, so, 180.0, n), (-180.0, so, e, n)]
        for box in boxes:
            try:
                out.append(Candidate.from_projstring(
                    spec, box, accuracy=float(acc), name=name))
            except Exception as ex:
                if skip_missing_grids and (
                        "failed_to_load_grid" in str(ex)
                        or isinstance(ex, FileNotFoundError)):
                    break
                raise
    if not out:
        # every direct entry needs an uninstalled grid — pivot through
        # the WGS84 hub before giving up (createOperations also falls
        # back to lower-rank candidates when grids are absent)
        out = _hub_composed_candidates(s_code, d_code, skip_missing_grids)
        if not out:
            raise LookupError(
                f"all cataloged operations {s_code} -> {d_code} need "
                "grids that are not installed, and no WGS84-hub "
                "composition is available")
    # pj sorts alternative operations most-precise first so the
    # first-spatial-match rule prefers them (4D_api.cpp list order)
    out.sort(key=lambda c: (c.accuracy < 0, c.accuracy))
    return out
