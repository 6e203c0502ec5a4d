"""Spark integration: apply transform pipelines to DataFrames.

Design (SURVEY.md §3.1 "Spark analogue"):
- Plan construction (proj-string -> Operation) is driver-side and cheap;
  executors rebuild the plan once per worker from the proj-string via an
  LRU cache, so UDF closures carry only a short string — no pickled
  kernel state, trivially broadcastable, and grid data can be loaded
  worker-side.
- transform() has one dispatch: _twin_plan reads the operation into a
  twin plan (an inverse kernel, datum legs, a forward kernel — any of
  them absent — as pj_inv4d / pj_fwd4d run them), and _emit_twin
  compiles the plan to a Catalyst "twin": staged Spark-SQL projections
  (_SqlStager) that reproduce the NumPy kernels term for term, so the
  hot path is whole-stage codegen with zero Python workers.  The plan
  shapes are a cart/helmert datum pipeline (legs only), a single op's
  forward (legs -> kernel) and its inverse (kernel -> legs); a bare op
  has zero legs.
- An operation without a twin plan runs as ONE Arrow-batched pandas UDF
  per *whole pipeline* (kernel fusion; never one UDF per step —
  SURVEY.md §4.3).  The UDF returns a struct column so Catalyst sees an
  ordinary projection: filters still push down, unused input columns
  still prune, and no shuffle is introduced.
- Either build is analysed once per (operation, input attributes, ...)
  over an empty placeholder frame and rebound onto each caller's frame
  (proj_4_spark/templates.py, shared with the document and spatial
  builders): analysis, not Python emission, is the cost of a plan build.

At 100 TB scale this stage is embarrassingly parallel: cost is
(rows/partition) x kernel flops, Arrow transfer (UDF path only) is the
only overhead, and `spark.sql.files.maxPartitionBytes` controls batch
sizing.  No collect, no driver loops.
"""

from __future__ import annotations

from functools import lru_cache
import math
from typing import NamedTuple

import numpy as np
import pandas as pd

from proj_4_spark.kernel_udf import kernel_columns
from proj_4_spark.kernels import common as C
from proj_4_spark.kernels.base import ProjError
from proj_4_spark.sqltext import (codegen_barrier, double, identifier,
                                  quote_name)
from proj_4_spark.templates import templated

_SQL_INF = double(math.inf)
_SQL_NAN = double(math.nan)
_H = math.pi / 2.0
_CE_LIMIT_JVM = 2.623395162778  # kernels/tmerc._CE_LIMIT (tmerc.cpp:409)


@lru_cache(maxsize=256)
def _cached_operation(projstring: str):
    """Plan cache: one Operation per (process, projstring).  The driver
    reads it in transform() and describe_route, each Python worker in
    the Arrow UDF."""
    from proj_4_spark.engine.plan import create_operation

    return create_operation(projstring)


# grid/axis hooks a twin never models
_GRID_AXIS_HOOKS = ("hgridshift", "vgridshift", "axisswap")
_MODIFIER_HOOKS = _GRID_AXIS_HOOKS + ("helmert", "cart", "cart_wgs84")

# forward families of _emit_fwd_kernel; Poder-Engsager etmerc/tmerc/utm
# (P.fwd is exact_e_fwd) join them in _fwd_kernel_ok
_FWD_KERNEL_NAMES = ("webmerc", "merc", "eqc", "cea", "lcc", "aea",
                     "leac", "stere", "ups", "laea", "sterea", "somerc",
                     "krovak", "sinu", "eqdc", "eqearth", "cass",
                     "ortho", "gnom", "geos", "robin", "omerc", "moll",
                     "wag4", "wag5")
# inverse families of _emit_inv_kernel (ortho/gnom: sphere only).
# sterea is measured OUT: its 20-iteration Gauss inversion unrolled to a
# twin running 0.64x the Arrow-UDF path (4.0 vs 6.2 M pts/s at 16 M pts,
# local[8] — the per-iteration frozen-lane overhead exceeds numpy's ~6
# effective masked iterations)
_INV_KERNEL_NAMES = ("webmerc", "merc", "eqc", "cea", "laea", "stere",
                     "ups", "sinu", "eqdc", "cass", "ortho", "gnom",
                     "moll", "wag4", "wag5", "geos", "eqearth", "omerc",
                     "lcc", "aea", "leac")


def _fwd_kernel_ok(P) -> bool:
    from proj_4_spark.kernels.tmerc import exact_e_fwd

    return (getattr(P, "fwd", None) is exact_e_fwd
            or getattr(P, "name", None) in _FWD_KERNEL_NAMES)


def _inv_kernel_ok(P) -> bool:
    from proj_4_spark.kernels.tmerc import exact_e_inv

    if getattr(P, "inv", None) is exact_e_inv:
        return True
    name = getattr(P, "name", None)
    if name in ("ortho", "gnom") and P.es != 0.0:
        return False
    return name in _INV_KERNEL_NAMES


def _leg_kind(P, step: bool):
    """"cart" / "helmert" when P is a datum leg the staged twin
    reproduces (cart fwd src/conversions/cart.cpp:132-147, cart inv
    closed form cart.cpp:150-205, static 7-param helmert /
    Molodensky-Badekas matmul src/transformations/helmert.cpp:363-436),
    else None.  `step` marks a pipeline step, whose angular
    prepare/finalize the twin replicates, so long-wrap and skipped
    prepare/finalize disqualify; cs2cs helper ops skip both by
    construction."""
    from proj_4_spark.kernels.base import UNITS_CARTESIAN

    if any(getattr(P, a, None) is not None for a in _MODIFIER_HOOKS):
        return None
    if P.name == "cart":
        if (P.lam0 != 0.0 or P.from_greenwich != 0.0 or P.over or P.geoc
                or P.x0 != 0.0 or P.y0 != 0.0
                or P.fr_meter != 1.0 or P.to_meter != 1.0):
            return None
        if step and (P.is_long_wrap_set
                     or P.skip_fwd_prepare or P.skip_fwd_finalize
                     or P.skip_inv_prepare or P.skip_inv_finalize):
            return None
        return "cart"
    if P.name in ("helmert", "molobadekas"):
        Q = P.opaque
        if P.left != UNITS_CARTESIAN or Q.get("fourparam"):
            return None  # 4-param planar mode
        if (Q["dxyz"] != (0.0, 0.0, 0.0) or Q["dopk"] != (0.0, 0.0, 0.0)
                or Q["dscale"] != 0.0 or Q["dtheta"] != 0.0):
            return None  # time-dependent: params vary per row
        if P.fr_meter != 1.0 or P.to_meter != 1.0:
            return None
        return "helmert"
    return None


class _TwinPlan(NamedTuple):
    """What a twin stages, in order: the inverse kernel (its P, or
    None), the datum legs [(kind, step_dir, P), ...], the forward
    kernel (its P, or None); `pipeline` marks a datum pipeline, whose
    error mask covers z too."""
    inv: object
    legs: list
    fwd: object
    pipeline: bool


def _datum_legs(op, direction: str):
    """The datum legs of (op, direction) in execution order, or None
    when one is a leg no twin reproduces.

    A pipeline's legs are its steps, all bare cart / helmert /
    molobadekas: the towgs84 expansion shape (cart -> helmert ->
    cart⁻¹, src/datums.cpp pj_datum_set) that every hub-composed
    catalog candidate and ``pipeline_datum_shift`` use.  A single op's
    legs are its cs2cs-emulation hooks (+towgs84 / +datum: P.cart,
    P.cart_wgs84 [, P.helmert]) as fwd_prepare (src/fwd.cpp:74-85) and
    inv_finalize (src/inv.cpp:117-124) run them; a bare op has none.
    Non-empty legs start with a cart fwd (consuming radians) and end
    with a cart inv (producing radians)."""
    from proj_4_spark.engine.plan import PipelineOperation

    step = isinstance(op, PipelineOperation)
    if step:
        eff = "inv" if ((direction == "inv") != bool(op.inverted)) else "fwd"
        flip = "fwd" if eff == "inv" else "inv"
        hops = []
        for op_, flags in (op.steps if eff == "fwd" else op.steps[::-1]):
            if (op_ is None or flags.get("kind") is not None
                    or flags.get("omit_fwd") or flags.get("omit_inv")):
                return None
            hops.append((None, flip if flags.get("inv") else eff, op_))
    else:
        P = op.P
        if P.cart is None and P.cart_wgs84 is None and P.helmert is None:
            return []
        if P.cart is None or P.cart_wgs84 is None:
            return None
        src, dst = ((P.cart_wgs84, P.cart) if direction == "fwd"
                    else (P.cart, P.cart_wgs84))
        hops = [("cart", "fwd", src), ("cart", "inv", dst)]
        if P.helmert is not None:
            hops.insert(1, ("helmert", "inv" if direction == "fwd"
                            else "fwd", P.helmert))
    legs = []
    for want, step_dir, hop in hops:
        kind = _leg_kind(hop.P, step)
        if (kind is None or want not in (None, kind)
                or getattr(hop, "inverted", False)):
            return None
        legs.append((kind, step_dir, hop.P))
    if legs and (legs[0][:2] != ("cart", "fwd")
                 or legs[-1][:2] != ("cart", "inv")):
        return None  # twin needs angular I/O on both ends
    return legs


def _twin_plan(op, direction: str):
    """The _TwinPlan of (op, direction), or None for the Arrow-UDF path.

    A datum pipeline is its legs alone.  A single op is its kernel (the
    latlong identity counts) and its datum legs in the prepare -> legs
    -> kernel -> finalize order of src/fwd.cpp:41-131 and
    src/inv.cpp:42-124: forward legs then the forward kernel, or the
    inverse kernel then inverse legs.  '+proj=... +inv' strings
    (proj_trans swaps their kernels, src/4D_api.cpp), grid hooks
    (+nadgrids/+geoidgrids), +axis, +over, +geoc, long-wrap, prime
    meridians and geocentric CRS stay on the Arrow-UDF path."""
    from proj_4_spark.engine.plan import PipelineOperation

    pipeline = isinstance(op, PipelineOperation)
    P = None if pipeline else getattr(op, "P", None)
    kernel_ok = _fwd_kernel_ok if direction == "fwd" else _inv_kernel_ok
    if not pipeline and (
            P is None or getattr(op, "inverted", False) or P.is_geocent
            or any(getattr(P, a) is not None for a in _GRID_AXIS_HOOKS)
            or P.over or P.geoc or P.from_greenwich != 0.0
            or P.is_long_wrap_set or not (P.is_latlong or kernel_ok(P))):
        return None
    legs = _datum_legs(op, direction)
    if legs is None or (pipeline and not legs):
        return None
    if direction == "fwd":
        return _TwinPlan(None, legs, P, pipeline)
    return _TwinPlan(P, legs, None, pipeline)


class _SqlStager:
    """Accumulates staged-projection SQL stages; ONE selectExpr (py4j
    round-trip) per codegen region instead of hundreds of Column-object
    calls (~20 ms plan build instead of ~400 ms).  Fragments
    referenced more than once must be column refs from an earlier
    stage, never textual expression duplication (the DuckDB
    lateral-alias lesson): CollapseProject declines to merge a
    non-cheap alias referenced more than once, so the plan keeps the
    staged, linear-size form.

    Temporary columns are named with PREFIX; apply() refuses an input
    frame that already has a column with that prefix."""

    PREFIX = "_jd_"

    def __init__(self):
        self.tmp: list[str] = []
        self.stages: list[list[str]] = []
        self._barriers: set[int] = set()

    def stage(self, **cols):
        """Add one stage; returns its column ref (a tuple of refs when
        several columns are staged)."""
        exprs = []
        for name, sql in cols.items():
            self.tmp.append(self.PREFIX + name)
            exprs.append(f"({sql}) AS {self.PREFIX}{name}")
        self.stages.append(exprs)
        refs = tuple(self.col(n) for n in cols)
        return refs[0] if len(refs) == 1 else refs

    def barrier(self):
        """Close the current whole-stage-codegen region: apply() will
        put sqltext.codegen_barrier here.  HotSpot refuses to JIT
        methods over 8000 bytecodes (-XX:DontCompileHugeMethods), so a
        staged chain whose single fused consume() exceeds that runs
        INTERPRETED — measured 13x slower on the lcc inverse twin.
        Splitting into sub-8000 regions costs one row-count accumulator
        per region boundary and keeps every region JIT-compiled."""
        if self.stages:
            self._barriers.add(len(self.stages) - 1)

    def col(self, name: str) -> str:
        return self.PREFIX + name

    def apply(self, df, final_exprs: list[str], out_names: list[str]):
        """The stages over `df`, then the select list `final_exprs`,
        which writes the columns `out_names`."""
        clash = [c for c in df.columns if c.startswith(self.PREFIX)]
        if clash:
            # a pre-existing _jd_* column would either raise an
            # ambiguous-reference AnalysisException mid-plan or be
            # silently dropped by the final drop(*tmp)
            raise ValueError(
                f"input columns collide with the staging prefix "
                f"{self.PREFIX!r}: {clash}; rename them before transform()")
        # Batch consecutive stages into ONE selectExpr via lateral
        # column aliases (Spark >= 3.4): the analyzer rewrites them
        # into exactly the nested-Project chain that one-selectExpr-
        # per-stage builds, but at one py4j/parse round-trip per
        # codegen region instead of per stage (~14 ms each; the 60+
        # stage iterative-inverse twins dropped from ~2.5 s to ~0.2 s
        # plan build).  Aliases referenced more than once stay column
        # refs in the rewrite — no subtree duplication.
        out = df
        pending: list[str] = []
        emitted: list[str] = []
        for i, exprs in enumerate(self.stages):
            pending.extend(exprs)
            if i in self._barriers:
                out = out.selectExpr("*", *pending)
                emitted.extend(
                    e.rsplit(" AS ", 1)[1] for e in pending)
                pending = []
                # rows materialize as UnsafeRows at the region
                # boundary: drop temp columns no later stage reads so
                # the copy stays narrow (substring match can only
                # over-retain, never over-drop)
                later = " ".join(
                    e for st_ in self.stages[i + 1:] for e in st_)
                later += " " + " ".join(final_exprs)
                dead = [c for c in emitted if c not in later]
                if dead:
                    out = out.drop(*dead)
                out = codegen_barrier(out)
        if pending:
            out = out.selectExpr("*", *pending)
        # replace-in-place contract: with the documented default call
        # shape (columns named x/y, out_prefix="") appending the outputs
        # would produce DUPLICATE x/y columns and any downstream
        # select("x") would throw AMBIGUOUS_REFERENCE.  The final
        # expressions read only staged temp columns (the entry stages
        # capture the inputs), so the colliding originals can be
        # dropped first.  (The replaced column moves to the end of the
        # schema — select by name.)
        clash_out = [c for c in out.columns if c in out_names]
        if clash_out:
            out = out.drop(*clash_out)
        out = out.selectExpr("*", *final_exprs)
        return out.drop(*[c for c in self.tmp if c in out.columns])


def _sql_atan2_ieee(yc: str, xc: str) -> str:
    """IEEE atan2: Spark's Atan2 evaluates Math.atan2(y + 0.0, x + 0.0),
    which collapses -0.0 to +0.0 — but the kernels rely on IEEE signed
    zeros (np.arctan2(0.0, -0.0) = pi, e.g. the polar-aspect origin row
    or a geocentric Y of exactly -0.0).  The sign of a zero is read
    from its string form; only y == 0 rows evaluate that branch
    (CaseWhen codegen is lazy).  Args must be COLUMN REFS (they appear
    several times textually)."""
    L = double
    xneg = f"startswith(cast({xc} AS STRING), '-')"
    yneg = f"startswith(cast({yc} AS STRING), '-')"
    return (f"CASE WHEN isnan({xc}) OR isnan({yc}) THEN {_SQL_NAN} "
            f"WHEN {yc} = 0.0D THEN "
            f"(CASE WHEN {xneg} AND {yneg} THEN {L(-math.pi)} "
            f"WHEN {xneg} THEN {L(math.pi)} "
            f"WHEN {yneg} THEN -0.0D ELSE 0.0D END) "
            f"ELSE atan2({yc}, {xc}) END")


def _sql_adjlon(c: str) -> str:
    """adjlon over a COLUMN REF (appears 4x textually)."""
    L = double
    PI, TWO_PI = L(math.pi), L(2.0 * math.pi)
    return (f"CASE WHEN abs({c}) >= {L(math.pi + 1e-12)} THEN "
            f"(({c}) + {PI}) - {TWO_PI} * floor((({c}) + {PI})"
            f" / {TWO_PI}) - {PI} ELSE ({c}) END")


def _clip1(v: str) -> str:
    return f"greatest(least({v}, 1.0D), -1.0D)"


def _sql_tsfn(st, phi: str, sinphi: str, e: float, tag: str) -> str:
    """tsfn (src/tsfn.cpp:6-17) over a COLUMN REF phi:
    tan((pi/2 - phi)/2) / ((1 - e sin phi)/(1 + e sin phi))^(e/2)."""
    L = double
    es = st.stage(**{f"{tag}esin": f"{sinphi} * {L(e)}"})
    return (f"tan(0.5D * ({L(_H)} - {phi})) / power((1.0D - {es}) / "
            f"(1.0D + {es}), {L(0.5 * e)})")


def _sql_qsfn(st, P, sinphi: str, tag: str) -> str:
    """Authalic q (src/qsfn.cpp:9-25) over a COLUMN REF sin(phi)."""
    L = double
    con = st.stage(**{f"{tag}con": f"{sinphi} * {L(P.e)}"})
    return (f"{L(P.one_es)} * ({sinphi} / (1.0D - {con} * {con}) - "
            f"{L(0.5 / P.e)} * ln((1.0D - {con}) / (1.0D + {con})))")


def _sql_mlfn(st, ph: str, en, tag: str) -> str:
    """Flat meridional-arc series M(phi) (mlfn.hpp inline_pj_mlfn)."""
    e0, e1, e2, e3, e4 = (double(v) for v in en)
    s = st.stage(**{f"{tag}ms": f"sin({ph})"})
    cph, s2 = st.stage(**{f"{tag}mc": f"cos({ph}) * {s}",
                          f"{tag}m2": f"{s} * {s}"})
    return (f"{e0} * {ph} - {cph} * ({e1} + {s2} * ({e2} + {s2} * "
            f"({e3} + {s2} * {e4})))")


def _sql_authlat(st, beta: str, apa, tag: str) -> str:
    """Authalic -> geodetic latitude (src/auth.cpp:33-38, 3-term closed
    series) over a COLUMN REF beta."""
    a0, a1, a2 = (double(v) for v in apa[:3])
    t2 = st.stage(**{f"{tag}t2": f"{beta} + {beta}"})
    return (f"{beta} + {a0} * sin({t2}) + {a1} * sin({t2} + {t2}) "
            f"+ {a2} * sin({t2} + {t2} + {t2})")


# --- forward pipeline -----------------------------------------------------
#
# _entry_stages -> datum legs (_emit_datum_legs; none for a bare op) ->
# _emit_fwd (shared prepare, _emit_fwd_kernel, *a + x0/y0, *fr_meter)
# -> shared finalize (_outputs: the error mask, vertical scaling, t).
# Every kernel is ported term for term from the NumPy kernels, keeping
# their operation order, grouping and Python-folded literals: Catalyst
# does not reassociate floating-point arithmetic, so a twin agrees with
# the Arrow-UDF path to libm ulps (parity pinned per family in
# tests/test_engine.py).


def _entry_stages(st: _SqlStager, x, y, z, t, degrees: bool):
    """Shared FORWARD entry over the quoted input columns: radian
    lam/phi, synthesized z/t, the global error predicate
    (fwd.cpp:41-102)."""
    L = double
    col = st.col
    xq, yq = f"CAST({x} AS DOUBLE)", f"CAST({y} AS DOUBLE)"
    if degrees:
        lam_sql, phi_sql = f"radians({xq})", f"radians({yq})"
    else:
        lam_sql, phi_sql = xq, yq
    # NULL inputs normalize to NaN up front (the UDF path's na_value):
    # SQL NULL would otherwise slip through least/greatest, which SKIP
    # NULLs instead of propagating
    lam_sql = f"coalesce({lam_sql}, {_SQL_NAN})"
    phi_sql = f"coalesce({phi_sql}, {_SQL_NAN})"
    zz_sql = (f"coalesce(CAST({z} AS DOUBLE), {_SQL_NAN})"
              if z is not None else "0.0D")
    tt_sql = (f"coalesce(CAST({t} AS DOUBLE), {_SQL_NAN})"
              if t is not None else "0.0D")
    st.stage(lam=lam_sql, phi=phi_sql, zz=zz_sql, tt=tt_sql)
    err = (f"{x} IS NULL OR isnan({xq}) OR {y} IS NULL OR "
           f"isnan({yq}) OR {col('lam')} > 10.0D OR "
           f"{col('lam')} < -10.0D OR "
           f"abs({col('phi')}) - {L(_H)} > 1e-12D")
    if z is not None:
        err += f" OR {z} IS NULL OR isnan({col('zz')})"
    st.stage(err=err)


def _emit_fwd(st: _SqlStager, P, lam: str, phi: str):
    """fwd prepare (lam wrap - lam0, lat clip), the family kernel and
    the projection finalize (*a, +x0/y0, *fr_meter) over radian COLUMN
    REFS — for latlong the identity kernel and no planar finalize.
    Returns (x, y, bad): bad is the kernel's extra error predicate or
    None."""
    L = double
    st.stage(lamw1=_sql_adjlon(lam))
    st.stage(lamd=f"({st.col('lamw1')} - {L(P.lam0)})")
    lamw, phic = st.stage(
        lamw=_sql_adjlon(st.col("lamd")),
        phic=f"least(greatest({phi}, {L(-_H)}), {L(_H)})")
    if P.is_latlong:
        return lamw, phic, None
    xk, yk, bad = _emit_fwd_kernel(st, P, lamw, phic, phi)
    xe, ye = st.stage(
        xe=f"{L(P.fr_meter)} * (({xk}) * {L(P.a)} + {L(P.x0)})",
        ye=f"{L(P.fr_meter)} * (({yk}) * {L(P.a)} + {L(P.y0)})")
    return xe, ye, bad


def _emit_fwd_kernel(st: _SqlStager, P, lamw: str, phic: str, phi: str):
    """Per-family forward kernels over the prepared (lamw, phic) column
    refs (phi: the unclipped latitude).  Returns (xk, yk, bad): the
    kernel output before the finalize scales it by a, and an extra
    per-family error predicate (or None)."""
    from proj_4_spark.kernels.tmerc import exact_e_fwd

    if getattr(P, "fwd", None) is exact_e_fwd:
        return _etmerc_fwd_kernel(st, P, lamw, phic)
    L = double
    S = st.stage
    Q = P.opaque
    name = P.name
    pi = math.pi
    if name in ("webmerc", "merc"):
        # merc.cpp: NaN within 1e-10 of the pole (subsumes the generic
        # PJ_EPS_LAT check); ellipsoid y = -log(tsfn) (merc.cpp:22-31),
        # sphere log(tan(pi/4 + phi/2)) with the log1p branch at
        # |phi| <= eps (merc.cpp:14-20)
        if P.es != 0.0 and name == "merc":
            ywm = f"-ln({_sql_tsfn(st, phic, f'sin({phic})', P.e, 'f_')})"
        else:
            eps = float(np.finfo(np.float64).eps)
            ywm = (f"CASE WHEN abs({phic}) <= {L(eps)} THEN log1p({phic}) "
                   f"ELSE ln(tan({L(pi / 4.0)} + 0.5D * {phic})) END")
        return (f"{L(P.k0)} * {lamw}", f"{L(P.k0)} * ({ywm})",
                f"abs({phi}) >= {L(_H - 1e-10)}")
    if name == "eqc":
        # eqc.cpp:19-27: x = cos(lat_ts)*lam (rc folds at plan time)
        return (f"{L(float(Q['rc']))} * {lamw}", f"{phic} - {L(P.phi0)}",
                None)
    if name == "cea":
        # cea.cpp:20-34: x = k0*lam; y = sin(phi)/k0 (sphere) or
        # 0.5*qsfn(sin(phi))/k0 (ellipsoid)
        sphi = S(f_sphi=f"sin({phic})")
        yk = (f"0.5D * ({_sql_qsfn(st, P, sphi, 'f_')}) / {L(P.k0)}"
              if P.es != 0.0 else f"{sphi} / {L(P.k0)}")
        return f"{L(P.k0)} * {lamw}", yk, None
    if name == "lcc":
        # lcc.cpp:23-43: rho = c*tsfn(phi)^n (ellipsoid) or
        # c*tan(pi/4+phi/2)^-n (sphere); pole rows are exact (rho=0)
        # unless on the wrong side of the cone (n*phi <= 0 -> NaN)
        n, c, rho0 = float(Q["n"]), float(Q["c"]), float(Q["rho0"])
        pole = S(f_pole=f"abs(abs({phic}) - {L(_H)}) < {L(1e-10)}")
        if P.es != 0.0:
            ts = _sql_tsfn(st, phic, f"sin({phic})", P.e, "f_")
            rho = f"{L(c)} * power({ts}, {L(n)})"
        else:
            rho = (f"{L(c)} * power(tan({L(pi / 4.0)} + 0.5D * {phic}), "
                   f"{L(-n)})")
        rho, lamn = S(f_rho=f"CASE WHEN {pole} THEN 0.0D ELSE {rho} END",
                      f_lamn=f"{lamw} * {L(n)}")
        return (f"{L(P.k0)} * ({rho} * sin({lamn}))",
                f"{L(P.k0)} * ({L(rho0)} - {rho} * cos({lamn}))",
                f"{pole} AND ({phic} * {L(n)}) <= 0.0D")
    if name in ("aea", "leac"):
        # aea.cpp:105-118: rho^2 = c - n*q(sin phi); negative -> NaN
        c, dd, rho0, n = (float(Q[k]) for k in ("c", "dd", "rho0", "n"))
        sphi = S(f_sphi=f"sin({phic})")
        if Q["ellips"]:
            rho2 = f"{L(c)} - {L(n)} * ({_sql_qsfn(st, P, sphi, 'f_')})"
        else:
            rho2 = f"{L(c)} - {L(float(Q['n2']))} * {sphi}"
        rho2 = S(f_rho2=rho2)
        bad = f"{rho2} < 0.0D"
        rho, lamn = S(f_rho=f"{L(dd)} * sqrt(CASE WHEN {bad} THEN 0.0D "
                            f"ELSE {rho2} END)",
                      f_lamn=f"{lamw} * {L(n)}")
        return (f"{rho} * sin({lamn})", f"{L(rho0)} - {rho} * cos({lamn})",
                bad)
    if name in ("sinu", "eqdc"):
        if name == "eqdc":
            # eqdc.cpp forward over the stashed setup constants
            n, c, rho0 = float(Q["n"]), float(Q["c"]), float(Q["rho0"])
            m = _sql_mlfn(st, phic, Q["en"], "f_") if Q["ellips"] else phic
            rho, lamn = S(f_rho=f"{L(c)} - ({m})", f_lamn=f"{lamw} * {L(n)}")
            return (f"{rho} * sin({lamn})",
                    f"{L(rho0)} - {rho} * cos({lamn})", None)
        if P.es != 0.0:
            # gn_sinu.cpp:27-35
            s = S(f_s=f"sin({phic})")
            return (f"{lamw} * cos({phic}) / sqrt(1.0D - {L(P.es)} * {s} "
                    f"* {s})", _sql_mlfn(st, phic, Q["en"], "f_"), None)
        # sphere: n=1, m=0 (gn_sinu.cpp:57-85 closed branch)
        return (f"{L(float(Q['C_x']))} * {lamw} * cos({phic})",
                f"{L(float(Q['C_y']))} * {phic}", None)
    if name == "eqearth":
        # eqearth.cpp:44-74: psi from the (authalic) sin-beta, 9th-order
        # polynomial; the Equal Earth constants are exact doubles
        from proj_4_spark.kernels.pseudocyl import _A1, _A2, _A3, _A4, _M

        rqda = float(Q["rqda"])
        sb = S(f_sphi=f"sin({phic})")
        if P.es != 0.0:
            sb = _clip1(f"({_sql_qsfn(st, P, sb, 'f_')}) / "
                        f"{L(float(Q['qp']))}")
        psi = S(f_psi=f"asin({L(_M)} * {sb})")
        psi2 = S(f_psi2=f"{psi} * {psi}")
        psi6 = S(f_psi6=f"{psi2} * {psi2} * {psi2}")
        xk = (f"{lamw} * cos({psi}) / ({L(_M)} * ({L(_A1)} + "
              f"{L(3.0 * _A2)} * {psi2} + {psi6} * ({L(7.0 * _A3)} + "
              f"{L(9.0 * _A4)} * {psi2})))")
        yk = (f"{psi} * ({L(_A1)} + {L(_A2)} * {psi2} + {psi6} * "
              f"({L(_A3)} + {L(_A4)} * {psi2}))")
        return f"({xk}) * {L(rqda)}", f"({yk}) * {L(rqda)}", None
    if name == "cass":
        # cass.cpp forward: spherical closed form / ellipsoidal series
        # over the flat mlfn meridional arc; en/m0 recomputed at plan
        # time with the kernel's own scalar formulas
        if P.es == 0.0:
            return (f"asin({_clip1(f'cos({phic}) * sin({lamw})')})",
                    f"atan2(tan({phic}), cos({lamw})) - {L(P.phi0)}", None)
        C1_, C2_, C3_ = (0.16666666666666666666,
                         0.00833333333333333333,
                         0.04166666666666666666)
        en = C.enfn(P.es)
        m0 = float(C.mlfn(np.float64(P.phi0), np.float64(math.sin(P.phi0)),
                          np.float64(math.cos(P.phi0)), en))
        s, cph = S(f_s=f"sin({phic})", f_cph=f"cos({phic})")
        yml = S(f_yml=_sql_mlfn(st, phic, en, "f_"))
        n, tn, a1 = S(f_n=f"1.0D / sqrt(1.0D - {L(P.es)} * {s} * {s})",
                      f_tn=f"tan({phic})", f_a1=f"{lamw} * {cph}")
        tt, cc, a2 = S(f_tt=f"{tn} * {tn}",
                       f_cc=f"{cph} * ({L(P.es / (1.0 - P.es))} * {cph})",
                       f_a2=f"{a1} * {a1}")
        return (f"{n} * {a1} * (1.0D - {a2} * {tt} * ({L(C1_)} - "
                f"(8.0D - {tt} + 8.0D * {cc}) * {a2} * {L(C2_)}))",
                f"{yml} - ({L(m0)} - {n} * {tn} * {a2} * (0.5D + "
                f"(5.0D - {tt} + 6.0D * {cc}) * {a2} * {L(C3_)}))", None)
    if name == "geos":
        # geos.cpp forward (geostationary satellite view): closed form;
        # the kernel's closure constants recomputed at plan time from
        # the op's own params (kernels/misc6.py setup_geos)
        rg1 = P.param_f("h") / P.a
        rg = 1.0 + rg1
        if P.es != 0.0:
            rp = math.sqrt(P.one_es)
            phig = S(f_phig=f"atan({L(P.one_es)} * tan({phic}))")
            r = S(f_r=f"{L(rp)} / hypot({L(rp)} * cos({phig}), "
                      f"sin({phig}))")
        else:
            phig, r = phic, "1.0D"
        vx, vy, vz = S(f_vx=f"{r} * cos({lamw}) * cos({phig})",
                       f_vy=f"{r} * sin({lamw}) * cos({phig})",
                       f_vz=f"{r} * sin({phig})")
        tmp = S(f_tmp=f"{L(rg)} - {vx}")
        if P.params.get("sweep") == "x":
            xk = f"{L(rg1)} * atan({vy} / hypot({vz}, {tmp}))"
            yk = f"{L(rg1)} * atan({vz} / {tmp})"
        else:
            xk = f"{L(rg1)} * atan({vy} / {tmp})"
            yk = f"{L(rg1)} * atan({vz} / hypot({vy}, {tmp}))"
        if P.es != 0.0:
            # visibility check (the sphere path skips it, like the kernel)
            vis = S(f_vis=f"(({L(rg)} - {vx}) * {vx} - {vy} * {vy} - "
                          f"{vz} * {vz} * {L(P.rone_es)}) < 0.0D")
            xk = f"CASE WHEN {vis} THEN {_SQL_NAN} ELSE {xk} END"
            yk = f"CASE WHEN {vis} THEN {_SQL_NAN} ELSE {yk} END"
        return xk, yk, None
    if name in ("ortho", "gnom"):
        # ortho.cpp:38-76/133-157, gnom.cpp:33-77: hemisphere-guarded
        # closed forms, all aspect modes
        mode = Q["mode"]
        s0, c0 = float(Q["sinph0"]), float(Q["cosph0"])
        cosphi, sinphi, coslam, sinlam = S(
            f_cp=f"cos({phic})", f_sp=f"sin({phic})",
            f_cl=f"cos({lamw})", f_sl=f"sin({lamw})")
        obliq = f"{L(s0)} * {sinphi} + {L(c0)} * {cosphi} * {coslam}"
        obliq_y = f"{L(c0)} * {sinphi} - {L(s0)} * {cosphi} * {coslam}"
        cl = f"(-{coslam})" if mode == "n_pole" else coslam
        if name == "ortho" and P.es != 0.0:
            nu = S(f_nu=f"1.0D / sqrt(1.0D - {L(P.es)} * {sinphi} * "
                        f"{sinphi})")
            return (f"{nu} * {cosphi} * {sinlam}",
                    f"{nu} * ({sinphi} * {L(c0)} - {cosphi} * {L(s0)} * "
                    f"{coslam}) + {L(P.es)} * ({L(float(Q['nu0']) * s0)} "
                    f"- {nu} * {sinphi}) * {L(c0)}",
                    f"({obliq}) < {L(-1e-10)}")
        if name == "ortho":
            if mode == "equit":
                bad, yk = f"{cosphi} * {coslam} < {L(-1e-10)}", sinphi
            elif mode == "obliq":
                bad, yk = f"({obliq}) < {L(-1e-10)}", obliq_y
            else:
                bad = (f"(abs({phic} - {L(P.phi0)}) - {L(1e-10)}) > "
                       f"{L(_H)}")
                yk = f"{cosphi} * {cl}"
            return f"{cosphi} * {sinlam}", yk, bad
        # gnom: sphere formulas regardless of es (gnom.cpp)
        y0c = S(f_y0={"equit": f"{cosphi} * {coslam}", "obliq": obliq,
                      "s_pole": f"-{sinphi}"}.get(mode, sinphi))
        bad = f"{y0c} <= {L(1e-10)}"
        yi = S(f_yi=f"1.0D / (CASE WHEN {bad} THEN 1.0D ELSE {y0c} END)")
        yk = {"equit": f"{yi} * {sinphi}",
              "obliq": f"{yi} * ({obliq_y})"}.get(mode,
                                                  f"{yi} * {cosphi} * {cl}")
        return f"{yi} * {cosphi} * {sinlam}", yk, bad
    if name == "somerc":
        # somerc.cpp:10-25; the setup constants (c, K, kR, phip0) are
        # recomputed with the kernel closure's scalar formulas
        # (somerc.cpp:57-80) — deterministic plan-time math
        e = P.e
        hlf_e = 0.5 * e
        cp0 = math.cos(P.phi0) ** 2
        cons = math.sqrt(1.0 + P.es * cp0 * cp0 * P.rone_es)
        sp0 = math.sin(P.phi0)
        sinp0 = sp0 / cons
        phip0 = math.asin(max(-1.0, min(1.0, sinp0)))
        cosp0 = math.cos(phip0)
        spe = sp0 * e
        Kc = (math.log(math.tan(pi / 4.0 + 0.5 * phip0))
              - cons * (math.log(math.tan(pi / 4.0 + 0.5 * P.phi0))
                        - hlf_e * math.log((1.0 + spe) / (1.0 - spe))))
        kR = P.k0 * math.sqrt(P.one_es) / (1.0 - spe * spe)
        spc = S(f_spc=f"sin({phic}) * {L(e)}")
        phip = S(f_phip=f"2.0D * atan(exp({L(cons)} * (ln(tan("
                        f"{L(pi / 4.0)} + 0.5D * {phic})) - {L(hlf_e)} * "
                        f"ln((1.0D + {spc}) / (1.0D - {spc}))) + {L(Kc)}))"
                        f" - {L(_H)}")
        lamp, cpp = S(f_lamp=f"{L(cons)} * {lamw}", f_cpp=f"cos({phip})")
        phipp = S(f_phipp="asin(" + _clip1(
            f"{L(cosp0)} * sin({phip}) - {L(sinp0)} * {cpp} * cos({lamp})")
            + ")")
        lampp = _clip1(f"{cpp} * sin({lamp}) / cos({phipp})")
        return (f"{L(kR)} * asin({lampp})",
                f"{L(kR)} * ln(tan({L(pi / 4.0)} + 0.5D * {phipp}))", None)
    if name == "krovak":
        # krovak.cpp:86-240; setup constants recomputed with the same
        # scalar formulas (P.a/P.es already stomped to Bessel at setup)
        e = P.e
        UQ = 1.04216856380474
        S0 = 1.37008346281555
        czech = 1.0 if P.param_b("czech") else -1.0
        alpha = math.sqrt(1.0 + (P.es * math.cos(P.phi0) ** 4)
                          / (1.0 - P.es))
        u0 = math.asin(math.sin(P.phi0) / alpha)
        g = math.pow((1.0 + e * math.sin(P.phi0))
                     / (1.0 - e * math.sin(P.phi0)), alpha * e / 2.0)
        kk = (math.tan(u0 / 2.0 + pi / 4.0)
              / math.pow(math.tan(P.phi0 / 2.0 + pi / 4.0), alpha) * g)
        n0 = math.sqrt(1.0 - P.es) / (1.0 - P.es
                                      * math.sin(P.phi0) ** 2)
        n = math.sin(S0)
        rho0 = P.k0 * n0 / math.tan(S0)
        ad = pi / 2.0 - UQ
        esin = S(f_esin=f"sin({phic}) * {L(e)}")
        u, dv = S(f_u=f"2.0D * (atan({L(kk)} * power(tan({phic} / 2.0D + "
                      f"{L(pi / 4.0)}), {L(alpha)}) / power((1.0D + {esin})"
                      f" / (1.0D - {esin}), {L(alpha * e / 2.0)})) - "
                      f"{L(pi / 4.0)})",
                  f_dv=f"(-{lamw}) * {L(alpha)}")
        s = S(f_s="asin(" + _clip1(
            f"{L(math.cos(ad))} * sin({u}) + {L(math.sin(ad))} * cos({u})"
            f" * cos({dv})") + ")")
        cs = S(f_cs=f"cos({s})")
        dg = f"{cs} < {L(1e-12)}"
        d = S(f_d="asin(" + _clip1(
            f"cos({u}) * sin({dv}) / (CASE WHEN {dg} THEN 1.0D "
            f"ELSE {cs} END)") + ")")
        rr = rho0 * math.pow(math.tan(S0 / 2.0 + pi / 4.0), n)
        rho, ep = S(f_rho=f"{L(rr)} / power(tan({s} / 2.0D + "
                          f"{L(pi / 4.0)}), {L(n)})",
                    f_ep=f"{L(n)} * {d}")
        return (f"CASE WHEN {dg} THEN 0.0D ELSE {rho} * sin({ep}) * "
                f"{L(czech)} END",
                f"CASE WHEN {dg} THEN 0.0D ELSE {rho} * cos({ep}) * "
                f"{L(czech)} END", None)
    if name == "sterea":
        # sterea.cpp:46-67 over gauss.cpp:84-94: conformal-sphere
        # latitude via one atan/pow, then the oblique stereographic;
        # C/K/ratexp/sinc0/cosc0/R2 fold at plan time
        Cc, Kc = float(Q["C"]), float(Q["K"])
        sc0, cc0 = float(Q["sinc0"]), float(Q["cosc0"])
        esin = S(f_esin=f"sin({phic}) * {L(P.e)}")
        sph, slam = S(f_sph=f"2.0D * atan({L(Kc)} * power(tan(0.5D * "
                            f"{phic} + {L(pi / 4.0)}), {L(Cc)}) * power("
                            f"(1.0D - {esin}) / (1.0D + {esin}), "
                            f"{L(float(Q['ratexp']))})) - {L(_H)}",
                      f_slam=f"{L(Cc)} * {lamw}")
        sinc, cosc, cosl = S(f_sinc=f"sin({sph})", f_cosc=f"cos({sph})",
                             f_cosl=f"cos({slam})")
        den = S(f_den=f"1.0D + {L(sc0)} * {sinc} + {L(cc0)} * {cosc} * "
                      f"{cosl}")
        bad = f"{den} = 0.0D"
        kk = S(f_kk=f"{L(P.k0 * float(Q['R2']))} / (CASE WHEN {bad} THEN "
                    f"1.0D ELSE {den} END)")
        return (f"{kk} * {cosc} * sin({slam})",
                f"{kk} * ({L(cc0)} * {sinc} - {L(sc0)} * {cosc} * {cosl})",
                bad)
    if name == "robin":
        # robin.cpp forward (kernels/robin.py): the 5-degree node i,
        # then V(C, z) = c0 + z*(c1 + z*(c2 + z*c3)) over the X and Y
        # tables; each float32-rounded coefficient column is an array
        # literal indexed by node
        from proj_4_spark.kernels import robin as R

        i = S(r_i=f"CAST(least(greatest(floor(abs({phic}) * {L(R._C1)} + "
                  f"{L(1e-15)}), 0), {R._NODES}) AS INT)")
        z = S(r_z=f"{L(C.RAD_TO_DEG)} * (abs({phic}) - {L(R._RC1)} * "
                  f"CAST({i} AS DOUBLE))")

        def v(T):
            c = [f"element_at(array({', '.join(L(t) for t in T[:, j])}), "
                 f"{i} + 1)" for j in range(4)]
            return f"{c[0]} + {z} * ({c[1]} + {z} * ({c[2]} + {z} * {c[3]}))"

        yv = S(r_y=f"({v(R._YA)}) * {L(R._FYC)}")
        return (f"({v(R._XA)}) * {L(R._FXC)} * {lamw}",
                f"CASE WHEN {phic} < 0.0D THEN (-{yv}) ELSE {yv} END",
                f"isnan({phic})")
    if name == "laea":
        return _laea_fwd_kernel(st, P, lamw, phic)
    if name in ("stere", "ups"):
        return _stere_fwd_kernel(st, P, lamw, phic)
    if name == "omerc":
        return _omerc_fwd_kernel(st, P, lamw, phic)
    return _moll_fwd_kernel(st, P, lamw, phic)


def _laea_fwd_kernel(st, P, lamw: str, phic: str):
    """laea.cpp:35-137: authalic sin-beta = qsfn(sin phi)/qp; the
    xmf/ymf/qp/sinb1/cosb1 constants fold at plan time."""
    L = double
    S = st.stage
    Q = P.opaque
    mode = Q["mode"]
    sinlam, coslam, sinphi = S(f_sl=f"sin({lamw})", f_cl=f"cos({lamw})",
                               f_sp=f"sin({phic})")
    sb1, cb1 = (L(float(Q["sinb1"])), L(float(Q["cosb1"]))) \
        if mode in ("obliq", "equit") else (None, None)
    if P.es != 0.0:
        q = S(f_q=_sql_qsfn(st, P, sinphi, "f_"))
        qp = float(Q["qp"])
        if mode in ("obliq", "equit"):
            xmf, ymf = L(float(Q["xmf"])), L(float(Q["ymf"]))
            sinb = S(f_sinb=f"{q} / {L(qp)}")
            cosb2 = S(f_cb2=f"1.0D - {sinb} * {sinb}")
            cosb = S(f_cosb=f"CASE WHEN {cosb2} > 0.0D THEN "
                            f"sqrt(greatest({cosb2}, 0.0D)) ELSE 0.0D END")
            b = S(f_b=f"1.0D + {sb1} * {sinb} + {cb1} * {cosb} * {coslam}"
                  if mode == "obliq" else f"1.0D + {cosb} * {coslam}")
            bad = f"abs({b}) < {L(1e-10)}"
            bb = S(f_bb=f"sqrt(2.0D / (CASE WHEN {bad} THEN 1.0D "
                        f"ELSE {b} END))")
            yk = (f"{ymf} * {bb} * ({cb1} * {sinb} - {sb1} * {cosb} * "
                  f"{coslam})" if mode == "obliq"
                  else f"{bb} * {sinb} * {ymf}")
            return f"{xmf} * {bb} * {cosb} * {sinlam}", yk, bad
        if mode == "n_pole":
            b, qq = f"{L(_H)} + {phic}", f"{L(qp)} - {q}"
        else:
            b, qq = f"{phic} - {L(_H)}", f"{L(qp)} + {q}"
        qq = S(f_qq=qq)
        bb = S(f_bb=f"sqrt(greatest({qq}, 0.0D))")
        small = f"{qq} < {L(1e-15)}"
        yb = bb if mode == "s_pole" else f"(-{bb})"
        return (f"CASE WHEN {small} THEN 0.0D ELSE {bb} * {sinlam} END",
                f"CASE WHEN {small} THEN 0.0D ELSE {coslam} * {yb} END",
                f"abs({b}) < {L(1e-10)}")
    cosphi = S(f_cp=f"cos({phic})")
    if mode in ("equit", "obliq"):
        b = S(f_b=f"1.0D + {cosphi} * {coslam}" if mode == "equit" else
              f"1.0D + {sb1} * {sinphi} + {cb1} * {cosphi} * {coslam}")
        bad = f"{b} <= {L(1e-10)}"
        bb = S(f_bb=f"sqrt(2.0D / (CASE WHEN {bad} THEN 1.0D "
                    f"ELSE {b} END))")
        yk = (f"{bb} * {sinphi}" if mode == "equit" else
              f"{bb} * ({cb1} * {sinphi} - {sb1} * {cosphi} * {coslam})")
        return f"{bb} * {cosphi} * {sinlam}", yk, bad
    half = S(f_half=f"{L(math.pi / 4.0)} - {phic} * 0.5D")
    yy = S(f_yy=f"2.0D * {'cos' if mode == 's_pole' else 'sin'}({half})")
    pcl = f"(-{coslam})" if mode == "n_pole" else coslam
    return (f"{yy} * {sinlam}", f"{yy} * {pcl}",
            f"abs({phic} + {L(P.phi0)}) < {L(1e-10)}")


def _stere_fwd_kernel(st, P, lamw: str, phic: str):
    """stere.cpp:44-140 (ellipsoidal 44-96, spherical 99-140); akm1
    folds k0/lat_ts at setup; all four aspect modes."""
    L = double
    S = st.stage
    Q = P.opaque
    mode = Q["mode"]
    akm1 = L(float(Q["akm1"]))
    sX1, cX1 = L(float(Q["sinX1"])), L(float(Q["cosX1"]))
    sinlam, coslam, sinphi = S(f_sl=f"sin({lamw})", f_cl=f"cos({lamw})",
                               f_sp=f"sin({phic})")
    if P.es != 0.0:
        e = P.e
        if mode in ("obliq", "equit"):
            esin = S(f_esin=f"{sinphi} * {L(e)}")
            xc = S(f_xc=f"2.0D * atan(tan(0.5D * ({L(_H)} + {phic})) * "
                        f"power((1.0D - {esin}) / (1.0D + {esin}), "
                        f"{L(0.5 * e)})) - {L(_H)}")
            sinX, cosX = S(f_sx=f"sin({xc})", f_cx=f"cos({xc})")
            den = S(f_den=f"{cX1} * (1.0D + {sX1} * {sinX} + {cX1} * "
                          f"{cosX} * {coslam})" if mode == "obliq"
                    else f"1.0D + {cosX} * {coslam}")
            bad = f"{den} = 0.0D"
            A = S(f_A=f"{akm1} / (CASE WHEN {bad} THEN 1.0D ELSE {den} END)")
            yk = (f"{A} * ({cX1} * {sinX} - {sX1} * {cosX} * {coslam})"
                  if mode == "obliq" else f"{A} * {sinX}")
            return f"{A} * {cosX} * {sinlam}", yk, bad
        s_pole = mode == "s_pole"
        pphi = f"(-{phic})" if s_pole else phic
        psin = f"(-{sinphi})" if s_pole else sinphi
        pcl = f"(-{coslam})" if s_pole else coslam
        xa = S(f_xa=f"{akm1} * ({_sql_tsfn(st, pphi, psin, e, 'f_')})")
        return f"{xa} * {sinlam}", f"(-{xa}) * {pcl}", None
    cosphi = S(f_cp=f"cos({phic})")
    if mode in ("obliq", "equit"):
        den = S(f_den=f"1.0D + {cosphi} * {coslam}" if mode == "equit" else
                f"1.0D + {sX1} * {sinphi} + {cX1} * {cosphi} * {coslam}")
        bad = f"{den} <= {L(1.0e-10)}"
        A = S(f_A=f"{akm1} / (CASE WHEN {bad} THEN 1.0D ELSE {den} END)")
        yk = (f"{A} * {sinphi}" if mode == "equit" else
              f"{A} * ({cX1} * {sinphi} - {sX1} * {cosphi} * {coslam})")
        return f"{A} * {cosphi} * {sinlam}", yk, bad
    n_pole = mode == "n_pole"
    pphi = S(f_pphi=f"-{phic}" if n_pole else phic)
    pcl = f"(-{coslam})" if n_pole else coslam
    yb = S(f_yb=f"{akm1} * tan({L(math.pi / 4.0)} + 0.5D * {pphi})")
    return (f"{sinlam} * {yb}", f"{yb} * {pcl}",
            f"abs({pphi} - {L(_H)}) < {L(1.0e-8)}")


def _omerc_fwd_kernel(st, P, lamw: str, phic: str):
    """omerc.cpp forward (Hotine oblique Mercator, kernels/misc5.py):
    interior lanes run the closed hyperbolic form, the pole lanes take
    the setup's v_pole constants; divisions that numpy evaluates under
    errstate (E/ts^B at the exact pole, the U log at |U|=1) sit inside
    interior/bad CASE branches so ANSI Spark never hits them."""
    Q = P.opaque
    L = double
    S = st.stage
    EPS_O, TOL_O = 1.0e-10, 1.0e-7
    A, B, E = float(Q["A"]), float(Q["B"]), float(Q["E"])
    ArB = float(Q["ArB"])
    sg, cg = float(Q["singam"]), float(Q["cosgam"])
    inter = S(k_int=f"abs(abs({phic}) - {L(_H)}) > {L(EPS_O)}")
    sph = S(k_sph=f"sin({phic})")
    esn = S(k_es=f"{L(P.e)} * {sph}")
    # tsfn (tsfn.cpp:6-17); 1+e*sin > 0 always
    ts = S(k_ts=f"tan(0.5D * ({L(_H)} - {phic})) / "
                f"power((1.0D - {esn}) / (1.0D + {esn}), {L(0.5 * P.e)})")
    # W = E/ts^B: guarded to 1 off-interior (exact-pole ts is 0/inf,
    # where numpy's errstate division would be an ANSI error here)
    w = S(k_w=f"CASE WHEN {inter} THEN {L(E)} / power({ts}, {L(B)}) "
              f"ELSE 1.0D END")
    wi = S(k_wi=f"1.0D / {w}")
    sc, tc, vv, tcos = S(k_s=f"0.5D * ({w} - {wi})",
                         k_t=f"0.5D * ({w} + {wi})",
                         k_vv=f"sin({L(B)} * {lamw})",
                         k_tc=f"cos({L(B)} * {lamw})")
    uu = S(k_u0=f"({sc} * {L(sg)} - {vv} * {L(cg)}) / {tc}")
    badc = S(k_bad=f"{inter} AND abs(abs({uu}) - 1.0D) < {L(EPS_O)}")
    a1 = S(k_a1=f"{sc} * {L(cg)} + {vv} * {L(sg)}")
    ve, ue = S(k_ve=f"CASE WHEN NOT {inter} THEN "
                    f"(CASE WHEN {phic} > 0.0D THEN "
                    f"{L(float(Q['v_pole_n']))} ELSE "
                    f"{L(float(Q['v_pole_s']))} END) "
                    f"WHEN {badc} THEN {_SQL_NAN} ELSE "
                    f"0.5D * {L(ArB)} * ln((1.0D - {uu}) / "
                    f"(1.0D + {uu})) END",
               k_ue=f"CASE WHEN NOT {inter} THEN {L(ArB)} * {phic} "
                    f"WHEN abs({tcos}) < {L(TOL_O)} THEN "
                    f"{L(A)} * {lamw} ELSE {L(ArB)} * "
                    f"{_sql_atan2_ieee(a1, tcos)} END")
    if Q["no_rot"]:
        xk, yk = ue, ve
    else:
        sr, cr = float(Q["sinrot"]), float(Q["cosrot"])
        u2 = S(k_u2=f"{ue} - {L(float(Q['u_0']))}")
        xk, yk = S(k_xr=f"{ve} * {L(cr)} + {u2} * {L(sr)}",
                   k_yr=f"{u2} * {L(cr)} - {ve} * {L(sr)}")
    return S(k_xb=f"CASE WHEN {badc} THEN {_SQL_NAN} ELSE {xk} END",
             k_yb=f"CASE WHEN {badc} THEN {_SQL_NAN} ELSE {yk} END") \
        + (None,)


def _moll_fwd_kernel(st, P, lamw: str, phic: str):
    """moll/wag4/wag5 forward (kernels/pseudocyl.moll_s_forward,
    moll.cpp:22-42): the bounded Newton on the parametric angle unrolls
    with the frozen-lane flag (non-convergent lanes substitute the
    +-pi/2 pole like the kernel); the exact-zero Newton denominator
    (1+cos == 0 at the float pi) routes through num*Infinity to mirror
    numpy under ANSI mode."""
    Q = P.opaque
    L = double
    S = st.stage
    kk = S(k_k=f"{L(float(Q['C_p']))} * sin({phic})")
    cur, done = phic, "false"
    for i in range(1, 11):
        nu, de = S(**{f"m_nu{i}": f"CASE WHEN {done} THEN 0.0D "
                                  f"ELSE {cur} + sin({cur}) - {kk} END",
                      f"m_de{i}": f"CASE WHEN {done} THEN 1.0D "
                                  f"ELSE 1.0D + cos({cur}) END"})
        vv = S(**{f"m_v{i}": f"CASE WHEN {done} THEN 0.0D "
                             f"WHEN {de} = 0.0D THEN {nu} * {_SQL_INF} "
                             f"ELSE {nu} / {de} END"})
        cur, done = S(**{f"m_ph{i}": f"CASE WHEN {done} THEN {cur} "
                                     f"ELSE {cur} - {vv} END",
                         f"m_dn{i}": f"abs({vv}) < {L(1.0e-7)}"})
        if i == 5:
            st.barrier()  # keep each codegen region JIT-compilable
    po = S(k_po=f"CASE WHEN {done} THEN 0.5D * {cur} ELSE "
                f"(CASE WHEN {cur} < 0.0D THEN {L(-_H)} "
                f"ELSE {L(_H)} END) END")
    return (f"{L(float(Q['C_x']))} * {lamw} * cos({po})",
            f"{L(float(Q['C_y']))} * sin({po})", None)


def _etmerc_fwd_kernel(st, P, lamw: str, phic: str):
    """Poder-Engsager etmerc/tmerc/utm forward (kernels/tmerc.
    exact_e_fwd, tmerc.cpp:334-415).  The gatg and complex-Clenshaw
    recurrences reference each intermediate twice, so inlining them
    into one projection would duplicate subtrees Fibonacci-style
    (Catalyst does not CSE across an expression tree); every recurrence
    step lands in its OWN stage instead."""
    Q = P.opaque["exact"]
    cbg, gtu = Q["cbg"], Q["gtu"]
    L = double
    S = st.stage
    # gatg(cbg): real Clenshaw over cos/sin(2*phi) (tmerc.cpp:267-279)
    two, s2 = S(two=f"2.0D * cos(2.0D * {phic})", s2=f"sin(2.0D * {phic})")
    cn0 = S(Cn0=f"{phic} + {_sql_gatg(st, cbg, two, '')} * {s2}")
    # spherical-to-complex-plane setup (tmerc.cpp:352-376)
    sCn, cCn, sCe, cCe = S(sCn=f"sin({cn0})", cCn=f"cos({cn0})",
                           sCe=f"sin({lamw})", cCe=f"cos({lamw})")
    cc = S(cc=f"{cCn} * {cCe}")
    cn1, invd = S(Cn1=f"atan2({sCn}, {cc})",
                  invd=f"1.0D / hypot({sCn}, {cc})")
    tCe, twoinv = S(tCe=f"{sCe} * {cCn} * {invd}", twoinv=f"2.0D * {invd}")
    ce1, twoinvsq = S(Ce1=f"asinh({tCe})", twoinvsq=f"{twoinv} * {invd}")
    tmpr = S(tmpr=f"{cc} * {twoinvsq}")
    sar, car, shi, chi = S(sar=f"{sCn} * {tmpr}", car=f"{cc} * {tmpr} - 1.0D",
                           shi=f"{tCe} * {twoinv}", chi=f"{twoinvsq} - 1.0D")
    # complex Clenshaw over gtu (tmerc.cpp:283-311)
    r, i = S(r=f"2.0D * {car} * {chi}", i=f"-2.0D * {sar} * {shi}")
    hr, hi = _sql_clens(st, gtu, r, i, "")
    rr, ii = S(rr=f"{sar} * {chi}", ii=f"{car} * {shi}")
    cn, ce = S(Cn=f"{cn1} + {rr} * ({hr}) - {ii} * ({hi})",
               Ce=f"{ce1} + {rr} * ({hi}) + {ii} * ({hr})")
    # Ce bound (tmerc.cpp:409)
    ok = S(ok=f"abs({ce}) <= {L(_CE_LIMIT_JVM)}")
    # close the region after the recurrences: a chained roundtrip (utm
    # fwd -> inv) otherwise fuses this chain (~5.3k bytecodes alone)
    # with the inverse's first region past HotSpot's 8000-byte JIT
    # ceiling, and the forward leg runs interpreted
    st.barrier()
    Qn = L(float(Q["Qn"]))
    return (f"CASE WHEN {ok} THEN {Qn} * {ce} ELSE {_SQL_NAN} END",
            f"CASE WHEN {ok} THEN {Qn} * {cn} + {L(float(Q['Zb']))} "
            f"ELSE {_SQL_NAN} END", None)


def _sql_gatg(st, coeffs, two: str, tag: str) -> str:
    """Real Clenshaw sum (gatg, tmerc.cpp:267-279) over the COLUMN REF
    two = 2*cos(2*phi); every step is its own stage (each intermediate
    is read twice)."""
    L = double
    h1, h2 = L(float(coeffs[-1])), "0.0D"
    for k in range(len(coeffs) - 2, -1, -1):
        h2, h1 = h1, st.stage(**{f"{tag}g{k}": f"-({h2}) + {two} * ({h1}) "
                                               f"+ {L(float(coeffs[k]))}"})
    return h1


def _sql_clens(st, coeffs, r: str, i: str, tag: str):
    """Complex Clenshaw recurrence (clenS, tmerc.cpp:283-311) over the
    COLUMN REFS r, i; returns the (hr, hi) refs."""
    L = double
    hr, hi = L(float(coeffs[-1])), "0.0D"
    hr1 = hi1 = "0.0D"
    for k in range(len(coeffs) - 2, -1, -1):
        hr1, hi1, (hr, hi) = hr, hi, st.stage(**{
            f"{tag}hr{k}": f"-({hr1}) + {r} * ({hr}) - {i} * ({hi}) "
                           f"+ {L(float(coeffs[k]))}",
            f"{tag}hi{k}": f"-({hi1}) + {i} * ({hr}) + {r} * ({hi})"})
    return hr, hi


def _outputs(st, names: list[str], xo: str, yo: str, zo: str, mask,
             mask_z: bool) -> list[str]:
    """The final select list every twin shares, writing the columns
    `names` (x, y, z, t): NULL -> NaN (the UDF path's na_value), `mask`
    rows -> NaN on x/y (and z when mask_z), t passed through."""
    def fin(v, masked):
        v = f"coalesce({v}, {_SQL_NAN})"
        if masked and mask:
            v = f"CASE WHEN {mask} THEN {_SQL_NAN} ELSE {v} END"
        return v

    values = (fin(xo, True), fin(yo, True), fin(zo, mask_z), st.col("tt"))
    return [f"{v} AS {identifier(n)}" for v, n in zip(values, names)]


# --- inverse pipeline -----------------------------------------------------
#
# _emit_inv: entry (inv_prepare) -> _emit_inv_kernel -> inv_finalize ->
# datum legs (none for a bare op), then the same shared finalize as the
# forward (_outputs).  The iterative families (phi2
# src/phi2.cpp:12-83, phi1 src/projections/aea.cpp:48-70, inv_mlfn, the
# Newton inversions) unroll to their reference iteration bound with a
# carried `done` flag that FREEZES converged lanes — the per-lane update
# sequence is identical to the masked-lane NumPy kernels, so twin/UDF
# parity is exact, not approximate.  Spark-SQL NaN semantics differ
# from IEEE (NaN sorts above +Infinity in every comparison), so
# convergence tests are phrased as `abs(dphi) > TOL AND abs(v) <
# Infinity`: the finite guard is False for NaN under Spark ordering,
# reproducing numpy's isfinite stop.


def _emit_inv(st: _SqlStager, P, x, y, z, t, degrees: bool):
    """Inverse entry over the quoted input columns — the null/NaN error
    predicate and inv_prepare scaling (to_meter*v - offset) * 1/a
    (src/inv.cpp:42-76), or radians for a latlong op — then the family
    kernel and inv_finalize (lam0 + adjlon, inv.cpp:117-124).  Returns
    radian (lam, phi) column refs."""
    L = double
    xq, yq = f"CAST({x} AS DOUBLE)", f"CAST({y} AS DOUBLE)"
    if getattr(P, "is_latlong", False):
        xv, yv = ((f"radians({xq})", f"radians({yq})") if degrees
                  else (xq, yq))
    else:
        xv = f"({L(P.to_meter)} * {xq} - {L(P.x0)}) * {L(P.ra)}"
        yv = f"({L(P.to_meter)} * {yq} - {L(P.y0)}) * {L(P.ra)}"
    err = f"{x} IS NULL OR isnan({xq}) OR {y} IS NULL OR isnan({yq})"
    if z is not None:
        err += f" OR {z} IS NULL OR isnan(CAST({z} AS DOUBLE))"
    # the coalesce makes xm/ym NON-NULLABLE (NULL -> NaN, the UDF path's
    # na_value), which drops the isNull plumbing from every downstream
    # codegen expression — without it the staged iterative kernels blow
    # past HotSpot's 8000-byte JIT limit (measured 11185 -> ~6k for the
    # lcc inverse) and run interpreted, 13x slower
    xm, ym, _, _, _ = st.stage(
        xm=f"coalesce({xv}, {_SQL_NAN})", ym=f"coalesce({yv}, {_SQL_NAN})",
        zz=(f"coalesce(CAST({z} AS DOUBLE), {_SQL_NAN})"
            if z is not None else "0.0D"),
        tt=(f"coalesce(CAST({t} AS DOUBLE), {_SQL_NAN})"
            if t is not None else "0.0D"),
        err=err)
    if getattr(P, "is_latlong", False):
        lam, phi = xm, ym
    else:
        lam, phi = _emit_inv_kernel(st, P, xm, ym)
    lf, phi = st.stage(k_lf=f"({lam}) + {L(P.lam0)}", k_phf=phi)
    return st.stage(k_lw=_sql_adjlon(lf)), phi


def _sql_phi2_stages(st, ts0: str, e: float, tag: str) -> str:
    """Staged-SQL twin of kernels/common.phi2 (src/phi2.cpp:12-83):
    Snyder iteration ts <- ts0*((1-e sinφ)/(1+e sinφ))^(e/2).  Emits 14
    frozen-lane updates; a lane still active ENTERING the 15th
    iteration is exactly the kernel's count<=0 lane (its 15th update is
    applied but immediately overwritten by NaN, PJD_ERR_NON_CON_INV_PHI2),
    so the 15th update need not be emitted.  `ts0` must be a column
    ref.  Returns the φ column name."""
    L = double
    S = st.stage
    TOL, ecc = L(1.0e-10), L(0.5 * e)
    ts, done = ts0, S(**{f"{tag}dn0": f"NOT (abs({ts0}) < {_SQL_INF})"})
    for k in range(1, 15):
        # con = e * sinφ where sinφ = (1-ts²)/(1+ts²) (phi2.cpp:41);
        # CASE-guarded so frozen lanes skip the arithmetic (codegen
        # CaseWhen is lazy); 1+ts² >= 1 so no ANSI divide-by-zero
        cn = S(**{f"{tag}cn{k}": f"CASE WHEN {done} THEN 0.0D ELSE "
                                 f"{L(e)} * ((1.0D - {ts} * {ts}) / "
                                 f"(1.0D + {ts} * {ts})) END"})
        nts = S(**{f"{tag}ts{k}": f"CASE WHEN {done} THEN {ts} ELSE "
                                  f"{ts0} * power((1.0D - {cn}) / "
                                  f"(1.0D + {cn}), {ecc}) END"})
        # frozen lanes have nts == ts -> dphi == 0 -> stay done (no
        # `done OR` needed); non-finite frozen lanes give dphi = NaN,
        # whose finite guard is False under Spark's NaN-sorts-above-
        # Infinity ordering, so they stay done too
        ts, done = nts, S(**{f"{tag}dn{k}":
                             f"NOT (abs(2.0D * ({nts} - {ts})) > {TOL} "
                             f"AND abs({nts}) < {_SQL_INF})"})
        if k == 7:
            st.barrier()  # keep each codegen region JIT-compilable
    return S(**{f"{tag}phi": f"CASE WHEN NOT {done} THEN {_SQL_NAN} "
                             f"ELSE {L(_H)} - 2.0D * atan({ts}) END"})


def _sql_phi1_stages(st, qs: str, Te: float, one_es: float,
                     tag: str) -> str:
    """Staged-SQL twin of kernels/aea._phi1 (aea.cpp:48-70): Newton
    iteration for the inverse authalic latitude.  Emits 15 frozen-lane
    updates; a lane still active entering the 16th iteration is the
    kernel's count<0 -> NaN lane (the C loop bound admits one more pass
    than phi2's).  `qs` must be a column ref."""
    L = double
    S = st.stage
    TOL = L(1.0e-10)
    phi = S(**{f"{tag}p0": f"asin(least(greatest(0.5D * {qs}, -1.0D), "
                           f"1.0D))"})
    if Te < 1.0e-7:
        return phi
    done = S(**{f"{tag}dn0": f"NOT (abs({phi}) < {_SQL_INF})"})
    for k in range(1, 16):
        # CASE-guarded: frozen lanes skip the trig (the dominant
        # per-iteration cost — most lanes converge in <=5 of the 15)
        sp, cp = S(**{
            f"{tag}sp{k}": f"CASE WHEN {done} THEN 0.0D ELSE sin({phi}) END",
            f"{tag}cp{k}": f"CASE WHEN {done} THEN 1.0D ELSE cos({phi}) END"})
        # con = Te*sinφ; com = 1 - con² (recomputing (Te*sp) keeps the
        # two columns in ONE stage; the product is bit-identical)
        cn, cm = S(**{
            f"{tag}cn{k}": f"{L(Te)} * {sp}",
            f"{tag}cm{k}": f"1.0D - {L(Te)} * {sp} * ({L(Te)} * {sp})"})
        # com > 0 and (1±con) > 0 for every active (finite-φ) lane since
        # |con| <= e < 1, so the divisions and ln() cannot hit the
        # ANSI-mode divide-by-zero / negative-log paths
        dp = S(**{f"{tag}dp{k}":
                  f"CASE WHEN {done} THEN 0.0D ELSE "
                  f"0.5D * {cm} * {cm} / {cp} * "
                  f"({qs} / {L(one_es)} - {sp} / {cm} + "
                  f"{L(0.5 / Te)} * ln((1.0D - {cn}) / (1.0D + {cn}))) END"})
        phi, done = S(**{
            f"{tag}ph{k}": f"CASE WHEN {done} THEN {phi} "
                           f"ELSE {phi} + {dp} END",
            f"{tag}dn{k}": f"NOT (abs({dp}) > {TOL} AND "
                           f"abs({dp}) < {_SQL_INF})"})
        if k % 6 == 0:
            st.barrier()  # keep each codegen region JIT-compilable
    return S(**{f"{tag}phi": f"CASE WHEN NOT {done} THEN {_SQL_NAN} "
                             f"ELSE {phi} END"})


def _sql_invmlfn_stages(st, arg: str, es: float, en, tag: str) -> str:
    """Staged-SQL twin of kernels/common.inv_mlfn (src/mlfn.hpp
    inline_pj_inv_mlfn): Newton for the inverse meridional distance,
    EPS 1e-11, 10 frozen-lane updates.  Non-convergent lanes keep the
    last estimate (the reference logs but returns it) — no NaN wrap.
    NaN lanes keep iterating like the NumPy kernel (abs(NaN) >= EPS is
    True under both Spark's ordering and numpy's, and the updates stay
    NaN).  `arg` must be a column ref."""
    L = double
    S = st.stage
    k = 1.0 / (1.0 - es)
    e0, e1, e2, e3, e4 = (L(float(v)) for v in en)
    ph, done = arg, S(**{f"{tag}dn0": f"NOT (abs({arg}) < {_SQL_INF})"})
    for i in range(1, 11):
        sp, cp = S(**{
            f"{tag}sp{i}": f"CASE WHEN {done} THEN 0.0D ELSE sin({ph}) END",
            f"{tag}cp{i}": f"CASE WHEN {done} THEN 1.0D ELSE cos({ph}) END"})
        s2, cs = S(**{f"{tag}s2{i}": f"{sp} * {sp}",
                      f"{tag}cs{i}": f"{cp} * {sp}"})
        tq = S(**{f"{tag}t{i}": f"1.0D - {L(es)} * {s2}"})
        # dphi = (mlfn(p) - arg) * t*sqrt(t) * 1/(1-es); t >= 1-es > 0
        # for active lanes so sqrt/div never hit the ANSI error paths
        dp = S(**{f"{tag}dp{i}":
                  f"CASE WHEN {done} THEN 0.0D ELSE "
                  f"(({e0} * {ph} - {cs} * ({e1} + {s2} * ({e2} + {s2} * "
                  f"({e3} + {s2} * {e4})))) - {arg}) * "
                  f"({tq} * sqrt({tq})) * {L(k)} END"})
        ph, done = S(**{
            f"{tag}ph{i}": f"CASE WHEN {done} THEN {ph} ELSE {ph} - {dp} END",
            f"{tag}dn{i}": f"NOT (abs({dp}) >= {L(1.0e-11)})"})
        if i % 6 == 0:
            st.barrier()  # keep each codegen region JIT-compilable
    return ph


def _emit_inv_kernel(st, P, xm: str, ym: str):
    """Per-family inverse kernels over the inv_prepare'd (xm, ym)
    column refs: closed forms, and the bounded phi2 / phi1 / inv_mlfn /
    Newton iterations unrolled with frozen lanes.  Returns the radian
    (lam, phi) before inv_finalize (lam0 + adjlon)."""
    from proj_4_spark.kernels.tmerc import exact_e_inv

    L = double
    S = st.stage
    Q = P.opaque
    H = _H
    name = P.name
    if getattr(P, "inv", None) is exact_e_inv:
        # Poder-Engsager etmerc/utm INVERSE (tmerc.cpp:419-489): the
        # mirror of the r7 forward twin — complex Clenshaw over utg,
        # spherical de-projection, real Clenshaw (gatg) over cgb.
        # Non-iterative; staged like _etmerc_fwd_kernel.
        QE = Q["exact"]
        utg, cgb = QE["utg"], QE["cgb"]
        Qn, Zb = float(QE["Qn"]), float(QE["Zb"])
        cn0, ce0 = S(k_cn0=f"(({ym}) - {L(Zb)}) / {L(Qn)}",
                     k_ce0=f"({xm}) / {L(Qn)}")
        ok = S(k_ok=f"abs({ce0}) <= {L(_CE_LIMIT_JVM)}")
        sar, car, e2c = S(k_sar=f"sin(2.0D * {cn0})",
                          k_car=f"cos(2.0D * {cn0})",
                          k_e2c=f"exp(2.0D * (CASE WHEN {ok} THEN {ce0} "
                                f"ELSE 0.0D END))")
        shi, chi = S(k_shi=f"0.5D * {e2c} - 0.5D / {e2c}",
                     k_chi=f"0.5D * {e2c} + 0.5D / {e2c}")
        # clenS(utg): complex Clenshaw (tmerc.cpp:283-311)
        r, i = S(k_r=f"2.0D * {car} * {chi}",
                 k_i=f"-2.0D * {sar} * {shi}")
        hr, hi = _sql_clens(st, utg, r, i, "k_")
        rr, ii = S(k_rr=f"{sar} * {chi}", k_ii=f"{car} * {shi}")
        cn1, ce1 = S(k_cn1=f"{cn0} + {rr} * ({hr}) - {ii} * ({hi})",
                     k_ce1=f"{ce0} + {rr} * ({hi}) + {ii} * ({hr})")
        st.barrier()  # keep each codegen region JIT-compilable
        # spherical de-projection (tmerc.cpp:452-470)
        scn, ccn, she = S(k_scn=f"sin({cn1})", k_ccn=f"cos({cn1})",
                          k_she=f"sinh({ce1})")
        ce2, mod = S(k_ce2=_sql_atan2_ieee(she, ccn),
                     k_mod=f"hypot({she}, {ccn})")
        cn2, tmp = S(k_cn2=_sql_atan2_ieee(scn, mod),
                     k_tmp=f"2.0D * {mod} / ({she} * {she} + 1.0D)")
        s2c, c2c = S(k_s2c=f"{scn} * {tmp}",
                     k_c2c=f"{tmp} * {mod} - 1.0D")
        # gatg(cgb): real Clenshaw (tmerc.cpp:267-279)
        g0 = _sql_gatg(st, cgb, S(k_two=f"2.0D * {c2c}"), "k_")
        phi, lam = S(k_ph=f"CASE WHEN {ok} THEN {cn2} + {g0} * "
                          f"{s2c} ELSE {_SQL_NAN} END",
                     k_lam=f"CASE WHEN {ok} THEN {ce2} "
                           f"ELSE {_SQL_NAN} END")
    elif name == "merc" and P.es != 0.0:
        ts0 = S(k_ts0=f"exp(-({ym}) / {L(P.k0)})")
        phi = _sql_phi2_stages(st, ts0, P.e, "p2_")
        lam = S(k_lam=f"CASE WHEN isnan({phi}) THEN {_SQL_NAN} "
                      f"ELSE ({xm}) / {L(P.k0)} END")
    elif name in ("stere", "ups") and P.es != 0.0:
        # stere.cpp:143-190 ellipsoidal inverse: aspect-specific
        # preamble + the 8-iteration conformal-latitude inversion
        # (tolerance 1e-10); lanes not converged after 8 -> NaN
        mode = Q["mode"]
        rh = S(k_rh=f"hypot({xm}, {ym})")
        if mode in ("obliq", "equit"):
            sX1, cX1 = float(Q["sinX1"]), float(Q["cosX1"])
            akm1 = float(Q["akm1"])
            tp0 = S(k_tp0=f"2.0D * atan2({rh} * {L(cX1)}, {L(akm1)})")
            cph, sph, rs = S(k_cph=f"cos({tp0})", k_sph=f"sin({tp0})",
                             k_rs=f"CASE WHEN {rh} = 0.0D THEN 1.0D "
                                  f"ELSE {rh} END")
            phl = S(k_phl=f"CASE WHEN {rh} = 0.0D THEN "
                          f"asin(least(greatest({cph} * {L(sX1)}, "
                          f"-1.0D), 1.0D)) ELSE "
                          f"asin(least(greatest({cph} * {L(sX1)} + "
                          f"({ym}) * {sph} * {L(cX1)} / {rs}, -1.0D),"
                          f" 1.0D)) END")
            tp, xs, ys = S(k_tp=f"tan(0.5D * ({L(H)} + {phl}))",
                           k_xs=f"({xm}) * {sph}",
                           k_ys=f"{rh} * {L(cX1)} * {cph} "
                                f"- ({ym}) * {L(sX1)} * {sph}")
            halfe, halfpi = 0.5 * P.e, H
        else:
            akm1 = float(Q["akm1"])
            ysg = f"-({ym})" if mode == "n_pole" else ym
            tp, ys = S(k_tp=f"-({rh}) / {L(akm1)}", k_ys=ysg)
            phl = S(k_phl=f"{L(H)} - 2.0D * atan({tp})")
            xs = xm
            halfe, halfpi = -0.5 * P.e, -H
        cur, done = phl, S(s_dn0=f"NOT (abs({phl}) < {_SQL_INF})")
        for k in range(1, 9):
            es = S(**{f"s_es{k}": f"CASE WHEN {done} THEN 0.0D "
                                  f"ELSE {L(P.e)} * sin({cur}) END"})
            nw = S(**{f"s_nw{k}": f"CASE WHEN {done} THEN {cur} ELSE "
                                  f"2.0D * atan({tp} * power((1.0D + {es})"
                                  f" / (1.0D - {es}), {L(halfe)})) - "
                                  f"{L(halfpi)} END"})
            cur, done = nw, S(**{f"s_dn{k}": f"abs({cur} - {nw}) < "
                                             f"{L(1.0e-10)}"})
        neg = "-" if mode == "s_pole" else ""
        phi = S(k_ph=f"CASE WHEN {done} THEN {neg}{cur} "
                     f"ELSE {_SQL_NAN} END")
        la0 = S(k_la0=f"CASE WHEN {xs} = 0.0D AND {ys} = 0.0D THEN "
                      f"0.0D ELSE {_sql_atan2_ieee(xs, ys)} END")
        lam = S(k_lam=f"CASE WHEN isnan({phi}) THEN {_SQL_NAN} "
                      f"ELSE {la0} END")
    elif name == "omerc":
        # omerc.cpp inverse (Hotine oblique Mercator): de-rotation,
        # hyperbolic de-projection, then phi2; closure scalars come
        # from the setup's opaque export (kernels/misc5.py)
        EPS_O = 1.0e-10
        sg, cg = float(Q["singam"]), float(Q["cosgam"])
        if Q["no_rot"]:
            vq, uq = ym, xm
        else:
            sr, cr = float(Q["sinrot"]), float(Q["cosrot"])
            vq, uq = S(k_v=f"({xm}) * {L(cr)} - ({ym}) * {L(sr)}",
                       k_u=f"({ym}) * {L(cr)} + ({xm}) * {L(sr)} "
                           f"+ {L(float(Q['u_0']))}")
        qp = S(k_qp=f"exp(-({L(float(Q['BrA']))}) * {vq})")
        badc = S(k_bad=f"{qp} = 0.0D")
        qs = S(k_qs=f"CASE WHEN {badc} THEN 1.0D ELSE {qp} END")
        sp, tp, vp = S(k_sp=f"0.5D * ({qs} - 1.0D / {qs})",
                       k_tp=f"0.5D * ({qs} + 1.0D / {qs})",
                       k_vp=f"sin({L(float(Q['BrA']))} * {uq})")
        up = S(k_up=f"({vp} * {L(cg)} + {sp} * {L(sg)}) / {tp}")
        ap = S(k_ap=f"abs(abs({up}) - 1.0D) < {L(EPS_O)}")
        # at-pole lanes feed ts=1 into phi2 exactly like the kernel's
        # np.where BEFORE the power; (1-Up)=0 only at-pole, so the
        # guarded CASE also keeps ANSI division happy
        ts0 = S(k_ts0=f"CASE WHEN {ap} THEN 1.0D ELSE "
                      f"power({L(float(Q['E']))} / sqrt((1.0D + {up})"
                      f" / (1.0D - {up})), {L(1.0 / float(Q['B']))}) "
                      f"END")
        phi_i = _sql_phi2_stages(st, ts0, P.e, "p2_")
        ph0 = S(k_ph0=f"CASE WHEN {ap} THEN (CASE WHEN {up} < 0.0D "
                      f"THEN {L(-H)} ELSE {L(H)} END) "
                      f"ELSE {phi_i} END")
        ax, ay = S(k_ax=f"{sp} * {L(cg)} - {vp} * {L(sg)}",
                   k_ay=f"cos({L(float(Q['BrA']))} * {uq})")
        la0 = S(k_la0=f"CASE WHEN {ap} THEN 0.0D ELSE "
                      f"-({L(float(Q['rB']))}) * "
                      f"{_sql_atan2_ieee(ax, ay)} END")
        la1 = S(k_la1=f"CASE WHEN isnan({ph0}) THEN {_SQL_NAN} "
                      f"ELSE {la0} END")
        phi, lam = S(k_ph=f"CASE WHEN {badc} THEN {_SQL_NAN} "
                          f"ELSE {ph0} END",
                     k_lam=f"CASE WHEN {badc} THEN {_SQL_NAN} "
                           f"ELSE {la1} END")
    elif name == "laea" and P.es != 0.0:
        # laea.cpp:140-228 ellipsoidal inverse: beta is a column ref
        # (an inlined authlat-over-asin chain referencing it four times
        # collapsed into one 64,030-bytecode method, 8x over the JIT
        # ceiling)
        mode = Q["mode"]
        apa, qp = Q["apa"], float(Q["qp"])
        if mode in ("equit", "obliq"):
            dd, rq = float(Q["dd"]), float(Q["rq"])
            x2, y2 = S(k_x2=f"({xm}) / {L(dd)}", k_y2=f"({ym}) * {L(dd)}")
            rho = S(k_rho=f"hypot({x2}, {y2})")
            ctr, sc0 = S(k_ctr=f"{rho} < {L(1e-10)}",
                         k_sc0=f"2.0D * asin(greatest(least("
                               f"0.5D * {rho} / {L(rq)}, 1.0D), -1.0D))")
            cce, sce, rsf = S(k_cce=f"cos({sc0})", k_sce=f"sin({sc0})",
                              k_rsf=f"CASE WHEN {ctr} THEN 1.0D "
                                    f"ELSE {rho} END")
            xs = S(k_xs=f"{x2} * {sce}")
            if mode == "obliq":
                sb1, cb1 = float(Q["sinb1"]), float(Q["cosb1"])
                ab, ys = S(k_ab=f"{cce} * {L(sb1)} + {y2} * {sce} "
                                f"* {L(cb1)} / {rsf}",
                           k_ys=f"{rho} * {L(cb1)} * {cce} "
                                f"- {y2} * {L(sb1)} * {sce}")
            else:
                ab, ys = S(k_ab=f"{y2} * {sce} / {rsf}",
                           k_ys=f"{rho} * {cce}")
        else:
            xs = xm
            ys = S(k_yy=f"-({ym})" if mode == "n_pole" else f"({ym})")
            qv = S(k_q=f"({xm}) * ({xm}) + {ys} * {ys}")
            ctr, ab = S(k_ctr=f"{qv} = 0.0D",
                        k_ab0=f"1.0D - {qv} / {L(qp)}")
            if mode == "s_pole":
                ab = S(k_ab1=f"-({ab})")
        bt = S(k_bt=f"asin(greatest(least({ab}, 1.0D), -1.0D))")
        aphi = S(k_aphi=_sql_authlat(st, bt, apa, "k_"))
        la0 = S(k_la0=_sql_atan2_ieee(xs, ys))
        lam, phi = S(k_lam=f"CASE WHEN {ctr} THEN 0.0D ELSE {la0} END",
                     k_ph=f"CASE WHEN {ctr} THEN {L(P.phi0)} "
                          f"ELSE {aphi} END")
    elif name == "geos":
        # geos.cpp inverse (closed-form ray/ellipsoid intersection).
        # Every shared subexpression is a column ref: inlined Vy/Vz/kq
        # subtrees collapsed into one ~22.8k-line method janino refuses
        # (silent interpreted fallback)
        h = P.param_f("h")
        flip = P.params.get("sweep") == "x"
        rg1 = h / P.a
        rg = 1.0 + rg1
        Cq = rg * rg - 1.0
        ell = P.es != 0.0
        rp = math.sqrt(P.one_es) if ell else 1.0
        rp_inv2 = P.rone_es if ell else 1.0
        if flip:
            vz = S(k_vz=f"tan(({ym}) / {L(rg1)})")
            hyp = (f"hypot(1.0D, {vz})" if ell
                   else f"sqrt(1.0D + {vz} * {vz})")
            vy = S(k_vy=f"tan(({xm}) / {L(rg1)}) * {hyp}")
        else:
            vy = S(k_vy=f"tan(({xm}) / {L(rg1)})")
            hyp = (f"hypot(1.0D, {vy})" if ell
                   else f"sqrt(1.0D + {vy} * {vy})")
            vz = S(k_vz=f"tan(({ym}) / {L(rg1)}) * {hyp}")
        azp = S(k_azp=f"{vz} / {L(rp)}") if ell else vz
        aa = S(k_aa=f"{vy} * {vy} + {azp} * {azp} + 1.0D")
        bb = 2.0 * rg * -1.0  # Vx = -1 (geos.cpp)
        det = S(k_det=f"{L(bb * bb)} - (4.0D * {aa}) * {L(Cq)}")
        badc, kq = S(k_bad=f"{det} < 0.0D",
                     k_kq=f"({L(-bb)} - sqrt(greatest({det}, 0.0D))) "
                          f"/ (2.0D * {aa})")
        vx2, vy2, vz2 = S(k_vx2=f"{L(rg)} + {kq} * (-1.0D)",
                          k_vy2=f"{vy} * {kq}", k_vz2=f"{vz} * {kq}")
        la0 = S(k_la0=_sql_atan2_ieee(vy2, vx2))
        # Vx2 > 0 for every det>=0 lane (k <= rg/aa < rg), so the
        # division cannot hit the ANSI divide-by-zero path
        ph0 = S(k_ph0=f"atan({vz2} * cos({la0}) / {vx2})")
        if ell:
            ph0 = S(k_ph1=f"atan({L(rp_inv2)} * tan({ph0}))")
        lam, phi = S(k_lam=f"CASE WHEN {badc} THEN {_SQL_NAN} "
                           f"ELSE {la0} END",
                     k_ph=f"CASE WHEN {badc} THEN {_SQL_NAN} "
                          f"ELSE {ph0} END")
    elif name == "eqearth":
        # eqearth.cpp:77-131 inverse: 12-iteration Newton on the
        # parametric latitude, then the closed de-projection (+ the
        # authalic-latitude series for the ellipsoid class)
        from proj_4_spark.kernels.pseudocyl import (
            _A1, _A2, _A3, _A4, _M, _MAX_Y)

        rqda = float(Q["rqda"])
        x1, yt = S(k_x1=f"({xm}) / {L(rqda)}",
                   k_yt=f"least(greatest(({ym}) / {L(rqda)}, "
                        f"{L(-_MAX_Y)}), {L(_MAX_Y)})")
        cur, done = yt, "false"
        for k in range(1, 13):
            y2 = S(**{f"n_y2{k}": f"CASE WHEN {done} THEN 0.0D "
                                  f"ELSE {cur} * {cur} END"})
            y6 = S(**{f"n_y6{k}": f"{y2} * {y2} * {y2}"})
            fn, fd = S(**{
                f"n_f{k}": f"CASE WHEN {done} THEN 0.0D ELSE "
                           f"{cur} * ({L(_A1)} + {L(_A2)} * {y2} + {y6} *"
                           f" ({L(_A3)} + {L(_A4)} * {y2})) - {yt} END",
                f"n_fd{k}": f"{L(_A1)} + {L(3 * _A2)} * {y2} + {y6} * "
                            f"({L(7 * _A3)} + {L(9 * _A4)} * {y2})"})
            # numpy's f/0 gives a silent ±inf; ANSI Spark would error,
            # so the exact-zero denominator is routed through f * inf
            tl = S(**{f"n_tl{k}": f"CASE WHEN {done} THEN 0.0D "
                                  f"WHEN {fd} = 0.0D THEN {fn} * {_SQL_INF} "
                                  f"ELSE {fn} / {fd} END"})
            cur, done = S(**{f"n_yc{k}": f"CASE WHEN {done} THEN {cur} "
                                         f"ELSE {cur} - {tl} END",
                             f"n_dn{k}": f"abs({tl}) < {L(1.0e-11)}"})
            if k % 5 == 0:
                st.barrier()
        fy2 = S(k_fy2=f"{cur} * {cur}")
        fy6 = S(k_fy6=f"{fy2} * {fy2} * {fy2}")
        la0, ph0 = S(k_la0=f"{L(_M)} * {x1} * ({L(_A1)} + {L(3 * _A2)} "
                           f"* {fy2} + {fy6} * ({L(7 * _A3)} + "
                           f"{L(9 * _A4)} * {fy2})) / cos({cur})",
                     k_ph0=f"asin(least(greatest(sin({cur}) / {L(_M)}, "
                           f"-1.0D), 1.0D))")
        if P.es != 0.0:
            ph0 = S(k_pha=_sql_authlat(st, ph0, Q["apa"], "k_"))
        phi, lam = S(k_ph=f"CASE WHEN {done} THEN {ph0} "
                          f"ELSE {_SQL_NAN} END",
                     k_lam=f"CASE WHEN {done} THEN {la0} "
                           f"ELSE {_SQL_NAN} END")
    elif name == "sinu" and P.es != 0.0:
        # gn_sinu.cpp:38-54 ellipsoidal inverse
        phi_i = _sql_invmlfn_stages(st, ym, P.es, Q["en"], "im_")
        sa = S(k_sa=f"abs({phi_i})")
        inter, pol = S(k_int=f"{sa} < {L(H)}",
                       k_pol=f"({sa} - {L(1e-10)}) < {L(H)}")
        sp = S(k_sp=f"sin({phi_i})")
        lam, phi = S(k_lam=f"CASE WHEN {inter} THEN ({xm}) * "
                           f"sqrt(1.0D - {L(P.es)} * {sp} * {sp}) / "
                           f"cos({phi_i}) WHEN {pol} THEN 0.0D "
                           f"ELSE {_SQL_NAN} END",
                     k_ph=f"CASE WHEN {inter} OR {pol} THEN {phi_i} "
                          f"ELSE {_SQL_NAN} END")
    elif name == "cass" and P.es != 0.0:
        # cass.cpp ellipsoidal inverse: inv_mlfn + closed series;
        # en/m0 recomputed at plan time like the forward twin
        C3_, C4_, C5_ = (0.04166666666666666666,
                         0.33333333333333333333,
                         0.06666666666666666666)
        en = C.enfn(P.es)
        m0 = float(C.mlfn(np.float64(P.phi0),
                          np.float64(math.sin(P.phi0)),
                          np.float64(math.cos(P.phi0)), en))
        ph1 = _sql_invmlfn_stages(st, S(k_my=f"{L(m0)} + ({ym})"), P.es,
                                  en, "im_")
        tn, sn = S(k_tn=f"tan({ph1})", k_sn=f"sin({ph1})")
        tt, r1 = S(k_tt=f"{tn} * {tn}",
                   k_r1=f"1.0D / (1.0D - {L(P.es)} * {sn} * {sn})")
        nq = S(k_nq=f"sqrt({r1})")
        r2, ddc = S(k_r2=f"{r1} * {L(1.0 - P.es)} * {nq}",
                    k_dd=f"({xm}) / {nq}")
        d2 = S(k_d2=f"{ddc} * {ddc}")
        phi, lam = S(k_ph=f"{ph1} - ({nq} * {tn} / {r2}) * {d2} * "
                          f"(0.5D - (1.0D + 3.0D * {tt}) * {d2} * "
                          f"{L(C3_)})",
                     k_lam=f"{ddc} * (1.0D + {tt} * {d2} * "
                           f"(-{L(C4_)} + (1.0D + 3.0D * {tt}) * {d2} * "
                           f"{L(C5_)})) / cos({ph1})")
    elif name in ("lcc", "eqdc", "aea", "leac"):
        # conic inverses (lcc.cpp:46-77, eqdc.cpp, aea.cpp:121-160):
        # polar geometry about the apex, then each family's latitude
        n, c, rho0 = float(Q["n"]), float(Q["c"]), float(Q["rho0"])
        if name == "lcc":
            x1, yr = S(k_x1=f"({xm}) / {L(P.k0)}",
                       k_yr=f"{L(rho0)} - ({ym}) / {L(P.k0)}")
        else:
            x1, yr = xm, S(k_yy=f"{L(rho0)} - ({ym})")
        rh = S(k_rh=f"hypot({x1}, {yr})")
        if n < 0.0:  # cone opens south: setup-time sign flips
            rho, xs, ys = S(k_rho=f"-{rh}", k_xs=f"-({x1})", k_ys=f"-{yr}")
        else:
            rho, xs, ys = rh, x1, yr
        nz = S(k_nz=f"{rho} != 0.0D")
        if name == "lcc":
            rnz = S(k_rnz=f"CASE WHEN {nz} THEN {rho} ELSE 1.0D END")
            if P.es != 0.0:
                ts0 = S(k_ts0=f"power({rnz} / {L(c)}, {L(1.0 / n)})")
                phi_i = _sql_phi2_stages(st, ts0, P.e, "p2_")
            else:
                phi_i = S(k_sph=f"2.0D * atan(power({L(c)} / {rnz}, "
                                f"{L(1.0 / n)})) - {L(H)}")
        elif name == "eqdc":
            # phi = c - rho (sphere) or inv_mlfn(c - rho) (ellipsoid)
            phi_i = S(k_pa=f"{L(c)} - {rho}")
            if Q["ellips"]:
                phi_i = _sql_invmlfn_stages(st, phi_i, P.es, Q["en"], "im_")
        elif Q["ellips"]:
            pr = S(k_pr=f"{rho} / {L(float(Q['dd']))}")
            pq = S(k_pq=f"({L(c)} - {pr} * {pr}) / {L(n)}")
            al = S(k_al=f"abs({L(float(Q['ec']))} - abs({pq})) <= "
                        f"{L(1.0e-7)}")
            # Spark's NaN>2 is TRUE (numpy: False), so a NaN pq lands
            # in the too-big lane here; both paths end at NaN, see the
            # al/tb CASE below
            tb = S(k_tb=f"abs({pq}) > 2.0D AND NOT {al}")
            qs = S(k_qs=f"CASE WHEN {al} OR {tb} THEN 0.0D ELSE {pq} END")
            phi_it = _sql_phi1_stages(st, qs, P.e, P.one_es, "p1_")
            phi_i = S(k_ph0=f"CASE WHEN {al} THEN "
                            f"(CASE WHEN {pq} < 0.0D THEN {L(-H)} "
                            f"ELSE {L(H)} END) "
                            f"WHEN {tb} THEN {_SQL_NAN} "
                            f"ELSE {phi_it} END")
        else:
            pr = S(k_pr=f"{rho} / {L(float(Q['dd']))}")
            pq = S(k_pq=f"({L(c)} - {pr} * {pr}) / {L(float(Q['n2']))}")
            phi_i = S(k_ph0=f"CASE WHEN abs({pq}) <= 1.0D THEN "
                            f"asin(least(greatest({pq}, -1.0D), 1.0D)) "
                            f"ELSE (CASE WHEN {pq} < 0.0D THEN {L(-H)} "
                            f"ELSE {L(H)} END) END")
        phi = S(k_ph=f"CASE WHEN {nz} THEN {phi_i} "
                     f"ELSE {L(H if n > 0.0 else -H)} END")
        lam = S(k_la0=f"CASE WHEN {nz} THEN {_sql_atan2_ieee(xs, ys)} / "
                      f"{L(n)} ELSE 0.0D END")
        if name != "eqdc":  # (the eqdc kernel has no isnan(phi) masking)
            lam = S(k_lam=f"CASE WHEN isnan({phi}) THEN {_SQL_NAN} "
                          f"ELSE {lam} END")
    elif name == "eqc":
        # eqc.cpp:30-38: linear
        lam = f"{xm} / {L(float(Q['rc']))}"
        phi = f"{ym} + {L(P.phi0)}"
    elif name == "cea":
        # cea.cpp:37-61
        if P.es != 0.0:
            beta = S(k_bt="asin(" + _clip1(
                f"2.0D * {ym} * {L(P.k0)} / {L(float(Q['qp']))}") + ")")
            phi = _sql_authlat(st, beta, Q["apa"], "k_")
            lam = f"{xm} / {L(P.k0)}"
        else:
            yk = S(k_yk=f"{ym} * {L(P.k0)}")
            ta = S(k_ta=f"abs({yk})")
            ok = S(k_ok=f"({ta} - {L(1e-10)}) <= 1.0D")
            phi = (f"CASE WHEN {ok} THEN (CASE WHEN {ta} >= 1.0D THEN "
                   f"(CASE WHEN {yk} < 0.0D THEN {L(-H)} ELSE {L(H)} END) "
                   f"ELSE asin({_clip1(yk)}) END) ELSE {_SQL_NAN} END")
            lam = (f"CASE WHEN {ok} THEN {xm} / {L(P.k0)} "
                   f"ELSE {_SQL_NAN} END")
    elif name == "laea":
        # laea.cpp:140-228 spherical inverse, all aspect modes
        mode = Q["mode"]
        rh = S(k_rh=f"hypot({xm}, {ym})")
        bad, phz = S(k_bad=f"{rh} * 0.5D > 1.0D",
                     k_phz=f"2.0D * asin({_clip1(f'{rh} * 0.5D')})")
        if mode in ("obliq", "equit"):
            sinz, cosz, rhs = S(k_sz=f"sin({phz})", k_cz=f"cos({phz})",
                                k_rhs=f"CASE WHEN {rh} = 0.0D THEN 1.0D "
                                      f"ELSE {rh} END")
            if mode == "equit":
                ph = S(k_ph0=f"CASE WHEN abs({rh}) <= {L(1e-10)} THEN 0.0D "
                             f"ELSE asin({_clip1(f'{ym} * {sinz} / {rhs}')})"
                             f" END")
                xs, ys = S(k_xs=f"{xm} * {sinz}", k_ys=f"{cosz} * {rh}")
            else:
                sb1, cb1 = L(float(Q["sinb1"])), L(float(Q["cosb1"]))
                ph = S(k_ph0=f"CASE WHEN abs({rh}) <= {L(1e-10)} THEN "
                             f"{L(P.phi0)} ELSE asin(" + _clip1(
                                 f"{cosz} * {sb1} + {ym} * {sinz} * {cb1} "
                                 f"/ {rhs}") + ") END")
                xs, ys = S(k_xs=f"{xm} * {sinz} * {cb1}",
                           k_ys=f"({cosz} - sin({ph}) * {sb1}) * {rh}")
            la = (f"CASE WHEN {ys} = 0.0D THEN 0.0D "
                  f"ELSE {_sql_atan2_ieee(xs, ys)} END")
        elif mode == "n_pole":
            ph = f"{L(H)} - {phz}"
            la = _sql_atan2_ieee(xm, S(k_nym=f"-{ym}"))
        else:
            ph = f"{phz} - {L(H)}"
            la = _sql_atan2_ieee(xm, ym)
        phi = f"CASE WHEN {bad} THEN {_SQL_NAN} ELSE {ph} END"
        lam = f"CASE WHEN {bad} THEN {_SQL_NAN} ELSE {la} END"
    elif name in ("stere", "ups"):
        # stere.cpp:193-234 spherical inverse (e_inverse iterates)
        mode = Q["mode"]
        akm1 = L(float(Q["akm1"]))
        rh = S(k_rh=f"hypot({xm}, {ym})")
        c2 = S(k_c2=f"2.0D * atan({rh} / {akm1})")
        sinc, cosc, rhs = S(k_sc=f"sin({c2})", k_cc=f"cos({c2})",
                            k_rhs=f"CASE WHEN {rh} = 0.0D THEN 1.0D "
                                  f"ELSE {rh} END")
        near = f"abs({rh}) <= {L(1e-10)}"
        if mode == "equit":
            phi = (f"CASE WHEN {near} THEN 0.0D "
                   f"ELSE asin({_clip1(f'{ym} * {sinc} / {rhs}')}) END")
            ax, ay = S(k_ax=f"{xm} * {sinc}", k_ay=f"{cosc} * {rh}")
            lam = (f"CASE WHEN ({cosc} != 0.0D) OR ({xm} != 0.0D) THEN "
                   f"{_sql_atan2_ieee(ax, ay)} ELSE 0.0D END")
        elif mode == "obliq":
            sX1, cX1 = L(float(Q["sinX1"])), L(float(Q["cosX1"]))
            phi = S(k_ph0=f"CASE WHEN {near} THEN {L(P.phi0)} ELSE asin(" +
                    _clip1(f"{cosc} * {sX1} + {ym} * {sinc} * {cX1} / {rhs}")
                    + ") END")
            cc = S(k_ccc=f"{cosc} - {sX1} * sin({phi})")
            ax, ay = S(k_ax=f"{xm} * {sinc} * {cX1}", k_ay=f"{cc} * {rh}")
            lam = (f"CASE WHEN ({cc} != 0.0D) OR ({xm} != 0.0D) THEN "
                   f"{_sql_atan2_ieee(ax, ay)} ELSE 0.0D END")
        else:
            yy = S(k_yy=f"-{ym}") if mode == "n_pole" else ym
            pole = f"(-{cosc})" if mode == "s_pole" else cosc
            phi = (f"CASE WHEN {near} THEN {L(P.phi0)} "
                   f"ELSE asin({_clip1(pole)}) END")
            lam = (f"CASE WHEN ({xm} = 0.0D) AND ({yy} = 0.0D) THEN 0.0D "
                   f"ELSE {_sql_atan2_ieee(xm, yy)} END")
    elif name == "sinu":
        # gn_sinu.cpp:88-97 spherical branch (setup pins n=1, m=0)
        phi = S(k_yy=f"{ym} / {L(float(Q['C_y']))}")
        lam = f"{xm} / ({L(float(Q['C_x']))} * cos({phi}))"
    elif name == "cass":
        # cass.cpp spherical inverse (closed form)
        dd = S(k_dd=f"{ym} + {L(P.phi0)}")
        tx, cd = S(k_tx=f"tan({xm})", k_cd=f"cos({dd})")
        phi = f"asin({_clip1(f'sin({dd}) * cos({xm})')})"
        lam = _sql_atan2_ieee(tx, cd)
    elif name in ("ortho", "gnom"):
        # ortho.cpp:79-128 / gnom.cpp:80-125 spherical inverses, all
        # aspect modes
        mode = Q["mode"]
        rh = S(k_rh=f"hypot({xm}, {ym})")
        if name == "ortho":
            bad, sinc = S(k_bad=f"({rh} - 1.0D) > {L(1e-10)}",
                          k_sc=f"least({rh}, 1.0D)")
            cosc = S(k_cc=f"sqrt(greatest(1.0D - {sinc} * {sinc}, 0.0D))")
            center = f"{rh} <= {L(1e-10)}"
            rhs = f"CASE WHEN {rh} = 0.0D THEN 1.0D ELSE {rh} END"
        else:
            ph0a = S(k_p0a=f"atan({rh})")
            sinc = S(k_sc=f"sin({ph0a})")
            cosc = S(k_cc=f"sqrt(1.0D - {sinc} * {sinc})")
            center = f"abs({rh}) <= {L(1e-10)}"
            rhs = f"CASE WHEN {center} THEN 1.0D ELSE {rh} END"
        pole = mode in ("n_pole", "s_pole")
        if not pole:
            rhs = S(k_rhs=rhs)
            if mode == "equit":
                raw = S(k_raw=f"{ym} * {sinc} / {rhs}")
                xx, yy = S(k_xx=f"{xm} * {sinc}", k_yy=f"{cosc} * {rh}")
            else:
                s0, c0 = L(float(Q["sinph0"])), L(float(Q["cosph0"]))
                raw = S(k_raw=f"{cosc} * {s0} + {ym} * {sinc} * {c0} / {rhs}")
            hi, lo = ((L(-H), L(H)) if name == "ortho" else (L(H), L(-H)))
            cmp = "<" if name == "ortho" else ">"
            ph = S(k_ph0=f"CASE WHEN abs({raw}) >= 1.0D THEN (CASE WHEN "
                         f"{raw} {cmp} 0.0D THEN {hi} ELSE {lo} END) "
                         f"ELSE asin({_clip1(raw)}) END")
            if mode == "obliq":
                s0n = raw if name == "ortho" else f"sin({ph})"
                xx, yy = S(k_xx=f"{xm} * {sinc} * {c0}",
                           k_yy=f"({cosc} - {s0} * {s0n}) * {rh}")
            if name == "ortho":
                la = (f"CASE WHEN {yy} = 0.0D THEN (CASE WHEN {xx} = 0.0D "
                      f"THEN 0.0D WHEN {xx} < 0.0D THEN {L(-H)} "
                      f"ELSE {L(H)} END) ELSE {_sql_atan2_ieee(xx, yy)} END")
            else:
                la = _sql_atan2_ieee(xx, yy)
        elif name == "ortho":
            sgn = 1.0 if mode == "n_pole" else -1.0
            ph = f"{L(sgn)} * acos({_clip1(sinc)})"
            la = _sql_atan2_ieee(xm, S(k_yy=f"{L(-sgn)} * {ym}"))
        elif mode == "s_pole":
            ph, la = f"{ph0a} - {L(H)}", _sql_atan2_ieee(xm, ym)
        else:
            ph = f"{L(H)} - {ph0a}"
            la = _sql_atan2_ieee(xm, S(k_yy=f"-{ym}"))
        phi = f"CASE WHEN {center} THEN {L(P.phi0)} ELSE {ph} END"
        lam = f"CASE WHEN {center} THEN 0.0D ELSE {la} END"
        if name == "ortho":
            phi = f"CASE WHEN {bad} THEN {_SQL_NAN} ELSE {phi} END"
            lam = f"CASE WHEN {bad} THEN {_SQL_NAN} ELSE {lam} END"
    elif name in ("moll", "wag4", "wag5"):
        # moll.cpp:45-58 inverse (closed form; the Newton is
        # forward-only).  cos(asin(+-1)) is ~6.1e-17, never exactly 0,
        # so the lam division cannot hit ANSI divide-by-zero
        ph1 = S(k_ph1="asin(" + _clip1(f"{ym} / {L(float(Q['C_y']))}")
                + ")")
        lr, ph2 = S(k_lr=f"{xm} / ({L(float(Q['C_x']))} * cos({ph1}))",
                    k_ph2=f"{ph1} + {ph1}")
        ok = f"abs({lr}) < {L(math.pi)}"
        phi = (f"CASE WHEN {ok} THEN asin(" + _clip1(
            f"({ph2} + sin({ph2})) / {L(float(Q['C_p']))}")
            + f") ELSE {_SQL_NAN} END")
        lam = f"CASE WHEN {ok} THEN {lr} ELSE {_SQL_NAN} END"
    else:
        # webmerc / spherical merc (merc.cpp:57-62)
        lam = f"{xm} / {L(P.k0)}"
        phi = f"atan(sinh({ym} / {L(P.k0)}))"
    return lam, phi


def _sql_deg(v: str) -> str:
    return f"{v} * {double(C.RAD_TO_DEG)}"


# --- datum legs ------------------------------------------------------------


def _emit_datum_legs(st: _SqlStager, legs, cx: str, cy: str, cz: str,
                     first_cart_prepare: bool):
    """Emit the SQL stages for a cart/helmert leg sequence starting from
    the column refs (cx, cy, cz); returns the final (cx, cy, cz).

    Semantics term for term against the NumPy kernels (parity pinned in
    tests/test_engine.py):
    - cart fwd: angular prepare (adjlon wrap + lat clip — a no-op when
      the caller pre-wrapped, matching the bare skip-prep helper ops of
      the cs2cs emulation graph) then cart.cpp:132-147;
    - cart inv: the closed form cart.cpp:150-205 incl. the near-origin
      and polar branches, then the finalize adjlon (a no-op on atan2
      output — matches both the pipeline-step and bare-helper cases);
    - static helmert / Molodensky-Badekas matmul with plan-time
      parameter resolution at t_epoch (helmert.cpp:363-436).
    """
    from proj_4_spark.kernels.helmert import _params_at

    L = double
    HALF_PI = L(math.pi / 2.0)
    adjlon = _sql_adjlon
    col = st.col

    for i, (kind, step_dir, P) in enumerate(legs):
        def s(name):
            return col(f"l{i}_{name}")

        def put(**cols):
            st.stage(**{f"l{i}_{n}": v for n, v in cols.items()})

        if kind == "cart" and step_dir == "fwd":
            # fwd prepare (adjlon + clip) then cart.cpp:132-147.  The
            # cs2cs-emulation INVERSE chain feeds a BARE cart helper
            # with no prepare (inv_finalize pre-wraps lam but never
            # clips phi, src/inv.cpp:117-124) — first_cart_prepare=False
            # keeps out-of-range latitudes unclipped there.
            if i == 0 and not first_cart_prepare:
                put(lamw=cx, phic=cy)
            else:
                # NaN-preserving clip: Spark's least/greatest order NaN
                # LAST (greatest(NaN,c)=NaN but least(NaN,c)=c), which
                # would turn a NaN latitude into +pi/2 — np.clip keeps
                # NaN
                put(lamw=adjlon(cx),
                    phic=f"CASE WHEN isnan({cy}) THEN {cy} ELSE "
                         f"least(greatest({cy}, -{HALF_PI}), {HALF_PI})"
                         f" END")
            put(sp=f"sin({s('phic')})", cp=f"cos({s('phic')})",
                sl=f"sin({s('lamw')})", cl=f"cos({s('lamw')})")
            if P.es != 0.0:
                put(N=f"{L(P.a)} / sqrt(1.0D - {L(P.es)}"
                      f" * {s('sp')} * {s('sp')})")
                N = s("N")
            else:
                N = L(P.a)
            put(hc=f"({N} + {cz}) * {s('cp')}")
            put(X=f"{s('hc')} * {s('cl')}",
                Y=f"{s('hc')} * {s('sl')}",
                Z=f"({N} * {L(P.one_es)} + {cz}) * {s('sp')}")
            cx, cy, cz = s("X"), s("Y"), s("Z")
        elif kind == "cart":
            # inv: cart.cpp:150-205 closed form, then finalize adjlon
            a, b = float(P.a), float(P.b)
            put(p=f"hypot({cx}, {cy})")
            put(nrm=f"hypot({cz} * {L(a)}, {s('p')} * {L(b)})")
            put(cth=f"CASE WHEN {s('nrm')} = 0.0D THEN 1.0D ELSE "
                    f"({s('p')} * {L(b)}) / {s('nrm')} END",
                sth=f"CASE WHEN {s('nrm')} = 0.0D THEN 0.0D ELSE "
                    f"({cz} * {L(a)}) / {s('nrm')} END")
            put(yph=f"{cz} + {L(P.e2s * b)} * {s('sth')}"
                    f" * {s('sth')} * {s('sth')}",
                xph=f"{s('p')} - {L(P.es * a)} * {s('cth')}"
                    f" * {s('cth')} * {s('cth')}")
            put(nph=f"hypot({s('yph')}, {s('xph')})")
            near = f"{s('xph')} <= 0.0D"
            zpos = f"{cz} >= 0.0D"
            put(cpi=f"CASE WHEN {near} THEN 0.0D WHEN {s('nph')} = 0.0D "
                    f"THEN 1.0D ELSE {s('xph')} / {s('nph')} END",
                spi=f"CASE WHEN {near} THEN (CASE WHEN {zpos} THEN 1.0D "
                    f"ELSE -1.0D END) WHEN {s('nph')} = 0.0D THEN 0.0D "
                    f"ELSE {s('yph')} / {s('nph')} END",
                phi=f"CASE WHEN {near} THEN (CASE WHEN {zpos} THEN "
                    f"{HALF_PI} ELSE -{HALF_PI} END) ELSE "
                    f"atan({s('yph')} / {s('xph')}) END",
                lam=_sql_atan2_ieee(cy, cx))
            put(zz=f"CASE WHEN {s('cpi')} < 1e-6D THEN abs({cz}) - "
                   f"hypot({L(a * a)} * {s('cpi')}, {L(b * b)} * {s('spi')})"
                   f" / hypot({L(a)} * {s('cpi')}, {L(b)} * {s('spi')}) "
                   f"ELSE {s('p')} / {s('cpi')} - {L(a)} / "
                   f"sqrt(1.0D - {L(P.es)} * {s('spi')} * {s('spi')}) END",
                lamo=adjlon(s("lam")))
            cx, cy, cz = s("lamo"), s("phi"), s("zz")
        else:
            # static helmert / molobadekas at t_epoch
            Q = P.opaque
            xyz, scale_ppm, _, R = _params_at(Q, Q["t_epoch"])
            tx, ty, tz = (float(v) for v in xyz)
            if Q["no_rotation"] and scale_ppm == 0.0:
                sign = "+" if step_dir == "fwd" else "-"
                put(X=f"{cx} {sign} {L(tx)}", Y=f"{cy} {sign} {L(ty)}",
                    Z=f"{cz} {sign} {L(tz)}")
            else:
                sc = 1.0 + scale_ppm * 1e-6
                px, py, pz = (float(v) for v in Q["refp"])
                r = [[L(R[i_][j_]) for j_ in range(3)] for i_ in range(3)]
                if step_dir == "fwd":
                    put(Xr=f"{cx} - {L(px)}", Yr=f"{cy} - {L(py)}",
                        Zr=f"{cz} - {L(pz)}")
                    Xr, Yr, Zr = s("Xr"), s("Yr"), s("Zr")
                    put(X=f"{L(sc)} * ({r[0][0]} * {Xr} + {r[0][1]} * {Yr}"
                          f" + {r[0][2]} * {Zr}) + {L(tx)}",
                        Y=f"{L(sc)} * ({r[1][0]} * {Xr} + {r[1][1]} * {Yr}"
                          f" + {r[1][2]} * {Zr}) + {L(ty)}",
                        Z=f"{L(sc)} * ({r[2][0]} * {Xr} + {r[2][1]} * {Yr}"
                          f" + {r[2][2]} * {Zr}) + {L(tz)}")
                else:
                    put(Xs=f"({cx} - {L(tx)}) / {L(sc)}",
                        Ys=f"({cy} - {L(ty)}) / {L(sc)}",
                        Zs=f"({cz} - {L(tz)}) / {L(sc)}")
                    Xs, Ys, Zs = s("Xs"), s("Ys"), s("Zs")
                    put(X=f"{r[0][0]} * {Xs} + {r[1][0]} * {Ys}"
                          f" + {r[2][0]} * {Zs} + {L(px)}",
                        Y=f"{r[0][1]} * {Xs} + {r[1][1]} * {Ys}"
                          f" + {r[2][1]} * {Zs} + {L(py)}",
                        Z=f"{r[0][2]} * {Xs} + {r[1][2]} * {Ys}"
                          f" + {r[2][2]} * {Zs} + {L(pz)}")
            cx, cy, cz = s("X"), s("Y"), s("Z")
    return cx, cy, cz


# --- the twin -------------------------------------------------------------


def _emit_twin(df, plan: _TwinPlan, x, y, z, t, degrees: bool,
               out_prefix: str):
    """Stage a _TwinPlan in one stager, pj_fwd4d / pj_inv4d's order:
    entry -> inverse kernel + inv_finalize -> datum legs -> forward
    prepare / kernel / finalize -> the shared select list (_outputs).
    A kernel and its datum legs get separate codegen regions.  The input
    columns are read as ``F.col`` reads them (sqltext.quote_name)."""
    L = double
    st = _SqlStager()
    x, y = quote_name(x), quote_name(y)
    z, t = (None if c is None else quote_name(c) for c in (z, t))
    if plan.inv is None:
        _entry_stages(st, x, y, z, t, degrees)
        lam, phi, zz = st.col("lam"), st.col("phi"), st.col("zz")
    else:
        P = plan.inv
        lam, phi = _emit_inv(st, P, x, y, z, t, degrees)
        zz = st.col("zz")
        if P.vto_meter != 1.0 or P.z0 != 0.0:
            # inv_prepare vertical scaling (inv.cpp: z = vto_meter*z - z0;
            # +units=km implies vto_meter=1000 when +vunits is absent)
            zz = f"{zz} * {L(P.vto_meter)} - {L(P.z0)}"
    mask = [st.col("err")]
    if plan.legs:
        if plan.inv is not None:
            # inv_finalize NaN-masks the error rows before its datum
            # legs, which then take its wrapped but unclipped latitude
            lam, phi, zz = st.stage(
                plam=f"CASE WHEN {mask[0]} THEN {_SQL_NAN} "
                     f"ELSE coalesce({lam}, {_SQL_NAN}) END",
                pphi=f"CASE WHEN {mask[0]} THEN {_SQL_NAN} "
                     f"ELSE coalesce({phi}, {_SQL_NAN}) END",
                zs=zz)
            st.barrier()
            mask = []
        lam, phi, zz = _emit_datum_legs(st, plan.legs, lam, phi, zz,
                                        first_cart_prepare=plan.inv is None)
        if plan.fwd is not None:
            # NOT masked by err: fwd_prepare runs the legs on the
            # clipped / wrapped values and NaN-masks only x,y afterwards
            # (fwd.cpp:41-102) — an overrange-latitude row still gets a
            # real datum-shifted z.  NULLs (guarded-division lanes)
            # normalize to NaN.
            lam, phi, zz = st.stage(glam=f"coalesce({lam}, {_SQL_NAN})",
                                    gphi=f"coalesce({phi}, {_SQL_NAN})",
                                    gz=f"coalesce({zz}, {_SQL_NAN})")
            # the projection's own entry check on the shifted geographic
            # coordinates (fwd.cpp:55)
            mask.append(st.stage(
                gerr=f"isnan({lam}) OR isnan({phi}) OR {lam} > 10.0D OR "
                     f"{lam} < -10.0D OR abs({phi}) - {L(_H)} > 1e-12D"))
            st.barrier()
    if plan.fwd is not None:
        P = plan.fwd
        lam, phi, bad = _emit_fwd(st, P, lam, phi)
        if bad:
            mask.append(bad)
        if P.vfr_meter != 1.0 or P.z0 != 0.0:
            # fwd_finalize vertical scaling (fwd.cpp: z = vfr_meter*(z + z0))
            zz = f"{L(P.vfr_meter)} * ({zz} + {L(P.z0)})"
    if degrees and (plan.fwd is None or plan.fwd.is_latlong):
        lam, phi = _sql_deg(lam), _sql_deg(phi)
    names = [f"{out_prefix}{c}" for c in "xyzt"]
    return st.apply(df, _outputs(st, names, lam, phi, zz, " OR ".join(mask),
                                 mask_z=plan.pipeline), names)


_DIRS = {"fwd": "fwd", "forward": "fwd",
         "inv": "inv", "inverse": "inv", "reverse": "inv"}


def _direction(direction: str) -> str:
    if direction not in _DIRS:
        raise ValueError(
            f"direction must be one of {sorted(_DIRS)}, got {direction!r}")
    return _DIRS[direction]


def describe_route(projstring: str, direction: str = "fwd") -> str:
    """The path ``transform()`` takes for (projstring, direction), read
    off its twin plan: ``"datum_pipeline"`` (a datum pipeline),
    ``"fwd"`` or ``"inv"`` (a single op's kernel, with or without datum
    legs), or ``"udf"`` for the Arrow-UDF path."""
    plan = _twin_plan(_cached_operation(projstring), _direction(direction))
    if plan is None:
        return "udf"
    if plan.pipeline:
        return "datum_pipeline"
    return "fwd" if plan.inv is None else "inv"


def transform(
    df,
    projstring: str,
    x: str = "x",
    y: str = "y",
    z: str | None = None,
    t: str | None = None,
    direction: str = "fwd",
    degrees: bool = True,
    out_prefix: str = "",
    keep_errors: bool = True,
):
    """Apply a proj-string operation to coordinate columns of ``df``.

    ``projstring`` also accepts WKT2 (GEOGCRS/PROJCRS/COMPOUNDCRS/
    BOUNDCRS), ESRI WKT1 (PROJCS/GEOGCS), PROJJSON and bare
    ``AUTH:code`` CRS text (createFromUserInput dispatch in
    engine.plan.create_operation).

    Angular input/output is degrees at the DataFrame edge when
    ``degrees=True`` (matching the reference CLIs, src/apps/proj.cpp:144-152);
    radians internally.  Errored rows yield NaN in the output columns,
    on a twin and on the Arrow-UDF path alike (reference: HUGE_VAL
    sentinel, src/fwd.cpp:42-43); pass ``keep_errors=False`` to filter
    them out.

    One dispatch: an operation with a twin plan runs as a Catalyst twin
    — staged Spark-SQL projections, zero Python workers, parity with
    the Arrow-UDF kernels pinned per family in tests/test_engine.py.
    Every other operation runs the Arrow-UDF kernels.  The plan shapes:
    - ``datum_pipeline``: cart/helmert datum PIPELINES (the towgs84
      expansion shape, incl. hub-composed catalog candidates);
    - ``fwd``: single-op FORWARDS — latlong (the identity kernel) and
      webmerc/merc/eqc/cea/lcc/aea/leac/stere/ups/laea/sterea/somerc/
      krovak/sinu/eqdc/eqearth/cass/ortho/gnom/geos/robin/omerc/moll/
      wag4/wag5 and Poder-Engsager etmerc/tmerc/utm;
    - ``inv``: single-op INVERSES — latlong and webmerc/merc/eqc/cea/
      laea/stere/ups/sinu/eqdc/cass/geos/eqearth/omerc/lcc/aea/leac/
      moll/wag4/wag5, spherical ortho/gnom and Poder-Engsager
      etmerc/tmerc/utm — closed forms, and the bounded phi2 / phi1 /
      inv_mlfn / Newton iterations (src/phi2.cpp,
      src/projections/aea.cpp:48-70, src/mlfn.hpp) unrolled with
      per-lane convergence freezing.
    A ``fwd`` / ``inv`` op may carry datum legs (+towgs84/+datum
    emulation hooks): they run in the same stager, before the kernel
    forward and after it inverse; a bare op has none.
    Grid-backed datums (+nadgrids/+geoidgrids), +axis, +over, +geoc,
    long-wrap, prime meridians, geocentric CRS, ``+inv`` proj-strings
    and the remaining families (the robin and sterea inverses, poly,
    ...) have no twin plan; ``describe_route`` names the path a call
    takes.  Twins stage through temporary ``_jd_*`` columns: an input
    column with that prefix raises ValueError.

    ``x``, ``y``, ``z`` and ``t`` are read as ``F.col`` reads a name: a
    dot follows a qualifier or reaches a struct field (``"a.lon"``), and
    a name that contains a dot or a backtick is written in backticks
    (``"`lo.n`"``, a backtick doubled).  The outputs are named whole,
    as ``withColumn`` names a column: ``out_prefix="p."`` writes a
    column named ``p.x``.

    Both paths build through one template (proj_4_spark/templates.py):
    the operation is analysed once per key — (session, projstring,
    direction, x, y, z, t, degrees, out_prefix, keep_errors, the input's
    output attributes with their nullability, metadata and qualifiers,
    ``spark.sql.ansi.enabled``, ``spark.sql.caseSensitive``) — and every
    call, the first included, rebinds that analysed template onto ``df``
    (the 256 most recently used templates of all builders are kept).
    The rebound plan is marked analysed, so a warm call runs no analyzer
    rule, and it costs a fixed number of py4j commands, however wide
    ``df`` is.  The rebinding reaches Catalyst through ``df._jdf`` and
    Spark-internal plan methods (``transformAllExpressions``,
    ``transformUp``, the ``private[catalyst]`` ``setAnalyzed``), so
    ``transform()`` needs a Classic (not a Spark Connect) session, as the
    footer reads in ``scale.py`` do.  The ``_jd_cgsplit_*`` observations
    at a twin's codegen barriers are named once per template, so all
    outputs of one template share them.  ``keep_errors=False`` filters
    behind one more such barrier, also part of the template.

    Returns ``df`` with four new columns ``{out_prefix}{x,y,z,t}``.
    """
    # a bad direction raises here; a bad proj-string raises while the
    # template is built, on the driver, and is not kept
    return templated(_build, (projstring, _direction(direction), x, y, z, t,
                              degrees, out_prefix, keep_errors), df)


def _build(df, projstring: str, direction: str, x, y, z, t,
           degrees: bool, out_prefix: str, keep_errors: bool):
    """(projstring, direction) over `df`, filtered when `keep_errors` is
    false: its twin when it has a twin plan, else the Arrow UDF.  The
    build transform() analyses once per template key."""
    op = _cached_operation(projstring)
    plan = _twin_plan(op, direction)
    if plan is not None:
        out = _emit_twin(df, plan, x, y, z, t, degrees, out_prefix)
    else:
        out = _udf_apply(df, op, projstring, direction, x, y, z, t, degrees,
                         out_prefix)
    return out if keep_errors else _finite_rows(out, out_prefix)


def _finite_rows(out, out_prefix: str):
    """The rows of `out` whose x output is not NULL or NaN.  Behind a
    barrier the filter reads only that column: pushed down through a
    twin's Projects it would inline the kernel (97 KB of SQL on a
    helmert pipeline, past what Janino compiles), and on the Arrow-UDF
    path run the UDF twice."""
    ox = identifier(f"{out_prefix}x")
    return codegen_barrier(out).where(f"{ox} IS NOT NULL AND NOT isnan({ox})")


def _udf_apply(df, op, projstring: str, direction: str, x, y, z, t,
               degrees: bool, out_prefix: str):
    """The Arrow-UDF path: ONE Arrow-batched pandas UDF
    (kernel_udf.kernel_columns) runs the whole pipeline's NumPy kernels;
    the executor-side plan comes from _cached_operation(projstring); `op`
    is the driver's copy.  An errored row reads NaN, as on the twins."""
    from pyspark.sql import functions as F

    ang_in = op.angular_input(direction)
    ang_out = op.angular_output(direction)

    def _tx(xa, ya, za, ta):
        op = _cached_operation(projstring)
        if degrees and ang_in:
            xa = xa * C.DEG_TO_RAD
            ya = ya * C.DEG_TO_RAD
        try:
            ox, oy, oz, ot = op.apply(xa, ya, za, ta, direction)
        except ProjError:
            # whole-batch structural error (e.g. no inverse kernel):
            # reference proj_trans sets errno and emits HUGE_VAL points
            # rather than aborting the stream (src/4D_api.cpp) — here
            # that is NaN rows, filterable via keep_errors=False.
            nan = np.full(len(xa), np.nan)
            return nan, nan, nan, nan
        if degrees and ang_out:
            ox = ox * C.RAD_TO_DEG
            oy = oy * C.RAD_TO_DEG
        return ox, oy, oz, ot

    # Zero-fill ONLY synthesized z/t (no user column): a user's null/NaN
    # z must propagate as an error row like x/y — silently coercing it
    # to 0 would give plausible-but-wrong output for 3D ops
    # (vgridshift, cart).
    cols = kernel_columns(_tx, [x, y, z or F.lit(0.0), t or F.lit(0.0)],
                          ("x", "y", "z", "t"))
    return df.withColumns({f"{out_prefix}{k}": c for k, c in cols.items()})


def geodesic_inverse_df(df, lon1: str, lat1: str, lon2: str, lat2: str,
                        a: float = 6378137.0,
                        f_: float = 1 / 298.257223563,
                        out_prefix: str = "geo_"):
    """Karney inverse problem as DataFrame columns (degrees in):
    adds {prefix}{s12,azi1,azi2}.  One Arrow-batched UDF
    (kernel_udf.kernel_columns); the Geodesic setup is cached per
    worker.  A row with a NULL, NaN or infinite input reads NaN."""

    def _geod_inv(lo1, la1, lo2, la2):
        from proj_4_spark.kernels.geodesic import _cached_geodesic

        return _cached_geodesic(a, f_).inverse(la1, lo1, la2, lo2)[:3]

    cols = kernel_columns(_geod_inv, [lon1, lat1, lon2, lat2],
                          ("s12", "azi1", "azi2"))
    return df.withColumns({f"{out_prefix}{k}": c for k, c in cols.items()})


def geodesic_direct_df(df, lon1: str, lat1: str, azi1: str, s12: str,
                       a: float = 6378137.0,
                       f_: float = 1 / 298.257223563,
                       out_prefix: str = "geo_"):
    """Karney direct problem as DataFrame columns: adds
    {prefix}{lon2,lat2,azi2} (degrees).  One Arrow-batched UDF
    (kernel_udf.kernel_columns); a row with a NULL or NaN input reads
    NaN in every output its kernel cannot give."""

    def _geod_dir(lo1, la1, az, ss):
        from proj_4_spark.kernels.geodesic import _cached_geodesic

        lat2, lon2, azi2, _ = _cached_geodesic(a, f_).direct(la1, lo1, az, ss)
        return lon2, lat2, azi2

    cols = kernel_columns(_geod_dir, [lon1, lat1, azi1, s12],
                          ("lon2", "lat2", "azi2"))
    return df.withColumns({f"{out_prefix}{k}": c for k, c in cols.items()})


def geodesic_polygon_area_df(df, poly_id: str = "poly_id",
                             lon: str = "lon", lat: str = "lat",
                             seq: str = "seq",
                             a: float = 6378137.0,
                             f_: float = 1 / 298.257223563,
                             reverse: bool = False, sign: bool = True):
    """Geodesic polygon area/perimeter as a DataFrame AGGREGATE
    (geod_polygonarea, src/geodesic.c:2059-2069; app surface
    src/apps/geod.cpp:133): one output row per polygon id with
    (area_m2, perimeter_m, n_vertices).

    Scale shape: groupBy(poly_id) shuffles VERTICES once (small rows);
    each polygon's edges then solve in one vectorized Karney inverse
    inside applyInPandas — no per-edge Python, no driver collect."""
    from pyspark.sql import functions as F

    id_type = dict(df.dtypes)[poly_id]  # preserve the caller's id type
    schema = (f"{poly_id} {id_type}, area_m2 double, perimeter_m double, "
              "n_vertices int")

    def _area(pdf: pd.DataFrame) -> pd.DataFrame:
        from proj_4_spark.kernels.geodesic import geodesic_polygon_area

        pdf = pdf.sort_values(seq)
        area, perim, n = geodesic_polygon_area(
            pdf[lon].to_numpy(np.float64), pdf[lat].to_numpy(np.float64),
            a=a, f=f_, reverse=reverse, sign=sign)
        return pd.DataFrame({poly_id: [pdf[poly_id].iloc[0]],
                             "area_m2": [area], "perimeter_m": [perim],
                             "n_vertices": [n]})

    return (df.select(poly_id, lon, lat, seq)
            .groupBy(poly_id).applyInPandas(_area, schema=schema))


def geodesic_line_sample_df(df, n_points: int,
                            lon1: str = "lon1", lat1: str = "lat1",
                            lon2: str = "lon2", lat2: str = "lat2",
                            a: float = 6378137.0,
                            f_: float = 1 / 298.257223563):
    """Sample n_points equally-spaced (by arc length) waypoints along
    each row's geodesic (the geod CLI's line-sampling surface,
    src/apps/geod.cpp:133): explodes k=0..n_points-1 JVM-side, then ONE
    Arrow-batched direct solve for all (line, k) pairs.  Adds
    (k, frac, wp_lon, wp_lat, wp_azi)."""
    from pyspark.sql import functions as F

    if n_points < 2:
        raise ValueError("n_points must be >= 2 (both endpoints)")
    solved = geodesic_inverse_df(df, lon1, lat1, lon2, lat2,
                                 a=a, f_=f_, out_prefix="_ls_")
    solved = solved.withColumn(
        "k", F.explode(F.sequence(F.lit(0), F.lit(n_points - 1)))
    ).withColumn("frac", F.col("k") / float(n_points - 1))
    out = geodesic_direct_df(
        solved.withColumn("_s", F.col("_ls_s12") * F.col("frac")),
        lon1, lat1, "_ls_azi1", "_s", a=a, f_=f_, out_prefix="wp_")
    return (out.withColumnRenamed("wp_lon2", "wp_lon")
               .withColumnRenamed("wp_lat2", "wp_lat")
               .withColumnRenamed("wp_azi2", "wp_azi")
               .drop("_ls_s12", "_ls_azi1", "_ls_azi2", "_s"))
