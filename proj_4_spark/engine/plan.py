"""Plan construction and execution: proj-string -> Operation.

Mirrors the reference's query lifecycle (SURVEY.md §3.1):
  1. parse      — proj_create / pj_init_ctx (src/init.cpp:522-836)
  2. resolve    — registry lookup + default ellipsoid + generic params
                  (src/init.cpp:600-820)
  3. specialize — projection setup computes derived constants
  4. execute    — vectorized prepare -> kernel -> finalize over NumPy
                  batches (src/fwd.cpp:41-157, src/inv.cpp:39-134)

Steps 1-3 run once on the Spark driver; step 4 runs inside Arrow-batched
UDFs on executors.  A whole pipeline executes inside ONE UDF invocation
(kernel fusion for free, SURVEY.md §4.3).
"""

from __future__ import annotations

import re

import numpy as np

from proj_4_spark.engine import projstring as PS
from proj_4_spark.kernels import common as C
from proj_4_spark.kernels.base import (
    PJ,
    ProjError,
    UNITS_CARTESIAN,
    UNITS_CLASSIC,
    UNITS_PROJECTED,
    UNITS_RADIANS,
    UNITS_TO_METER,
)
from proj_4_spark.kernels.ellipsoid import DEFAULT_ELLPS, ellipsoid_from_params

PJ_EPS_LAT = 1e-12  # src/proj_internal.h (lat overrange tolerance, fwd.cpp:55)

# ops that do not require an ellipsoid/earth model at all
_NO_ELLPS_NEEDED = {
    "axisswap", "unitconvert", "noop", "pipeline", "push", "pop",
    "helmert", "molobadekas", "affine", "geogoffset",
}


def _registry():
    """Operator registry (analogue of src/pj_list.h resolved by
    locate_constructor, src/init.cpp:501-510).  Imported lazily to avoid
    circular imports."""
    from proj_4_spark.kernels import aea as k_aea
    from proj_4_spark.kernels import axisswap as k_axisswap
    from proj_4_spark.kernels import cart as k_cart
    from proj_4_spark.kernels import eqc as k_eqc
    from proj_4_spark.kernels import gridshift as k_grid
    from proj_4_spark.kernels import helmert as k_helmert
    from proj_4_spark.kernels import horner as k_horner
    from proj_4_spark.kernels import latlong as k_latlong
    from proj_4_spark.kernels import lcc as k_lcc
    from proj_4_spark.kernels import merc as k_merc
    from proj_4_spark.kernels import misc as k_misc
    from proj_4_spark.kernels import azimuthal as k_azim
    from proj_4_spark.kernels import pseudocyl as k_pcyl
    from proj_4_spark.kernels import pseudocyl2 as k_pc2
    from proj_4_spark.kernels import conic2 as k_conic2
    from proj_4_spark.kernels import misc2 as k_misc2
    from proj_4_spark.kernels import adams as k_adams
    from proj_4_spark.kernels import misc3 as k_misc3
    from proj_4_spark.kernels import misc4 as k_misc4
    from proj_4_spark.kernels import aeqd as k_aeqd
    from proj_4_spark.kernels import datum2 as k_datum2
    from proj_4_spark.kernels import misc5 as k_misc5
    from proj_4_spark.kernels import misc6 as k_misc6
    from proj_4_spark.kernels import misc7 as k_misc7
    from proj_4_spark.kernels import misc8 as k_misc8
    from proj_4_spark.kernels import misc9 as k_misc9
    from proj_4_spark.kernels import misc10 as k_misc10
    from proj_4_spark.kernels import healpix as k_healpix
    from proj_4_spark.kernels import space as k_space
    from proj_4_spark.kernels import tinshift as k_tinshift
    from proj_4_spark.kernels import defmodel as k_defmodel
    from proj_4_spark.kernels import mod_ster as k_mods
    from proj_4_spark.kernels import qsc as k_qsc
    from proj_4_spark.kernels import robin as k_robin
    from proj_4_spark.kernels import isea as k_isea
    from proj_4_spark.kernels import sch as k_sch
    from proj_4_spark.kernels import oblique as k_obl
    from proj_4_spark.kernels import pseudocyl3 as k_pc3
    from proj_4_spark.kernels import stere as k_stere
    from proj_4_spark.kernels import tmerc as k_tmerc
    from proj_4_spark.kernels import unitconvert as k_unitconvert

    return {
        "tmerc": k_tmerc.setup_tmerc,
        "etmerc": k_tmerc.setup_etmerc,
        "utm": k_tmerc.setup_utm,
        "merc": k_merc.setup_merc,
        "webmerc": k_merc.setup_webmerc,
        "lcc": k_lcc.setup_lcc,
        "aea": k_aea.setup_aea,
        "leac": k_aea.setup_leac,
        "latlong": k_latlong.setup_latlong,
        "latlon": k_latlong.setup_latlong,
        "longlat": k_latlong.setup_latlong,
        "lonlat": k_latlong.setup_latlong,
        "cart": k_cart.setup_cart,
        "geocent": k_cart.setup_geocent,
        "sch": k_sch.setup_sch,
        "isea": k_isea.setup_isea,
        "noop": k_cart.setup_noop,
        "set": k_cart.setup_set,
        # standalone push/pop: surface-identity with a private stack
        # (pipeline.cpp PROJECTION(push/pop)); pipeline steps intercept
        # these by name before registry lookup
        "push": k_cart.setup_noop,
        "pop": k_cart.setup_noop,
        "geoc": k_cart.setup_geoc,
        "axisswap": k_axisswap.setup_axisswap,
        "unitconvert": k_unitconvert.setup_unitconvert,
        "helmert": k_helmert.setup_helmert,
        "molobadekas": k_helmert.setup_molobadekas,
        "molodensky": k_datum2.setup_molodensky,
        "ob_tran": k_datum2.setup_ob_tran,
        "aeqd": k_aeqd.setup_aeqd,
        "geos": k_misc6.setup_geos,
        "goode": k_misc6.setup_goode,
        "calcofi": k_misc6.setup_calcofi,
        "igh": k_misc7.setup_igh,
        "igh_o": k_misc7.setup_igh_o,
        "ccon": k_misc7.setup_ccon,
        "horner": k_horner.setup_horner,
        "nzmg": k_misc8.setup_nzmg,
        "gstmerc": k_misc8.setup_gstmerc,
        "mil_os": k_mods.setup_mil_os,
        "lee_os": k_mods.setup_lee_os,
        "gs48": k_mods.setup_gs48,
        "alsk": k_mods.setup_alsk,
        "gs50": k_mods.setup_gs50,
        "rouss": k_misc9.setup_rouss,
        "col_urban": k_misc9.setup_col_urban,
        "bertin1953": k_misc10.setup_bertin1953,
        "labrd": k_misc10.setup_labrd,
        "healpix": k_healpix.setup_healpix,
        "rhealpix": k_healpix.setup_rhealpix,
        "chamb": k_misc10.setup_chamb,
        "bipc": k_misc10.setup_bipc,
        "imw_p": k_misc10.setup_imw_p,
        "lsat": k_space.setup_lsat,
        "misrsom": k_space.setup_misrsom,
        "qsc": k_qsc.setup_qsc,
        "eqc": k_eqc.setup_eqc,
        "cea": k_eqc.setup_cea,
        "stere": k_azim.setup_stere,
        "ups": k_azim.setup_ups,
        "laea": k_azim.setup_laea,
        "sterea": k_stere.setup_sterea,
        "gnom": k_misc.setup_gnom,
        "ortho": k_misc.setup_ortho,
        "moll": k_pcyl.setup_moll,
        "wag4": k_pcyl.setup_wag4,
        "wag5": k_pcyl.setup_wag5,
        "sinu": k_pcyl.setup_sinu,
        "gn_sinu": k_pcyl.setup_gn_sinu,
        "eck6": k_pcyl.setup_eck6,
        "mbtfps": k_pcyl.setup_mbtfps,
        "eqearth": k_pcyl.setup_eqearth,
        "robin": k_robin.setup_robin,
        "affine": k_misc.setup_affine,
        "geogoffset": k_misc.setup_geogoffset,
        "eck1": k_pc2.setup_eck1,
        "eck2": k_pc2.setup_eck2,
        "eck3": k_pc2.setup_eck3,
        "eck4": k_pc2.setup_eck4,
        "eck5": k_pc2.setup_eck5,
        "kav7": k_pc2.setup_kav7,
        "putp1": k_pc2.setup_putp1,
        "putp2": k_pc2.setup_putp2,
        "putp3": k_pc2.setup_putp3,
        "putp3p": k_pc2.setup_putp3p,
        "putp4p": k_pc2.setup_putp4p,
        "weren": k_pc2.setup_weren,
        "putp5": k_pc2.setup_putp5,
        "putp5p": k_pc2.setup_putp5p,
        "putp6": k_pc2.setup_putp6,
        "putp6p": k_pc2.setup_putp6p,
        "mill": k_pc2.setup_mill,
        "gall": k_pc2.setup_gall,
        "wag1": k_pc2.setup_wag1,
        "wag2": k_pc2.setup_wag2,
        "wag3": k_pc2.setup_wag3,
        "wag6": k_pc2.setup_wag6,
        "wag7": k_pc2.setup_wag7,
        "urmfps": k_pc2.setup_urmfps,
        "cc": k_pc3.setup_cc,
        "tcc": k_pc3.setup_tcc,
        "tcea": k_pc3.setup_tcea,
        "loxim": k_pc3.setup_loxim,
        "collg": k_pc3.setup_collg,
        "crast": k_pc3.setup_crast,
        "fahey": k_pc3.setup_fahey,
        "fouc_s": k_pc3.setup_fouc_s,
        "wink1": k_pc3.setup_wink1,
        "wink2": k_pc3.setup_wink2,
        "boggs": k_pc3.setup_boggs,
        "denoy": k_pc3.setup_denoy,
        "aitoff": k_pc3.setup_aitoff,
        "wintri": k_pc3.setup_wintri,
        "hammer": k_pc3.setup_hammer,
        "nell": k_pc3.setup_nell,
        "nell_h": k_pc3.setup_nell_h,
        "mbt_fps": k_pc3.setup_mbt_fps,
        "natearth": k_pc3.setup_natearth,
        "natearth2": k_pc3.setup_natearth2,
        "comill": k_pc3.setup_comill,
        "times": k_pc3.setup_times,
        "eqdc": k_conic2.setup_eqdc,
        "cass": k_conic2.setup_cass,
        "poly": k_conic2.setup_poly,
        "bonne": k_conic2.setup_bonne,
        "vandg": k_conic2.setup_vandg,
        "somerc": k_obl.setup_somerc,
        "krovak": k_obl.setup_krovak,
        "nicol": k_misc2.setup_nicol,
        "bacon": k_misc2.setup_bacon,
        "apian": k_misc2.setup_apian,
        "ortel": k_misc2.setup_ortel,
        "august": k_misc2.setup_august,
        "lagrng": k_misc2.setup_lagrng,
        "vandg2": k_misc2.setup_vandg2,
        "vandg3": k_misc2.setup_vandg3,
        "vandg4": k_misc2.setup_vandg4,
        "mbtfpp": k_misc2.setup_mbtfpp,
        "mbtfpq": k_misc2.setup_mbtfpq,
        "fouc": k_misc2.setup_fouc,
        "kav5": k_misc2.setup_kav5,
        "qua_aut": k_misc2.setup_qua_aut,
        "mbt_s": k_misc2.setup_mbt_s,
        "oea": k_misc2.setup_oea,
        "tpeqd": k_misc2.setup_tpeqd,
        "euler": k_misc3.setup_euler,
        "murd1": k_misc3.setup_murd1,
        "murd2": k_misc3.setup_murd2,
        "murd3": k_misc3.setup_murd3,
        "pconic": k_misc3.setup_pconic,
        "tissot": k_misc3.setup_tissot,
        "vitk1": k_misc3.setup_vitk1,
        "airy": k_misc3.setup_airy,
        "gins8": k_misc3.setup_gins8,
        "lask": k_misc3.setup_lask,
        "larr": k_misc3.setup_larr,
        "tobmerc": k_misc3.setup_tobmerc,
        "rpoly": k_misc3.setup_rpoly,
        "guyou": k_adams.setup_guyou,
        "peirce_q": k_adams.setup_peirce_q,
        "adams_hemi": k_adams.setup_adams_hemi,
        "adams_ws1": k_adams.setup_adams_ws1,
        "adams_ws2": k_adams.setup_adams_ws2,
        "ocea": k_misc4.setup_ocea,
        "lcca": k_misc4.setup_lcca,
        "nsper": k_misc4.setup_nsper,
        "tpers": k_misc4.setup_tpers,
        "omerc": k_misc5.setup_omerc,
        "hatano": k_misc5.setup_hatano,
        "patterson": k_misc5.setup_patterson,
        "urm5": k_misc5.setup_urm5,
        "hgridshift": k_grid.setup_hgridshift,
        "vgridshift": k_grid.setup_vgridshift,
        "deformation": k_grid.setup_deformation,
        "xyzgridshift": k_grid.setup_xyzgridshift,
        "tinshift": k_tinshift.setup_tinshift,
        "defmodel": k_defmodel.setup_defmodel,
    }


class Operation:
    """Executable operation: generic prepare/finalize around a kernel.

    apply(x, y, z, t, direction) -> (x, y, z, t) over float64 arrays.
    Angular I/O is radians (callers convert degrees at the edges, as the
    reference CLIs do — src/apps/proj.cpp:144-152).
    """

    def __init__(self, P: PJ, inverted: bool = False):
        self.P = P
        # operation-level +inv flag (P->inverted; proj_trans swaps
        # directions, src/4D_api.cpp)
        self.inverted = inverted

    @property
    def name(self) -> str:
        return self.P.name

    # angular-I/O predicates used by the gie harness (src/apps/gie.cpp:988-996)
    def angular_input(self, direction: str) -> bool:
        if self.inverted:
            direction = "inv" if direction == "fwd" else "fwd"
        u = self.P.left if direction == "fwd" else self.P.right
        return u == UNITS_RADIANS

    def angular_output(self, direction: str) -> bool:
        if self.inverted:
            direction = "inv" if direction == "fwd" else "fwd"
        u = self.P.right if direction == "fwd" else self.P.left
        return u == UNITS_RADIANS

    def apply(self, x, y, z, t, direction: str = "fwd"):
        if self.inverted:
            direction = "inv" if direction == "fwd" else "fwd"
        x = np.asarray(x, dtype=np.float64).copy()
        y = np.asarray(y, dtype=np.float64).copy()
        z = np.asarray(z, dtype=np.float64).copy()
        t = np.asarray(t, dtype=np.float64).copy()
        if direction == "fwd":
            return self._fwd(x, y, z, t)
        elif direction == "inv":
            return self._inv(x, y, z, t)
        raise ValueError(f"direction must be fwd|inv, got {direction!r}")

    # --- forward path: src/fwd.cpp:237-263 --------------------------------
    def _fwd(self, x, y, z, t):
        P = self.P
        if not P.skip_fwd_prepare:
            x, y, z, t = self._fwd_prepare(x, y, z, t)
        x, y, z, t = self._dispatch(x, y, z, t, "fwd")
        if not P.skip_fwd_finalize:
            x, y, z, t = self._fwd_finalize(x, y, z, t)
        return x, y, z, t

    def _inv(self, x, y, z, t):
        P = self.P
        if not P.skip_inv_prepare:
            x, y, z, t = self._inv_prepare(x, y, z, t)
        x, y, z, t = self._dispatch(x, y, z, t, "inv")
        if not P.skip_inv_finalize:
            x, y, z, t = self._inv_finalize(x, y, z, t)
        return x, y, z, t

    def _dispatch(self, x, y, z, t, direction):
        """Highest-arity kernel dispatch (pj_fwd4d, src/fwd.cpp:245-251)."""
        P = self.P
        err = np.isnan(x) | np.isnan(y)
        fns = (
            (P.fwd4d, P.fwd3d, P.fwd)
            if direction == "fwd"
            else (P.inv4d, P.inv3d, P.inv)
        )
        fn = next((f for f in fns if f is not None), None)
        if fn is None:
            raise ProjError("no_kernel", f"{P.name} has no {direction} kernel")
        with np.errstate(invalid="ignore", divide="ignore", over="ignore"):
            x, y, z, t = fn(x, y, z, t, P)
        # propagate pre-existing errors (all-NaN coordinate)
        if err.any():
            x = np.where(err, np.nan, x)
            y = np.where(err, np.nan, y)
        return x, y, z, t

    # --- fwd_prepare, src/fwd.cpp:41-102 -----------------------------------
    def _fwd_prepare(self, x, y, z, t):
        P = self.P
        err = np.isnan(x) | np.isnan(y) | np.isnan(z)
        if P.left == UNITS_RADIANS:
            over_limit = (np.abs(y) - C.M_HALFPI > PJ_EPS_LAT) | (x > 10) | (x < -10)
            err = err | over_limit
            y = np.clip(y, -C.M_HALFPI, C.M_HALFPI)
            if P.geoc:
                from proj_4_spark.kernels.latlong import geocentric_latitude

                y = geocentric_latitude(P, "inv", y)
            if not P.over:
                x = C.adjlon(x)
            if P.hgridshift is not None:
                x, y, z, t = P.hgridshift.apply(x, y, z, t, "inv")
            elif P.helmert is not None or (P.cart_wgs84 is not None and P.cart is not None):
                x, y, z, t = P.cart_wgs84.apply(x, y, z, t, "fwd")
                if P.helmert is not None:
                    x, y, z, t = P.helmert.apply(x, y, z, t, "inv")
                x, y, z, t = P.cart.apply(x, y, z, t, "inv")
            if P.vgridshift is not None:
                x, y, z, t = P.vgridshift.apply(x, y, z, t, "fwd")
            x = x - P.from_greenwich - P.lam0
            if not P.over:
                x = C.adjlon(x)
        elif P.left == UNITS_CARTESIAN and P.helmert is not None:
            x, y, z, t = P.helmert.apply(x, y, z, t, "inv")
        if err.any():
            x = np.where(err, np.nan, x)
            y = np.where(err, np.nan, y)
        return x, y, z, t

    # --- fwd_finalize, src/fwd.cpp:105-157 ----------------------------------
    def _fwd_finalize(self, x, y, z, t):
        P = self.P
        u = P.right
        if u == UNITS_CARTESIAN:
            if P.is_geocent and P.cart is not None:
                x, y, z, t = P.cart.apply(x, y, z, t, "fwd")
            x = x * P.fr_meter
            y = y * P.fr_meter
            z = z * P.fr_meter
        elif u in (UNITS_CLASSIC, UNITS_PROJECTED):
            if u == UNITS_CLASSIC:
                x = x * P.a
                y = y * P.a
            x = P.fr_meter * (x + P.x0)
            y = P.fr_meter * (y + P.y0)
            z = P.vfr_meter * (z + P.z0)
        elif u == UNITS_RADIANS:
            z = P.vfr_meter * (z + P.z0)
            if P.is_long_wrap_set:
                wrapped = P.long_wrap_center + C.adjlon(x - P.long_wrap_center)
                x = np.where(np.isnan(x), x, wrapped)
        if P.axisswap is not None:
            x, y, z, t = P.axisswap.apply(x, y, z, t, "fwd")
        return x, y, z, t

    # --- inv_prepare, src/inv.cpp:39-94 --------------------------------------
    def _inv_prepare(self, x, y, z, t):
        P = self.P
        err = np.isnan(x) | np.isnan(y) | np.isnan(z)
        if P.axisswap is not None:
            x, y, z, t = P.axisswap.apply(x, y, z, t, "inv")
        u = P.right
        if u == UNITS_CARTESIAN:
            x = x * P.to_meter
            y = y * P.to_meter
            z = z * P.to_meter
            if P.is_geocent and P.cart is not None:
                x, y, z, t = P.cart.apply(x, y, z, t, "inv")
        elif u in (UNITS_PROJECTED, UNITS_CLASSIC):
            x = P.to_meter * x - P.x0
            y = P.to_meter * y - P.y0
            z = P.vto_meter * z - P.z0
            if u == UNITS_CLASSIC:
                x = x * P.ra
                y = y * P.ra
        elif u == UNITS_RADIANS:
            z = P.vto_meter * z - P.z0
        if err.any():
            x = np.where(err, np.nan, x)
            y = np.where(err, np.nan, y)
        return x, y, z, t

    # --- inv_finalize, src/inv.cpp:98-134 ------------------------------------
    def _inv_finalize(self, x, y, z, t):
        P = self.P
        if P.left == UNITS_RADIANS:
            x = x + P.from_greenwich + P.lam0
            if not P.over:
                x = C.adjlon(x)
            if P.vgridshift is not None:
                x, y, z, t = P.vgridshift.apply(x, y, z, t, "inv")
            if P.hgridshift is not None:
                x, y, z, t = P.hgridshift.apply(x, y, z, t, "fwd")
            elif P.helmert is not None or (P.cart_wgs84 is not None and P.cart is not None):
                x, y, z, t = P.cart.apply(x, y, z, t, "fwd")
                if P.helmert is not None:
                    x, y, z, t = P.helmert.apply(x, y, z, t, "fwd")
                x, y, z, t = P.cart_wgs84.apply(x, y, z, t, "inv")
            if P.geoc:
                from proj_4_spark.kernels.latlong import geocentric_latitude

                y = geocentric_latitude(P, "fwd", y)
        return x, y, z, t

    def roundtrip(self, x, y, z, t, n: int = 1, direction: str = "fwd"):
        """n forward/inverse round trips (proj_roundtrip,
        src/4D_api.cpp:171-201); returns final coordinates in input space."""
        other = "inv" if direction == "fwd" else "fwd"
        for _ in range(n):
            x, y, z, t = self.apply(x, y, z, t, direction)
            x, y, z, t = self.apply(x, y, z, t, other)
        return x, y, z, t


class PipelineOperation(Operation):
    """+proj=pipeline: ordered step composition with push/pop slots.

    Reference: src/pipeline.cpp:166-199 (fwd/inv), 423-520 (argument
    handling).  All steps execute inside one UDF stage — the step loop is
    Python but every iteration is whole-column NumPy.
    """

    def __init__(self, P: PJ, steps: list[tuple[Operation, dict]],
                 inverted: bool = False):
        super().__init__(P, inverted)
        self.steps = steps  # (op, flags) flags: inv, omit_fwd, omit_inv, push, pop, v_mask

    def _run(self, x, y, z, t, direction: str):
        stack: list[list] = [[], [], [], []]  # 4-slot coordinate stack
        seq = self.steps if direction == "fwd" else list(reversed(self.steps))
        for op, flags in seq:
            if direction == "fwd" and flags.get("omit_fwd"):
                continue
            if direction == "inv" and flags.get("omit_inv"):
                continue
            kind = flags.get("kind")
            # push/pop swap roles in the inverse direction (pipeline.cpp)
            eff_kind = kind
            if direction == "inv" and kind == "push":
                eff_kind = "pop"
            elif direction == "inv" and kind == "pop":
                eff_kind = "push"
            if eff_kind == "push":
                for i, comp in enumerate((x, y, z, t)):
                    if flags["v_mask"][i]:
                        stack[i].append(comp.copy())
                continue
            if eff_kind == "pop":
                comps = [x, y, z, t]
                for i in range(4):
                    if flags["v_mask"][i] and stack[i]:
                        comps[i] = stack[i].pop()
                x, y, z, t = comps
                continue
            step_dir = direction
            if flags.get("inv"):
                step_dir = "inv" if direction == "fwd" else "fwd"
            x, y, z, t = op.apply(x, y, z, t, step_dir)
        return x, y, z, t

    def _fwd(self, x, y, z, t):
        if not self.P.skip_fwd_prepare:
            x, y, z, t = self._fwd_prepare(x, y, z, t)
        x, y, z, t = self._run(x, y, z, t, "fwd")
        if not self.P.skip_fwd_finalize:
            x, y, z, t = self._fwd_finalize(x, y, z, t)
        return x, y, z, t

    def _inv(self, x, y, z, t):
        if not self.P.skip_inv_prepare:
            x, y, z, t = self._inv_prepare(x, y, z, t)
        x, y, z, t = self._run(x, y, z, t, "inv")
        if not self.P.skip_inv_finalize:
            x, y, z, t = self._inv_finalize(x, y, z, t)
        return x, y, z, t


def _apply_generic_params(P: PJ) -> None:
    """Generic parameter handling; src/init.cpp:716-820."""
    P.lam0 = P.param_r("lon_0")
    P.phi0 = P.param_r("lat_0")
    P.x0 = P.param_f("x_0")
    P.y0 = P.param_f("y_0")
    P.z0 = P.param_f("z_0")
    P.t0 = P.param_f("t_0")

    if P.has("k_0"):
        P.k0 = P.param_f("k_0")
    elif P.has("k"):
        P.k0 = P.param_f("k")
    else:
        P.k0 = 1.0
    if P.k0 <= 0.0:
        raise ProjError("k_less_than_zero")

    def _ratio(v: str) -> float:
        # pj_atof ratio syntax: "2.0/0.2" (src/pj_param.cpp)
        if "/" in v:
            num, den = v.split("/", 1)
            return float(num) / float(den)
        return float(v)

    if P.has("units"):
        name = str(P.params["units"])
        if name not in UNITS_TO_METER:
            raise ProjError("unknown_unit_id", name)
        P.to_meter = UNITS_TO_METER[name]
        P.fr_meter = 1.0 / P.to_meter
    elif P.has("to_meter"):
        P.to_meter = _ratio(str(P.params["to_meter"]))
        P.fr_meter = 1.0 / P.to_meter

    if P.has("vunits"):
        name = str(P.params["vunits"])
        if name not in UNITS_TO_METER:
            raise ProjError("unknown_unit_id", name)
        P.vto_meter = UNITS_TO_METER[name]
        P.vfr_meter = 1.0 / P.vto_meter
    elif P.has("vto_meter"):
        P.vto_meter = _ratio(str(P.params["vto_meter"]))
        P.vfr_meter = 1.0 / P.vto_meter
    else:
        P.vto_meter = P.to_meter
        P.vfr_meter = P.fr_meter

    if P.has("pm"):
        P.from_greenwich = PS.prime_meridian_rad(str(P.params["pm"]))

    P.over = P.param_b("over")
    P.geoc = P.param_b("geoc") and P.es != 0.0

    if P.has("lon_wrap"):
        P.long_wrap_center = P.param_r("lon_wrap")
        P.is_long_wrap_set = True

    # +axis=neu etc. attaches a trailing axisswap sub-op (src/init.cpp);
    # the axisswap op itself consumes +axis directly — no sub-op (recursion)
    if P.has("axis") and P.params.get("proj") != "axisswap":
        spec = str(P.params["axis"])
        if spec != "enu":
            sub = create_operation(f"+proj=axisswap +axis={spec}")
            P.axisswap = sub


# ops whose own setup consumes towgs84/grids params — no emulation hooks
_NO_EMULATION = {
    "helmert", "molobadekas", "hgridshift", "vgridshift", "molodensky",
    "cart", "axisswap", "unitconvert", "noop", "pipeline", "push", "pop",
    "affine", "geogoffset", "deformation", "xyzgridshift",
}


def _make_pj(params: dict) -> PJ:
    if "init" in params:
        # +init expansion (src/init.cpp): the section's params are
        # APPENDED to the paralist, so explicit params win (first-wins)
        from proj_4_spark.engine.projstring import parse_projstring
        from proj_4_spark.sources.initfiles import resolve_init

        try:
            frag = resolve_init(str(params["init"]))
        except (KeyError, FileNotFoundError, LookupError, ValueError) as e:
            # catalog/database layer is out of scope v1 (SURVEY.md §7.7)
            raise ProjError("unsupported", f"init preset: {e}") from None
        merged = {k: v for k, v in params.items() if k != "init"}
        for k, v in parse_projstring(frag).items():
            merged.setdefault(k, v)
        params = merged
    name = params.get("proj")
    if not name:
        raise ProjError("missing_args", "no +proj")
    reg = _registry()
    if name not in reg:
        raise ProjError("unknown_projection_id", name)

    # +datum expansion (pj_datum_set, src/datum_set.cpp): datum definition
    # params are appended — explicit user params win
    if "datum" in params:
        dname = str(params["datum"])
        if dname not in DATUMS:
            raise ProjError("unknown_datum", dname)
        params = dict(params)
        for k, v in DATUMS[dname].items():
            params.setdefault(k, v)

    if name in _NO_ELLPS_NEEDED and not any(
        k in params for k in ("ellps", "a", "R", "b", "rf", "f", "es", "e")
    ):
        ell = ellipsoid_from_params({"ellps": DEFAULT_ELLPS})
    else:
        p = dict(params)
        if not any(k in p for k in ("ellps", "a", "R")):
            p["ellps"] = DEFAULT_ELLPS  # src/init.cpp:319-351
        ell = ellipsoid_from_params(p)
    P = PJ(name, params, ell)
    _apply_generic_params(P)
    reg[name](P)
    if name not in _NO_EMULATION and "break_cs2cs_recursion" not in params:
        _cs2cs_emulation_setup(P)
    return P


# Static datum registry; src/datums.cpp:44-69
DATUMS: dict[str, dict[str, str]] = {
    "WGS84": {"towgs84": "0,0,0", "ellps": "WGS84"},
    "GGRS87": {"towgs84": "-199.87,74.79,246.62", "ellps": "GRS80"},
    "NAD83": {"towgs84": "0,0,0", "ellps": "GRS80"},
    "NAD27": {"nadgrids": "@conus,@alaska,@ntv2_0.gsb,@ntv1_can.dat",
              "ellps": "clrk66"},
    "potsdam": {"nadgrids": "@BETA2007.gsb", "ellps": "bessel"},
    "carthage": {"towgs84": "-263.0,6.0,431.0", "ellps": "clrk80ign"},
    "hermannskogel": {"towgs84": "577.326,90.129,463.919,5.137,1.474,5.297,2.4232",
                      "ellps": "bessel"},
    "ire65": {"towgs84": "482.530,-130.596,564.557,-1.042,-0.214,-0.631,8.15",
              "ellps": "mod_airy"},
    "nzgd49": {"towgs84": "59.47,-5.04,187.44,0.47,-0.1,1.024,-4.5993",
               "ellps": "intl"},
    "OSGB36": {"towgs84": "446.448,-125.157,542.060,0.1502,0.2470,0.8421,-20.4894",
               "ellps": "airy"},
}


def _skip_prep_fin(op: "Operation") -> "Operation":
    """Helper sub-ops run bare kernels (skip_prep_fin, src/4D_api.cpp:597-607)."""
    op.P.skip_fwd_prepare = True
    op.P.skip_fwd_finalize = True
    op.P.skip_inv_prepare = True
    op.P.skip_inv_finalize = True
    return op


def _cs2cs_emulation_setup(P: PJ) -> None:
    """Wire the helper sub-PJ graph for cs2cs-style modifiers
    (+geoidgrids/+nadgrids/+towgs84): src/4D_api.cpp:610-808.

    The hooks are consumed by fwd_prepare/inv_finalize
    (src/fwd.cpp:74-85, src/inv.cpp:117-124).
    """
    params = P.params

    if "geoidgrids" in params and params["geoidgrids"]:
        P.vgridshift = _skip_prep_fin(
            create_operation(f"+proj=vgridshift +grids={params['geoidgrids']}")
        )

    if "nadgrids" in params and params["nadgrids"]:
        P.hgridshift = _skip_prep_fin(
            create_operation(f"+proj=hgridshift +grids={params['nadgrids']}")
        )

    do_cart = False
    if P.hgridshift is None and "towgs84" in params and params["towgs84"]:
        vals = [float(v) for v in str(params["towgs84"]).split(",")]
        while len(vals) < 7:
            vals.append(0.0)
        if all(v == 0 for v in vals):
            # null shift: still change ellipsoids if not WGS84
            # (src/4D_api.cpp:686-694)
            # a_orig/es_orig: spherical-only kernels zero P.es in setup;
            # the datum check must see the ORIGINAL ellipsoid
            # (4D_api.cpp:691 uses a_orig/es_orig)
            if not (abs(P.a_orig - 6378137.0) < 1e-8 and abs(P.es_orig - 0.0066943799901413) < 1e-15):
                do_cart = True
        else:
            P.helmert = _skip_prep_fin(create_operation(
                f"+proj=helmert +exact +towgs84={params['towgs84']} "
                f"+convention=position_vector"
            ))

    if P.is_geocent or P.helmert is not None or do_cart:
        if P.cart is None:
            P.cart = _skip_prep_fin(create_operation(
                f"+proj=cart +a={P.a_orig!r} +es={P.es_orig!r}"  # 4D_api.cpp:718
            ))
        # NOTE: the C only creates cart_wgs84 for non-geocent ops
        # (4D_api.cpp:735) and its fwd_prepare would error on the
        # geocent+helmert combination (proj_trans on a null hook); the
        # classic pj_transform semantics our CrsToCrsOperation emulates
        # DO need the WGS84 leg for a geocent CRS with a datum shift
        # (e.g. IGNF RGR92 -> REUN47), so create it there as well.  A
        # plain geocent op (no helmert) must NOT get it: the hub branch
        # would then force an Earth-WGS84 leg onto e.g. Mars ellipsoids
        # (4D-API gie cases at a=3396190).
        if not P.is_geocent or P.helmert is not None:
            P.cart_wgs84 = _skip_prep_fin(
                create_operation("+proj=cart +ellps=WGS84")
            )


_PIPELINE_CONTROL = {"step", "inv", "omit_fwd", "omit_inv"}


def _v_mask(params: dict) -> tuple[bool, bool, bool, bool]:
    """+v_1..+v_4 slot selection for push/pop (src/pipeline.cpp)."""
    return tuple(f"v_{i + 1}" in params for i in range(4))


def peephole(global_params: dict, steps: list[dict]) -> list[dict]:
    """Plan-time step-list rewrites (SURVEY.md §4.1;
    PROJStringFormatter::toString, src/iso19111/io.cpp:6917-7120).

    Implemented: drop identity helmert (io.cpp:6927-6937), drop identity
    unitconvert (6938-6943), drop noop, cancel adjacent inverse pairs of
    identical steps (self-inverse axisswap 2,1 special case, 6962-6995).
    """
    out: list[dict] = []
    for st in steps:
        proj = st.get("proj")
        if proj == "noop":
            continue
        if proj == "helmert":
            keys = set(st) - {"proj"} - _PIPELINE_CONTROL
            vals_zero = all(
                float(st.get(k) or 0) == 0.0
                for k in ("x", "y", "z", "rx", "ry", "rz", "s")
                if k in st
            )
            if keys <= {"x", "y", "z", "rx", "ry", "rz", "s", "convention"} and vals_zero:
                continue
        if proj == "unitconvert":
            if st.get("xy_in") == st.get("xy_out") and st.get("z_in") == st.get("z_out") and not st.get("t_in") and not st.get("t_out"):
                continue
        out.append(st)

    # cancel adjacent identical steps where one is inverted
    def _inverted_pair(a: dict, b: dict) -> bool:
        ca = {k: v for k, v in a.items() if k != "inv"}
        cb = {k: v for k, v in b.items() if k != "inv"}
        if ca != cb:
            return False
        return ("inv" in a) != ("inv" in b)

    changed = True
    while changed:
        changed = False
        for i in range(len(out) - 1):
            a, b = out[i], out[i + 1]
            if _inverted_pair(a, b):
                del out[i : i + 2]
                changed = True
                break
            # axisswap order=2,1 is self-inverse (io.cpp:6962-6976)
            if (
                a.get("proj") == "axisswap"
                and b.get("proj") == "axisswap"
                and a.get("order", "2,1") == "2,1"
                and b.get("order", "2,1") == "2,1"
            ):
                del out[i : i + 2]
                changed = True
                break
    return out


def create_operation(projstring: str, emulation: bool = True) -> Operation:
    """proj_create analogue (src/4D_api.cpp:810, src/init.cpp:522-836).

    emulation=True mirrors proj_create (4D API): cs2cs-style modifier
    hooks (+towgs84/+nadgrids/+geoidgrids/+datum hub legs) are wired.
    emulation=False mirrors pj_init (legacy apps like `proj`): the raw
    operation only — cs2cs_emulation_setup runs in proj_create
    (4D_api.cpp:802), NOT in pj_init_ctx, which is why the proj app
    never datum-shifts."""
    projstring = projstring.strip()
    # createFromUserInput dispatch (src/iso19111/io.cpp:12106+): WKT2 /
    # WKT1 CRS text is accepted anywhere a proj-string is — compiled
    # through the registry-shared readers
    upper = projstring[:24].upper()
    if upper.startswith(("PROJCRS[", "GEOGCRS[", "GEODCRS[",
                         "COMPOUNDCRS[", "PROJECTEDCRS[", "BOUNDCRS[",
                         # operation objects, not just CRSs
                         # (io.cpp:3075 buildCoordinateOperation,
                         # :3133 buildConcatenatedOperation)
                         "COORDINATEOPERATION[",
                         "CONCATENATEDOPERATION[", "CONVERSION[",
                         "DERIVEDPROJCRS[")):
        from proj_4_spark.sources.wkt2 import wkt2_to_projstring

        projstring = "+" + wkt2_to_projstring(projstring).replace(" ", " +")
    elif upper.startswith(("PROJCS[", "GEOGCS[")):
        from proj_4_spark.sources.esri_wkt1 import wkt1_to_projstring

        projstring = "+" + wkt1_to_projstring(projstring).replace(" ", " +")
    elif projstring.startswith("{"):
        # PROJJSON (createFromUserInput dispatches on '{', io.cpp:5974)
        from proj_4_spark.sources.projjson import projjson_to_projstring

        projstring = "+" + projjson_to_projstring(projstring).replace(
            " ", " +")
    elif re.fullmatch(r"[A-Za-z_]+:[A-Za-z0-9_.+-]+", projstring):
        # bare "AUTH:code" CRS spec (incl. the compound "EPSG:A+B"
        # form) — cs2cs accepts these directly (createFromUserInput)
        projstring = "+init=" + projstring
    if not emulation:
        projstring = projstring + " +break_cs2cs_recursion"
    head = PS.parse_projstring(projstring.split("+step")[0])
    if head.get("proj") == "pipeline":
        global_params, step_param_list = PS.split_pipeline_steps(projstring)
        if any(sp.get("proj") == "pipeline" for sp in step_param_list):
            raise ProjError("malformed_pipeline", "nested pipelines not allowed")
        if not step_param_list:
            raise ProjError("malformed_pipeline", "pipeline has no steps")
        inherit = {
            k: v
            for k, v in global_params.items()
            if k not in ("proj",) and k not in _PIPELINE_CONTROL
        }
        # NOTE: peephole() is a *planner-level* rewrite (the reference applies
        # it when serializing planned pipelines, io.cpp:6917+ — never inside
        # proj_create).  create_operation executes the string as given.
        steps: list[tuple[Operation, dict]] = []
        for sp in step_param_list:
            flags = {
                "inv": "inv" in sp,
                "omit_fwd": "omit_fwd" in sp,
                "omit_inv": "omit_inv" in sp,
            }
            kind = sp.get("proj")
            if kind in ("push", "pop"):
                flags["kind"] = kind
                flags["v_mask"] = _v_mask(sp)
                steps.append((None, flags))
                continue
            merged = dict(sp)
            for k, v in inherit.items():
                merged.setdefault(k, v)
            for ctl in _PIPELINE_CONTROL:
                merged.pop(ctl, None)
            op = Operation(_make_pj(merged))
            steps.append((op, flags))
        # pipeline PJ: unit tags from steps, with WHATEVER replaced by the
        # units of neighbouring steps (src/pipeline.cpp:391-417,584-608)
        ell_params = dict(global_params)
        ell_params.setdefault("ellps", DEFAULT_ELLPS)
        Ppl = PJ("pipeline", global_params, ellipsoid_from_params(
            {k: v for k, v in ell_params.items() if k in ("ellps", "a", "b", "rf", "f", "es", "e", "R")}
        ))
        real = [(op, fl) for op, fl in steps if op is not None]

        def pj_left(op, fl):
            return op.P.right if fl.get("inv") else op.P.left

        def pj_right(op, fl):
            return op.P.left if fl.get("inv") else op.P.right

        eff = [[pj_left(op, fl), pj_right(op, fl)] for op, fl in real]

        def next_non_whatever(i: int, fwd: bool) -> str:
            rng = range(i + 1, len(eff)) if fwd else range(i - 1, -1, -1)
            for j in rng:
                a, b = (eff[j][0], eff[j][1]) if fwd else (eff[j][1], eff[j][0])
                if a != b:
                    return a
                if a != "whatever":
                    return a
                if b != "whatever":
                    return b
            return "whatever"

        for i in range(len(eff)):
            if eff[i][0] == "whatever" and eff[i][1] == "whatever":
                eff[i][0] = next_non_whatever(i, True)
                eff[i][1] = next_non_whatever(i, True)
        for i in range(len(eff) - 1, -1, -1):
            if eff[i][0] == "whatever" and eff[i][1] == "whatever":
                eff[i][0] = next_non_whatever(i, False)
                eff[i][1] = next_non_whatever(i, False)
        for i in range(len(eff) - 1):
            a, b = eff[i][1], eff[i + 1][0]
            if a != "whatever" and b != "whatever" and a != b:
                raise ProjError("malformed_pipeline",
                                f"mismatched units between step {i + 1} and {i + 2}")
        if eff:
            Ppl.left = eff[0][0]
            Ppl.right = eff[-1][1]
        Ppl.skip_fwd_prepare = True
        Ppl.skip_fwd_finalize = True
        Ppl.skip_inv_prepare = True
        Ppl.skip_inv_finalize = True
        return PipelineOperation(Ppl, steps, inverted="inv" in global_params)

    params = PS.parse_projstring(projstring)
    return Operation(_make_pj(params), inverted="inv" in params)


# --- cs2cs-style CRS-to-CRS transform (src/apps/cs2cs.cpp semantics) --------

_DATUM_KEYS = ("datum", "towgs84", "nadgrids", "geoidgrids")


def _has_datum_info(params: dict) -> bool:
    return any(params.get(k) not in (None, "") for k in _DATUM_KEYS)


class CrsToCrsOperation:
    """Two-CRS transform through the WGS84 hub (classic proj.4
    pj_transform / PROJ cs2cs with proj-string CRSs).

    PROJ 8 "ballpark" rule (cs2cs via proj_create_crs_to_crs on
    proj4-style strings): a datum shift is applied only when BOTH sides
    carry datum information (+datum/+towgs84/+nadgrids/+geoidgrids);
    otherwise the transform is projection-only — see
    test/cli/testvarious "NAD27 to raw ellipse" expecting identity.
    """

    def __init__(self, src: str, dst: str):
        # datum presence must be judged AFTER +init expansion (an
        # +init=epsg:XXXX string carries its towgs84 inside the preset)
        self.src = create_operation(src)
        self.dst = create_operation(dst)
        both = _has_datum_info(self.src.P.params) and _has_datum_info(
            self.dst.P.params
        )
        if not both:
            self.src = create_operation(src, emulation=False)
            self.dst = create_operation(dst, emulation=False)
        else:
            # cs2cs (DB-pipeline) semantics use the SMALL-ANGLE Helmert
            # (EPSG methods 9606/1033 map to proj=helmert WITHOUT
            # +exact); the raw 4D-API hub keeps +exact (4D_api.cpp:703).
            # Matters only for large rotations (IGNF REUN47: 76.8" -> ~1 m).
            for op in (self.src, self.dst):
                P = op.P
                if P.helmert is not None and P.params.get("towgs84"):
                    P.helmert = _skip_prep_fin(create_operation(
                        f"+proj=helmert +towgs84={P.params['towgs84']} "
                        "+convention=position_vector"
                    ))

    @staticmethod
    def _is_3d(op) -> bool:
        P = getattr(op, "P", None)
        return P is not None and (
            P.is_geocent or P.fwd3d is not None or P.inv3d is not None
            # vertical units / geoid hooks make z part of the CRS too
            or P.vto_meter != 1.0 or P.vgridshift is not None
        )

    def apply(self, x, y, z, t, direction: str = "fwd"):
        a, b = (self.src, self.dst) if direction == "fwd" else (self.dst, self.src)
        z_in = np.asarray(z, dtype=np.float64)
        ox, oy, oz, ot = b.apply(*a.apply(x, y, z, t, "inv"), "fwd")
        # geog2D semantics (PROJ pipelines wrap 2D CRS legs in
        # push/pop v_3): when neither side is a true 3D CRS, the input
        # ellipsoidal height passes through unchanged — datum-shift z
        # deltas only apply when a side is geocent / has 3D kernels.
        if not (self._is_3d(self.src) or self._is_3d(self.dst)):
            oz = z_in.copy()
        return ox, oy, oz, ot


def create_crs_to_crs(src: str, dst: str) -> CrsToCrsOperation:
    return CrsToCrsOperation(src, dst)
