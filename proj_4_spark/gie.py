"""Mini gie-DSL interpreter (the reference's primary test harness).

Parses the reference's test/gie/*.gie corpus (format: src/apps/gie.cpp,
docs/source/apps/gie.rst) and replays accept/expect blocks against our
engine.  Comparison metric replicates src/apps/gie.cpp:1017-1020:
geodesic meters for angular output (src/4D_api.cpp:137-167), 3D Euclidean
meters for linear output; unspecified dimensions are masked
(gie.cpp:1000-1005).
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field

import numpy as np

from proj_4_spark.engine.plan import Operation
from proj_4_spark.engine.projstring import dmstor
from proj_4_spark.engine.spark import _cached_operation
from proj_4_spark.kernels import common as C
from proj_4_spark.kernels.base import ProjError
from proj_4_spark.kernels.geodesic import geodesic_inverse_karney

_TOL_UNITS = {"m": 1.0, "dm": 0.1, "cm": 0.01, "mm": 0.001, "um": 1e-6, "nm": 1e-9, "km": 1000.0}


@dataclass
class GieCase:
    file: str
    line: int
    operation: str
    direction: str  # "forward" | "inverse"
    accept: list[float]
    expect: list[float] | None
    expect_failure: bool
    fail_errno: str
    tolerance_m: float
    roundtrip_n: int = 0
    roundtrip_tol_m: float | None = None
    ignore: list[str] = field(default_factory=list)
    require_grids: list[str] = field(default_factory=list)


def _parse_tolerance(rest: str) -> float:
    """strtod_scaled semantics (src/apps/gie.cpp:461-505): the value is
    strtod'ed; the unit must be the SECOND whitespace column.  'tolerance
    1cm' therefore scales by nothing (1 m!) — reproduced faithfully."""
    cols = rest.split()
    m = re.match(r"\s*([-+0-9.eE]+)", cols[0])
    v = float(m.group(1))
    unit = cols[1] if len(cols) > 1 else ""
    return v * _TOL_UNITS.get(unit, 1.0)


def _parse_coords(rest: str) -> list[float]:
    vals = []
    for tok in rest.split():
        try:
            vals.append(float(tok))
        except ValueError:
            # DMS token — degrees; caller knows angularity
            vals.append(dmstor(tok) * C.RAD_TO_DEG)
    return vals


def parse_gie_file(path: str) -> list[GieCase]:
    cases: list[GieCase] = []
    with open(path, encoding="utf-8", errors="replace") as f:
        raw_lines = f.readlines()

    in_block = False
    operation: str | None = None
    op_line = 0
    direction = "forward"
    tolerance = 0.0005  # 0.5 mm default, gie.cpp:248
    accept: list[float] | None = None
    ignore: list[str] = []
    require_grids: list[str] = []
    pending_continuation = False
    cur_cmd = ""
    cur_rest = ""

    def flush_cmd(lineno: int):
        nonlocal operation, op_line, direction, tolerance, accept
        nonlocal ignore, require_grids
        cmd, rest = cur_cmd, cur_rest.strip()
        if not cmd:
            return
        if cmd == "operation":
            # normalize: drop line-continuation backslashes and collapse
            # spaces around '=' ("x =  0.0127" -> "x=0.0127")
            rest = rest.replace("\\", " ")
            rest = re.sub(r"\s*=\s*", "=", rest)
            rest = re.sub(r",\s+", ",", rest)  # "towgs84=1, 2, 3" lists
            rest = " ".join(rest.split())
            operation = rest
            op_line = lineno
            direction = "forward"
            tolerance = 0.0005
            accept = None
            ignore = []
            require_grids = []
        elif cmd == "tolerance":
            tolerance = _parse_tolerance(rest)
        elif cmd == "direction":
            d = rest.strip()
            direction = "inverse" if d.startswith(("inv", "rev")) else "forward"
        elif cmd == "accept":
            accept = _parse_coords(rest)
        elif cmd == "ignore":
            ignore = ignore + rest.split()
        elif cmd == "require_grid":
            require_grids = require_grids + rest.split()
        elif cmd == "roundtrip":
            parts = rest.split()
            n = int(float(parts[0]))
            tol = _parse_tolerance(" ".join(parts[1:])) if len(parts) > 1 else tolerance
            if accept is not None and operation is not None:
                cases.append(
                    GieCase(path, lineno, operation, direction, list(accept),
                            None, False, "", tolerance, roundtrip_n=n,
                            roundtrip_tol_m=tol, ignore=list(ignore),
                            require_grids=list(require_grids))
                )
        elif cmd == "expect":
            if operation is None or accept is None:
                return
            if rest.startswith("failure"):
                m = re.search(r"errno\s+(\S+)", rest)
                cases.append(
                    GieCase(path, lineno, operation, direction, list(accept),
                            None, True, m.group(1) if m else "", tolerance,
                            ignore=list(ignore), require_grids=list(require_grids))
                )
            else:
                cases.append(
                    GieCase(path, lineno, operation, direction, list(accept),
                            _parse_coords(rest), False, "", tolerance,
                            ignore=list(ignore), require_grids=list(require_grids))
                )

    _CMDS = (
        "operation", "tolerance", "direction", "accept", "expect",
        "roundtrip", "ignore", "require_grid", "use_proj4_init_rules",
        "echo", "skip", "crs_src", "crs_dst",
    )

    for lineno, raw in enumerate(raw_lines, 1):
        line = raw.split("#", 1)[0].rstrip()
        stripped = line.strip()
        if stripped in ("<gie>", "<gie-strict>"):
            in_block = True
            continue
        if stripped in ("</gie>", "</gie-strict>"):
            flush_cmd(lineno)
            cur_cmd, cur_rest = "", ""
            pending_continuation = False
            in_block = False
            continue
        if not in_block:
            continue
        if not stripped or set(stripped) <= {"-", "="}:
            continue
        first = stripped.split()[0]
        if first in _CMDS:
            flush_cmd(lineno)
            cur_cmd = first
            cur_rest = stripped[len(first):]
            pending_continuation = cur_cmd == "operation"
        else:
            if pending_continuation and raw[:1] in (" ", "\t"):
                cur_rest += " " + stripped
            # unknown keyword in non-strict mode: ignore (gie.cpp behaviour)
    return cases


@dataclass
class GieResult:
    case: GieCase
    status: str  # pass | fail | skip_unsupported | skip_grid
    detail: str = ""
    dist_m: float = float("nan")


def _get_op(projstring: str) -> Operation | ProjError:
    """The shared operation cache (engine/spark.py); a setup error comes
    back as the ProjError a failed result is built from."""
    try:
        return _cached_operation(projstring)
    except ProjError as e:
        return e
    except Exception as e:  # setup bug — surface as failure, not crash
        return ProjError("setup_exception", repr(e))


def _dist(op: Operation, got, exp, ndim: int, angular: bool) -> float:
    """gie comparison metric; src/apps/gie.cpp:1017-1020."""
    if angular:
        d = float(
            geodesic_inverse_karney(
                np.array([got[0]]), np.array([got[1]]),
                np.array([exp[0]]), np.array([exp[1]]),
                op.P.a, op.P.f,
            )[0]
        )
        if ndim >= 3:
            d = math.hypot(d, got[2] - exp[2])
        return d
    d = math.hypot(got[0] - exp[0], got[1] - exp[1])
    if ndim >= 3:
        d = math.hypot(d, got[2] - exp[2])
    return d


def run_case(case: GieCase) -> GieResult:
    if case.require_grids:
        from proj_4_spark.sources.grids import resolve_grid_path

        for g in case.require_grids:
            try:
                resolve_grid_path(g)
            except FileNotFoundError:
                return GieResult(case, "skip_grid", g)
    op_or_err = _get_op(case.operation)
    if isinstance(op_or_err, ProjError):
        # unsupported op: always a skip — never claim an expected-failure
        # pass for an operation we simply don't implement
        if op_or_err.errno in ("unsupported", "unknown_projection_id"):
            return GieResult(case, "skip_unsupported", str(op_or_err))
        if case.expect_failure:
            # supported operation that fails at setup satisfies
            # `expect failure` (bad args, invalid ellipsoid, ...)
            return GieResult(case, "pass", f"setup failed as expected: {op_or_err}")
        if op_or_err.errno == "failed_to_load_grid":
            # grid not present in this sandbox (only downsampled fixtures
            # ship with the reference) — same semantics as require_grid
            return GieResult(case, "skip_grid", str(op_or_err))
        return GieResult(case, "fail", f"setup error: {op_or_err}")
    op = op_or_err

    direction = "fwd" if case.direction == "forward" else "inv"
    angular_in = op.angular_input(direction)
    angular_out = op.angular_output(direction)

    a = list(case.accept) + [0.0] * (4 - len(case.accept))
    if angular_in:
        a[0] *= C.DEG_TO_RAD
        a[1] *= C.DEG_TO_RAD
    x, y, z, t = (np.array([v], dtype=np.float64) for v in a)

    if case.roundtrip_n:
        rx, ry, rz, rt = op.roundtrip(x, y, z, t, case.roundtrip_n, direction)
        got = [float(rx[0]), float(ry[0]), float(rz[0])]
        exp = [float(v) for v in a[:3]]
        if angular_in:
            gd = [got[0] * C.RAD_TO_DEG, got[1] * C.RAD_TO_DEG, got[2]]
            ed = [exp[0] * C.RAD_TO_DEG, exp[1] * C.RAD_TO_DEG, exp[2]]
            d = _dist(op, [v * C.DEG_TO_RAD for v in gd[:2]] + [gd[2]],
                      [v * C.DEG_TO_RAD for v in ed[:2]] + [ed[2]],
                      min(len(case.accept), 3), True)
        else:
            d = _dist(op, got, exp, min(len(case.accept), 3), False)
        tol = case.roundtrip_tol_m or case.tolerance_m
        ok = d <= tol
        return GieResult(case, "pass" if ok else "fail",
                         f"roundtrip drift {d:.3e} m vs tol {tol:.3e}", d)

    try:
        ox, oy, oz, ot = op.apply(x, y, z, t, direction)
    except ProjError as e:
        # e.g. no inverse kernel (non-invertible affine, fwd-only ops)
        if case.expect_failure:
            return GieResult(case, "pass", f"failed as expected: {e}")
        return GieResult(case, "fail", f"runtime error: {e}")
    got = [float(ox[0]), float(oy[0]), float(oz[0]), float(ot[0])]

    if case.expect_failure:
        failed = math.isnan(got[0]) or math.isnan(got[1])
        return GieResult(case, "pass" if failed else "fail",
                         "" if failed else f"expected failure, got {got}")

    if math.isnan(got[0]) or math.isnan(got[1]):
        return GieResult(case, "fail", f"unexpected error output for {case.accept}")

    exp = list(case.expect)
    ndim = min(len(exp), 4)
    if angular_out:
        exp_r = [exp[0] * C.DEG_TO_RAD, exp[1] * C.DEG_TO_RAD] + exp[2:]
        d = _dist(op, got, exp_r, ndim, True)
    else:
        d = _dist(op, got, exp, ndim, False)
    ok = d <= case.tolerance_m
    return GieResult(case, "pass" if ok else "fail",
                     f"dist {d:.6e} m vs tol {case.tolerance_m:.1e}; got {got[:ndim]} exp {exp}", d)


def run_file(path: str) -> list[GieResult]:
    return [run_case(c) for c in parse_gie_file(path)]


def summarize(results: list[GieResult]) -> dict:
    out = {"pass": 0, "fail": 0, "skip_unsupported": 0, "skip_grid": 0, "failures": []}
    for r in results:
        out[r.status] += 1
        if r.status == "fail":
            out["failures"].append(
                f"{r.case.file}:{r.case.line} [{r.case.direction}] {r.case.operation} :: {r.detail}"
            )
    return out
