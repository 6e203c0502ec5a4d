"""Trace a NumPy forward kernel into staged Spark SQL.

``trace_kernel(fn, P)`` calls ``fn(lam, phi, z, t, P)`` on stand-in
columns.  The stand-ins implement NumPy's dispatch protocols (NEP 13
``__array_ufunc__``, NEP 18 ``__array_function__``) and the array
operators, so the kernel's own code builds a DAG of operations instead
of computing: one source per operation, the kernel, for the Arrow-UDF
path and for the Catalyst twin.  Each DAG node maps to Spark SQL once,
here, and where the two semantics differ the mapping follows NumPy:

- division by a zero reads +-inf or NaN (ANSI Spark raises
  DIVIDE_BY_ZERO), so every divisor that is not a nonzero literal is
  guarded; the sign of a zero divisor is read from its string form;
- ``ln``/``log10``/``log1p`` read -inf at the pole of the log and NaN
  below it (Spark reads NULL);
- comparisons are false when an operand is NaN (Spark orders NaN above
  every number and NaN = NaN);
- ``np.minimum``/``np.maximum``/``np.clip`` keep NaN
  (``sqltext.clamp``);
- ``np.arctan2`` keeps signed zeros (``sqltext.atan2_ieee``);
- ``floor``/``ceil``/``trunc`` stay DOUBLE (Spark returns BIGINT) and
  an integer cast of NaN or of an overflowing value reads INT64_MIN as
  NumPy's does (ANSI Spark raises CAST_OVERFLOW); integers are carried
  as integral DOUBLE values;
- ``np.choose(i, table)`` over literal choices is
  ``element_at(array(...), i + 1)``.

A boolean-mask read ``x[m]`` is x itself, tagged with m: NumPy lets
such a value combine only with values of the same mask (or scalars),
and ``x[m] = v`` writes it back as ``CASE WHEN m THEN v ELSE x END``.
Anything else raises ``Untraceable``: an op with no mapping, a
Python-level branch on data (``bool()``, ``.any()``, ``.all()``), an
array constant, a kernel that rewrites z or t.  Identical nodes are
interned and all-literal nodes fold through NumPy itself.

``emit(st, kernel, inputs, tag)`` schedules the DAG into ``_SqlStager``
stages: a node read more than once (counting the reads inside its
readers' SQL text) becomes a stage alias, a node read once is inlined,
and aliases at the same depth share one stage.  Codegen regions are cut
with the stager's barrier so that each stays under ``MAX_REGION_STAGES``
stages and ``REGION_COST`` (an estimate of the generated bytecode,
calibrated against Spark's maxMethodCodeSize).  A kernel whose last
region is estimated over ``CLOSE_COST`` closes it, so that its chained
forward -> inverse (utm's roundtrip) does not fuse past HotSpot's
8,000-byte JIT ceiling; a smaller kernel shares its region with the
finalize and whatever follows, as the hand-written twins did.
"""

from __future__ import annotations

import math
import re
from typing import NamedTuple

import numpy as np

from proj_4_spark.sqltext import atan2_ieee, clamp, double

# a kernel of more DAG nodes than this runs on the Arrow-UDF path: at
# 4 M rows on local[4] the twin ran 1.14-1.26x the UDF's throughput up
# to 212 nodes (putp6, putp2, mbt_fps) and 0.93-1.08x at 248-254
# (hatano, boggs: unrolled Newton loops, every lane runs every step)
MAX_NODES = 240
# per codegen region: lateral-alias stages (PySpark fails one selectExpr
# past 50 levels) and the estimated bytecode of its expressions
MAX_REGION_STAGES = 40
REGION_COST = 6000
# a kernel's last region estimated past this is closed, so that what
# follows (the finalize, a chained transform()) starts a region of its
# own: utm (4,431 estimated, 5,739 bytes measured) fused with its own
# inverse's first region (2,412) would pass 8,000 bytes.  A smaller
# kernel stays open: the closing barrier cost robin (4,123) and webmerc
# a quarter of their throughput
CLOSE_COST = 4200
# an inlined expression longer than this (characters) is staged
_MAX_INLINE = 1200


class Untraceable(Exception):
    """The kernel does something the tracer does not map."""


class Kernel(NamedTuple):
    """A traced kernel: the interned nodes (op, args, kind, data) in
    creation order, which is a topological order, and the x, y output
    nodes.  Integer kind "i" values are integral doubles."""
    nodes: tuple
    x: int
    y: int


_INPUTS = ("lam", "phi", "z", "t")


def trace_kernel(fn, P):
    """The Kernel of ``fn(lam, phi, z, t, P)``, or None when it does not
    trace or exceeds MAX_NODES.  The kernel must pass z and t through."""
    try:
        return _trace(fn, P)
    except Exception:  # noqa: BLE001 - anything untraced runs the UDF
        return None


def _trace(fn, P):
    g = _Graph()
    cols = [_Col(g, g.add("in", (name,), "f")) for name in _INPUTS]
    with np.errstate(all="ignore"):
        out = fn(*cols, P)
    x, y, z, t = (_value(g, v) for v in out)
    if (z[0], t[0]) != (cols[2].i, cols[3].i) or x[1] is not None \
            or y[1] is not None:
        raise Untraceable("masked output or z/t rewritten")
    xi, yi = g.to_float(x[0]), g.to_float(y[0])
    live = _reachable(g.nodes, (xi, yi))
    if sum(1 for i in live if g.nodes[i][0] not in ("in", "lit")) > MAX_NODES:
        raise Untraceable("over MAX_NODES")
    return Kernel(tuple(g.nodes), xi, yi)


# --- the DAG --------------------------------------------------------------


def _lit_key(v):
    return repr(float(v)) if isinstance(v, float) else repr(v)


class _Graph:
    def __init__(self):
        self.nodes: list[tuple] = []
        self._index: dict = {}

    def add(self, op: str, args: tuple, kind: str, data=None) -> int:
        key = (op, tuple(_lit_key(a) if op == "lit" else a for a in args),
               kind, data)
        i = self._index.get(key)
        if i is None:
            i = self._index[key] = len(self.nodes)
            self.nodes.append((op, args, kind, data))
        return i

    def lit(self, v) -> int:
        if isinstance(v, (bool, np.bool_)):
            return self.add("lit", (bool(v),), "b")
        if isinstance(v, (int, np.integer)):
            return self.add("lit", (float(v),), "i")
        return self.add("lit", (float(v),), "f")

    def literal(self, i):
        """The Python value of node i when it is a literal, else None."""
        op, args = self.nodes[i][:2]
        return args[0] if op == "lit" else None

    def kind(self, i) -> str:
        return self.nodes[i][2]

    def to_float(self, i) -> int:
        if self.kind(i) == "b":
            return self.op("where", i, self.lit(1.0), self.lit(0.0))
        return i

    def op(self, name: str, *args: int) -> int:
        """Node `name` over arg nodes, folded when every arg is a
        literal."""
        spec = _OPS[name]
        kinds = [self.kind(a) for a in args]
        kind = spec.kind(kinds)
        vals = [self.literal(a) for a in args]
        if spec.fold is not None and all(v is not None for v in vals):
            with np.errstate(all="ignore"):
                r = spec.fold(*[np.float64(v) if k != "b" else np.bool_(v)
                                for v, k in zip(vals, kinds)])
            if kind == "b":
                return self.lit(bool(r))
            return self.add("lit", (float(r),), kind)
        return self.add(name, tuple(args), kind)


def _reachable(nodes, roots):
    seen, todo = set(), list(roots)
    while todo:
        i = todo.pop()
        if i in seen:
            continue
        seen.add(i)
        op, args = nodes[i][:2]
        if op not in ("in", "lit"):
            todo.extend(args)
    return seen


# --- the stand-in column ---------------------------------------------------


def _value(g: _Graph, v):
    """(node, mask) of an operand: a stand-in column, or a scalar."""
    if isinstance(v, _Col):
        return v.i, v.mask
    if isinstance(v, np.ndarray):
        if v.ndim != 0:
            raise Untraceable("array constant")
        v = v[()]
    if isinstance(v, (bool, np.bool_, int, np.integer, float, np.floating)):
        return g.lit(v), None
    raise Untraceable(f"operand {type(v).__name__}")


def _common_mask(masks):
    found = {m for m in masks if m is not None}
    if len(found) > 1:
        raise Untraceable("values under different masks")
    return found.pop() if found else None


class _Col:
    """A stand-in column: a DAG node and, for a masked read, its mask
    node.  Assignment through a mask rebinds the node, so the object is
    mutable as a NumPy array is."""

    __array_priority__ = 1000

    def __init__(self, g: _Graph, i: int, mask: int | None = None):
        self.g, self.i, self.mask = g, i, mask

    def _apply(self, name, *operands):
        vals = [_value(self.g, v) for v in operands]
        mask = _common_mask([m for _, m in vals])
        return _Col(self.g, _lower(self.g, name, [i for i, _ in vals]), mask)

    # NEP 13 / NEP 18
    def __array_ufunc__(self, ufunc, method, *inputs, **kwargs):
        if method != "__call__" or kwargs or ufunc.__name__ not in _UFUNCS:
            raise Untraceable(f"ufunc {ufunc.__name__}.{method}")
        return self._apply(_UFUNCS[ufunc.__name__], *inputs)

    def __array_function__(self, func, types, args, kwargs):
        handler = _FUNCTIONS.get(func.__name__)
        if handler is None:
            raise Untraceable(f"function {func.__name__}")
        return handler(self.g, *args, **kwargs)

    # operators
    def __add__(self, o): return self._apply("add", self, o)
    def __radd__(self, o): return self._apply("add", o, self)
    def __sub__(self, o): return self._apply("subtract", self, o)
    def __rsub__(self, o): return self._apply("subtract", o, self)
    def __mul__(self, o): return self._apply("multiply", self, o)
    def __rmul__(self, o): return self._apply("multiply", o, self)
    def __truediv__(self, o): return self._apply("divide", self, o)
    def __rtruediv__(self, o): return self._apply("divide", o, self)
    def __mod__(self, o): return self._apply("mod", self, o)
    def __rpow__(self, o): return self._apply("power", o, self)
    def __neg__(self): return self._apply("negative", self)
    def __pos__(self): return self
    def __abs__(self): return self._apply("absolute", self)
    def __lt__(self, o): return self._apply("less", self, o)
    def __le__(self, o): return self._apply("less_equal", self, o)
    def __gt__(self, o): return self._apply("less", o, self)
    def __ge__(self, o): return self._apply("less_equal", o, self)
    def __eq__(self, o): return self._apply("equal", self, o)
    def __ne__(self, o): return self._apply("not_equal", self, o)
    def __and__(self, o): return self._apply("logical_and", self, o)
    def __rand__(self, o): return self._apply("logical_and", o, self)
    def __or__(self, o): return self._apply("logical_or", self, o)
    def __ror__(self, o): return self._apply("logical_or", o, self)
    def __xor__(self, o): return self._apply("not_equal", self, o)
    def __invert__(self): return self._apply("logical_not", self)

    __hash__ = None

    def __pow__(self, o):
        # ndarray ** scalar takes NumPy's fast paths (square, sqrt,
        # reciprocal) rather than pow()
        if isinstance(o, (int, float, np.integer, np.floating)):
            fast = {2.0: "square", 0.5: "sqrt", -1.0: "reciprocal",
                    1.0: None}
            if float(o) in fast:
                op = fast[float(o)]
                return self._apply(op, self) if op else self.copy()
        return self._apply("power", self, o)

    def __bool__(self):
        raise Untraceable("Python branch on data")

    def any(self, *a, **k):
        raise Untraceable("Python branch on data")

    all = any

    def copy(self):
        return _Col(self.g, self.i, self.mask)

    def astype(self, dtype, copy=True):
        kind = np.dtype(dtype).kind
        if kind == "f":
            return _Col(self.g, self.g.to_float(self.i), self.mask)
        if kind == "b":
            return self._apply("not_equal", self, 0.0)
        if kind in "iu":
            return self._apply("to_int", self)
        raise Untraceable(f"astype {dtype}")

    def __getitem__(self, key):
        if isinstance(key, _Col) and self.g.kind(key.i) == "b":
            if key.mask is not None:
                raise Untraceable("nested mask")
            if self.mask is not None:
                raise Untraceable("masked read of a masked value")
            return _Col(self.g, self.i, key.i)
        if key is Ellipsis or key == slice(None):
            return self.copy()
        raise Untraceable("indexing")

    def __setitem__(self, key, value):
        if not (isinstance(key, _Col) and self.g.kind(key.i) == "b"
                and key.mask is None and self.mask is None):
            raise Untraceable("assignment")
        v, vmask = _value(self.g, value)
        if vmask not in (None, key.i):
            raise Untraceable("assignment under another mask")
        kind = self.g.kind(self.i)
        if kind == "b" and self.g.kind(v) != "b":
            v = _lower(self.g, "not_equal", [v, self.g.lit(0.0)])
        elif kind == "i" and self.g.kind(v) == "f":
            v = self.g.op("to_int", v)
        self.i = _lower(self.g, "where", [key.i, self.g.to_float(v)
                                          if kind != "b" else v, self.i])


def _lower(g: _Graph, name: str, args: list[int]) -> int:
    """Node of the NumPy operation `name`: composite operations are
    written with the primitive nodes of _OPS."""
    if name in ("add", "subtract", "multiply", "divide", "power", "mod"):
        kinds = [g.kind(a) for a in args]
        if "b" in kinds:
            if kinds.count("b") == 2:
                raise Untraceable(f"{name} of two booleans")
            args = [g.to_float(a) for a in args]
    if name == "copy":
        return args[0]
    if name == "mod":
        return _lower_mod(g, *args)
    if name in ("equal", "not_equal") and g.kind(args[0]) == "b" \
            and g.kind(args[1]) == "b":
        return g.op("b_" + name, *args)
    if name == "square":
        return g.op("multiply", args[0], args[0])
    if name == "reciprocal":
        return g.op("divide", g.lit(1.0), args[0])
    if name == "greater":
        return g.op("less", args[1], args[0])
    if name == "greater_equal":
        return g.op("less_equal", args[1], args[0])
    if name in ("logical_and", "logical_or", "logical_not"):
        args = [a if g.kind(a) == "b" else g.op("not_equal", a, g.lit(0.0))
                for a in args]
    if name == "where":
        c, a, b = args
        if g.kind(c) != "b":
            c = g.op("not_equal", c, g.lit(0.0))
        if g.literal(c) is not None:
            return a if g.literal(c) else b
        if g.kind(a) != g.kind(b):
            a, b = g.to_float(a), g.to_float(b)
        return g.op("where", c, a, b)
    return g.op(name, *args)


def _lower_mod(g: _Graph, a: int, b: int) -> int:
    """np.mod over a nonzero literal divisor: the C remainder moved to
    the divisor's sign (npy_divmod)."""
    bv = g.literal(b)
    if bv is None or bv == 0.0:
        raise Untraceable("mod by a non-literal")
    zero = g.lit(0.0)
    r = g.op("fmod", a, b)
    off = (g.op("less", r, zero) if bv > 0.0 else g.op("less", zero, r))
    return g.op("where", off, g.op("add", r, b),
                g.op("where", g.op("equal", r, zero),
                     g.lit(math.copysign(0.0, bv)), r))


# --- array functions -------------------------------------------------------


def _fn_where(g, cond, a=None, b=None):
    if a is None or b is None:
        raise Untraceable("np.where(cond)")
    vals = [_value(g, v) for v in (cond, a, b)]
    mask = _common_mask([m for _, m in vals])
    return _Col(g, _lower(g, "where", [i for i, _ in vals]), mask)


def _fn_clip(g, v, lo=None, hi=None, out=None, **kw):
    """np.clip is np.minimum(np.maximum(v, lo), hi), NaN kept."""
    if out is not None or kw:
        raise Untraceable("clip(out=)")
    i, mask = _value(g, v)
    masks = [mask]
    for name, bound in (("maximum", lo), ("minimum", hi)):
        if bound is not None:
            b, m = _value(g, bound)
            i = g.op(name, i, b)
            masks.append(m)
    return _Col(g, i, _common_mask(masks))


def _fn_choose(g, index, choices, out=None, mode="raise"):
    i, mask = _value(g, index)
    vals = [g.literal(_value(g, c)[0]) for c in choices]
    if out is not None or mode != "raise" or any(v is None for v in vals):
        raise Untraceable("choose over non-literal choices")
    if g.literal(i) is not None:
        return _Col(g, g.lit(np.float64(vals[int(g.literal(i))])), mask)
    node = g.add("choose", (i,), "f", tuple(float(v) for v in vals))
    return _Col(g, node, mask)


def _like(fill):
    def make(g, a, dtype=None, order="K", subok=True, shape=None):
        i, mask = _value(g, a)
        kind = np.dtype(dtype).kind if dtype is not None else g.kind(i)
        v = fill if kind != "b" else bool(fill)
        node = (g.lit(v) if kind == "b" else
                g.add("lit", (float(v),), "i" if kind in "iu" else "f"))
        return _Col(g, node, mask)
    return make


def _fn_full_like(g, a, fill_value, dtype=None, **kw):
    return _like(fill_value)(g, a, dtype)


def _fn_copy(g, a, *args, **kwargs):
    i, mask = _value(g, a)
    return _Col(g, i, mask)


def _fn_select(g, condlist, choicelist, default=0):
    """np.select: the first true condition's choice, as nested CASEs."""
    if len(condlist) != len(choicelist):
        raise Untraceable("select lengths")
    out, mask = _value(g, default)
    masks = [mask]
    for cond, choice in reversed(list(zip(condlist, choicelist))):
        (c, mc), (v, mv) = _value(g, cond), _value(g, choice)
        masks += [mc, mv]
        out = _lower(g, "where", [c, v, out])
    return _Col(g, out, _common_mask(masks))


_FUNCTIONS = {
    "select": _fn_select,
    "where": _fn_where,
    "clip": _fn_clip,
    "choose": _fn_choose,
    "copy": _fn_copy,
    "zeros_like": _like(0.0),
    "ones_like": _like(1.0),
    "empty_like": _like(math.nan),
    "full_like": _fn_full_like,
}


# --- the operations and their SQL -------------------------------------------


class _Op(NamedTuple):
    sql: object          # (graph, args: list of marker texts, lits) -> str
    fold: object         # NumPy function for all-literal args, or None
    kind: object         # arg kinds -> result kind
    cost: int            # estimated bytes of generated code


def _arith_kind(kinds):
    return "i" if all(k == "i" for k in kinds) else "f"


def _float_kind(kinds):
    return "f"


def _bool_kind(kinds):
    return "b"


def _same_kind(kinds):
    return kinds[0]


_INF = double(math.inf)
_NINF = double(-math.inf)
_NAN = double(math.nan)
_NEG = "startswith(cast({} AS STRING), '-')"
_INT_MIN = double(-2.0 ** 63)


def _sql_div(a, b, la, lb):
    if lb is not None and lb != 0.0 and not math.isnan(lb):
        return f"{a} / {b}"
    inf = f"(CASE WHEN {_NEG.format(b)} THEN {_NINF} ELSE {_INF} END)"
    if la is not None:
        if math.isnan(la) or la == 0.0:
            on_zero = _NAN
        elif la > 0.0:
            on_zero = inf
        else:
            on_zero = f"(-{inf})"
    else:
        on_zero = f"{a} * {inf}"
    return f"CASE WHEN {b} = 0.0D THEN {on_zero} ELSE {a} / {b} END"


def _sql_fmod(a, b, la, lb):
    if lb is not None and lb != 0.0 and not math.isnan(lb):
        return f"{a} % {b}"
    return f"CASE WHEN {b} = 0.0D THEN {_NAN} ELSE {a} % {b} END"


def _sql_log(fn, pole):
    def sql(a, la):
        return (f"coalesce({fn}({a}), CASE WHEN {a} = {double(pole)} "
                f"THEN {_NINF} ELSE {_NAN} END)")
    return sql


def _sql_less(op):
    def sql(a, b, la, lb):
        if lb is not None or la is not None:
            if (la is not None and math.isnan(la)) or (
                    lb is not None and math.isnan(lb)):
                return "false"
            if lb is not None:
                return f"{a} {op} {b}"
            # NaN b reads true against a literal a: compare negations
            return f"-({b}) {'<' if op == '<' else '<='} {double(-la)}"
        return f"({a} {op} {b} AND NOT isnan({b}))"
    return sql


def _sql_equal(a, b, la, lb):
    if la is not None or lb is not None:
        return f"{a} = {b}"
    return f"({a} = {b} AND NOT isnan({a}))"


def _sql_not_equal(a, b, la, lb):
    if la is not None or lb is not None:
        return f"NOT ({a} = {b})"
    return f"(NOT ({a} = {b}) OR isnan({a}))"


def _sql_rounding(fmt):
    # |v| >= 2^52 is integral already; NaN and inf compare false here,
    # and a zero keeps its sign
    def sql(a, la):
        return (f"CASE WHEN abs({a}) < 4503599627370496.0D AND "
                f"NOT ({a} = 0.0D) THEN CAST({fmt.format(a)} AS DOUBLE) "
                f"ELSE {a} END")
    return sql


def _sql_to_int(a, la):
    return (f"CASE WHEN abs({a}) < {double(2.0 ** 63)} THEN "
            f"CAST(CAST({a} AS BIGINT) AS DOUBLE) ELSE {_INT_MIN} END")


def _unary(fn):
    return lambda a, la: f"{fn}({a})"


def _np_trunc_int(v):
    with np.errstate(all="ignore"):
        return np.float64(np.array(v).astype(np.int64))


_OPS = {
    "add": _Op(lambda a, b, la, lb: f"{a} + {b}", np.add, _arith_kind, 28),
    "subtract": _Op(lambda a, b, la, lb: f"{a} - {b}", np.subtract,
                    _arith_kind, 28),
    "multiply": _Op(lambda a, b, la, lb: f"{a} * {b}", np.multiply,
                    _arith_kind, 28),
    "divide": _Op(_sql_div, np.true_divide, _float_kind, 280),
    "fmod": _Op(_sql_fmod, np.fmod, _arith_kind, 210),
    "power": _Op(lambda a, b, la, lb: f"power({a}, {b})", np.power,
                 _float_kind, 70),
    "negative": _Op(lambda a, la: f"-({a})", np.negative, _same_kind, 21),
    "absolute": _Op(_unary("abs"), np.absolute, _same_kind, 42),
    "sqrt": _Op(_unary("sqrt"), np.sqrt, _float_kind, 56),
    "cbrt": _Op(_unary("cbrt"), np.cbrt, _float_kind, 56),
    "exp": _Op(_unary("exp"), np.exp, _float_kind, 56),
    "expm1": _Op(_unary("expm1"), np.expm1, _float_kind, 56),
    "log": _Op(_sql_log("ln", 0.0), np.log, _float_kind, 280),
    "log10": _Op(_sql_log("log10", 0.0), np.log10, _float_kind, 280),
    "log1p": _Op(_sql_log("log1p", -1.0), np.log1p, _float_kind, 280),
    "sin": _Op(_unary("sin"), np.sin, _float_kind, 56),
    "cos": _Op(_unary("cos"), np.cos, _float_kind, 56),
    "tan": _Op(_unary("tan"), np.tan, _float_kind, 56),
    "arcsin": _Op(_unary("asin"), np.arcsin, _float_kind, 56),
    "arccos": _Op(_unary("acos"), np.arccos, _float_kind, 56),
    "arctan": _Op(_unary("atan"), np.arctan, _float_kind, 56),
    "sinh": _Op(_unary("sinh"), np.sinh, _float_kind, 56),
    "cosh": _Op(_unary("cosh"), np.cosh, _float_kind, 56),
    "tanh": _Op(_unary("tanh"), np.tanh, _float_kind, 56),
    "arcsinh": _Op(_unary("asinh"), np.arcsinh, _float_kind, 56),
    "arccosh": _Op(_unary("acosh"), np.arccosh, _float_kind, 56),
    "arctanh": _Op(_unary("atanh"), np.arctanh, _float_kind, 56),
    "arctan2": _Op(lambda a, b, la, lb: atan2_ieee(a, b), np.arctan2,
                   _float_kind, 630),
    "hypot": _Op(lambda a, b, la, lb: f"hypot({a}, {b})", np.hypot,
                 _float_kind, 70),
    "maximum": _Op(lambda a, b, la, lb: clamp(a, lo=b), np.maximum,
                   _arith_kind, 105),
    "minimum": _Op(lambda a, b, la, lb: clamp(a, hi=b), np.minimum,
                   _arith_kind, 126),
    "floor": _Op(_sql_rounding("floor({})"), np.floor, _float_kind, 245),
    "ceil": _Op(_sql_rounding("ceil({})"), np.ceil, _float_kind, 245),
    "trunc": _Op(_sql_rounding("CAST({} AS BIGINT)"), np.trunc,
                 _float_kind, 245),
    "rint": _Op(_unary("rint"), np.rint, _float_kind, 56),
    "to_int": _Op(_sql_to_int, _np_trunc_int, lambda k: "i", 210),
    "sign": _Op(_unary("signum"), np.sign, _same_kind, 56),
    "isnan": _Op(_unary("isnan"), np.isnan, _bool_kind, 42),
    "isfinite": _Op(lambda a, la: f"abs({a}) < {_INF}", np.isfinite,
                    _bool_kind, 70),
    "isinf": _Op(lambda a, la: f"abs({a}) = {_INF}", np.isinf,
                 _bool_kind, 70),
    "less": _Op(_sql_less("<"), np.less, _bool_kind, 84),
    "less_equal": _Op(_sql_less("<="), np.less_equal, _bool_kind, 84),
    "equal": _Op(_sql_equal, np.equal, _bool_kind, 84),
    "not_equal": _Op(_sql_not_equal, np.not_equal, _bool_kind, 84),
    "logical_and": _Op(lambda a, b, la, lb: f"{a} AND {b}", np.logical_and,
                       _bool_kind, 56),
    "logical_or": _Op(lambda a, b, la, lb: f"{a} OR {b}", np.logical_or,
                      _bool_kind, 56),
    "logical_not": _Op(lambda a, la: f"NOT {a}", np.logical_not,
                       _bool_kind, 28),
    "b_equal": _Op(lambda a, b, la, lb: f"{a} = {b}", np.equal, _bool_kind,
                   42),
    "b_not_equal": _Op(lambda a, b, la, lb: f"{a} <> {b}", np.not_equal,
                       _bool_kind, 42),
    "where": _Op(lambda c, a, b, lc, la, lb:
                 f"CASE WHEN {c} THEN {a} ELSE {b} END",
                 lambda c, a, b: np.where(c, a, b), lambda k: k[1], 84),
}

# NumPy ufunc name -> the name _lower takes
_UFUNCS = {n: n for n in _OPS
           if n not in ("where", "to_int", "b_equal", "b_not_equal")}
_UFUNCS.update(true_divide="divide", remainder="mod",
               square="square", reciprocal="reciprocal",
               greater="greater", greater_equal="greater_equal",
               bitwise_and="logical_and", bitwise_or="logical_or",
               invert="logical_not", bitwise_not="logical_not",
               logical_xor="not_equal", bitwise_xor="not_equal",
               positive="copy", conjugate="copy",
               deg2rad="radians", rad2deg="degrees", radians="radians",
               degrees="degrees")
_OPS["copy"] = _Op(lambda a, la: a, lambda v: v, _same_kind, 0)
_OPS["degrees"] = _Op(
    lambda a, la: f"{a} * {double(180.0 / math.pi)}", np.degrees,
    _float_kind, 28)
_OPS["radians"] = _Op(
    lambda a, la: f"{a} * {double(math.pi / 180.0)}", np.radians,
    _float_kind, 28)


def _choose_sql(node, argtext):
    table = ", ".join(double(v) for v in node[3])
    # the array of literals folds to one constant
    return (f"element_at(array({table}), CAST({argtext[0]} AS INT) + 1)",
            280)


# --- emission ----------------------------------------------------------------

_MARK = "\x01{}\x02"
_MARK_RE = re.compile("\x01(\\d+)\x02")


def _template(node, nodes):
    """(SQL with one marker per arg position, cost) of a non-leaf node."""
    op, args = node[:2]
    marks = [_MARK.format(k) for k in range(len(args))]
    if op == "choose":
        return _choose_sql(node, marks)
    spec = _OPS[op]
    lits = [nodes[a][1][0] if nodes[a][0] == "lit" else None for a in args]
    return spec.sql(*marks, *lits), spec.cost


def _leaf_text(node):
    v = node[1][0]
    if node[2] == "b":
        return "true" if v else "false"
    text = double(v)
    return f"({text})" if text.startswith("-") else text


def emit(st, kernel: Kernel, inputs: dict, tag: str):
    """Stage `kernel` in the stager `st` over `inputs` (input name ->
    SQL column ref); close its last codegen region when that region is
    estimated over CLOSE_COST.  Returns the x, y column refs."""
    nodes = kernel.nodes
    live = sorted(_reachable(nodes, (kernel.x, kernel.y)))
    templ, uses = {}, dict.fromkeys(live, 0)
    for i in live:
        if nodes[i][0] in ("in", "lit"):
            continue
        templ[i] = _template(nodes[i], nodes)
        text = templ[i][0]
        for k, a in enumerate(nodes[i][1]):
            uses[a] += text.count(_MARK.format(k))
    staged = {i for i in live if uses[i] > 1} | {kernel.x, kernel.y}
    text, level, cost, ref = {}, {}, {}, {}
    stages: dict[int, list[int]] = {}
    for i in live:
        op, args = nodes[i][:2]
        if op == "in":
            text[i], level[i], cost[i] = inputs[args[0]], 0, 0
            continue
        if op == "lit":
            text[i], level[i], cost[i] = _leaf_text(nodes[i]), 0, 0
            continue
        sql, c = templ[i]

        def arg_text(m, args=args):
            a = args[int(m.group(1))]
            if a in ref or nodes[a][0] in ("in", "lit"):
                return ref.get(a, text[a])
            return f"({text[a]})"

        text[i] = _MARK_RE.sub(arg_text, sql)
        level[i] = max((level[a] for a in args), default=0)
        cost[i] = c + sum(cost[a] for a in args if a not in ref)
        if i not in staged and len(text[i]) > _MAX_INLINE:
            staged.add(i)
        if i in staged:
            level[i] += 1
            stages.setdefault(level[i], []).append(i)
            ref[i] = st.col(f"{tag}{i}")
    open_stages, acc = st.open_region(), 0
    for lv in sorted(stages):
        members = stages[lv]
        c = sum(cost[i] for i in members)
        if open_stages and (acc + c > REGION_COST
                            or open_stages >= MAX_REGION_STAGES):
            st.barrier()
            open_stages, acc = 0, 0
        st.stage(**{f"{tag}{i}": text[i] for i in members})
        open_stages, acc = open_stages + 1, acc + c
    if acc > CLOSE_COST:
        st.barrier()
    return (ref.get(kernel.x, text[kernel.x]),
            ref.get(kernel.y, text[kernel.y]))
