"""Dump the staged Spark SQL of every Catalyst twin, with no Spark.

    python tools/dump_twin_sql.py OUT

`_SqlStager.apply` is replaced by a capture of (stages, barriers,
final select list), and the emitter `_emit_twin` is called with
`transform()`'s defaults and no frame for every (proj-string,
direction) pair whose `describe_route` is not "udf".  The pairs are
all EPSG/ESRI/IGNF catalog presets plus every
proj-string literal in tests/ and perfbench/inputs.py, in both
directions.  Each twin runs in three call shapes: degrees on without
z/t, degrees off with z and t columns, and out_prefix="o_".

OUT gets one line per pair: route, direction, the sha256 of the three
captured SQL lists ("-" for a pair off the twins) and the proj-string.
A pair whose operation cannot be built reads `error:ProjError` as its
route.  stdout gets one line per route: its pair count and the sha256
of its OUT lines.  The same file run in two checkouts shows whether a
refactor kept the twins' SQL byte-identical.
"""
import ast
import collections
import glob
import hashlib
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from proj_4_spark.engine import spark as S  # noqa: E402
from proj_4_spark.kernels.base import ProjError  # noqa: E402
from proj_4_spark.sources.epsg_generated import (  # noqa: E402
    ESRI_PRESETS,
    IGNF_PRESETS,
    PRESETS,
)

SHAPES = (
    dict(),
    dict(z="z", t="t", degrees=False),
    dict(out_prefix="o_"),
)


def _literal_projstrings(paths):
    """String literals that read as proj-strings (adjacent literals are
    one constant in the AST, so split-line strings come out whole)."""
    found = set()
    for path in paths:
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        for node in ast.walk(tree):
            if (isinstance(node, ast.Constant) and isinstance(node.value, str)
                    and node.value.lstrip().startswith(
                        ("+proj=", "+init=", "proj="))):
                found.add(node.value)
    return sorted(found)


def corpus():
    for auth, presets in (("EPSG", PRESETS), ("ESRI", ESRI_PRESETS),
                          ("IGNF", IGNF_PRESETS)):
        for code in presets:
            yield f"{auth}:{code}"
    paths = sorted(glob.glob(os.path.join(REPO, "tests", "*.py")))
    paths.append(os.path.join(REPO, "perfbench", "inputs.py"))
    yield from _literal_projstrings(paths)


def _staged(ps, direction, x="x", y="y", z=None, t=None, degrees=True,
            out_prefix=""):
    """What `transform()` stages for (ps, direction), with no frame."""
    plan = S._twin_plan(S._cached_operation(ps), direction)
    return S._emit_twin(None, plan, x, y, z, t, degrees, out_prefix)


def main(out_path: str) -> None:
    def capture(self, df, final_exprs, *out_names):
        return self.stages, sorted(self._barriers), final_exprs

    S._SqlStager.apply = capture
    per_route = collections.defaultdict(list)
    with open(out_path, "w") as out:
        for ps in corpus():
            for d in ("fwd", "inv"):
                try:
                    route = S.describe_route(ps, d)
                except ProjError:
                    route = "error:ProjError"
                digest = "-"
                if route not in ("udf", "error:ProjError"):
                    sql = [_staged(ps, d, **kw) for kw in SHAPES]
                    digest = hashlib.sha256(repr(sql).encode()).hexdigest()
                line = f"{route}\t{d}\t{digest}\t{ps!r}\n"
                out.write(line)
                per_route[route].append(line)
    for route in sorted(per_route):
        lines = per_route[route]
        h = hashlib.sha256("".join(lines).encode()).hexdigest()
        print(f"{route}\t{len(lines)}\t{h}")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
