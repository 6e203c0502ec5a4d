"""Spark SQL text for the plan builders.

The builders in ``docs/`` and ``spatial/`` and ``transform()``'s error
filter hand Spark SQL text to ``selectExpr``, ``where`` and ``F.expr``:
one py4j command per DataFrame step.  A Column built from
``pyspark.sql.functions`` costs a reflection lookup and a call per
function and per operator, and a py4j delete per proxy when Python
frees it.

Two rules keep the text equal to the Column it replaces: doubles are
written with a ``D`` suffix (Spark SQL parses ``180.0`` as DECIMAL), and
a caller's column name is quoted the way ``F.col`` parses it.  A column
the library names itself (an output) is written whole, as
``withColumn`` takes a name.  The builders close their codegen regions
with one barrier.
"""

from __future__ import annotations

import itertools
import math
import re

_PART = r"`(?:[^`]|``)*`|[^.`]+"
_NAME = re.compile(rf"(?:{_PART})(?:\.(?:{_PART}))*")


def quote_name(name: str) -> str:
    """``name`` as SQL text that resolves as ``F.col(name)`` does: a dot
    reaches a struct field (or follows a qualifier), a backticked part
    is taken whole with a doubled backtick standing for one, and every
    part comes out backticked.  Raises ValueError where ``F.col``
    raises (an unpaired backtick, an empty part)."""
    if not _NAME.fullmatch(name):
        raise ValueError(f"invalid column name syntax: {name!r}")
    return ".".join(p if p[0] == "`" else f"`{p}`"
                    for p in re.findall(_PART, name))


def identifier(name: str) -> str:
    """``name`` as one whole SQL identifier, as ``withColumn`` and
    ``drop`` take it: backticked, a backtick doubled, a dot kept."""
    return "`" + name.replace("`", "``") + "`"


def double(x: float) -> str:
    """A DOUBLE literal.  repr round-trips, so a Python-folded constant
    lands bit-exact; NaN and the infinities are casts from strings."""
    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return ("CAST('Infinity' AS DOUBLE)" if x > 0
                else "CAST('-Infinity' AS DOUBLE)")
    return f"{x!r}D"


_barrier_seq = itertools.count()


def codegen_barrier(df):
    """`df` under a CollectMetrics (observe) node with a fresh
    ``_jd_cgsplit_*`` name: Spark does not fuse whole-stage codegen
    across it, the optimizer neither collapses a Project nor pushes a
    Filter through it, and it costs one row-count accumulator."""
    from pyspark.sql import functions as F

    return df.observe(f"_jd_cgsplit_{next(_barrier_seq)}",
                      F.expr("count(1) AS rows"))


def column_sql(col) -> str | None:
    """SQL text of a Column that round-trips through the SQL parser: a
    plain column reference (``F.col``, name parts quoted) or SQL text
    (``F.expr``, parenthesised).  None for any other Column: a float
    literal would reparse as DECIMAL, and ``df["x"]`` is bound to its
    frame."""
    from py4j.java_gateway import JavaClass
    from pyspark import SparkContext

    node = col._jc.node()
    kind = node.getClass().getSimpleName()
    if kind == "UnresolvedAttribute":
        # the class by name: a JVM-view walk costs a lookup per package
        quoting = JavaClass("org.apache.spark.sql.catalyst.util.QuotingUtils",
                            SparkContext._gateway._gateway_client)
        return quoting.quoteNameParts(node.nameParts())
    if kind == "SqlExpression":
        return f"({node.expression()})"
    return None
