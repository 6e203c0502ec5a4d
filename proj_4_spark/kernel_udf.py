"""The one Arrow boundary of the float64 NumPy-kernel UDFs: every pandas
UDF under ``engine/`` and ``spatial/`` is built by ``kernel_columns``
(tests/test_ratchet.py keeps it so).  PROJ marks an errored coordinate
with HUGE_VAL in every component (src/4D_api.cpp); here it is NaN, on
the Catalyst twins and on every UDF surface alike.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def kernel_columns(kernel, inputs, fields, ints=()):
    """{field: Column} of `kernel` over `inputs` (names read as ``F.col``
    reads them, or Columns), each cast to double.

    kernel(*arrays) gets one float64 array per input, one Arrow batch
    long, a NULL read as NaN, and returns one array per field, in
    `fields` order; fields in `ints` are int, the rest double.  The UDF
    (named after `kernel`) returns one struct, evaluated once per row:
    every Column reads a field of the same deterministic call, which
    ExtractPythonUDFs evaluates once.  A double field reads
    ``coalesce(field, NaN)``, because pandas NaN crosses Arrow as NULL;
    an int field passes through.  Write the Columns in one
    ``withColumns``."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    def batch(*cols: pd.Series) -> pd.DataFrame:
        out = kernel(*(c.to_numpy(dtype=np.float64, na_value=np.nan)
                       for c in cols))
        return pd.DataFrame(dict(zip(fields, out)))

    batch.__name__ = batch.__qualname__ = kernel.__name__
    schema = ", ".join(f"{f} {'int' if f in ints else 'double'}"
                       for f in fields)
    res = pandas_udf(schema)(batch)(
        *((F.col(c) if isinstance(c, str) else c).cast("double")
          for c in inputs))
    nan = F.lit(float("nan"))
    return {f: res[f] if f in ints else F.coalesce(res[f], nan)
            for f in fields}
