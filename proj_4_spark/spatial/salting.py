"""Hot-cell skew salting + two-phase aggregation.

At 10^12 documents the cell histogram is power-law (cities): a plain
groupBy(cell) sends whole metros to single reducers.  north_rule demands
explicit salting (AQE skew-join is the backstop, not the plan):

  salted = concat(cell, pmod(xxhash64(doc_id), n_salt))
  phase 1: partial aggregate per (cell, salt)   -- map-side combine
  phase 2: final aggregate per cell             -- tiny shuffle

SURVEY.md §2.5 "hot-cell skew salting".
"""

from __future__ import annotations


def with_salt(df, key_col: str = "cell", id_col: str = "doc_id",
              n_salt: int = 16, out_col: str = "salted_cell"):
    from pyspark.sql import functions as F

    return df.withColumn(
        out_col,
        F.concat_ws("#", F.col(key_col).cast("string"),
                    F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salt)).cast("string")),
    )


def salted_count(df, key_col: str = "cell", id_col: str = "doc_id", n_salt: int = 16):
    """Two-phase count per key: partial per (key, salt), final per key.

    Equivalent to df.groupBy(key).count() but with bounded reducer fan-in
    on hot keys."""
    from pyspark.sql import functions as F

    salted = with_salt(df, key_col, id_col, n_salt)
    partial = salted.groupBy(key_col, "salted_cell").agg(F.count("*").alias("partial_n"))
    return partial.groupBy(key_col).agg(F.sum("partial_n").alias("n"))
