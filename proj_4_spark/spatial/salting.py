"""Hot-cell skew salting + two-phase aggregation.

At 10^12 documents the cell histogram is power-law (cities): a plain
groupBy(cell) sends whole metros to single reducers.  north_rule demands
explicit salting (AQE skew-join is the backstop, not the plan):

  salt = int(pmod(xxhash64(doc_id), n_salt))
  phase 1: partial aggregate per (cell, salt)   -- map-side combine
  phase 2: final aggregate per cell             -- tiny shuffle

knn_join builds its (cell, salt) join keys from the same `salt_col`.
SURVEY.md §2.5 "hot-cell skew salting".
"""

from __future__ import annotations

from proj_4_spark.sqltext import quote_name
from proj_4_spark.templates import templated


def salt_expr(id_col: str, n_salt: int) -> str:
    """SQL text of the int salt in [0, n_salt) of column `id_col`."""
    return f"CAST(pmod(xxhash64({quote_name(id_col)}), {n_salt}) AS INT)"


def salt_col(id_col: str, n_salt: int):
    """Int column in [0, n_salt): the salt of each row's `id_col`."""
    from pyspark.sql import functions as F

    return F.expr(salt_expr(id_col, n_salt))


def salted_count(df, key_col: str = "cell", id_col: str = "doc_id", n_salt: int = 16):
    """Two-phase count per key: partial per (key, salt), final per key.

    Equivalent to df.groupBy(key).count() but with bounded reducer fan-in
    on hot keys.  Column names are read as ``F.col`` reads them,
    qualifiers included.  Analysed once per template key (the session,
    the three arguments, `df`'s output attributes with their qualifiers,
    the ANSI and case-sensitivity confs; proj_4_spark/templates.py) and
    rebound onto `df`, so it needs a Classic session."""
    return templated(_salted_count, (key_col, id_col, n_salt), df)


def _salted_count(df, key_col: str, id_col: str, n_salt: int):
    from pyspark.sql import functions as F

    partial = (df.withColumn("salt", salt_col(id_col, n_salt))
               .groupBy(key_col, "salt").agg(F.expr("count(*) AS partial_n")))
    return partial.groupBy(key_col).agg(F.expr("sum(partial_n) AS n"))
