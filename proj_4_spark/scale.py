"""Scale policies: partitioning sized from cheap input statistics.

Every size-dependent choice the library makes reads the parquet
footers under a frame's scans, driver-side (no Spark job).  A frame
with no parquet input (createDataFrame, range), or with files pyarrow
cannot open (s3a://, dbfs:, hdfs:// without libhdfs), reports zeros,
so every policy falls back to its small-input answer.

- `knn_res`: the kNN cell resolution (spatial/knn.knn_join).
- `fan_out`: the round-robin repartition in front of a per-row Python
  pass over an input Spark cannot split (functions/similarity, dedup).
- ANN-index freshness: functions/ann_index records the index's footer
  row count and the source's bytes in the sidecar; a caller compares
  them with `parquet_stats` of its source.
"""

from __future__ import annotations

import math


def _input_files(df) -> set[str]:
    """The files under the file-source scans of `df`'s ANALYZED plan.
    `DataFrame.inputFiles()` reads the optimized plan, where a cached
    source has already been swapped for its in-memory relation."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    files = set()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if (leaf.nodeName() == "LogicalRelation" and leaf.relation()
                .getClass().getSimpleName() == "HadoopFsRelation"):
            files.update(leaf.relation().inputFiles())
    return files


def parquet_stats(df) -> tuple[int, int, int]:
    """(rows, bytes, row_groups) summed over the footers of the parquet
    files `df` scans; a file pyarrow cannot read counts as nothing."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyarrow.fs import FileSystem

    rows = size = groups = 0
    for uri in _input_files(df):
        try:
            fs, path = FileSystem.from_uri(uri)
            with fs.open_input_file(path) as fh:
                meta = pq.ParquetFile(fh).metadata
                size += fh.size()
        except (pa.ArrowException, OSError):
            continue
        rows += meta.num_rows
        groups += meta.num_row_groups
    return rows, size, groups


def knn_res(rows: int) -> int:
    """Cell resolution for a kNN join over `rows` points: 4 up to 100k
    rows, then +1 per 4x (each level quarters the cell area, so rows
    per cell and ring candidates stay flat), capped at 9."""
    if rows <= 100_000:
        return 4
    return min(4 + round(math.log(rows / 100_000, 4)), 9)


def fan_out(df, min_bytes: int):
    """`df` repartitioned to defaultParallelism when its parquet input
    holds at least `min_bytes` in fewer row groups (Spark's unit of
    split) than that; else `df` as is.  Every file is at least one
    split, so footers are read only below `target` files.  `min_bytes`
    is the floor below which the one-task Python pass is cheaper than
    the shuffle, set by its per-byte cost."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if len(_input_files(df)) >= target:
        return df
    _, size, groups = parquet_stats(df)
    if size >= min_bytes and groups < target:
        return df.repartition(target)
    return df
