"""Deduplication operators for large-scale training-data pipelines.

- exact_dedup:     hash-groupBy on canonical text (map-side combine;
                   one shuffle on the hash key)
- minhash_lsh:     shingle -> minhash signature -> band-bucket join
                   (near-dup candidate pairs without O(n^2))
- simhash:         64-bit simhash + Hamming-ball bucketing
- ngram_jaccard:   exact Jaccard on shingle sets for candidate pairs

Scale notes: every stage is a single shuffle keyed on a hash/band
bucket; signatures are computed in one Arrow-batched pandas UDF per doc
(NumPy across the shingle x permutation matrix).  Hot buckets (boilerplate
docs) are capped by `max_bucket` to bound reducer fan-in — the dedup
analogue of hot-cell salting.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from proj_4_spark.scale import fan_out

# fan-out floor of the per-document Python passes: shingling costs ~10x
# more per byte than the ANN dot pass (32 MiB), so it pays off sooner
_FAN_OUT_BYTES = 4 << 20

# 31-bit universe keeps (a*x + b) < 2^63: exact in int64, no bigint path
_MERSENNE = (1 << 31) - 1


def _hash_params(num_perm: int, seed: int = 42):
    rng = np.random.Generator(np.random.PCG64(seed))
    a = rng.integers(1, _MERSENNE, num_perm, dtype=np.int64)
    b = rng.integers(0, _MERSENNE, num_perm, dtype=np.int64)
    return a, b


def _shingle_batch(texts, k: int = 5, unique: bool = False):
    """Character k-shingle hashes (FNV-1a) of a whole Arrow batch in
    ONE vectorized pass (no per-doc NumPy churn).

    Returns (hashes, offsets, counts): every doc's shingle hashes
    concatenated doc-by-doc (uint64), doc i occupying
    hashes[offsets[i] : offsets[i] + counts[i]].  counts[i] >= 1 always
    (short texts are space-padded to k).  With unique=True each doc's
    segment is deduplicated (costs a lexsort — skip it when the consumer
    is multiset-invariant, e.g. a min-reduce).
    """
    bufs = []
    for t in texts:  # cheap encode-only loop; all hashing is vectorized
        d = (t or "").encode("utf-8", "ignore")
        if len(d) < k:
            d = d + b" " * (k - len(d))
        bufs.append(d)
    n_docs = len(bufs)
    lens = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=n_docs)
    flat = np.frombuffer(b"".join(bufs), dtype=np.uint8).astype(np.uint64)
    # FNV-1a over every window of the concatenated buffer, then mask out
    # windows that straddle a document boundary
    n_win_total = len(flat) - k + 1
    h = np.full(n_win_total, 0xCBF29CE484222325, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for i in range(k):
            h = (h ^ flat[i : i + n_win_total]) * np.uint64(0x100000001B3)
    doc_starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    n_win = lens - (k - 1)
    valid = np.zeros(n_win_total + 1, dtype=np.int64)
    np.add.at(valid, doc_starts, 1)
    np.add.at(valid, doc_starts + n_win, -1)
    mask = np.cumsum(valid[:-1]) > 0
    h = h[mask]
    if not unique:
        offsets = np.concatenate([[0], np.cumsum(n_win)[:-1]])
        return h, offsets, n_win
    doc_idx = np.repeat(np.arange(n_docs), n_win)
    # per-doc unique: sort by (doc, hash), drop adjacent duplicates
    order = np.lexsort((h, doc_idx))
    hs, di = h[order], doc_idx[order]
    keep = np.ones(len(hs), dtype=bool)
    keep[1:] = (hs[1:] != hs[:-1]) | (di[1:] != di[:-1])
    hs, di = hs[keep], di[keep]
    counts = np.bincount(di, minlength=n_docs)
    offsets = np.concatenate([[0], np.cumsum(counts)[:-1]])
    return hs, offsets, counts


def exact_dedup(df, text_col: str = "text", id_col: str = "doc_id"):
    """Exact duplicate groups: md5(text) -> (hash, n_docs, keep_id).
    keep_id = min id (deterministic survivor)."""
    from pyspark.sql import functions as F

    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id"))
    )


def minhash_signatures(df, text_col: str = "text", id_col: str = "doc_id",
                       num_perm: int = 64, k: int = 5, seed: int = 42):
    """Add a minhash signature column (array<long>, length num_perm)."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    a, b = _hash_params(num_perm, seed)

    @pandas_udf("array<long>")
    def _sig(texts: pd.Series) -> pd.Series:
        # Adaptive batch kernel (microbenched, BENCH/BASELINE.md §dedup):
        # for SHORT docs the per-doc NumPy call overhead dominates, so a
        # fully flattened path (one FNV pass + packed per-doc unique +
        # per-perm 1-D minimum.reduceat) wins ~4x; for LONG docs the
        # (a*x+b) mod p arithmetic dominates and the per-doc matrix form
        # is already at NumPy's ALU/DRAM bound, and the flattened path's
        # global np.unique sort only adds cost.  Both give identical
        # signatures; pick by mean doc length.
        n = len(texts)
        if n == 0:
            return pd.Series([], dtype=object)
        hs, offsets, counts = _shingle_batch(texts, k)
        n_docs = len(offsets)
        mean_windows = len(hs) / max(n_docs, 1)
        if mean_windows <= 120:
            di = np.repeat(np.arange(n_docs, dtype=np.int64), counts)
            key = np.unique(
                (di << 31) | (hs & np.uint64(0x7FFFFFFF)).astype(np.int64)
            )
            sh31 = key & _MERSENNE  # 2^31-1 mask == the 31-bit fold
            ucounts = np.bincount(key >> 31, minlength=n_docs)
            uoffs = np.concatenate([[0], np.cumsum(ucounts)[:-1]])
            mins = np.empty((n_docs, len(a)), dtype=np.int64)
            for j in range(len(a)):
                # (a*x+b) mod p: 31-bit operands keep products exact int64
                mins[:, j] = np.minimum.reduceat(
                    (a[j] * sh31 + b[j]) % _MERSENNE, uoffs
                )
            return pd.Series(mins.tolist())
        ends = np.concatenate([offsets[1:], [len(hs)]])
        out = np.empty((n_docs, len(a)), dtype=np.int64)
        arow, brow = a[None, :], b[None, :]
        for i in range(n_docs):
            sh = np.unique(
                (hs[offsets[i]:ends[i]] & np.uint64(0x7FFFFFFF)).astype(np.int64)
            )
            out[i] = ((arow * sh[:, None] + brow) % _MERSENNE).min(axis=0)
        return pd.Series(out.tolist())

    return fan_out(df, _FAN_OUT_BYTES).select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    ).withColumn("sig", _sig(F.col("text")))


def minhash_lsh_pairs(df, text_col: str = "text", id_col: str = "doc_id",
                      num_perm: int = 64, bands: int = 16, k: int = 5,
                      seed: int = 42, max_bucket: int = 1000):
    """Near-duplicate candidate pairs via banded LSH.

    Plan: signature UDF -> explode band digests -> self-join per
    (band, digest) bucket -> distinct pairs.  Buckets larger than
    `max_bucket` are dropped (boilerplate guard; logged upstream)."""
    from pyspark.sql import functions as F

    rows_per_band = num_perm // bands
    sigs = minhash_signatures(df, text_col, id_col, num_perm, k, seed)
    banded = sigs.select(
        "doc_id",
        F.posexplode(
            F.array(*[
                F.xxhash64(F.concat_ws(",", *[
                    F.col("sig")[i].cast("string")
                    for i in range(bd * rows_per_band, (bd + 1) * rows_per_band)
                ]))
                for bd in range(bands)
            ])
        ).alias("band", "digest"),
    )
    # bucket-size guard (boilerplate shield)
    from pyspark.sql import Window

    sized = banded.withColumn(
        "bucket_n", F.count("*").over(Window.partitionBy("band", "digest"))
    ).where(F.col("bucket_n") <= max_bucket)
    a = sized.select("band", "digest", F.col("doc_id").alias("id_a"))
    b = sized.select("band", "digest", F.col("doc_id").alias("id_b"))
    return (
        a.join(b, ["band", "digest"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def simhash_col(df, text_col: str = "text", id_col: str = "doc_id", k: int = 5):
    """64-bit simhash per doc (bit-majorities over shingle hashes,
    frequency-weighted Charikar-style: each occurrence votes), as a long
    column."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _sim(texts: pd.Series) -> pd.Series:
        # One flattened shingle pass per batch; per-bit popcounts via
        # np.add.reduceat.  Vote math is SIGNED int64 — the previous
        # per-doc version did `2*sum(uint64) - len`, which wraps negative
        # votes to huge positives and set nearly every bit.
        # Votes are FREQUENCY-WEIGHTED (multiset, Charikar-style): a
        # shingle occurring m times contributes m votes — no per-doc
        # dedup sort needed, and repeats of boilerplate weigh more.
        if len(texts) == 0:  # empty Arrow batch: _shingle_batch would raise
            return pd.Series([], dtype="int64")
        hs, offsets, counts = _shingle_batch(texts, k)
        n_docs = len(offsets)
        word = np.zeros(n_docs, dtype=np.uint64)
        cnt = counts.astype(np.int64)
        for j in range(64):
            ones = np.add.reduceat(
                ((hs >> np.uint64(j)) & np.uint64(1)).astype(np.int64), offsets
            )
            votes = 2 * ones - cnt
            word |= (votes > 0).astype(np.uint64) << np.uint64(j)
        return pd.Series(word.astype(np.int64))

    return fan_out(df, _FAN_OUT_BYTES).select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    ).withColumn("simhash", _sim(F.col("text")))


def ngram_jaccard_pairs(df, text_col: str = "text", id_col: str = "doc_id",
                        k: int = 5, threshold: float = 0.7,
                        num_perm: int = 64, bands: int = 16, seed: int = 42):
    """Exact Jaccard on LSH candidate pairs (verify stage after
    minhash_lsh_pairs): returns (id_a, id_b, jaccard >= threshold)."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    pairs = minhash_lsh_pairs(df, text_col, id_col, num_perm, bands, k, seed)
    texts = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    joined = (
        pairs.join(texts.withColumnRenamed("doc_id", "id_a")
                   .withColumnRenamed("text", "text_a"), "id_a")
        .join(texts.withColumnRenamed("doc_id", "id_b")
              .withColumnRenamed("text", "text_b"), "id_b")
    )

    @pandas_udf("double")
    def _jac(ta: pd.Series, tb: pd.Series) -> pd.Series:
        # Vectorized pairwise intersection: hash both sides in one
        # flattened pass, tag every unique shingle with its pair index,
        # sort (pair, hash) and count adjacent duplicates — each dup is
        # one element of |A ∩ B| for that pair.
        n = len(ta)
        if n == 0:
            return pd.Series(np.empty(0))
        ha, offa, cnta = _shingle_batch(ta, k)  # fold+uniq done below
        hb, offb, cntb = _shingle_batch(tb, k)
        # NOTE: per-side hashes are unique per doc at 64 bits; Jaccard is
        # defined on the 31-bit-folded universe (matches the minhash
        # permutation domain), so fold then re-unique per side.
        pa = np.repeat(np.arange(n, dtype=np.int64), cnta)
        pb = np.repeat(np.arange(n, dtype=np.int64), cntb)
        fa = (ha & np.uint64(0x7FFFFFFF)).astype(np.int64)
        fb = (hb & np.uint64(0x7FFFFFFF)).astype(np.int64)

        def _uniq(p, f):
            order = np.lexsort((f, p))
            p2, f2 = p[order], f[order]
            keep = np.ones(len(p2), dtype=bool)
            keep[1:] = (f2[1:] != f2[:-1]) | (p2[1:] != p2[:-1])
            return p2[keep], f2[keep]

        pa, fa = _uniq(pa, fa)
        pb, fb = _uniq(pb, fb)
        na = np.bincount(pa, minlength=n)
        nb = np.bincount(pb, minlength=n)
        pc = np.concatenate([pa, pb])
        fc = np.concatenate([fa, fb])
        order = np.lexsort((fc, pc))
        pc, fc = pc[order], fc[order]
        dup = (pc[1:] == pc[:-1]) & (fc[1:] == fc[:-1])
        inter = np.bincount(pc[1:][dup], minlength=n)
        union = na + nb - inter
        return pd.Series(
            np.where(union > 0, inter / np.maximum(union, 1), 1.0)
        )

    return (
        joined.withColumn("jaccard", _jac(F.col("text_a"), F.col("text_b")))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )
