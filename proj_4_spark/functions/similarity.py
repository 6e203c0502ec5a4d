"""Similarity search over embedding columns (array<float>).

- cosine_topk:      brute-force exact top-k (the baseline and the recall
                    oracle): every corpus row is a candidate for every
                    query.
- lsh_bucket_topk:  random-hyperplane LSH, the scale path: candidates
                    only within the query's sign bucket and its Hamming
                    neighbours (`multiprobe`), exact re-rank.
- ivf_topk:         inverted-file coarse quantization: candidates only in
                    each query's `n_probe` nearest centroid lists.
- embedding_cosine_dedup: near-dup pairs by cosine >= threshold within
                    LSH buckets (embedding analogue of minhash dedup).
- signature_col / centroid_dots_col: the LSH signature and the centroid
                    dots as reusable columns.

One kernel path.  Every dot product, norm, signature and centroid
assignment, on the corpus side in executors and on the query side in
the driver, is `_seq_dots` / `_seq_rowdots` over float64 matrices.
They vectorize across ROWS but accumulate across the dim axis
j = 0, 1, ... one multiply-add at a time: the exact float32->float64
widening cast, the product, and a left-associated sum from 0.0 — the
same IEEE operation sequence as the DuckDB value oracles, which
compare at atol=0.  It is deliberately NOT a matmul: BLAS reassociates
the sum (blocking, pairwise partial sums, FMA) and changes the last
bits.  JVM expressions were measured and rejected: the `aggregate` /
`zip_with` higher-order functions are interpreted per element (~7 us
per 64-dim dot), and unrolled inline arithmetic (~80 bytecodes per
term) overflows HotSpot's 8,000-bytecode JIT ceiling at 64 dims and
janino's 64 KB method limit at 16x64 centroids.

Plan shape.  The query batch (tens of rows by the serving contract) is
collected once; its signatures, probe keys and norms are computed
driver-side (`_lsh_probe_map`, `_ivf_probe_map`).  ONE mapInArrow
corpus pass (`_candidates_map_arrow`) holds the query matrix as a
closure constant and emits narrow (vec_id, qi, dot, v_norm) candidate
rows for the probed keys only: the corpus vector crosses the
JVM/Python boundary exactly once and is never shipped per candidate.
The only Exchange is the ranking window's.

Ids.  Corpus and query ids must be integral Spark types (byte, short,
int, long); this is checked at plan time and results carry them as
long.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # noqa: F401 — pandas_udf resolves `pd.Series` hints

from proj_4_spark.scale import fan_out

# --- exact sequential NumPy kernels ----------------------------------------


def _as_f64(vs) -> np.ndarray:
    """(n, dim) float64 matrix from a pandas Series of float32 arrays
    (the widening cast is exact).  An empty batch gives a (0, 1)
    matrix, on which every kernel returns empty results."""
    if len(vs) == 0:
        return np.zeros((0, 1))
    return np.asarray(vs.tolist(), dtype=np.float64)


def _seq_dots(V: np.ndarray, M: np.ndarray) -> np.ndarray:
    """out[i, k] = <V[i], M[k]> with the sum accumulated SEQUENTIALLY
    over the dim axis (j = 0, 1, ...), vectorized over rows — the
    bit-identical IEEE sequence of the left-associated oracle sum
    starting at 0.0."""
    out = np.zeros((V.shape[0], M.shape[0]))
    for j in range(V.shape[1]):
        out += V[:, j:j + 1] * M[:, j][None, :]
    return out


def _seq_rowdots(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """out[i] = <A[i], B[i]>, same sequential accumulation."""
    acc = np.zeros(A.shape[0])
    for j in range(A.shape[1]):
        acc += A[:, j] * B[:, j]
    return acc


def _seq_norms(V: np.ndarray) -> np.ndarray:
    """sqrt(<v, v>): the row-wise self-dot (sqrt is correctly rounded
    everywhere — IEEE-exact across engines)."""
    return np.sqrt(_seq_rowdots(V, V))


def _pack_signature(dots: np.ndarray) -> np.ndarray:
    """int64 sign-bucket bits from (n, n_planes) raw dots: bit i set
    when dot_i > 0 (uint64 weight sum wraps bit 63 exactly like the
    JVM long addition)."""
    weights = (np.uint64(1) << np.arange(dots.shape[1], dtype=np.uint64))
    bits = dots > 0
    return (bits.astype(np.uint64) * weights).sum(axis=1).astype(np.int64)


def _lsh_signature(V: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """The LSH tag of each row: its packed sign-bucket signature."""
    return _pack_signature(_seq_dots(V, planes))


def _nearest_centroid(V: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """The IVF tag of each row: the index of its largest centroid dot,
    the first one on ties (the semantics of Spark's
    array_position(d, array_max(d)) - 1, NaN included)."""
    return np.argmax(_seq_dots(V, cents), axis=1).astype(np.int64)


def _one_key(V: np.ndarray) -> np.ndarray:
    """The brute-force tag: one key (0) for every row."""
    return np.zeros(V.shape[0], dtype=np.int64)


def _list_matrix_f64(arr) -> np.ndarray:
    """(n, dim) float64 from a pyarrow ListArray of float32: zero-copy
    flatten + one exact widening cast.  Every row must have the same
    width (a ragged batch raises ValueError); nulls take the per-row
    path."""
    if arr.null_count or len(arr) == 0:
        return np.asarray(arr.to_pylist(), dtype=np.float64)
    widths = np.unique(np.diff(np.asarray(arr.offsets)))
    if len(widths) != 1:
        raise ValueError("ragged vector batch: rows of widths "
                         f"{widths.tolist()} in one column (every "
                         "embedding must have the same dimension)")
    flat = np.asarray(arr.flatten())
    return flat.reshape(len(arr), int(widths[0])).astype(np.float64)


def _i64(mask: int) -> int:
    """Two's-complement fold of a 64-bit pattern in [0, 2^64) into a
    signed int64 (bit 63 of a signature/probe key must wrap, not
    overflow the JVM long)."""
    return mask - (1 << 64) if mask >= (1 << 63) else mask


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.Generator(np.random.PCG64(seed))
    return rng.standard_normal((n_planes, dim))


def _ivf_centroids(dim: int, n_centroids: int, seed: int,
                   centroids: np.ndarray | None = None) -> np.ndarray:
    """The IVF quantizer: `centroids` as float64 when given, else the
    seed-deterministic random-unit init (also train_centroids' start)."""
    if centroids is not None:
        return np.asarray(centroids, dtype=np.float64)
    rng = np.random.Generator(np.random.PCG64(seed))
    cents = rng.standard_normal((n_centroids, dim))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    return cents


# --- driver side: ids, query batch, probe planners -------------------------


def _require_integral_id(df, name: str) -> None:
    """Plan-time check of the long-id contract on `df`'s first column,
    selected from the caller's id column `name`: candidate rows carry
    `vec_id long` and the ranking casts query ids to long, so a
    non-integral id column would otherwise fail late in an executor."""
    from pyspark.sql.types import IntegralType

    t = df.schema[0].dataType
    if not isinstance(t, IntegralType):
        raise ValueError(
            f"id column {name!r} is {t.simpleString()}; ANN ids must be "
            "integral (byte, short, int or long)")


def _corpus(emb_df, id_col: str, vec_col: str):
    """The corpus frame (vec_id, v) after the id check, fanned out when
    its input is one large unsplittable file (scale.fan_out)."""
    from pyspark.sql import functions as F

    corpus = fan_out(emb_df, 32 << 20).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    _require_integral_id(corpus, id_col)
    return corpus


def _collect_query_batch(query_df, q_id_col: str, q_vec_col: str):
    """Driver-side materialization of the query batch (small by the
    serving contract — bounded by the batch, never the corpus): ids and
    the float64 query matrix (float32 -> float64 is exact)."""
    batch = query_df.select(q_id_col, q_vec_col)
    _require_integral_id(batch, q_id_col)
    rows = batch.collect()
    q_ids = [r[0] for r in rows]
    Q = (np.asarray([r[1] for r in rows], dtype=np.float64)
         if rows else np.zeros((0, 1)))
    return q_ids, Q


def _lsh_probe_map(Q: np.ndarray, planes: np.ndarray,
                   multiprobe: int) -> dict:
    """bucket -> indexes of the queries probing it.  Each query probes
    its own signature and every bucket within Hamming distance
    <= multiprobe (0, 1 or 2 flipped bits).  Keys are signed int64,
    the values `_pack_signature` gives corpus rows: flipping bit 63 of
    a 64-plane signature lands on a negative key.  A corpus row has ONE
    bucket and a query's masks are distinct, so each (row, query)
    candidate arises at most once."""
    n = planes.shape[0]
    masks = [0]
    if multiprobe >= 1:
        masks += [1 << i for i in range(n)]
    if multiprobe >= 2:
        masks += [(1 << i) | (1 << j)
                  for i in range(n) for j in range(i + 1, n)]
    probe_map: dict = {}
    for qi, s in enumerate(_lsh_signature(Q, planes)):
        bits = int(s) & ((1 << 64) - 1)
        for m in masks:
            probe_map.setdefault(_i64(bits ^ m), []).append(qi)
    return probe_map


def _ivf_probe_map(Q: np.ndarray, cents: np.ndarray, n_probe: int) -> dict:
    """list id -> indexes of the queries probing it: each query's
    n_probe best lists by descending centroid dot, index-ascending on
    ties (lexsort puts NaN last, Spark's NaN-greatest ordering of
    -dot)."""
    probe_map: dict = {}
    for qi, row in enumerate(_seq_dots(Q, cents)):
        order = np.lexsort((np.arange(row.shape[0]), -row))
        for lid in order[:n_probe]:
            probe_map.setdefault(int(lid), []).append(qi)
    return probe_map


# --- executor side: the one corpus candidate pass --------------------------

_CAND_SCHEMA = "vec_id long, qi int, dot double, v_norm double"


def _candidates_map_arrow(probe_map: dict, Q: np.ndarray, key):
    """mapInArrow factory: corpus rows (vec_id, v[, v_norm][, key]) ->
    candidate rows (vec_id, qi, dot, v_norm), with the query matrix and
    the probe map (key -> query indexes) as closure constants.  `key`
    is the name of a persisted key column (a prebuilt index) or a tag
    kernel V -> int64 keys (the in-query paths).  Norms come from a
    persisted `v_norm` column when the rows carry one, else from
    `_seq_norms`."""

    def _gen(it):
        for b in it:
            if len(b) == 0:
                continue
            V = _list_matrix_f64(b.column("v"))
            keys = key(V) if callable(key) else np.asarray(b.column(key))
            norms = (np.asarray(b.column("v_norm"))
                     if "v_norm" in b.schema.names else _seq_norms(V))
            batch = _emit_candidates(np.asarray(b.column("vec_id")), keys,
                                     V, norms, probe_map, Q)
            if batch is not None:
                yield batch

    return _gen


def _emit_candidates(vec_ids, keys, V, norms, probe_map: dict,
                     Q: np.ndarray):
    """For every key group whose key the probe map covers, exact dots
    vs that key's probing queries."""
    import pyarrow as pa

    out_vid, out_qi, out_dot, out_norm = [], [], [], []
    for key in np.unique(keys):
        qidx = probe_map.get(int(key))
        if qidx is None:
            continue
        sel = np.nonzero(keys == key)[0]
        zero = sel[norms[sel] == 0]
        if len(zero):
            raise ValueError(f"corpus vector vec_id={int(vec_ids[zero[0]])} "
                             "has zero norm: its cosine is undefined")
        dots = _seq_dots(V[sel], Q[qidx])  # (n_sel, n_q)
        n_sel, n_q = dots.shape
        out_vid.append(np.repeat(vec_ids[sel], n_q))
        out_qi.append(np.tile(np.asarray(qidx, dtype=np.int32), n_sel))
        out_dot.append(dots.ravel())
        out_norm.append(np.repeat(norms[sel], n_q))
    if not out_vid:
        return None
    return pa.RecordBatch.from_arrays(
        [pa.array(np.concatenate(out_vid), type=pa.int64()),
         pa.array(np.concatenate(out_qi), type=pa.int32()),
         pa.array(np.concatenate(out_dot), type=pa.float64()),
         pa.array(np.concatenate(out_norm), type=pa.float64())],
        ["vec_id", "qi", "dot", "v_norm"])


def _candidate_topk(corpus, key, probe_map: dict, Q: np.ndarray, q_ids,
                    k: int, raw_cosine: bool):
    """The corpus candidate pass, then the shared ranking tail: cosine
    = dot / (v_norm * q_norm) with the q-norm as a plan-time literal,
    q_id looked up from the collected batch, then the single-Exchange
    window top-k.  A zero-norm query raises here (plan time) and a
    zero-norm corpus candidate in the pass, each naming its id."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    q_norms = _seq_norms(Q)
    zero = np.nonzero(q_norms == 0)[0]
    if len(zero):
        raise ValueError(f"query vector q_id={q_ids[zero[0]]} has zero "
                         "norm: its cosine is undefined")
    cand = corpus.mapInArrow(_candidates_map_arrow(probe_map, Q, key),
                             _CAND_SCHEMA)
    if len(q_ids) == 0:
        qid_arr = F.expr("CAST(array() AS ARRAY<BIGINT>)")
        qn_arr = F.expr("CAST(array() AS ARRAY<DOUBLE>)")
    else:
        qid_arr = F.array(*[F.lit(int(v)).cast("long") for v in q_ids])
        qn_arr = F.array(*[F.lit(float(v)) for v in q_norms])
    cand = cand.select(
        F.element_at(qid_arr, F.col("qi") + 1).alias("q_id"),
        "vec_id",
        (F.col("dot") / (F.col("v_norm")
                         * F.element_at(qn_arr, F.col("qi") + 1)))
        .alias("cosine"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "vec_id")
    cos_out = F.col("cosine") if raw_cosine else F.round("cosine", 6)
    return (cand.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k)
                .select("q_id", "vec_id", "rank",
                        cos_out.alias("cosine")))


# --- pandas UDF wrappers of the kernels -------------------------------------


def _corpus_tag_udf(tag):
    """pandas UDF: (v_norm, key) per corpus vector in ONE Arrow hop;
    `tag` is a tag kernel V -> int64 keys (the kernel's matrix ships
    once per task as a closure constant)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("v_norm double, key long")
    def _tag(vs: pd.Series) -> pd.DataFrame:
        V = _as_f64(vs)
        return pd.DataFrame({"v_norm": _seq_norms(V), "key": tag(V)})

    return _tag


def _kernel_col(vec_col, return_type: str, kernel):
    """Column of `kernel(V)` per row, V the batch's float64 matrix."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(return_type)
    def _k(vs: pd.Series) -> pd.Series:
        return pd.Series(kernel(_as_f64(vs)))

    return _k(vec_col)


def _pair_cosine_udf():
    """pandas UDF: cosine of two corpus vectors, their exact sequential
    dot over the product of their norms (the candidate re-rank — one
    Arrow hop).  A zero-norm vector raises, naming its vec_id."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos(id_a: pd.Series, va: pd.Series, na: pd.Series,
             id_b: pd.Series, vb: pd.Series, nb: pd.Series) -> pd.Series:
        for ids, norms in ((id_a, na), (id_b, nb)):
            zero = np.nonzero(norms.to_numpy() == 0)[0]
            if len(zero):
                raise ValueError(f"corpus vector vec_id={int(ids.iloc[zero[0]])} "
                                 "has zero norm: its cosine is undefined")
        dots = _seq_rowdots(_as_f64(va), _as_f64(vb))
        return pd.Series(dots / (na.to_numpy() * nb.to_numpy()))

    return _cos


def signature_col(vec_col, planes: np.ndarray):
    """Sign-bucket signature column: bit i = (v . plane_i) > 0, packed
    into a long.  `vec_col` is a column NAME (str) or a Column."""
    P = np.asarray(planes, dtype=np.float64)
    return _kernel_col(vec_col, "long", lambda V: _lsh_signature(V, P))


def centroid_dots_col(vec_col, cents: np.ndarray):
    """array<double> of raw dot products v . centroid_i (no norm
    division: centroid argmax and probe ordering are invariant in the
    vector's positive norm, so the division is dead work).  `vec_col`
    is a column NAME (str) or a Column."""
    C = np.asarray(cents, dtype=np.float64)
    return _kernel_col(vec_col, "array<double>",
                       lambda V: list(_seq_dots(V, C)))


# --- public operators --------------------------------------------------------


def cosine_topk(emb_df, query_df, k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding",
                q_id_col: str = "q_id", q_vec_col: str = "embedding",
                raw_cosine: bool = False):
    """Exact brute-force cosine top-k: the candidate pass with one key
    covering every corpus row, probed by every query.

    Scale shape: the query batch is collected once (bounded by the
    batch contract), the corpus never shuffles, and the only Exchange
    is the final top-k window keyed by query.  Ids must be integral
    (module docstring); they come back as long."""
    corpus = _corpus(emb_df, id_col, vec_col)
    q_ids, Q = _collect_query_batch(query_df, q_id_col, q_vec_col)
    probe_map = {0: list(range(len(q_ids)))} if q_ids else {}
    return _candidate_topk(corpus, _one_key, probe_map, Q, q_ids, k,
                           raw_cosine)


def lsh_bucket_topk(emb_df, query_df, k: int = 5, n_planes: int = 8,
                    dim: int | None = None, seed: int = 42,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    q_id_col: str = "q_id", q_vec_col: str = "embedding",
                    multiprobe: int = 1, raw_cosine: bool = False):
    """ANN: hyperplane-LSH buckets + exact cosine re-rank inside the
    probed buckets.  `multiprobe` additionally probes buckets at
    Hamming distance <= multiprobe from the query signature (recall
    knob).

    Plan shape: the query batch is collected once and signed/probe-
    expanded driver-side; ONE mapInArrow corpus pass computes bucket +
    norm and emits exact dots only for probed buckets; the only
    Exchange is the ranking window's.  Approximate by construction —
    the oracle for recall evaluation is cosine_topk.

    `dim` (embedding width) is required: inferring it would cost an
    extra Spark job per plan construction.  Ids must be integral."""
    if dim is None:
        raise ValueError("dim is required (embedding width; avoids an "
                         "extra inference job per call)")
    planes = _hyperplanes(dim, n_planes, seed)
    corpus = _corpus(emb_df, id_col, vec_col)
    q_ids, Q = _collect_query_batch(query_df, q_id_col, q_vec_col)
    return _candidate_topk(corpus, lambda V: _lsh_signature(V, planes),
                           _lsh_probe_map(Q, planes, multiprobe), Q, q_ids,
                           k, raw_cosine)


def train_centroids(emb_df, n_centroids: int, dim: int, n_iter: int = 5,
                    seed: int = 42, vec_col: str = "embedding",
                    normalize: bool = True) -> np.ndarray:
    """Distributed spherical k-means (Lloyd) for the IVF coarse
    quantizer: assignment is one Arrow-batched sequential-dots pass per
    iteration, the update is ONE groupBy aggregation with map-side
    partial sums — no Python in the update.

    Returns (n_centroids, dim) float64 unit centroids, deterministic
    given the seed (empty clusters keep their previous centroid).
    Scale shape per iteration: one scan + one shuffle of n_centroids*dim
    partial sums — independent of corpus size beyond the scan."""
    from pyspark.sql import functions as F

    cents = _ivf_centroids(dim, n_centroids, seed)

    base = emb_df.select(F.col(vec_col).alias("v"))
    for _ in range(n_iter):
        dotted = base.select(
            "v", centroid_dots_col("v", cents).alias("_cd"))
        assigned = dotted.select(
            "v",
            (F.array_position(F.col("_cd"), F.array_max(F.col("_cd")))
             .cast("int") - 1).alias("list_id"),
        )
        # element-wise sums via posexplode + hash aggregate: map-side
        # partial aggregation shrinks the shuffle to n_centroids*dim
        # partials per task regardless of corpus size (collect_list-style
        # per-cluster materialization would not)
        sums = (assigned
                .select("list_id", F.posexplode("v").alias("i", "val"))
                .groupBy("list_id", "i")
                .agg(F.sum(F.col("val").cast("double")).alias("s"),
                     F.count("*").alias("n"))
                .collect())
        acc = np.zeros((n_centroids, dim))
        cnt = np.zeros(n_centroids, dtype=np.int64)
        for row in sums:
            # a non-finite corpus vector yields array_max=NaN ->
            # array_position null -> null list_id; skip it rather than
            # letting one bad vector abort training with a TypeError
            if row["list_id"] is None:
                continue
            acc[row["list_id"], row["i"]] = row["s"]
            cnt[row["list_id"]] = row["n"]
        new = cents.copy()
        nz = cnt > 0
        means = acc[nz] / cnt[nz, None]
        if normalize:
            nrm = np.linalg.norm(means, axis=1, keepdims=True)
            means = np.where(nrm > 0, means / np.where(nrm == 0, 1, nrm),
                             means)
        new[nz] = means
        cents = new
    return cents


def ivf_topk(emb_df, query_df, k: int = 5, n_centroids: int = 16,
             n_probe: int = 4, dim: int | None = None, seed: int = 42,
             id_col: str = "vec_id", vec_col: str = "embedding",
             q_id_col: str = "q_id", q_vec_col: str = "embedding",
             raw_cosine: bool = False,
             centroids: np.ndarray | None = None):
    """ANN via IVF (inverted-file) coarse quantization: corpus vectors
    are assigned to their nearest of `n_centroids` fixed random-unit
    centroids (or the given trained `centroids`); each query probes its
    `n_probe` nearest centroid lists and re-ranks exactly.

    Plan shape: ONE mapInArrow corpus pass assigns lists and emits
    exact dots for probed lists only — candidates = corpus x
    (n_probe / n_centroids), a recall/compute knob — with no corpus
    exchange (the persisted inverted file lives in ann_index.py).
    Approximate; recall vs cosine_topk pinned in tests.

    `dim` required (see lsh_bucket_topk).  Ids must be integral."""
    if dim is None:
        raise ValueError("dim is required (embedding width)")
    cents = _ivf_centroids(dim, n_centroids, seed, centroids)
    corpus = _corpus(emb_df, id_col, vec_col)
    q_ids, Q = _collect_query_batch(query_df, q_id_col, q_vec_col)
    return _candidate_topk(corpus, lambda V: _nearest_centroid(V, cents),
                           _ivf_probe_map(Q, cents, n_probe), Q, q_ids, k,
                           raw_cosine)


def embedding_cosine_dedup(emb_df, threshold: float = 0.95, n_planes: int = 12,
                           id_col: str = "vec_id", vec_col: str = "embedding",
                           seed: int = 42, dim: int | None = None,
                           max_bucket: int | None = 10000):
    """Near-duplicate vector pairs (cosine >= threshold) via LSH-bucketed
    self-join + exact verification; returns (id_a, id_b, cosine).

    `dim` (embedding width) is required — see lsh_bucket_topk.

    `max_bucket` DROPS buckets larger than the cap before the self-join
    — the same quadratic-blowup guard (and the same drop semantics) as
    minhash_lsh_pairs: a degenerate bucket (e.g. all-zero vectors
    sharing one signature) would otherwise go O(bucket^2).  Pairs inside
    a dropped bucket are missed — the recall trade the MinHash sibling
    documents.  None disables the cap.  A candidate pair with a
    zero-norm vector raises, naming its vec_id."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if dim is None:
        raise ValueError("dim is required (embedding width; avoids an "
                         "extra inference job per call)")
    planes = _hyperplanes(dim, n_planes, seed)
    tagged = emb_df.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"),
        _corpus_tag_udf(lambda V: _lsh_signature(V, planes))(
            F.col(vec_col)).alias("_t"),
    ).select("vec_id", "v", F.col("_t.v_norm").alias("n"),
             F.col("_t.key").alias("bucket"))
    if max_bucket is not None:
        tagged = (tagged.withColumn(
            "_bn", F.count("*").over(Window.partitionBy("bucket")))
            .where(F.col("_bn") <= max_bucket).drop("_bn"))
    a = tagged.select("bucket", F.col("vec_id").alias("id_a"),
                      F.col("v").alias("va"), F.col("n").alias("na"))
    b = tagged.select("bucket", F.col("vec_id").alias("id_b"),
                      F.col("v").alias("vb"), F.col("n").alias("nb"))
    pairs = a.join(b, "bucket").where(F.col("id_a") < F.col("id_b"))
    pairs = pairs.withColumn("cosine", _pair_cosine_udf()(
        "id_a", "va", "na", "id_b", "vb", "nb"))
    return (
        pairs.where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
        .distinct()
    )
