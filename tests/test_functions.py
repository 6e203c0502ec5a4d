"""Training-data operator tests: dedup, similarity, text, multimodal."""

import numpy as np
import pytest

pyspark = pytest.importorskip("pyspark")

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


def test_exact_dedup_finds_planted_dups(spark):
    from proj_4_spark.functions.dedup import exact_dedup

    rows = [(i, "unique text %d" % i) for i in range(50)]
    rows += [(100 + i, "same text") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    groups = exact_dedup(df, "text", "doc_id").toPandas()
    dup = groups[groups.n_docs > 1]
    assert len(dup) == 1
    assert dup.iloc[0].n_docs == 5
    assert dup.iloc[0].keep_id == 100


def test_minhash_lsh_finds_near_dups(spark):
    from proj_4_spark.functions.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    base = ("the quick brown fox jumps over the lazy dog and then runs far "
            "away into the deep dark forest looking for interesting food")
    rows = [(0, base), (1, base.replace("dog", "cat")),  # near-dup pair
            (2, "completely different content about spark query planning"),
            (3, "another unrelated string with nothing shared at all here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_lsh_pairs(df, "text", "doc_id", num_perm=64, bands=16)
    got = {tuple(r) for r in pairs.toPandas().to_numpy().tolist()}
    assert (0, 1) in got
    assert (2, 3) not in got
    verified = ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.7).toPandas()
    assert ((verified.id_a == 0) & (verified.id_b == 1)).any()


def test_simhash_similar_docs_close(spark):
    from proj_4_spark.functions.dedup import simhash_col

    base = "word " * 50 + "ending one two three four five six seven"
    rows = [(0, base), (1, base + " tiny change"), (2, "totally different " * 10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = {r.doc_id: r.simhash for r in simhash_col(df).collect()}

    def hamming(a, b):
        return bin((a & 0xFFFFFFFFFFFFFFFF) ^ (b & 0xFFFFFFFFFFFFFFFF)).count("1")

    assert hamming(sh[0], sh[1]) < hamming(sh[0], sh[2])


def test_cosine_topk_matches_numpy(spark):
    from proj_4_spark.functions.similarity import cosine_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.where("vec_id < 5").selectExpr("vec_id as q_id", "embedding")
    got = cosine_topk(emb, queries, k=3).toPandas()

    pdf = emb.toPandas()
    M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()
    norms = np.linalg.norm(M, axis=1)
    for q in range(5):
        qi = np.where(ids == q)[0][0]
        cos = (M @ M[qi]) / (norms * norms[qi])
        order = sorted(range(len(ids)), key=lambda i: (-cos[i], ids[i]))[:3]
        expect_ids = [int(ids[i]) for i in order]
        got_q = got[got.q_id == q].sort_values("rank")["vec_id"].tolist()
        assert got_q == expect_ids, (q, got_q, expect_ids)


def test_lsh_ann_recall(spark):
    from proj_4_spark.functions.similarity import cosine_topk, lsh_bucket_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.where("vec_id < 10").selectExpr("vec_id as q_id", "embedding")
    exact = cosine_topk(emb, queries, k=5).toPandas()
    approx = lsh_bucket_topk(emb, queries, k=5, n_planes=8, dim=64, multiprobe=2).toPandas()
    # recall@5 over 10 queries.  NOTE: uniform-random embeddings are the
    # adversarial case for hyperplane LSH (neighbors are barely closer
    # than strangers); real embedding manifolds cluster far better.  The
    # exact path is the oracle; this asserts the bucket machinery works.
    hits = 0
    for q in range(10):
        e = set(exact[exact.q_id == q]["vec_id"])
        a = set(approx[approx.q_id == q]["vec_id"])
        hits += len(e & a)
    assert hits / 50 >= 0.35


def test_text_functions_sane(spark, docs):
    from proj_4_spark.functions.text import (
        lang_id_col,
        quality_score_col,
        token_count_col,
    )

    out = docs.select(
        "lang",
        token_count_col(F.col("text")).alias("n_tok"),
        quality_score_col(F.col("text")).alias("q"),
        lang_id_col(F.col("text")).alias("pred"),
    ).toPandas()
    assert (out["n_tok"] > 0).all()
    assert out["q"].between(0, 1.001).all()
    assert set(out["pred"]) <= {"de", "en", "es", "fr", "und"}


def test_multimodal_feature_shapes(spark):
    from proj_4_spark.functions.multimodal import (
        extract_features,
        frame_sample,
        synth_media_table,
    )

    media = synth_media_table(spark, 60)
    feats = extract_features(media).toPandas()
    assert len(feats) == 60
    assert all(len(f) == 8 for f in feats["features"])
    # deterministic payloads and decode -> same features
    feats2 = extract_features(synth_media_table(spark, 60)).toPandas()
    assert np.allclose(
        np.stack(feats.sort_values("media_id")["features"].to_numpy()),
        np.stack(feats2.sort_values("media_id")["features"].to_numpy()),
    )
    frames = frame_sample(media, every_n=2).toPandas()
    # 1/3 of media are Y4M video with 4 frames, sampled every 2 -> 2 rows
    assert len(frames) == 20 * 2
    assert set(frames["frame_idx"]) == {0, 2}


def test_ivf_ann_recall(spark):
    from proj_4_spark.functions.similarity import cosine_topk, ivf_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.where("vec_id < 10").selectExpr("vec_id as q_id", "embedding")
    exact = cosine_topk(emb, queries, k=5).toPandas()
    approx = ivf_topk(emb, queries, k=5, n_centroids=16, n_probe=6,
                      dim=64).toPandas()
    # same caveat as the LSH test: uniform-random embeddings are the
    # adversarial case for coarse quantization; n_probe/n_centroids =
    # 6/16 scans ~38% of the corpus, so recall must beat that baseline
    hits = 0
    for q in range(10):
        e = set(exact[exact.q_id == q]["vec_id"])
        a = set(approx[approx.q_id == q]["vec_id"])
        hits += len(e & a)
    assert hits / 50 >= 0.5
    # a query vector that IS a corpus vector must always find itself
    assert all(
        q in set(approx[approx.q_id == q]["vec_id"]) for q in range(10)
    )


def test_embedding_cosine_dedup_exact_pairs(spark):
    """LSH-bucketed embedding dedup vs exact all-pairs on planted
    near-duplicate vectors: every planted pair (cosine ~0.999) must be
    found; no pair below threshold may appear."""
    import numpy as np

    from proj_4_spark.functions.similarity import embedding_cosine_dedup

    rng = np.random.Generator(np.random.PCG64(5))
    base = rng.standard_normal((40, 16))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        if i % 4 == 0:  # plant a near-dup: tiny perturbation
            w = v + 0.01 * rng.standard_normal(16)
            rows.append((100 + i, [float(x) for x in w]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = embedding_cosine_dedup(df, threshold=0.99, n_planes=6, dim=16)
    pairs = {(r.id_a, r.id_b) for r in got.collect()}
    planted = {(i, 100 + i) for i in range(0, 40, 4)}
    assert planted <= pairs, planted - pairs
    # verify no false positives vs exact computation
    M = np.array([r[1] for r in rows])
    ids = [r[0] for r in rows]
    C = (M @ M.T) / (np.linalg.norm(M, axis=1)[:, None]
                     * np.linalg.norm(M, axis=1)[None, :])
    for a, b in pairs:
        ia, ib = ids.index(a), ids.index(b)
        assert C[ia, ib] >= 0.99 - 1e-6


def test_embedding_cosine_dedup_zero_norm_pair_raises(spark):
    """Two all-zero vectors share the all-negative LSH bucket: the pair
    re-rank raises a ValueError naming a vec_id, as the ANN operators
    do, instead of Spark's DIVIDE_BY_ZERO aborting the job."""
    from proj_4_spark.functions.similarity import embedding_cosine_dedup

    df = spark.createDataFrame(
        [(0, [0.0] * 4), (1, [0.0] * 4), (2, [1.0, 2.0, 3.0, 4.0]),
         (3, [1.0, 2.0, 3.0, 4.1])], "vec_id long, embedding array<float>")
    with pytest.raises(Exception, match=r"ValueError: corpus vector "
                                        r"vec_id=[01] has zero norm"):
        embedding_cosine_dedup(df, threshold=0.9, n_planes=4, dim=4).collect()
    got = embedding_cosine_dedup(df.where("vec_id >= 2"), threshold=0.9,
                                 n_planes=4, dim=4).collect()
    assert [(r.id_a, r.id_b) for r in got] == [(2, 3)]


def test_codecs_roundtrip_exact():
    """Pure-NumPy BMP / WAV-PCM16 / Y4M codecs: encode -> decode must be
    bit-exact (incl. BMP row padding and bottom-up order)."""
    import numpy as np

    from proj_4_spark.functions.codecs import (
        decode_bmp, decode_wav, decode_y4m,
        encode_bmp, encode_wav, encode_y4m, sniff_and_decode,
    )

    rng = np.random.Generator(np.random.PCG64(11))
    img = rng.integers(0, 256, (13, 7, 3), dtype=np.uint8)  # odd width: padding
    assert np.array_equal(decode_bmp(encode_bmp(img)), img)

    mono = (rng.standard_normal(777) * 2000).astype(np.int16)
    s, rate = decode_wav(encode_wav(mono, rate=8000))
    assert rate == 8000 and np.array_equal(s[:, 0], mono)
    stereo = (rng.standard_normal((500, 2)) * 2000).astype(np.int16)
    s2, _ = decode_wav(encode_wav(stereo))
    assert np.array_equal(s2, stereo)

    vid = rng.integers(0, 256, (5, 6, 9, 3), dtype=np.uint8)
    assert np.array_equal(decode_y4m(encode_y4m(vid)), vid)

    # sniffing picks the right codec; unknown bytes raise
    arr, kind = sniff_and_decode(encode_bmp(img))
    assert kind == "image" and arr.shape == img.shape
    import pytest as _pytest
    with _pytest.raises(ValueError):
        sniff_and_decode(b"\x89PNG\r\n\x1a\nxxxx")


def test_multimodal_real_decode_end_to_end(spark):
    """The REAL decode path over genuine BMP/WAV/Y4M payloads: features
    must equal a driver-side recomputation from the decoded arrays."""
    import numpy as np

    from proj_4_spark.functions.codecs import sniff_and_decode
    from proj_4_spark.functions.multimodal import (
        extract_features, frame_sample, synth_media_table,
    )

    media = synth_media_table(spark, 45)
    rows = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    feats = extract_features(media).toPandas()
    assert len(feats) == 45
    for _, r in feats.iterrows():
        arr, _ = sniff_and_decode(rows[r["media_id"]])
        flat = arr.astype(np.float64).ravel()
        assert abs(r["features"][0] - flat.mean()) < 1e-9
        assert abs(r["features"][1] - flat.std()) < 1e-9
        assert r["features"][6] == len(flat)

    frames = frame_sample(media, every_n=2).toPandas()
    vids = [m for m in rows if sniff_and_decode(rows[m])[1] == "video"]
    assert set(frames["media_id"]) == set(vids)
    assert sorted(set(frames["frame_idx"])) == [0, 2]
    m0 = frames.iloc[0]
    arr, _ = sniff_and_decode(rows[m0["media_id"]])
    assert abs(m0["frame_mean"] - arr[int(m0["frame_idx"])].mean()) < 1e-9


def test_ann_pandas_path_parity(spark):
    """signature_col and centroid_dots_col, given a column name or a
    Column, equal a scalar Python reference BIT FOR BIT: each dot is
    s = 0.0; s += float(a[j]) * float(b[j]) for j in order (the
    sequential sum the DuckDB oracles use; a matmul would differ)."""
    from proj_4_spark.functions import similarity as S

    def dot(a, b):
        s = 0.0
        for j in range(len(a)):
            s += float(a[j]) * float(b[j])
        return s

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    planes = S._hyperplanes(64, 8, seed=42)
    cents = np.random.Generator(np.random.PCG64(7)).standard_normal((16, 64))
    rows = emb.select(
        "embedding",
        S.signature_col("embedding", planes).alias("sig_name"),
        S.signature_col(F.col("embedding"), planes).alias("sig_col"),
        S.centroid_dots_col("embedding", cents).alias("cd_name"),
        S.centroid_dots_col(F.col("embedding"), cents).alias("cd_col"),
    ).collect()
    assert len(rows) > 0
    for r in rows:
        v = r["embedding"]
        sig = sum(1 << i for i, p in enumerate(planes) if dot(v, p) > 0)
        assert r["sig_name"] == sig and r["sig_col"] == sig
        want = np.array([dot(v, c) for c in cents]).view(np.int64)
        for name in ("cd_name", "cd_col"):
            got = np.array(r[name], dtype=np.float64).view(np.int64)
            assert (got == want).all(), name


def test_lsh_probe_keys_wrap_bit63():
    """At 64 planes a probe key that flips bit 63 is the signed int64
    `_pack_signature` gives the corpus row (s - 2**63 for s >= 0), and
    every key lies in the int64 range."""
    from proj_4_spark.functions.similarity import (_hyperplanes,
                                                   _lsh_probe_map,
                                                   _lsh_signature)

    planes = _hyperplanes(64, 64, seed=42)
    Q = np.random.Generator(np.random.PCG64(4)).standard_normal((20, 64))
    sigs = [int(s) for s in _lsh_signature(Q, planes)]
    assert any(s >= 0 for s in sigs) and any(s < 0 for s in sigs)
    keys = _lsh_probe_map(Q, planes, multiprobe=1)
    assert all(-2**63 <= key < 2**63 for key in keys)
    for qi, s in enumerate(sigs):
        flipped = s - 2**63 if s >= 0 else s + 2**63
        assert qi in keys[flipped], (qi, s)
        assert qi in keys[s]


def test_lsh_bit63_neighbour_found(spark, tmp_path):
    """End to end at 64 planes: a corpus vector that differs from the
    query only in the sign of plane 63 is found with multiprobe=1, by
    both the in-query and the prebuilt LSH probe."""
    from proj_4_spark.functions.ann_index import (build_lsh_index,
                                                  lsh_topk_prebuilt)
    from proj_4_spark.functions.similarity import (_hyperplanes,
                                                   _lsh_signature,
                                                   lsh_bucket_topk)

    dim, n_planes = 64, 64
    planes = _hyperplanes(dim, n_planes, seed=42)
    p63 = planes[63]
    rng = np.random.Generator(np.random.PCG64(21))
    base = rng.standard_normal(dim)
    base -= (base @ p63) / (p63 @ p63) * p63   # on plane 63
    q = (base - 1e-4 * p63).astype(np.float32)  # bit 63 clear
    w = (base + 1e-4 * p63).astype(np.float32)  # its bit-63 neighbour
    vecs = np.vstack([q, w, rng.standard_normal((30, dim))
                      .astype(np.float32)])
    sq, sw = (int(s) for s in _lsh_signature(vecs[:2].astype(np.float64),
                                              planes))
    assert sq >= 0 and sw == sq - 2**63
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>")
    queries = emb.where("vec_id = 0").selectExpr("vec_id as q_id",
                                                 "embedding")
    live = lsh_bucket_topk(emb, queries, k=3, n_planes=n_planes, dim=dim,
                           multiprobe=1).collect()
    assert 1 in {r["vec_id"] for r in live}
    path = str(tmp_path / "lsh64")
    build_lsh_index(emb, path, dim=dim, n_planes=n_planes)
    pre = lsh_topk_prebuilt(spark, path, queries, k=3,
                            multiprobe=1).collect()
    assert sorted(map(tuple, pre)) == sorted(map(tuple, live))


def test_ragged_vector_batch_rejected():
    """A batch whose flat length happens to divide its row count is
    still ragged: it raises, naming the widths, instead of being
    reshaped into wrong vectors."""
    import pyarrow as pa

    from proj_4_spark.functions.similarity import _list_matrix_f64

    ragged = pa.array([[1, 2], [3, 4, 5, 6]], type=pa.list_(pa.float32()))
    with pytest.raises(ValueError, match=r"widths \[2, 4\]"):
        _list_matrix_f64(ragged)
    ok = pa.array([[1, 2], [3, 4]], type=pa.list_(pa.float32()))
    assert (_list_matrix_f64(ok) == [[1, 2], [3, 4]]).all()
    assert (_list_matrix_f64(ragged.slice(1)) == [[3, 4, 5, 6]]).all()


def test_ann_ids_must_be_integral(spark, tmp_path):
    """Non-integral id columns are rejected at plan time, naming the
    column, by every ANN operator and index build (ids are carried as
    long)."""
    from proj_4_spark.functions.ann_index import (build_ivf_index,
                                                  build_lsh_index,
                                                  ivf_topk_prebuilt,
                                                  lsh_topk_prebuilt)
    from proj_4_spark.functions.similarity import (cosine_topk, ivf_topk,
                                                   lsh_bucket_topk)

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(40)
    q = emb.where("vec_id < 3").selectExpr("vec_id as q_id", "embedding")
    s_emb = emb.selectExpr("cast(vec_id as string) as vec_id", "embedding")
    s_q = q.selectExpr("cast(q_id as string) as q_id", "embedding")
    calls = {
        "cosine": lambda e, qq: cosine_topk(e, qq),
        "lsh": lambda e, qq: lsh_bucket_topk(e, qq, n_planes=4, dim=64),
        "ivf": lambda e, qq: ivf_topk(e, qq, n_centroids=4, dim=64),
    }
    for name, call in calls.items():
        with pytest.raises(ValueError, match="id column 'vec_id' is string"):
            call(s_emb, q)
        with pytest.raises(ValueError, match="id column 'q_id' is string"):
            call(emb, s_q)
    lp, ip = str(tmp_path / "lsh"), str(tmp_path / "ivf")
    with pytest.raises(ValueError, match="id column 'vec_id'"):
        build_lsh_index(s_emb, lp, dim=64, n_planes=2)
    build_lsh_index(emb, lp, dim=64, n_planes=2)
    build_ivf_index(emb, ip, dim=64, n_centroids=2)
    with pytest.raises(ValueError, match="id column 'q_id'"):
        lsh_topk_prebuilt(spark, lp, s_q)
    with pytest.raises(ValueError, match="id column 'q_id'"):
        ivf_topk_prebuilt(spark, ip, s_q)


def test_ann_large_dim_plan_stays_small(spark):
    """At production widths (dim=768, 64 planes) the plan must NOT embed
    the n_planes x dim literal matrix — the Arrow kernel path keeps the
    Catalyst tree O(1) in the matrix size, and the query still runs."""
    import pandas as pd

    from proj_4_spark.functions.similarity import lsh_bucket_topk

    dim, n_planes, n = 768, 64, 200
    rng = np.random.Generator(np.random.PCG64(3))
    pdf = pd.DataFrame({
        "vec_id": np.arange(n),
        "embedding": list(rng.standard_normal((n, dim)).astype(np.float32)),
    })
    emb = spark.createDataFrame(pdf)
    queries = emb.where("vec_id < 3").selectExpr("vec_id as q_id", "embedding")

    topk = lsh_bucket_topk(emb, queries, k=5, n_planes=n_planes, dim=dim,
                           multiprobe=1)
    plan = topk._jdf.queryExecution().optimizedPlan().toString()
    # a literal-matrix plan would hold >= n_planes*dim = 49k float
    # literals; the Arrow pass keeps the matrix in its closure
    assert len(plan) < 50_000, len(plan)
    assert plan.count("0.") < 200, plan.count("0.")

    got = topk.toPandas()
    # every query finds at least itself (its own bucket always probed)
    for q in range(3):
        assert q in set(got[got.q_id == q]["vec_id"])


def test_png_roundtrip_all_filters():
    """Real PNG codec: encode with each of the five spec filters ->
    decode must be bit-exact for gray / gray+alpha / RGB / RGBA."""
    from proj_4_spark.functions.codecs import (
        decode_png, encode_png, sniff_and_decode,
    )

    rng = np.random.Generator(np.random.PCG64(23))
    shapes = [(11, 7), (9, 5, 2), (13, 6, 3), (8, 9, 4)]
    for shape in shapes:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        want = img if img.ndim == 3 else img[:, :, None]
        for ft in range(5):
            got = decode_png(encode_png(img, filter_type=ft))
            assert np.array_equal(got, want), (shape, ft)

    # gradient images exercise the predictors with correlated data
    grad = (np.add.outer(np.arange(32), np.arange(48)) % 256).astype(np.uint8)
    rgb = np.stack([grad, grad[::-1], np.roll(grad, 7, axis=1)], axis=-1)
    for ft in range(5):
        assert np.array_equal(decode_png(encode_png(rgb, filter_type=ft)), rgb)

    arr, kind = sniff_and_decode(encode_png(rgb))
    assert kind == "image" and arr.shape == rgb.shape

    with pytest.raises(ValueError):
        decode_png(b"not a png")
    # 16-bit depth rejected, not mis-decoded
    import struct as _s
    import zlib as _z
    bad_ihdr = _s.pack(">IIBBBBB", 4, 4, 16, 2, 0, 0, 0)
    from proj_4_spark.functions.codecs import _PNG_SIG, _png_chunk
    with pytest.raises(ValueError):
        decode_png(_PNG_SIG + _png_chunk(b"IHDR", bad_ihdr)
                   + _png_chunk(b"IDAT", _z.compress(b"\x00" * 100))
                   + _png_chunk(b"IEND", b""))


def test_multimodal_png_payload(spark):
    """A PNG payload flows through the real mapInPandas decode path."""
    import pandas as pd

    from proj_4_spark.functions.codecs import encode_png
    from proj_4_spark.functions.multimodal import extract_features

    rng = np.random.Generator(np.random.PCG64(29))
    imgs = [rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
            for _ in range(8)]
    pdf = pd.DataFrame({
        "media_id": [f"png-{i}" for i in range(8)],
        "payload": [encode_png(im, filter_type=i % 5) for i, im in enumerate(imgs)],
        "meta": [{"media_type": "image"}] * 8,
    })
    media = spark.createDataFrame(
        pdf, "media_id string, payload binary, "
             "meta struct<media_type: string>")
    feats = extract_features(media).toPandas().set_index("media_id")
    assert len(feats) == 8
    for i, im in enumerate(imgs):
        f = np.asarray(feats.loc[f"png-{i}", "features"])
        # feature[0] is the mean of the decoded array — exact for a
        # lossless roundtrip
        assert f[0] == pytest.approx(im.mean(), abs=1e-9)
        assert f[3] == im.max() and f[2] == im.min()


def test_resize_array_exactness():
    from proj_4_spark.functions.multimodal import resize_array

    # nearest: integer 2x downscale picks exact source pixels
    src = np.arange(64, dtype=np.uint8).reshape(8, 8)
    nn = resize_array(src, 4, 4, method="nearest")
    # half-pixel centers: output (i,j) samples source (2i+0.5, 2j+0.5)
    # -> round() ties-to-even picks pixel 2i (0.5 rounds to 0, 2.5 to 2)
    assert nn.shape == (4, 4)
    assert nn[0, 0] == src[0, 0] and nn[3, 3] == src[6, 6]

    # bilinear of a linear ramp is EXACT at any scale
    ramp = np.add.outer(np.arange(0, 160, 10), np.arange(0, 16)) \
             .astype(np.uint8)  # 16x16 linear
    up = resize_array(ramp, 31, 31, method="bilinear").astype(np.float64)
    ys = np.clip((np.arange(31) + 0.5) * (16 / 31) - 0.5, 0, 15)
    xs = np.clip((np.arange(31) + 0.5) * (16 / 31) - 0.5, 0, 15)
    expect = np.round(np.add.outer(ys * 10, xs))
    assert np.array_equal(up, expect)

    # channels preserved independently
    rgb = np.stack([ramp, ramp[::-1], ramp.T], axis=-1)
    out = resize_array(rgb, 8, 8)
    assert out.shape == (8, 8, 3)
    assert np.array_equal(out[:, :, 0], resize_array(ramp, 8, 8))

    # identity resize is a no-op
    assert np.array_equal(resize_array(rgb, 16, 16), rgb)


def test_resize_images_spark(spark):
    from proj_4_spark.functions.codecs import decode_png
    from proj_4_spark.functions.multimodal import (
        resize_array, resize_images, synth_media_table,
    )
    from proj_4_spark.functions.codecs import sniff_and_decode

    media = synth_media_table(spark, 30)
    out = resize_images(media, 8, 8).toPandas()
    assert len(out) == 30
    imgs = out[[m["media_type"] == "image" for m in out["meta"]]]
    assert (imgs["out_width"] == 8).all() and (imgs["out_height"] == 8).all()
    # resized payloads are real PNGs of the right shape, values equal to
    # a local decode->resize of the same source payload
    src = synth_media_table(spark, 30).toPandas().set_index("media_id")
    for _, row in imgs.iterrows():
        got = decode_png(bytes(row["payload"]))
        assert got.shape == (8, 8, 3)
        arr, _ = sniff_and_decode(bytes(src.loc[row["media_id"], "payload"]))
        assert np.array_equal(got, resize_array(arr, 8, 8))
    # meta is truthful about the new payload
    for _, row in imgs.iterrows():
        assert row["meta"]["codec"] == "png"
        assert row["meta"]["width"] == 8 and row["meta"]["height"] == 8
    # non-images untouched byte-for-byte
    others = out[[m["media_type"] != "image" for m in out["meta"]]]
    for _, row in others.iterrows():
        assert bytes(row["payload"]) == bytes(src.loc[row["media_id"], "payload"])


def test_resize_images_null_meta_dims(spark):
    """Audio/video rows with NULL meta width/height must pass through
    (nullable out_width), not crash the Arrow batch."""
    import pandas as pd

    from proj_4_spark.functions.codecs import encode_wav
    from proj_4_spark.functions.multimodal import resize_images

    wav = encode_wav(np.zeros(100, dtype=np.int16))
    pdf = pd.DataFrame({
        "media_id": ["a0"],
        "payload": [wav],
        "meta": [{"media_type": "audio", "width": None, "height": None,
                  "duration_ms": 6, "codec": "pcm16"}],
    })
    media = spark.createDataFrame(
        pdf, "media_id string, payload binary, "
             "meta struct<media_type: string, width: int, height: int, "
             "duration_ms: int, codec: string>")
    out = resize_images(media, 8, 8).toPandas()
    assert len(out) == 1
    assert pd.isna(out.iloc[0]["out_width"])
    assert bytes(out.iloc[0]["payload"]) == wav


def test_train_centroids_improves_ivf(spark):
    """Distributed spherical k-means for the IVF quantizer: on clustered
    data the trained centroids must (a) strictly improve the k-means
    objective (mean max-cosine to the nearest centroid) vs the random
    init, and (b) give IVF recall at n_probe=2 at least as good as the
    random quantizer.  Deterministic given the seed."""
    import pandas as pd

    from proj_4_spark.functions.similarity import (
        centroid_dots_col, cosine_topk, ivf_topk, train_centroids,
    )

    # 8 well-separated clusters in 16-d
    rng = np.random.Generator(np.random.PCG64(9))
    centers = rng.standard_normal((8, 16)) * 4
    vecs, ids = [], []
    for i in range(400):
        c = centers[i % 8]
        vecs.append((c + rng.standard_normal(16)).astype(np.float32))
        ids.append(i)
    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": ids, "embedding": [list(map(float, v)) for v in vecs]}),
        "vec_id long, embedding array<float>")

    rng2 = np.random.Generator(np.random.PCG64(42))
    rand_cents = rng2.standard_normal((8, 16))
    rand_cents /= np.linalg.norm(rand_cents, axis=1, keepdims=True)
    trained = train_centroids(emb, n_centroids=8, dim=16, n_iter=5, seed=42)
    assert trained.shape == (8, 16)
    # deterministic
    trained2 = train_centroids(emb, n_centroids=8, dim=16, n_iter=5, seed=42)
    np.testing.assert_array_equal(trained, trained2)

    M = np.stack([np.asarray(v, float) for v in vecs])
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)

    def objective(C):
        return (Mn @ C.T).max(axis=1).mean()

    assert objective(trained) > objective(rand_cents) + 0.05

    queries = emb.where("vec_id < 10").selectExpr("vec_id as q_id", "embedding")
    exact = cosine_topk(emb, queries, k=5).toPandas()

    def recall(approx):
        hits = 0
        for q in range(10):
            e = set(exact[exact.q_id == q]["vec_id"])
            a = set(approx[approx.q_id == q]["vec_id"])
            hits += len(e & a)
        return hits / 50

    r_rand = recall(ivf_topk(emb, queries, k=5, n_centroids=8, n_probe=2,
                             dim=16, seed=42).toPandas())
    r_trained = recall(ivf_topk(emb, queries, k=5, n_probe=2, dim=16,
                                centroids=trained).toPandas())
    assert r_trained >= r_rand
    assert r_trained >= 0.9  # clustered data: trained quantizer is sharp


def test_png_decode_large_image_fast():
    """Timed decode gates (VERDICT r3 #4 + r4 item 3): the vectorized
    unfilter paths (None/Sub/Up — Sub is an exact per-lane uint8
    cumsum) must decode a 2048x2048 RGBA photo-sized PNG in under a
    second each; Average and Paeth now run as an exact anti-diagonal
    WAVEFRONT (codecs._unfilter_wavefront: every filter cell reads only
    diagonals d-1/d-2, so each diagonal vectorizes across rows) and
    must decode the same 2048x2048 photo-sized image in under 3 s,
    byte-identical."""
    import time

    from proj_4_spark.functions.codecs import decode_png, encode_png

    rng = np.random.Generator(np.random.PCG64(31))
    # correlated data like a real photo (random data defeats zlib)
    base = np.add.outer(np.arange(2048), np.arange(2048)) % 256
    big = np.stack([base, base.T, (base + 85) % 256, (base + 170) % 256],
                   axis=-1).astype(np.uint8)
    big += rng.integers(0, 8, big.shape, dtype=np.uint8)
    for ft in (0, 1, 2):
        data = encode_png(big, filter_type=ft)
        t0 = time.perf_counter()
        got = decode_png(data)
        dt = time.perf_counter() - t0
        assert np.array_equal(got, big), ft
        assert dt < 1.0, (ft, dt)

    for ft in (3, 4):
        data = encode_png(big, filter_type=ft)
        t0 = time.perf_counter()
        got = decode_png(data)
        dt = time.perf_counter() - t0
        assert np.array_equal(got, big), ft
        assert dt < 3.0, (ft, dt)


def test_png_wavefront_matches_scalar_unfilter():
    """The wavefront unfilter is byte-identical to the scalar RFC 2083
    recurrence on adversarial mixed-filter images (every filter type,
    every channel count, ragged sizes)."""
    from proj_4_spark.functions.codecs import _unfilter_wavefront

    def scalar_ref(cur_rows, filters):
        h, w, c = cur_rows.shape
        stride = w * c
        out = np.zeros((h, stride), dtype=np.uint8)
        for y in range(h):
            f = int(filters[y])
            cu = cur_rows[y].reshape(-1).tolist()
            pr = out[y - 1].tolist() if y else [0] * stride
            tl = [0] * stride
            for x in range(stride):
                left = tl[x - c] if x >= c else 0
                ul = pr[x - c] if x >= c else 0
                up = pr[x]
                if f == 0:
                    pred = 0
                elif f == 1:
                    pred = left
                elif f == 2:
                    pred = up
                elif f == 3:
                    pred = (left + up) >> 1
                else:
                    pa = abs(up - ul)
                    pb = abs(left - ul)
                    pc_ = abs(left + up - 2 * ul)
                    pred = (left if (pa <= pb and pa <= pc_)
                            else (up if pb <= pc_ else ul))
                tl[x] = (cu[x] + pred) & 0xFF
            out[y] = np.asarray(tl, dtype=np.uint8)
        return out.reshape(h, w, c)

    rng = np.random.Generator(np.random.PCG64(47))
    for _ in range(12):
        h = int(rng.integers(1, 24))
        w = int(rng.integers(1, 24))
        c = int(rng.integers(1, 5))
        cur = rng.integers(0, 256, (h, w, c), dtype=np.uint8)
        filters = rng.integers(0, 5, h)
        got = _unfilter_wavefront(cur, filters)
        assert np.array_equal(got, scalar_ref(cur, filters)), (h, w, c)


# ---------------------------------------------------------------------------
# persisted ANN indexes (r7): build once / probe many
# ---------------------------------------------------------------------------


def test_lsh_prebuilt_matches_in_query(spark, tmp_path):
    """lsh_topk_prebuilt over a persisted index must equal
    lsh_bucket_topk (same params) value-exactly, and its corpus side
    must be a partition-PRUNED scan of precomputed columns — no
    signature recompute, no Python anywhere in the probe plan."""
    from proj_4_spark.functions.ann_index import (build_lsh_index,
                                                  lsh_topk_prebuilt)
    from proj_4_spark.functions.similarity import lsh_bucket_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.where("vec_id < 10").selectExpr("vec_id as q_id",
                                                  "embedding")
    path = str(tmp_path / "lsh_idx")
    meta = build_lsh_index(emb, path, dim=64, n_planes=8, seed=42)
    assert meta["corpus_rows"] == emb.count()

    pre = lsh_topk_prebuilt(spark, path, queries, k=5, multiprobe=2)
    plan = pre._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan  # dim 64 -> JVM path both sides
    assert "bucket" in plan.split("PartitionFilters:")[1].split("]")[0]

    live = lsh_bucket_topk(emb, queries, k=5, n_planes=8, dim=64,
                           multiprobe=2).toPandas()
    got = pre.toPandas()
    key = ["q_id", "rank"]
    assert (got.sort_values(key).reset_index(drop=True)[
        ["q_id", "vec_id", "rank", "cosine"]].equals(
        live.sort_values(key).reset_index(drop=True)[
            ["q_id", "vec_id", "rank", "cosine"]]))


def test_prebuilt_probe_leaves_session_conf_alone(spark, tmp_path,
                                                  monkeypatch):
    """Opening a local index never sets a session conf (a concurrent
    query on the same session would see it): the probe lists the
    partition directories itself, and opening an index with more of
    them than the parallel-discovery threshold launches no Spark job."""
    import os

    from pyspark.sql.conf import RuntimeConfig

    from proj_4_spark.functions.ann_index import (_read_index,
                                                  build_lsh_index,
                                                  lsh_topk_prebuilt)

    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.where("vec_id < 10").selectExpr("vec_id as q_id",
                                                  "embedding")
    path = str(tmp_path / "lsh_idx")
    build_lsh_index(emb, path, dim=64, n_planes=8, seed=42)
    n_dirs = sum(d.startswith("bucket=") for d in os.listdir(path))
    before = spark.conf.get(key)
    assert n_dirs > int(before)

    touched = []

    def recording(orig):
        def wrapped(self, k, *args):
            touched.append(k)
            return orig(self, k, *args)
        return wrapped

    for name in ("set", "unset"):
        monkeypatch.setattr(RuntimeConfig, name,
                            recording(getattr(RuntimeConfig, name)))
    tracker = spark.sparkContext.statusTracker()
    jobs = set(tracker.getJobIdsForGroup())
    index = _read_index(spark, path, "bucket")
    assert set(tracker.getJobIdsForGroup()) == jobs
    assert index.count() == emb.count()
    assert lsh_topk_prebuilt(spark, path, queries, k=5,
                             multiprobe=2).count() == 50
    assert key not in touched and spark.conf.get(key) == before


def test_ivf_prebuilt_matches_in_query(spark, tmp_path):
    """ivf_topk_prebuilt (seed quantizer) == ivf_topk; the probe plan
    reads only the probed list_id partitions."""
    from proj_4_spark.functions.ann_index import (build_ivf_index,
                                                  ivf_topk_prebuilt)
    from proj_4_spark.functions.similarity import ivf_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.where("vec_id < 10").selectExpr("vec_id as q_id",
                                                  "embedding")
    path = str(tmp_path / "ivf_idx")
    build_ivf_index(emb, path, dim=64, n_centroids=16, seed=42)

    pre = ivf_topk_prebuilt(spark, path, queries, k=5, n_probe=6)
    plan = pre._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert "list_id" in plan.split("PartitionFilters:")[1].split("]")[0]

    live = ivf_topk(emb, queries, k=5, n_centroids=16, n_probe=6,
                    dim=64).toPandas()
    got = pre.toPandas()
    key = ["q_id", "rank"]
    assert (got.sort_values(key).reset_index(drop=True)[
        ["q_id", "vec_id", "rank", "cosine"]].equals(
        live.sort_values(key).reset_index(drop=True)[
            ["q_id", "vec_id", "rank", "cosine"]]))


def test_ivf_prebuilt_trained_centroids(spark, tmp_path):
    """A TRAINED quantizer (train_centroids) persists bit-exactly
    through the JSON sidecar: probe == ivf_topk(centroids=...)."""
    from proj_4_spark.functions.ann_index import (build_ivf_index,
                                                  ivf_topk_prebuilt,
                                                  read_meta)
    from proj_4_spark.functions.similarity import ivf_topk, train_centroids

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.where("vec_id < 5").selectExpr("vec_id as q_id",
                                                 "embedding")
    cents = train_centroids(emb, n_centroids=8, dim=64, n_iter=2)
    path = str(tmp_path / "ivf_trained")
    build_ivf_index(emb, path, dim=64, centroids=cents)
    stored = np.asarray(read_meta(path)["centroids"])
    assert (stored == cents).all()  # JSON repr round-trips doubles

    pre = ivf_topk_prebuilt(spark, path, queries, k=3, n_probe=3)
    live = ivf_topk(emb, queries, k=3, n_probe=3, dim=64,
                    centroids=cents).toPandas()
    got = pre.toPandas()
    key = ["q_id", "rank"]
    assert (got.sort_values(key).reset_index(drop=True).equals(
        live.sort_values(key).reset_index(drop=True)))


def test_ann_index_meta_errors(spark, tmp_path):
    """Missing sidecar and kind mismatch fail with clear messages."""
    from proj_4_spark.functions.ann_index import (build_lsh_index,
                                                  ivf_topk_prebuilt,
                                                  lsh_topk_prebuilt)

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(20)
    q = emb.selectExpr("vec_id as q_id", "embedding").limit(2)
    with pytest.raises(ValueError, match="missing"):
        lsh_topk_prebuilt(spark, str(tmp_path / "nope"), q)
    path = str(tmp_path / "lsh_small")
    build_lsh_index(emb, path, dim=64, n_planes=4)
    with pytest.raises(ValueError, match="not ivf"):
        ivf_topk_prebuilt(spark, path, q)


# ---------------------------------------------------------------------------
# scale policies and zero-norm vectors
# ---------------------------------------------------------------------------


def test_fan_out_single_row_group_over_floor(spark, tmp_path):
    """A single-row-group parquet at or over the byte floor fans out to
    defaultParallelism; the same file under a higher floor, and a file
    with enough row groups, come back unchanged."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from proj_4_spark.scale import fan_out, parquet_stats

    target = spark.sparkContext.defaultParallelism
    t = pa.table({"i": np.arange(4000), "s": [f"row-{i}" for i in range(4000)]})
    one, many = str(tmp_path / "one.parquet"), str(tmp_path / "many.parquet")
    pq.write_table(t, one)
    pq.write_table(t, many, row_group_size=4000 // target)
    df = spark.read.parquet(one)
    rows, size, groups = parquet_stats(df)
    assert (rows, groups) == (4000, 1) and size > 0
    fanned = fan_out(df, size)
    assert fanned.rdd.getNumPartitions() == target
    assert fan_out(df, size + 1) is df
    multi = spark.read.parquet(many)
    assert parquet_stats(multi)[2] >= target
    assert fan_out(multi, 1) is multi


def test_fan_out_many_files_reads_no_footer(spark, tmp_path, monkeypatch):
    """An input of at least defaultParallelism files already splits that
    far: fan_out returns it unchanged without opening a footer."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from proj_4_spark import scale

    target = spark.sparkContext.defaultParallelism
    for i in range(target):
        pq.write_table(pa.table({"i": np.arange(10) + 10 * i}),
                       str(tmp_path / f"part-{i}.parquet"))
    df = spark.read.parquet(str(tmp_path))
    assert len(df.inputFiles()) == target

    def _no_footers(_):
        raise AssertionError("footer read")

    monkeypatch.setattr(scale, "parquet_stats", _no_footers)
    assert scale.fan_out(df, 1) is df


def test_build_lsh_index_meta_from_footers(spark, tmp_path, monkeypatch):
    """The index build records the written index's footer row count and
    the source's bytes, and launches no Spark job after its write."""
    from pyspark.sql.readwriter import DataFrameWriter

    from proj_4_spark.functions.ann_index import build_lsh_index

    tracker = spark.sparkContext.statusTracker()

    def last_job():
        return max(tracker.getJobIdsForGroup(None), default=-1)

    after_write = []
    write = DataFrameWriter.parquet

    def parquet(self, *args, **kwargs):
        write(self, *args, **kwargs)
        after_write.append(last_job())

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    meta = build_lsh_index(emb, str(tmp_path / "idx"), dim=64, n_planes=8)
    assert len(after_write) == 1 and last_job() == after_write[0]
    monkeypatch.undo()
    assert meta["corpus_rows"] == emb.count()
    assert meta["corpus_bytes"] > 0


def test_ann_zero_norm_vectors_raise(spark, tmp_path):
    """A zero-norm query raises at plan time naming its q_id; a
    zero-norm corpus vector raises from the candidate pass naming its
    vec_id (in-query and prebuilt), instead of Spark's DIVIDE_BY_ZERO
    aborting the query."""
    from proj_4_spark.functions.ann_index import (build_lsh_index,
                                                  lsh_topk_prebuilt)
    from proj_4_spark.functions.similarity import cosine_topk, ivf_topk

    rng = np.random.Generator(np.random.PCG64(5))
    vecs = rng.standard_normal((12, 8)).astype(np.float32)
    vecs[7] = 0.0
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>")
    nonzero = emb.where("vec_id != 7")
    zero_q = emb.where("vec_id in (3, 7)").selectExpr("vec_id as q_id",
                                                      "embedding")
    for call in (lambda e, q: cosine_topk(e, q),
                 lambda e, q: ivf_topk(e, q, n_centroids=2, n_probe=2,
                                       dim=8)):
        with pytest.raises(ValueError, match="q_id=7 has zero norm"):
            call(nonzero, zero_q)
    q = emb.where("vec_id = 3").selectExpr("vec_id as q_id", "embedding")
    assert len(cosine_topk(nonzero, q, k=3).collect()) == 3
    with pytest.raises(Exception, match="vec_id=7 has zero norm"):
        cosine_topk(emb, q, k=3).collect()
    path = str(tmp_path / "lsh0")
    build_lsh_index(emb, path, dim=8, n_planes=2)
    with pytest.raises(Exception, match="vec_id=7 has zero norm"):
        lsh_topk_prebuilt(spark, path, q, k=3, multiprobe=2).collect()
