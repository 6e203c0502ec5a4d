"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque `binary` columns with typed metadata structs;
decode / feature-extract / resize / frame-sample run as Arrow-batched
pandas UDFs over mapInPandas.

Decode is REAL for self-describing uncompressed formats (BMP images,
PCM16 WAV audio, YUV4MPEG2 video — pure-NumPy codecs in
functions/codecs.py, encode+decode roundtrip-tested); formats that need
external libraries (JPEG/MP4) raise `DecodeUnavailable`.  The synthetic
media table (`synth_media_table`) is made of such real payloads, so
tests and the fixture oracle run the same decode path as production.

Scale notes: media bytes dominate row width -> keep them in their own
column family / table, process with mapInPandas so bytes stream through
Arrow without JVM row materialization, and size partitions by
`spark.sql.files.maxPartitionBytes` (bytes, not rows).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

MEDIA_META_DDL = (
    "struct<media_type:string, width:int, height:int, "
    "duration_ms:int, codec:string>"
)


class DecodeUnavailable(NotImplementedError):
    """Raised by the real decode path: codec libs absent in this env."""


def _real_decode(payload: bytes, media_type: str):
    """Decode self-describing formats with the pure-NumPy codecs; raise
    DecodeUnavailable for library-requiring formats (jpeg/mp4)."""
    from proj_4_spark.functions.codecs import sniff_and_decode

    try:
        arr, _kind = sniff_and_decode(payload or b"")
    except ValueError as e:
        raise DecodeUnavailable(
            f"{e}; wire PIL/ffmpeg here in production"
        ) from None
    return arr


def payload_features(payload: bytes, media_type: str) -> list:
    """Single-payload decode -> 8-dim feature vector.  Shared by the
    Spark mapInPandas path and the driver-side fixture generator, so the
    DuckDB oracle checks the SAME math through different plumbing."""
    arr = _real_decode(payload, media_type).astype(np.float64)
    flat = arr.ravel()
    q = np.quantile(flat, [0.25, 0.75])
    return [
        float(flat.mean()), float(flat.std()),
        float(flat.min()), float(flat.max()),
        float(q[0]), float(q[1]),
        float(len(flat)), float(arr.ndim),
    ]


def extract_features(media_df, payload_col: str = "payload",
                     meta_col: str = "meta"):
    """binary payload -> fixed-width feature vector (array<float>, 8 dims:
    mean/std/min/max per leading channels, deterministic).

    mapInPandas so each Arrow batch decodes in one Python hop.
    """

    def gen(batches):
        for pdf in batches:
            feats = [
                payload_features(payload, meta["media_type"])
                for payload, meta in zip(pdf[payload_col], pdf[meta_col])
            ]
            out = pdf[[c for c in pdf.columns if c not in (payload_col,)]].copy()
            out["features"] = feats
            yield out

    base_cols = [c for c in media_df.columns if c != payload_col]
    schema = ", ".join(
        f"{c} {dict(media_df.dtypes)[c]}" for c in base_cols
    ) + ", features array<double>"
    return media_df.mapInPandas(gen, schema=schema)


def frame_sample(media_df, payload_col: str = "payload", meta_col: str = "meta",
                 every_n: int = 2):
    """Video frame sampling: one output row per sampled frame
    (doc exploded by frame index) — the row-expansion plumbing for
    video pipelines."""

    def gen(batches):
        for pdf in batches:
            rows = {c: [] for c in pdf.columns if c != payload_col}
            rows["frame_idx"] = []
            rows["frame_mean"] = []
            for i in range(len(pdf)):
                meta = pdf[meta_col].iloc[i]
                if meta["media_type"] != "video":
                    continue
                arr = _real_decode(pdf[payload_col].iloc[i], "video")
                for fi in range(0, arr.shape[0], every_n):
                    for c in rows:
                        if c not in ("frame_idx", "frame_mean"):
                            rows[c].append(pdf[c].iloc[i])
                    rows["frame_idx"].append(fi)
                    rows["frame_mean"].append(float(arr[fi].mean()))
            yield pd.DataFrame(rows)

    base_cols = [c for c in media_df.columns if c != payload_col]
    schema = ", ".join(
        f"{c} {dict(media_df.dtypes)[c]}" for c in base_cols
    ) + ", frame_idx int, frame_mean double"
    return media_df.mapInPandas(gen, schema=schema)


def resize_array(arr: np.ndarray, height: int, width: int,
                 method: str = "bilinear") -> np.ndarray:
    """Pure-NumPy image resize, (H, W[, C]) uint8 -> (height, width[, C]).

    Half-pixel-center sampling (the OpenCV/PIL convention): source
    coordinate of output pixel i is (i + 0.5) * scale - 0.5, clamped.
    `bilinear` is separable gather + lerp (fully vectorized); `nearest`
    is a pure integer gather.  Bilinear of a linear ramp is exact —
    pinned in tests."""
    arr = np.asarray(arr)
    squeeze = arr.ndim == 2
    if squeeze:
        arr = arr[:, :, None]
    h, w, c = arr.shape

    def src_coords(n_out, n_in):
        x = (np.arange(n_out) + 0.5) * (n_in / n_out) - 0.5
        return np.clip(x, 0.0, n_in - 1.0)

    ys, xs = src_coords(height, h), src_coords(width, w)
    if method == "nearest":
        out = arr[np.round(ys).astype(np.int64)[:, None],
                  np.round(xs).astype(np.int64)[None, :]]
    elif method == "bilinear":
        y0 = np.floor(ys).astype(np.int64)
        x0 = np.floor(xs).astype(np.int64)
        y1 = np.minimum(y0 + 1, h - 1)
        x1 = np.minimum(x0 + 1, w - 1)
        fy = (ys - y0)[:, None, None]
        fx = (xs - x0)[None, :, None]
        a = arr[y0[:, None], x0[None, :]].astype(np.float64)
        b = arr[y0[:, None], x1[None, :]].astype(np.float64)
        cc = arr[y1[:, None], x0[None, :]].astype(np.float64)
        d = arr[y1[:, None], x1[None, :]].astype(np.float64)
        top = a + (b - a) * fx
        bot = cc + (d - cc) * fx
        out = np.clip(np.round(top + (bot - top) * fy), 0, 255).astype(np.uint8)
    else:
        raise ValueError(f"unknown resize method {method!r}")
    return out[:, :, 0] if squeeze else out


def resize_images(media_df, height: int, width: int,
                  method: str = "bilinear",
                  payload_col: str = "payload", meta_col: str = "meta"):
    """Image resize over a binary media column: decode (real codecs) ->
    resize_array -> re-encode as PNG; non-image rows pass through
    untouched.  mapInPandas, bytes never materialize in JVM rows.

    Adds out_width/out_height columns; payload is replaced for images."""
    from proj_4_spark.functions.codecs import encode_png

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            payloads, ws, hs, metas = [], [], [], []
            for payload, meta in zip(pdf[payload_col], pdf[meta_col]):
                if meta["media_type"] != "image":
                    # non-image rows pass through byte- and meta-identical;
                    # width/height may legitimately be null for audio
                    payloads.append(payload)
                    ws.append(meta.get("width"))
                    hs.append(meta.get("height"))
                    metas.append(meta)
                    continue
                arr = _real_decode(payload, "image")
                small = resize_array(arr, height, width, method)
                payloads.append(encode_png(small))
                ws.append(width)
                hs.append(height)
                # keep meta truthful about the NEW payload
                metas.append({**meta, "width": width, "height": height,
                              "codec": "png"})
            out = pdf.copy()
            out[payload_col] = payloads
            out[meta_col] = metas
            # nullable Int32: None widths (audio rows) must not crash
            out["out_width"] = pd.array(ws, dtype="Int32")
            out["out_height"] = pd.array(hs, dtype="Int32")
            yield out

    schema = ", ".join(
        f"{c} {t}" for c, t in media_df.dtypes
    ) + ", out_width int, out_height int"
    return media_df.mapInPandas(gen, schema=schema)


def synth_media_row(i: int, seed: int = 42):
    """Deterministic (payload, meta) for row id `i`: genuine BMP /
    PCM16-WAV / Y4M bytes from the pure-NumPy codecs, one PCG64
    substream per row so generation distributes and the driver-side
    fixture generator reproduces the exact bytes."""
    from proj_4_spark.functions.codecs import encode_bmp, encode_wav, encode_y4m

    rng = np.random.Generator(np.random.PCG64(seed ^ int(i)))
    kind = ["image", "audio", "video"][int(i) % 3]
    if kind == "image":
        w = h = 16 + 8 * (int(i) % 3)
        payload = encode_bmp(rng.integers(0, 256, (h, w, 3), dtype=np.uint8))
        codec, dur = "bmp", 0
    elif kind == "audio":
        nsamp = 1600 + 160 * (int(i) % 5)
        payload = encode_wav(
            (rng.standard_normal(nsamp) * 3000).astype(np.int16))
        codec, w, h, dur = "pcm16", 0, 0, nsamp // 16
    else:
        w, h = 8, 8
        payload = encode_y4m(
            rng.integers(0, 256, (4, h, w, 3), dtype=np.uint8))
        codec, dur = "y4m", 160
    meta = {"media_type": kind, "width": w, "height": h,
            "duration_ms": dur, "codec": codec}
    return payload, meta


def synth_media_table(spark, n: int = 200, seed: int = 42):
    """Deterministic media table for tests/bench: `synth_media_row`
    payloads, generated per partition."""

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            rows = [synth_media_row(int(i), seed=seed) for i in ids]
            yield pd.DataFrame({
                "media_id": [f"m-{int(i):08d}" for i in ids],
                "payload": [r[0] for r in rows],
                "meta": [r[1] for r in rows],
            })

    return spark.range(0, n).mapInPandas(
        gen, schema=f"media_id string, payload binary, meta {MEDIA_META_DDL}"
    )
