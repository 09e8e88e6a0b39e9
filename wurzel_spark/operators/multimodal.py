"""Multimodal columns: image/audio/video as opaque ``binary`` columns with
typed metadata, processed via Arrow-batched ``mapInPandas`` operators.

The reference's DoclingStep (wurzel/steps/docling/docling_step.py:63-141)
is the same shape — opaque bytes (PDF/DOCX) decoded per document into
text + metadata — so this module generalizes that pattern to media.

Spark plumbing (all real and tested):
  - schema: {asset_id long, kind string, content binary,
             meta struct<mime,width,height,duration_ms,sample_rate>}
  - decode / feature-extract / resize / frame-sample as mapInPandas
    operators — iterator of pandas batches in/out, so one decoder init per
    partition and bounded memory per batch
  - partitioning: assets repartitioned by byte-size bins so one giant video
    doesn't skew a partition

Decoders (round 5 — the image path now handles REAL bytes):
  - ``decoder='fake'``: deterministic synthetic decoder (content-hash-
    seeded pixels/samples) — exercises the exact plumbing with zero deps;
  - ``decoder='real'`` (images): PIL when importable, else a built-in
    pure-numpy PNG decoder (8-bit gray/RGB/RGBA, all five scanline
    filters — PNG is lossless, so both paths yield identical pixels and
    identical perceptual hashes); non-PNG bytes without PIL raise with
    the integration point named.
Audio/video codecs remain stubbed (no ffmpeg in this container).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("content", T.BinaryType(), False),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType(), True),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)


def _fake_pixels(content: bytes, w: int, h: int) -> np.ndarray:
    """Deterministic pixels from the content hash — the stub decoder.
    Real integration point: PIL.Image.open(io.BytesIO(content))."""
    seed = int.from_bytes(hashlib.sha256(content).digest()[:8], "big") % 2**32
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

# Hard ceiling for the pure-Python scanline-filter loops in _png_pixels —
# beyond this the builtin decoder refuses (documented NotImplementedError)
# instead of burning unbounded executor CPU; the PIL path is C-speed and
# only decimates (see _real_pixels max_pixels).
_MAX_DECODE_PIXELS = 1 << 22  # 4.2M px ≈ 2048x2048


def _png_pixels(content: bytes) -> np.ndarray:
    """Minimal pure-numpy PNG decoder: 8-bit gray/gray+alpha/RGB/RGBA,
    non-interlaced, all five scanline filters (PNG spec §9, public
    format). Returns (h, w, 3) uint8. Exists so the REAL-bytes image path
    is testable in environments without PIL; PIL, when present, takes
    precedence and (PNG being lossless) produces identical pixels."""
    import struct
    import zlib

    if content[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG stream")
    pos, idat = 8, b""
    w = h = ct = None
    while pos + 8 <= len(content):
        (ln,), typ = struct.unpack(">I", content[pos : pos + 4]), content[pos + 4 : pos + 8]
        data = content[pos + 8 : pos + 8 + ln]
        pos += 12 + ln  # len + type + data + crc
        if typ == b"IHDR":
            w, h, depth, ct, _comp, _filt, inter = struct.unpack(">IIBBBBB", data)
            if depth != 8 or inter != 0:
                raise NotImplementedError("builtin PNG decoder: 8-bit non-interlaced only")
            if ct not in (0, 2, 4, 6):
                # ct=3 (palette) and exotic color types get the DOCUMENTED
                # failure mode, not a bare KeyError below — callers that
                # tolerate unsupported codecs catch NotImplementedError.
                raise NotImplementedError(
                    f"builtin PNG decoder: color type {ct} (palette/other) "
                    "unsupported — install pillow for palette PNGs"
                )
            if w * h > _MAX_DECODE_PIXELS:
                # The scanline filters (Sub/Average/Paeth) run per-pixel in
                # Python; an arbitrarily large PNG would pin an executor
                # core and its memory. Refuse past the budget rather than
                # decode unboundedly — PIL (C speed) handles big images.
                raise NotImplementedError(
                    f"builtin PNG decoder: {w}x{h} exceeds the "
                    f"{_MAX_DECODE_PIXELS}-pixel decode budget — install "
                    "pillow for large images"
                )
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
    ch = {0: 1, 2: 3, 4: 2, 6: 4}[ct]
    raw = zlib.decompress(idat)
    stride = w * ch
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    p = 0
    for y in range(h):
        f = raw[p]
        row = np.frombuffer(raw, np.uint8, stride, p + 1).copy()
        p += 1 + stride
        if f == 1:  # Sub
            for i in range(ch, stride):
                row[i] = (int(row[i]) + int(row[i - ch])) & 0xFF
        elif f == 2:  # Up (uint8 add wraps mod 256 — the spec's rule)
            row += prev
        elif f == 3:  # Average
            for i in range(stride):
                left = int(row[i - ch]) if i >= ch else 0
                row[i] = (int(row[i]) + ((left + int(prev[i])) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                a = int(row[i - ch]) if i >= ch else 0
                b = int(prev[i])
                c = int(prev[i - ch]) if i >= ch else 0
                pp = a + b - c
                pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (int(row[i]) + pred) & 0xFF
        out[y] = row
        prev = row
    px = out.reshape(h, w, ch)
    if ch == 1:
        px = np.repeat(px, 3, axis=2)
    elif ch == 2:
        px = np.repeat(px[:, :, :1], 3, axis=2)
    elif ch == 4:
        px = px[:, :, :3]
    return np.ascontiguousarray(px)



_PNM_MAGICS = (b"P2", b"P3", b"P5", b"P6")


def _pnm_pixels(content: bytes) -> np.ndarray:
    """Built-in PNM (PGM P2/P5, PPM P3/P6) decoder → HxWx3 uint8.

    The portable anymap family is the lib-free raster lingua franca of
    CV pipelines (ffmpeg/ImageMagick emit it in streaming mode); the
    format is a whitespace-tokenized header + raw or ascii samples, so
    a correct decoder needs no codec library at all — this path is REAL
    decode, not a stand-in. Comments (#...) are honored; 16-bit maxvals
    are scaled to 8; grayscale broadcasts to RGB (the convert("RGB")
    convention of the PIL path)."""
    magic = content[:2]
    if magic not in _PNM_MAGICS:
        raise NotImplementedError("not a PNM payload")
    # tokenize the header: magic, width, height, maxval — skipping
    # comments; for binary variants the raster starts after EXACTLY one
    # whitespace byte past maxval.
    pos = 2
    vals = []
    while len(vals) < 3:
        while pos < len(content) and content[pos : pos + 1].isspace():
            pos += 1
        if content[pos : pos + 1] == b"#":
            while pos < len(content) and content[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(content) and not content[pos : pos + 1].isspace():
            pos += 1
        tok = content[start:pos]
        # truncated-before-maxval or non-numeric header tokens must hit
        # the documented refusal convention, not a bare ValueError
        if not tok or not tok.isdigit():
            raise NotImplementedError("malformed PNM header")
        vals.append(int(tok))
    w, h, maxval = vals
    if w <= 0 or h <= 0 or maxval <= 0 or maxval > 65535:
        raise NotImplementedError("PNM header out of range")
    if w * h > _MAX_DECODE_PIXELS:
        raise NotImplementedError(
            f"builtin PNM decoder caps at {_MAX_DECODE_PIXELS} pixels"
        )
    channels = 3 if magic in (b"P3", b"P6") else 1
    n_samples = w * h * channels
    if magic in (b"P5", b"P6"):
        pos += 1  # the single whitespace after maxval
        width_bytes = 2 if maxval > 255 else 1
        raw = content[pos : pos + n_samples * width_bytes]
        if len(raw) != n_samples * width_bytes:
            raise NotImplementedError("truncated PNM raster")
        dt = ">u2" if width_bytes == 2 else np.uint8
        arr = np.frombuffer(raw, dtype=dt).astype(np.int64)
    else:
        toks = content[pos:].split()
        if len(toks) < n_samples:
            raise NotImplementedError("truncated ascii PNM raster")
        if not all(t.isdigit() for t in toks[:n_samples]):
            raise NotImplementedError("malformed ascii PNM raster")
        arr = np.array([int(t) for t in toks[:n_samples]], dtype=np.int64)
    if arr.max(initial=0) > maxval:
        raise NotImplementedError("PNM sample exceeds maxval")
    if maxval != 255:
        arr = arr * 255 // maxval
    px = arr.astype(np.uint8).reshape(h, w, channels)
    if channels == 1:
        px = np.repeat(px, 3, axis=2)
    return px


def _real_pixels(content: bytes, max_pixels: int | None = None) -> np.ndarray:
    """Real image decode: PIL when importable, builtin PNG/PNM otherwise.

    ``max_pixels`` caps the RETURNED pixel count: larger decodes are
    nearest-neighbor decimated (aspect-preserving) so downstream feature
    loops (means / phash / resample) are bounded regardless of input
    size. The builtin decoder additionally refuses inputs past its own
    ``_MAX_DECODE_PIXELS`` budget before touching the Python filter loops.
    """
    px = None
    try:  # pragma: no cover - PIL absent in this container
        import io

        from PIL import Image

        px = np.asarray(Image.open(io.BytesIO(content)).convert("RGB"))
    except ImportError:
        pass
    if px is None:
        if content[:8] == _PNG_MAGIC:
            px = _png_pixels(content)
        elif content[:2] in _PNM_MAGICS:
            px = _pnm_pixels(content)
        elif content[:2] == b"\xff\xd8":
            from wurzel_spark.operators.jpegcodec import jpeg_pixels

            px = jpeg_pixels(content)
        else:
            raise NotImplementedError(
                "real decode for non-PNG/PNM/JPEG bytes needs PIL/opencv — "
                "install pillow or plug a codec into _real_pixels"
            )
    if max_pixels is not None and px.shape[0] * px.shape[1] > max_pixels:
        scale = (max_pixels / (px.shape[0] * px.shape[1])) ** 0.5
        nh = max(1, int(px.shape[0] * scale))
        nw = max(1, int(px.shape[1] * scale))
        ys = (np.arange(nh) * px.shape[0] // nh).clip(0, px.shape[0] - 1)
        xs = (np.arange(nw) * px.shape[1] // nw).clip(0, px.shape[1] - 1)
        px = np.ascontiguousarray(px[ys][:, xs])
    return px


def decode_images(df: DataFrame, decoder: str = "fake", max_pixels: int = 64 * 64) -> DataFrame:
    """binary → decoded feature row {asset_id, width, height, mean_r/g/b,
    phash64}. mapInPandas: one decoder per partition, Arrow batches.

    ``decoder='fake'``: deterministic stub pixels (content-hash-seeded).
    ``decoder='real'``: PIL if importable, else the builtin PNG decoder —
    actual pixel dims/means/perceptual hash from the real bytes.
    """
    if decoder not in ("fake", "real"):  # pragma: no cover
        raise NotImplementedError(
            f"decoder '{decoder}' is not wired; use 'fake' (stub) or 'real' "
            "(PIL / builtin PNG), or plug a codec into _real_pixels."
        )

    out_schema = T.StructType(
        [
            T.StructField("asset_id", T.LongType(), False),
            T.StructField("width", T.IntegerType(), False),
            T.StructField("height", T.IntegerType(), False),
            T.StructField("mean_r", T.DoubleType(), False),
            T.StructField("mean_g", T.DoubleType(), False),
            T.StructField("mean_b", T.DoubleType(), False),
            T.StructField("phash64", T.LongType(), False),
        ]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, content, meta in zip(pdf["asset_id"], pdf["content"], pdf["meta"]):
                if decoder == "real":
                    # max_pixels caps the feature-extraction surface (ADVICE
                    # r5): oversize decodes are decimated, and the reported
                    # width/height are the decimated dims the features were
                    # computed on.
                    px = _real_pixels(bytes(content), max_pixels=max_pixels)
                    h, w = px.shape[0], px.shape[1]
                else:
                    w = int(meta["width"] or 32) if meta is not None else 32
                    h = int(meta["height"] or 32) if meta is not None else 32
                    w, h = min(w, 64), min(h, 64)
                    px = _fake_pixels(bytes(content), w, h)
                means = px.reshape(-1, 3).mean(axis=0)
                # perceptual-hash-ish: 8x8 block-mean luma > median bitmap
                # (block MEAN, not point sampling: robust to single-pixel
                # edits, which is the property near-dup detection needs)
                luma = px.mean(axis=2)
                bh, bw = max(1, h // 8), max(1, w // 8)
                small = luma[: bh * 8, : bw * 8].reshape(
                    min(8, h), bh, -1, bw
                ).mean(axis=(1, 3))[:8, :8]
                bits = (small > np.median(small)).flatten()
                ph = 0
                for i, b in enumerate(bits[:63]):
                    ph |= int(b) << i
                rows.append((int(aid), w, h, float(means[0]), float(means[1]), float(means[2]), ph))
            yield pd.DataFrame(
                rows, columns=["asset_id", "width", "height", "mean_r", "mean_g", "mean_b", "phash64"]
            )

    return df.filter(F.col("kind") == "image").mapInPandas(op, out_schema)


def _png_encode(px: np.ndarray) -> bytes:
    """Minimal PNG encoder (8-bit RGB, filter-0 rows) — the writeback half
    of the builtin codec, so decode→transform→re-encode round-trips
    without any image library."""
    import struct
    import zlib

    h, w = px.shape[0], px.shape[1]

    def chunk(typ: bytes, data: bytes) -> bytes:
        body = typ + data
        return struct.pack(">I", len(data)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF
        )

    raw = b"".join(b"\x00" + px[y].astype(np.uint8).tobytes() for y in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def resize_images(df: DataFrame, width: int, height: int, decoder: str = "fake") -> DataFrame:
    """binary → re-encoded binary at new dimensions. Same row count,
    updated meta.

    ``decoder='fake'``: stub pixels re-encoded as raw bytes.
    ``decoder='real'``: real decode (PIL or builtin PNG), deterministic
    nearest-neighbor resample, PNG re-encode — a full decode→transform→
    encode loop with zero image libraries (PIL, when importable, handles
    the decode of non-PNG inputs).
    """
    if decoder not in ("fake", "real"):  # pragma: no cover
        raise NotImplementedError(
            "resize decoders: 'fake' (stub) or 'real' (PIL / builtin PNG)"
        )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            contents, metas = [], []
            for kind, content, meta in zip(pdf["kind"], pdf["content"], pdf["meta"]):
                if decoder == "real" and kind == "image":
                    px = _real_pixels(bytes(content))
                    ys = (np.arange(height) * px.shape[0] // height).clip(0, px.shape[0] - 1)
                    xs = (np.arange(width) * px.shape[1] // width).clip(0, px.shape[1] - 1)
                    contents.append(_png_encode(px[ys][:, xs]))
                else:
                    px = _fake_pixels(bytes(content), width, height)
                    contents.append(px.tobytes())
                m = dict(meta) if meta is not None else {}
                m.update({"width": width, "height": height})
                metas.append(m)
            out["content"] = contents
            out["meta"] = metas
            yield out

    return df.mapInPandas(op, ASSET_SCHEMA)


def sample_video_frames(df: DataFrame, every_ms: int = 1000, decoder: str = "fake") -> DataFrame:
    """video binary → one row per sampled frame {asset_id, frame_idx, ts_ms,
    frame_bytes}. Explodes 1→N inside mapInPandas (bounded by duration).
    """
    if decoder != "fake":  # pragma: no cover
        raise NotImplementedError("real frame sampling needs ffmpeg/opencv")

    out_schema = T.StructType(
        [
            T.StructField("asset_id", T.LongType(), False),
            T.StructField("frame_idx", T.IntegerType(), False),
            T.StructField("ts_ms", T.LongType(), False),
            T.StructField("frame", T.BinaryType(), False),
        ]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, content, meta in zip(pdf["asset_id"], pdf["content"], pdf["meta"]):
                dur = int(meta["duration_ms"] or 0) if meta is not None else 0
                for i, ts in enumerate(range(0, max(dur, 1), every_ms)):
                    frame = _fake_pixels(bytes(content) + ts.to_bytes(8, "big"), 16, 16)
                    rows.append((int(aid), i, ts, frame.tobytes()))
            yield pd.DataFrame(rows, columns=["asset_id", "frame_idx", "ts_ms", "frame"])

    return df.filter(F.col("kind") == "video").mapInPandas(op, out_schema)


def _wav_samples(content: bytes) -> tuple[np.ndarray, int]:
    """Real WAV decode with the stdlib ``wave`` module (PCM 8/16/32-bit,
    RIFF container — public format): (mono float64 samples in [-1, 1],
    frame rate). Multi-channel input averages to mono."""
    import io
    import wave

    with wave.open(io.BytesIO(content), "rb") as w:
        rate = w.getframerate()
        n_ch = w.getnchannels()
        width = w.getsampwidth()
        raw = w.readframes(w.getnframes())
    if width == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    elif width == 4:
        x = np.frombuffer(raw, dtype="<i4").astype(np.float64) / 2147483648.0
    elif width == 1:  # 8-bit WAV is unsigned
        x = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    else:
        raise NotImplementedError(f"{width * 8}-bit PCM not supported")
    if n_ch > 1:
        x = x[: len(x) - len(x) % n_ch].reshape(-1, n_ch).mean(axis=1)
    return x, rate


def audio_features(df: DataFrame, decoder: str = "fake") -> DataFrame:
    """audio binary → {asset_id, duration_ms, rms, zero_crossings}.

    ``decoder='fake'``: deterministic stub samples (content-hash-seeded).
    ``decoder='real'``: stdlib WAV decode (PCM RIFF) — real duration from
    frames/rate, real RMS and zero-crossing count; compressed codecs
    (mp3/ogg) still need soundfile/librosa and raise.
    """
    if decoder not in ("fake", "real"):  # pragma: no cover
        raise NotImplementedError(
            "real audio decode for compressed codecs needs soundfile/librosa; "
            "use 'real' (stdlib WAV) or 'fake' (stub)."
        )

    out_schema = T.StructType(
        [
            T.StructField("asset_id", T.LongType(), False),
            T.StructField("duration_ms", T.LongType(), False),
            T.StructField("rms", T.DoubleType(), False),
            T.StructField("zero_crossings", T.LongType(), False),
        ]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, content, meta in zip(pdf["asset_id"], pdf["content"], pdf["meta"]):
                if decoder == "real":
                    samples, rate = _wav_samples(bytes(content))
                    dur = int(len(samples) * 1000 / rate) if rate else 0
                else:
                    seed = int.from_bytes(hashlib.sha256(bytes(content)).digest()[:8], "big") % 2**32
                    rng = np.random.default_rng(seed)
                    samples = rng.normal(0, 0.3, 1600)
                    dur = int(meta["duration_ms"] or 100) if meta is not None else 100
                rms = float(np.sqrt((samples**2).mean())) if len(samples) else 0.0
                zc = int(((samples[:-1] * samples[1:]) < 0).sum())
                rows.append((int(aid), dur, rms, zc))
            yield pd.DataFrame(rows, columns=["asset_id", "duration_ms", "rms", "zero_crossings"])

    return df.filter(F.col("kind") == "audio").mapInPandas(op, out_schema)


def repartition_by_size(df: DataFrame, target_bytes: int = 128 * 1024 * 1024) -> DataFrame:
    """Skew guard: bin assets by cumulative byte size so a partition holds
    ~target_bytes of media regardless of per-asset size variance. At 100 TB
    this is the difference between a smooth stage and one 2-hour straggler.

    Floor at the cluster's core count (bounded by the asset count): the
    byte target alone folds a small corpus into ONE partition, and the
    downstream decode is CPU-bound Python — the same single-core hazard
    the shingle kernels' `common.parallelize` rule guards against.
    """
    sized = df.withColumn("__sz", F.length("content").cast("long"))
    total, cnt = sized.agg(F.sum("__sz"), F.count(F.lit(1))).collect()[0]
    n = max(1, int((total or 0) / target_bytes))
    cores = df.sparkSession.sparkContext.defaultParallelism
    n = min(max(n, cores), max(int(cnt), 1))
    return sized.repartitionByRange(n, F.col("__sz"), F.col("asset_id")).drop("__sz")


# ---------------------------------------------------------------- queries

def assets_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic multimodal asset table derived from ``documents``:
    content = the utf-8 bytes of the text (an opaque blob as far as every
    operator here is concerned), kind/mime assigned round-robin by doc_id,
    dimensions from the byte length. This is the driver-checkable stand-in
    for a real asset lake — the binary column, metadata struct, and every
    mapInPandas operator run exactly as they would on real media bytes.
    """
    kind = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("image"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
    )
    mime = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("image/png"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio/wav"))
        .otherwise(F.lit("video/mp4"))
    )
    nb = F.octet_length("text")
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        kind.alias("kind"),
        F.encode("text", "utf-8").alias("content"),
        F.struct(
            mime.alias("mime"),
            (nb % 48 + 16).cast("int").alias("width"),
            # integer division (div) — double `/` plus a truncating cast
            # rounds differently across engines
            (F.expr("octet_length(text) div 7") % 48 + 16).cast("int").alias("height"),
            (nb * 20).cast("long").alias("duration_ms"),
            F.lit(16000).alias("sample_rate"),
        ).alias("meta"),
    )


def q_multimodal_manifest(spark, sf_dir: str) -> DataFrame:
    """Asset-lake manifest: per-asset byte size + content digest + typed
    metadata — the first query any multimodal pipeline runs (dedup by
    digest, size-binned partition planning). Exercises the binary column
    end-to-end; the digest/size math is SQL-expressible so the driver's
    oracle checks it exactly.
    """
    from wurzel_spark.tables import table as _table

    assets = assets_from_documents(_table(spark, sf_dir, "documents"))
    return assets.select(
        "asset_id",
        "kind",
        F.col("meta.mime").alias("mime"),
        F.length("content").alias("n_bytes"),
        F.sha2("content", 256).alias("content_sha256"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.duration_ms").alias("duration_ms"),
    ).orderBy("asset_id")


MULTIMODAL_MANIFEST_SQL = """
SELECT doc_id AS asset_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS kind,
       CASE WHEN doc_id % 3 = 0 THEN 'image/png'
            WHEN doc_id % 3 = 1 THEN 'audio/wav'
            ELSE 'video/mp4' END AS mime,
       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
       sha256(text) AS content_sha256,
       CAST(octet_length(encode(text)) % 48 + 16 AS INT) AS width,
       CAST((octet_length(encode(text)) // 7) % 48 + 16 AS INT) AS height,
       CAST(octet_length(encode(text)) * 20 AS BIGINT) AS duration_ms
FROM documents
ORDER BY asset_id
"""


def q_multimodal_decode_stats(spark, sf_dir: str) -> DataFrame:
    """Image-decode feature extraction over the asset table's image slice —
    the real mapInPandas decode path (deterministic stub codec; rows-only
    driver check since the codec is engine-internal by construction)."""
    from wurzel_spark.tables import table as _table

    assets = assets_from_documents(_table(spark, sf_dir, "documents"))
    return decode_images(repartition_by_size(assets)).orderBy("asset_id")


def q_multimodal_frame_stats(spark, sf_dir: str) -> DataFrame:
    """Video frame sampling over the asset table (1 frame/second of fake
    duration, capped by duration_ms): real 1→N mapInPandas explode."""
    from wurzel_spark.tables import table as _table

    assets = assets_from_documents(_table(spark, sf_dir, "documents"))
    frames = sample_video_frames(assets, every_ms=2000)
    return (
        frames.groupBy("asset_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.max("ts_ms").alias("last_ts_ms"),
        )
        .orderBy("asset_id")
    )


def q_multimodal_audio_features(spark, sf_dir: str) -> DataFrame:
    """Audio feature extraction (RMS / zero crossings) over audio-kind
    assets — deterministic stub codec, real Arrow plumbing."""
    from wurzel_spark.tables import table as _table

    assets = assets_from_documents(_table(spark, sf_dir, "documents"))
    return audio_features(assets.filter(F.col("kind") == "audio")).orderBy("asset_id")


def image_near_dup_pairs(
    assets: DataFrame, max_hamming: int = 3, decoder: str = "fake"
) -> DataFrame:
    """Image near-duplicate pairs: decode → 64-bit perceptual hash →
    the SAME 4-band pigeonhole join the text SimHash family uses
    (dedup.simhash_band_pairs — if hamming ≤ 3 one 16-bit band matches
    exactly). This is the image half of corpus dedup (resized/re-encoded
    copies share perceptual bits the way edited text shares shingles);
    at 100 TB the decode+hash is the one heavy map pass and everything
    after touches 8-byte signatures only.

    Stub decoder caveat: the fake decoder hashes CONTENT, so only
    bit-identical assets collide. With ``decoder='real'`` (PIL or the
    builtin PNG decoder) visually-near images land within the hamming
    radius — tested end-to-end on real PNG bytes in
    tests/test_multimodal.py. Rows-only; recall pinned in tests.
    """
    from wurzel_spark.operators.dedup import simhash_band_pairs

    decoded = decode_images(assets, decoder)
    sigs = decoded.select(
        F.col("asset_id").alias("id"), F.col("phash64").alias("simhash")
    )
    return simhash_band_pairs(sigs, max_hamming).orderBy("id_a", "id_b")


def q_image_near_dup(spark, sf_dir: str) -> DataFrame:
    from wurzel_spark.tables import table as _table

    # Treat EVERY doc-derived asset as an image, and MIRROR the first 50
    # under offset ids: the corpus texts are all distinct (stub pixels →
    # near-random phashes → no natural pairs), so the mirrors plant
    # deterministic hamming-0 duplicates. The driver row then smokes the
    # full band-bucket → verify pipeline with a known-nonempty result
    # (every (i, i+1_000_000) pair must surface) instead of the
    # vacuously-empty set the raw corpus produces.
    assets = assets_from_documents(_table(spark, sf_dir, "documents")).withColumn(
        "kind", F.lit("image")
    )
    mirrored = assets.filter(F.col("asset_id") < 50).withColumn(
        "asset_id", F.col("asset_id") + F.lit(1_000_000)
    )
    return image_near_dup_pairs(assets.unionByName(mirrored))


# ------------------------------------------------- magic-byte sniffing audit

# (hex-prefix predicate, label) — shared SQL CASE rendered ONCE here and
# used verbatim in both engines, so classification can never drift. The
# signatures are the standard container magics (JPEG SOI, PNG, GIF87a/89a,
# RIFF+WAVE, ISO-BMFF ftyp at byte 5, PDF, gzip, zip, OggS).
_MAGIC_CASE = """CASE
  WHEN left({h}, 6) = 'FFD8FF' THEN 'jpeg'
  WHEN left({h}, 16) = '89504E470D0A1A0A' THEN 'png'
  WHEN left({h}, 12) IN ('474946383761', '474946383961') THEN 'gif'
  WHEN left({h}, 8) = '52494646' AND substr({h}, 17, 8) = '57415645' THEN 'wav'
  WHEN left({h}, 8) = '52494646' THEN 'riff'
  WHEN substr({h}, 9, 8) = '66747970' THEN 'mp4'
  WHEN left({h}, 10) = '255044462D' THEN 'pdf'
  WHEN left({h}, 4) = '1F8B' THEN 'gzip'
  WHEN left({h}, 8) = '504B0304' THEN 'zip'
  WHEN left({h}, 8) = '4F676753' THEN 'ogg'
  WHEN left({h}, 4) IN ('5032', '5033', '5035', '5036') THEN 'pnm'
  ELSE 'unknown' END"""

_MIME_CONTAINER = """CASE {m}
  WHEN 'image/jpeg' THEN 'jpeg'
  WHEN 'image/png' THEN 'png'
  WHEN 'image/gif' THEN 'gif'
  WHEN 'audio/wav' THEN 'wav'
  WHEN 'video/mp4' THEN 'mp4'
  WHEN 'application/pdf' THEN 'pdf'
  WHEN 'audio/ogg' THEN 'ogg'
  WHEN 'image/x-portable-pixmap' THEN 'pnm'
  WHEN 'image/x-portable-graymap' THEN 'pnm'
  ELSE 'unknown' END"""


def magic_byte_stats(assets: DataFrame) -> DataFrame:
    """Container-vs-metadata integrity audit: sniff the REAL container
    from the first 16 content bytes (the standard magic-number table)
    and cross it with the DECLARED mime — the ingest gate that catches
    mislabeled assets (HTML error pages saved as .jpg, truncated
    uploads) before a decoder fans out over 100 TB of media. On the
    deterministic text-derived asset stand-in every row sniffs
    'unknown' (honest: the bytes are not media) — the fixtures plant
    real JPEG/PNG/RIFF/ftyp prefixes to prove each signature fires.

    Exactness: classification is one shared SQL CASE over the UPPERCASE
    hex of the 16-byte prefix (rendered once module-side into both
    engines); counts/sums are exact ints. Scale shape: a row-local
    prefix projection (never hexes the full blob Spark-side) + one
    grouped aggregate — output is |kind × mime × container| rows."""
    m = assets.select(
        "kind",
        F.col("meta.mime").alias("mime"),
        F.octet_length("content").cast("long").alias("n_bytes"),
        F.expr(_MAGIC_CASE.format(h="hex(substring(content, 1, 16))")).alias(
            "detected"
        ),
    ).withColumn(
        "mime_match",
        F.col("detected") == F.expr(_MIME_CONTAINER.format(m="mime")),
    )
    return (
        m.groupBy("kind", "mime", "detected", "mime_match")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_assets"),
            F.sum("n_bytes").cast("long").alias("total_bytes"),
        )
        .orderBy("kind", "mime", "detected", "mime_match")
    )


def q_magic_byte_stats(spark, sf_dir: str) -> DataFrame:
    from wurzel_spark.tables import table as _table

    return magic_byte_stats(assets_from_documents(_table(spark, sf_dir, "documents")))


def _magic_sql() -> str:
    h = "left(hex(encode(text)), 32)"
    mime = """CASE WHEN doc_id % 3 = 0 THEN 'image/png'
            WHEN doc_id % 3 = 1 THEN 'audio/wav'
            ELSE 'video/mp4' END"""
    return f"""
WITH m AS (
  SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS kind,
         {mime} AS mime,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         {_MAGIC_CASE.format(h=h)} AS detected
  FROM documents
), flagged AS (
  SELECT kind, mime, n_bytes, detected,
         detected = {_MIME_CONTAINER.format(m='mime')} AS mime_match
  FROM m
)
SELECT kind, mime, detected, mime_match,
       CAST(COUNT(*) AS BIGINT) AS n_assets,
       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes
FROM flagged GROUP BY kind, mime, detected, mime_match
ORDER BY kind, mime, detected, mime_match
"""


MAGIC_BYTE_SQL = _magic_sql()
