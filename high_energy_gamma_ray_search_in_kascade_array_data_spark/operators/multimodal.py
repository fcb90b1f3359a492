"""Multimodal columns (north-star M5): image/audio/video as opaque
``binary`` payloads with typed metadata, processed by Arrow-batched
``mapInPandas`` kernels.

The container ships no PIL/ffmpeg, so the *decode* kernels are split
in two:
  * a deterministic FAKE decoder (default) — payload bytes are treated
    as the raw sample/pixel buffer, so the whole pipeline (schema,
    partitioning, UDF signatures, Arrow batch shapes, downstream
    feature math) is real and differential-testable;
  * the REAL codec path — ``decode_media(..., codec="real")`` parses
    genuine BMP, PNG, baseline JPEG and GIF containers with pure-stdlib
    decoders (struct + zlib inflate + Huffman/IDCT + variable-width
    LZW); real WAV audio goes through :func:`wav_features` and real
    multi-frame video (animated GIF) through
    :func:`video_frame_features`. Formats beyond those raise
    ``ValueError`` at the exact point a PIL/ffmpeg call slots in.
    Same Arrow batching either way; the schemas differ
    by design — the fake path emits ``FEATURES_SCHEMA`` (raw-buffer
    stats incl. ``n_bytes``), the real path ``REAL_FEATURES_SCHEMA``
    (parsed ``width``/``height`` + a pixel checksum, since a real
    container's byte count is not its pixel count).

Payloads here are synthesized from ``events`` by exact integer
arithmetic (byte i of event e = (e·7 + i·13) mod 256), which is what
makes the fake-decode outputs oracle-checkable in DuckDB.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

PAYLOAD_BYTES = 64

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("payload", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)

FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_bytes", IntegerType()),
        StructField("mean_intensity", DoubleType()),
        StructField("max_intensity", IntegerType()),
    ]
)


def synth_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fake media table derived from ``events``: one
    8×8 single-channel 'image' per event, payload bytes
    (event_id·7 + i·13) mod 256.

    The payload is synthesized ENTIRELY plan-side (transform → hex →
    unhex inside whole-stage codegen) — no Python stage. That mirrors
    production, where media bytes arrive from storage, and keeps the
    decode kernels downstream as the pipeline's only Python seam."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import load_table, spread_scan

    # spread the single-file scan before the downstream Python stages
    # so the decode kernels run on every core, not one input split
    ev = (
        spread_scan(load_table(spark, sf_dir, "events").select("event_id"))
    )
    payload = F.unhex(
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.lit(PAYLOAD_BYTES - 1)),
                lambda i: F.lpad(
                    F.hex(F.pmod(F.col("event_id") * 7 + i * 13, F.lit(256))), 2, "0"
                ),
            ),
            "",
        )
    )
    return ev.select(
        F.col("event_id").alias("media_id"),
        F.lit("image").alias("kind"),
        payload.alias("payload"),
        F.lit(8).alias("width"),
        F.lit(8).alias("height"),
    )


def decode_media(media: DataFrame, codec: str = "fake") -> DataFrame:
    """Decode + feature-extract: mean/max intensity per payload.

    ``codec="fake"`` (default) treats the payload as the raw pixel
    buffer and returns ``FEATURES_SCHEMA``. ``codec="real"`` routes
    through :func:`decode_media_real` — pure stdlib BMP/PNG/baseline-
    JPEG/GIF decoders inside the same Arrow seam — and returns the
    richer ``REAL_FEATURES_SCHEMA`` (parsed width/height + pixel
    checksum); audio and multi-frame video containers have their own
    kernels (:func:`wav_features`, :func:`video_frame_features`);
    formats beyond those need PIL/ffmpeg plugged into the kernel,
    batching unchanged.
    """
    if codec == "real":
        return decode_media_real(media)

    def features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            mats = np.stack([np.frombuffer(p, dtype="uint8") for p in pdf["payload"]])
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "n_bytes": mats.shape[1],
                    "mean_intensity": mats.mean(axis=1),
                    "max_intensity": mats.max(axis=1).astype("int32"),
                }
            )

    return media.mapInPandas(features, FEATURES_SCHEMA)


# ------------------------------------------------------ real codec seam
#
# The container has no PIL/ffmpeg, but two real image formats are
# decodable with nothing beyond the stdlib: BMP (struct) and PNG
# (struct + zlib inflate + the five scanline filters). Implementing
# them upgrades the codec seam from "documented NotImplementedError"
# to "exercised": actual container headers are parsed, actual DEFLATE
# streams are inflated, actual bottom-up row order is undone — inside
# the same mapInPandas Arrow seam a PIL decode would use.

REAL_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mean_intensity", DoubleType()),
        StructField("max_intensity", IntegerType()),
        StructField("checksum_weighted", LongType()),
    ]
)


def bmp_gray8_header_hex(width: int, height: int) -> str:
    """Hex of the constant prefix (file header + BITMAPINFOHEADER +
    identity grayscale palette) of an 8-bit uncompressed BMP of the
    given dimensions. Everything except the pixel rows is a function
    of (width, height) alone, which is what lets ``synth_bmp_media``
    assemble REAL BMP files entirely plan-side."""
    import struct

    row = (width + 3) & ~3
    palette = b"".join(bytes((i, i, i, 0)) for i in range(256))
    offset = 14 + 40 + len(palette)
    size = offset + row * height
    file_hdr = struct.pack("<2sIHHI", b"BM", size, 0, 0, offset)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 8, 0, row * height, 2835, 2835, 256, 0
    )
    return (file_hdr + dib + palette).hex()


def synth_bmp_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real 8×8 8-bit grayscale BMP files synthesized PLAN-SIDE: the
    constant header/palette prefix concat'd with the 64 pixel bytes in
    BMP's bottom-up row order, all inside whole-stage codegen. Pixel
    (x, y) in top-down image coordinates is (event_id·7 + (y·8+x)·13)
    mod 256 — the same formula as the fake payload, so the decode
    oracle is pure event_id arithmetic while Spark ships and parses
    genuine BMP containers."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import load_table, spread_scan

    side = 8
    ev = (
        spread_scan(load_table(spark, sf_dir, "events").select("event_id"))
    )
    # file byte j (row-major bottom-up) = image index i = (7 - j div 8)·8 + j mod 8
    pix_hex = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(side * side - 1)),
            lambda j: F.lpad(
                F.hex(
                    F.pmod(
                        F.col("event_id") * 7
                        + (
                            (F.lit(side - 1) - ((j - j % side) / side).cast("long"))
                            * side
                            + j % side
                        )
                        * 13,
                        F.lit(256),
                    )
                ),
                2,
                "0",
            ),
        ),
        "",
    )
    payload = F.unhex(F.concat(F.lit(bmp_gray8_header_hex(side, side)), pix_hex))
    return ev.select(
        F.col("event_id").alias("media_id"),
        F.lit("image/bmp").alias("kind"),
        payload.alias("payload"),
        F.lit(side).alias("width"),
        F.lit(side).alias("height"),
    )


def synth_and_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused synth→decode JPEG pipeline in ONE Arrow kernel (guide
    §4.1/§8): the former two chained ``mapInPandas`` stages shipped
    every payload JVM→Python→JVM→Python — the container bytes crossed
    the Arrow boundary twice so that the very next operator could parse
    them in Python again. Fusing moves only the 8-byte ``event_id``
    proxy across the boundary; synthesis (worker-memoized 64 variants,
    same license as before) and the per-row container PARSE — still
    executed for EVERY row, the operation under test — happen in the
    same task. Result and oracle are unchanged; the Arrow
    binary-column ingest seam itself stays covered by the BMP/PNG/WAV
    (plan-side bytes → Python parse) and GIF/video (binaryFile scan →
    Python parse) queries."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.operators.jpeg import fixture_jpeg
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import load_table, spread_scan

    ev = spread_scan(load_table(spark, sf_dir, "events").select("event_id"))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        cache: dict[int, bytes] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids, imgs = [], []
            for eid in pdf["event_id"]:
                kk = int(eid) % 64
                payload = cache.get(kk)
                if payload is None:
                    payload = cache[kk] = fixture_jpeg(kk)
                imgs.append(decode_image_bytes(payload))  # parses EVERY row
                ids.append(int(eid))
            # feature math vectorized across the batch (all fixture
            # images share one shape; integer sums/dot are order-free
            # so the values are bit-identical to the per-row form)
            hs = np.asarray([im.shape[0] for im in imgs], "int32")
            ws = np.asarray([im.shape[1] for im in imgs], "int32")
            mats = np.stack(imgs).reshape(len(imgs), -1).astype(np.int64)
            w = np.arange(mats.shape[1], dtype=np.int64)
            yield pd.DataFrame(
                {
                    "media_id": np.asarray(ids, "int64"),
                    "width": ws,
                    "height": hs,
                    "mean_intensity": mats.sum(axis=1) / mats.shape[1],
                    "max_intensity": mats.max(axis=1).astype("int32"),
                    "checksum_weighted": mats @ w,
                }
            )

    return ev.mapInPandas(kernel, REAL_FEATURES_SCHEMA)


def decode_image_bytes(buf) -> "object":
    """Pure-stdlib image decode → (H, W) uint8 grayscale ndarray.

    Supports: BMP (8-bit palettized with integer BT.601 palette
    luminance, and 24-bit BGR; uncompressed, top-down or bottom-up),
    PNG (8-bit grayscale, non-interlaced, all five scanline filters),
    baseline JPEG (8-bit grayscale sequential DCT — Huffman, dequant,
    IDCT; ``operators/jpeg.py``) and GIF (variable-width LZW with
    clear/EOI and BT.601 palette luminance; ``operators/gif.py``).
    Anything else raises
    ``ValueError`` at the exact point a PIL/ffmpeg call would slot in,
    with schema and batching unchanged."""
    import struct
    import zlib

    import numpy as np

    b = bytes(buf)
    if b[:2] == b"BM":
        (off,) = struct.unpack_from("<I", b, 10)
        w, h = struct.unpack_from("<ii", b, 18)
        (bpp,) = struct.unpack_from("<H", b, 28)
        (comp,) = struct.unpack_from("<I", b, 30)
        if comp != 0:
            raise ValueError(f"unsupported BMP compression {comp}")
        flip, h = h > 0, abs(h)
        if bpp == 8:
            pal_off = 14 + struct.unpack_from("<I", b, 14)[0]
            pal = np.frombuffer(b, np.uint8, 256 * 4, pal_off).reshape(256, 4)
            lum = (
                (
                    pal[:, 2].astype(np.int64) * 299
                    + pal[:, 1].astype(np.int64) * 587
                    + pal[:, 0].astype(np.int64) * 114
                )
                // 1000
            ).astype(np.uint8)
            row = (w + 3) & ~3
            idx = np.frombuffer(b, np.uint8, row * h, off).reshape(h, row)[:, :w]
            img = lum[idx]
        elif bpp == 24:
            row = (w * 3 + 3) & ~3
            bgr = (
                np.frombuffer(b, np.uint8, row * h, off)
                .reshape(h, row)[:, : w * 3]
                .reshape(h, w, 3)
            )
            img = (
                (
                    bgr[..., 2].astype(np.int64) * 299
                    + bgr[..., 1].astype(np.int64) * 587
                    + bgr[..., 0].astype(np.int64) * 114
                )
                // 1000
            ).astype(np.uint8)
        else:
            raise ValueError(f"unsupported BMP bpp {bpp}")
        return img[::-1].copy() if flip else img
    if b[:8] == b"\x89PNG\r\n\x1a\n":
        pos, idat, dims = 8, b"", None
        while pos + 8 <= len(b):
            ln, typ = struct.unpack_from(">I4s", b, pos)
            data = b[pos + 8 : pos + 8 + ln]
            if typ == b"IHDR":
                w, h, depth, ctype, _comp, _filt, ilace = struct.unpack(
                    ">IIBBBBB", data
                )
                if depth != 8 or ctype != 0 or ilace != 0:
                    raise ValueError(
                        f"unsupported PNG depth={depth} colortype={ctype} "
                        f"interlace={ilace} (stdlib seam decodes gray-8)"
                    )
                dims = (h, w)
            elif typ == b"IDAT":
                idat += data
            elif typ == b"IEND":
                break
            pos += 12 + ln
        if dims is None:
            raise ValueError("PNG missing IHDR")
        h, w = dims
        raw = np.frombuffer(zlib.decompress(idat), np.uint8).reshape(h, w + 1)
        out = np.zeros((h, w), np.uint8)
        for y in range(h):
            ft, line = int(raw[y, 0]), raw[y, 1:].astype(np.int32)
            up = out[y - 1].astype(np.int32) if y else np.zeros(w, np.int32)
            if ft == 0:
                cur = line
            elif ft == 2:
                cur = (line + up) & 255
            elif ft in (1, 3, 4):
                cur = np.zeros(w, np.int32)
                for x in range(w):
                    a = int(cur[x - 1]) if x else 0
                    up_x = int(up[x])
                    c = int(out[y - 1, x - 1]) if (x and y) else 0
                    if ft == 1:
                        pred = a
                    elif ft == 3:
                        pred = (a + up_x) // 2
                    else:  # paeth
                        p = a + up_x - c
                        pa, pb, pc = abs(p - a), abs(p - up_x), abs(p - c)
                        pred = (
                            a if (pa <= pb and pa <= pc) else (up_x if pb <= pc else c)
                        )
                    cur[x] = (int(line[x]) + pred) & 255
            else:
                raise ValueError(f"bad PNG filter {ft}")
            out[y] = cur.astype(np.uint8)
        return out
    if b[:2] == b"\xff\xd8":
        from high_energy_gamma_ray_search_in_kascade_array_data_spark.operators.jpeg import (
            decode_jpeg_gray,
        )

        return decode_jpeg_gray(b)
    if b[:6] in (b"GIF87a", b"GIF89a"):
        from high_energy_gamma_ray_search_in_kascade_array_data_spark.operators.gif import decode_gif_gray

        return decode_gif_gray(b)
    raise ValueError(
        "unsupported image format (stdlib seam decodes BMP, PNG, "
        "baseline JPEG and GIF; plug PIL/ffmpeg into this kernel for "
        "more — schema and batching are unchanged)"
    )


def encode_png_gray(img) -> bytes:
    """Stdlib grayscale-8 PNG ENCODER (fixture writer for the real-codec
    gate). Scanline filter type cycles y mod 5, so a round-trip through
    :func:`decode_image_bytes` exercises every filter reconstruction
    path (None/Sub/Up/Average/Paeth), not just the trivial one."""
    import struct
    import zlib

    import numpy as np

    img = np.asarray(img, dtype=np.uint8)
    h, w = img.shape

    def chunk(typ: bytes, data: bytes) -> bytes:
        body = typ + data
        return (
            struct.pack(">I", len(data))
            + body
            + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
        )

    rows = []
    for y in range(h):
        ft = y % 5
        line = img[y].astype(np.int32)
        up = img[y - 1].astype(np.int32) if y else np.zeros(w, np.int32)
        left = np.concatenate(([0], line[:-1]))
        ul = np.concatenate(([0], up[:-1]))
        if ft == 0:
            pred = np.zeros(w, np.int32)
        elif ft == 1:
            pred = left
        elif ft == 2:
            pred = up
        elif ft == 3:
            pred = (left + up) // 2
        else:  # paeth
            p = left + up - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - ul)
            pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, ul))
        rows.append(bytes([ft]) + ((line - pred) & 255).astype(np.uint8).tobytes())
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"".join(rows), 6))
        + chunk(b"IEND", b"")
    )


def decode_media_real(media: DataFrame) -> DataFrame:
    """REAL codec decode: parse each payload as an actual BMP/PNG
    container via :func:`decode_image_bytes`, then extract features in
    TOP-DOWN pixel order — ``checksum_weighted`` = Σ i·px[i] is
    position-sensitive, so a decoder that forgets the BMP bottom-up
    flip or mis-reconstructs a PNG filter hashes red, not just "looks
    plausible". Codec decode is inherently per-container (exactly as a
    PIL call would be), but batching, Arrow transfer and the output
    schema stay vectorized; the feature math per image is numpy.
    mean_intensity = int sum / (w·h) — exact dyadic for power-of-two
    image sizes, which is what keeps a *real decoder* hash-checkable
    against a relational oracle."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, ws, hs, means, maxes, cks = [], [], [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                img = decode_image_bytes(payload)
                flat = img.reshape(-1).astype(np.int64)
                ids.append(mid)
                hs.append(img.shape[0])
                ws.append(img.shape[1])
                means.append(flat.sum() / flat.size)
                maxes.append(int(flat.max()))
                cks.append(int((flat * np.arange(flat.size, dtype=np.int64)).sum()))
            yield pd.DataFrame(
                {
                    "media_id": np.asarray(ids, "int64"),
                    "width": np.asarray(ws, "int32"),
                    "height": np.asarray(hs, "int32"),
                    "mean_intensity": np.asarray(means, "float64"),
                    "max_intensity": np.asarray(maxes, "int32"),
                    "checksum_weighted": np.asarray(cks, "int64"),
                }
            )

    return media.mapInPandas(kernel, REAL_FEATURES_SCHEMA)


def frame_sample(media: DataFrame, every: int = 16) -> DataFrame:
    """Frame sampling: slice every ``every``-th byte ('frame') of the
    payload into its own row — the video-keyframe extraction shape."""
    idx = F.sequence(F.lit(0), F.lit(PAYLOAD_BYTES - 1), F.lit(every))
    frame = F.explode(idx).alias("frame_no")
    return media.select("media_id", frame).withColumn(
        "frame_no", F.col("frame_no").cast("int")
    )


RESIZE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("py", IntegerType()),
        StructField("px", IntegerType()),
        StructField("value", DoubleType()),
    ]
)


def resize_media(media: DataFrame, factor: int = 2) -> DataFrame:
    """Mean-pool resize (width/factor × height/factor): the image
    downsample kernel of the multimodal pipeline, vectorized over the
    Arrow batch — payloads reshape to (n, H, W) once, pooling is one
    numpy reduction, output is long-form (media_id, py, px, value).
    A real resampler (PIL.Image.resize) slots into the same kernel with
    schema and batching unchanged."""

    def pool(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            side = int(PAYLOAD_BYTES ** 0.5)
            out = side // factor
            mats = np.frombuffer(b"".join(pdf["payload"]), dtype="uint8").reshape(n, side, side)
            pooled = mats.reshape(n, out, factor, out, factor).mean(axis=(2, 4))
            yield pd.DataFrame(
                {
                    "media_id": np.repeat(pdf["media_id"].to_numpy(), out * out),
                    "py": np.tile(np.repeat(np.arange(out, dtype="int32"), out), n),
                    "px": np.tile(np.arange(out, dtype="int32"), out * n),
                    "value": pooled.reshape(-1),
                }
            )

    return media.mapInPandas(pool, RESIZE_SCHEMA)


def decode_media_arrow(media: DataFrame) -> DataFrame:
    """Arrow-native decode (mapInArrow): the same fake-decode features
    as :func:`decode_media`, but the kernel receives raw
    ``pyarrow.RecordBatch`` objects — no pandas block assembly on
    either side, the lowest-overhead Python seam Spark offers. Worth
    it when the kernel is itself Arrow/numpy-native and the batch is
    wide or binary-heavy; the pandas variant stays the ergonomic
    default."""
    import pyarrow as pa

    def features(batches):
        import numpy as np

        for batch in batches:
            ids = batch.column("media_id").to_numpy(zero_copy_only=False)
            payloads = batch.column("payload")
            n = len(ids)
            if n == 0:
                continue
            mats = np.frombuffer(
                b"".join(memoryview(v) for v in payloads.to_pylist()), dtype="uint8"
            ).reshape(n, -1)
            yield pa.RecordBatch.from_pydict(
                {
                    "media_id": pa.array(ids, pa.int64()),
                    "n_bytes": pa.array([mats.shape[1]] * n, pa.int32()),
                    "mean_intensity": pa.array(mats.mean(axis=1), pa.float64()),
                    "max_intensity": pa.array(mats.max(axis=1).astype("int32"), pa.int32()),
                }
            )

    return media.mapInArrow(features, FEATURES_SCHEMA)


PHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("b0", LongType()),
        StructField("b1", LongType()),
        StructField("b2", LongType()),
        StructField("b3", LongType()),
    ]
)


def phash_media(media: DataFrame) -> DataFrame:
    """Perceptual (average-hash) fingerprint per image: bit i is set
    when pixel i exceeds the image's mean intensity; the 64 bits ship
    as four 16-bit band values (b0..b3) — exactly the banded layout an
    LSH near-dup join blocks on downstream.  Exact cross-engine: the
    mean is an integer sum / 64.0 (dyadic), the comparison is
    integer-vs-exact-dyadic, the band packing is integer.  A real
    image pHash (DCT low-frequency signs after decode) drops into this
    same kernel with schema and banding unchanged."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        weights = (1 << np.arange(16, dtype="int64"))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mats = np.frombuffer(b"".join(pdf["payload"]), dtype="uint8").reshape(
                len(pdf), PAYLOAD_BYTES
            )
            mu = mats.sum(axis=1) / 64.0  # exact: int sum / 2^6
            bits = (mats > mu[:, None]).astype("int64")  # (n, 64)
            bands = bits.reshape(len(pdf), 4, 16) @ weights  # (n, 4)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "b0": bands[:, 0],
                    "b1": bands[:, 1],
                    "b2": bands[:, 2],
                    "b3": bands[:, 3],
                }
            )

    return media.mapInPandas(kernel, PHASH_SCHEMA)


AUDIO_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("total_energy", LongType()),
        StructField("peak_frame_energy", LongType()),
        StructField("n_zero_crossings", IntegerType()),
    ]
)


def audio_features(media: DataFrame, frame: int = 8) -> DataFrame:
    """Audio-style feature extraction over the payload treated as a
    PCM sample buffer (the audio face of the fake codec): samples
    center at −128, per-frame energy Σs² (exact integer), peak frame
    energy, and the zero-crossing count — the cheap triage features an
    audio ingest pipeline computes before any expensive model. A real
    decoder (ffmpeg → PCM) slots in ahead of the same numpy math with
    schema and batching unchanged."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            s = (
                np.frombuffer(b"".join(pdf["payload"]), dtype="uint8")
                .reshape(len(pdf), PAYLOAD_BYTES)
                .astype("int64")
                - 128
            )
            e_frame = (s * s).reshape(len(pdf), -1, frame).sum(axis=2)  # (n, frames)
            zc = ((s[:, :-1] * s[:, 1:]) < 0).sum(axis=1).astype("int32")
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "total_energy": e_frame.sum(axis=1),
                    "peak_frame_energy": e_frame.max(axis=1),
                    "n_zero_crossings": zc,
                }
            )

    return media.mapInPandas(kernel, AUDIO_SCHEMA)


# ------------------------------------------------- real audio container

WAV_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", IntegerType()),
        StructField("sum_abs", LongType()),
        StructField("max_amp", IntegerType()),
        StructField("n_zero_crossings", IntegerType()),
    ]
)

WAV_SAMPLES = 64
WAV_RATE = 8000


def wav_header_hex(n_samples: int, rate: int = WAV_RATE) -> str:
    """Hex of a canonical 44-byte RIFF/WAVE header (PCM, mono, 16-bit)
    for the given sample count — constant given (n_samples, rate),
    which is what lets :func:`synth_wav_media` assemble REAL WAV files
    entirely plan-side, exactly like the BMP image fixture."""
    import struct

    data_bytes = n_samples * 2
    hdr = (
        b"RIFF"
        + struct.pack("<I", 36 + data_bytes)
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
        + b"data"
        + struct.pack("<I", data_bytes)
    )
    return hdr.hex()


def synth_wav_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real mono 16-bit PCM WAV files synthesized PLAN-SIDE: the
    constant RIFF/fmt/data header concat'd with 64 little-endian
    two's-complement samples, all inside whole-stage codegen.  Sample
    i of event e is ((e·13 + i·29) mod 2048) − 1024 ∈ [−1024, 1023] —
    pure integer arithmetic, so the decode oracle needs no audio lib."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import load_table, spread_scan

    ev = (
        spread_scan(load_table(spark, sf_dir, "events").select("event_id"))
    )

    def sample_hex(i):  # 16-bit LE two's complement as 4 hex chars
        v = F.pmod(F.col("event_id") * 13 + i * 29, F.lit(2048)) - 1024
        u = F.pmod(v, F.lit(65536)).cast("long")
        # one hex+lpad of the byte-swapped value ≡ lpad(hex(lo),2) ++
        # lpad(hex(hi),2): the HOF lambda is evaluated interpreted per
        # element, so halving its node count is a real win (r12)
        swapped = u.bitwiseAND(F.lit(255)) * 256 + F.shiftright(u, 8)
        return F.lpad(F.hex(swapped), 4, "0")

    pcm_hex = F.array_join(
        F.transform(F.sequence(F.lit(0), F.lit(WAV_SAMPLES - 1)), sample_hex), ""
    )
    payload = F.unhex(F.concat(F.lit(wav_header_hex(WAV_SAMPLES)), pcm_hex))
    return ev.select(
        F.col("event_id").alias("media_id"),
        F.lit("audio/wav").alias("kind"),
        payload.alias("payload"),
        F.lit(WAV_SAMPLES).alias("width"),
        F.lit(1).alias("height"),
    )


def decode_wav_bytes(buf) -> "tuple[int, object]":
    """Pure-stdlib WAV decode → (sample_rate, int16 sample ndarray).

    Walks the RIFF chunk list (word-aligned), validates the fmt chunk
    (PCM, mono, 16-bit) and pulls the data chunk. Compressed or
    multi-channel containers raise ``ValueError`` at the exact point
    an ffmpeg/soundfile call would slot in."""
    import struct

    import numpy as np

    b = bytes(buf)
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE container")
    pos, rate, data = 12, None, None
    while pos + 8 <= len(b):
        cid, ln = struct.unpack_from("<4sI", b, pos)
        body = b[pos + 8 : pos + 8 + ln]
        if cid == b"fmt ":
            fmt, channels, rate, _br, _ba, bits = struct.unpack_from("<HHIIHH", body, 0)
            if fmt != 1 or channels != 1 or bits != 16:
                raise ValueError(f"unsupported WAV encoding fmt={fmt} ch={channels} bits={bits}")
        elif cid == b"data":
            data = body
        pos += 8 + ln + (ln & 1)
    if rate is None or data is None:
        raise ValueError("missing fmt or data chunk")
    return int(rate), np.frombuffer(data, dtype="<i2")


def wav_features(media: DataFrame) -> DataFrame:
    """Parse + feature-extract real WAV payloads in one Arrow kernel:
    per container, the triage features an audio ingest pipeline
    computes before any model — total absolute amplitude, peak
    amplitude, zero-crossing count — all exact integers, so a real
    *audio container decode* is gated by exact hash."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            rates, n_s, s_abs, m_amp, zc = [], [], [], [], []
            for p in pdf["payload"]:
                rate, s = decode_wav_bytes(p)
                a = np.abs(s.astype("int64"))
                neg = s < 0
                rates.append(rate)
                n_s.append(len(s))
                s_abs.append(int(a.sum()))
                m_amp.append(int(a.max()))
                zc.append(int((neg[1:] != neg[:-1]).sum()))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "sample_rate": np.array(rates, dtype="int32"),
                    "n_samples": np.array(n_s, dtype="int32"),
                    "sum_abs": np.array(s_abs, dtype="int64"),
                    "max_amp": np.array(m_amp, dtype="int32"),
                    "n_zero_crossings": np.array(zc, dtype="int32"),
                }
            )

    return media.mapInPandas(kernel, WAV_FEATURES_SCHEMA)


VIDEO_FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("mean_intensity", DoubleType()),
        StructField("max_intensity", IntegerType()),
        StructField("checksum_weighted", LongType()),
    ]
)


def video_frame_features(media: DataFrame, every: int = 2) -> DataFrame:
    """REAL video-container frame sampling: each payload is a
    multi-frame container (animated GIF — ``operators/gif.py``),
    decoded frame-by-frame in the Arrow kernel; every ``every``-th
    frame survives (the frame-sample stride a video ingest pipeline
    applies before any model) and yields the same exact-hash feature
    row as the image codecs.  One input row fans out to
    ceil(n_frames/every) output rows — mapInPandas is the natural
    1→N seam, no explode of pre-decoded arrays needed."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from high_energy_gamma_ray_search_in_kascade_array_data_spark.operators.gif import decode_gif_frames

        for pdf in batches:
            if len(pdf) == 0:
                continue
            mids, fidx, mean_i, max_i, ck = [], [], [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                for k, frame in enumerate(decode_gif_frames(p)):
                    if k % every:
                        continue
                    flat = frame.reshape(-1).astype(np.int64)
                    mids.append(int(mid))
                    fidx.append(k)
                    mean_i.append(flat.sum() / flat.size)
                    max_i.append(int(flat.max()))
                    ck.append(int((flat * np.arange(flat.size, dtype=np.int64)).sum()))
            yield pd.DataFrame(
                {
                    "media_id": np.array(mids, dtype="int64"),
                    "frame_idx": np.array(fidx, dtype="int32"),
                    "mean_intensity": np.array(mean_i, dtype="float64"),
                    "max_intensity": np.array(max_i, dtype="int32"),
                    "checksum_weighted": np.array(ck, dtype="int64"),
                }
            )

    return media.mapInPandas(kernel, VIDEO_FRAME_SCHEMA)
