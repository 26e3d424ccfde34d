"""Binary-column operators.

Conventions for media at 100 TB:

- payload: one ``binary`` column (Parquet BYTE_ARRAY — column-pruned
  away unless the query touches it; never decode in a filter);
- metadata: a typed struct column (``media_meta``: media type, codec,
  dimensions, sample rate, frame count) written AT INGEST so
  planning-time predicates (resolution, duration, codec) prune without
  touching bytes;
- compute: ``mapInPandas`` — Arrow moves each batch to Python once; the
  UDF sees a pandas iterator, so per-batch vectorization applies and
  memory stays bounded by the batch size, not the partition;
- partitioning: payload rows are large — size
  ``spark.sql.files.maxPartitionBytes`` so a partition holds O(100)
  payloads, and NEVER groupBy a payload column (shuffle would move the
  bytes; aggregate metadata/features instead).
"""

from __future__ import annotations

import sys
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# mapInPandas closures below reference this module's decode functions.
# Cloudpickle serializes module-level functions BY REFERENCE, so a Spark
# Python worker whose sys.path lacks this repo (driver launched from an
# arbitrary cwd) would fail the import. Registering the module for
# by-value pickling makes every shipped closure self-contained.
try:  # pragma: no cover - exercised implicitly by every mapInPandas test
    from pyspark import cloudpickle as _cp

    _cp.register_pickle_by_value(sys.modules[__name__])
except Exception:  # noqa: BLE001 - older cloudpickle: fall back to by-ref
    pass

_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("byte_len", LongType()),
        StructField("n_space_bytes", LongType()),
        StructField("byte_checksum", LongType()),
    ]
)


def attach_text_payload(documents: DataFrame) -> DataFrame:
    """Deterministic binary payload for the testdata ``documents`` table:
    the UTF-8 bytes of ``text`` plus text metadata. In production this
    column is the raw object bytes read at ingest."""
    return documents.withColumn("payload", F.encode("text", "utf-8")).withColumn(
        "media_meta",
        F.struct(
            F.lit("text").alias("media_type"),
            F.lit("utf-8").alias("codec"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("int").alias("n_frames"),
        ),
    )


def extract_byte_features(df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload") -> DataFrame:
    """Per-payload byte statistics via ``mapInPandas``: length, space
    count, additive checksum (mod 2^31-1). The Arrow batch carries only
    (id, payload) — project before calling so no other columns cross the
    JVM↔Python boundary."""

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf[payload_col]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "byte_len": payloads.map(len).astype("int64"),
                    "n_space_bytes": payloads.map(
                        lambda b: b.count(b" ")
                    ).astype("int64"),
                    "byte_checksum": payloads.map(
                        lambda b: sum(b) % 2147483647
                    ).astype("int64"),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(compute, _FEATURES_SCHEMA)


def _read_pnm_token(buf: bytes, pos: int) -> tuple[bytes, int]:
    """Next whitespace-delimited PNM header token, skipping ``#`` comments."""
    while pos < len(buf):
        c = buf[pos : pos + 1]
        if c in (b" ", b"\t", b"\n", b"\r"):
            pos += 1
        elif c == b"#":
            while pos < len(buf) and buf[pos : pos + 1] != b"\n":
                pos += 1
        else:
            break
    start = pos
    while pos < len(buf) and buf[pos : pos + 1] not in (b" ", b"\t", b"\n", b"\r"):
        pos += 1
    return buf[start:pos], pos


def _decode_pnm(payload: bytes):
    import numpy as np

    magic, pos = _read_pnm_token(payload, 0)
    w_b, pos = _read_pnm_token(payload, pos)
    h_b, pos = _read_pnm_token(payload, pos)
    mx_b, pos = _read_pnm_token(payload, pos)
    w, h, mx = int(w_b), int(h_b), int(mx_b)
    if mx > 255:
        raise ValueError("16-bit PNM is unsupported (maxval > 255)")
    pos += 1  # exactly one whitespace byte separates maxval from raster
    channels = 3 if magic == b"P6" else 1
    need = w * h * channels
    raster = payload[pos : pos + need]
    if len(raster) != need:
        raise ValueError(f"truncated PNM raster: need {need}, got {len(raster)}")
    arr = np.frombuffer(raster, dtype=np.uint8).reshape(h, w, channels)
    if channels == 1:  # grayscale → replicate to RGB
        arr = np.repeat(arr, 3, axis=2)
    return w, h, arr


def _decode_bmp24(payload: bytes):
    import struct

    import numpy as np

    if len(payload) < 54:
        raise ValueError("truncated BMP header")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    _, w, h_signed = struct.unpack_from("<Iii", payload, 14)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError("only 24-bit uncompressed (BI_RGB) BMP is supported")
    bottom_up, h = h_signed > 0, abs(h_signed)
    stride = (w * 3 + 3) & ~3  # rows padded to 4-byte boundaries
    raster = payload[data_off : data_off + stride * h]
    if len(raster) != stride * h:
        raise ValueError("truncated BMP raster")
    rows = (
        np.frombuffer(raster, dtype=np.uint8)
        .reshape(h, stride)[:, : w * 3]
        .reshape(h, w, 3)
    )
    if bottom_up:
        rows = rows[::-1]
    return w, h, rows[..., ::-1].copy()  # BGR → RGB


def decode_image(payload: bytes):
    """REAL image decode → ``(width, height, pixels)`` with pixels an
    ``uint8`` ndarray of shape (height, width, 3). Zero-dependency
    parsers for the uncompressed formats — PPM (P6), PGM (P5, gray
    replicated to RGB), 24-bit BI_RGB BMP — cover the container; PNG /
    JPEG dispatch to pillow when installed (optional extra). Unknown
    magic raises ValueError — a data error routed to the quarantine
    side-channel (S10), not a stub."""
    import numpy as np

    if payload[:2] in (b"P6", b"P5"):
        return _decode_pnm(payload)
    if payload[:2] == b"BM":
        return _decode_bmp24(payload)
    if payload[:8] == b"\x89PNG\r\n\x1a\n" or payload[:2] == b"\xff\xd8":
        try:
            from PIL import Image
        except ImportError as exc:
            raise ValueError(
                "PNG/JPEG decode requires the optional pillow extra; "
                "built-in decoders cover PPM/PGM/BMP"
            ) from exc
        import io

        img = Image.open(io.BytesIO(payload)).convert("RGB")
        return img.width, img.height, np.asarray(img, dtype=np.uint8)
    raise ValueError(
        f"unsupported image codec (magic {payload[:4]!r}); "
        "supported: PPM/PGM/BMP built-in, PNG/JPEG via pillow"
    )


def encode_ppm(pixels) -> bytes:
    """Encode an (h, w, 3) uint8 array as binary PPM (P6) — the
    deterministic interchange format for the decode/resize round-trip."""
    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    h, w = arr.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + arr.tobytes()


_FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("frame_len", LongType()),
        StructField("energy", LongType()),
    ]
)


def extract_frame_energy(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    frame_size: int = 256,
) -> DataFrame:
    """Audio-shaped windowed feature extraction: split each payload into
    fixed-size byte frames and emit per-frame energy (Σ byte²) — the
    plumbing shape of resample/RMS/spectrogram stages (1 input row → N
    frame rows through an Arrow batch). A real pipeline swaps the energy
    lambda for a codec decode + DSP; the partitioning, batch shape, and
    explode semantics are exactly this."""

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fidx, flen, energy = [], [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                for k in range(0, max(len(payload), 1), frame_size):
                    frame = payload[k : k + frame_size]
                    ids.append(int(doc_id))
                    fidx.append(k // frame_size)
                    flen.append(len(frame))
                    energy.append(int(sum(b * b for b in frame)))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(fidx, dtype="int64"),
                    "frame_len": pd.Series(flen, dtype="int64"),
                    "energy": pd.Series(energy, dtype="int64"),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(compute, _FRAME_SCHEMA)


def plan_resize_dims(
    df: DataFrame,
    w_col: str,
    h_col: str,
    max_w: int,
    max_h: int,
) -> DataFrame:
    """Aspect-preserving downscale-only fit into a (max_w × max_h) box as
    PURE integer metadata arithmetic — no decode, no Python, exact on
    every engine. Adds ``dst_w``/``dst_h``/``needs_resize``. The binding
    side is chosen by cross-multiplication (w·max_h vs h·max_w) so no
    floats enter the plan; the actual pixel work happens later in a
    mapInPandas over only the rows where ``needs_resize``."""
    w, h = F.col(w_col), F.col(h_col)
    needs = (w > max_w) | (h > max_h)
    wide = (w * max_h) >= (h * max_w)
    dst_w = (
        F.when(~needs, w)
        .when(wide, F.lit(max_w))
        .otherwise(F.greatest(F.lit(1), F.expr(f"({w_col} * {max_h}) DIV {h_col}")))
    )
    dst_h = (
        F.when(~needs, h)
        .when(wide, F.greatest(F.lit(1), F.expr(f"({h_col} * {max_w}) DIV {w_col}")))
        .otherwise(F.lit(max_h))
    )
    return df.withColumn("dst_w", dst_w.cast("int")).withColumn(
        "dst_h", dst_h.cast("int")
    ).withColumn("needs_resize", needs)


def decode_audio(payload: bytes):
    """REAL audio decode for PCM WAV via the stdlib ``wave`` module →
    ``(sample_rate, n_channels, samples)`` with samples an int16 ndarray
    of shape (n_frames, n_channels). 8-bit PCM is center-shifted to the
    signed range; other widths/codecs raise ValueError (quarantine
    side-channel, as in decode_image)."""
    import io
    import wave

    import numpy as np

    try:
        with wave.open(io.BytesIO(payload)) as wf:
            rate, nch, width = wf.getframerate(), wf.getnchannels(), wf.getsampwidth()
            raw = wf.readframes(wf.getnframes())
    except (wave.Error, EOFError) as exc:
        # EOFError: stdlib chunk parsing on empty/truncated headers —
        # same malformed-payload class, same ValueError quarantine
        raise ValueError(f"not a PCM WAV payload: {exc}") from exc
    if width == 2:
        samples = np.frombuffer(raw, dtype="<i2").astype(np.int16)
    elif width == 1:
        samples = (np.frombuffer(raw, dtype=np.uint8).astype(np.int16) - 128) * 256
    else:
        raise ValueError(f"only 8/16-bit PCM WAV supported, got {8 * width}-bit")
    return rate, nch, samples.reshape(-1, nch)


def encode_wav(samples, sample_rate: int) -> bytes:
    """Encode an (n_frames, n_channels) int16 array as 16-bit PCM WAV."""
    import io
    import wave

    import numpy as np

    arr = np.asarray(samples, dtype="<i2")
    if arr.ndim == 1:
        arr = arr[:, None]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(arr.shape[1])
        wf.setsampwidth(2)
        wf.setframerate(int(sample_rate))
        wf.writeframes(arr.tobytes())
    return buf.getvalue()


_DECODE_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_px", LongType()),
        StructField("sum_px", LongType()),
    ]
)


def decode_image_stats(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Decode every payload with the REAL ``decode_image`` and emit
    per-image pixel statistics — the typical ingest-side feature pass
    (dimensions recovered from the codec header, channel-sum for
    normalization stats). Same Arrow-batch contract as
    ``extract_byte_features``: project to (id, payload) before the
    Python boundary."""
    import numpy as np

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ws, hs, npx, spx = [], [], [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                w, h, arr = decode_image(bytes(payload))
                ids.append(int(doc_id))
                ws.append(w)
                hs.append(h)
                npx.append(int(arr.size))
                spx.append(int(np.sum(arr, dtype=np.int64)))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "n_px": pd.Series(npx, dtype="int64"),
                    "sum_px": pd.Series(spx, dtype="int64"),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(compute, _DECODE_STATS_SCHEMA)


_AUDIO_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("n_frames", LongType()),
        StructField("sum_samples", LongType()),
    ]
)


def decode_audio_stats(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Decode every payload with the REAL ``decode_audio`` (stdlib WAV)
    and emit per-clip sample statistics — rate/channels recovered from
    the RIFF header, exact integer sample sum for normalization stats.
    Same Arrow-batch contract as ``decode_image_stats``."""
    import numpy as np

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, rates, chans, frames, sums = [], [], [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                rate, nch, samples = decode_audio(bytes(payload))
                ids.append(int(doc_id))
                rates.append(rate)
                chans.append(nch)
                frames.append(int(samples.shape[0]))
                sums.append(int(np.sum(samples, dtype=np.int64)))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "sample_rate": pd.Series(rates, dtype="int32"),
                    "n_channels": pd.Series(chans, dtype="int32"),
                    "n_frames": pd.Series(frames, dtype="int64"),
                    "sum_samples": pd.Series(sums, dtype="int64"),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(compute, _AUDIO_STATS_SCHEMA)


_AHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("ahash", LongType()),
        StructField("n_bits", LongType()),
    ]
)


def image_ahash(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Perceptual AVERAGE-HASH per image — the near-dup detector for
    image corpora (identical-bytes dedup misses re-encodes; the
    average-hash survives them): decode, collapse to a 7x8 grid of
    brightness blocks, set bit k when block k is strictly brighter than
    the image mean, pack into one BIGINT. Hamming-near hashes =
    near-duplicate images, so the downstream join is the SimHash banded
    trick on this column.

    Integer discipline for cross-engine checkability: brightness is the
    plain channel SUM (no /3, no float), the block/mean compare is
    cross-multiplied (block_sum * total_subpx > total_sum * block_subpx)
    so no division ever happens, and the grid is 7x8 = 56 bits so the
    packed hash stays far inside signed-64. Block membership is
    row r -> r*7 div h, col c -> c*8 div w — integer floor maths the
    oracle reproduces in SQL. Blocks that receive no pixels (images
    narrower/shorter than the grid) compare 0 > 0 and contribute 0."""
    import numpy as np

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes, nbits = [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                w, h, arr = decode_image(bytes(payload))
                gray = arr.astype(np.int64).sum(axis=2)  # (h, w) in [0, 765]
                bi = (np.arange(h, dtype=np.int64) * 7) // h
                bj = (np.arange(w, dtype=np.int64) * 8) // w
                idx = (bi[:, None] * 8 + bj[None, :]).ravel()
                # bincount weights are float64; block sums max out at
                # 765 * w * h ~ 1.6e5 here and < 2^53 generally — exact
                bsum = np.bincount(
                    idx, weights=gray.ravel().astype(np.float64), minlength=56
                ).astype(np.int64)
                bn = np.bincount(idx, minlength=56).astype(np.int64) * 3
                tsum = int(gray.sum())
                tn = 3 * h * w
                bits = (bsum * tn) > (tsum * bn)
                hv = 0
                for k in np.nonzero(bits)[0]:
                    hv |= 1 << int(k)
                ids.append(int(doc_id))
                hashes.append(hv)
                nbits.append(int(bits.sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "ahash": pd.Series(hashes, dtype="int64"),
                    "n_bits": pd.Series(nbits, dtype="int64"),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(compute, _AHASH_SCHEMA)
