"""Multimodal column plumbing (image/audio/video as opaque binary).

The container has no external image/audio codecs (PIL/ffmpeg), so the
generic *decode* step is a clearly-marked stub (deterministic fake
features) — but everything Spark-side is real and tested: the binary
column handling, typed metadata schema, Arrow batch shape through
``mapInPandas``, and the partitioning contract. For the formats that
decode with stdlib + numpy alone, REAL codecs exist below: WAV
(RIFF PCM chunk walk → sample statistics), BMP (uncompressed 24-bit →
pixel means), and a real nearest-neighbor image resize over the
decoded pixel buffer (see the "REAL codecs" section).

At 100 TB: blobs stay in the executor (never collected); decode is a
per-partition Arrow-batched pass, so adding a real codec (PIL/ffmpeg)
changes only ``_decode_batch``. Batch size is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch`` to cap peak memory
with large blobs.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DECODE_SCHEMA = (
    "doc_id bigint, byte_len bigint, header_byte bigint, "
    "fake_width bigint, fake_height bigint, modality string"
)


def _decode_batch(batch: pd.DataFrame) -> pd.DataFrame:
    """STUB decoder: deterministic fake features from the raw bytes.

    A real deployment replaces this body with PIL/libav decode; the
    signature (pandas batch in/out, one row per blob) is the real
    contract.
    """
    blobs = batch["blob"]
    byte_len = blobs.map(len)
    header = blobs.map(lambda b: b[0] if len(b) else 0)
    return pd.DataFrame(
        {
            "doc_id": batch["doc_id"],
            "byte_len": byte_len,
            "header_byte": header,
            "fake_width": (byte_len % 640).astype("int64"),
            "fake_height": (byte_len % 480).astype("int64"),
            "modality": batch["modality"],
        }
    )


def decode_features(blobs: DataFrame) -> DataFrame:
    """blob table (doc_id, blob binary, modality) -> typed features.

    Arrow-batched ``mapInPandas``: no per-row Python overhead, no
    driver collection.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield _decode_batch(b)

    return blobs.mapInPandas(gen, schema=DECODE_SCHEMA)


def documents_as_blobs(docs: DataFrame) -> DataFrame:
    """Fixture: treat utf-8 document bytes as opaque blobs."""
    return docs.select(
        F.col("doc_id"),
        F.encode(F.col("text"), "utf-8").alias("blob"),
        F.lit("text").alias("modality"),
    )


RESIZE_SCHEMA = (
    "doc_id bigint, src_width bigint, src_height bigint, "
    "out_width bigint, out_height bigint, resized_hash string"
)
RESIZE_TARGET_W = 224


def _resize_batch(batch: pd.DataFrame) -> pd.DataFrame:
    """STUB resizer: aspect-preserving integer letterbox to width 224.

    A real deployment replaces the body with PIL.Image.resize; the
    contract (pandas batch in/out, source dims -> target dims + a
    digest standing in for the resized pixel buffer) is the real
    part. All-integer math so the DuckDB oracle replays it exactly.
    """
    import hashlib

    byte_len = batch["blob"].map(len)
    src_w = (byte_len % 640).clip(lower=1)
    src_h = (byte_len % 480).clip(lower=1)
    out_w = src_w * 0 + RESIZE_TARGET_W
    out_h = (src_h * RESIZE_TARGET_W // src_w).clip(lower=1)
    digest = [
        hashlib.md5(f"{n}:{w}x{h}".encode()).hexdigest()
        for n, w, h in zip(byte_len, out_w, out_h)
    ]
    return pd.DataFrame(
        {
            "doc_id": batch["doc_id"],
            "src_width": src_w.astype("int64"),
            "src_height": src_h.astype("int64"),
            "out_width": out_w.astype("int64"),
            "out_height": out_h.astype("int64"),
            "resized_hash": digest,
        }
    )


def resize_images(blobs: DataFrame) -> DataFrame:
    """blob table -> resized-image metadata (image resize plumbing).

    Arrow-batched ``mapInPandas``; blobs never leave the executor.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield _resize_batch(b)

    return blobs.mapInPandas(gen, schema=RESIZE_SCHEMA)


FRAME_SCHEMA = "doc_id bigint, frame_idx bigint, n_frames bigint, frame_hash string"
FRAME_CHARS = 16


def _frame_batch(batch: pd.DataFrame) -> pd.DataFrame:
    """STUB frame sampler: deterministic evenly-strided "frames".

    A real deployment replaces the body with ffmpeg keyframe
    extraction; the contract is the real part — one input blob row
    fans out to n_frames output rows inside the Arrow batch (no
    driver round-trip, no exploding a giant array column through the
    shuffle). Frame identity is char-based so the DuckDB oracle can
    replay it (substr/length are char semantics in both engines).
    """
    import hashlib

    out: dict[str, list] = {"doc_id": [], "frame_idx": [], "n_frames": [], "frame_hash": []}
    for doc_id, blob in zip(batch["doc_id"], batch["blob"]):
        text = bytes(blob).decode("utf-8")
        n = len(text) % 4 + 1
        stride = len(text) // n
        for i in range(n):
            sample = text[i * stride : i * stride + FRAME_CHARS]
            out["doc_id"].append(doc_id)
            out["frame_idx"].append(i)
            out["n_frames"].append(n)
            out["frame_hash"].append(hashlib.md5(sample.encode("utf-8")).hexdigest())
    return pd.DataFrame(out)


def frame_sample(blobs: DataFrame) -> DataFrame:
    """blob table -> sampled frame rows (video/audio frame plumbing).

    Arrow-batched ``mapInPandas`` with a 1->N row fan-out — the batch
    shape a real decoder needs (bounded by arrow.maxRecordsPerBatch).
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield _frame_batch(b)

    return blobs.mapInPandas(gen, schema=FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# REAL codecs (VERDICT r3 stretch item). The container has no PIL/ffmpeg,
# but WAV (RIFF PCM) and BMP (uncompressed BITMAPINFOHEADER) decode with
# stdlib struct + numpy alone — so these are NOT stubs: they parse the
# actual byte layout and compute features from the actual samples/pixels.
# The stub decoders above remain as the deterministic oracle twins for
# formats that genuinely need external codecs (JPEG/MP4/...).
# Malformed blobs surface as decode_ok=false rows, never exceptions — at
# 100 TB one corrupt blob must not kill a 10k-task stage.
# ---------------------------------------------------------------------------

WAV_SCHEMA = (
    "doc_id bigint, decode_ok boolean, sample_rate bigint, n_channels bigint, "
    "bit_depth bigint, n_samples bigint, duration_ms double, rms double, peak bigint"
)


def _parse_wav(b: bytes) -> dict | None:
    """Real RIFF/WAVE PCM parser (chunk walk, little-endian)."""
    import struct

    import numpy as np

    if len(b) < 44 or b[0:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        (size,) = struct.unpack_from("<I", b, pos + 4)
        body = b[pos + 8 : pos + 8 + size]
        if cid == b"fmt " and len(body) >= 16:
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        return None
    audio_fmt, n_ch, rate, _brate, _align, bits = fmt
    if audio_fmt != 1 or n_ch < 1 or rate < 1:
        return None  # PCM only
    dtype = {8: np.uint8, 16: np.int16, 32: np.int32}.get(bits)
    if dtype is None:
        return None
    samples = np.frombuffer(data[: len(data) - len(data) % (bits // 8)], dtype=dtype)
    if bits == 8:  # 8-bit WAV is unsigned, centered at 128
        samples = samples.astype(np.int16) - 128
    n = len(samples) // n_ch
    x = samples[: n * n_ch].astype(np.float64)
    return {
        "sample_rate": rate,
        "n_channels": n_ch,
        "bit_depth": bits,
        "n_samples": n,
        "duration_ms": round(n * 1000.0 / rate, 6),
        "rms": round(float(np.sqrt(np.mean(x * x))), 6) if n else 0.0,
        "peak": int(np.max(np.abs(x))) if n else 0,
        "samples": x,  # interleaved float64, for downstream DSP
    }


def decode_wav(blobs: DataFrame) -> DataFrame:
    """REAL WAV decode over (doc_id, blob): header fields + sample
    statistics computed from the decoded PCM. Arrow-batched
    mapInPandas; blobs never leave the executors."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ("sample_rate", "n_channels", "bit_depth", "n_samples",
                "duration_ms", "rms", "peak")
        for b in batches:
            rows = []
            for doc_id, blob in zip(b["doc_id"], b["blob"]):
                p = _parse_wav(bytes(blob))
                row = {"doc_id": doc_id, "decode_ok": p is not None}
                row.update(p or {c: None for c in cols})
                rows.append(row)
            yield pd.DataFrame(rows)

    return blobs.mapInPandas(gen, schema=WAV_SCHEMA)


BMP_SCHEMA = (
    "doc_id bigint, decode_ok boolean, width bigint, height bigint, bpp bigint, "
    "mean_r double, mean_g double, mean_b double"
)


def _parse_bmp(b: bytes):
    """Real uncompressed 24-bit BMP parser -> (h, w, 3) RGB array."""
    import struct

    import numpy as np

    if len(b) < 54 or b[0:2] != b"BM":
        return None
    (pixel_off,) = struct.unpack_from("<I", b, 10)
    width, height = struct.unpack_from("<ii", b, 18)
    (bpp,) = struct.unpack_from("<H", b, 28)
    (compression,) = struct.unpack_from("<I", b, 30)
    if bpp != 24 or compression != 0 or width <= 0 or height == 0:
        return None
    flip = height > 0  # positive height = bottom-up row order
    h = abs(height)
    stride = (width * 3 + 3) // 4 * 4
    if pixel_off + stride * h > len(b):
        return None
    px = np.frombuffer(b, dtype=np.uint8, count=stride * h, offset=pixel_off)
    img = px.reshape(h, stride)[:, : width * 3].reshape(h, width, 3)
    if flip:
        img = img[::-1]
    return img[:, :, ::-1]  # BGR -> RGB


def decode_bmp(blobs: DataFrame) -> DataFrame:
    """REAL BMP decode over (doc_id, blob): dimensions + per-channel
    pixel means from the actual pixel buffer."""
    import numpy as np

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for doc_id, blob in zip(b["doc_id"], b["blob"]):
                img = _parse_bmp(bytes(blob))
                if img is None:
                    rows.append({"doc_id": doc_id, "decode_ok": False,
                                 "width": None, "height": None, "bpp": None,
                                 "mean_r": None, "mean_g": None, "mean_b": None})
                else:
                    m = img.reshape(-1, 3).mean(axis=0, dtype=np.float64)
                    rows.append({"doc_id": doc_id, "decode_ok": True,
                                 "width": img.shape[1], "height": img.shape[0],
                                 "bpp": 24, "mean_r": round(float(m[0]), 6),
                                 "mean_g": round(float(m[1]), 6),
                                 "mean_b": round(float(m[2]), 6)})
            yield pd.DataFrame(rows)

    return blobs.mapInPandas(gen, schema=BMP_SCHEMA)


RESIZE_REAL_SCHEMA = (
    "doc_id bigint, decode_ok boolean, src_width bigint, src_height bigint, "
    "out_width bigint, out_height bigint, resized_sha256 string"
)


def resize_bmp_real(blobs: DataFrame, target_w: int = RESIZE_TARGET_W) -> DataFrame:
    """REAL image resize: decode BMP, aspect-preserving nearest-
    neighbor resample to ``target_w`` via numpy index mapping, sha256
    of the actual resized RGB buffer (deterministic: integer source
    indices, no interpolation rounding)."""
    import hashlib

    import numpy as np

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for doc_id, blob in zip(b["doc_id"], b["blob"]):
                img = _parse_bmp(bytes(blob))
                if img is None:
                    rows.append({"doc_id": doc_id, "decode_ok": False,
                                 "src_width": None, "src_height": None,
                                 "out_width": None, "out_height": None,
                                 "resized_sha256": None})
                    continue
                h, w = img.shape[:2]
                ow = int(target_w)
                oh = max(1, h * ow // w)
                yi = (np.arange(oh) * h) // oh
                xi = (np.arange(ow) * w) // ow
                out = img[yi][:, xi]
                rows.append({"doc_id": doc_id, "decode_ok": True,
                             "src_width": w, "src_height": h,
                             "out_width": ow, "out_height": oh,
                             "resized_sha256": hashlib.sha256(
                                 np.ascontiguousarray(out).tobytes()).hexdigest()})
            yield pd.DataFrame(rows)

    return blobs.mapInPandas(gen, schema=RESIZE_REAL_SCHEMA)


PNG_SCHEMA = (
    "doc_id bigint, decode_ok boolean, width bigint, height bigint, "
    "channels bigint, mean_r double, mean_g double, mean_b double"
)


def _parse_png(b: bytes):
    """Real PNG parser (stdlib zlib): chunk walk -> IHDR + IDAT,
    inflate, un-filter all five scanline filter types (None/Sub/Up/
    Average/Paeth). Supports the common web cases: 8-bit RGB
    (color type 2) and RGBA (6), non-interlaced. Returns an
    (h, w, channels) uint8 array or None for anything else/corrupt."""
    import struct
    import zlib

    import numpy as np

    if len(b) < 8 or b[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    pos, ihdr, idat = 8, None, []
    try:
        while pos + 8 <= len(b):
            (ln,) = struct.unpack(">I", b[pos : pos + 4])
            typ = b[pos + 4 : pos + 8]
            data = b[pos + 8 : pos + 8 + ln]
            if len(data) < ln:
                return None
            if typ == b"IHDR":
                ihdr = struct.unpack(">IIBBBBB", data)
            elif typ == b"IDAT":
                idat.append(data)
            elif typ == b"IEND":
                break
            pos += 12 + ln  # len + type + data + crc
        if ihdr is None or not idat:
            return None
        w, h, depth, ctype, comp, filt, interlace = ihdr
        if depth != 8 or ctype not in (2, 6) or comp != 0 or filt != 0 or interlace != 0:
            return None
        ch = 3 if ctype == 2 else 4
        raw = zlib.decompress(b"".join(idat))
        stride = w * ch
        if len(raw) != h * (stride + 1):
            return None
        out = np.zeros((h, stride), dtype=np.uint8)
        prev = np.zeros(stride, dtype=np.uint8)
        for y in range(h):
            row = raw[y * (stride + 1) : (y + 1) * (stride + 1)]
            ftype, line = row[0], np.frombuffer(row[1:], dtype=np.uint8).copy()
            if ftype == 0:
                cur = line
            elif ftype == 2:  # Up
                cur = (line.astype(np.int16) + prev).astype(np.uint8)
            elif ftype in (1, 3, 4):  # Sub / Average / Paeth: sequential
                cur = np.zeros(stride, dtype=np.uint8)
                for x in range(stride):
                    a = int(cur[x - ch]) if x >= ch else 0
                    up = int(prev[x])
                    c = int(prev[x - ch]) if x >= ch else 0
                    if ftype == 1:
                        pred = a
                    elif ftype == 3:
                        pred = (a + up) // 2
                    else:
                        p = a + up - c
                        pa, pb, pc = abs(p - a), abs(p - up), abs(p - c)
                        pred = a if (pa <= pb and pa <= pc) else (up if pb <= pc else c)
                    cur[x] = (int(line[x]) + pred) & 0xFF
            else:
                return None
            out[y] = cur
            prev = cur
        return out.reshape(h, w, ch)
    except Exception:
        return None


def decode_png(blobs: DataFrame) -> DataFrame:
    """REAL PNG decode over (doc_id, blob): dimensions + per-channel
    means from the actual inflated, un-filtered pixel buffer."""
    import numpy as np

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for doc_id, blob in zip(b["doc_id"], b["blob"]):
                img = _parse_png(bytes(blob))
                if img is None:
                    rows.append({"doc_id": doc_id, "decode_ok": False,
                                 "width": None, "height": None, "channels": None,
                                 "mean_r": None, "mean_g": None, "mean_b": None})
                else:
                    m = img.reshape(-1, img.shape[2]).mean(axis=0, dtype=np.float64)
                    rows.append({"doc_id": doc_id, "decode_ok": True,
                                 "width": img.shape[1], "height": img.shape[0],
                                 "channels": img.shape[2],
                                 "mean_r": round(float(m[0]), 6),
                                 "mean_g": round(float(m[1]), 6),
                                 "mean_b": round(float(m[2]), 6)})
            yield pd.DataFrame(rows)

    return blobs.mapInPandas(gen, schema=PNG_SCHEMA)


WAV_FRAME_SCHEMA = (
    "doc_id bigint, frame_idx bigint, start_ms double, rms double, "
    "zcr double, silent boolean, clipped boolean"
)


def wav_frame_features(
    blobs: DataFrame,
    frame_ms: int = 250,
    silence_rms: float = 1.0,
) -> DataFrame:
    """Frame-level audio features over REAL decoded PCM (X122): the
    1→N per-frame fan-out a speech pipeline's VAD/segmenter runs
    before transcription — per frame: RMS energy, zero-crossing rate
    (the classic voiced/unvoiced + noise discriminator), a silence
    flag (RMS under ``silence_rms``), and a clipping flag (any sample
    at full scale). Channels are averaged to mono first; the trailing
    partial frame is emitted (its start_ms tells the consumer its
    true length). Undecodable blobs contribute no rows — the decode_ok
    gate is :func:`decode_wav`'s job.

    Scale shape: Arrow-batched mapInPandas, one row per frame, blobs
    never leave the executors; vectorized numpy per blob (reshape +
    per-frame reductions, no Python per-sample loop)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for b in batches:
            out: dict[str, list] = {
                "doc_id": [], "frame_idx": [], "start_ms": [], "rms": [],
                "zcr": [], "silent": [], "clipped": [],
            }
            for doc_id, blob in zip(b["doc_id"], b["blob"]):
                p = _parse_wav(bytes(blob))
                if p is None or p["n_samples"] == 0:
                    continue
                bits, n_ch, rate = p["bit_depth"], p["n_channels"], p["sample_rate"]
                dtype = {8: np.uint8, 16: np.int16, 32: np.int32}[bits]
                # re-extract PCM exactly as _parse_wav does
                raw = bytes(blob)
                pos, data = 12, None
                import struct

                while pos + 8 <= len(raw):
                    cid = raw[pos : pos + 4]
                    (size,) = struct.unpack_from("<I", raw, pos + 4)
                    if cid == b"data":
                        data = raw[pos + 8 : pos + 8 + size]
                        break
                    pos += 8 + size + (size & 1)
                samples = np.frombuffer(
                    data[: len(data) - len(data) % (bits // 8)], dtype=dtype
                )
                if bits == 8:
                    samples = samples.astype(np.int16) - 128
                n = len(samples) // n_ch
                x = samples[: n * n_ch].astype(np.float64).reshape(n, n_ch)
                full_scale = float(2 ** (bits - 1) - 1) if bits > 8 else 127.0
                clip_mask = np.abs(x).max(axis=1) >= full_scale
                mono = x.mean(axis=1)
                flen = max(1, int(rate * frame_ms / 1000))
                nfr = (n + flen - 1) // flen
                for i in range(nfr):
                    fr = mono[i * flen : (i + 1) * flen]
                    rms = float(np.sqrt(np.mean(fr * fr)))
                    sign = np.sign(fr)
                    sign[sign == 0] = 1
                    zcr = (
                        float(np.count_nonzero(np.diff(sign)) / (len(fr) - 1))
                        if len(fr) > 1
                        else 0.0
                    )
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i)
                    out["start_ms"].append(round(i * flen * 1000.0 / rate, 6))
                    out["rms"].append(round(rms, 6))
                    out["zcr"].append(round(zcr, 6))
                    out["silent"].append(rms < silence_rms)
                    out["clipped"].append(
                        bool(clip_mask[i * flen : (i + 1) * flen].any())
                    )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                    "frame_idx": pd.Series(out["frame_idx"], dtype="int64"),
                    "start_ms": pd.Series(out["start_ms"], dtype="float64"),
                    "rms": pd.Series(out["rms"], dtype="float64"),
                    "zcr": pd.Series(out["zcr"], dtype="float64"),
                    "silent": pd.Series(out["silent"], dtype="bool"),
                    "clipped": pd.Series(out["clipped"], dtype="bool"),
                }
            )

    return blobs.mapInPandas(gen, schema=WAV_FRAME_SCHEMA)


def synth_wav_blobs(
    docs: DataFrame,
    id_col: str = "doc_id",
    n_samples: int = 4000,
    rate: int = 8000,
) -> DataFrame:
    """Deterministic synthetic audio corpus (the testdata ships no
    audio column): per document, a REAL 16-bit mono PCM WAV whose
    samples alternate ±(doc_id % 1000) — fake CONTENT, real RIFF
    container, so everything downstream (decode_wav,
    wav_frame_features) exercises the genuine codec path and the
    expected features have closed forms an oracle can state."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        import numpy as np

        for b in batches:
            ids, blobs = [], []
            for doc_id in b[id_col]:
                amp = int(doc_id) % 1000
                pcm = np.empty(n_samples, dtype=np.int16)
                pcm[0::2] = amp
                pcm[1::2] = -amp
                data = pcm.tobytes()
                hdr = (
                    b"RIFF"
                    + struct.pack("<I", 36 + len(data))
                    + b"WAVEfmt "
                    + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
                    + b"data"
                    + struct.pack("<I", len(data))
                )
                ids.append(int(doc_id))
                blobs.append(hdr + data)
            yield pd.DataFrame(
                {"doc_id": pd.Series(ids, dtype="int64"), "blob": blobs}
            )

    return docs.select(F.col(id_col).alias("doc_id")).mapInPandas(
        gen, schema="doc_id bigint, blob binary"
    )


# ---------------------------------------------------------------------------
# REAL video container: RIFF/AVI with uncompressed DIB frames. Parses
# with stdlib struct + numpy alone (same bar as the WAV/BMP codecs): a
# recursive RIFF LIST walk finds `avih` (dimensions) and the `movi`
# frame chunks; frame SAMPLING skips non-sampled frame bodies without
# decoding them — at 100 TB you touch 1/k of the pixel bytes.
# ---------------------------------------------------------------------------

AVI_FRAME_SCHEMA = (
    "doc_id bigint, frame_idx bigint, n_frames bigint, width bigint, "
    "height bigint, mean_r double, mean_g double, mean_b double"
)


def _parse_avi(b: bytes):
    """Real RIFF/AVI container walk → dims + (offset, size) per frame.

    Only the chunk HEADERS are touched here — frame pixel bodies are
    decoded lazily by the caller (the point of sampled decode)."""
    import struct

    if len(b) < 12 or b[0:4] != b"RIFF" or b[8:12] != b"AVI ":
        return None
    dims = [None, None]
    frames: list[tuple[int, int]] = []

    def walk(pos: int, end: int) -> None:
        while pos + 8 <= end:
            cid = b[pos : pos + 4]
            (size,) = struct.unpack_from("<I", b, pos + 4)
            body = pos + 8
            if body + size > len(b):
                return
            if cid == b"LIST":
                walk(body + 4, body + size)
            elif cid == b"avih" and size >= 40:
                dims[0], dims[1] = struct.unpack_from("<II", b, body + 32)
            elif cid == b"00db":
                frames.append((body, size))
            pos = body + size + (size & 1)  # chunks are word-aligned

    walk(12, len(b))
    w, h = dims
    if not w or not h or not frames:
        return None
    return {"width": int(w), "height": int(h), "frames": frames}


def _decode_dib(b: bytes, off: int, size: int, w: int, h: int):
    """Decode one uncompressed 24-bit DIB frame body (bottom-up BGR
    rows, 4-byte stride padding) → (h, w, 3) RGB array."""
    import numpy as np

    stride = (w * 3 + 3) // 4 * 4
    if size < stride * h:
        return None
    px = np.frombuffer(b, dtype=np.uint8, count=stride * h, offset=off)
    img = px.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)[::-1]
    return img[:, :, ::-1]  # BGR -> RGB


def avi_frame_sample(blobs: DataFrame, every: int = 2) -> DataFrame:
    """Sampled frame features over a REAL video container (X123): walk
    the RIFF/AVI chunk tree, decode every ``every``-th DIB frame, emit
    per-sampled-frame per-channel pixel means — the frame-sampling
    pass a vision pretraining pipeline runs before captioning/CLIP
    scoring. Non-sampled frame bodies are never decoded (header walk
    only); undecodable blobs contribute no rows.

    Scale shape: Arrow-batched mapInPandas 1→N fan-out, blobs never
    leave the executors, zero shuffles; a real codec (ffmpeg keyframe
    extraction) swaps into `_decode_dib` without touching the plan."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for b in batches:
            out: dict[str, list] = {
                "doc_id": [], "frame_idx": [], "n_frames": [], "width": [],
                "height": [], "mean_r": [], "mean_g": [], "mean_b": [],
            }
            for doc_id, blob in zip(b["doc_id"], b["blob"]):
                raw = bytes(blob)
                p = _parse_avi(raw)
                if p is None:
                    continue
                w, h = p["width"], p["height"]
                n = len(p["frames"])
                for i in range(0, n, every):
                    off, size = p["frames"][i]
                    img = _decode_dib(raw, off, size, w, h)
                    if img is None:
                        continue
                    m = img.reshape(-1, 3).mean(axis=0, dtype=np.float64)
                    out["doc_id"].append(int(doc_id))
                    out["frame_idx"].append(i)
                    out["n_frames"].append(n)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["mean_r"].append(round(float(m[0]), 6))
                    out["mean_g"].append(round(float(m[1]), 6))
                    out["mean_b"].append(round(float(m[2]), 6))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                    "frame_idx": pd.Series(out["frame_idx"], dtype="int64"),
                    "n_frames": pd.Series(out["n_frames"], dtype="int64"),
                    "width": pd.Series(out["width"], dtype="int64"),
                    "height": pd.Series(out["height"], dtype="int64"),
                    "mean_r": pd.Series(out["mean_r"], dtype="float64"),
                    "mean_g": pd.Series(out["mean_g"], dtype="float64"),
                    "mean_b": pd.Series(out["mean_b"], dtype="float64"),
                }
            )

    return blobs.mapInPandas(gen, schema=AVI_FRAME_SCHEMA)


def _riff_chunk(cid: bytes, body: bytes) -> bytes:
    import struct

    return cid + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")


def synth_avi_blobs(
    docs: DataFrame,
    id_col: str = "doc_id",
    width: int = 32,
    height: int = 8,
    base_frames: int = 4,
) -> DataFrame:
    """Deterministic synthetic video corpus: per document a REAL
    RIFF/AVI container (hdrl: avih + strl(strh/strf); movi: `00db`
    DIB frames, bottom-up BGR, stride-padded) holding
    ``base_frames + doc_id % 3`` solid-color frames where frame i is
    RGB ((doc_id+i)%256, (2i)%256, 17) — fake CONTENT with closed-form
    features, real CONTAINER, so the oracle pins the whole
    encode → chunk-walk → DIB-decode → frame-sample round trip."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        import numpy as np

        stride = (width * 3 + 3) // 4 * 4
        for b in batches:
            ids, blobs = [], []
            for doc_id in b[id_col]:
                doc_id = int(doc_id)
                n_frames = base_frames + doc_id % 3
                frames = []
                for i in range(n_frames):
                    row = np.zeros(stride, dtype=np.uint8)
                    px = row[: width * 3].reshape(width, 3)
                    px[:, 0] = 17                      # B
                    px[:, 1] = (2 * i) % 256           # G
                    px[:, 2] = (doc_id + i) % 256      # R
                    frames.append(row.tobytes() * height)
                avih = struct.pack(
                    "<10I", 40000, 0, 0, 0, n_frames, 0, 1, 0, width, height
                ) + b"\x00" * 16
                strh = b"vids" + b"DIB " + b"\x00" * 48
                strf = struct.pack(
                    "<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                    stride * height, 0, 0, 0, 0,
                )
                hdrl = _riff_chunk(
                    b"LIST",
                    b"hdrl"
                    + _riff_chunk(b"avih", avih)
                    + _riff_chunk(
                        b"LIST",
                        b"strl" + _riff_chunk(b"strh", strh) + _riff_chunk(b"strf", strf),
                    ),
                )
                movi = _riff_chunk(
                    b"LIST", b"movi" + b"".join(_riff_chunk(b"00db", f) for f in frames)
                )
                body = b"AVI " + hdrl + movi
                ids.append(doc_id)
                blobs.append(b"RIFF" + struct.pack("<I", len(body)) + body)
            yield pd.DataFrame(
                {"doc_id": pd.Series(ids, dtype="int64"), "blob": blobs}
            )

    return docs.select(F.col(id_col).alias("doc_id")).mapInPandas(
        gen, schema="doc_id bigint, blob binary"
    )


def vad_segments(frames: DataFrame, silence_col: str = "silent") -> DataFrame:
    """Voice-activity segments (X132): merge CONSECUTIVE non-silent
    frames (the :func:`wav_frame_features` output) into voiced
    segments — the VAD pass that turns frame flags into the
    (start, length) utterance spans a transcription pipeline consumes.
    Classic run grouping: frame_idx − row_number is constant within a
    consecutive run, so one window + one aggregate per doc; the only
    exchange is the per-doc window shuffle (frames of one recording
    co-locate — the natural partitioning for any per-recording pass).

    Returns (doc_id, first_frame, n_frames, seg_start_ms, mean_rms)
    with one row per voiced segment."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    runs = frames.filter(~F.col(silence_col)).withColumn(
        "grp", F.col("frame_idx") - F.row_number().over(w)
    )
    return (
        runs.groupBy("doc_id", "grp")
        .agg(
            F.min("frame_idx").cast("bigint").alias("first_frame"),
            F.count(F.lit(1)).cast("bigint").alias("n_frames"),
            F.min("start_ms").alias("seg_start_ms"),
            F.round(F.avg("rms"), 6).alias("mean_rms"),
        )
        .drop("grp")
    )


# ---------------------------------------------------------------------------
# Image perceptual hashing (X135/X136): a deterministic synthetic BMP
# corpus with closed-form structure rides the REAL codec path
# (encode -> _parse_bmp -> grayscale -> aHash/dHash), then near-dup
# grouping runs banded-LSH-style over DISTINCT fingerprints — the
# image twin of the SimHash text tier. Reference parity: the reference
# pipeline treats media as opaque blobs + fingerprints; perceptual
# hashing is the standard public design (pHash/dHash family).
# ---------------------------------------------------------------------------

IMG_HASH_SCHEMA = (
    "doc_id bigint, decode_ok boolean, width bigint, height bigint, "
    "gray_mean double, ahash_hex string, dhash_hex string, "
    "dhash_bytes array<int>"
)


def synth_bmp_blobs(
    docs: DataFrame, mode: str = "fill", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic synthetic image corpus (the testdata ships no
    image column): per document, a REAL uncompressed 24-bit bottom-up
    BMP (same encoder conventions the tests' ``make_bmp`` pins), so
    everything downstream exercises the genuine codec path and the
    expected hashes have closed forms an oracle can state.

    mode="fill": 8x8 grayscale image whose first ``doc_id % 64``
    pixels in TOP-DOWN row-major order are white (255), the rest
    black. The aHash closed form is pure integer arithmetic, and the
    bottom-up row flip is load-bearing — a parser that forgets the
    flip reorders the fill-boundary row and breaks the hash.

    mode="seeded": 9x8 image (27-byte rows -> stride 28: exercises the
    row-padding path) whose gray value at (x, y) is the first byte of
    md5("{seed}:{x}:{y}") with seed = doc_id % 97. Same seed =>
    bit-identical image => dHash Hamming 0; across the 97*96/2
    distinct seed pairs the minimum dHash Hamming is 16 (asserted in
    tests), so near-dup groups at any small threshold are EXACTLY the
    seed classes — the planted structure the grouping oracle states.
    """
    import hashlib
    import struct

    import numpy as np

    if mode not in ("fill", "seeded"):
        raise ValueError(f"unknown synth mode {mode!r}")

    def _encode(img: "np.ndarray") -> bytes:
        h, w, _ = img.shape
        stride = (w * 3 + 3) // 4 * 4
        rows = b""
        for y in reversed(range(h)):  # bottom-up, BGR, padded rows
            row = img[y][:, ::-1].tobytes()
            rows += row + b"\x00" * (stride - len(row))
        header = b"BM" + struct.pack("<IHHI", 14 + 40 + len(rows), 0, 0, 54)
        info = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(rows), 2835, 2835, 0, 0
        )
        return header + info + rows

    def _seeded_img(seed: int) -> "np.ndarray":
        g = np.empty((8, 9), dtype=np.uint8)
        for y in range(8):
            for x in range(9):
                g[y, x] = hashlib.md5(f"{seed}:{x}:{y}".encode()).digest()[0]
        return np.repeat(g[:, :, None], 3, axis=2)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[int, bytes] = {}
        for b in batches:
            ids, blobs = [], []
            for doc_id in b[id_col]:
                doc_id = int(doc_id)
                key = doc_id % 64 if mode == "fill" else doc_id % 97
                blob = cache.get(key)
                if blob is None:
                    if mode == "fill":
                        flat = np.zeros(64, dtype=np.uint8)
                        flat[:key] = 255
                        img = np.repeat(flat.reshape(8, 8)[:, :, None], 3, axis=2)
                    else:
                        img = _seeded_img(key)
                    blob = _encode(img)
                    cache[key] = blob
                ids.append(doc_id)
                blobs.append(blob)
            yield pd.DataFrame(
                {"doc_id": pd.Series(ids, dtype="int64"), "blob": blobs}
            )

    return docs.select(F.col(id_col).alias("doc_id")).mapInPandas(
        gen, schema="doc_id bigint, blob binary"
    )


def _gray_plane(img) -> "np.ndarray":
    """Grayscale plane for hashing. The synthetic corpora are true
    grayscale (r=g=b), so channel 0 IS the gray value — no luminance
    rounding convention to disagree on cross-engine."""
    return img[:, :, 0]


def _msb_bytes(bits) -> list[int]:
    """Pack an (8, 8) boolean grid into 8 row bytes, MSB = leftmost."""
    import numpy as np

    weights = np.array([128, 64, 32, 16, 8, 4, 2, 1], dtype=np.int64)
    return [int(v) for v in bits.astype(np.int64) @ weights]


def image_hashes(blobs: DataFrame) -> DataFrame:
    """REAL BMP decode -> perceptual hashes per image:

    - aHash over the leftmost 8x8 grid: bit = gray > mean(grid),
      row-major, MSB-first per row byte (the classic average hash).
    - dHash over 9-wide rows: bit = gray[x+1] > gray[x] for x in 0..7
      (the classic difference hash); NULL when the image is narrower
      than 9 px rather than a silently-different gradient grid.

    Emits hex strings plus the 8 dHash row BYTES so downstream
    Hamming/banding stays JVM-side (bit_count over int xor) — the
    Python boundary is crossed exactly once, here."""
    import numpy as np

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for doc_id, blob in zip(b["doc_id"], b["blob"]):
                img = _parse_bmp(bytes(blob))
                if img is None or img.shape[0] < 8 or img.shape[1] < 8:
                    rows.append(
                        {"doc_id": doc_id, "decode_ok": False, "width": None,
                         "height": None, "gray_mean": None, "ahash_hex": None,
                         "dhash_hex": None, "dhash_bytes": None}
                    )
                    continue
                gray = _gray_plane(img).astype(np.int64)
                grid = gray[:8, :8]
                abits = grid > (grid.sum() / 64.0)
                abytes = _msb_bytes(abits)
                dhex, dbytes = None, None
                if gray.shape[1] >= 9:
                    dbits = gray[:8, 1:9] > gray[:8, :8]
                    dbytes = _msb_bytes(dbits)
                    dhex = "".join(f"{v:02x}" for v in dbytes)
                rows.append(
                    {"doc_id": doc_id, "decode_ok": True,
                     "width": img.shape[1], "height": img.shape[0],
                     "gray_mean": round(float(gray.mean()), 6),
                     "ahash_hex": "".join(f"{v:02x}" for v in abytes),
                     "dhash_hex": dhex, "dhash_bytes": dbytes}
                )
            yield pd.DataFrame(rows)

    return blobs.mapInPandas(gen, schema=IMG_HASH_SCHEMA)


def _near_dup_assign(
    members: DataFrame, d: DataFrame, near: DataFrame, key: str
) -> DataFrame:
    """The shared tail of the near-dup groupers: each distinct
    fingerprint's representative is the min doc_id over its direct
    near-partners and itself, and every member row gets it with its
    group size.

    ``members`` is (doc_id, key), ``d`` one row per distinct
    fingerprint (key, fp_min) and ``near`` the verified pairs
    (hex_a, min_a, hex_b, min_b). Returns (doc_id, key, rep_id,
    group_size)."""
    from pyspark.sql import Window

    # symmetrize via explode so `near` is ONE subtree (a union of two
    # selects would evaluate the verify join twice)
    partner_min = (
        near.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("hex_a").alias(key),
                        F.col("min_b").alias("pmin"),
                    ),
                    F.struct(
                        F.col("hex_b").alias(key),
                        F.col("min_a").alias("pmin"),
                    ),
                )
            ).alias("e")
        )
        .select(f"e.{key}", "e.pmin")
        .groupBy(key)
        .agg(F.min("pmin").alias("near_min"))
    )
    reps = d.join(partner_min, key, "left").select(
        key,
        F.least(F.col("fp_min"), F.coalesce("near_min", F.col("fp_min"))).alias("rep_id"),
    )
    # rep table is one row per DISTINCT fingerprint — usually tiny, but
    # not guaranteed broadcastable at corpus scale; leave the strategy
    # to AQE (it broadcasts when the build side measures small).
    out = members.join(reps, key)
    w = Window.partitionBy("rep_id")
    return out.select(
        "doc_id",
        key,
        F.col("rep_id").cast("bigint").alias("rep_id"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("group_size"),
    )


def image_near_dup_groups(hashes: DataFrame, max_hamming: int = 2) -> DataFrame:
    """Perceptual-hash near-dup grouping, scaled the way an image
    corpus actually dedups at 100 TB:

    1. EXACT tier: identical fingerprints collapse by groupBy on the
       hex string — byte-identical re-encodes never reach a join.
    2. NEAR tier: 16-bit banding (4 bands of 2 row bytes) over the
       DISTINCT fingerprints only; a pair of fingerprints is a
       candidate iff some band matches (Hamming <= ``max_hamming``
       over 64 bits guarantees >= 2 untouched bands — band count 4 >
       max_hamming pigeonholes at least one collision), then exact
       Hamming (bit_count over xor, zip_with fold — pure JVM)
       verifies. The quadratic term is bounded by DISTINCT images per
       band value, not documents.
    3. Representative = min doc_id over the fingerprint's direct
       near-partners and itself (single verification round; full
       transitive closure is the components operator's job when a
       corpus needs chains).

    The hashed relation and the distinct-fingerprint table are
    persisted: ``hashes`` usually sits on top of the DECODE pass, and
    this plan consumes it from several subtrees (band sides, rep
    derivation, final assignment) — without the persist the codec
    re-runs once per subtree (measured 6×).

    Returns (doc_id, dhash_hex, rep_id, group_size)."""
    from pyspark import StorageLevel

    # the banding recall guarantee is the pigeonhole over 4 bands: up
    # to max_hamming touched bands still leave one clean band ONLY
    # while max_hamming < 4 — a larger radius would silently drop true
    # pairs, so refuse it loudly (more bands, not a bigger threshold,
    # is the correct knob at a wider radius)
    if max_hamming > 3:
        raise ValueError(
            f"max_hamming={max_hamming} breaks the 4-band pigeonhole "
            "(guaranteed recall only for max_hamming <= 3); use more "
            "bands instead"
        )

    fp = (
        hashes.filter(
            F.col("decode_ok") & F.col("dhash_hex").isNotNull()
        ).persist(StorageLevel.MEMORY_AND_DISK)
    )
    # exact tier: one row per distinct fingerprint
    d = (
        fp.groupBy("dhash_hex")
        .agg(
            F.min("doc_id").alias("fp_min"),
            F.first("dhash_bytes").alias("bytes"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    bands = d.select(
        "dhash_hex",
        "fp_min",
        "bytes",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band_idx"),
                    (F.element_at("bytes", 2 * i + 1) * 256
                     + F.element_at("bytes", 2 * i + 2)).alias("band_val"),
                )
                for i in range(4)
            ])
        ).alias("band"),
    ).select("dhash_hex", "fp_min", "bytes", "band.band_idx", "band.band_val")
    a = bands.alias("a")
    b = bands.alias("b")
    ham = F.aggregate(
        F.zip_with(
            F.col("a.bytes"), F.col("b.bytes"),
            lambda x, y: F.bit_count(x.bitwiseXOR(y)),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    near = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.dhash_hex") < F.col("b.dhash_hex")),
        )
        .select("a.dhash_hex", "a.fp_min", "b.dhash_hex", "b.fp_min", ham.alias("hamming"))
        .toDF("hex_a", "min_a", "hex_b", "min_b", "hamming")
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return _near_dup_assign(fp.select("doc_id", "dhash_hex"), d, near, "dhash_hex")


# ---------------------------------------------------------------------------
# Audio spectral features (X141): REAL DFT over REAL decoded PCM — the
# feature-extraction pass (dominant tone, amplitude) an audio pipeline
# runs for fingerprinting / language-ID / quality gating. The synthetic
# corpus is pure sine tones at exact DFT bins, so the oracle states the
# CLOSED FORM the encode -> decode -> rfft chain must recover.
# ---------------------------------------------------------------------------

SPECTRAL_SCHEMA = (
    "doc_id bigint, decode_ok boolean, n_samples bigint, "
    "dominant_bin bigint, dominant_hz bigint, amp_est bigint"
)


def synth_sine_wav_blobs(
    docs: DataFrame,
    id_col: str = "doc_id",
    n_samples: int = 2000,
    rate: int = 8000,
) -> DataFrame:
    """Deterministic sine-tone corpus: per document a REAL 16-bit mono
    PCM WAV of amplitude ``doc_id % 1000`` at DFT bin
    ``101 + 2·(doc_id % 10)`` of a ``n_samples`` frame (404–476 Hz at
    8 kHz/2000). Two deliberate number-theory choices give the
    spectrum a closed form: the tone sits on an EXACT bin (f·N/rate
    integer — zero leakage with a rectangular window), and the bin is
    COPRIME to the frame length, so the int16 rounding error visits
    2000 distinct phases instead of repeating a short cycle — a
    round-number grid like 800 Hz has only 10 phases and its COHERENT
    quantization bias (measured up to ±524) crosses the amplitude
    rounding boundary; the coprime grid's worst measured deviation is
    103 vs the 500 boundary."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        import numpy as np

        t = np.arange(n_samples)
        for b in batches:
            ids, blobs = [], []
            for doc_id in b[id_col]:
                doc_id = int(doc_id)
                amp = doc_id % 1000
                freq = (101 + 2 * (doc_id % 10)) * rate // n_samples
                pcm = np.round(
                    amp * np.sin(2 * np.pi * freq * t / rate)
                ).astype(np.int16)
                data = pcm.tobytes()
                hdr = (
                    b"RIFF"
                    + struct.pack("<I", 36 + len(data))
                    + b"WAVEfmt "
                    + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
                    + b"data"
                    + struct.pack("<I", len(data))
                )
                ids.append(doc_id)
                blobs.append(hdr + data)
            yield pd.DataFrame(
                {"doc_id": pd.Series(ids, dtype="int64"), "blob": blobs}
            )

    return docs.select(F.col(id_col).alias("doc_id")).mapInPandas(
        gen, schema="doc_id bigint, blob binary"
    )


def wav_spectral_features(blobs: DataFrame, frame_len: int = 2000) -> DataFrame:
    """REAL spectral analysis over (doc_id, blob): decode WAV PCM via
    the genuine RIFF parser, rfft the first ``frame_len`` samples,
    report the dominant non-DC bin, its frequency, and the implied
    tone amplitude (2·|X[k]|/N rounded — exact for on-bin tones).
    Silent frames (no bin above the quantization-noise floor) carry
    NULLs rather than a noise argmax. Arrow mapInPandas; the FFT is
    O(N log N) per blob and blobs never leave executors."""
    import numpy as np

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for doc_id, blob in zip(b["doc_id"], b["blob"]):
                parsed = _parse_wav(bytes(blob))
                if parsed is None or parsed["n_samples"] < frame_len:
                    rows.append({"doc_id": doc_id, "decode_ok": False,
                                 "n_samples": None, "dominant_bin": None,
                                 "dominant_hz": None, "amp_est": None})
                    continue
                x = parsed["samples"]
                if parsed["n_channels"] > 1:  # downmix to mono
                    x = x.reshape(-1, parsed["n_channels"]).mean(axis=1)
                x = x[:frame_len]
                spec = np.abs(np.fft.rfft(x))
                spec[0] = 0.0  # exclude DC
                k = int(spec.argmax())
                # noise floor: rounding error is ~sqrt(N)/2 per bin;
                # a real tone of amplitude >= 1 stands N/2 tall
                if spec[k] < frame_len / 4:
                    rows.append({"doc_id": doc_id, "decode_ok": True,
                                 "n_samples": parsed["n_samples"],
                                 "dominant_bin": None, "dominant_hz": None,
                                 "amp_est": None})
                    continue
                rows.append({
                    "doc_id": doc_id, "decode_ok": True,
                    "n_samples": parsed["n_samples"],
                    "dominant_bin": k,
                    "dominant_hz": round(k * parsed["sample_rate"] / frame_len),
                    "amp_est": round(2.0 * spec[k] / frame_len),
                })
            yield pd.DataFrame(rows)

    return blobs.mapInPandas(gen, schema=SPECTRAL_SCHEMA)


# ---------------------------------------------------------------------------
# Image pHash — DCT low-frequency signatures (X177, VERDICT r7 item
# 7): the tier above aHash/dHash. Pixel-domain hashes are blind to
# geometry: a 2x upscale rewrites every pixel comparison dHash reads,
# yet the image is the same picture. pHash normalizes scale first
# (block-mean downscale to a 32x32 canvas), takes the 2-D DCT-II, and
# signs the 8x8 LOW-FREQUENCY block (DC excluded, so global
# brightness shifts vanish too). The synthetic corpus is built FROM
# planted DCT basis functions, the X141 discipline transplanted:
# amplitude 24 against a worst-case uint8-quantization coefficient
# error bound of ~13 keeps every planted sign provably stable, so the
# oracle can state each class's 64-bit hash in closed form — straight
# from the sign formula, never through the codec the Spark side must
# round-trip.
# ---------------------------------------------------------------------------

PHASH_CLASSES = 29
PHASH_AMP = 24.0
PHASH_CANVAS = 32


def _encode_bmp(img: "np.ndarray") -> bytes:
    """Uncompressed 24-bit bottom-up BMP (same conventions as
    synth_bmp_blobs' encoder and the tests' make_bmp)."""
    import struct

    h, w, _ = img.shape
    stride = (w * 3 + 3) // 4 * 4
    rows = b""
    for y in reversed(range(h)):  # bottom-up, BGR, padded rows
        row = img[y][:, ::-1].tobytes()
        rows += row + b"\x00" * (stride - len(row))
    header = b"BM" + struct.pack("<IHHI", 14 + 40 + len(rows), 0, 0, 54)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(rows), 2835, 2835, 0, 0
    )
    return header + info + rows

IMG_PHASH_SCHEMA = (
    "doc_id bigint, decode_ok boolean, width bigint, height bigint, "
    "phash_hex string, phash_bytes array<int>"
)


def phash_sign(cls: int, u: int, v: int) -> int:
    """Planted sign of DCT coefficient (u, v) for a class: +1 when the
    first md5 byte of 'p{cls}:{u}:{v}' is odd. (0, 0) carries no sign
    — DC is excluded from the hash."""
    import hashlib

    return 1 if hashlib.md5(f"p{cls}:{u}:{v}".encode()).digest()[0] % 2 else -1


def phash_hex_for_class(cls: int) -> str:
    """Closed-form pHash of a class: bit (u, v) = planted sign > 0,
    row-major u-byte layout, MSB = v=0; the DC bit is always 0."""
    out = []
    for u in range(8):
        byte = 0
        for v in range(8):
            bit = 0 if (u, v) == (0, 0) else (1 if phash_sign(cls, u, v) > 0 else 0)
            byte = (byte << 1) | bit
        out.append(byte)
    return "".join(f"{b:02x}" for b in out)


def _dct_matrix(n: int) -> "np.ndarray":
    """Orthonormal DCT-II matrix: C[u, x] = a(u) cos(pi (2x+1) u / 2n)."""
    import numpy as np

    x = np.arange(n, dtype=np.float64)
    u = np.arange(n, dtype=np.float64)[:, None]
    c = np.cos(np.pi * (2.0 * x + 1.0) * u / (2.0 * n))
    c[0] *= np.sqrt(1.0 / n)
    c[1:] *= np.sqrt(2.0 / n)
    return c


def _phash_base_image(cls: int) -> "np.ndarray":
    """32x32 uint8 image = 128 + sum of the planted 8x8 AC basis
    functions at amplitude PHASH_AMP. Worst-case pixel swing is
    63 * 24 / 16 = 94.5 (every u,v>0 basis peaks at 1/16), so values
    stay in [33, 222] before the brightness variant adds 24."""
    import numpy as np

    n = PHASH_CANVAS
    c = _dct_matrix(n)
    coef = np.zeros((n, n), dtype=np.float64)
    for u in range(8):
        for v in range(8):
            if (u, v) != (0, 0):
                coef[u, v] = phash_sign(cls, u, v) * PHASH_AMP
    img = c.T @ coef @ c + 128.0
    return np.clip(np.rint(img), 0, 255).astype(np.uint8)


def synth_phash_bmp_blobs(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per document: class = doc_id % PHASH_CLASSES picks the planted
    base image; variant = (doc_id // PHASH_CLASSES) % 3 applies the
    perturbation pHash must see through —

    - 0: the base 32x32 image;
    - 1: brightness +24 (only the excluded DC coefficient moves);
    - 2: 2x block-replicated upscale to 64x64 (the block-mean
      downscale recovers the base pixels EXACTLY, so the hash is
      bit-identical — while dHash reads a completely different
      top-left pixel grid; asserted by the planted-fixture test)."""
    import numpy as np

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[tuple[int, int], bytes] = {}
        for b in batches:
            ids, blobs = [], []
            for doc_id in b[id_col]:
                doc_id = int(doc_id)
                cls = doc_id % PHASH_CLASSES
                var = (doc_id // PHASH_CLASSES) % 3
                blob = cache.get((cls, var))
                if blob is None:
                    img = _phash_base_image(cls)
                    if var == 1:
                        img = (img.astype(np.int64) + 24).clip(0, 255).astype(np.uint8)
                    elif var == 2:
                        img = np.kron(img, np.ones((2, 2), dtype=np.uint8))
                    rgb = np.repeat(img[:, :, None], 3, axis=2)
                    blob = _encode_bmp(rgb)
                    cache[(cls, var)] = blob
                ids.append(doc_id)
                blobs.append(blob)
            yield pd.DataFrame(
                {"doc_id": pd.Series(ids, dtype="int64"), "blob": blobs}
            )

    return docs.select(F.col(id_col).alias("doc_id")).mapInPandas(
        gen, schema="doc_id bigint, blob binary"
    )


def image_phash(blobs: DataFrame) -> DataFrame:
    """REAL BMP decode -> scale-normalize -> 2-D DCT-II -> sign of the
    8x8 low-frequency block (DC bit forced 0), packed like the dHash
    row bytes so the banded grouping runs unchanged JVM-side.

    Normalization: an image whose sides are integer multiples of the
    32x32 canvas block-means down (float64 — no intermediate
    re-quantization); anything else is decode_ok = False rather than
    a silently incomparable hash (the production resampler would
    land here; its contract is the same canvas)."""
    import numpy as np

    n = PHASH_CANVAS
    cmat = _dct_matrix(n)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for doc_id, blob in zip(b["doc_id"], b["blob"]):
                img = _parse_bmp(bytes(blob))
                ok = (
                    img is not None
                    and img.shape[0] >= n
                    and img.shape[1] >= n
                    and img.shape[0] % n == 0
                    and img.shape[1] % n == 0
                )
                if not ok:
                    rows.append(
                        {"doc_id": doc_id, "decode_ok": False,
                         "width": None if img is None else img.shape[1],
                         "height": None if img is None else img.shape[0],
                         "phash_hex": None, "phash_bytes": None}
                    )
                    continue
                gray = _gray_plane(img).astype(np.float64)
                fy, fx = gray.shape[0] // n, gray.shape[1] // n
                small = gray.reshape(n, fy, n, fx).mean(axis=(1, 3))
                coef = cmat @ small @ cmat.T
                bits = coef[:8, :8] > 0.0
                bits[0, 0] = False  # DC excluded
                pbytes = _msb_bytes(bits)
                rows.append(
                    {"doc_id": doc_id, "decode_ok": True,
                     "width": img.shape[1], "height": img.shape[0],
                     "phash_hex": "".join(f"{v:02x}" for v in pbytes),
                     "phash_bytes": pbytes}
                )
            yield pd.DataFrame(rows)

    return blobs.mapInPandas(gen, schema=IMG_PHASH_SCHEMA)


def image_phash_near_dup_groups(
    phashes: DataFrame, max_hamming: int = 2
) -> DataFrame:
    """The X136 exact-tier + 4-band near-tier grouping over pHash
    fingerprints — same 64-bit/8-byte layout, so the dHash machinery
    (pigeonhole guard included) runs unchanged on renamed columns.

    Returns (doc_id, phash_hex, rep_id, group_size)."""
    renamed = phashes.select(
        "doc_id",
        "decode_ok",
        F.col("phash_hex").alias("dhash_hex"),
        F.col("phash_bytes").alias("dhash_bytes"),
    )
    return image_near_dup_groups(renamed, max_hamming=max_hamming).select(
        "doc_id",
        F.col("dhash_hex").alias("phash_hex"),
        "rep_id",
        "group_size",
    )


# ---------------------------------------------------------------------------
# Audio fingerprint near-dup grouping (X197): Shazam-style spectral
# peak-pair hashing (Wang 2003, "An Industrial-Strength Audio Search
# Algorithm") over the X141 rfft path — the audio member of the dedup
# family next to text (X4/X5b) and image (X136/X177). Per frame the
# dominant spectral peak, then LANDMARK PAIRS (anchor bin, target bin,
# frame delta) hashed into integers; near-dup candidates share a pair
# hash (the X136 banding idea with the hash itself as the band), and
# a candidate pair is verified by set overlap. Loudness never enters
# a hash, so the same melody at a different volume fingerprints
# identically — exactly the invariance the synthetic corpus plants.
#
# The synthetic melody corpus keeps the X141 closed-form discipline:
# every tone sits on an exact DFT bin COPRIME to the frame length
# (odd, not divisible by 5 — 2000 = 2^4·5^3), so the int16 rounding
# error decorrelates and the per-frame argmax is provably the planted
# bin (tone peak amp·N/2 >= 100·1000 vs noise floor N/4 = 500).
# Classes use DISJOINT bin sets, so cross-class pair-hash overlap is
# exactly zero and the oracle can state every class fingerprint in
# closed form.
# ---------------------------------------------------------------------------

MELODY_CLASSES = 41
MELODY_FRAMES = 4
MELODY_FRAME_LEN = 2000
MELODY_RATE = 8000
MELODY_FANOUT = 2  # pair a peak with the next `fanout` frames' peaks

# odd, not divisible by 5, inside the rfft band of a 2000-sample frame
_MELODY_GRID = [b for b in range(101, 1000, 2) if b % 5 != 0]


def melody_bins(cls: int) -> list[int]:
    """The planted per-frame tone bins of melody class ``cls`` —
    grid slots are unique per (class, frame), so class bin sets are
    pairwise DISJOINT (precision 1.0 is provable, not observed)."""
    return [
        _MELODY_GRID[cls * MELODY_FRAMES + j] for j in range(MELODY_FRAMES)
    ]


def pair_hashes_for_bins(bins: list[int], fanout: int = MELODY_FANOUT) -> list[int]:
    """Landmark pair hashes for a peak-bin sequence: anchor bin,
    target bin, and their frame distance packed into one integer.
    Sorted unique — the canonical fingerprint set."""
    hs = {
        bins[i] * 10_000_000 + bins[j] * 1_000 + (j - i)
        for i in range(len(bins))
        for j in range(i + 1, min(i + fanout, len(bins) - 1) + 1)
    }
    return sorted(hs)


def melody_fp_hex(cls: int) -> str:
    """Closed-form fingerprint digest of a melody class — md5 over the
    canonical comma-joined sorted pair-hash list, the same digest the
    Spark extraction computes from decoded audio."""
    import hashlib

    hs = pair_hashes_for_bins(melody_bins(cls))
    return hashlib.md5(",".join(map(str, hs)).encode()).hexdigest()


def synth_melody_wav_blobs(
    docs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic melody corpus: per document a REAL 16-bit mono
    PCM WAV of MELODY_FRAMES frames, frame j a pure tone at the
    planted bin of class ``doc_id % MELODY_CLASSES``; amplitude
    100 + doc_id % 900 varies WITHIN a class, so class members are
    near-dups by melody, not by bytes."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        import numpy as np

        n, rate = MELODY_FRAME_LEN, MELODY_RATE
        t = np.arange(n)
        for b in batches:
            ids, blobs = [], []
            for doc_id in b[id_col]:
                doc_id = int(doc_id)
                amp = 100 + doc_id % 900
                frames = []
                for k in melody_bins(doc_id % MELODY_CLASSES):
                    freq = k * rate // n  # exact: k coprime grid, n | rate*k? no — k*rate/n
                    # k*rate/n = k*4 exactly (8000/2000); stays on-bin
                    frames.append(
                        np.round(amp * np.sin(2 * np.pi * freq * t / rate))
                    )
                pcm = np.concatenate(frames).astype(np.int16)
                data = pcm.tobytes()
                hdr = (
                    b"RIFF"
                    + struct.pack("<I", 36 + len(data))
                    + b"WAVEfmt "
                    + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
                    + b"data"
                    + struct.pack("<I", len(data))
                )
                ids.append(doc_id)
                blobs.append(hdr + data)
            yield pd.DataFrame(
                {"doc_id": pd.Series(ids, dtype="int64"), "blob": blobs}
            )

    return docs.select(F.col(id_col).alias("doc_id")).mapInPandas(
        gen, schema="doc_id bigint, blob binary"
    )


AUDIO_FP_SCHEMA = (
    "doc_id bigint, decode_ok boolean, n_frames bigint, "
    "pair_hashes array<bigint>, fp_hex string"
)


def wav_peak_pair_fingerprints(
    blobs: DataFrame,
    frame_len: int = MELODY_FRAME_LEN,
    fanout: int = MELODY_FANOUT,
) -> DataFrame:
    """REAL audio fingerprinting over (doc_id, blob): decode WAV PCM,
    frame the signal, per frame the dominant non-DC rfft bin (the
    X141 noise-floor gate — silent frames contribute no landmark),
    then the landmark pair-hash set and its md5 digest. Arrow
    mapInPandas; blobs never leave executors; output is O(frames)
    integers per document."""
    import hashlib

    import numpy as np

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for doc_id, blob in zip(b["doc_id"], b["blob"]):
                parsed = _parse_wav(bytes(blob))
                if parsed is None or parsed["n_samples"] < frame_len:
                    rows.append({"doc_id": doc_id, "decode_ok": False,
                                 "n_frames": None, "pair_hashes": None,
                                 "fp_hex": None})
                    continue
                x = parsed["samples"]
                if parsed["n_channels"] > 1:
                    x = x.reshape(-1, parsed["n_channels"]).mean(axis=1)
                n_frames = len(x) // frame_len
                peaks = []  # (frame_idx, bin)
                for j in range(n_frames):
                    spec = np.abs(
                        np.fft.rfft(x[j * frame_len : (j + 1) * frame_len])
                    )
                    spec[0] = 0.0
                    k = int(spec.argmax())
                    if spec[k] < frame_len / 4:  # silent frame
                        continue
                    peaks.append((j, k))
                hs = sorted(
                    {
                        peaks[i][1] * 10_000_000
                        + peaks[j][1] * 1_000
                        + (peaks[j][0] - peaks[i][0])
                        for i in range(len(peaks))
                        for j in range(i + 1, len(peaks))
                        if peaks[j][0] - peaks[i][0] <= fanout
                    }
                )
                rows.append({
                    "doc_id": doc_id, "decode_ok": True,
                    "n_frames": n_frames,
                    "pair_hashes": hs,
                    "fp_hex": hashlib.md5(
                        ",".join(map(str, hs)).encode()
                    ).hexdigest(),
                })
            yield pd.DataFrame(rows)

    return blobs.mapInPandas(gen, schema=AUDIO_FP_SCHEMA)


def audio_near_dup_groups(
    fps: DataFrame,
    min_overlap_num: int = 3,
    min_overlap_den: int = 5,
) -> DataFrame:
    """Near-dup grouping over landmark fingerprints — the X136 tier
    structure with the pair hash itself as the band: exact tier
    groups identical digests; candidates share >=1 pair hash between
    DISTINCT digests; a candidate pair is a near-dup when its
    CONTAINMENT overlap (shared landmarks vs the smaller set — the
    Shazam match-score semantics) reaches
    min_overlap_num/min_overlap_den, integer cross-multiplied (no
    float threshold). Representative = min doc_id over the merged
    neighborhood, the X136 rep rule.

    Scale shape: the quadratic term is bounded by distinct
    FINGERPRINTS per pair-hash value, not documents — identical
    re-encodes collapse in the exact tier and never reach the join.

    Returns (doc_id, fp_hex, rep_id, group_size); undecodable rows
    are dropped (they carry no fingerprint).

    The filtered fingerprint relation and the distinct-digest table
    are persisted (r13 — the discipline image_near_dup_groups already
    had): ``fps`` sits on top of the WAV decode + rfft Arrow pass and
    this plan consumes it from four subtrees (both self-join band
    sides, the rep derivation, the final assignment) — without the
    persist the codec re-ran once per subtree."""
    from pyspark import StorageLevel

    ok = (
        fps.filter(F.col("decode_ok") & (F.size("pair_hashes") > 0))
        .select("doc_id", "fp_hex", "pair_hashes")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    d = (
        ok.groupBy("fp_hex")
        .agg(
            F.min("doc_id").alias("fp_min"),
            F.first("pair_hashes").alias("ph"),  # identical within a digest
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    buckets = d.select(
        "fp_hex", "fp_min", "ph", F.explode("ph").alias("h")
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    inter = F.size(F.array_intersect(F.col("pa"), F.col("pb")))
    # CONTAINMENT overlap (hits vs the smaller landmark set), not
    # Jaccard: the Shazam match score counts aligned landmarks against
    # the query's constellation — a one-frame edit of a 4-frame melody
    # keeps 3 of 5 landmarks (0.6 containment) but only 3/7 Jaccard
    smaller = F.least(F.size(F.col("pa")), F.size(F.col("pb")))
    near = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.fp_hex") < F.col("b.fp_hex")),
        )
        .select(
            F.col("a.fp_hex").alias("hex_a"),
            F.col("a.fp_min").alias("min_a"),
            F.col("b.fp_hex").alias("hex_b"),
            F.col("b.fp_min").alias("min_b"),
            F.col("a.ph").alias("pa"),
            F.col("b.ph").alias("pb"),
        )
        .distinct()
        .filter(min_overlap_den * inter >= min_overlap_num * smaller)
        .select("hex_a", "min_a", "hex_b", "min_b")
    )
    return _near_dup_assign(ok.select("doc_id", "fp_hex"), d, near, "fp_hex")


# --- shot-boundary detection over the real AVI path (X212) -----------------

SHOT_BASE_FRAMES = 8
SHOT_JUMP = 60        # R-channel jump planted at each cut
SHOT_MIN_DIFF = 30    # per-pixel |dR|+|dG|+|dB| verdict threshold
SHOT_SCHEMA = (
    "doc_id bigint, frame_idx bigint, total_abs_diff bigint, is_cut boolean"
)


def _shot_count(doc_id: int, i: int) -> int:
    """Cuts planted at frames ``3 + doc_id % 2`` and ``6`` (every doc
    has >= 8 frames, so both always exist): shot(i) = cuts <= i."""
    return (1 if i >= 3 + doc_id % 2 else 0) + (1 if i >= 6 else 0)


def synth_shot_avi_blobs(
    docs: DataFrame,
    id_col: str = "doc_id",
    width: int = 32,
    height: int = 8,
) -> DataFrame:
    """Deterministic multi-shot video corpus: the synth_avi_blobs
    container (real RIFF/AVI, `00db` DIB frames) with PLANTED CUTS —
    ``8 + doc_id % 3`` solid frames in three shots; within a shot the
    R channel drifts by +1/frame (camera motion), at each cut it
    jumps by SHOT_JUMP. Colors are closed-form in (doc_id, i) and
    never wrap (max R = 79 + 2*60 + 10 < 256), so the oracle states
    every adjacent-frame diff exactly."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        import numpy as np

        stride = (width * 3 + 3) // 4 * 4
        for b in batches:
            ids, blobs = [], []
            for doc_id in b[id_col]:
                doc_id = int(doc_id)
                n_frames = SHOT_BASE_FRAMES + doc_id % 3
                frames = []
                for i in range(n_frames):
                    row = np.zeros(stride, dtype=np.uint8)
                    px = row[: width * 3].reshape(width, 3)
                    px[:, 0] = 17                                     # B
                    px[:, 1] = (2 * i) % 256                          # G
                    px[:, 2] = (                                      # R
                        doc_id % 80 + SHOT_JUMP * _shot_count(doc_id, i) + i
                    )
                    frames.append(row.tobytes() * height)
                avih = struct.pack(
                    "<10I", 40000, 0, 0, 0, n_frames, 0, 1, 0, width, height
                ) + b"\x00" * 16
                strh = b"vids" + b"DIB " + b"\x00" * 48
                strf = struct.pack(
                    "<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                    stride * height, 0, 0, 0, 0,
                )
                hdrl = _riff_chunk(
                    b"LIST",
                    b"hdrl"
                    + _riff_chunk(b"avih", avih)
                    + _riff_chunk(
                        b"LIST",
                        b"strl"
                        + _riff_chunk(b"strh", strh)
                        + _riff_chunk(b"strf", strf),
                    ),
                )
                movi = _riff_chunk(
                    b"LIST",
                    b"movi" + b"".join(_riff_chunk(b"00db", f) for f in frames),
                )
                body = b"AVI " + hdrl + movi
                ids.append(doc_id)
                blobs.append(b"RIFF" + struct.pack("<I", len(body)) + body)
            yield pd.DataFrame(
                {"doc_id": pd.Series(ids, dtype="int64"), "blob": blobs}
            )

    return docs.select(F.col(id_col).alias("doc_id")).mapInPandas(
        gen, schema="doc_id bigint, blob binary"
    )


def avi_shot_boundaries(
    blobs: DataFrame, min_diff: int = SHOT_MIN_DIFF
) -> DataFrame:
    """Shot-boundary detection (X212): walk the RIFF/AVI chunk tree,
    decode consecutive DIB frame pairs, and emit per adjacent pair
    the EXACT total absolute pixel difference (summed over pixels and
    channels — an integer: no float enters the verdict) with
    ``is_cut = total >= min_diff * w * h`` (i.e. mean per-pixel
    |dR|+|dG|+|dB| >= min_diff). Every adjacent pair is emitted with
    its flag, cut or not (the X173 discipline). Undecodable blobs and
    single-frame videos contribute no rows.

    Scale shape: Arrow-batched mapInPandas 1->N fan-out, blobs never
    leave the executors, zero shuffles; a real codec swaps into
    ``_decode_dib`` without touching the plan (the X123 contract)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for b in batches:
            out: dict[str, list] = {
                "doc_id": [], "frame_idx": [], "total_abs_diff": [],
                "is_cut": [],
            }
            for doc_id, blob in zip(b["doc_id"], b["blob"]):
                raw = bytes(blob)
                p = _parse_avi(raw)
                if p is None:
                    continue
                w, h = p["width"], p["height"]
                prev = None
                for i, (off, size) in enumerate(p["frames"]):
                    img = _decode_dib(raw, off, size, w, h)
                    if img is None:
                        prev = None
                        continue
                    cur = img.astype(np.int64)
                    if prev is not None:
                        total = int(np.abs(cur - prev).sum())
                        out["doc_id"].append(int(doc_id))
                        out["frame_idx"].append(i)
                        out["total_abs_diff"].append(total)
                        out["is_cut"].append(total >= min_diff * w * h)
                    prev = cur
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                    "frame_idx": pd.Series(out["frame_idx"], dtype="int64"),
                    "total_abs_diff": pd.Series(
                        out["total_abs_diff"], dtype="int64"
                    ),
                    "is_cut": pd.Series(out["is_cut"], dtype="bool"),
                }
            )

    return blobs.mapInPandas(gen, schema=SHOT_SCHEMA)
