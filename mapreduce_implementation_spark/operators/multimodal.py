"""Multimodal columns (north-star): opaque ``binary`` payloads + typed
metadata, with decode/feature-extraction as Arrow-batched Pandas UDFs.

The container has no imaging libraries, so ``decode_image_features``
runs a per-payload decoder ladder: PIL when importable (any format),
else a pure-Python PNG decoder (``decode_png`` below — header + zlib
IDAT + scanline de-filter, public W3C format, no dependencies), else a
clearly-marked deterministic fake for non-PNG media.  PNG payloads
therefore decode FOR REAL in this environment.  Everything around the
decoders — the binary column representation, metadata extraction, the
``mapInPandas`` batch iterator shape, the output schema — is the real
100 TB plumbing: payload bytes never leave the executor, Python sees
Arrow batches (not rows), and metadata-only queries never touch the
payload column (column pruning).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sql import sql_ident

__all__ = ["to_binary_payload", "binary_metadata", "decode_image_features",
           "sample_chunks", "decode_png", "encode_png_gray",
           "decode_png_gray_rows", "image_dhash", "dhash_near_dup_pairs",
           "encode_wav_pcm16", "decode_wav_pcm", "audio_frame_rms",
           "encode_video_gray", "decode_video_gray", "video_frame_sample"]

DECODE_IS_STUBBED: bool
try:  # full-featured decoder if the env ever provides it
    from PIL import Image  # noqa: F401
    DECODE_IS_STUBBED = False
except ImportError:
    DECODE_IS_STUBBED = True

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
# per-pixel stored samples by PNG color type (0 gray, 2 RGB, 3 palette
# index, 4 gray+alpha, 6 RGBA) — matches PIL's len(getbands()) for each
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _unfilter_scanline(ftype: int, data: bytes, prev: bytearray,
                       nch: int) -> bytearray:
    """Reverse one PNG scanline filter (types 0-4, PNG spec §6) against
    the previous de-filtered line.  Shared by the feature decoder and
    the pixel-grid decoder so the two can never drift."""
    stride = len(prev)
    line = bytearray(data)
    if ftype == 1:  # Sub
        for i in range(nch, stride):
            line[i] = (line[i] + line[i - nch]) & 0xFF
    elif ftype == 2:  # Up
        for i in range(stride):
            line[i] = (line[i] + prev[i]) & 0xFF
    elif ftype == 3:  # Average
        for i in range(stride):
            a = line[i - nch] if i >= nch else 0
            line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
    elif ftype == 4:  # Paeth
        for i in range(stride):
            a = line[i - nch] if i >= nch else 0
            b = prev[i]
            c = prev[i - nch] if i >= nch else 0
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            line[i] = (line[i] + pred) & 0xFF
    elif ftype != 0:
        raise ValueError(f"bad filter type {ftype}")
    return line


def decode_png(payload: bytes) -> tuple[int, int, int, float]:
    """Pure-Python PNG decode — public format (RFC 2083 / W3C PNG spec):
    chunk walk, IHDR parse, IDAT ``zlib`` inflate, per-scanline
    de-filter (all five filter types), luma average.

    Supports the baseline non-interlaced 8-bit-depth color types
    (gray / RGB / palette / gray+alpha / RGBA); raises ``ValueError``
    for anything else so callers can fall back.  Returns
    ``(width, height, channels, mean_luma)`` where luma is the Rec.601
    weighted sum for color images and the gray sample otherwise.

    This is the metadata-extraction path (thumbnails, stats, filtering
    by dimensions) — a production bulk-pixel pipeline would swap in a
    native decoder inside the same ``mapInPandas`` iterator.
    """
    import struct
    import zlib

    if not payload or not payload.startswith(_PNG_MAGIC):
        raise ValueError("not a PNG")
    pos = 8
    width = height = color_type = None
    idat = bytearray()
    plte: bytes | None = None
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos:pos + 4])
        ctype = payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + length]
        pos += 12 + length  # length + type + data + crc32
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, comp, filt, interlace = (
                struct.unpack(">IIBBBBB", data))
            if bit_depth != 8 or comp != 0 or filt != 0 or interlace != 0:
                raise ValueError("unsupported PNG variant")
            if color_type not in _PNG_CHANNELS:
                raise ValueError(f"unknown color type {color_type}")
        elif ctype == b"PLTE":
            plte = bytes(data)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if width is None or not idat:
        raise ValueError("truncated PNG")
    if color_type == 3 and plte is None:
        raise ValueError("palette image without PLTE")

    nch = _PNG_CHANNELS[color_type]
    stride = width * nch
    raw = zlib.decompress(bytes(idat))
    if len(raw) != (stride + 1) * height:
        raise ValueError("IDAT length mismatch")

    prev = bytearray(stride)
    luma_sum = 0.0
    for y in range(height):
        base = y * (stride + 1)
        line = _unfilter_scanline(raw[base], raw[base + 1:base + 1 + stride],
                                  prev, nch)
        prev = line
        for x in range(0, stride, nch):
            if color_type in (0, 4):
                luma_sum += line[x]
            elif color_type == 3:
                j = line[x] * 3
                r, g, b = plte[j], plte[j + 1], plte[j + 2]
                luma_sum += 0.299 * r + 0.587 * g + 0.114 * b
            else:
                luma_sum += (0.299 * line[x] + 0.587 * line[x + 1]
                             + 0.114 * line[x + 2])
    return width, height, nch, luma_sum / (width * height)


def encode_png_gray(pixels: bytes, width: int, height: int) -> bytes:
    """Minimal valid grayscale PNG writer (filter 0 rows, one IDAT) —
    the fixture-side inverse of :func:`decode_png` for tests and the
    synthetic render→decode roundtrip query."""
    import struct
    import zlib

    if len(pixels) != width * height:
        raise ValueError("pixel buffer does not match dimensions")

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    scanlines = b"".join(
        b"\x00" + pixels[y * width:(y + 1) * width] for y in range(height))
    return (_PNG_MAGIC + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(scanlines))
            + chunk(b"IEND", b""))


def decode_png_gray_rows(payload: bytes) -> tuple[int, int, list[bytearray]]:
    """Pure-Python pixel-grid decode for GRAYSCALE (color type 0) PNGs:
    returns ``(width, height, rows)`` with one de-filtered bytearray per
    scanline.  The perceptual-hash path needs actual pixels, not the
    aggregate features ``decode_png`` returns; non-gray or non-baseline
    payloads raise ``ValueError`` for the caller's decoder ladder."""
    import struct
    import zlib

    if not payload or not payload.startswith(_PNG_MAGIC):
        raise ValueError("not a PNG")
    pos = 8
    width = height = color_type = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos:pos + 4])
        ctype = payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + length]
        pos += 12 + length
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, comp, filt, interlace = (
                struct.unpack(">IIBBBBB", data))
            if (bit_depth != 8 or comp != 0 or filt != 0 or interlace != 0
                    or color_type != 0):
                raise ValueError("not a baseline grayscale PNG")
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if width is None or not idat:
        raise ValueError("truncated PNG")
    raw = zlib.decompress(bytes(idat))
    if len(raw) != (width + 1) * height:
        raise ValueError("IDAT length mismatch")
    rows: list[bytearray] = []
    prev = bytearray(width)
    for y in range(height):
        base = y * (width + 1)
        line = _unfilter_scanline(raw[base], raw[base + 1:base + 1 + width],
                                  prev, 1)
        prev = line
        rows.append(line)
    return width, height, rows


def image_dhash(df: DataFrame, id_col: str,
                payload_col: str = "payload") -> DataFrame:
    """(id, dhash) — difference-hash perceptual image fingerprint
    (public algorithm: per row, bit = left pixel brighter than its right
    neighbor) computed from REAL decoded pixels via the pure-Python
    grayscale PNG decoder.  For a w×h image the hash has h*(w-1) bits,
    packed little-endian into a signed 64-bit long (so w=8, h=8 → 56
    bits, sign-safe).  Production dHash resizes to 9×8 first; the
    resize belongs in the same mapInPandas iterator (PIL/native when
    the env has it) — payloads here are already thumbnail-sized.

    Undecodable payloads yield NULL (filtered by the caller), never a
    task failure.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def _dhash(payload: bytes | None) -> int | None:
            if payload is None:
                return None
            try:
                w, h, rows = decode_png_gray_rows(payload)
            except ValueError:
                return None
            if w < 2 or h * (w - 1) > 63:
                return None
            acc = 0
            for r in range(h):
                row = rows[r]
                for c in range(w - 1):
                    if row[c] > row[c + 1]:
                        acc |= 1 << (r * (w - 1) + c)
            return acc

        for pdf in batches:
            yield pd.DataFrame({
                "id": pdf[id_col],
                "dhash": pd.Series([_dhash(p) for p in pdf[payload_col]],
                                   dtype="Int64"),
            })

    return (df.select(id_col, payload_col)
            .mapInPandas(run, schema="id BIGINT, dhash BIGINT")
            .withColumnRenamed("id", id_col))


def dhash_near_dup_pairs(sigs: DataFrame, id_col: str,
                         max_hamming: int = 3, bands: int = 4,
                         band_bits: int = 14) -> DataFrame:
    """(a, b, hamming) — EXACT Hamming-distance self-join over dHash
    fingerprints via pigeonhole banding: split the hash into ``bands``
    disjoint bit ranges; two hashes within ``max_hamming`` bits must
    agree on at least one band whenever ``bands > max_hamming``, so the
    banded equi-join loses nothing and the ``bit_count(xor)`` verify
    (JVM-side) keeps only true matches.  The same shuffle discipline as
    MinHash-LSH: candidates are (band, value) bucket collisions —
    O(n x bands) postings, never the n² cross join — and a degenerate
    bucket (all-black thumbnails) is exactly the stop-bucket case the
    LSH ``bucket_cap`` treatment handles; apply it upstream if a corpus
    has constant-image floods."""
    if bands <= max_hamming:
        raise ValueError("pigeonhole exactness needs bands > max_hamming")
    mask = (1 << band_bits) - 1
    pieces = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("dhash"), b * band_bits).bitwiseAND(mask).alias("val"),
        ) for b in range(bands)
    ])
    posts = (sigs.filter(F.col("dhash").isNotNull())
             .select(F.col(id_col), "dhash", F.explode(pieces).alias("p"))
             .select(id_col, "dhash", "p.band", "p.val"))
    a = posts.select(F.col(id_col).alias("a"), F.col("dhash").alias("ha"),
                     "band", "val")
    b = posts.select(F.col(id_col).alias("b"), F.col("dhash").alias("hb"),
                     "band", "val")
    cand = (a.join(b, ["band", "val"]).filter(F.col("a") < F.col("b"))
            .select("a", "b", "ha", "hb").distinct())
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (cand.filter(ham <= max_hamming)
            .select("a", "b", ham.cast("int").alias("hamming")))


def to_binary_payload(df: DataFrame, src_col: str, media_type: str = "text/plain") -> DataFrame:
    """Model a source column as an opaque media payload: (payload binary,
    media_type, byte_len).  For real corpora the payload arrives as
    parquet/avro binary; here it is derived from text so metadata has a
    DuckDB oracle."""
    return df.withColumn("payload", F.col(src_col).cast("binary")).withColumn(
        "media_type", F.lit(media_type)
    ).withColumn("byte_len", F.octet_length("payload"))


def binary_metadata(df: DataFrame, id_col: str, payload_col: str = "payload") -> DataFrame:
    """Typed metadata without decoding: size, sha256, md5 — all JVM-side."""
    return df.select(
        id_col,
        F.col("media_type"),
        F.octet_length(payload_col).alias("byte_len"),
        F.sha2(F.col(payload_col), 256).alias("sha256_hex"),
        F.md5(F.col(payload_col)).alias("md5_hex"),
    )


_FEAT_SCHEMA = (
    "doc_id BIGINT, width INT, height INT, channels INT, mean_luma DOUBLE, decoder STRING"
)


def decode_image_features(df: DataFrame, id_col: str = "doc_id",
                          payload_col: str = "payload") -> DataFrame:
    """Decode payloads to (width, height, channels, mean_luma) features.

    Per-payload decoder selection, recorded in the ``decoder`` column:
    'pil' when PIL is importable on the executor AND the bytes decode as
    an image; otherwise a DETERMINISTIC FAKE ('stub': dimensions/luma
    derived from payload bytes).  In this container (no imaging library)
    every row is 'stub'; the moment an env has PIL, real image payloads
    decode for real with no code change.  The Spark-side contract
    (mapInPandas batch iterator, Arrow transfer, fixed output schema) is
    identical either way.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # PIL is probed per-call (inside the executor), not at module
        # import: the env that submits the job and the env that runs the
        # task can differ, and the query must work in both.
        try:
            import io as _io

            from PIL import Image as _Image
        except ImportError:
            _Image = None

        def _stub_row(payload: bytes | None) -> tuple[int, int, int, float, str]:
            b = payload or b""
            n = len(b)
            first = b[0] if n else 0
            return (16 + (n % 64), 16 + ((n // 64) % 64), 3,
                    round(float((first + n) % 256.0), 2), "stub")

        def _decode_row(payload: bytes | None) -> tuple[int, int, int, float, str]:
            # Decoder ladder, per payload: PIL (any format, if the env
            # has it) → pure-Python PNG (always available — public
            # format, decode_png above) → deterministic stub.  A
            # corrupt/non-image payload must not fail the task.
            if _Image is not None and payload:
                try:
                    with _Image.open(_io.BytesIO(payload)) as im:
                        gray = im.convert("L")
                        import numpy as _np
                        luma = float(_np.asarray(gray, dtype=_np.float64).mean())
                        return (im.width, im.height, len(im.getbands()),
                                round(luma, 2), "pil")
                except Exception:
                    pass
            if payload and payload.startswith(_PNG_MAGIC):
                try:
                    w, h, ch, luma = decode_png(payload)
                    return (w, h, ch, round(luma, 2), "png")
                except ValueError:
                    pass
            return _stub_row(payload)

        for pdf in batches:
            feats = [_decode_row(p) for p in pdf[payload_col]]
            yield pd.DataFrame({
                "doc_id": pdf[id_col],
                "width": pd.Series([f[0] for f in feats], dtype="int32"),
                "height": pd.Series([f[1] for f in feats], dtype="int32"),
                "channels": pd.Series([f[2] for f in feats], dtype="int32"),
                "mean_luma": [f[3] for f in feats],
                "decoder": [f[4] for f in feats],
            })

    return df.select(id_col, payload_col).mapInPandas(run, schema=_FEAT_SCHEMA)


def sample_chunks(df: DataFrame, id_col: str, payload_col: str = "payload",
                  chunk_bytes: int = 64, stride: int = 256) -> DataFrame:
    """Frame/segment sampling plumbing: every ``stride`` bytes emit a
    ``chunk_bytes`` slice with its offset — the shape of video frame
    sampling or audio segmentation, as pure column ops (no Python)."""
    sql_ident(payload_col)
    offsets = F.sequence(F.lit(1), F.octet_length(payload_col), F.lit(stride))
    return (
        df.select(id_col, payload_col, F.explode(offsets).alias("offset"))
        .select(
            id_col, "offset",
            F.expr(f"substring({payload_col}, offset, {chunk_bytes})").alias("chunk"),
        )
        .withColumn("chunk_len", F.octet_length("chunk"))
    )


def batch_inference_scores(df, id_col: str, text_col: str,
                           batch_label: str = "stub-scorer-v1"):
    """Batched model-inference plumbing over ``mapInPandas`` — the shape
    of running a scorer/reranker/classifier model over a corpus: Arrow
    batches stream through a Python worker that would hold the model in
    memory per task (load once per iterator, score per batch), never a
    per-row UDF call.

    The "model" here is a deterministic stub (first 8 hex digits of
    md5(text) scaled to [0,1)) because no inference runtime ships in
    this container — the REAL content is the iterator pattern, the
    fixed output schema, and Arrow transport, which is exactly what a
    torch/onnx scorer drops into.  Deterministic stub => the whole
    pipeline stays hash-oracled (DuckDB computes the same md5 math).
    """
    import pandas as pd
    from pyspark.sql import functions as F  # noqa: F401

    schema = f"{sql_ident(id_col)} long, score double, scored_by string"

    def _score(batches):
        # model load would happen HERE, once per task/iterator
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame(columns=[id_col, "score", "scored_by"])
                continue
            import hashlib

            # null text -> null score (str(None) would fabricate a
            # score for md5("None") and diverge from the oracle's
            # md5(NULL) = NULL)
            s = pdf[text_col].map(
                lambda t: None if t is None else round(
                    int(hashlib.md5(str(t).encode()).hexdigest()[:8], 16)
                    / float(16 ** 8), 6))
            yield pd.DataFrame({id_col: pdf[id_col],
                                "score": s,
                                "scored_by": batch_label})

    return df.select(id_col, text_col).mapInPandas(_score, schema=schema)


def encode_wav_pcm16(samples, sample_rate: int = 8000) -> bytes:
    """Minimal valid mono 16-bit PCM WAV writer (RIFF/WAVE, public
    format) — the audio-side inverse of :func:`decode_wav_pcm` for the
    synthetic render→decode roundtrip path."""
    import struct

    data = struct.pack(f"<{len(samples)}h", *samples)
    byte_rate = sample_rate * 2
    hdr = (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
           + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, sample_rate,
                                   byte_rate, 2, 16)
           + b"data" + struct.pack("<I", len(data)))
    return hdr + data


def decode_wav_pcm(payload: bytes) -> tuple[int, int, list[int]]:
    """Pure-Python WAV decode (RIFF chunk walk, fmt parse, 16-bit mono
    PCM samples) — the audio analogue of the PNG decoder: real format,
    real parse, no codec libs.  Returns (sample_rate, n_samples,
    samples); raises ``ValueError`` for non-WAV / unsupported variants
    so callers can ladder to a stub."""
    import struct

    if not payload or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV")
    pos = 12
    rate = None
    samples: list[int] | None = None
    while pos + 8 <= len(payload):
        cid = payload[pos:pos + 4]
        (clen,) = struct.unpack("<I", payload[pos + 4:pos + 8])
        body = payload[pos + 8:pos + 8 + clen]
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
        if cid == b"fmt ":
            fmt, nch, rate, _br, _ba, bits = struct.unpack("<HHIIHH", body[:16])
            if fmt != 1 or nch != 1 or bits != 16:
                raise ValueError("unsupported WAV variant")
        elif cid == b"data":
            samples = list(struct.unpack(f"<{len(body) // 2}h", body))
    if rate is None or samples is None:
        raise ValueError("truncated WAV")
    return rate, len(samples), samples


def audio_frame_rms(df: DataFrame, id_col: str, payload_col: str = "payload",
                    frame: int = 16) -> DataFrame:
    """(id, frame_idx, rms, sample_rate, n_samples) — decode WAV
    payloads and emit per-frame RMS energy (the VAD / silence-trim /
    loudness-normalization primitive of an audio-curation pipeline).
    Arrow-batched mapInPandas; undecodable payloads are dropped (the
    caller quarantines via the metadata path).  At 100 TB payloads
    stay inside executor batches; only (id, frame, rms) rows leave."""
    import math

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fids, rms, rates, ns = [], [], [], [], []
            for pid, payload in zip(pdf[id_col], pdf[payload_col]):
                try:
                    rate, n, samples = decode_wav_pcm(payload)
                except ValueError:
                    continue
                for f in range(n // frame):
                    w = samples[f * frame:(f + 1) * frame]
                    ids.append(pid); fids.append(f)
                    # raw double — callers round JVM-side (F.round is
                    # half-up like the oracle; Python round is banker's)
                    rms.append(math.sqrt(sum(s * s for s in w) / frame))
                    rates.append(rate); ns.append(n)
            yield pd.DataFrame({
                "id": pd.Series(ids, dtype="int64"),
                "frame_idx": pd.Series(fids, dtype="int32"),
                "rms": pd.Series(rms, dtype="float64"),
                "sample_rate": pd.Series(rates, dtype="int32"),
                "n_samples": pd.Series(ns, dtype="int32"),
            })

    return (df.select(id_col, payload_col)
            .mapInPandas(run, schema="id BIGINT, frame_idx INT, rms DOUBLE,"
                                     " sample_rate INT, n_samples INT")
            .withColumnRenamed("id", id_col))


def encode_video_gray(frames: list[bytes], width: int, height: int,
                      fps: int = 8) -> bytes:
    """Minimal synthetic grayscale video container: ``b'VID0'`` magic +
    little-endian (width u16, height u16, n_frames u16, fps u8) header,
    then raw frames back-to-back — the video-side inverse of
    :func:`decode_video_gray` for the render->decode roundtrip path
    (image: PNG, audio: WAV; real video codecs aren't in this container,
    so the CONTAINER walk + frame indexing is the part under test)."""
    import struct

    if not frames:
        raise ValueError("empty video")
    if any(len(f) != width * height for f in frames):
        raise ValueError("frame size mismatch")
    hdr = b"VID0" + struct.pack("<HHHB", width, height, len(frames), fps)
    return hdr + b"".join(frames)


def decode_video_gray(payload: bytes) -> tuple[int, int, int, int, list[bytes]]:
    """Parse a VID0 payload back to (width, height, n_frames, fps,
    frames).  Raises ``ValueError`` on bad magic / truncation so callers
    can quarantine undecodable rows via the metadata path."""
    import struct

    if not payload or payload[:4] != b"VID0" or len(payload) < 11:
        raise ValueError("not a VID0 payload")
    width, height, n_frames, fps = struct.unpack("<HHHB", payload[4:11])
    fsz = width * height
    if len(payload) != 11 + n_frames * fsz:
        raise ValueError("truncated VID0 payload")
    frames = [payload[11 + i * fsz:11 + (i + 1) * fsz] for i in range(n_frames)]
    return width, height, n_frames, fps, frames


def video_frame_sample(df: DataFrame, id_col: str,
                       payload_col: str = "payload",
                       stride: int = 4) -> DataFrame:
    """(id, frame_idx, mean_luma, n_frames, fps) — decode video payloads
    and keep every ``stride``-th frame with its mean luminance (the
    frame-sampling primitive of a video-curation pipeline: thumbnail /
    shot-boundary / dedup features are computed on a strided subset,
    never every frame).  Arrow-batched mapInPandas; undecodable payloads
    are dropped.  At 100 TB the multi-frame payload never leaves the
    executor batch — only (id, frame_idx, features) rows are emitted,
    which is what makes strided sampling a map stage rather than an
    explode-then-filter shuffle."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fids, luma, nfs, fpss = [], [], [], [], []
            for pid, payload in zip(pdf[id_col], pdf[payload_col]):
                try:
                    w, h, n, fps, frames = decode_video_gray(payload)
                except ValueError:
                    continue
                for i in range(0, n, stride):
                    f = frames[i]
                    ids.append(pid); fids.append(i)
                    # raw double — callers round JVM-side (F.round is
                    # half-up like the oracle; Python round is banker's)
                    luma.append(sum(f) / float(w * h))
                    nfs.append(n); fpss.append(fps)
            yield pd.DataFrame({
                "id": pd.Series(ids, dtype="int64"),
                "frame_idx": pd.Series(fids, dtype="int32"),
                "mean_luma": pd.Series(luma, dtype="float64"),
                "n_frames": pd.Series(nfs, dtype="int32"),
                "fps": pd.Series(fpss, dtype="int32"),
            })

    return (df.select(id_col, payload_col)
            .mapInPandas(run, schema="id BIGINT, frame_idx INT,"
                                     " mean_luma DOUBLE, n_frames INT,"
                                     " fps INT")
            .withColumnRenamed("id", id_col))


def resize_image_nearest(df: DataFrame, id_col: str,
                         payload_col: str = "payload",
                         out_w: int = 4, out_h: int = 4) -> DataFrame:
    """Nearest-neighbor resize of grayscale PNG payloads — the standard
    image-preprocessing stage (thumbnail / model-input normalization)
    run where it belongs: inside ONE ``mapInPandas`` iterator, so decode
    + resample never leave the executor and only the (id, dims,
    checksums) feature row crosses the shuffle.  Source pixel for output
    (y, x) is ``(y*H // out_h, x*W // out_w)`` — pure integer index
    math, so an oracle can recompute every output pixel from the render
    formula without any imaging library.  Payloads that fail the PNG
    decode are dropped (the quarantine idiom); a PIL/native resampler
    (bilinear etc.) would slot into the same iterator unchanged.
    """
    import pandas as pd

    schema = ("id BIGINT, out_w INT, out_h INT, pixel_total BIGINT, "
              "top_left INT, bottom_right INT")

    def run(batches):
        for pdf in batches:
            ids, sums, tls, brs = [], [], [], []
            for i, payload in zip(pdf[id_col], pdf[payload_col]):
                try:
                    w, h, rows = decode_png_gray_rows(bytes(payload))
                except ValueError:
                    continue
                px = [[int(rows[(y * h) // out_h][(x * w) // out_w])
                       for x in range(out_w)] for y in range(out_h)]
                ids.append(int(i))
                sums.append(sum(map(sum, px)))
                tls.append(px[0][0])
                brs.append(px[-1][-1])
            yield pd.DataFrame(
                {"id": ids, "out_w": [out_w] * len(ids),
                 "out_h": [out_h] * len(ids), "pixel_total": sums,
                 "top_left": tls, "bottom_right": brs})

    return df.select(id_col, payload_col).mapInPandas(run, schema=schema)
