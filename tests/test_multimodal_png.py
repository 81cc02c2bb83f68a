"""Pure-Python PNG decode path: the decoder must
recover true dimensions / channels / luma from real PNG bytes — all five
scanline filter types, gray and RGB color types — and the Spark
`decode_image_features` ladder must label PNG payloads 'png' while
non-image payloads still fall back to the deterministic stub."""

from __future__ import annotations

import struct
import zlib

import pytest

from mapreduce_implementation_spark.operators.multimodal import (
    decode_image_features,
    decode_png,
    encode_png_gray,
    to_binary_payload,
)

MAGIC = b"\x89PNG\r\n\x1a\n"


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))


def _png(width, height, color_type, scanlines: bytes, plte: bytes = b"") -> bytes:
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    out = MAGIC + _chunk(b"IHDR", ihdr)
    if plte:
        out += _chunk(b"PLTE", plte)
    return out + _chunk(b"IDAT", zlib.compress(scanlines)) + _chunk(b"IEND", b"")


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)


def _filter_rows(pixels: list[list[int]], nch: int, ftypes: list[int]) -> bytes:
    """Forward-filter known pixel rows (the encoder side of the spec) so
    the decoder's reconstruction branches are tested against ground truth."""
    stride = len(pixels[0])
    out = bytearray()
    prev = [0] * stride
    for row, f in zip(pixels, ftypes):
        out.append(f)
        for i, x in enumerate(row):
            a = row[i - nch] if i >= nch else 0
            b = prev[i]
            c = prev[i - nch] if i >= nch else 0
            if f == 0:
                out.append(x & 0xFF)
            elif f == 1:
                out.append((x - a) & 0xFF)
            elif f == 2:
                out.append((x - b) & 0xFF)
            elif f == 3:
                out.append((x - ((a + b) >> 1)) & 0xFF)
            elif f == 4:
                out.append((x - _paeth(a, b, c)) & 0xFF)
        prev = row
    return bytes(out)


def test_gray_roundtrip_exact():
    px = bytes(range(64))
    w, h, ch, luma = decode_png(encode_png_gray(px, 8, 8))
    assert (w, h, ch) == (8, 8, 1)
    assert luma == sum(px) / 64


def test_all_filter_types_gray():
    # 5 rows x 6 cols, one row per filter type 0..4
    pixels = [[(r * 37 + c * 11 + (r * c) % 7) % 256 for c in range(6)]
              for r in range(5)]
    raw = _filter_rows(pixels, nch=1, ftypes=[0, 1, 2, 3, 4])
    w, h, ch, luma = decode_png(_png(6, 5, 0, raw))
    assert (w, h, ch) == (6, 5, 1)
    assert luma == pytest.approx(sum(map(sum, pixels)) / 30)


def test_rgb_rec601_luma():
    # 2x2 RGB exercising Sub/Up/Paeth with 3-channel offsets
    rows = [[255, 0, 0, 0, 255, 0], [0, 0, 255, 10, 20, 30]]
    raw = _filter_rows(rows, nch=3, ftypes=[1, 4])
    w, h, ch, luma = decode_png(_png(2, 2, 2, raw))
    assert (w, h, ch) == (2, 2, 3)
    expect = (0.299 * 255 + 0.587 * 255 + 0.114 * 255
              + 0.299 * 10 + 0.587 * 20 + 0.114 * 30) / 4
    assert luma == pytest.approx(expect)


def test_palette_image():
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])  # red, green, blue
    raw = _filter_rows([[0, 1, 2]], nch=1, ftypes=[0])
    w, h, ch, luma = decode_png(_png(3, 1, 3, raw, plte=plte))
    assert (w, h, ch) == (3, 1, 1)
    assert luma == pytest.approx((0.299 * 255 + 0.587 * 255 + 0.114 * 255) / 3)


def test_rejects_non_png_and_truncated():
    with pytest.raises(ValueError):
        decode_png(b"JFIF not a png")
    with pytest.raises(ValueError):
        decode_png(MAGIC + b"\x00\x00")  # header only
    # 16-bit depth is an unsupported variant, not a crash
    ihdr = struct.pack(">IIBBBBB", 1, 1, 16, 0, 0, 0, 0)
    deep = MAGIC + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", zlib.compress(b"\x00\x00\x00"))
    with pytest.raises(ValueError):
        decode_png(deep)


def test_decoder_ladder_in_spark(spark):
    """PNG payloads decode for real ('png'); non-image bytes fall back to
    the labeled stub — in one DataFrame, through the mapInPandas path."""
    png_payload = encode_png_gray(bytes([100] * 64), 8, 8)
    df = spark.createDataFrame(
        [(1, bytearray(png_payload)), (2, bytearray(b"plain text bytes"))],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in decode_image_features(df).collect()}
    assert rows[1].decoder == "png"
    assert (rows[1].width, rows[1].height, rows[1].channels) == (8, 8, 1)
    assert rows[1].mean_luma == 100.0
    assert rows[2].decoder == "stub"


def test_text_payloads_still_stub(spark):
    """The existing multimodal_decode_stub query payloads (text bytes)
    must keep hitting the stub path."""
    df = spark.createDataFrame([(7, "hello world")], "doc_id long, text string")
    out = decode_image_features(to_binary_payload(df, "text")).collect()
    assert out[0].decoder == "stub"


def test_dhash_banded_join_equals_brute_force(spark):
    """Pigeonhole banding is EXACT: the banded candidate join + verify
    returns precisely the brute-force Hamming<=3 pair set on a hash
    population engineered with near and far pairs."""
    from itertools import combinations

    from mapreduce_implementation_spark.operators.multimodal import (
        dhash_near_dup_pairs,
    )

    base = 0x00FF00FF00FF00
    hashes = {
        1: base,
        2: base ^ 0b1,                      # hamming 1
        3: base ^ 0b111,                    # hamming 3 from 1
        4: base ^ (0b11111 << 20),          # hamming 5 — out
        5: 0x0F0F0F0F0F0F0F & ((1 << 56) - 1),  # far
    }
    sigs = spark.createDataFrame(list(hashes.items()), "id long, dhash long")
    got = {(r["a"], r["b"]): r["hamming"]
           for r in dhash_near_dup_pairs(sigs, "id", max_hamming=3).collect()}
    want = {}
    for x, y in combinations(sorted(hashes), 2):
        d = bin(hashes[x] ^ hashes[y]).count("1")
        if d <= 3:
            want[(x, y)] = d
    assert got == want and (1, 2) in got and (1, 3) in got


def test_dhash_banding_requires_pigeonhole(spark):
    import pytest as _pytest

    from mapreduce_implementation_spark.operators.multimodal import (
        dhash_near_dup_pairs,
    )

    sigs = spark.createDataFrame([(1, 5)], "id long, dhash long")
    with _pytest.raises(ValueError, match="pigeonhole"):
        dhash_near_dup_pairs(sigs, "id", max_hamming=4, bands=4)


def test_gray_rows_roundtrip_and_filtered_scanlines(spark):
    """decode_png_gray_rows recovers exact pixels from the filter-0
    encoder, and de-filters Sub/Up scanlines written by a hand-rolled
    encoder — pinning the shared _unfilter_scanline against drift."""
    import struct
    import zlib

    from mapreduce_implementation_spark.operators.multimodal import (
        _PNG_MAGIC, decode_png_gray_rows, encode_png_gray,
    )

    px = bytes(range(64))
    w, h, rows = decode_png_gray_rows(encode_png_gray(px, 8, 8))
    assert (w, h) == (8, 8)
    assert b"".join(bytes(r) for r in rows) == px

    # hand-build a PNG using Sub (1) on row 0 and Up (2) on row 1
    raw0 = bytes([10, 5, 5, 5])            # Sub: 10,15,20,25
    raw1 = bytes([1, 1, 1, 1])             # Up:  11,16,21,26
    scan = b"\x01" + raw0 + b"\x02" + raw1

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    payload = (_PNG_MAGIC
               + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 2, 8, 0, 0, 0, 0))
               + chunk(b"IDAT", zlib.compress(scan))
               + chunk(b"IEND", b""))
    w, h, rows = decode_png_gray_rows(payload)
    assert (w, h) == (4, 2)
    assert list(rows[0]) == [10, 15, 20, 25]
    assert list(rows[1]) == [11, 16, 21, 26]


def test_wav_roundtrip_and_variant_rejection(spark):
    """WAV writer→parser roundtrip preserves samples and rate exactly;
    non-PCM / stereo / 8-bit variants raise for the decoder ladder; an
    extra odd-length chunk before data is walked with word alignment."""
    import struct

    import pytest as _pytest

    from mapreduce_implementation_spark.operators.multimodal import (
        decode_wav_pcm, encode_wav_pcm16,
    )

    smp = [0, 1, -1, 32767, -32768, 12345, -12345]
    rate, n, back = decode_wav_pcm(encode_wav_pcm16(smp, 16000))
    assert (rate, n, back) == (16000, len(smp), smp)

    # inject an odd-length LIST chunk between fmt and data
    w = encode_wav_pcm16([5, -5], 8000)
    fmt_end = 12 + 8 + 16
    odd = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"  # pad byte
    patched = w[:fmt_end] + odd + w[fmt_end:]
    patched = patched[:4] + struct.pack("<I", len(patched) - 8) + patched[8:]
    assert decode_wav_pcm(patched)[2] == [5, -5]

    stereo = bytearray(encode_wav_pcm16([1, 2], 8000))
    stereo[22] = 2  # nch = 2
    with _pytest.raises(ValueError):
        decode_wav_pcm(bytes(stereo))
    with _pytest.raises(ValueError):
        decode_wav_pcm(b"RIFFxxxxNOPE")


# --- VID0 synthetic video container (round 5: video frame sampling) ---

def test_video_container_roundtrip():
    from mapreduce_implementation_spark.operators.multimodal import (
        decode_video_gray, encode_video_gray,
    )

    frames = [bytes([i] * 6) for i in range(5)]
    w, h, n, fps, back = decode_video_gray(encode_video_gray(frames, 3, 2, fps=12))
    assert (w, h, n, fps) == (3, 2, 5, 12)
    assert back == frames


def test_video_container_rejects_malformed():
    import pytest

    from mapreduce_implementation_spark.operators.multimodal import (
        decode_video_gray, encode_video_gray,
    )

    with pytest.raises(ValueError):
        encode_video_gray([], 3, 2)
    with pytest.raises(ValueError):
        encode_video_gray([b"\x00" * 5], 3, 2)  # frame size mismatch
    ok = encode_video_gray([b"\x00" * 6], 3, 2)
    with pytest.raises(ValueError):
        decode_video_gray(ok[:-1])  # truncated payload
    with pytest.raises(ValueError):
        decode_video_gray(b"NOPE" + ok[4:])  # bad magic


def test_video_frame_sample_strides_and_drops(spark):
    """Strided sampling keeps frames 0, s, 2s, ...; undecodable payloads
    are quarantined (dropped), not errored — the decoder-ladder contract
    shared with the PNG/WAV paths."""
    from mapreduce_implementation_spark.operators.multimodal import (
        encode_video_gray, video_frame_sample,
    )

    clip = encode_video_gray([bytes([10 * t] * 4) for t in range(6)], 2, 2, fps=4)
    df = spark.createDataFrame(
        [(1, bytearray(clip)), (2, bytearray(b"garbage"))],
        "id LONG, payload BINARY")
    rows = {(r["id"], r["frame_idx"]): r["mean_luma"]
            for r in video_frame_sample(df, "id", stride=2).collect()}
    assert set(rows) == {(1, 0), (1, 2), (1, 4)}
    assert rows[(1, 2)] == 20.0 and rows[(1, 4)] == 40.0
