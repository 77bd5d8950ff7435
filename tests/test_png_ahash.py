"""Real-codec media path (VERDICT r08 #6): a pure-stdlib PNG decode
feeding the aHash pipeline. The fixtures are REAL PNG files (encoded
in-test with struct+zlib, filter 0), decoded by
operators/multimodal.decode_png, hashed by the same integer
thresholding rule the certified stub expression uses — so the stub's
oracle row is untouched while the codec boundary closes for one
actual format."""

from __future__ import annotations

import struct
import zlib

import pytest

from flink_ecommerce_spark.operators.multimodal import (
    ahash64_from_luma,
    decode_png,
    media_ahash_png,
)


def _chunk(typ: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def encode_png(pixels, color_type: int = 2) -> bytes:
    """Minimal valid PNG writer (filter 0 rows). pixels: 2D list of
    tuples (RGB/RGBA) or ints (gray)."""
    h = len(pixels)
    w = len(pixels[0])
    raw = bytearray()
    for row in pixels:
        raw.append(0)  # filter type 0
        for px in row:
            if isinstance(px, int):
                raw.append(px)
            else:
                raw.extend(px)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )


def _gradient(w=40, h=24):
    """Deterministic RGB gradient with structure (bright left half)."""
    return [
        [
            (
                (255 if x < w // 2 else 30),
                (y * 255) // max(1, h - 1),
                (x * 255) // max(1, w - 1),
            )
            for x in range(w)
        ]
        for y in range(h)
    ]


def test_decode_png_roundtrip_gray():
    pix = [[(x * 7 + y * 3) % 256 for x in range(17)] for y in range(9)]
    raw = encode_png(pix, color_type=0)
    w, h, luma = decode_png(raw)
    assert (w, h) == (17, 9)
    assert luma == pix  # gray luma is the sample itself


def test_decode_png_rgb_rec601():
    pix = [[(200, 100, 50), (0, 0, 0), (255, 255, 255)]]
    raw = encode_png(pix, color_type=2)
    w, h, luma = decode_png(raw)
    assert (w, h) == (3, 1)
    assert luma[0][0] == (299 * 200 + 587 * 100 + 114 * 50) // 1000
    assert luma[0][1] == 0
    assert luma[0][2] == 255


def test_decode_png_all_filter_types():
    """A zlib-recompressed IDAT using filters 1-4 must unfilter back
    to the same pixels as the filter-0 encoding (pins the Sub / Up /
    Average / Paeth arithmetic against the spec)."""
    pix = _gradient(16, 8)
    base = decode_png(encode_png(pix))[2]

    # re-encode each row with a chosen filter and verify the decode
    w, h, ch = 16, 8, 3
    flat = [bytes(b for px in row for b in px) for row in pix]
    for f in (1, 2, 3, 4):
        raw = bytearray()
        prev = bytes(w * ch)
        for row in flat:
            raw.append(f)
            enc = bytearray()
            for x in range(w * ch):
                a = row[x - ch] if x >= ch else 0
                b = prev[x]
                c = prev[x - ch] if x >= ch else 0
                if f == 1:
                    pred = a
                elif f == 2:
                    pred = b
                elif f == 3:
                    pred = (a + b) >> 1
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = (
                        a
                        if (pa <= pb and pa <= pc)
                        else (b if pb <= pc else c)
                    )
                enc.append((row[x] - pred) & 0xFF)
            raw += enc
            prev = row
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        png = (
            b"\x89PNG\r\n\x1a\n"
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _chunk(b"IEND", b"")
        )
        assert decode_png(png)[2] == base, f"filter {f} mismatch"


def test_decode_png_rejects_non_png():
    with pytest.raises(ValueError):
        decode_png(b"JFIF not a png")


def test_ahash_png_end_to_end_and_perceptual(spark):
    """Real PNGs through the Spark mapInPandas path: identical images
    hash identically, a small local edit lands within the pairs
    threshold (hamming <= 7), a structurally different image does
    not — the perceptual property, now on a REAL codec."""
    base = _gradient()
    near = [row[:] for row in base]
    for y in range(2):  # small local edit: darken a 2x3 corner patch
        for x in range(3):
            near[y][x] = (10, 10, 10)
    inverted = [[(255 - r, 255 - g, 255 - b) for (r, g, b) in row] for row in base]

    rows = [
        (1, bytearray(encode_png(base))),
        (2, bytearray(encode_png(base))),
        (3, bytearray(encode_png(near))),
        (4, bytearray(encode_png(inverted))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in media_ahash_png(df).collect()}
    assert len(got) == 4

    def bits(r):
        return (r["ahash_hi"] << 32) | r["ahash_lo"]

    # Spark path == pure-python reference (same integer rule)
    w, h, luma = decode_png(encode_png(base))
    assert bits(got[1]) == ahash64_from_luma(luma, w, h)
    assert bits(got[1]) == bits(got[2])  # identical images
    ham_near = bin(bits(got[1]) ^ bits(got[3])).count("1")
    ham_far = bin(bits(got[1]) ^ bits(got[4])).count("1")
    assert ham_near <= 7  # inside media_ahash_pairs' threshold
    assert ham_far > 7  # structural change escapes it
    assert ham_near < ham_far
