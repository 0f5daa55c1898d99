"""Round-trip tests for the from-spec PNG decoder
(operators/png_codec.py): an independently-written minimal PNG ENCODER
here emits real spec-conformant files (correct chunk CRCs, chosen
scanline filters), and the decoder must reproduce the input pixels
byte-identically — including through every filter type."""

from __future__ import annotations

import struct
import zlib

import numpy as np


def _chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray, filters: list[int] | None = None) -> bytes:
    """Minimal PNG writer: 8-bit gray/RGB/RGBA from a (h, w, c) uint8
    array; per-row filter types as given (default all 0 = None)."""
    h, w, c = pixels.shape
    color_type = {1: 0, 3: 2, 4: 6}[c]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    stride = w * c
    flat = pixels.reshape(h, stride).astype(np.int64)
    filters = filters or [0] * h
    raw = bytearray()
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        row = flat[y]
        f = filters[y]
        raw.append(f)
        if f == 0:
            enc = row
        elif f == 1:  # Sub
            left = np.concatenate([np.zeros(c, dtype=np.int64), row[:-c]])
            enc = (row - left) % 256
        elif f == 2:  # Up
            enc = (row - prev) % 256
        elif f == 3:  # Average
            left = np.concatenate([np.zeros(c, dtype=np.int64), row[:-c]])
            enc = (row - ((left + prev) // 2)) % 256
        elif f == 4:  # Paeth
            left = np.concatenate([np.zeros(c, dtype=np.int64), row[:-c]])
            upleft = np.concatenate([np.zeros(c, dtype=np.int64), prev[:-c]])
            p = left + prev - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            enc = (row - pred) % 256
        else:  # pragma: no cover
            raise ValueError(f)
        raw += bytes(int(v) for v in enc)
        prev = row
    return (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )


def _random_pixels(h, w, c, seed):
    rng = np.random.RandomState(seed)
    return rng.randint(0, 256, size=(h, w, c)).astype(np.uint8)


def test_roundtrip_all_filters_rgb():
    from fund_data_etl_pipeline_spark.operators.png_codec import decode_png

    px = _random_pixels(5, 7, 3, seed=1)
    png = encode_png(px, filters=[0, 1, 2, 3, 4])
    w, h, c, out = decode_png(png)
    assert (w, h, c) == (7, 5, 3)
    assert np.array_equal(out, px)


def test_roundtrip_grayscale_and_rgba():
    from fund_data_etl_pipeline_spark.operators.png_codec import decode_png

    for ch in (1, 4):
        px = _random_pixels(9, 4, ch, seed=ch)
        _, _, c, out = decode_png(encode_png(px, filters=[4] * 9))
        assert c == ch and np.array_equal(out, px)


def test_mean_luma_matches_numpy():
    from fund_data_etl_pipeline_spark.operators.png_codec import (
        decode_png,
        mean_luma,
    )

    px = _random_pixels(8, 8, 3, seed=7)
    _, _, _, out = decode_png(encode_png(px))
    rgb = px.astype(np.float64)
    expect = (
        0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2]
    ).mean()
    assert abs(mean_luma(out) - expect) < 1e-9


def test_corrupt_crc_and_unsupported_are_named():
    import pytest

    from fund_data_etl_pipeline_spark.operators.png_codec import decode_png

    png = bytearray(encode_png(_random_pixels(2, 2, 3, seed=3)))
    png[20] ^= 0xFF  # flip a byte inside IHDR body -> CRC mismatch
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(png))
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"\xff\xd8\xffJPEG-ish")


# --- round-6 upgrades: palette / sub-byte / 16-bit / GA / Adam7 -----------

def _write_png_general(
    ihdr_fields, idat_payload: bytes, plte: bytes | None = None
) -> bytes:
    out = b"\x89PNG\r\n\x1a\n" + _chunk(
        b"IHDR", struct.pack(">IIBBBBB", *ihdr_fields)
    )
    if plte is not None:
        out += _chunk(b"PLTE", plte)
    out += _chunk(b"IDAT", zlib.compress(idat_payload))
    return out + _chunk(b"IEND", b"")


def _pack_rows(vals: np.ndarray, depth: int) -> bytes:
    """Rows of sample values -> filter-0 scanlines at ``depth`` bits,
    MSB-first."""
    h = vals.shape[0]
    out = bytearray()
    for y in range(h):
        out.append(0)
        if depth == 8:
            out += bytes(int(v) for v in vals[y].reshape(-1))
        elif depth == 16:
            for v in vals[y].reshape(-1):
                out += bytes([int(v), (int(v) * 7) & 0xFF])  # low byte junk
        else:
            bits = ""
            for v in vals[y].reshape(-1):
                bits += format(int(v), f"0{depth}b")
            bits += "0" * (-len(bits) % 8)
            out += bytes(
                int(bits[i : i + 8], 2) for i in range(0, len(bits), 8)
            )
    return bytes(out)


def test_palette_png():
    from fund_data_etl_pipeline_spark.operators.png_codec import decode_png

    rng = np.random.default_rng(31)
    for depth, n in ((1, 2), (2, 4), (4, 13), (8, 100)):
        idx = rng.integers(0, n, size=(9, 7), dtype=np.uint8)
        pal = rng.integers(0, 256, size=(n, 3), dtype=np.uint8)
        png = _write_png_general(
            (7, 9, depth, 3, 0, 0, 0), _pack_rows(idx, depth),
            plte=pal.tobytes(),
        )
        w, h, ch, px = decode_png(png)
        assert (w, h, ch) == (7, 9, 3)
        assert np.array_equal(px, pal[idx])


def test_subbyte_gray_png_scales_to_8bit():
    from fund_data_etl_pipeline_spark.operators.png_codec import decode_png

    g2 = np.array([[0, 1, 2, 3], [3, 2, 1, 0]], dtype=np.uint8)
    png = _write_png_general((4, 2, 2, 0, 0, 0, 0), _pack_rows(g2, 2))
    _, _, _, px = decode_png(png)
    assert np.array_equal(px[:, :, 0], g2 * 85)  # 255 // 3


def test_16bit_png_keeps_high_byte():
    from fund_data_etl_pipeline_spark.operators.png_codec import decode_png

    rng = np.random.default_rng(33)
    img = rng.integers(0, 256, size=(5, 6, 3), dtype=np.uint8)
    png = _write_png_general((6, 5, 16, 2, 0, 0, 0), _pack_rows(img, 16))
    _, _, _, px = decode_png(png)
    assert np.array_equal(px, img)


def test_gray_alpha_png_becomes_rgba():
    from fund_data_etl_pipeline_spark.operators.png_codec import decode_png

    rng = np.random.default_rng(34)
    ga = rng.integers(0, 256, size=(4, 5, 2), dtype=np.uint8)
    png = _write_png_general((5, 4, 8, 4, 0, 0, 0), _pack_rows(ga, 8))
    w, h, ch, px = decode_png(png)
    assert ch == 4
    for c in range(3):
        assert np.array_equal(px[:, :, c], ga[:, :, 0])
    assert np.array_equal(px[:, :, 3], ga[:, :, 1])


def test_adam7_interlaced_png():
    from fund_data_etl_pipeline_spark.operators.png_codec import (
        _ADAM7,
        decode_png,
    )

    rng = np.random.default_rng(35)
    img = rng.integers(0, 256, size=(13, 11, 3), dtype=np.uint8)
    payload = bytearray()
    for x0, y0, dx, dy in _ADAM7:
        sub = img[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        payload += _pack_rows(sub, 8)
    png = _write_png_general((11, 13, 8, 2, 0, 0, 1), bytes(payload))
    w, h, ch, px = decode_png(png)
    assert (w, h, ch) == (11, 13, 3)
    assert np.array_equal(px, img)
