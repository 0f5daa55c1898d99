"""Minimal from-spec PNG decoder (standalone: no job or query calls it).

Third from-spec codec after operators/xls_writer.py (BIFF8/CFB) and
sources/pdf_text.py (ISO 32000): the container ships no image library,
but PNG (W3C PNG spec / RFC 2083 — public) is zlib + per-scanline
filters, both expressible with the stdlib + numpy. It decodes the PNG
subset that matters:

- chunk stream: signature, IHDR, concatenated IDAT, IEND (ancillary
  chunks skipped); CRCs validated with zlib.crc32;
- every PNG color type: 0 (grayscale, depths 1/2/4/8/16), 2 (RGB,
  8/16), 3 (palette via PLTE, depths 1/2/4/8), 4 (gray+alpha, 8/16 —
  emitted as RGBA with the gray replicated so mean_luma is uniform)
  and 6 (RGBA, 8/16); 16-bit samples keep their high byte (the
  standard 8-bit display reduction), sub-byte samples unpack MSB-first
  per scanline;
- all five scanline filters (None/Sub/Up/Average/Paeth, §6) undone
  row-by-row; Adam7 interlace (§8) reassembled from its seven
  independently-filtered passes.

Out of scope: nothing PNG — every legal IHDR shape decodes. (JPEG's
DCT entropy coding lives in operators/jpeg_codec.py.)
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}  # color type -> samples/px
_VALID_DEPTHS = {
    0: (1, 2, 4, 8, 16),
    2: (8, 16),
    3: (1, 2, 4, 8),
    4: (8, 16),
    6: (8, 16),
}
# Adam7 pass grid (§8.2): (x0, y0, dx, dy)
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _unfilter_rows(
    raw: bytes, off: int, n_rows: int, stride: int, bpp: int
) -> tuple[np.ndarray, int]:
    """Undo the per-scanline filters for one (sub-)image of ``n_rows``
    rows of ``stride`` bytes starting at ``off``; returns the byte rows
    and the new offset."""
    need = n_rows * (stride + 1)
    if len(raw) - off < need:
        raise ValueError("PNG pixel data length mismatch")
    out = np.zeros((n_rows, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(n_rows):
        row_start = off + y * (stride + 1)
        ftype = raw[row_start]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=row_start + 1
        ).copy()
        if ftype == 0:
            cur = line
        elif ftype == 2:
            cur = line + prev
        elif ftype in (1, 3, 4):
            cur = line
            for x in range(stride):
                a = int(cur[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                if ftype == 1:
                    cur[x] = (int(cur[x]) + a) & 0xFF
                elif ftype == 3:
                    cur[x] = (int(cur[x]) + ((a + b) >> 1)) & 0xFF
                else:
                    c = int(prev[x - bpp]) if x >= bpp else 0
                    pr = a + b - c
                    pa, pb, pc = abs(pr - a), abs(pr - b), abs(pr - c)
                    pred = a if (pa <= pb and pa <= pc) else (
                        b if pb <= pc else c
                    )
                    cur[x] = (int(cur[x]) + pred) & 0xFF
        else:
            raise ValueError(f"PNG filter type {ftype} invalid")
        out[y] = cur
        prev = out[y]
    return out, off + need


def _rows_to_samples(
    rows: np.ndarray, wpx: int, ch: int, depth: int
) -> np.ndarray:
    """Byte rows -> [h, wpx, ch] uint8 samples (16-bit keeps the high
    byte; sub-byte depths unpack MSB-first)."""
    h = rows.shape[0]
    if depth == 8:
        return rows[:, : wpx * ch].reshape(h, wpx, ch)
    if depth == 16:
        return rows[:, : wpx * ch * 2 : 2].reshape(h, wpx, ch)
    per_byte = 8 // depth
    shifts = np.arange(per_byte - 1, -1, -1) * depth
    mask = (1 << depth) - 1
    vals = (
        (rows[:, :, None] >> shifts[None, None, :]) & mask
    ).reshape(h, -1)[:, : wpx * ch]
    return vals.reshape(h, wpx, ch).astype(np.uint8)


def decode_png(data: bytes) -> tuple[int, int, int, np.ndarray]:
    """(width, height, channels, pixels[h, w, c] uint8) of a PNG blob."""
    if not data.startswith(PNG_MAGIC):
        raise ValueError("not a PNG (bad signature)")
    pos = len(PNG_MAGIC)
    width = height = None
    bit_depth = color_type = interlace = None
    plte = None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        if pos + 12 + length > len(data):
            raise ValueError(f"PNG chunk {ctype!r} truncated")
        body = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(
            ">I", data[pos + 8 + length : pos + 12 + length]
        )
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            if len(body) != 13:
                raise ValueError("PNG IHDR must be 13 bytes")
            width, height, bit_depth, color_type, _, _, interlace = (
                struct.unpack(">IIBBBBB", body)
            )
        elif ctype == b"PLTE":
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if width is None:
        raise ValueError("PNG has no IHDR chunk")
    if color_type not in _CHANNELS:
        raise ValueError(f"PNG color type {color_type} invalid")
    if bit_depth not in _VALID_DEPTHS[color_type]:
        raise ValueError(
            f"PNG bit depth {bit_depth} invalid for color type "
            f"{color_type}"
        )
    ch = _CHANNELS[color_type]
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as exc:
        raise ValueError(f"PNG IDAT stream corrupt: {exc}")
    bpp = max(1, ch * bit_depth // 8)

    def pass_decode(off: int, wpx: int, hpx: int):
        stride = (wpx * ch * bit_depth + 7) // 8
        rows, off2 = _unfilter_rows(raw, off, hpx, stride, bpp)
        return _rows_to_samples(rows, wpx, ch, bit_depth), off2

    if interlace == 0:
        samples, off = pass_decode(0, width, height)
        if off != len(raw):
            raise ValueError("PNG pixel data length mismatch")
    elif interlace == 1:  # Adam7 (§8.2): seven filtered sub-images
        samples = np.zeros((height, width, ch), dtype=np.uint8)
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = -(-(width - x0) // dx) if width > x0 else 0
            ph = -(-(height - y0) // dy) if height > y0 else 0
            if pw == 0 or ph == 0:
                continue
            sub, off = pass_decode(off, pw, ph)
            samples[y0::dy, x0::dx] = sub
        if off != len(raw):
            raise ValueError("PNG pixel data length mismatch")
    else:
        raise ValueError(f"PNG interlace method {interlace} invalid")

    if color_type == 3:  # palette
        if plte is None:
            raise ValueError("PNG palette image missing PLTE chunk")
        idx = samples[:, :, 0]
        if (idx >= len(plte)).any():
            raise ValueError("PNG pixel index outside the palette")
        return width, height, 3, plte[idx]
    if color_type == 0 and bit_depth < 8:
        # scale sub-byte gray to full 8-bit range (255 / (2^d - 1))
        samples = samples * (255 // ((1 << bit_depth) - 1))
    if color_type == 4:  # gray+alpha -> RGBA (gray replicated)
        g, a = samples[:, :, 0], samples[:, :, 1]
        return width, height, 4, np.stack([g, g, g, a], axis=-1)
    return width, height, ch, samples


def mean_luma(pixels: np.ndarray) -> float:
    """Mean BT.601 luma of decoded pixels (gray: the value itself; RGBA:
    alpha ignored) — the feature the image-features operator extracts."""
    if pixels.shape[2] == 1:
        return float(pixels[:, :, 0].mean())
    rgb = pixels[:, :, :3].astype(np.float64)
    luma = 0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2]
    return float(luma.mean())
