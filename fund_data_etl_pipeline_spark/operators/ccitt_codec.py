"""Minimal from-spec CCITT Group 3/4 fax decoder (ITU-T T.4 / T.6).

Real-world scanned black-and-white documents — exactly the
万事如意-style manual-transaction scans the reference OCRs — are
overwhelmingly CCITTFaxDecode inside PDF (§7.4.6), so the scanned-PDF
OCR front half (sources/corpus.ocr_scanned_pdf) needs this to turn a
production scan into pixels. Scope:

- Modified Huffman (MH) run-length coding: the T.4 terminating
  (0-63) and make-up (64-1728) code tables for white and black runs
  plus the shared extended make-up codes (1792-2560);
- Group 3 one-dimensional (T.4 §4.1, PDF /K = 0): MH-coded lines,
  optional EOL (000000000001) prefixes with fill-bit tolerance,
  optional per-line byte alignment (/EncodedByteAlign);
- Group 4 two-dimensional (T.6 §4.2, PDF /K < 0): the full 2-D mode
  set — Pass, Horizontal, and Vertical V(0)/VR(1-3)/VL(1-3) — decoded
  against the reference-line changing elements b1/b2, terminated by
  EOFB;
- Group 3 mixed one/two-dimensional (T.4 §4.2, PDF /K > 0): EOL +
  tag-bit framing selecting MH or 2-D coding per line, sharing the
  Group 4 mode decoder verbatim;
- output is a (rows, columns) uint8 array, 255 = white, 0 = black
  (the /BlackIs1 sense handled by the caller's bit packing).

Malformed or unsupported input raises NAMED ``ValueError``s so the S7
side-channel quarantines with a reason, never silently wrong pixels.

Table provenance: the T.4 code tables are transcribed from the public
ITU-T tables (widely reproduced; e.g. T.4 Tables 2/3). Transcription is
guarded three ways in tests/test_ccitt_codec.py: per-table prefix-
freeness + exact cardinality, spot values quoted in the spec text
(white 0 = 00110101, black 0 = 0000110111, V0 = 1, pass = 0001, …),
and structural round-trips. The in-test encoder necessarily shares
these table constants (no fax library ships in the container), so the
round-trips prove the ALGORITHM, the property tests the tables.
"""

from __future__ import annotations

import numpy as np

# T.4 Table 2 — white run-length code words (terminating 0-63,
# make-up 64-1728), as "bit string" -> run length.
WHITE_CODES = {
    "00110101": 0, "000111": 1, "0111": 2, "1000": 3, "1011": 4,
    "1100": 5, "1110": 6, "1111": 7, "10011": 8, "10100": 9,
    "00111": 10, "01000": 11, "001000": 12, "000011": 13,
    "110100": 14, "110101": 15, "101010": 16, "101011": 17,
    "0100111": 18, "0001100": 19, "0001000": 20, "0010111": 21,
    "0000011": 22, "0000100": 23, "0101000": 24, "0101011": 25,
    "0010011": 26, "0100100": 27, "0011000": 28, "00000010": 29,
    "00000011": 30, "00011010": 31, "00011011": 32, "00010010": 33,
    "00010011": 34, "00010100": 35, "00010101": 36, "00010110": 37,
    "00010111": 38, "00101000": 39, "00101001": 40, "00101010": 41,
    "00101011": 42, "00101100": 43, "00101101": 44, "00000100": 45,
    "00000101": 46, "00001010": 47, "00001011": 48, "01010010": 49,
    "01010011": 50, "01010100": 51, "01010101": 52, "00100100": 53,
    "00100101": 54, "01011000": 55, "01011001": 56, "01011010": 57,
    "01011011": 58, "01001010": 59, "01001011": 60, "00110010": 61,
    "00110011": 62, "00110100": 63,
    "11011": 64, "10010": 128, "010111": 192, "0110111": 256,
    "00110110": 320, "00110111": 384, "01100100": 448,
    "01100101": 512, "01101000": 576, "01100111": 640,
    "011001100": 704, "011001101": 768, "011010010": 832,
    "011010011": 896, "011010100": 960, "011010101": 1024,
    "011010110": 1088, "011010111": 1152, "011011000": 1216,
    "011011001": 1280, "011011010": 1344, "011011011": 1408,
    "010011000": 1472, "010011001": 1536, "010011010": 1600,
    "011000": 1664, "010011011": 1728,
}

# T.4 Table 3 — black run-length code words.
BLACK_CODES = {
    "0000110111": 0, "010": 1, "11": 2, "10": 3, "011": 4,
    "0011": 5, "0010": 6, "00011": 7, "000101": 8, "000100": 9,
    "0000100": 10, "0000101": 11, "0000111": 12, "00000100": 13,
    "00000111": 14, "000011000": 15, "0000010111": 16,
    "0000011000": 17, "0000001000": 18, "00001100111": 19,
    "00001101000": 20, "00001101100": 21, "00000110111": 22,
    "00000101000": 23, "00000010111": 24, "00000011000": 25,
    "000011001010": 26, "000011001011": 27, "000011001100": 28,
    "000011001101": 29, "000001101000": 30, "000001101001": 31,
    "000001101010": 32, "000001101011": 33, "000011010010": 34,
    "000011010011": 35, "000011010100": 36, "000011010101": 37,
    "000011010110": 38, "000011010111": 39, "000001101100": 40,
    "000001101101": 41, "000011011010": 42, "000011011011": 43,
    "000001010100": 44, "000001010101": 45, "000001010110": 46,
    "000001010111": 47, "000001100100": 48, "000001100101": 49,
    "000001010010": 50, "000001010011": 51, "000000100100": 52,
    "000000110111": 53, "000000111000": 54, "000000100111": 55,
    "000000101000": 56, "000001011000": 57, "000001011001": 58,
    "000000101011": 59, "000000101100": 60, "000001011010": 61,
    "000001100110": 62, "000001100111": 63,
    "0000001111": 64, "000011001000": 128, "000011001001": 192,
    "000001011011": 256, "000000110011": 320, "000000110100": 384,
    "000000110101": 448, "0000001101100": 512, "0000001101101": 576,
    "0000001001010": 640, "0000001001011": 704, "0000001001100": 768,
    "0000001001101": 832, "0000001110010": 896, "0000001110011": 960,
    "0000001110100": 1024, "0000001110101": 1088,
    "0000001110110": 1152, "0000001110111": 1216,
    "0000001010010": 1280, "0000001010011": 1344,
    "0000001010100": 1408, "0000001010101": 1472,
    "0000001011010": 1536, "0000001011011": 1600,
    "0000001100100": 1664, "0000001100101": 1728,
}

# T.4 Table 4 — extended make-up codes, common to both colours.
EXT_MAKEUP = {
    "00000001000": 1792, "00000001100": 1856, "00000001101": 1920,
    "000000010010": 1984, "000000010011": 2048, "000000010100": 2112,
    "000000010101": 2176, "000000010110": 2240, "000000010111": 2304,
    "000000011100": 2368, "000000011101": 2432, "000000011110": 2496,
    "000000011111": 2560,
}

_WHITE_ALL = {**WHITE_CODES, **EXT_MAKEUP}
_BLACK_ALL = {**BLACK_CODES, **EXT_MAKEUP}

# (length, value) -> run, for integer bit-reader lookup
_WHITE_LUT = {(len(k), int(k, 2)): v for k, v in _WHITE_ALL.items()}
_BLACK_LUT = {(len(k), int(k, 2)): v for k, v in _BLACK_ALL.items()}

_MAX_CODE_LEN = 14
_EOL = (12, 0b000000000001)


class _Bits:
    """MSB-first bit reader — an integer accumulator refilled a byte at
    a time, so the per-run peek/skip cycle in
    the MH decoder is shift/mask work instead of a bytes slice per
    probe. ``peek`` zero-pads past EOF so mode probes near the end of a
    strip stay simple."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.size = len(data)
        self.bytepos = 0  # next byte to load
        self.acc = 0  # `bits` significant low bits pending
        self.bits = 0

    def bits_left(self) -> int:
        return (self.size - self.bytepos) * 8 + self.bits

    def _fill(self, n: int) -> None:
        while self.bits < n and self.bytepos < self.size:
            self.acc = (self.acc << 8) | self.data[self.bytepos]
            self.bytepos += 1
            self.bits += 8

    def peek(self, n: int) -> int:
        if self.bits < n:
            self._fill(n)
        b = self.bits
        if b >= n:
            return (self.acc >> (b - n)) & ((1 << n) - 1)
        return (self.acc << (n - b)) & ((1 << n) - 1)  # zero-pad at EOF

    def skip(self, n: int) -> None:
        if self.bits < n:
            self._fill(n)
            if self.bits < n:
                raise ValueError("CCITT stream truncated")
        self.bits -= n
        self.acc &= (1 << self.bits) - 1

    def read(self, n: int) -> int:
        if self.bits < n:
            self._fill(n)
            if self.bits < n:
                raise ValueError("CCITT stream truncated")
        self.bits -= n
        v = (self.acc >> self.bits) & ((1 << n) - 1)
        self.acc &= (1 << self.bits) - 1
        return v

    def align(self) -> None:
        drop = self.bits % 8
        self.bits -= drop
        self.acc &= (1 << self.bits) - 1


def _fast_table(lut: dict) -> list:
    """14-bit first-level lookup: window -> (run, code length). Every
    T.4 code is <= 14 bits, so one probe resolves any run code."""
    fast: list = [None] * (1 << _MAX_CODE_LEN)
    for (length, code), run in lut.items():
        base = code << (_MAX_CODE_LEN - length)
        for i in range(1 << (_MAX_CODE_LEN - length)):
            fast[base + i] = (run, length)
    return fast


_WHITE_FAST = _fast_table(_WHITE_LUT)
_BLACK_FAST = _fast_table(_BLACK_LUT)


def _read_run(bits: _Bits, white: bool) -> int:
    """One complete MH run length: make-up codes accumulate until a
    terminating code (< 64) arrives (T.4 §4.1.3). One 14-bit peek and
    table probe per code."""
    fast = _WHITE_FAST if white else _BLACK_FAST
    total = 0
    while True:
        hit = fast[bits.peek(_MAX_CODE_LEN)]
        if hit is None or hit[1] > bits.bits_left():
            raise ValueError(
                f"CCITT invalid or truncated "
                f"{'white' if white else 'black'} run code"
            )
        bits.skip(hit[1])
        total += hit[0]
        if hit[0] < 64:
            return total


def _consume_eols(bits: _Bits) -> None:
    """Skip any fill bits + EOL sequences at the current position."""
    n, eol = _EOL
    while bits.bits_left() >= n:
        if bits.peek(n) == eol:
            bits.skip(n)
            continue
        # fill bits are zeros directly before an EOL; tolerate up to a
        # byte's worth ahead of a genuine EOL only
        probe = 0
        while (
            probe < 7
            and bits.bits_left() >= n + probe + 1
            and bits.peek(probe + 1) == 0
            and bits.peek(probe + 1 + n) == eol
        ):
            probe += 1
        if probe and bits.peek(probe + n) == eol:
            bits.skip(probe + n)
            continue
        break


def _line_to_pixels(transitions: list[int], columns: int) -> np.ndarray:
    row = np.full(columns, 255, dtype=np.uint8)
    color_white = True
    prev = 0
    for t in transitions:
        if not color_white:
            row[prev:t] = 0
        prev = t
        color_white = not color_white
    if not color_white:
        row[prev:] = 0
    return row


def _decode_1d_line(bits: _Bits, columns: int) -> list[int]:
    """One MH-coded line -> transition positions."""
    transitions: list[int] = []
    pos = 0
    white = True
    while pos < columns:
        run = _read_run(bits, white)
        pos += run
        if pos > columns:
            raise ValueError("CCITT run overflows the line width")
        transitions.append(pos)
        white = not white
    return transitions


def decode_g3_1d(
    data: bytes,
    columns: int,
    rows: int | None = None,
    byte_align: bool = False,
) -> np.ndarray:
    """T.4 one-dimensional (MH) decode -> (rows, columns) uint8,
    255 = white."""
    bits = _Bits(data)
    out = []
    while (rows is None or len(out) < rows) and bits.bits_left() >= 2:
        if byte_align:
            bits.align()
        _consume_eols(bits)
        if bits.bits_left() < 2:
            break
        out.append(_line_to_pixels(_decode_1d_line(bits, columns), columns))
    if rows is not None and len(out) < rows:
        raise ValueError(
            f"CCITT stream ended after {len(out)} of {rows} rows"
        )
    return np.stack(out) if out else np.zeros((0, columns), np.uint8)


def _b1_b2(ref: list[int], a0: int, white: bool) -> tuple[int, int]:
    """The reference line's first changing element right of a0 with the
    opposite colour of a0 (b1), and the next one (b2) — T.6 §2.2.4.
    ``ref`` holds transition positions; even indices flip white->black."""
    import bisect

    i = bisect.bisect_right(ref, a0)
    # transition i changes INTO black when i is even; we need the one
    # changing into the colour OPPOSITE the current (a0) colour
    want_parity = 0 if white else 1
    if i % 2 != want_parity:
        i += 1
    b1 = ref[i] if i < len(ref) else None
    b2 = ref[i + 1] if i + 1 < len(ref) else None
    return (b1, b2)


_V_CODES = (  # code string -> a1 - b1 offset, longest first for peek
    ("0000011", 3), ("0000010", -3), ("000011", 2), ("000010", -2),
    ("011", 1), ("010", -1), ("1", 0),
)


def _decode_2d_line(
    bits: _Bits, ref: list[int], columns: int
) -> list[int]:
    """One two-dimensionally coded line (T.4 §4.2 / T.6 §4.2.1) against
    the reference line's transitions -> this line's transitions. Shared
    verbatim by Group 4 and the Group 3 mixed (K > 0) 2-D lines — the
    coding is identical; only the framing (EOFB vs EOL + tag bit)
    differs."""
    cur: list[int] = []
    a0 = -1  # imaginary element before the line start (T.6 §2.2.2)
    white = True
    while a0 < columns:
        b1, b2 = _b1_b2(ref, a0, white)
        if b1 is None:
            b1 = columns
        if b2 is None:
            b2 = columns
        if bits.peek(4) == 0b0001:  # pass mode
            bits.skip(4)
            a0 = b2
            continue
        if bits.peek(3) == 0b001:  # horizontal mode
            bits.skip(3)
            base = max(a0, 0)
            r1 = _read_run(bits, white)
            r2 = _read_run(bits, not white)
            if base + r1 + r2 > columns:
                raise ValueError("CCITT runs overflow the line width")
            cur.append(base + r1)
            cur.append(base + r1 + r2)
            a0 = base + r1 + r2
            continue
        for code, d in _V_CODES:  # vertical modes
            n = len(code)
            if bits.bits_left() >= n and bits.peek(n) == int(code, 2):
                bits.skip(n)
                a1 = b1 + d
                if a1 < 0 or a1 > columns:
                    raise ValueError(
                        "CCITT vertical mode outside the line"
                    )
                cur.append(a1)
                a0 = a1
                white = not white
                break
        else:
            raise ValueError("CCITT invalid 2-D mode code")
    return cur


def decode_g4(
    data: bytes,
    columns: int,
    rows: int | None = None,
    byte_align: bool = False,
) -> np.ndarray:
    """T.6 two-dimensional decode -> (rows, columns) uint8,
    255 = white. Stops at EOFB or after ``rows`` lines."""
    bits = _Bits(data)
    ref: list[int] = []  # imaginary all-white line above the first
    out = []
    eofb_len, eol = _EOL
    while rows is None or len(out) < rows:
        if byte_align:
            bits.align()
        if bits.bits_left() < 1:
            if rows is None:
                break
            raise ValueError(
                f"CCITT stream ended after {len(out)} of {rows} rows"
            )
        if bits.bits_left() >= 2 * eofb_len and bits.peek(
            2 * eofb_len
        ) == ((eol << eofb_len) | eol):
            break  # EOFB
        cur = _decode_2d_line(bits, ref, columns)
        out.append(_line_to_pixels(cur, columns))
        ref = cur
    if rows is not None and len(out) < rows:
        raise ValueError(
            f"CCITT stream ended after {len(out)} of {rows} rows"
        )
    return np.stack(out) if out else np.zeros((0, columns), np.uint8)


def decode_g3_2d(
    data: bytes,
    columns: int,
    rows: int | None = None,
    byte_align: bool = False,
) -> np.ndarray:
    """T.4 §4.2 mixed one/two-dimensional decode (PDF /K > 0, TIFF
    T4Options bit 0) -> (rows, columns) uint8, 255 = white. Every line
    is framed by an EOL whose trailing tag bit says whether the line is
    MH-coded (1) or coded two-dimensionally against the previous line
    (0); the 2-D coding itself is byte-identical to Group 4
    (_decode_2d_line)."""
    bits = _Bits(data)
    eol_len, eol = _EOL
    ref: list[int] = []
    out = []
    while rows is None or len(out) < rows:
        if byte_align:
            bits.align()
        # fill bits (zeros) then the mandatory EOL
        while (
            bits.bits_left() >= eol_len
            and bits.peek(eol_len) != eol
            and bits.peek(1) == 0
        ):
            bits.skip(1)
        if bits.bits_left() < eol_len + 1:
            break
        if bits.peek(eol_len) != eol:
            raise ValueError("CCITT G3 2-D line missing its EOL")
        bits.skip(eol_len)
        one_dimensional = bits.read(1)
        # RTC: the next thing after the tag is another EOL immediately
        if bits.bits_left() >= eol_len and bits.peek(eol_len) == eol:
            break
        if bits.bits_left() < 2:
            break
        if one_dimensional:
            cur = _decode_1d_line(bits, columns)
        else:
            cur = _decode_2d_line(bits, ref, columns)
        out.append(_line_to_pixels(cur, columns))
        ref = cur
    if rows is not None and len(out) < rows:
        raise ValueError(
            f"CCITT stream ended after {len(out)} of {rows} rows"
        )
    return np.stack(out) if out else np.zeros((0, columns), np.uint8)


def decode_ccitt(
    data: bytes,
    columns: int,
    rows: int | None = None,
    k: int = 0,
    byte_align: bool = False,
) -> np.ndarray:
    """PDF /CCITTFaxDecode parameter dispatch (§7.4.6): K < 0 -> pure
    T.6 (Group 4), K = 0 -> T.4 one-dimensional, K > 0 -> T.4 mixed
    one/two-dimensional. Output is 255 = white regardless of the
    /BlackIs1 packed-bit sense — that flag concerns the caller's bit
    packing, not this pixel-level decode."""
    if columns <= 0:
        raise ValueError("CCITT /Columns must be positive")
    decode = (
        decode_g4 if k < 0 else decode_g3_2d if k > 0 else decode_g3_1d
    )
    return decode(data, columns, rows=rows, byte_align=byte_align)
