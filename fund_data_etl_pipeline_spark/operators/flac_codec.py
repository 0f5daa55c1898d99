"""Minimal from-spec FLAC decoder (RFC 9639 / the public xiph spec).

Sixth from-spec codec (after BIFF8, ISO 32000, PNG, T.81 JPEG, the
RIFF/WAV family): lossless audio is a staple of speech-model training
corpora, and the container ships no audio library, so — the
operators/xls_writer.py precedent — the adapter is built from the
public specification instead of stubbed. Scope: the full mandatory
decode surface for streamable FLAC —

- ``fLaC`` marker + metadata blocks (STREAMINFO §8.2 parsed for sample
  rate / channels / bits-per-sample / total samples; all other block
  types skipped by their 24-bit length);
- frame headers (§9.1): sync, blocking strategy, coded block-size /
  sample-rate / channel-assignment / sample-size, the UTF-8-style coded
  frame number, and the CRC-8 (poly 0x07) integrity check;
- subframes (§9.2): CONSTANT, VERBATIM, FIXED orders 0-4 (the §9.2.2
  polynomial predictors) and LPC up to order 32 (quantized coefficients
  + arithmetic shift), wasted-bits unary prefix honored;
- residuals (§9.2.7): 4-bit Rice and 5-bit Rice2 partitioned coding,
  escape-to-raw partitions, zigzag mapping;
- stereo decorrelation (§9.1.3): left/side, right/side and mid/side
  reconstruction (side carries the +1 sample-size bit);
- frame footer CRC-16 (poly 0x8005) verified over every frame.

Anything malformed (bad sync, reserved codes, CRC mismatch, truncation)
raises a NAMED ``ValueError`` so a caller can quarantine the row (S7
semantics) instead of emitting wrong samples.

Bit-exactness is the point of a lossless codec, so the round-trip tests
(tests/test_flac_codec.py) assert sample-for-sample equality against an
independent in-test encoder covering every subframe type, both Rice
methods, escape partitions and all three stereo decorrelations.
"""

from __future__ import annotations

import struct

import numpy as np

FLAC_MAGIC = b"fLaC"

_BLOCKSIZE = {1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
              8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
              13: 8192, 14: 16384, 15: 32768}
_SAMPLE_RATE = {1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000,
                6: 22050, 7: 24000, 8: 32000, 9: 44100, 10: 48000,
                11: 96000}
_SAMPLE_SIZE = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}

# §9.2.2 fixed-predictor coefficients, order 0-4
_FIXED_COEF = ((), (1,), (2, -1), (3, -3, 1), (4, -6, 4, -1))


def _crc8(data: bytes) -> int:
    """CRC-8, polynomial x^8 + x^2 + x + 1 (0x07), init 0 (§9.1.8)."""
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else crc << 1
    return crc


def _crc16(data: bytes) -> int:
    """CRC-16, polynomial x^16 + x^15 + x^2 + 1 (0x8005), init 0."""
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = (
                ((crc << 1) ^ 0x8005) & 0xFFFF
                if crc & 0x8000
                else (crc << 1) & 0xFFFF
            )
    return crc


class _Bits:
    """MSB-first bit reader — integer accumulator refilled a byte at a
    time, so multi-bit reads and unary scans cost shifts/masks instead
    of per-bit slicing (the Rice residual loop decodes one quotient +
    remainder per SAMPLE; this reader is the decoder's hot path).
    Absolute position = loaded bytes minus pending bits, which keeps
    the byte-aligned CRC bookkeeping exact."""

    def __init__(self, data: bytes, byte_pos: int = 0) -> None:
        self.data = data
        self.n = len(data)
        self.bytepos = byte_pos  # next byte to load into the accumulator
        self.acc = 0  # `bits` significant low bits pending
        self.bits = 0

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        acc, bits, pos = self.acc, self.bits, self.bytepos
        data, size = self.data, self.n
        while bits < n:
            if pos >= size:
                raise ValueError("FLAC bitstream truncated")
            acc = (acc << 8) | data[pos]
            pos += 1
            bits += 8
        bits -= n
        v = (acc >> bits) & ((1 << n) - 1)
        self.acc = acc & ((1 << bits) - 1)
        self.bits = bits
        self.bytepos = pos
        return v

    def signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v >> (n - 1) else v

    def unary(self) -> int:
        """Count of 0 bits before the terminating 1 bit (§9.2.7.1) —
        whole pending windows of zeros are consumed via bit_length."""
        q = 0
        acc, bits, pos = self.acc, self.bits, self.bytepos
        data, size = self.data, self.n
        while True:
            if bits == 0:
                if pos >= size:
                    raise ValueError("FLAC bitstream truncated")
                acc = data[pos]
                pos += 1
                bits = 8
            if acc == 0:
                q += bits
                bits = 0
                continue
            top = acc.bit_length()
            q += bits - top
            bits = top - 1  # the 1 bit is consumed too
            self.acc = acc & ((1 << bits) - 1)
            self.bits = bits
            self.bytepos = pos
            return q

    def align(self) -> None:
        drop = self.bits % 8
        self.bits -= drop
        self.acc &= (1 << self.bits) - 1

    def byte_pos(self) -> int:
        return self.bytepos - self.bits // 8

    def at_end(self) -> bool:
        return self.bytepos >= self.n and self.bits == 0


def _coded_number(bits: _Bits) -> int:
    """The UTF-8-style variable-length frame/sample number (§9.1.5)."""
    b0 = bits.read(8)
    if b0 < 0x80:
        return b0
    n = 0
    while (b0 << n) & 0x80:
        n += 1
    if n == 1 or n > 7:
        raise ValueError("FLAC frame number coding invalid")
    v = b0 & (0x7F >> n)
    for _ in range(n - 1):
        cont = bits.read(8)
        if cont & 0xC0 != 0x80:
            raise ValueError("FLAC frame number continuation invalid")
        v = (v << 6) | (cont & 0x3F)
    return v


def _residual(bits: _Bits, blocksize: int, order: int) -> list[int]:
    """Partitioned Rice residual (§9.2.7) for one subframe."""
    method = bits.read(2)
    if method > 1:
        raise ValueError(f"FLAC residual coding method {method} reserved")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    porder = bits.read(4)
    nparts = 1 << porder
    # RFC 9639 §9.2.7: the block size MUST divide evenly into the
    # partitions AND (blocksize >> porder) MUST exceed the predictor
    # order — the latter unconditionally (also at porder 0, where a
    # violation would make the first partition's count negative and
    # surface later as a confusing ragged-array error).
    if blocksize % nparts or (blocksize >> porder) <= order:
        raise ValueError("FLAC partition order invalid for block size")
    out: list[int] = []
    for part in range(nparts):
        count = (blocksize >> porder) - (order if part == 0 else 0)
        param = bits.read(pbits)
        if param == escape:
            raw = bits.read(5)
            if raw:
                out.extend(bits.signed(raw) for _ in range(count))
            else:
                out.extend(0 for _ in range(count))
        else:
            for _ in range(count):
                q = bits.unary()
                v = (q << param) | bits.read(param)
                out.append((v >> 1) ^ -(v & 1))
    return out


def _subframe(bits: _Bits, blocksize: int, bps: int) -> list[int]:
    """One channel's samples (§9.2)."""
    if bits.read(1):
        raise ValueError("FLAC subframe padding bit set")
    ftype = bits.read(6)
    wasted = 0
    if bits.read(1):
        wasted = bits.unary() + 1
    eff = bps - wasted
    if eff <= 0:
        raise ValueError("FLAC wasted bits exceed sample size")
    if ftype == 0:  # CONSTANT
        samples = [bits.signed(eff)] * blocksize
    elif ftype == 1:  # VERBATIM
        samples = [bits.signed(eff) for _ in range(blocksize)]
    elif 8 <= ftype <= 12:  # FIXED order 0-4
        order = ftype - 8
        samples = [bits.signed(eff) for _ in range(order)]
        res = _residual(bits, blocksize, order)
        coef = _FIXED_COEF[order]
        for r in res:
            pred = sum(
                c * samples[-j - 1] for j, c in enumerate(coef)
            )
            samples.append(r + pred)
    elif ftype >= 32:  # LPC order 1-32
        order = ftype - 31
        samples = [bits.signed(eff) for _ in range(order)]
        precision = bits.read(4) + 1
        if precision == 16:
            raise ValueError("FLAC LPC precision code 15 invalid")
        shift = bits.signed(5)
        if shift < 0:
            raise ValueError("FLAC negative LPC shift invalid")
        coef = [bits.signed(precision) for _ in range(order)]
        res = _residual(bits, blocksize, order)
        for r in res:
            pred = sum(
                c * samples[-j - 1] for j, c in enumerate(coef)
            ) >> shift
            samples.append(r + pred)
    else:
        raise ValueError(f"FLAC subframe type {ftype} reserved")
    if wasted:
        samples = [s << wasted for s in samples]
    return samples


def decode_flac(data: bytes) -> tuple[int, int, np.ndarray]:
    """(sample_rate, channels, samples[frames, channels] float64 in
    [-1, 1)) of a FLAC blob — the decode_wav contract, so the audio
    feature stage treats both containers identically."""
    if not data.startswith(FLAC_MAGIC):
        raise ValueError("not a FLAC stream (missing fLaC marker)")
    pos = 4
    info = None
    while True:
        if pos + 4 > len(data):
            raise ValueError("FLAC metadata truncated")
        hdr = int.from_bytes(data[pos : pos + 4], "big")
        last, btype, length = hdr >> 31, (hdr >> 24) & 0x7F, hdr & 0xFFFFFF
        body = data[pos + 4 : pos + 4 + length]
        if len(body) < length:
            raise ValueError("FLAC metadata block truncated")
        if btype == 0:  # STREAMINFO §8.2
            if length != 34:
                raise ValueError("FLAC STREAMINFO must be 34 bytes")
            packed = int.from_bytes(body[10:18], "big")
            info = {
                "rate": packed >> 44,
                "channels": ((packed >> 41) & 0x7) + 1,
                "bps": ((packed >> 36) & 0x1F) + 1,
                "total": packed & ((1 << 36) - 1),
            }
        elif btype == 127:
            raise ValueError("FLAC metadata block type 127 forbidden")
        pos += 4 + length
        if last:
            break
    if info is None:
        raise ValueError("FLAC missing STREAMINFO block")
    if info["rate"] == 0:
        raise ValueError("FLAC sample rate 0 invalid")

    chans: list[list[int]] = [[] for _ in range(info["channels"])]
    bits = _Bits(data, pos)
    while not bits.at_end():
        frame_start = bits.byte_pos()
        if bits.read(14) != 0b11111111111110:
            raise ValueError("FLAC frame sync lost")
        bits.read(1)  # reserved
        bits.read(1)  # blocking strategy
        bs_code = bits.read(4)
        sr_code = bits.read(4)
        ch_code = bits.read(4)
        ss_code = bits.read(3)
        bits.read(1)  # reserved
        _coded_number(bits)
        if bs_code == 0:
            raise ValueError("FLAC block size code 0 reserved")
        blocksize = _BLOCKSIZE.get(bs_code)
        if bs_code == 6:
            blocksize = bits.read(8) + 1
        elif bs_code == 7:
            blocksize = bits.read(16) + 1
        if sr_code == 12:
            bits.read(8)
        elif sr_code in (13, 14):
            bits.read(16)
        elif sr_code == 15:
            raise ValueError("FLAC sample rate code 15 invalid")
        bps = info["bps"] if ss_code == 0 else _SAMPLE_SIZE.get(ss_code)
        if bps is None:
            raise ValueError(f"FLAC sample size code {ss_code} reserved")
        hdr_crc = bits.read(8)
        if _crc8(data[frame_start : bits.byte_pos() - 1]) != hdr_crc:
            raise ValueError("FLAC frame header CRC-8 mismatch")

        if ch_code <= 7:
            n_ch = ch_code + 1
            if n_ch != info["channels"]:
                raise ValueError("FLAC frame channel count != STREAMINFO")
            sub = [_subframe(bits, blocksize, bps) for _ in range(n_ch)]
        elif ch_code in (8, 9, 10):
            if info["channels"] != 2:
                raise ValueError("FLAC stereo decorrelation in non-stereo")
            # the difference (side) channel carries one extra bit §9.2
            a = _subframe(bits, blocksize, bps + (1 if ch_code == 9 else 0))
            b = _subframe(bits, blocksize, bps + (0 if ch_code == 9 else 1))
            if ch_code == 8:  # left/side: right = left - side
                sub = [a, [left - s for left, s in zip(a, b)]]
            elif ch_code == 9:  # right/side: left = right + side
                sub = [[r + s for r, s in zip(b, a)], b]
            else:  # mid/side §9.1.3
                left = [
                    (((m << 1) | (s & 1)) + s) >> 1 for m, s in zip(a, b)
                ]
                right = [
                    (((m << 1) | (s & 1)) - s) >> 1 for m, s in zip(a, b)
                ]
                sub = [left, right]
        else:
            raise ValueError(f"FLAC channel assignment {ch_code} reserved")

        bits.align()
        foot_crc = bits.read(16)
        if _crc16(data[frame_start : bits.byte_pos() - 2]) != foot_crc:
            raise ValueError("FLAC frame CRC-16 mismatch")
        for ch, s in zip(chans, sub):
            ch.extend(s)
        if info["total"] and len(chans[0]) >= info["total"]:
            break

    n = info["total"] or len(chans[0])
    out = np.array([c[:n] for c in chans], dtype=np.float64).T
    return info["rate"], info["channels"], out / float(1 << (info["bps"] - 1))
