"""From-spec FLAC decoder (operators/flac_codec.py) round-trips.

FLAC is lossless, so these tests assert SAMPLE-EXACT equality against
an independently written in-test encoder (RFC 9639 forward direction:
bit writer, unary/Rice coding, fixed + LPC prediction, stereo
decorrelation, CRC-8/CRC-16 framing) — covering every subframe type,
both Rice methods, escape partitions, wasted bits and all three stereo
modes."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from fund_data_etl_pipeline_spark.operators.flac_codec import decode_flac


# --- independent in-test encoder ------------------------------------


class _BitWriter:
    def __init__(self, seed: bytes = b"") -> None:
        self.buf = bytearray(seed)
        self.acc = 0
        self.n = 0

    def write(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.buf.append(self.acc)
                self.acc = 0
                self.n = 0

    def signed(self, value: int, nbits: int) -> None:
        self.write(value & ((1 << nbits) - 1), nbits)

    def align(self) -> None:
        if self.n:
            self.write(0, 8 - self.n)

    def getvalue(self) -> bytes:
        assert self.n == 0
        return bytes(self.buf)


def _crc8(data: bytes) -> int:
    # table-driven, unlike the decoder's shift loop
    tbl = []
    for i in range(256):
        c = i
        for _ in range(8):
            c = ((c << 1) ^ 0x07) & 0xFF if c & 0x80 else (c << 1) & 0xFF
        tbl.append(c)
    crc = 0
    for b in data:
        crc = tbl[crc ^ b]
    return crc


def _crc16(data: bytes) -> int:
    tbl = []
    for i in range(256):
        c = i << 8
        for _ in range(8):
            c = ((c << 1) ^ 0x8005) & 0xFFFF if c & 0x8000 else (c << 1) & 0xFFFF
        tbl.append(c)
    crc = 0
    for b in data:
        crc = ((crc << 8) & 0xFFFF) ^ tbl[(crc >> 8) ^ b]
    return crc


_FIXED = ((), (1,), (2, -1), (3, -3, 1), (4, -6, 4, -1))


def _write_residual(w, res, order, blocksize, porder, method, escape_raw):
    w.write(method, 2)
    w.write(porder, 4)
    pbits = 4 if method == 0 else 5
    idx = 0
    for part in range(1 << porder):
        count = (blocksize >> porder) - (order if part == 0 else 0)
        vals = res[idx : idx + count]
        idx += count
        if escape_raw is not None:
            w.write((1 << pbits) - 1, pbits)
            w.write(escape_raw, 5)
            for v in vals:
                w.signed(v, escape_raw)
            continue
        # smallest param whose quotients stay modest
        param = 0
        while any(
            (abs(v) * 2) >> param > 30 for v in vals
        ) and param < (1 << pbits) - 2:
            param += 1
        w.write(param, pbits)
        for v in vals:
            u = (v << 1) if v >= 0 else ((-v) << 1) - 1
            w.write(0, u >> param)
            w.write(1, 1)
            w.write(u & ((1 << param) - 1), param)


def _write_subframe(
    w,
    samples,
    bps,
    kind="fixed",
    order=2,
    porder=0,
    method=0,
    escape_raw=None,
    wasted=0,
    lpc=None,
):
    w.write(0, 1)
    type_code = {"constant": 0, "verbatim": 1}.get(kind)
    if type_code is None:
        type_code = 8 + order if kind == "fixed" else 31 + order
    w.write(type_code, 6)
    if wasted:
        w.write(1, 1)
        w.write(0, wasted - 1)
        w.write(1, 1)
    else:
        w.write(0, 1)
    eff = bps - wasted
    s = [int(v) >> wasted for v in samples]
    if kind == "constant":
        assert len(set(s)) == 1
        w.signed(s[0], eff)
        return
    if kind == "verbatim":
        for v in s:
            w.signed(v, eff)
        return
    for v in s[:order]:
        w.signed(v, eff)
    if kind == "lpc":
        coefs, shift, precision = lpc
        w.write(precision - 1, 4)
        w.signed(shift, 5)
        for c in coefs:
            w.signed(c, precision)
    else:
        coefs, shift = _FIXED[order], 0
    res = [
        s[i] - (sum(c * s[i - j - 1] for j, c in enumerate(coefs)) >> shift)
        for i in range(order, len(s))
    ]
    _write_residual(w, res, order, len(s), porder, method, escape_raw)


def encode_flac(
    samples: np.ndarray,
    rate: int,
    bps: int = 16,
    blocksize: int = 64,
    ch_mode: str = "indep",
    **sub_opts,
) -> bytes:
    if samples.ndim == 1:
        samples = samples[:, None]
    n, ch = samples.shape
    packed = (rate << 44) | ((ch - 1) << 41) | ((bps - 1) << 36) | n
    streaminfo = (
        struct.pack(">HH", blocksize, blocksize)
        + b"\x00" * 6
        + packed.to_bytes(8, "big")
        + b"\x00" * 16
    )
    out = bytearray(b"fLaC" + b"\x80\x00\x00\x22" + streaminfo)
    ch_code = {"indep": ch - 1, "left_side": 8, "right_side": 9,
               "mid_side": 10}[ch_mode]
    for fi, start in enumerate(range(0, n, blocksize)):
        block = samples[start : start + blocksize]
        bs = block.shape[0]
        hw = _BitWriter()
        hw.write(0b11111111111110, 14)
        hw.write(0, 2)  # reserved + fixed blocking
        hw.write(7, 4)  # 16-bit block size follows
        hw.write(0, 4)  # sample rate from STREAMINFO
        hw.write(ch_code, 4)
        hw.write(0, 3)  # sample size from STREAMINFO
        hw.write(0, 1)
        assert fi < 128
        hw.write(fi, 8)  # coded number, single byte
        hw.write(bs - 1, 16)
        hdr = hw.getvalue()
        w = _BitWriter(hdr + bytes([_crc8(hdr)]))
        if ch_mode == "indep":
            subs = [(block[:, c].tolist(), bps) for c in range(ch)]
        else:
            left = block[:, 0].astype(np.int64)
            right = block[:, 1].astype(np.int64)
            side = (left - right).tolist()
            if ch_mode == "left_side":
                subs = [(left.tolist(), bps), (side, bps + 1)]
            elif ch_mode == "right_side":
                subs = [(side, bps + 1), (right.tolist(), bps)]
            else:
                mid = ((left + right) >> 1).tolist()
                subs = [(mid, bps), (side, bps + 1)]
        for s, b in subs:
            _write_subframe(w, s, b, **sub_opts)
        w.align()
        body = w.getvalue()
        out += body + struct.pack(">H", _crc16(body))
    return bytes(out)


# --- round trips -----------------------------------------------------


def _tone(n=200, ch=2, amp=9000):
    t = np.arange(n)
    chans = [
        np.round(amp * np.sin(2 * np.pi * t * (0.01 + 0.007 * c)))
        for c in range(ch)
    ]
    return np.stack(chans, axis=-1).astype(np.int64)


def _assert_exact(blob, samples, rate, bps=16):
    got_rate, got_ch, out = decode_flac(blob)
    assert got_rate == rate and got_ch == samples.shape[1]
    scaled = out * float(1 << (bps - 1))
    assert np.array_equal(np.round(scaled).astype(np.int64), samples)


def test_fixed_order2_stereo_short_final_block():
    s = _tone(200)  # 64+64+64+8: exercises the irregular last frame
    _assert_exact(encode_flac(s, 8000), s, 8000)


@pytest.mark.parametrize("mode", ["left_side", "right_side", "mid_side"])
def test_stereo_decorrelation_exact(mode):
    s = _tone(128)
    s[:, 1] = s[:, 0] + (np.arange(128) % 7) - 3  # strongly correlated
    _assert_exact(encode_flac(s, 44100, ch_mode=mode), s, 44100)


def test_constant_and_verbatim_subframes():
    const = np.full((64, 1), -123, dtype=np.int64)
    _assert_exact(
        encode_flac(const, 8000, kind="constant"), const, 8000
    )
    rng = np.random.RandomState(7)
    noise = rng.randint(-(1 << 15), 1 << 15, size=(64, 1)).astype(np.int64)
    _assert_exact(encode_flac(noise, 8000, kind="verbatim"), noise, 8000)


def test_lpc_subframe_with_shift():
    s = _tone(128, ch=1)
    blob = encode_flac(
        s, 16000, kind="lpc", order=2, lpc=([4, -2], 1, 6)
    )
    _assert_exact(blob, s, 16000)


def test_rice2_method_and_partitions():
    s = _tone(128, ch=1)
    _assert_exact(
        encode_flac(s, 8000, method=1, porder=2), s, 8000
    )


def test_escape_partition_raw_bits():
    s = (_tone(64, ch=1, amp=100) // 4).astype(np.int64)
    _assert_exact(encode_flac(s, 8000, escape_raw=12), s, 8000)


def test_wasted_bits_shift_restored():
    s = (_tone(64, ch=1) & ~np.int64(3)).astype(np.int64)  # 2 low zero bits
    _assert_exact(encode_flac(s, 8000, wasted=2), s, 8000)


def test_8bit_mono():
    s = (_tone(96, ch=1, amp=100)).astype(np.int64)
    _assert_exact(encode_flac(s, 8000, bps=8), s, 8000, bps=8)


def test_named_errors():
    with pytest.raises(ValueError, match="fLaC"):
        decode_flac(b"RIFFnotflac")
    s = _tone(64, ch=1)
    blob = bytearray(encode_flac(s, 8000))
    blob[-1] ^= 0x40  # corrupt the frame CRC-16 itself
    with pytest.raises(ValueError, match="CRC"):
        decode_flac(bytes(blob))
    blob = bytearray(encode_flac(s, 8000))
    blob[-7] ^= 0x01  # corrupt payload: named error either way (CRC or
    # mis-aligned Rice stream -> truncation), never silent bad samples
    with pytest.raises(ValueError):
        decode_flac(bytes(blob))
    with pytest.raises(ValueError, match="truncated|STREAMINFO"):
        decode_flac(b"fLaC\x80\x00\x00\x22" + b"\x00" * 10)


def test_residual_rejects_order_ge_partition_size():
    # Regression (ADVICE r6): the porder/order validity check must apply
    # unconditionally — at partition order 0 a predictor order >= the
    # block size previously slipped past (precedence bug) and yielded a
    # negative residual count instead of the named S7 error.
    from fund_data_etl_pipeline_spark.operators.flac_codec import (
        _Bits,
        _residual,
    )

    # method=00, porder=0000 -> nparts 1; blocksize 16 with order 16
    # makes the sole partition's count zero/negative: named error.
    with pytest.raises(ValueError, match="partition order"):
        _residual(_Bits(b"\x00\x00\x00"), blocksize=16, order=16)
    with pytest.raises(ValueError, match="partition order"):
        _residual(_Bits(b"\x00\x00\x00"), blocksize=16, order=20)


def test_roundtrip_property_random_samples():
    """Lossless means lossless: random samples, shapes, depths, stereo
    modes and fixed orders all round-trip sample-exact."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=40, deadline=None)
    @given(
        data=st.data(),
        n=st.integers(min_value=8, max_value=160),
        ch=st.integers(min_value=1, max_value=2),
        bps=st.sampled_from([8, 16]),
        order=st.integers(min_value=0, max_value=4),
        blocksize=st.sampled_from([16, 32, 64]),
    )
    def prop(data, n, ch, bps, order, blocksize):
        lo, hi = -(1 << (bps - 1)), (1 << (bps - 1)) - 1
        vals = data.draw(
            st.lists(
                st.integers(min_value=lo, max_value=hi),
                min_size=n * ch,
                max_size=n * ch,
            )
        )
        s = np.array(vals, dtype=np.int64).reshape(n, ch)
        mode = (
            data.draw(
                st.sampled_from(
                    ["indep", "left_side", "right_side", "mid_side"]
                )
            )
            if ch == 2
            else "indep"
        )
        # every frame (incl. the short last one) needs > order samples
        if n % blocksize and n % blocksize <= order:
            n2 = n - (n % blocksize)
            s = s[: max(n2, blocksize)]
        blob = encode_flac(
            s, 8000, bps=bps, blocksize=blocksize, ch_mode=mode,
            order=order,
        )
        _assert_exact(blob, s, 8000, bps=bps)

    prop()
