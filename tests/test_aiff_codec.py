"""AIFF decode (operators/wav_codec.decode_aiff) round-trips against an
independent in-test writer — big-endian PCM, signed 8-bit (unlike WAV),
and the COMM chunk's 80-bit extended-float sample rate."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from fund_data_etl_pipeline_spark.operators.wav_codec import (
    _extended80,
    decode_aiff,
)


def _to_extended80(x: float) -> bytes:
    """Forward 80-bit extended encoder (independent of the decoder:
    frexp-based, not bit-shift inversion)."""
    import math

    if x == 0:
        return b"\x00" * 10
    sign = 0x8000 if x < 0 else 0
    m, e = math.frexp(abs(x))  # x = m * 2**e, m in [0.5, 1)
    exp = e - 1 + 16383
    mant = int(m * (1 << 64))
    return struct.pack(">H", sign | exp) + mant.to_bytes(8, "big")


def write_aiff(samples: np.ndarray, rate: int, bits: int = 16) -> bytes:
    if samples.ndim == 1:
        samples = samples[:, None]
    frames, ch = samples.shape
    flat = samples.reshape(-1)
    if bits == 8:
        payload = flat.astype(">i1").tobytes()
    elif bits == 16:
        payload = flat.astype(">i2").tobytes()
    else:
        width = bits // 8
        payload = b"".join(
            int(v).to_bytes(width, "big", signed=True) for v in flat
        )
    comm = (
        struct.pack(">hIh", ch, frames, bits) + _to_extended80(float(rate))
    )
    ssnd = struct.pack(">II", 0, 0) + payload
    body = (
        b"AIFF"
        + b"COMM" + struct.pack(">I", len(comm)) + comm
        + b"SSND" + struct.pack(">I", len(ssnd)) + ssnd
    )
    return b"FORM" + struct.pack(">I", len(body)) + body


def test_extended80_spot_values():
    # 44100 = 0x400E AC44 0000 0000 0000 — the value printed in the
    # AIFF-1.3 spec's own example
    assert _to_extended80(44100.0).hex() == "400eac4400000000" + "0000"
    assert _extended80(bytes.fromhex("400eac44000000000000")) == 44100.0
    for v in (8000.0, 16000.0, 22050.0, 48000.0, 96000.0, 1.0, 0.0):
        assert _extended80(_to_extended80(v)) == v


def _tone(n=400, ch=2, amp=9000):
    t = np.arange(n)
    return np.stack(
        [
            np.round(amp * np.sin(2 * np.pi * t * (0.013 + 0.005 * c)))
            for c in range(ch)
        ],
        axis=-1,
    ).astype(np.int64)


@pytest.mark.parametrize("bits,scale", [(8, 128), (16, 32768),
                                        (24, 1 << 23), (32, 1 << 31)])
def test_pcm_roundtrip_exact(bits, scale):
    s = (_tone() * (scale // 32768 if scale >= 32768 else 1)).astype(
        np.int64
    )
    if bits == 8:
        s = s // 256
    rate, ch, out = decode_aiff(write_aiff(s, 22050, bits=bits))
    assert (rate, ch) == (22050, 2)
    assert np.array_equal(
        np.round(out * scale).astype(np.int64), s
    )


def test_named_errors():
    with pytest.raises(ValueError, match="FORM"):
        decode_aiff(b"RIFFnotaiff")
    s = _tone(16, ch=1)
    blob = write_aiff(s, 8000)
    with pytest.raises(ValueError, match="AIFF-C"):
        decode_aiff(blob.replace(b"AIFF", b"AIFC", 1))
    with pytest.raises(ValueError, match="COMM|truncated"):
        decode_aiff(blob[:20])
