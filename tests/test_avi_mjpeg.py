"""Round-trip tests for the from-spec MJPEG AVI demuxer
(operators/avi_mjpeg.py): an independently written in-test AVI writer
wraps JPEG frames (from test_jpeg_codec's independent encoder) in the
RIFF hdrl/movi layout, and the demuxer + the builtin T.81 decoder must
recover per-frame pixels — real video frame decode, no media library.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from fund_data_etl_pipeline_spark.operators.avi_mjpeg import (
    iter_mjpeg_frames,
    read_avi_meta,
)
from tests.test_jpeg_codec import encode_jpeg


def _chunk(cid: bytes, body: bytes) -> bytes:
    out = cid + struct.pack("<I", len(body)) + body
    return out + (b"\x00" if len(body) & 1 else b"")


def _list(ltype: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", ltype + body)


def write_avi(
    frames: list[bytes],
    w: int,
    h: int,
    fps: float = 10.0,
    handler: bytes = b"MJPG",
) -> bytes:
    us_per_frame = int(round(1e6 / fps))
    avih = struct.pack(
        "<10I", us_per_frame, 0, 0, 0, len(frames), 0, 1, 0, w, h
    ) + b"\x00" * 16
    # AVISTREAMHEADER: fccType, fccHandler, flags, prio+lang, initial,
    # scale, rate, start, length, ...
    strh = (
        b"vids" + handler
        + struct.pack("<IIIIIIII", 0, 0, 0, 100, int(round(fps * 100)),
                      0, len(frames), 0)
        + b"\x00" * 16
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, w * h * 3, 0, 0, 0, 0
    )
    hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih)
        + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
    )
    movi = _list(b"movi", b"".join(_chunk(b"00dc", f) for f in frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _solid(h, w, rgb):
    img = np.zeros((h, w, 3), dtype=np.uint8)
    img[:, :] = rgb
    return img


def _frames(n=5, h=16, w=24):
    imgs = [_solid(h, w, (40 * i % 256, 20 * i % 256, 10 * i)) for i in range(n)]
    return imgs, [encode_jpeg(img) for img in imgs]


def test_avi_meta():
    _, jpegs = _frames()
    meta = read_avi_meta(write_avi(jpegs, w=24, h=16, fps=10.0))
    assert meta["width"] == 24 and meta["height"] == 16
    assert meta["n_frames"] == 5
    assert abs(meta["fps"] - 10.0) < 1e-9
    assert abs(meta["duration_s"] - 0.5) < 1e-9


def test_avi_frames_decode_exactly():
    from fund_data_etl_pipeline_spark.operators.jpeg_codec import decode_jpeg

    imgs, jpegs = _frames()
    blob = write_avi(jpegs, w=24, h=16)
    got = list(iter_mjpeg_frames(blob))
    assert [i for i, _ in got] == list(range(5))
    for (_, payload), jpeg, img in zip(got, jpegs, imgs):
        assert payload == jpeg
        w, h, _ch, px = decode_jpeg(payload)
        assert (w, h) == (24, 16)
        # unit-quant JPEG of a solid color is near-exact
        assert np.max(np.abs(px.astype(int) - img.astype(int))) <= 2


def test_avi_interleaved_rec_lists_decode():
    # Regression (ADVICE r6): legal interleaved AVIs wrap each frame
    # time's chunks in LIST('rec ') inside movi; the demuxer must
    # recurse into them instead of silently yielding zero frames.
    imgs, jpegs = _frames(n=4)
    movi_body = b"".join(
        _list(b"rec ", _chunk(b"00dc", f) + _chunk(b"01wb", b"\x00\x01"))
        for f in jpegs
    )
    plain = write_avi(jpegs, w=24, h=16)
    flat_movi = _list(b"movi", b"".join(_chunk(b"00dc", f) for f in jpegs))
    assert flat_movi in plain
    blob = plain.replace(flat_movi, _list(b"movi", movi_body))
    blob = blob[:4] + struct.pack("<I", len(blob) - 8) + blob[8:]
    got = list(iter_mjpeg_frames(blob))
    assert [i for i, _ in got] == list(range(4))
    assert [payload for _, payload in got] == jpegs


def test_avi_deeply_nested_rec_lists_quarantine():
    # Regression (ADVICE r7): rec lists don't legally nest, but ~1000
    # stacked LIST('rec ') wrappers fit in ~12 KB — the demuxer must
    # raise its named ValueError, not RecursionError.
    _, jpegs = _frames(n=1)
    inner = _chunk(b"00dc", jpegs[0])
    for _ in range(1000):
        inner = _list(b"rec ", inner)
    plain = write_avi(jpegs, w=24, h=16)
    flat_movi = _list(b"movi", _chunk(b"00dc", jpegs[0]))
    assert flat_movi in plain
    blob = plain.replace(flat_movi, _list(b"movi", inner))
    blob = blob[:4] + struct.pack("<I", len(blob) - 8) + blob[8:]
    with pytest.raises(ValueError, match="rec lists nested"):
        list(iter_mjpeg_frames(blob))


def test_avi_named_errors():
    _, jpegs = _frames(n=2)
    blob = write_avi(jpegs, w=24, h=16)
    with pytest.raises(ValueError, match="RIFF"):
        read_avi_meta(b"XXXX" + blob[4:])
    with pytest.raises(ValueError, match="handler"):
        read_avi_meta(write_avi(jpegs, w=24, h=16, handler=b"cvid"))
    with pytest.raises(ValueError, match="truncated|overruns"):
        read_avi_meta(blob[:-30])
