"""Minimal from-spec AVI demuxer for Motion-JPEG (standalone: no job or
query calls it).

AVI is the RIFF container (the same public Microsoft/IBM chunk layout
wav_codec.py walks) with nested LISTs, per the public AVIMAINHEADER /
AVISTREAMHEADER layouts:

- ``RIFF('AVI ' LIST('hdrl' avih LIST('strl' strh strf ...)) ...
  LIST('movi' 00dc ...))``;
- ``avih`` (AVIMAINHEADER): dwMicroSecPerFrame, dwTotalFrames,
  dwWidth, dwHeight at fixed offsets;
- ``strh`` (AVISTREAMHEADER): fccType 'vids' + fccHandler, dwRate /
  dwScale for exact fps;
- ``movi``: '##dc'/'##db' chunks are video frames — for fccHandler
  'MJPG' each frame body IS a baseline JPEG, so the existing from-spec
  ITU-T T.81 decoder (operators/jpeg_codec.py) turns them into pixels
  with no codec library. That makes MJPEG the one video format whose
  FRAMES this engine decodes for real; H.264/AV1 in MP4 remain the
  honest named stub.

Out of scope, raising a NAMED error (the S7 quarantine convention):
non-MJPEG video handlers (cinepak/DV/H.264-in-AVI), missing headers,
truncated streams.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

AVI_MAGIC = b"RIFF"


def _chunks(data: bytes, pos: int, end: int):
    """(fourcc, body_start, body_end) over a RIFF chunk run; LIST
    chunks are yielded as (b'LIST:<type>', ...) spanning their body."""
    while pos + 8 <= end:
        cid = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        b0 = pos + 8
        b1 = b0 + size
        if b1 > end:
            raise ValueError("AVI chunk overruns its parent (truncated)")
        if cid == b"LIST":
            yield b"LIST:" + data[b0 : b0 + 4], b0 + 4, b1
        else:
            yield cid, b0, b1
        pos = b1 + (size & 1)  # word alignment


def _headers(data: bytes) -> tuple[dict, int, int]:
    """Parse hdrl; returns (meta dict, movi_start, movi_end)."""
    if len(data) < 12 or data[:4] != AVI_MAGIC or data[8:12] != b"AVI ":
        raise ValueError("not an AVI (missing RIFF/'AVI ' header)")
    meta: dict = {}
    movi = None
    handler = None
    for cid, b0, b1 in _chunks(data, 12, len(data)):
        if cid == b"LIST:hdrl":
            for c2, c0, c1 in _chunks(data, b0, b1):
                if c2 == b"avih":
                    if c1 - c0 < 40:
                        raise ValueError("AVI avih header truncated")
                    us_per_frame, _, _, _, total, _, _, _, w, h = (
                        struct.unpack("<10I", data[c0 : c0 + 40])
                    )
                    meta.update(
                        width=w, height=h, n_frames=total,
                        fps=(1e6 / us_per_frame) if us_per_frame else None,
                    )
                elif c2 == b"LIST:strl":
                    for c3, d0, d1 in _chunks(data, c0, c1):
                        if c3 == b"strh" and data[d0 : d0 + 4] == b"vids":
                            handler = data[d0 + 4 : d0 + 8]
                            scale, rate = struct.unpack(
                                "<II", data[d0 + 20 : d0 + 28]
                            )
                            if scale and rate:
                                meta["fps"] = rate / scale
        elif cid == b"LIST:movi":
            movi = (b0, b1)
    if "width" not in meta:
        raise ValueError("AVI missing avih main header")
    if movi is None:
        raise ValueError("AVI missing movi list (truncated?)")
    if handler is None:
        raise ValueError("AVI has no video ('vids') stream")
    if handler.upper() not in (b"MJPG", b"JPEG"):
        raise ValueError(
            f"AVI video handler {handler!r} not supported (MJPG only — "
            "compressed codecs need a library)"
        )
    fps = meta.get("fps")
    n = meta.get("n_frames") or 0
    meta["duration_s"] = (n / fps) if fps else None
    return meta, movi[0], movi[1]


def read_avi_meta(data: bytes) -> dict:
    """{duration_s, width, height, n_frames, fps} of an MJPEG AVI blob
    — the AVI twin of mp4_meta.read_mp4_meta."""
    meta, _, _ = _headers(data)
    return {
        "duration_s": meta.get("duration_s"),
        "width": meta.get("width"),
        "height": meta.get("height"),
        "n_frames": meta.get("n_frames"),
        "fps": meta.get("fps"),
    }


def iter_mjpeg_frames(data: bytes) -> Iterator[tuple[int, bytes]]:
    """(frame_index, jpeg_bytes) for each video frame chunk ('##dc' /
    '##db') in stream order."""
    _, m0, m1 = _headers(data)

    def _frames(pos: int, end: int, depth: int = 0) -> Iterator[bytes]:
        for cid, b0, b1 in _chunks(data, pos, end):
            if len(cid) == 4 and cid[2:4] in (b"dc", b"db"):
                yield data[b0:b1]
            elif cid == b"LIST:rec ":
                # Interleaved AVIs group the chunks of one frame time
                # into LIST('rec ') wrappers inside movi (the public
                # AVI 1.0 layout for CD-ROM interleave); recurse so
                # their '##dc'/'##db' children aren't silently skipped.
                # rec lists don't legally nest (AVI 1.0 allows them only
                # directly inside movi), but a crafted blob can stack
                # them ~1000 deep in a few KB — keep the module's named
                # ValueError quarantine contract instead of blowing the
                # interpreter recursion limit.
                if depth >= 2:
                    raise ValueError(
                        "AVI rec lists nested deeper than the AVI 1.0 "
                        "layout allows"
                    )
                yield from _frames(b0, b1, depth + 1)

    for idx, frame in enumerate(_frames(m0, m1)):
        yield idx, frame
