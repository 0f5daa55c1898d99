"""Minimal from-spec MP4/ISO-BMFF metadata reader (standalone: no job or
query calls it).

ISO/IEC 14496-12 (the MP4 container) is a public spec and its metadata
layer is pure structure — size+type box walk, big-endian fields — so the
video features a curation pipeline actually filters on (duration,
dimensions, frame count, fps) are readable with zero third-party
libraries and WITHOUT touching the codec payload:

- box walk: nested containers (moov, trak, mdia, minf, stbl) traversed
  by size+fourcc; 64-bit largesize (size == 1) honored; unknown boxes
  skipped;
- ``mvhd`` (movie header, version 0/1): timescale + duration ->
  duration_s;
- ``tkhd`` (track header, version 0/1): 16.16 fixed-point width/height
  (the presentation size — 0x0 for audio tracks);
- ``stsz``/``stz2`` sample_count per track -> n_frames of the video
  track (the one with nonzero tkhd dims), fps = n_frames / duration.

FRAME DECODE stays an honest stub: H.264/H.265/AV1 entropy decoding is
a genuine codec-library project. This module is the container metadata
only — enough to make ``sample_frames``' n_frames come from real bytes.
Truncated/non-BMFF input raises a NAMED error (the S7 quarantine
convention). Round-trip tests in tests/test_mp4_meta.py drive this
against an independently-written in-test box writer.
"""

from __future__ import annotations

import struct

import numpy as np  # noqa: F401 — parity with the codec family imports

_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}


def _walk(data: bytes, start: int, end: int, path: tuple = ()):
    """Yield (path+fourcc, body_start, body_end) over the box tree."""
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack(">I", data[pos : pos + 4])
        fourcc = data[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:  # 64-bit largesize
            if pos + 16 > end:
                raise ValueError("MP4 box with truncated largesize")
            (size,) = struct.unpack(">Q", data[pos + 8 : pos + 16])
            body = pos + 16
        elif size == 0:  # box extends to end of file
            size = end - pos
        if size < 8 or pos + size > end:
            raise ValueError(
                f"MP4 box {fourcc!r} overruns its container (truncated?)"
            )
        here = path + (fourcc,)
        yield here, body, pos + size
        if fourcc in _CONTAINERS:
            yield from _walk(data, body, pos + size, here)
        pos += size


def read_mp4_meta(data: bytes) -> dict:
    """{duration_s, width, height, n_frames, fps} of an ISO-BMFF blob.

    ``n_frames``/``fps`` are None when the file carries no sized video
    track (e.g. audio-only MP4)."""
    if len(data) < 12 or data[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF/MP4 file (missing ftyp)")
    duration_s = None
    width = height = None
    n_frames = None
    in_video_trak = False
    # Key per-track state by an incrementing trak ordinal, NOT the box
    # path — every trak shares the identical ('moov','trak') path, so a
    # path key would let the last track (commonly audio, 0x0 tkhd)
    # overwrite the video track's dims. _walk yields pre-order, so tkhd/
    # stsz belong to the most recently seen trak box.
    trak_ord = -1
    trak_dims: dict[int, tuple] = {}
    trak_counts: dict[int, int] = {}
    for path, b0, b1 in _walk(data, 0, len(data)):
        four = path[-1]
        body = data[b0:b1]
        if four == b"trak":
            trak_ord += 1
        elif four == b"mvhd":
            if not body:
                raise ValueError("MP4 mvhd box empty (truncated?)")
            ver = body[0]
            need = 32 if ver == 1 else 20
            if len(body) < need:
                raise ValueError("MP4 mvhd box truncated")
            if ver == 1:
                ts, dur = struct.unpack(">IQ", body[20:32])
            else:
                ts, dur = struct.unpack(">II", body[12:20])
            if ts:
                duration_s = dur / ts
        elif four == b"tkhd":
            if not body:
                raise ValueError("MP4 tkhd box empty (truncated?)")
            ver = body[0]
            off = 96 if ver == 1 else 84
            if len(body) < off:
                raise ValueError("MP4 tkhd box truncated")
            w_fp, h_fp = struct.unpack(">II", body[off - 8 : off])
            trak_dims[trak_ord] = (w_fp >> 16, h_fp >> 16)
        elif four in (b"stsz", b"stz2") and b"trak" in path:
            if len(body) < 12:
                raise ValueError(f"MP4 {four.decode()} box truncated")
            (cnt,) = struct.unpack(">I", body[8:12])
            trak_counts[trak_ord] = cnt
    for trak, (w, h) in trak_dims.items():
        if w and h:
            width, height = w, h
            n_frames = trak_counts.get(trak)
            in_video_trak = True
            break
    if duration_s is None:
        raise ValueError("MP4 missing moov/mvhd (truncated or streaming?)")
    fps = (
        n_frames / duration_s
        if in_video_trak and n_frames and duration_s
        else None
    )
    return {
        "duration_s": duration_s,
        "width": width,
        "height": height,
        "n_frames": n_frames,
        "fps": fps,
    }
