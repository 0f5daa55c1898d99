"""Round-trip tests for the from-spec MP4/ISO-BMFF metadata reader
(operators/mp4_meta.py): an independently-written minimal box writer
here assembles real ftyp/moov/trak/mdia/minf/stbl trees (v0 and v1
headers, 16.16 fixed-point dims, largesize, skippable free boxes), and
the reader must recover duration/dims/frame count — container metadata
only; frame decode stays an honest stub.
"""

from __future__ import annotations

import struct

import pytest


def box(fourcc: bytes, body: bytes, largesize: bool = False) -> bytes:
    if largesize:
        return (
            struct.pack(">I", 1) + fourcc + struct.pack(">Q", 16 + len(body)) + body
        )
    return struct.pack(">I", 8 + len(body)) + fourcc + body


def mvhd(timescale: int, duration: int, version: int = 0) -> bytes:
    if version:
        body = (
            b"\x01\x00\x00\x00"
            + struct.pack(">QQ", 0, 0)
            + struct.pack(">IQ", timescale, duration)
        )
    else:
        body = (
            b"\x00\x00\x00\x00"
            + struct.pack(">II", 0, 0)
            + struct.pack(">II", timescale, duration)
        )
    body += b"\x00" * 80  # rate/volume/matrix/next_track_id etc.
    return box(b"mvhd", body)


def tkhd(width: int, height: int, version: int = 0) -> bytes:
    if version:
        head = b"\x01\x00\x00\x03" + struct.pack(">QQIIQ", 0, 0, 1, 0, 0)
    else:
        head = b"\x00\x00\x00\x03" + struct.pack(">IIIII", 0, 0, 1, 0, 0)
    mid = b"\x00" * 16 + b"\x00" * 36  # reserved/layer/volume + matrix
    dims = struct.pack(">II", width << 16, height << 16)
    return box(b"tkhd", head + mid + dims)


def stsz(count: int) -> bytes:
    return box(b"stsz", b"\x00\x00\x00\x00" + struct.pack(">II", 0, count))


def video_mp4(
    w=640, h=360, frames=120, timescale=1000, dur_ms=4000,
    version=0, largesize=False, with_audio_track=True,
) -> bytes:
    vtrak = box(
        b"trak",
        tkhd(w, h, version)
        + box(b"mdia", box(b"minf", box(b"stbl", stsz(frames)))),
    )
    atrak = (
        box(
            b"trak",
            tkhd(0, 0, version)
            + box(b"mdia", box(b"minf", box(b"stbl", stsz(9999)))),
        )
        if with_audio_track
        else b""
    )
    moov = box(
        b"moov", mvhd(timescale, dur_ms, version) + atrak + vtrak,
        largesize=largesize,
    )
    return (
        box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
        + box(b"free", b"\x00" * 7)  # skippable odd-sized box
        + moov
        + box(b"mdat", b"\x00" * 32)
    )


def test_reads_duration_dims_frames_v0():
    from fund_data_etl_pipeline_spark.operators.mp4_meta import read_mp4_meta

    m = read_mp4_meta(video_mp4())
    assert m["duration_s"] == 4.0
    assert (m["width"], m["height"]) == (640, 360)
    assert m["n_frames"] == 120
    assert abs(m["fps"] - 30.0) < 1e-9


def test_v1_headers_and_largesize():
    from fund_data_etl_pipeline_spark.operators.mp4_meta import read_mp4_meta

    m = read_mp4_meta(
        video_mp4(w=1920, h=1080, frames=50, dur_ms=2000, version=1,
                  largesize=True)
    )
    assert m["duration_s"] == 2.0
    assert (m["width"], m["height"]) == (1920, 1080)
    assert m["n_frames"] == 50 and abs(m["fps"] - 25.0) < 1e-9


def test_audio_only_mp4_has_no_video_fields():
    from fund_data_etl_pipeline_spark.operators.mp4_meta import read_mp4_meta

    blob = video_mp4(with_audio_track=True)
    # strip the video track by rebuilding with zero-dim tracks only
    atrak = box(
        b"trak",
        tkhd(0, 0) + box(b"mdia", box(b"minf", box(b"stbl", stsz(77)))),
    )
    blob = (
        box(b"ftyp", b"isom\x00\x00\x02\x00isom")
        + box(b"moov", mvhd(1000, 3000) + atrak)
    )
    m = read_mp4_meta(blob)
    assert m["duration_s"] == 3.0
    assert m["width"] is None and m["n_frames"] is None and m["fps"] is None


def test_video_track_first_audio_second():
    # Regression (ADVICE r6): the common real-world layout is video trak
    # FIRST, audio second. Keying per-track state by the box path tuple
    # made the audio track's 0x0 tkhd overwrite the video dims; tracks
    # must be keyed by a unique per-trak ordinal instead.
    from fund_data_etl_pipeline_spark.operators.mp4_meta import read_mp4_meta

    vtrak = box(
        b"trak",
        tkhd(1280, 720)
        + box(b"mdia", box(b"minf", box(b"stbl", stsz(90)))),
    )
    atrak = box(
        b"trak",
        tkhd(0, 0) + box(b"mdia", box(b"minf", box(b"stbl", stsz(9999)))),
    )
    blob = (
        box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
        + box(b"moov", mvhd(1000, 3000) + vtrak + atrak)
        + box(b"mdat", b"\x00" * 8)
    )
    m = read_mp4_meta(blob)
    assert (m["width"], m["height"]) == (1280, 720)
    assert m["n_frames"] == 90
    assert abs(m["fps"] - 30.0) < 1e-9


def test_named_errors():
    from fund_data_etl_pipeline_spark.operators.mp4_meta import read_mp4_meta

    with pytest.raises(ValueError, match="ftyp"):
        read_mp4_meta(b"RIFF....WAVEnot-an-mp4")
    blob = video_mp4()
    with pytest.raises(ValueError, match="overruns|truncated|mvhd"):
        read_mp4_meta(blob[: len(blob) - 45])
