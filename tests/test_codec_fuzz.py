"""Hostile-input contract for the scanned-PDF decoders (CCITT fax, JPEG,
the PDF text and image walks) and the standalone media codecs (FLAC,
AIFF/WAV, PNG, AVI, MP4): random garbage and mutated/truncated valid
streams must either decode or raise a NAMED ValueError — never an
IndexError/OverflowError/struct.error leaking out of the codec, and
never a hang. (The S7 side-channel quarantines any exception, but the
named-error contract is what makes quarantine rows readable, and an
unexpected exception class usually marks a real bug — the AIFF
80-bit-float OverflowError this test originally caught.)"""

from __future__ import annotations

import numpy as np

from fund_data_etl_pipeline_spark.operators.ccitt_codec import (
    decode_g3_1d,
    decode_g3_2d,
    decode_g4,
)
from fund_data_etl_pipeline_spark.operators.flac_codec import decode_flac
from fund_data_etl_pipeline_spark.operators.wav_codec import decode_aiff
from fund_data_etl_pipeline_spark.sources.pdf_text import (
    extract_pdf_images,
)

from test_aiff_codec import write_aiff
from test_ccitt_codec import _text_like, encode_g3_2d, encode_g4
from test_flac_codec import _tone, encode_flac


def _ok(fn, blob):
    try:
        fn(blob)
    except ValueError:
        return
    # success is fine too; anything else propagates and fails the test


def test_random_garbage_names_its_errors():
    rng = np.random.RandomState(0)
    for _ in range(150):
        blob = rng.bytes(rng.randint(1, 300))
        _ok(lambda b: decode_g4(b, 64, rows=8), blob)
        _ok(lambda b: decode_g3_1d(b, 64, rows=8), blob)
        _ok(lambda b: decode_g3_2d(b, 64, rows=8), blob)
        _ok(lambda b: decode_flac(b"fLaC" + b), blob)
        _ok(lambda b: decode_aiff(b"FORM\x00\x00\x01\x00AIFF" + b), blob)
        _ok(lambda b: extract_pdf_images(b"%PDF-1.4\n" + b), blob)


def test_mutated_valid_streams_name_their_errors():
    rng = np.random.RandomState(1)
    img = _text_like(rows=8, cols=48, seed=4)
    corpora = [
        (lambda b: decode_g4(b, 48, rows=8), encode_g4(img)),
        (lambda b: decode_g3_2d(b, 48, rows=8), encode_g3_2d(img, k=2)),
        (decode_flac, encode_flac(_tone(96, ch=2), 8000)),
        (decode_aiff, write_aiff(_tone(96, ch=1)[:, 0], 8000)),
    ]
    for _ in range(150):
        for fn, base in corpora:
            b = bytearray(base)
            for _ in range(rng.randint(1, 4)):
                b[rng.randint(len(b))] ^= 1 << rng.randint(8)
            _ok(fn, bytes(b))
            _ok(fn, bytes(base[: rng.randint(1, len(base))]))


def test_older_codecs_mutation_fuzz():
    """Same contract for the PNG, JPEG and WAV decoders and the PDF text
    extractor: bit-flipped and truncated valid streams raise named
    ValueError/NotImplementedError only (this pass originally caught
    uncaught zlib.error in PNG/PDF Flate and KeyError/struct.error in
    JPEG)."""
    from fund_data_etl_pipeline_spark.operators.jpeg_codec import decode_jpeg
    from fund_data_etl_pipeline_spark.operators.png_codec import decode_png
    from fund_data_etl_pipeline_spark.operators.wav_codec import decode_wav
    from fund_data_etl_pipeline_spark.sources.pdf_text import (
        extract_pdf_text,
    )
    from test_jpeg_codec import encode_jpeg
    from test_pdf_text import simple_pdf
    from test_png_codec import encode_png
    from test_wav_codec import write_wav

    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, (12, 16, 3)).astype(np.uint8)
    corpora = [
        (decode_png, encode_png(img)),
        (decode_jpeg, encode_jpeg(img)),
        (decode_wav, write_wav(np.linspace(-0.5, 0.5, 400)[:, None])),
        (extract_pdf_text, simple_pdf(b"BT (hello) Tj ET", compress=True)),
    ]

    def ok(fn, blob):
        try:
            fn(blob)
        except (ValueError, NotImplementedError):
            pass

    for _ in range(120):
        for fn, base in corpora:
            b = bytearray(base)
            for _ in range(rng.randint(1, 4)):
                b[rng.randint(len(b))] ^= 1 << rng.randint(8)
            ok(fn, bytes(b))
            ok(fn, bytes(base[: rng.randint(1, len(base))]))


def test_container_metadata_mutation_fuzz():
    """AVI demux, MP4 box walk and the scanned-PDF image walk under the
    same mutation contract (this pass originally caught struct.error on
    truncated mvhd/tkhd/stsz boxes)."""
    from fund_data_etl_pipeline_spark.operators.avi_mjpeg import (
        iter_mjpeg_frames,
        read_avi_meta,
    )
    from fund_data_etl_pipeline_spark.operators.mp4_meta import (
        read_mp4_meta,
    )
    from test_avi_mjpeg import write_avi
    from test_jpeg_codec import encode_jpeg
    from test_mp4_meta import video_mp4
    from test_pdf_images import image_obj, scanned_pdf

    rng = np.random.RandomState(5)
    img = rng.randint(0, 256, (16, 16, 3)).astype(np.uint8)
    jpg = encode_jpeg(img)
    corpora = [
        (read_avi_meta, write_avi([jpg, jpg], 16, 16)),
        (lambda b: list(iter_mjpeg_frames(b)), write_avi([jpg], 16, 16)),
        (read_mp4_meta, video_mp4()),
        (
            extract_pdf_images,
            scanned_pdf([image_obj(jpg, 16, 16, filt=b"/DCTDecode")]),
        ),
    ]

    def ok(fn, blob):
        try:
            fn(blob)
        except (ValueError, NotImplementedError):
            pass

    for _ in range(150):
        for fn, base in corpora:
            b = bytearray(base)
            for _ in range(rng.randint(1, 4)):
                b[rng.randint(len(b))] ^= 1 << rng.randint(8)
            ok(fn, bytes(b))
            ok(fn, bytes(base[: rng.randint(1, len(base))]))
