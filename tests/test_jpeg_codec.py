"""Round-trip tests for the from-spec baseline JPEG decoder
(operators/jpeg_codec.py): an independently-written minimal
spec-conformant baseline ENCODER here builds real JFIF byte streams
(FDCT + quantization + canonical Huffman + byte stuffing + optional
restart markers and 4:2:0 subsampling), and the decoder must reconstruct
the pixels within the quantization error bound — the
xls_writer/pdf_text round-trip strategy applied to JPEG.

JPEG is lossy, so "round trip" asserts bounded error: with all-ones
quantization tables the only loss is coefficient rounding (|err| <= 0.5
per coefficient -> small bounded spatial error), which the tests pin
numerically.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

# forward DCT basis (orthonormal): F = M @ (f - 128) @ M.T — written
# independently of the decoder's IDCT constant
_M = np.zeros((8, 8))
for _u in range(8):
    _c = (1.0 / np.sqrt(2.0)) if _u == 0 else 1.0
    for _x in range(8):
        _M[_u, _x] = _c / 2.0 * np.cos((2 * _x + 1) * _u * np.pi / 16)

_ZZ = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# trivially-valid canonical Huffman tables: every needed symbol at code
# length 8 (Kraft sum <= 255/256) — the value list IS the code order
_DC_SYMS = list(range(12))
_AC_SYMS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:  # byte stuffing
                    self.out.append(0x00)
                self.acc = 0
                self.nbits = 0

    def flush(self) -> bytes:
        if self.nbits:
            self.acc <<= 8 - self.nbits
            self.acc |= (1 << (8 - self.nbits)) - 1  # pad with 1s
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.nbits = 0
        return bytes(self.out)


def _code(syms: list[int], sym: int) -> tuple[int, int]:
    return syms.index(sym), 8


def _cat(v: int) -> tuple[int, int]:
    """(size category, appended bits) for a DC diff / AC value."""
    t = int(abs(v)).bit_length()
    bits = v if v >= 0 else v + (1 << t) - 1
    return t, bits


def _encode_block(w: _BitWriter, zz: list[int], pred: int) -> int:
    diff = zz[0] - pred
    t, bits = _cat(diff)
    c, n = _code(_DC_SYMS, t)
    w.write(c, n)
    w.write(bits, t)
    run = 0
    last_nz = max((i for i in range(1, 64) if zz[i]), default=0)
    for k in range(1, last_nz + 1):
        if zz[k] == 0:
            run += 1
            continue
        while run > 15:
            c, n = _code(_AC_SYMS, 0xF0)
            w.write(c, n)
            run -= 16
        t, bits = _cat(zz[k])
        c, n = _code(_AC_SYMS, (run << 4) | t)
        w.write(c, n)
        w.write(bits, t)
        run = 0
    if last_nz < 63:
        c, n = _code(_AC_SYMS, 0x00)  # EOB
        w.write(c, n)
    return zz[0]


def _dht(cls: int, tid: int, syms: list[int]) -> bytes:
    bits = [0] * 16
    bits[7] = len(syms)  # all codes length 8
    return (
        b"\xff\xc4"
        + struct.pack(">H", 3 + 16 + len(syms))
        + bytes([(cls << 4) | tid])
        + bytes(bits)
        + bytes(syms)
    )


def _plane_blocks(plane: np.ndarray, q: np.ndarray):
    """Pad to 8-multiples (edge replicate) and yield zigzag-quantized
    blocks in raster order."""
    h, w = plane.shape
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    p = np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge")
    rows = []
    for y in range(0, ph, 8):
        row = []
        for x in range(0, pw, 8):
            f = _M @ (p[y : y + 8, x : x + 8].astype(np.float64) - 128.0) @ _M.T
            flat = f.reshape(64)
            row.append(
                [int(np.round(flat[_ZZ[i]] / q[i])) for i in range(64)]
            )
        rows.append(row)
    return rows


def encode_jpeg(
    px: np.ndarray,
    quant: np.ndarray | None = None,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Baseline JFIF encoder: grayscale [h,w] or RGB [h,w,3] uint8."""
    q = (
        quant
        if quant is not None
        else np.ones(64, dtype=np.int32)
    ).astype(np.int32)
    gray = px.ndim == 2
    h, w = px.shape[:2]
    if gray:
        planes = [px.astype(np.float64)]
        samp = [(1, 1)]
    else:
        rgb = px.astype(np.float64)
        y = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
        cb = -0.168736 * rgb[..., 0] - 0.331264 * rgb[..., 1] + 0.5 * rgb[..., 2] + 128.0
        cr = 0.5 * rgb[..., 0] - 0.418688 * rgb[..., 1] - 0.081312 * rgb[..., 2] + 128.0
        if subsample:  # 4:2:0 — 2x2 mean; pad odd dims by edge replicate
            cbp = np.pad(cb, ((0, h % 2), (0, w % 2)), mode="edge")
            crp = np.pad(cr, ((0, h % 2), (0, w % 2)), mode="edge")
            cb = cbp.reshape(cbp.shape[0] // 2, 2, cbp.shape[1] // 2, 2).mean((1, 3))
            cr = crp.reshape(crp.shape[0] // 2, 2, crp.shape[1] // 2, 2).mean((1, 3))
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            samp = [(1, 1), (1, 1), (1, 1)]
        planes = [y, cb, cr]
    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(
        int(v) for v in q
    )
    nc = len(planes)
    out += (
        b"\xff\xc0"
        + struct.pack(">H", 8 + 3 * nc)
        + struct.pack(">BHHB", 8, h, w, nc)
    )
    for ci in range(nc):
        out += bytes([ci + 1, (samp[ci][0] << 4) | samp[ci][1], 0])
    out += _dht(0, 0, _DC_SYMS) + _dht(1, 0, _AC_SYMS)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">H", 6 + 2 * nc) + bytes([nc])
    for ci in range(nc):
        out += bytes([ci + 1, 0x00])
    out += b"\x00\x3f\x00"
    # MCU-interleaved entropy coding
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    blocks = [_plane_blocks(planes[ci], q) for ci in range(nc)]
    wtr = _BitWriter()
    preds = [0] * nc
    rst = 0
    for mcu in range(mcus_x * mcus_y):
        if restart_interval and mcu and mcu % restart_interval == 0:
            out += wtr.flush()
            out += bytes([0xFF, 0xD0 + (rst % 8)])
            rst += 1
            wtr = _BitWriter()
            preds = [0] * nc
        my, mx = divmod(mcu, mcus_x)
        for ci in range(nc):
            sh, sv = samp[ci]
            for by in range(sv):
                for bx in range(sh):
                    zz = blocks[ci][my * sv + by][mx * sh + bx]
                    preds[ci] = _encode_block(wtr, zz, preds[ci])
    out += wtr.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _gradient(h, w):
    yy, xx = np.mgrid[0:h, 0:w]
    return ((yy * 3 + xx * 5) % 256).astype(np.uint8)


def test_gray_roundtrip_unit_quant():
    from fund_data_etl_pipeline_spark.operators.jpeg_codec import decode_jpeg

    img = _gradient(16, 24)
    w, h, ch, px = decode_jpeg(encode_jpeg(img))
    assert (w, h, ch) == (24, 16, 1)
    err = np.abs(px[:, :, 0].astype(float) - img.astype(float))
    # unit quant: only coefficient-rounding loss (<=0.5/coeff)
    assert err.max() <= 4 and err.mean() <= 1.0


def test_rgb_444_roundtrip():
    from fund_data_etl_pipeline_spark.operators.jpeg_codec import decode_jpeg

    rng = np.random.default_rng(3)
    base = rng.integers(40, 216, size=(17, 21, 3))  # avoid clamp edges
    img = base.astype(np.uint8)
    w, h, ch, px = decode_jpeg(encode_jpeg(img))
    assert (w, h, ch) == (21, 17, 3)
    err = np.abs(px.astype(float) - img.astype(float))
    # color transform + rounding both ways: still tightly bounded
    assert err.max() <= 12 and err.mean() <= 2.5


def test_rgb_420_subsampled_roundtrip():
    from fund_data_etl_pipeline_spark.operators.jpeg_codec import decode_jpeg

    # chroma constant per 2x2 block -> subsampling loses nothing
    img = np.zeros((16, 16, 3), dtype=np.uint8)
    img[..., 0] = _gradient(16, 16)
    img[..., 1] = _gradient(16, 16)
    img[..., 2] = _gradient(16, 16)  # gray in RGB: chroma ~ flat 128
    w, h, ch, px = decode_jpeg(encode_jpeg(img, subsample=True))
    assert (w, h, ch) == (16, 16, 3)
    err = np.abs(px.astype(float) - img.astype(float))
    assert err.max() <= 8 and err.mean() <= 2.0


def test_restart_markers_equal_unrestarted():
    from fund_data_etl_pipeline_spark.operators.jpeg_codec import decode_jpeg

    img = _gradient(16, 40)  # 2x5 MCUs
    plain = decode_jpeg(encode_jpeg(img))[3]
    rst = decode_jpeg(encode_jpeg(img, restart_interval=2))[3]
    assert np.array_equal(plain, rst)


def test_quantized_dc_only_block_exact():
    from fund_data_etl_pipeline_spark.operators.jpeg_codec import decode_jpeg

    # constant 8x8 image with a coarse quant table: DC survives exactly
    # to within quantizer rounding, every AC is zero
    q = np.full(64, 16, dtype=np.int32)
    img = np.full((8, 8), 200, dtype=np.uint8)
    _w, _h, _c, px = decode_jpeg(encode_jpeg(img, quant=q))
    # DC = (200-128)*8 = 576 -> round(576/16)*16 = 576 exact -> 200 back
    assert np.array_equal(px[:, :, 0], img)


def test_named_error_hierarchical():
    from fund_data_etl_pipeline_spark.operators.jpeg_codec import decode_jpeg

    blob = encode_jpeg(_gradient(8, 8))
    # rewrite SOF0 to SOF5 (differential/hierarchical) — a named error
    # (SOF3 lossless DECODES now — see the test_lossless_* suite)
    i = blob.index(b"\xff\xc0")
    bad = blob[:i] + b"\xff\xc5" + blob[i + 2 :]
    with pytest.raises(ValueError, match="SOF5"):
        decode_jpeg(bad)


def test_named_error_truncated_entropy():
    from fund_data_etl_pipeline_spark.operators.jpeg_codec import decode_jpeg

    blob = encode_jpeg(_gradient(16, 16))
    with pytest.raises(ValueError):
        decode_jpeg(blob[: len(blob) // 2])


# --- progressive (SOF2) encoder + tests -----------------------------------
# Forward direction of G.1.2: DC first/refine, AC first with EOB runs,
# AC successive-approximation refinement with buffered correction bits.
# All Huffman codes stay length 8 (the _dht trick); the AC table gains
# the EOBn symbols (r<<4 for r=1..14) progressive scans need.

_AC_SYMS_PROG = _AC_SYMS + [r << 4 for r in range(1, 15)]


def _prog_sos(comps_spec, ss, se, ah, al) -> bytes:
    seg = struct.pack(">H", 6 + 2 * len(comps_spec)) + bytes(
        [len(comps_spec)]
    )
    for cid, dt, at in comps_spec:
        seg += bytes([cid, (dt << 4) | at])
    seg += bytes([ss, se, (ah << 4) | al])
    return b"\xff\xda" + seg


def _emit_eobrun_first(w, st):
    e = st["eobrun"]
    if e:
        r = e.bit_length() - 1
        c, n = _code(_AC_SYMS_PROG, r << 4)
        w.write(c, n)
        if r:
            w.write(e - (1 << r), r)
        st["eobrun"] = 0


def _enc_ac_first(w, st, zz, ss, se, al):
    vals = [
        (abs(zz[k]) >> al) * (1 if zz[k] >= 0 else -1)
        for k in range(ss, se + 1)
    ]
    nz = [i for i, v in enumerate(vals) if v]
    if not nz:
        st["eobrun"] += 1
        if st["eobrun"] == 0x7FFF:
            _emit_eobrun_first(w, st)
        return
    _emit_eobrun_first(w, st)
    run = 0
    for i in range(nz[-1] + 1):
        v = vals[i]
        if v == 0:
            run += 1
            continue
        while run > 15:
            c, n = _code(_AC_SYMS_PROG, 0xF0)
            w.write(c, n)
            run -= 16
        t, bits = _cat(v)
        c, n = _code(_AC_SYMS_PROG, (run << 4) | t)
        w.write(c, n)
        w.write(bits, t)
        run = 0
    if nz[-1] < len(vals) - 1:
        st["eobrun"] += 1
        if st["eobrun"] == 0x7FFF:
            _emit_eobrun_first(w, st)


def _emit_eobrun_refine(w, st):
    e = st["eobrun"]
    if e:
        r = e.bit_length() - 1
        c, n = _code(_AC_SYMS_PROG, r << 4)
        w.write(c, n)
        if r:
            w.write(e - (1 << r), r)
        st["eobrun"] = 0
        for bit in st["be"]:
            w.write(bit, 1)
        st["be"] = []


def _enc_ac_refine(w, st, zz, ss, se, al):
    vals = [zz[k] for k in range(ss, se + 1)]
    abs_t = [abs(v) >> al for v in vals]
    eob = -1
    for i, t in enumerate(abs_t):
        if t == 1:
            eob = i
    r = 0
    br: list[int] = []
    for i, t in enumerate(abs_t):
        if t == 0:
            r += 1
            continue
        while r > 15 and i <= eob:
            _emit_eobrun_refine(w, st)
            c, n = _code(_AC_SYMS_PROG, 0xF0)
            w.write(c, n)
            r -= 16
            for bit in br:
                w.write(bit, 1)
            br = []
        if t > 1:  # history-nonzero: buffer its correction bit
            br.append(t & 1)
            continue
        # t == 1: newly visible coefficient
        _emit_eobrun_refine(w, st)
        c, n = _code(_AC_SYMS_PROG, (r << 4) | 1)
        w.write(c, n)
        w.write(1 if vals[i] >= 0 else 0, 1)
        for bit in br:
            w.write(bit, 1)
        br = []
        r = 0
    if r > 0 or br:
        st["eobrun"] += 1
        st["be"].extend(br)
        if st["eobrun"] == 0x7FFF:
            _emit_eobrun_refine(w, st)


def encode_jpeg_progressive(
    px: np.ndarray,
    quant: np.ndarray | None = None,
    spectral_split: bool = False,
) -> bytes:
    """Progressive JFIF encoder (4:4:4 / grayscale): DC first (Al=1) ->
    AC first per component (Al=1, optionally two spectral bands) -> DC
    refine -> AC refine per component (Al=0)."""
    q = (
        quant if quant is not None else np.ones(64, dtype=np.int32)
    ).astype(np.int32)
    gray = px.ndim == 2
    h, w = px.shape[:2]
    if gray:
        planes = [px.astype(np.float64)]
    else:
        rgb = px.astype(np.float64)
        y = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
        cb = (
            -0.168736 * rgb[..., 0] - 0.331264 * rgb[..., 1]
            + 0.5 * rgb[..., 2] + 128.0
        )
        cr = (
            0.5 * rgb[..., 0] - 0.418688 * rgb[..., 1]
            - 0.081312 * rgb[..., 2] + 128.0
        )
        planes = [y, cb, cr]
    nc = len(planes)
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(
        int(v) for v in q
    )
    out += (
        b"\xff\xc2"  # SOF2
        + struct.pack(">H", 8 + 3 * nc)
        + struct.pack(">BHHB", 8, h, w, nc)
    )
    for ci in range(nc):
        out += bytes([ci + 1, 0x11, 0])  # 4:4:4
    out += _dht(0, 0, _DC_SYMS) + _dht(1, 0, _AC_SYMS_PROG)
    blocks = [_plane_blocks(planes[ci], q) for ci in range(nc)]
    bh = len(blocks[0])
    bw = len(blocks[0][0])

    def raster(ci):
        for by in range(bh):
            for bx in range(bw):
                yield blocks[ci][by][bx]

    # scan 1: interleaved DC first, Al=1 (arithmetic-shift transform)
    out += _prog_sos([(ci + 1, 0, 0) for ci in range(nc)], 0, 0, 0, 1)
    wtr = _BitWriter()
    preds = [0] * nc
    for by in range(bh):
        for bx in range(bw):
            for ci in range(nc):
                dcv = blocks[ci][by][bx][0] >> 1
                t, bits = _cat(dcv - preds[ci])
                preds[ci] = dcv
                c, n = _code(_DC_SYMS, t)
                wtr.write(c, n)
                wtr.write(bits, t)
    out += wtr.flush()
    # scans 2..: per-component AC first, Al=1
    bands = [(1, 5), (6, 63)] if spectral_split else [(1, 63)]
    for ci in range(nc):
        for bs, be_ in bands:
            out += _prog_sos([(ci + 1, 0, 0)], bs, be_, 0, 1)
            wtr = _BitWriter()
            st = {"eobrun": 0}
            for zz in raster(ci):
                _enc_ac_first(wtr, st, zz, bs, be_, 1)
            _emit_eobrun_first(wtr, st)
            out += wtr.flush()
    # DC refine, Al=0: one raw bit per block
    out += _prog_sos([(ci + 1, 0, 0) for ci in range(nc)], 0, 0, 1, 0)
    wtr = _BitWriter()
    for by in range(bh):
        for bx in range(bw):
            for ci in range(nc):
                wtr.write(blocks[ci][by][bx][0] & 1, 1)
    out += wtr.flush()
    # per-component AC refine, Al=0
    for ci in range(nc):
        for bs, be_ in bands:
            out += _prog_sos([(ci + 1, 0, 0)], bs, be_, 1, 0)
            wtr = _BitWriter()
            st = {"eobrun": 0, "be": []}
            for zz in raster(ci):
                _enc_ac_refine(wtr, st, zz, bs, be_, 0)
            _emit_eobrun_refine(wtr, st)
            out += wtr.flush()
    out += b"\xff\xd9"
    return bytes(out)


def test_progressive_matches_baseline_gray():
    from fund_data_etl_pipeline_spark.operators.jpeg_codec import decode_jpeg

    img = _gradient(24, 17)
    base = decode_jpeg(encode_jpeg(img))[3]
    prog = decode_jpeg(encode_jpeg_progressive(img))[3]
    assert np.array_equal(prog, base)


def test_progressive_matches_baseline_rgb():
    from fund_data_etl_pipeline_spark.operators.jpeg_codec import decode_jpeg

    rng = np.random.default_rng(21)
    img = rng.integers(0, 256, size=(16, 24, 3), dtype=np.uint8)
    base = decode_jpeg(encode_jpeg(img))[3]
    prog = decode_jpeg(encode_jpeg_progressive(img))[3]
    assert np.array_equal(prog, base)


def test_progressive_spectral_split_and_smooth():
    # a smooth image maximizes EOB runs; spectral split exercises
    # multi-band AC scans
    from fund_data_etl_pipeline_spark.operators.jpeg_codec import decode_jpeg

    yy, xx = np.mgrid[0:32, 0:40]
    img = np.stack(
        [
            (128 + 60 * np.sin(yy / 9.0)).astype(np.uint8),
            (128 + 60 * np.cos(xx / 11.0)).astype(np.uint8),
            np.full((32, 40), 77, dtype=np.uint8),
        ],
        axis=-1,
    )
    base = decode_jpeg(encode_jpeg(img))[3]
    prog = decode_jpeg(
        encode_jpeg_progressive(img, spectral_split=True)
    )[3]
    assert np.array_equal(prog, base)


def test_sof1_extended_sequential_decodes_identically():
    from fund_data_etl_pipeline_spark.operators.jpeg_codec import decode_jpeg

    blob = encode_jpeg(_gradient(16, 16))
    i = blob.index(b"\xff\xc0")
    ext = blob[:i] + b"\xff\xc1" + blob[i + 2 :]
    assert np.array_equal(decode_jpeg(ext)[3], decode_jpeg(blob)[3])


# --- lossless (SOF3, process 14) --------------------------------------


def encode_jpeg_lossless(
    px: np.ndarray, predictor: int = 4, pt: int = 0
) -> bytes:
    """In-test lossless encoder (T.81 Annex H forward direction):
    point transform, spatial prediction with the H.1 boundary rules,
    modulo-2^16 differences mapped to SSSS categories on a 17-symbol
    canonical Huffman table."""
    gray = px.ndim == 2
    planes = (
        [px.astype(np.int64)]
        if gray
        else [px[:, :, c].astype(np.int64) for c in range(px.shape[2])]
    )
    planes = [p >> pt for p in planes]
    h, w = planes[0].shape
    nc = len(planes)
    # 17 symbols (SSSS 0-16), all length-5 canonical codes: code i = i
    bits = [0] * 16
    bits[4] = 17
    values = bytes(range(17))
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xc4" + struct.pack(">H", 3 + 16 + 17) + b"\x00"
    out += bytes(bits) + values
    out += b"\xff\xc3" + struct.pack(">H", 8 + 3 * nc)
    out += struct.pack(">BHHB", 8, h, w, nc)
    for c in range(nc):
        out += bytes([c + 1, 0x11, 0])
    out += b"\xff\xda" + struct.pack(">H", 6 + 2 * nc) + bytes([nc])
    for c in range(nc):
        out += bytes([c + 1, 0x00])
    out += bytes([predictor, 0, pt])
    bw = _BitWriter()
    default = 1 << (8 - pt - 1)
    for y in range(h):
        for x in range(w):
            for p in planes:
                if y == 0 and x == 0:
                    pred = default
                elif y == 0:
                    pred = p[0, x - 1]
                elif x == 0:
                    pred = p[y - 1, 0]
                else:
                    ra, rb, rc = (
                        int(p[y, x - 1]),
                        int(p[y - 1, x]),
                        int(p[y - 1, x - 1]),
                    )
                    pred = (
                        ra if predictor == 1
                        else rb if predictor == 2
                        else rc if predictor == 3
                        else ra + rb - rc if predictor == 4
                        else ra + ((rb - rc) >> 1) if predictor == 5
                        else rb + ((ra - rc) >> 1) if predictor == 6
                        else (ra + rb) >> 1
                    )
                d = (int(p[y, x]) - int(pred)) & 0xFFFF
                if d > 32768:
                    d -= 65536
                if d == 32768:
                    bw.write(16, 5)  # category 16: no appended bits
                    continue
                ssss = abs(d).bit_length()
                bw.write(ssss, 5)
                if ssss:
                    bw.write(
                        d if d >= 0 else d + (1 << ssss) - 1, ssss
                    )
    out += bw.flush() + b"\xff\xd9"
    return bytes(out)


@pytest.mark.parametrize("predictor", list(range(1, 8)))
def test_lossless_roundtrip_every_predictor(predictor):
    from fund_data_etl_pipeline_spark.operators.jpeg_codec import decode_jpeg

    rng = np.random.RandomState(40 + predictor)
    img = rng.randint(0, 256, (13, 17)).astype(np.uint8)
    w, h, c, out = decode_jpeg(encode_jpeg_lossless(img, predictor))
    assert (w, h, c) == (17, 13, 1)
    assert np.array_equal(out[:, :, 0], img)  # LOSSLESS: bit-exact


def test_lossless_rgb_and_point_transform():
    from fund_data_etl_pipeline_spark.operators.jpeg_codec import decode_jpeg

    rng = np.random.RandomState(50)
    img = rng.randint(0, 256, (9, 11, 3)).astype(np.uint8)
    w, h, c, out = decode_jpeg(encode_jpeg_lossless(img, 4))
    assert (w, h, c) == (11, 9, 3)
    assert np.array_equal(out, img)
    # point transform pt=2 drops the 2 low bits, restored as zeros
    _, _, _, out2 = decode_jpeg(encode_jpeg_lossless(img, 1, pt=2))
    assert np.array_equal(out2, (img >> 2) << 2)


def test_lossless_named_errors():
    from fund_data_etl_pipeline_spark.operators.jpeg_codec import decode_jpeg

    rng = np.random.RandomState(51)
    img = rng.randint(0, 256, (6, 6)).astype(np.uint8)
    blob = encode_jpeg_lossless(img)
    # subsampled SOF3 components are out of scope
    bad = blob.replace(bytes([1, 0x11, 0]), bytes([1, 0x22, 0]), 1)
    with pytest.raises(ValueError, match="subsampled lossless"):
        decode_jpeg(bad)
    # restart markers in a lossless scan are out of scope
    dri = b"\xff\xdd" + struct.pack(">HH", 4, 2)
    with_dri = blob[:2] + dri + blob[2:]
    with pytest.raises(ValueError, match="restart"):
        decode_jpeg(with_dri)
