"""Baseline JPEG decoder (functions/jpeg.py) against a hand-rolled
spec-valid ENCODER built from independent pieces: naive T.81 double-loop
DCT (the decoder uses a basis matmul), a separate bit writer with FF
stuffing, fixed-length canonical Huffman tables the decoder has to
reconstruct from DHT, and explicit MCU interleaving for 4:4:4 / 4:2:0
and restart intervals."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from dedupe_spark.functions.codecs import (
    CodecError,
    UnsupportedCodecFeature,
    image_features,
)
from dedupe_spark.functions.jpeg import ZIGZAG, decode_jpeg

# ---------------------------------------------------------------------------
# encoder building blocks (deliberately NOT sharing code with the decoder)
# ---------------------------------------------------------------------------


def _fdct_naive(block: np.ndarray) -> np.ndarray:
    """T.81 A.3.3 forward DCT, straight from the formula (O(N^4))."""
    out = np.zeros((8, 8))
    for v in range(8):
        for u in range(8):
            cu = 1 / np.sqrt(2) if u == 0 else 1.0
            cv = 1 / np.sqrt(2) if v == 0 else 1.0
            s = 0.0
            for y in range(8):
                for x in range(8):
                    s += (
                        block[y, x]
                        * np.cos((2 * x + 1) * u * np.pi / 16)
                        * np.cos((2 * y + 1) * v * np.pi / 16)
                    )
            out[v, u] = 0.25 * cu * cv * s
    return out


def _idct_naive(coef: np.ndarray) -> np.ndarray:
    out = np.zeros((8, 8))
    for y in range(8):
        for x in range(8):
            s = 0.0
            for v in range(8):
                for u in range(8):
                    cu = 1 / np.sqrt(2) if u == 0 else 1.0
                    cv = 1 / np.sqrt(2) if v == 0 else 1.0
                    s += (
                        cu * cv * coef[v, u]
                        * np.cos((2 * x + 1) * u * np.pi / 16)
                        * np.cos((2 * y + 1) * v * np.pi / 16)
                    )
            out[y, x] = s / 4.0
    return out


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # stuffing
                self.acc = 0
                self.n = 0

    def align(self) -> None:
        while self.n:
            self.put(1, 1)


# fixed-length canonical tables: DC sizes 0..11 at 4 bits; AC symbols
# (EOB, ZRL and every (run,size)) at 10 bits
_DC_SYMS = list(range(12))
_AC_SYMS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]


def _dht(tc: int, th: int, syms: list[int], length: int) -> bytes:
    counts = [0] * 16
    counts[length - 1] = len(syms)
    return (
        b"\xff\xc4"
        + struct.pack(">H", 2 + 1 + 16 + len(syms))
        + bytes([tc << 4 | th])
        + bytes(counts)
        + bytes(syms)
    )


_DC_CODE = {s: (i, 4) for i, s in enumerate(_DC_SYMS)}
_AC_CODE = {s: (i, 10) for i, s in enumerate(_AC_SYMS)}


def _size(v: int) -> int:
    return int(abs(v)).bit_length()


def _put_coef(bw: _BitWriter, v: int, s: int) -> None:
    bw.put(v if v >= 0 else v + (1 << s) - 1, s)


def _encode_block(bw: _BitWriter, block: np.ndarray, q: np.ndarray, pred: int) -> int:
    coef = np.round(_fdct_naive(block.astype(float) - 128.0) / q).astype(int)
    zz = coef.ravel()[ZIGZAG]
    dc = int(zz[0])
    diff = dc - pred
    s = _size(diff)
    bw.put(*_DC_CODE[s])
    _put_coef(bw, diff, s)
    run = 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            bw.put(*_AC_CODE[0xF0])
            run -= 16
        s = _size(v)
        bw.put(*_AC_CODE[(run << 4) | s])
        _put_coef(bw, v, s)
        run = 0
    if run:
        bw.put(*_AC_CODE[0x00])
    return dc


def _pad_to(plane: np.ndarray, bh: int, bw_: int) -> np.ndarray:
    h, w = plane.shape
    return np.pad(plane, ((0, bh - h), (0, bw_ - w)), mode="edge")


def encode_jpeg(
    px: np.ndarray,
    q_lum: int = 1,
    q_chr: int = 1,
    subsample: bool = False,
    restart: int = 0,
) -> bytes:
    """Spec-valid baseline JPEG: grayscale (h,w) or RGB (h,w,3);
    4:4:4 or (subsample=True) 4:2:0; optional DRI restart interval."""
    gray = px.ndim == 2
    h, w = px.shape[:2]
    qy = np.full((8, 8), q_lum, float)
    qc = np.full((8, 8), q_chr, float)
    out = bytearray(b"\xff\xd8")
    for tq, q in ((0, qy),) if gray else ((0, qy), (1, qc)):
        zz = q.ravel()[ZIGZAG].astype(int)
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tq]) + bytes(
            int(v) for v in zz
        )
    if gray:
        comps = [(1, 1, 1, 0)]
        planes = [px.astype(float)]
    else:
        rgb = px.astype(float)
        y = 0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2]
        cb = 128.0 - 0.168736 * rgb[:, :, 0] - 0.331264 * rgb[:, :, 1] + 0.5 * rgb[:, :, 2]
        cr = 128.0 + 0.5 * rgb[:, :, 0] - 0.418688 * rgb[:, :, 1] - 0.081312 * rgb[:, :, 2]
        if subsample:
            ph = -(-h // 2) * 2
            pw = -(-w // 2) * 2
            cb = _pad_to(cb, ph, pw).reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
            cr = _pad_to(cr, ph, pw).reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
            comps = [(1, 2, 2, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
        else:
            comps = [(1, 1, 1, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
        planes = [y, cb, cr]
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * len(comps), 8, h, w, len(comps))
    for cid, ch, cv, tq in comps:
        out += bytes([cid, ch << 4 | cv, tq])
    out += _dht(0, 0, _DC_SYMS, 4) + _dht(1, 0, _AC_SYMS, 10)
    if not gray:
        out += _dht(0, 1, _DC_SYMS, 4) + _dht(1, 1, _AC_SYMS, 10)
    if restart:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * len(comps), len(comps))
    for cid, ch, cv, tq in comps:
        out += bytes([cid, (tq << 4) | tq])  # DC/AC table = component's th
    out += b"\x00\x3f\x00"

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    padded = []
    for (cid, ch, cv, tq), pl in zip(comps, planes):
        padded.append(_pad_to(pl, mcuy * cv * 8, mcux * ch * 8))
    bw = _BitWriter()
    preds = [0] * len(comps)
    qts = [qy if c[3] == 0 else qc for c in comps]
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            n = my * mcux + mx
            if restart and n and n % restart == 0:
                bw.align()
                bw.out += bytes([0xFF, 0xD0 + (rst & 7)])
                rst += 1
                preds = [0] * len(comps)
            for ci, (cid, ch, cv, tq) in enumerate(comps):
                for by in range(cv):
                    for bx in range(ch):
                        y0, x0 = (my * cv + by) * 8, (mx * ch + bx) * 8
                        preds[ci] = _encode_block(
                            bw, padded[ci][y0 : y0 + 8, x0 : x0 + 8], qts[ci], preds[ci]
                        )
    bw.align()
    out += bw.out + b"\xff\xd9"
    return bytes(out)


def _expected_plane(plane: np.ndarray, q: float, bh: int, bw_: int) -> np.ndarray:
    """Independent quant-roundtrip oracle: naive FDCT -> round/q -> *q ->
    naive IDCT (+128)."""
    p = _pad_to(plane.astype(float), bh, bw_)
    out = np.zeros_like(p)
    for y0 in range(0, bh, 8):
        for x0 in range(0, bw_, 8):
            c = np.round(_fdct_naive(p[y0 : y0 + 8, x0 : x0 + 8] - 128.0) / q) * q
            out[y0 : y0 + 8, x0 : x0 + 8] = _idct_naive(c) + 128.0
    return out


# ---------------------------------------------------------------------------
# tests
# ---------------------------------------------------------------------------


def _test_image(h: int, w: int) -> np.ndarray:
    yy, xx = np.mgrid[0:h, 0:w]
    r = (xx * 255) // max(w - 1, 1)
    g = (yy * 255) // max(h - 1, 1)
    b = (xx * yy * 7 + 31 * ((xx // 4) % 3)) % 256
    return np.stack([r, g, b], axis=2).astype(np.uint8)


def test_jpeg_flat_gray_is_exact():
    px = np.full((16, 16), 100, np.uint8)
    got = decode_jpeg(encode_jpeg(px, q_lum=1))
    assert got.shape == (16, 16, 1)
    assert np.array_equal(got[:, :, 0], px)


def test_jpeg_gray_roundtrip_matches_independent_oracle():
    rng_free = _test_image(24, 17)[:, :, 2]  # deterministic busy plane
    jp = encode_jpeg(rng_free, q_lum=3)
    got = decode_jpeg(jp)[:, :, 0].astype(float)
    exp = _expected_plane(rng_free, 3.0, 24, 24)[:24, :17]
    assert np.max(np.abs(got - np.clip(np.round(exp), 0, 255))) <= 1.0


def test_jpeg_color_444_roundtrip():
    px = _test_image(16, 16)
    got = decode_jpeg(encode_jpeg(px, q_lum=1, q_chr=1)).astype(int)
    # q=1 quant error <= 0.5 per coefficient; after color transform the
    # reconstruction must sit within a few counts of the original
    assert got.shape == (16, 16, 3)
    assert np.max(np.abs(got - px.astype(int))) <= 4


def test_jpeg_420_subsampled_dimensions_and_flat_regions():
    # 4:2:0 with non-multiple-of-16 size exercises padding + upsampling
    px = np.zeros((19, 21, 3), np.uint8)
    px[:, :11] = (200, 40, 40)
    px[:, 11:] = (40, 200, 40)
    got = decode_jpeg(encode_jpeg(px, subsample=True)).astype(int)
    assert got.shape == (19, 21, 3)
    # away from the color edge (chroma blurs it) both halves are faithful
    assert np.max(np.abs(got[:, :8] - [200, 40, 40])) <= 6
    assert np.max(np.abs(got[:, 14:] - [40, 200, 40])) <= 6


def test_jpeg_restart_markers():
    px = _test_image(16, 64)[:, :, 0]
    plain = decode_jpeg(encode_jpeg(px))
    with_rst = decode_jpeg(encode_jpeg(px, restart=2))
    assert np.array_equal(plain, with_rst)
    assert b"\xff\xd0" in encode_jpeg(px, restart=2)


def test_jpeg_ff_stuffing_in_entropy_stream():
    # busy high-contrast plane reliably produces 0xFF entropy bytes
    px = (_test_image(32, 32)[:, :, 2] ^ 0xAA).astype(np.uint8)
    jp = encode_jpeg(px, q_lum=1)
    assert b"\xff\x00" in jp.split(b"\xff\xda")[1]
    got = decode_jpeg(jp)[:, :, 0].astype(float)
    exp = _expected_plane(px, 1.0, 32, 32)
    assert np.max(np.abs(got - np.clip(np.round(exp), 0, 255))) <= 1.0


def test_jpeg_rejects_and_gates():
    px = np.full((8, 8), 7, np.uint8)
    good = encode_jpeg(px)
    with pytest.raises(CodecError):
        decode_jpeg(b"\xff\xd8\xff")
    with pytest.raises(CodecError):
        decode_jpeg(good[:40])
    # flipping SOF0->SOF2 fabricates a MALFORMED progressive file (its
    # single scan is full-band Ss=0..63, illegal for a progressive DC
    # scan) — since r5 progressive is decoded for real, so this is a
    # CodecError, no longer an unsupported-profile gate
    fake_prog = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(CodecError):
        decode_jpeg(fake_prog)
    # genuinely out-of-profile: arithmetic-coded SOF9 still gates
    arith = good.replace(b"\xff\xc0", b"\xff\xc9", 1)
    with pytest.raises(UnsupportedCodecFeature):
        decode_jpeg(arith)


def test_decode_media_features_jpeg_real_fake_error(spark):
    from dedupe_spark.operators.multimodal import decode_media_features

    px = _test_image(16, 16)
    good = encode_jpeg(px)
    progressive = encode_jpeg_progressive(px)
    arith = good.replace(b"\xff\xc0", b"\xff\xc9", 1)  # arithmetic SOF9
    truncated = good[:60]
    df = spark.createDataFrame(
        [
            ("ok", bytearray(good)),
            ("prog", bytearray(progressive)),
            ("arith", bytearray(arith)),
            ("bad", bytearray(truncated)),
        ],
        "media_id string, content binary",
    )
    out = {r["media_id"]: r for r in decode_media_features(df).collect()}
    ok = out["ok"]
    assert ok["decoded"] == "real" and (ok["width"], ok["height"]) == (16, 16)
    assert ok["feature"] == image_features(decode_jpeg(good))
    # progressive decodes for REAL since r5 — same pixels as baseline
    pr = out["prog"]
    assert pr["decoded"] == "real" and (pr["width"], pr["height"]) == (16, 16)
    assert pr["feature"] == image_features(decode_jpeg(progressive))
    assert out["arith"]["decoded"] == "fake"  # valid bytes, unsupported profile
    assert out["bad"]["decoded"] == "error"


# ---------------------------------------------------------------------------
# review-fix regressions
# ---------------------------------------------------------------------------


def test_fuzzed_truncations_raise_codec_error_only():
    """Every truncation point of a valid JPEG must raise CodecError
    (or decode) — never ValueError/IndexError/KeyError, which would
    escape decode_media_features' catch and kill the Spark task."""
    from dedupe_spark.functions.codecs import CodecError

    good = encode_jpeg(_test_image(16, 16))
    for cut in range(2, len(good), 7):
        try:
            decode_jpeg(good[:cut])
        except CodecError:
            pass  # the only acceptable exception type


def test_byte_corruption_raises_codec_error_only():
    from dedupe_spark.functions.codecs import CodecError

    good = bytearray(encode_jpeg(_test_image(16, 16)))
    for pos in range(2, len(good), 11):
        bad = bytearray(good)
        bad[pos] ^= 0xA5
        try:
            decode_jpeg(bytes(bad))
        except CodecError:
            pass


def test_restart_tolerates_ff_fill_bytes():
    """FF FF Dn (fill byte before the restart marker) is spec-legal."""
    good = encode_jpeg(_test_image(24, 24), restart=1)
    # inject an extra 0xFF before every RSTn marker in the scan data
    out = bytearray()
    i = 0
    while i < len(good):
        if (
            good[i] == 0xFF
            and i + 1 < len(good)
            and 0xD0 <= good[i + 1] <= 0xD7
        ):
            out.append(0xFF)
        out.append(good[i])
        i += 1
    px_plain = decode_jpeg(good)
    px_fill = decode_jpeg(bytes(out))
    assert np.array_equal(px_plain, px_fill)


# ---------------------------------------------------------------------------
# progressive encoder (independent of the decoder, like encode_jpeg above):
# spectral selection + successive approximation, libjpeg-style scan script
# ---------------------------------------------------------------------------


def _tshift(v: int, al: int) -> int:
    """T.81 G.1.2.2 AC point transform: truncate toward zero."""
    return (abs(v) >> al) * (1 if v >= 0 else -1)


def _scan_hdr(sel: list[tuple[int, int, int]], ss: int, se: int, ah: int, al: int) -> bytes:
    out = b"\xff\xda" + struct.pack(">HB", 6 + 2 * len(sel), len(sel))
    for cid, td, ta in sel:
        out += bytes([cid, (td << 4) | ta])
    return out + bytes([ss, se, (ah << 4) | al])


def _enc_ac_first(bw: _BitWriter, blocks: list[np.ndarray], ss: int, se: int,
                  al: int, ac_code: dict) -> None:
    for zz in blocks:
        run = 0
        for k in range(ss, se + 1):
            v = _tshift(int(zz[k]), al)
            if v == 0:
                run += 1
                continue
            while run > 15:
                bw.put(*ac_code[0xF0])
                run -= 16
            s = _size(v)
            bw.put(*ac_code[(run << 4) | s])
            _put_coef(bw, v, s)
            run = 0
        if run:
            bw.put(*ac_code[0x00])  # EOB (eobrun = 1)


def _enc_ac_refine(bw: _BitWriter, blocks: list[np.ndarray], ss: int, se: int,
                   al: int, ac_code: dict) -> None:
    """libjpeg encode_mcu_AC_refine shape: (run,1)+sign introduces each
    newly-nonzero coefficient, correction bits for history-nonzero ones
    ride after the next emitted symbol; per-block EOB flushes the tail."""
    for zz in blocks:
        run = 0
        pending: list[int] = []
        for k in range(ss, se + 1):
            v = int(zz[k])
            hist = abs(v) >> (al + 1)
            bit = (abs(v) >> al) & 1
            if hist != 0:
                # flush due ZRLs BEFORE buffering this correction bit: the
                # decoder's ZRL advance consumes correction bits only for
                # history-nonzero coefficients inside the 16-zero span, so
                # a bit buffered past the span would be read as the start
                # of the next Huffman symbol (review-fix: desync repro'd
                # on zigzag pattern {>=16 zeros, hist>=2, newly==1})
                while run > 15:
                    bw.put(*ac_code[0xF0])
                    for p in pending:
                        bw.put(p, 1)
                    pending = []
                    run -= 16
                pending.append(bit)
            elif bit == 0:
                run += 1
            else:  # newly nonzero at this precision
                while run > 15:
                    bw.put(*ac_code[0xF0])
                    for p in pending:
                        bw.put(p, 1)
                    pending = []
                    run -= 16
                bw.put(*ac_code[(run << 4) | 1])
                bw.put(1 if v > 0 else 0, 1)
                for p in pending:
                    bw.put(p, 1)
                pending = []
                run = 0
        if run or pending:
            bw.put(*ac_code[0x00])  # EOB; remaining corrections follow
            for p in pending:
                bw.put(p, 1)


def encode_jpeg_progressive(
    px: np.ndarray,
    q_lum: int = 1,
    q_chr: int = 1,
    subsample: bool = False,
    dc_al: int = 1,
    ac_al: int = 1,
    split: int = 5,
) -> bytes:
    """Spec-valid PROGRESSIVE JPEG of the same image/quant pipeline as
    encode_jpeg: DC first (interleaved, Al=dc_al) -> DC refinements down
    to 0 -> per component AC first for bands [1,split] and [split+1,63]
    at Al=ac_al -> AC refinements down to 0. dc_al=ac_al=0 degenerates
    to spectral-selection-only."""
    gray = px.ndim == 2
    h, w = px.shape[:2]
    qy = np.full((8, 8), q_lum, float)
    qc = np.full((8, 8), q_chr, float)
    out = bytearray(b"\xff\xd8")
    for tq, q in ((0, qy),) if gray else ((0, qy), (1, qc)):
        zzq = q.ravel()[ZIGZAG].astype(int)
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tq]) + bytes(
            int(v) for v in zzq
        )
    if gray:
        comps = [(1, 1, 1, 0)]
        planes = [px.astype(float)]
    else:
        rgb = px.astype(float)
        y = 0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2]
        cb = 128.0 - 0.168736 * rgb[:, :, 0] - 0.331264 * rgb[:, :, 1] + 0.5 * rgb[:, :, 2]
        cr = 128.0 + 0.5 * rgb[:, :, 0] - 0.418688 * rgb[:, :, 1] - 0.081312 * rgb[:, :, 2]
        if subsample:
            ph = -(-h // 2) * 2
            pw = -(-w // 2) * 2
            cb = _pad_to(cb, ph, pw).reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
            cr = _pad_to(cr, ph, pw).reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
            comps = [(1, 2, 2, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
        else:
            comps = [(1, 1, 1, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
        planes = [y, cb, cr]
    out += b"\xff\xc2" + struct.pack(  # SOF2: progressive
        ">HBHHB", 8 + 3 * len(comps), 8, h, w, len(comps)
    )
    for cid, ch, cv, tq in comps:
        out += bytes([cid, ch << 4 | cv, tq])
    out += _dht(0, 0, _DC_SYMS, 4) + _dht(1, 0, _AC_SYMS, 10)
    if not gray:
        out += _dht(0, 1, _DC_SYMS, 4) + _dht(1, 1, _AC_SYMS, 10)

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    qts = [qy if c[3] == 0 else qc for c in comps]
    # full-precision quantized coefficients per comp, zigzag, MCU-padded
    zzc = []
    bdims = []
    for (cid, ch, cv, tq), pl, q in zip(comps, planes, qts):
        padded = _pad_to(pl, mcuy * cv * 8, mcux * ch * 8)
        arr = np.zeros((mcuy * cv, mcux * ch, 64), int)
        for by in range(mcuy * cv):
            for bx in range(mcux * ch):
                c = np.round(
                    _fdct_naive(
                        padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
                    )
                    / q
                ).astype(int)
                arr[by, bx] = c.ravel()[ZIGZAG]
        zzc.append(arr)
        cw = -(-(w * ch) // hmax)
        chh = -(-(h * cv) // vmax)
        bdims.append((-(-cw // 8), -(-chh // 8)))

    def _mcu_blocks(ci):
        _cid, ch, cv, _tq = comps[ci]
        for my in range(mcuy):
            for mx in range(mcux):
                for by in range(cv):
                    for bx in range(ch):
                        yield zzc[ci][my * cv + by, mx * ch + bx]

    def _comp_blocks(ci):
        bw1, bh1 = bdims[ci]
        for byy in range(bh1):
            for bxx in range(bw1):
                yield zzc[ci][byy, bxx]

    # scan 1: DC first, interleaved, Al=dc_al
    sel = [(c[0], 0 if c[3] == 0 else 1, 0) for c in comps]
    out += _scan_hdr(sel, 0, 0, 0, dc_al)
    bw = _BitWriter()
    preds = [0] * len(comps)
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, (cid, ch, cv, tq) in enumerate(comps):
                for by in range(cv):
                    for bx in range(ch):
                        dc = int(zzc[ci][my * cv + by, mx * ch + bx][0]) >> dc_al
                        diff = dc - preds[ci]
                        preds[ci] = dc
                        s = _size(diff)
                        bw.put(*_DC_CODE[s])
                        _put_coef(bw, diff, s)
    bw.align()
    out += bw.out
    # DC refinement scans dc_al-1 .. 0 (one raw bit per block)
    for al in range(dc_al - 1, -1, -1):
        out += _scan_hdr(sel, 0, 0, al + 1, al)
        bw = _BitWriter()
        for my in range(mcuy):
            for mx in range(mcux):
                for ci, (cid, ch, cv, tq) in enumerate(comps):
                    for by in range(cv):
                        for bx in range(ch):
                            v = int(zzc[ci][my * cv + by, mx * ch + bx][0])
                            bw.put((v >> al) & 1, 1)
        bw.align()
        out += bw.out
    # AC scans: per component, two spectral bands
    bands = [(1, split), (split + 1, 63)]
    for ci, (cid, ch, cv, tq) in enumerate(comps):
        ta = 0 if tq == 0 else 1
        for ss, se in bands:
            out += _scan_hdr([(cid, 0, ta)], ss, se, 0, ac_al)
            bw = _BitWriter()
            _enc_ac_first(bw, list(_comp_blocks(ci)), ss, se, ac_al, _AC_CODE)
            bw.align()
            out += bw.out
    for al in range(ac_al - 1, -1, -1):
        for ci, (cid, ch, cv, tq) in enumerate(comps):
            ta = 0 if tq == 0 else 1
            for ss, se in bands:
                out += _scan_hdr([(cid, 0, ta)], ss, se, al + 1, al)
                bw = _BitWriter()
                _enc_ac_refine(bw, list(_comp_blocks(ci)), ss, se, al, _AC_CODE)
                bw.align()
                out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# progressive tests — progressive and baseline encodings carry IDENTICAL
# quantized coefficients, so the decoded pixels must match EXACTLY
# ---------------------------------------------------------------------------


def test_progressive_gray_equals_baseline():
    px = _test_image(24, 17)[:, :, 2]
    base = decode_jpeg(encode_jpeg(px, q_lum=2))
    prog = decode_jpeg(encode_jpeg_progressive(px, q_lum=2))
    assert np.array_equal(base, prog)


def test_progressive_color_444_equals_baseline():
    px = _test_image(16, 16)
    base = decode_jpeg(encode_jpeg(px, q_lum=1, q_chr=1))
    prog = decode_jpeg(encode_jpeg_progressive(px, q_lum=1, q_chr=1))
    assert np.array_equal(base, prog)


def test_progressive_420_odd_dims_equals_baseline():
    px = _test_image(19, 21)
    base = decode_jpeg(encode_jpeg(px, subsample=True))
    prog = decode_jpeg(encode_jpeg_progressive(px, subsample=True))
    assert np.array_equal(base, prog)


def test_progressive_spectral_selection_only():
    """dc_al = ac_al = 0: no successive approximation, pure band split."""
    px = _test_image(24, 24)[:, :, 0]
    base = decode_jpeg(encode_jpeg(px))
    prog = decode_jpeg(
        encode_jpeg_progressive(px, dc_al=0, ac_al=0, split=9)
    )
    assert np.array_equal(base, prog)


def test_progressive_deeper_approximation():
    """Two AC refinement levels (Al=2 -> 1 -> 0) and DC Al=2."""
    px = (_test_image(16, 24)[:, :, 2] ^ 0x5A).astype(np.uint8)
    base = decode_jpeg(encode_jpeg(px, q_lum=2))
    prog = decode_jpeg(
        encode_jpeg_progressive(px, q_lum=2, dc_al=2, ac_al=2)
    )
    assert np.array_equal(base, prog)


def test_progressive_truncation_and_corruption_safety():
    """Same CodecError-only contract as the baseline fuzz tests."""
    good = encode_jpeg_progressive(_test_image(16, 16))
    for cut in range(2, len(good), 23):
        try:
            decode_jpeg(good[:cut])
        except (CodecError, UnsupportedCodecFeature):
            pass
    for pos in range(2, len(good), 37):
        bad = bytearray(good)
        bad[pos] ^= 0xA5
        try:
            decode_jpeg(bytes(bad))
        except (CodecError, UnsupportedCodecFeature):
            pass


def test_progressive_refine_zrl_with_trailing_history_coef():
    """Review-fix regression: AC-refinement pattern {>=16 zigzag zeros,
    then a history-nonzero coefficient (|v|>=2), then a newly-nonzero one
    (|v|==1)} desynced the old test encoder (its ZRL flushed correction
    bits buffered past the 16-zero span). Build gray blocks from explicit
    coefficient choices, keep the ones whose encoder-side quantization
    actually exhibits the pattern, and assert progressive decode equals
    baseline decode exactly."""

    def quantized_zz(px):
        return np.round(_fdct_naive(px.astype(float) - 128.0)).astype(int).ravel()[ZIGZAG]

    def has_pattern(zz, al=1):
        run = 0
        seen_hist_after_run16 = False
        for k in range(1, 64):
            v = int(zz[k])
            hist = abs(v) >> (al + 1)
            bit = (abs(v) >> al) & 1
            if hist != 0:
                if run > 15:
                    seen_hist_after_run16 = True
            elif bit == 0:
                run += 1
            else:
                if seen_hist_after_run16:
                    return True
                run = 0
                seen_hist_after_run16 = False
        return False

    # pixel rounding scatters +-1 coefficients, which destroy exact-zero
    # runs at al=0 but still count as zero-history at the al=1 refinement
    # pass (|v| <= 1) — so the pattern is planted one approximation level
    # up: hist needs |v| >= 4, newly-nonzero |v| in {2,3}, ac_al=2 gives
    # the encoder an Ah=2->Al=1 refinement scan that hits it
    found = 0
    for dc in (0, 16, 40):
        for hi_amp in (8, 12, 16):
            coef = np.zeros(64)
            coef[0] = dc
            coef[ZIGZAG[26]] = hi_amp
            coef[ZIGZAG[27]] = 2
            px = np.clip(
                np.round(_idct_naive(coef.reshape(8, 8)) + 128.0), 0, 255
            ).astype(np.uint8)
            if not has_pattern(quantized_zz(px)):
                continue
            found += 1
            base = decode_jpeg(encode_jpeg(px, q_lum=1))
            prog = decode_jpeg(
                encode_jpeg_progressive(px, q_lum=1, dc_al=2, ac_al=2)
            )
            assert np.array_equal(base, prog)
    assert found >= 1, "no candidate image exhibited the regression pattern"


def test_missing_eoi_after_scan_data_decodes():
    """A file cut just before its trailing FFD9 decodes as if the end of
    the buffer were the EOI marker."""
    px = _test_image(19, 21)
    for full in (
        encode_jpeg(px, subsample=True),
        encode_jpeg(px, restart=2),
        encode_jpeg_progressive(px),
    ):
        assert full.endswith(b"\xff\xd9")
        assert np.array_equal(decode_jpeg(full[:-2]), decode_jpeg(full))
