"""Pure-python/numpy JPEG decoder (ITU-T T.81, Huffman, 8-bit):
BASELINE/extended sequential (SOF0/1, single- or multi-scan) AND
PROGRESSIVE (SOF2 — spectral selection + successive approximation, DC
and AC refinement scans, EOB runs). Marker parse, canonical Huffman
decode with byte destuffing and restart markers, per-component
coefficient accumulation across scans, dequant + zigzag, exact float
IDCT via the 8x8 DCT-basis einsum, chroma upsampling and JFIF
YCbCr->RGB.

Kept in its own module (not codecs.py) because it is an order of
magnitude more code than the container decoders; same contract —
:class:`~dedupe_spark.functions.codecs.CodecError` on anything
malformed, ``UnsupportedCodecFeature`` on valid out-of-profile files
(arithmetic coding, 12-bit precision, lossless and hierarchical modes
raise, never misdecode). Performance note: the Huffman bit loop is
Python-speed — fine for the mapInPandas feature path on
thumbnails/test fixtures; a production cluster swaps in libjpeg-turbo
via PIL with the same Spark plumbing (see operators/multimodal.py).
"""

from __future__ import annotations

import struct

import numpy as np

from .codecs import CodecError, UnsupportedCodecFeature

__all__ = ["decode_jpeg"]

# zigzag scan order: ZIGZAG[i] = natural (row-major) index of the i-th
# coefficient in scan order
ZIGZAG = np.array(
    [
        0,  1,  8, 16,  9,  2,  3, 10,
       17, 24, 32, 25, 18, 11,  4,  5,
       12, 19, 26, 33, 40, 48, 41, 34,
       27, 20, 13,  6,  7, 14, 21, 28,
       35, 42, 49, 56, 57, 50, 43, 36,
       29, 22, 15, 23, 30, 37, 44, 51,
       58, 59, 52, 45, 38, 31, 39, 46,
       53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# 8-point DCT-II basis: A[u, x] = c(u)/2 * cos((2x+1) u pi / 16);
# spatial = A.T @ coeffs @ A  (the exact float IDCT, no integer approx)
_A = np.zeros((8, 8))
for _u in range(8):
    _c = (0.5 / np.sqrt(2.0)) if _u == 0 else 0.5
    for _x in range(8):
        _A[_u, _x] = _c * np.cos((2 * _x + 1) * _u * np.pi / 16)


def _idct2(block: np.ndarray) -> np.ndarray:
    return _A.T @ block @ _A


class _Huffman:
    """Canonical Huffman table from the DHT (counts-per-length, symbols)
    wire format; decode is a (length, code)-keyed dict walk."""

    def __init__(self, counts: bytes, symbols: bytes):
        if len(counts) != 16 or len(symbols) != sum(counts):
            raise CodecError("malformed DHT")
        self.lut: dict[tuple[int, int], int] = {}
        code = 0
        k = 0
        for ln in range(1, 17):
            for _ in range(counts[ln - 1]):
                self.lut[(ln, code)] = symbols[k]
                code += 1
                k += 1
            code <<= 1


class _BitReader:
    """Entropy-segment bit reader: 0xFF00 destuffing, stops at markers;
    RST alignment is handled by the caller via :meth:`restart`."""

    def __init__(self, b: bytes, pos: int):
        self.b = b
        self.pos = pos
        self.buf = 0
        self.n = 0

    def _fill(self) -> None:
        b = self.b
        while self.n <= 24:
            if self.pos >= len(b):
                if self.n:  # the last bytes of a file without EOI
                    return
                raise CodecError("truncated JPEG entropy data")
            byte = b[self.pos]
            if byte == 0xFF:
                nxt = b[self.pos + 1] if self.pos + 1 < len(b) else None
                if nxt == 0x00:  # stuffed literal FF
                    self.pos += 2
                elif nxt is None:
                    raise CodecError("truncated JPEG entropy data")
                else:  # a real marker: pad with zero bits (spec behaviour)
                    self.buf = (self.buf << 8) & 0xFFFFFFFF
                    self.n += 8
                    continue
                byte = 0xFF
            else:
                self.pos += 1
            self.buf = ((self.buf << 8) | byte) & 0xFFFFFFFF
            self.n += 8

    def bit(self) -> int:
        if self.n == 0:
            self._fill()
        self.n -= 1
        return (self.buf >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def huff(self, table: _Huffman) -> int:
        code = 0
        for ln in range(1, 17):
            code = (code << 1) | self.bit()
            sym = table.lut.get((ln, code))
            if sym is not None:
                return sym
        raise CodecError("invalid JPEG Huffman code")

    def restart(self, idx: int) -> None:
        """Byte-align and consume the expected RSTn marker."""
        self.buf = 0
        self.n = 0
        b = self.b
        # skip to the marker (tolerate fill bytes, incl. runs of 0xFF:
        # T.81 B.1.1.2 allows any number of FF fill bytes before a marker)
        while self.pos + 1 < len(b) and not (
            b[self.pos] == 0xFF
            and b[self.pos + 1] != 0x00
            and b[self.pos + 1] != 0xFF
        ):
            self.pos += 1
        if self.pos + 1 >= len(b):
            raise CodecError("missing JPEG restart marker")
        m = b[self.pos + 1]
        if m != 0xD0 + (idx & 7):
            raise CodecError(f"unexpected marker 0x{m:02x} at restart")
        self.pos += 2


def _extend(v: int, s: int) -> int:
    """T.81 EXTEND: map an s-bit magnitude to its signed value."""
    return v if s == 0 or v >= (1 << (s - 1)) else v - (1 << s) + 1


def decode_jpeg(b: bytes) -> np.ndarray:
    """Error contract: malformed/truncated bytes raise CodecError, valid
    out-of-profile files raise UnsupportedCodecFeature — NEVER a bare
    ValueError/IndexError/KeyError (decode_media_features catches only
    the codec types; anything else would kill the whole Spark task)."""
    try:
        return _decode_jpeg_inner(b)
    except CodecError:
        raise
    except (ValueError, IndexError, KeyError, OverflowError) as e:
        raise CodecError(f"malformed JPEG: {e}") from e


def _parse_sof(seg: bytes, m: int):
    prec, h, w, nc = seg[0], *struct.unpack(">HH", seg[1:5]), seg[5]
    if prec != 8:
        raise UnsupportedCodecFeature("only 8-bit JPEG supported")
    if nc not in (1, 3):
        raise CodecError(f"unsupported component count {nc}")
    comps = []
    for i in range(nc):
        cid, hv, tq = seg[6 + 3 * i : 9 + 3 * i]
        comps.append((cid, hv >> 4, hv & 15, tq))
    if h <= 0 or w <= 0 or h * w > 64_000_000:
        raise CodecError("implausible JPEG dimensions")
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if hmax < 1 or vmax < 1 or hmax > 4 or vmax > 4:
        raise CodecError("bad JPEG sampling factors")
    for _cid, c_h, c_v, _tq in comps:
        if c_h < 1 or c_v < 1 or hmax % c_h or vmax % c_v:
            # legal per T.81 but the integer-repeat upsampler can't
            # reproduce it -> deterministic-fake path, not a crash
            raise UnsupportedCodecFeature(
                f"non-divisor JPEG sampling {c_h}x{c_v} vs {hmax}x{vmax}"
            )
    return h, w, comps, m == 0xC2


def _decode_scan(
    b: bytes,
    seg: bytes,
    data_pos: int,
    frame: dict,
    hts: dict,
    restart_interval: int,
) -> int:
    """Decode one entropy-coded scan into the frame's per-component
    coefficient arrays (zigzag order, int32). Handles interleaved and
    non-interleaved scans, baseline full-band and progressive partial
    bands (DC/AC first + refinement, EOB runs, restart markers).
    Returns the byte position of the next marker's 0xFF."""
    comps = frame["comps"]
    progressive = frame["progressive"]
    ns = seg[0]
    if len(seg) != 1 + 2 * ns + 3 or not 1 <= ns <= len(comps):
        raise CodecError("bad SOS header")
    by_cid = {c[0]: i for i, c in enumerate(comps)}
    scomps = []
    for i in range(ns):
        cs, tt = seg[1 + 2 * i], seg[2 + 2 * i]
        if cs not in by_cid:
            raise CodecError("scan/frame component mismatch")
        scomps.append((by_cid[cs], tt >> 4, tt & 15))
    ss, se, aa = seg[1 + 2 * ns : 4 + 2 * ns]
    ah, al = aa >> 4, aa & 15
    if progressive:
        if ss == 0:
            if se != 0:
                raise CodecError("progressive DC scan must have Se=0")
        else:
            if ns != 1 or not ss <= se <= 63:
                raise CodecError("bad progressive AC scan band")
        if al > 13 or ah > 13 or (ah and ah != al + 1):
            raise CodecError("bad successive-approximation bits")
    else:
        if ss != 0 or se != 63 or ah or al:
            raise CodecError("bad sequential scan header")

    # per-scan Huffman tables (DC refinement scans need none)
    hdc = [hts.get((0, td)) for _ci, td, _ta in scomps]
    hac = [hts.get((1, ta)) for _ci, _td, ta in scomps]
    dc_scan = ss == 0
    ac_scan = (not dc_scan) or not progressive
    for si in range(ns):
        if dc_scan and ah == 0 and hdc[si] is None:
            raise CodecError("JPEG references missing Huffman table")
        if ac_scan and hac[si] is None:
            raise CodecError("JPEG references missing Huffman table")

    # scan unit list: interleaved -> MCUs over the frame grid;
    # non-interleaved -> the single component's own (non-padded) blocks
    coefs = frame["coefs"]
    if ns > 1:
        units = frame["mcux"] * frame["mcuy"]
    else:
        ci = scomps[0][0]
        bw1, bh1 = frame["bdims"][ci]
        units = bw1 * bh1

    r = _BitReader(b, data_pos)
    preds = [0] * ns
    eobrun = 0
    rst = 0
    p1, m1 = 1 << al, -1 << al

    def _block(si: int, blk) -> None:
        nonlocal eobrun
        if dc_scan:
            if ah == 0:
                s = r.huff(hdc[si])
                if s > 11:
                    raise CodecError("bad JPEG DC size")
                preds[si] += _extend(r.bits(s), s)
                blk[0] = preds[si] << al
            else:  # DC refinement: one raw bit per block
                if r.bit():
                    blk[0] |= p1
            if progressive:
                return
        # AC band (progressive partial band, or 1..63 for sequential)
        lo = 1 if not progressive else ss
        hi = 63 if not progressive else se
        table = hac[si]
        if ah == 0:  # first pass (sequential scans always take this arm)
            if eobrun > 0:
                eobrun -= 1
                return
            k = lo
            while k <= hi:
                rs = r.huff(table)
                run, size = rs >> 4, rs & 15
                if size == 0:
                    if run != 15:  # EOBn
                        eobrun = (1 << run) - 1
                        if run:
                            eobrun += r.bits(run)
                        break
                    k += 16  # ZRL
                    continue
                k += run
                if k > hi:
                    raise CodecError("JPEG AC index overflow")
                blk[k] = _extend(r.bits(size), size) << al
                k += 1
            return
        # AC refinement (T.81 G.1.2.3 / libjpeg decode_mcu_AC_refine):
        # correction bits for history-nonzero coefficients, (run,1)
        # symbols introduce newly-nonzero ones at +-p1
        k = lo
        if eobrun == 0:
            while k <= hi:
                rs = r.huff(table)
                run, size = rs >> 4, rs & 15
                val = 0
                if size == 0:
                    if run != 15:  # EOBn: remaining coeffs handled below
                        eobrun = 1 << run
                        if run:
                            eobrun += r.bits(run)
                        break
                    # ZRL: advance over 16 zero-history positions
                else:
                    if size != 1:
                        raise CodecError("bad AC refinement size")
                    val = p1 if r.bit() else m1
                while k <= hi:
                    c = int(blk[k])
                    if c != 0:
                        if r.bit() and (c & p1) == 0:
                            blk[k] = c + (p1 if c >= 0 else m1)
                    else:
                        if run == 0:
                            break
                        run -= 1
                    k += 1
                if val and k <= hi:
                    blk[k] = val
                k += 1
        if eobrun > 0:
            while k <= hi:
                c = int(blk[k])
                if c != 0:
                    if r.bit() and (c & p1) == 0:
                        blk[k] = c + (p1 if c >= 0 else m1)
                k += 1
            eobrun -= 1

    for n in range(units):
        if restart_interval and n and n % restart_interval == 0:
            r.restart(rst)
            rst = (rst + 1) & 7
            preds = [0] * ns
            eobrun = 0
        if ns > 1:  # interleaved MCU
            my, mx = divmod(n, frame["mcux"])
            for si, (ci, _td, _ta) in enumerate(scomps):
                _cid, ch, cv, _tq = comps[ci]
                for by in range(cv):
                    for bx in range(ch):
                        _block(si, coefs[ci][my * cv + by, mx * ch + bx])
        else:
            ci = scomps[0][0]
            bw1, _bh1 = frame["bdims"][ci]
            _block(0, coefs[ci][n // bw1, n % bw1])

    # resync: find the 0xFF of the next marker (trailing entropy padding
    # bits and stuffed bytes may separate us from it)
    p = r.pos
    while p + 1 < len(b) and not (b[p] == 0xFF and b[p + 1] != 0x00):
        p += 1
    return p


def _decode_jpeg_inner(b: bytes) -> np.ndarray:
    """(h, w, 3) uint8 RGB (or (h, w, 1) grayscale) from a sequential OR
    progressive Huffman JPEG. Supports 1- and 3-component frames, any
    integer divisor sampling factors up to 4 (4:4:4 / 4:2:2 / 4:2:0 ...),
    DRI/RSTn restart intervals, multi-scan files, and the full
    progressive repertoire (spectral selection bands, successive
    approximation with DC/AC refinement scans, EOB runs)."""
    if not b or b[:2] != b"\xff\xd8":
        raise CodecError("not a JPEG")
    qt: dict[int, np.ndarray] = {}
    hts: dict[tuple[int, int], _Huffman] = {}
    frame: dict | None = None
    restart_interval = 0
    saw_scan = False
    pos = 2
    try:
        while True:
            if pos + 2 > len(b):
                if saw_scan:  # missing EOI after scan data: end of buffer is EOI
                    break
                raise CodecError("truncated JPEG")
            if b[pos] != 0xFF:
                raise CodecError("JPEG marker desync")
            m = b[pos + 1]
            if m == 0xFF:  # fill byte
                pos += 1
                continue
            if m == 0xD9:  # EOI
                break
            if 0xD0 <= m <= 0xD7:  # stray RST between scans
                pos += 2
                continue
            if pos + 4 > len(b):
                raise CodecError("truncated JPEG segment")
            (seglen,) = struct.unpack(">H", b[pos + 2 : pos + 4])
            seg = b[pos + 4 : pos + 2 + seglen]
            if len(seg) != seglen - 2:
                raise CodecError("truncated JPEG segment")
            if m == 0xDB:  # DQT
                p = 0
                while p < len(seg):
                    pq, tq = seg[p] >> 4, seg[p] & 15
                    if pq != 0:
                        raise UnsupportedCodecFeature("16-bit quant tables")
                    tbl = np.frombuffer(seg, np.uint8, 64, p + 1).astype(np.float64)
                    nat = np.empty(64)
                    nat[ZIGZAG] = tbl
                    qt[tq] = nat.reshape(8, 8)
                    p += 65
            elif m in (0xC0, 0xC1, 0xC2):  # SOF0/1 sequential, SOF2 progressive
                if frame is not None:
                    raise CodecError("multiple JPEG frames")
                h, w, comps, progressive = _parse_sof(seg, m)
                hmax = max(c[1] for c in comps)
                vmax = max(c[2] for c in comps)
                mcux = -(-w // (8 * hmax))
                mcuy = -(-h // (8 * vmax))
                frame = {
                    "h": h, "w": w, "comps": comps,
                    "progressive": progressive,
                    "hmax": hmax, "vmax": vmax,
                    "mcux": mcux, "mcuy": mcuy,
                    # per-comp coefficient planes, MCU-padded, zigzag order
                    "coefs": [
                        np.zeros((mcuy * cv, mcux * ch, 64), np.int32)
                        for _cid, ch, cv, _tq in comps
                    ],
                    # per-comp non-padded block dims (non-interleaved
                    # scans): ceil(ceil(dim * sampling / max) / 8)
                    "bdims": [
                        (
                            -(-(-(-(w * ch) // hmax)) // 8),
                            -(-(-(-(h * cv) // vmax)) // 8),
                        )
                        for _cid, ch, cv, _tq in comps
                    ],
                }
            elif m in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                raise UnsupportedCodecFeature(
                    "arithmetic/lossless/hierarchical JPEG unsupported"
                )
            elif m == 0xC4:  # DHT
                p = 0
                while p < len(seg):
                    tc, th = seg[p] >> 4, seg[p] & 15
                    counts = seg[p + 1 : p + 17]
                    n = sum(counts)
                    hts[(tc, th)] = _Huffman(counts, seg[p + 17 : p + 17 + n])
                    p += 17 + n
            elif m == 0xDD:  # DRI
                (restart_interval,) = struct.unpack(">H", seg[:2])
            elif m == 0xDA:  # SOS
                if frame is None:
                    raise CodecError("JPEG SOS before SOF")
                pos = _decode_scan(
                    b, seg, pos + 2 + seglen, frame, hts, restart_interval
                )
                saw_scan = True
                continue
            pos += 2 + seglen
    except struct.error as e:
        raise CodecError(f"malformed JPEG: {e}") from e
    if frame is None:
        raise CodecError("JPEG missing SOF")
    if not saw_scan:
        raise CodecError("JPEG EOI before scan data")
    h, w, comps = frame["h"], frame["w"], frame["comps"]
    hmax, vmax = frame["hmax"], frame["vmax"]

    # dequant + dezigzag + IDCT, vectorized over all blocks per component
    full = []
    for (cid, ch, cv, tq), carr in zip(comps, frame["coefs"]):
        if tq not in qt:
            raise CodecError("JPEG references missing quant table")
        bh_p, bw_p, _ = carr.shape
        nat = np.zeros((bh_p, bw_p, 64))
        nat[:, :, ZIGZAG] = carr.astype(np.float64)
        blocks = nat.reshape(bh_p, bw_p, 8, 8) * qt[tq][None, None]
        spat = np.einsum("ux,mnuv,vy->mnxy", _A, blocks, _A) + 128.0
        pl = spat.transpose(0, 2, 1, 3).reshape(bh_p * 8, bw_p * 8)
        if ch != hmax or cv != vmax:  # upsample chroma to the luma grid
            pl = np.repeat(np.repeat(pl, vmax // cv, axis=0), hmax // ch, axis=1)
        full.append(pl[:h, :w])
    if len(full) == 1:
        px = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return px[:, :, None]
    y, cb, cr = full
    r_ = y + 1.402 * (cr - 128.0)
    g_ = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b_ = y + 1.772 * (cb - 128.0)
    px = np.stack([r_, g_, b_], axis=2)
    return np.clip(np.round(px), 0, 255).astype(np.uint8)
