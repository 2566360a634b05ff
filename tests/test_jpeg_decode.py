"""Stdlib baseline-JPEG decode tier.

The encoder here is a REAL baseline JPEG encoder (forward DCT,
quantization, the Annex-K huffman tables, byte stuffing, restart
markers, 4:2:0 subsampling) — not a fixture replay — so the decoder's
canonical-table construction, entropy sync across chroma blocks,
extend/receive sign handling, ZRL/EOB paths, and restart handling are
all exercised by genuinely compressed streams (the GIF-LZW lesson:
a degenerate encoder never exercises the decoder)."""

import math

import numpy as np
import pytest

from pyspark.sql import functions as F

# --- Annex K tables (ITU T.81) ---------------------------------------------

QT_LUM = [
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
]
QT_CHR = [
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
]
DC_LUM = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
          list(range(12)))
DC_CHR = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
          list(range(12)))
AC_LUM = ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D], [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])
AC_CHR = ([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77], [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])

ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def _codes(counts, symbols):
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            out[symbols[k]] = (length, code)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = self.n = 0

    def put(self, value, nbits):
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)          # byte stuffing
                self.acc = self.n = 0

    def align(self):
        if self.n:
            self.put((1 << (8 - self.n)) - 1, 8 - self.n)


_C = np.array([[(math.sqrt(0.125) if u == 0 else 0.5)
                * math.cos((2 * x + 1) * u * math.pi / 16)
                for x in range(8)] for u in range(8)])


def _fdct_quant(block, q):
    coef = _C @ (block.astype(float) - 128.0) @ _C.T
    zz = np.array([coef.flat[ZIGZAG[j]] for j in range(64)])
    return [int(v) for v in np.round(zz / np.array(q, dtype=float))]


def _seg(marker, payload):
    return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") \
        + payload


def encode_jpeg(y, cb=None, cr=None, subsampling=(1, 1),
                restart_interval=0):
    """Baseline JFIF encoder: Y-only when cb/cr are None, else YCbCr with
    the given chroma subsampling factors (Y gets (sh, sv), chroma (1, 1))
    — e.g. (2, 2) = 4:2:0.  Annex-K quant + huffman tables throughout."""
    y = np.asarray(y, dtype=int)
    h, w = y.shape
    color = cb is not None
    sh, sv = subsampling if color else (1, 1)
    comps = [(1, sh, sv, 0)] + ([(2, 1, 1, 1), (3, 1, 1, 1)] if color else [])
    out = bytearray(b"\xff\xd8")
    out += _seg(0xDB, bytes([0]) + bytes(QT_LUM))
    if color:
        out += _seg(0xDB, bytes([1]) + bytes(QT_CHR))
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") \
        + bytes([len(comps)])
    for cid, ch, cv, tq in comps:
        sof += bytes([cid, (ch << 4) | cv, tq])
    out += _seg(0xC0, sof)
    for tc, th, (counts, symbols) in ((0, 0, DC_LUM), (1, 0, AC_LUM),
                                      (0, 1, DC_CHR), (1, 1, AC_CHR)):
        if th == 1 and not color:
            continue
        out += _seg(0xC4, bytes([(tc << 4) | th]) + bytes(counts)
                    + bytes(symbols))
    if restart_interval:
        out += _seg(0xDD, restart_interval.to_bytes(2, "big"))
    sos = bytes([len(comps)])
    for cid, _ch, _cv, tq in comps:
        sos += bytes([cid, (tq << 4) | tq])
    out += _seg(0xDA, sos + bytes([0, 63, 0]))

    dc_tbl = {0: _codes(*DC_LUM), 1: _codes(*DC_CHR)}
    ac_tbl = {0: _codes(*AC_LUM), 1: _codes(*AC_CHR)}
    planes = {1: y}
    if color:
        planes[2] = np.asarray(cb, dtype=int)
        planes[3] = np.asarray(cr, dtype=int)

    def pad(p, bh, bw):
        ph = ((p.shape[0] + bh - 1) // bh) * bh
        pw = ((p.shape[1] + bw - 1) // bw) * bw
        return np.pad(p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])),
                      mode="edge")

    mcux = (w + 8 * sh - 1) // (8 * sh)
    mcuy = (h + 8 * sv - 1) // (8 * sv)
    # pad each plane out to its own MCU coverage (cv*8 / ch*8 per MCU)
    planes = {cid: pad(planes[cid], mcuy * cv * 8, mcux * ch * 8)
              for cid, ch, cv, tq in comps}

    wtr = _BitWriter()

    def emit_value(v, tbl):
        s = v.bit_length() if v > 0 else (-v).bit_length()
        length, code = tbl[s] if isinstance(tbl[s], tuple) else tbl[s]
        wtr.put(code, length)
        if s:
            wtr.put(v if v >= 0 else v + (1 << s) - 1, s)

    pred = {cid: 0 for cid, *_ in comps}
    n_rst = 0
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count \
                    and mcu_count % restart_interval == 0:
                wtr.align()
                wtr.out += bytes([0xFF, 0xD0 + (n_rst % 8)])
                n_rst += 1
                pred = {cid: 0 for cid in pred}
            mcu_count += 1
            for cid, ch, cv, tq in comps:
                th = 0 if cid == 1 else 1
                q = QT_LUM if tq == 0 else QT_CHR
                for by in range(cv):
                    for bx in range(ch):
                        py, px = (my * cv + by) * 8, (mx * ch + bx) * 8
                        blk = planes[cid][py:py + 8, px:px + 8]
                        zz = _fdct_quant(blk, q)
                        diff = zz[0] - pred[cid]
                        pred[cid] = zz[0]
                        emit_value(diff, dc_tbl[th])
                        run = 0
                        last = max((j for j in range(1, 64) if zz[j]),
                                   default=0)
                        for j in range(1, last + 1):
                            if zz[j] == 0:
                                run += 1
                                continue
                            while run > 15:
                                length, code = ac_tbl[th][0xF0]
                                wtr.put(code, length)
                                run -= 16
                            v = zz[j]
                            s = v.bit_length() if v > 0 else (-v).bit_length()
                            length, code = ac_tbl[th][(run << 4) | s]
                            wtr.put(code, length)
                            wtr.put(v if v >= 0 else v + (1 << s) - 1, s)
                            run = 0
                        if last < 63:
                            length, code = ac_tbl[th][0x00]
                            wtr.put(code, length)
    wtr.align()
    out += wtr.out
    out += b"\xff\xd9"
    return bytes(out)


def _gradient(h, w, fn):
    return np.array([[fn(x, y) % 256 for x in range(w)] for y in range(h)])


def test_grayscale_roundtrip_close():
    """Encode → stdlib decode: luma within quantization error of the
    source (Annex-K tables at full scale bound the per-pixel error)."""
    from dataqtor_spark.operators import multimodal as MM

    src = _gradient(24, 16, lambda x, y: 8 * x + 5 * y)
    data = encode_jpeg(src)
    w, h, mode, lum = MM._decode_image(data)
    assert (w, h, mode) == (16, 24, "L")
    err = np.abs(np.array(lum, dtype=float) - src)
    assert err.mean() < 12 and err.max() < 60, (err.mean(), err.max())


def test_color_420_chroma_sync_and_dims():
    """4:2:0 color: chroma blocks must be entropy-decoded (discarded) to
    keep the Y stream in sync — a sync bug garbles the right/bottom
    half, which the per-region error check catches."""
    from dataqtor_spark.operators import multimodal as MM

    src = _gradient(32, 48, lambda x, y: 3 * x + 7 * y + (x * y) % 11)
    cbp = np.full(((32 + 15) // 16 * 8, (48 + 15) // 16 * 8), 100)
    crp = np.full_like(cbp, 140)
    data = encode_jpeg(src, cbp, crp, subsampling=(2, 2))
    w, h, mode, lum = MM._decode_image(data)
    assert (w, h, mode) == (48, 32, "RGB")
    arr = np.array(lum, dtype=float)
    for ys in (slice(0, 16), slice(16, 32)):
        for xs in (slice(0, 24), slice(24, 48)):
            err = np.abs(arr[ys, xs] - src[ys, xs])
            assert err.mean() < 12, (ys, xs, err.mean())


def test_restart_markers_reset_predictors():
    from dataqtor_spark.operators import multimodal as MM

    src = _gradient(16, 64, lambda x, y: 4 * x + 3 * y)
    data = encode_jpeg(src, restart_interval=2)
    assert any(data[i] == 0xFF and 0xD0 <= data[i + 1] <= 0xD7
               for i in range(2, len(data) - 3)), "no RSTn emitted"
    w, h, _mode, lum = MM._decode_image(data)
    err = np.abs(np.array(lum, dtype=float) - src)
    assert err.mean() < 12


def test_dispatch_and_decodable_screen():
    """_stdlib_decodable accepts baseline JPEGs and rejects a progressive
    (SOF2) frame header, so the auto tier falls through instead of
    erroring mid-batch; _decode_image raises loudly on SOF2."""
    from dataqtor_spark.operators import multimodal as MM

    src = _gradient(8, 8, lambda x, y: 16 * x)
    data = encode_jpeg(src)
    assert MM._stdlib_decodable(data)
    progressive = data.replace(b"\xff\xc0", b"\xff\xc2", 1)
    assert not MM._stdlib_decodable(progressive)
    with pytest.raises(ValueError, match="baseline"):
        MM._decode_jpeg(progressive)


def test_m02_real_path_decodes_jpeg_without_pil(spark):
    """decode_image_features' AUTO tier decodes a baseline JPEG for real
    with no codec library: true dimensions, mode L, and a thumbnail
    feature that tracks the actual luminance gradient."""
    from dataqtor_spark.operators import multimodal as MM

    src = _gradient(32, 32, lambda x, y: min(255, 8 * y))
    df = spark.createDataFrame([(1, bytearray(encode_jpeg(src)))],
                               "media_id long, payload binary")
    row = MM.decode_image_features(df).collect()[0]
    assert (row["width"], row["height"]) == (32, 32)
    assert row["mode"] == "L"
    feat = row["feature"]
    assert len(feat) == 16
    # top row of the 4x4 thumbnail is darker than the bottom row
    assert sum(feat[:4]) < sum(feat[12:])


def test_phash_jpeg_matches_png_of_same_image(spark):
    """The same pixels through the JPEG tier and the PNG tier produce
    near-identical perceptual hashes (quantization moves a few bits at
    most) — so m04/m05/m07 pipelines mix containers freely."""
    from dataqtor_spark.operators import multimodal as MM
    from tests.test_multimodal_streaming import _encode_png

    src = _gradient(16, 16, lambda x, y: (x * 31 + y * 17 + (x * y) % 13))
    png = bytes(_encode_png([[int(v) for v in row] for row in src],
                            ctype=0, filters=[0] * 16))
    jpg = encode_jpeg(src)
    df = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(jpg))],
        "media_id long, payload binary")
    sig = {r["media_id"]: r["phash"]
           for r in MM.image_phash(df, "payload", "media_id",
                                   "dhash").collect()}
    assert bin((sig[1] ^ sig[2]) & ((1 << 64) - 1)).count("1") <= 6


def test_m07_real_path_avi_mjpeg_without_pil(spark):
    """End-to-end video near-dup on a REAL MJPEG AVI without PIL: frames
    are baseline JPEGs, sampled by the AVI demuxer and pHash'd through
    the stdlib JPEG tier — two re-encodes of the same clip match, a
    different clip doesn't."""
    from dataqtor_spark.operators import multimodal as MM
    from tests.test_multimodal_streaming import _tiny_avi

    def frame(seed):
        return encode_jpeg(_gradient(
            16, 16, lambda x, y: (x * 31 + y * 17 + seed) ))

    shared = [frame(s) for s in (0, 40, 80, 120)]
    v1 = _tiny_avi(shared, 100_000)
    v2 = _tiny_avi(shared, 100_000)                      # same content
    v3 = _tiny_avi([frame(s) for s in (7, 55, 99, 141)], 100_000)
    df = spark.createDataFrame(
        [(1, bytearray(v1)), (2, bytearray(v2)), (3, bytearray(v3))],
        "media_id long, payload binary")
    frames = MM.sample_video_frames(df, every_ms=100, max_frames=4)
    sigs = MM.image_phash(frames.withColumnRenamed("frame", "payload"),
                          "payload", "media_id", "dhash")
    pairs = {(r["id_a"], r["id_b"]): r["n_matched"]
             for r in MM.video_near_dup_pairs(
                 sigs, "media_id", "phash", min_matches=3).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 3
    assert all(p == (1, 2) for p in pairs)
