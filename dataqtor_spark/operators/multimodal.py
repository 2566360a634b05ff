"""Multimodal column plumbing (north-star extension): image/audio/video as
opaque ``binary`` columns with typed metadata.

Every decode op runs one per-payload ladder: stdlib, then fake.  The
stdlib tier decodes for real with no codec library — PNG (zlib inflate
+ the five spec unfilters), GIF (variable-width LZW + palette/interlace
handling), BMP (palette/BGR raw rows) and baseline JPEG (canonical
huffman entropy decode + dequant + separable IDCT, luma-only with
chroma kept in sync) for the image ops; integer-PCM WAV (stdlib
``wave`` + numpy) for the audio ops; MJPEG-in-AVI frame sampling
(stdlib RIFF demux) for video; mp4/mp3/wav container metadata (struct
parsing) for ``probe_media_info``.  A payload that is not the op's
container, or whose decode raises, gets the op's deterministic
sha-derived fake row instead — for that row only, so a dirty corpus
never fails the job.  ``use_codec=False`` gives the fake on every row
(the oracle-checked queries pin it); ``None`` (the default) and
``True`` give the stdlib tier.  Compressed A/V frame decode
(mp3/mp4/h264…) stays out of scope.

Which decoder a payload gets is a function of the payload alone:
PNG, GIF, BMP and baseline JPEG decode for real on every executor, and
every other image payload gets the fake on every executor.  There is
deliberately no optional codec-library tier (such as Pillow): it would
make one payload's row depend on which executor had the library
installed, and nothing here can rely on one being there.

Scale notes: payloads never shuffle — metadata extraction is a projection;
decode is ``mapInPandas`` (Arrow batches, no per-row Python overhead);
frame sampling emits rows from within the batch iterator so one task
handles explode without a join.
"""

from __future__ import annotations

import hashlib
import math
import sys
from collections.abc import Iterator

from pyspark import cloudpickle
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The mapInPandas closures below call this module's helpers on the
# executors.  Pickled by value, those helpers travel inside the closure,
# so a Python worker never imports ``dataqtor_spark``: the ops run
# whatever the caller's working directory or the workers' sys.path.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),       # image | audio | video
    T.StructField("payload", T.BinaryType()),
])

# magic-byte prefixes → sniffed container format (pure expression, no codec)
MAGIC_PREFIXES = {
    "FFD8FF": "jpeg",
    "89504E47": "png",
    "47494638": "gif",
    "52494646": "riff",      # wav/avi/webp share RIFF
    "494433": "mp3",
    "664C6143": "flac",
    "1A45DFA3": "matroska",  # mkv/webm
    "00000018": "mp4",
    "00000020": "mp4",
}


def sniff_format(payload: Column | str) -> Column:
    """Container format from magic bytes — a CASE over hex prefixes."""
    c = F.col(payload) if isinstance(payload, str) else payload
    h = F.upper(F.hex(F.substring(c, 1, 4)))
    expr = None
    for prefix, fmt in MAGIC_PREFIXES.items():
        cond = h.startswith(prefix)
        expr = F.when(cond, F.lit(fmt)) if expr is None else expr.when(cond, F.lit(fmt))
    return expr.otherwise(F.lit("unknown"))


def attach_media_metadata(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Pure-expression metadata: byte size, sha256 content id, sniffed
    format.  No Python, no decode — safe at any scale."""
    c = F.col(payload_col)
    return (df.withColumn("byte_size", F.octet_length(c))
            .withColumn("content_sha256", F.sha2(c, 256))
            .withColumn("format", sniff_format(c)))


# ---------------------------------------------------------------------------
# decode / feature-extract (mapInPandas, Arrow-batched)
# ---------------------------------------------------------------------------

def _per_payload(df: DataFrame, payload_col: str, id_col: str, schema: str,
                 real, fake, use_codec: bool | None = None) -> DataFrame:
    """The ladder every media op runs, stdlib then fake, as one
    ``mapInPandas`` over ``(id_col, payload_col)``.

    ``real(data)`` and ``fake(data)`` each return a list of row tuples
    without the id, which is prepended here.  A payload gets ``fake``'s
    rows, for that row only, when it is NULL (``data`` is None),
    ``use_codec`` is False, ``real`` returns None (not the op's
    container) or ``real`` raises (a corrupt or unsupported payload).
    The output columns are the top-level names of the DDL ``schema``."""
    names = [field.split()[0] for field in schema.split(",")]
    if use_codec is not None and not use_codec:
        real = None

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                data = None if payload is None else bytes(payload)
                got = None
                if real is not None and data is not None:
                    try:
                        got = real(data)
                    except Exception:
                        pass  # dirty payloads are the norm: fake below
                rows.extend((mid, *r) for r in
                            (fake(data) if got is None else got))
            yield pd.DataFrame(rows, columns=names)

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        run, schema=schema)


IMAGE_FEATURES_SCHEMA = (
    "media_id long, width int, height int, mode string, feature array<float>"
)


def _fake_image_props(payload: bytes | None
                      ) -> tuple[int, int, str, list[float]]:
    """The image ops' fake tier: properties derive from a content digest,
    so they are deterministic and the m02 DuckDB oracle replays them."""
    dig = hashlib.sha256(payload or b"").digest()
    width = 64 + dig[0] * 4
    height = 64 + dig[1] * 4
    mode = ["RGB", "RGBA", "L"][dig[2] % 3]
    feat = [b / 255.0 for b in dig[:16]]
    return width, height, mode, feat


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_MODES = {0: ("L", 1), 2: ("RGB", 3), 4: ("LA", 2), 6: ("RGBA", 4)}


def _decode_png_raw(data: bytes) -> tuple[int, int, int, int, list[bytearray]]:
    """REAL stdlib PNG decode (zlib + the five spec filters) — no Pillow.

    PNG's compression is stdlib ``zlib``, so the whole critical-chunk
    pipeline (IHDR → concatenated IDAT inflate → per-row unfilter) is
    implementable without any codec library, exactly like the WAV/RIFF
    paths.  Covers 8-bit non-interlaced greyscale / RGB / LA / RGBA —
    the shapes training corpora overwhelmingly hold; anything else
    raises and the caller's per-row fallback handles it.

    Returns (width, height, color_type, bytes_per_pixel, scanlines) with
    scanlines fully unfiltered.
    """
    import struct
    import zlib

    if not data.startswith(_PNG_SIG):
        raise ValueError("not a PNG")
    pos, ihdr, idat = len(_PNG_SIG), None, []
    while pos + 8 <= len(data):
        (length,), ctype = struct.unpack(">I", data[pos:pos + 4]), \
            data[pos + 4:pos + 8]
        chunk = data[pos + 8:pos + 8 + length]
        pos += 12 + length
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", chunk)
        elif ctype == b"IDAT":
            idat.append(chunk)
        elif ctype == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    width, height, depth, ctype_, _comp, _filt, interlace = ihdr
    if depth != 8 or interlace != 0 or ctype_ not in _PNG_MODES:
        raise ValueError(f"unsupported PNG shape {ihdr}")
    bpp = _PNG_MODES[ctype_][1]
    raw = zlib.decompress(b"".join(idat))
    stride = width * bpp
    if len(raw) != height * (stride + 1):
        raise ValueError("truncated PNG data")
    prev = bytearray(stride)
    rows: list[bytearray] = []
    for y in range(height):
        off = y * (stride + 1)
        ftype = raw[off]
        row = bytearray(raw[off + 1:off + 1 + stride])
        if ftype == 1:                                      # Sub
            for i in range(bpp, stride):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ftype == 2:                                    # Up
            for i in range(stride):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ftype == 3:                                    # Average
            for i in range(stride):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:                                    # Paeth
            for i in range(stride):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if pa <= pb and pa <= pc else b if pb <= pc else c
                row[i] = (row[i] + pr) & 0xFF
        elif ftype != 0:
            raise ValueError(f"bad filter {ftype}")
        prev = row
        rows.append(row)
    return width, height, ctype_, bpp, rows


def _decode_png(data: bytes) -> tuple[int, int, str, list[list[int]]]:
    """:func:`_decode_png_raw` reduced to (width, height, mode,
    luminance_rows): ITU-R 601-2 integer luma per pixel (the same
    coefficients as PIL's ``convert("L")``) for thumbnailing."""
    width, height, ctype_, bpp, rows = _decode_png_raw(data)
    mode = _PNG_MODES[ctype_][0]
    if ctype_ == 0:
        lum = [list(r) for r in rows]
    elif ctype_ == 4:
        lum = [list(r[0::2]) for r in rows]
    else:
        lum = [[(r[i] * 299 + r[i + 1] * 587 + r[i + 2] * 114 + 500) // 1000
                for i in range(0, len(r), bpp)] for r in rows]
    return width, height, mode, lum


def _encode_png(width: int, height: int, ctype: int,
                rows: list[bytearray]) -> bytes:
    """Minimal stdlib PNG writer (filter 0 every row) — the re-encode
    half of the codec-less resize path."""
    import struct
    import zlib

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body)))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, ctype, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes(r) for r in rows)
    return (_PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b""))


def _stdlib_png_resize(data: bytes, tw: int, th: int) -> bytes:
    """Nearest-neighbour resize of an 8-bit PNG, decode → sample →
    re-encode entirely with the stdlib."""
    width, height, ctype_, bpp, rows = _decode_png_raw(data)
    out = []
    for ty in range(th):
        src = rows[(ty * height) // th]
        line = bytearray()
        for tx in range(tw):
            sx = (tx * width) // tw
            line += src[sx * bpp:(sx + 1) * bpp]
        out.append(line)
    return _encode_png(tw, th, ctype_, out)


# ---------------------------------------------------------------------------
# GIF (LZW) and BMP stdlib decode tiers
# ---------------------------------------------------------------------------
# GIF is a COMPRESSED codec whose entire decompressor (variable-width LZW,
# 12-bit max) fits in ~40 lines of integer arithmetic — so, like PNG's
# zlib path, it decodes for REAL on codec-less executors.  BMP is raw
# (palette / BGR rows, 4-byte row padding).  Both reduce to the same
# (width, height, mode, luminance_rows) contract as _decode_png, so every
# downstream consumer (features, phash, resize) dispatches by magic bytes
# and never cares which container arrived.

_GIF_SIGS = (b"GIF87a", b"GIF89a")


def _gif_lzw_decode(min_code_size: int, data: bytes,
                    n_pixels: int) -> bytearray:
    """GIF-flavor LZW decompression: LSB-first bit packing, CLEAR/END
    control codes, code width grows as the table fills (12-bit cap)."""
    clear = 1 << min_code_size
    end = clear + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    code_size = min_code_size + 1
    out = bytearray()
    prev: bytes | None = None
    acc = bits = pos = 0
    while len(out) < n_pixels:
        while bits < code_size:
            if pos >= len(data):
                return out                       # truncated stream
            acc |= data[pos] << bits
            pos += 1
            bits += 8
        code = acc & ((1 << code_size) - 1)
        acc >>= code_size
        bits -= code_size
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            code_size = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            if len(table) < 4096:         # spec: table freezes when full
                table.append(prev + entry[:1])
        elif code == len(table) and len(table) < 4096:
            entry = prev + prev[:1]       # the KwKwK self-reference case
            table.append(entry)
        else:
            raise ValueError("corrupt GIF LZW stream")
        out += entry
        prev = entry
        if len(table) == (1 << code_size) and code_size < 12:
            code_size += 1
    return out


def _decode_gif(data: bytes) -> tuple[int, int, str, list[list[int]]]:
    """REAL stdlib GIF decode (first frame): logical-screen parse,
    sub-block reassembly, LZW inflate, palette → ITU-R 601-2 luma,
    4-pass interlace reorder.  Animated GIFs yield frame 1 — the
    perceptual-hash contract (a near-dup of the poster frame IS a
    near-dup of the asset); anything malformed raises and the caller's
    per-row fallback catches it."""
    import struct

    if data[:6] not in _GIF_SIGS:
        raise ValueError("not a GIF")
    if len(data) < 14:
        raise ValueError("truncated GIF")
    _w, _h, flags, _bg, _ar = struct.unpack("<HHBBB", data[6:13])
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        gct = data[pos:pos + 3 * n]
        pos += 3 * n
    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x21:                 # extension: label + sub-blocks
            pos += 1
            while data[pos]:
                pos += 1 + data[pos]
            pos += 1
        elif block == 0x2C:               # image descriptor
            _l, _t, iw, ih, iflags = struct.unpack(
                "<HHHHB", data[pos:pos + 9])
            pos += 9
            pal = gct
            if iflags & 0x80:
                n = 2 << (iflags & 7)
                pal = data[pos:pos + 3 * n]
                pos += 3 * n
            if pal is None:
                raise ValueError("GIF frame without a color table")
            mcs = data[pos]
            pos += 1
            chunks = []
            while data[pos]:
                ln = data[pos]
                chunks.append(data[pos + 1:pos + 1 + ln])
                pos += 1 + ln
            idx = _gif_lzw_decode(mcs, b"".join(chunks), iw * ih)
            if len(idx) < iw * ih:
                raise ValueError("truncated GIF image data")
            luma = [(pal[3 * i] * 299 + pal[3 * i + 1] * 587
                     + pal[3 * i + 2] * 114 + 500) // 1000
                    for i in range(len(pal) // 3)]
            rows = [[luma[idx[y * iw + x]] for x in range(iw)]
                    for y in range(ih)]
            if iflags & 0x40:             # interlaced: 8/8/4/2 row passes
                order = ([*range(0, ih, 8)] + [*range(4, ih, 8)]
                         + [*range(2, ih, 4)] + [*range(1, ih, 2)])
                fixed: list = [None] * ih
                for src, dst in enumerate(order):
                    fixed[dst] = rows[src]
                rows = fixed
            return iw, ih, "P", rows
        elif block == 0x3B:
            break
        else:
            raise ValueError(f"bad GIF block 0x{block:02x}")
    raise ValueError("GIF contains no image")


def _decode_bmp(data: bytes) -> tuple[int, int, str, list[list[int]]]:
    """REAL stdlib BMP decode: BITMAPINFOHEADER (or the V4/V5 supersets,
    same fixed offsets), 8-bit palette / 24-bit BGR / 32-bit BGRX,
    bottom-up or top-down, 4-byte row padding → luma rows."""
    import struct

    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    if len(data) < 54:
        raise ValueError("truncated BMP")
    (pix_off,) = struct.unpack("<I", data[10:14])
    (dib,) = struct.unpack("<I", data[14:18])
    if dib < 40:
        raise ValueError("unsupported BMP header")
    width, height = struct.unpack("<ii", data[18:26])
    _planes, bpp = struct.unpack("<HH", data[26:30])
    (comp,) = struct.unpack("<I", data[30:34])
    if comp != 0 or bpp not in (8, 24, 32) or width <= 0 or height == 0:
        raise ValueError(f"unsupported BMP shape bpp={bpp} comp={comp}")
    top_down = height < 0
    height = abs(height)
    pal = None
    if bpp == 8:
        (used,) = struct.unpack("<I", data[46:50])
        off = 14 + dib
        pal = [(data[off + 4 * i + 2] * 299 + data[off + 4 * i + 1] * 587
                + data[off + 4 * i] * 114 + 500) // 1000
               for i in range(used or 256)]            # BGRA entries
    stride = ((bpp * width + 31) // 32) * 4
    step = bpp // 8
    rows = []
    for y in range(height):
        src = y if top_down else height - 1 - y
        line = data[pix_off + src * stride:pix_off + (src + 1) * stride]
        if len(line) < (width * step if bpp > 8 else width):
            raise ValueError("truncated BMP pixel data")
        if bpp == 8:
            rows.append([pal[v] for v in line[:width]])
        else:
            rows.append([(line[x * step + 2] * 299
                          + line[x * step + 1] * 587
                          + line[x * step] * 114 + 500) // 1000
                         for x in range(width)])
    return width, height, ("P" if bpp == 8 else "RGB"), rows


# --- baseline JPEG (SOF0) — REAL huffman + dequant + IDCT, stdlib only -----

_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


# 8-point DCT-III basis: C[u][x] = a(u)·cos((2x+1)uπ/16) — the separable
# 2-D inverse transform is two passes over this table.  A plain constant,
# so it pickles by value with the decoder (see the module's pickling note).
_JPEG_IDCT = [[(math.sqrt(0.125) if u == 0 else 0.5)
               * math.cos((2 * x + 1) * u * math.pi / 16)
               for x in range(8)] for u in range(8)]


def _jpeg_huff_table(counts: bytes, symbols: bytes) -> dict:
    """Canonical huffman: (bit_length, code) → symbol."""
    table, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[(length, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


class _JpegBits:
    """MSB-first bit reader over the entropy-coded segment, handling
    0xFF00 byte stuffing and RSTn restart markers."""

    def __init__(self, data: bytes, pos: int):
        self.data, self.pos, self.acc, self.n = data, pos, 0, 0

    def bit(self) -> int:
        if not self.n:
            if self.pos >= len(self.data):
                raise ValueError("truncated JPEG entropy stream")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.data[self.pos] if self.pos < len(self.data) else 0
                if nxt == 0x00:
                    self.pos += 1                    # stuffed 0xFF
                else:
                    raise ValueError("unexpected marker in entropy stream")
            self.acc, self.n = b, 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def huff(self, table: dict) -> int:
        length, code = 0, 0
        while length < 16:
            code = (code << 1) | self.bit()
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("bad JPEG huffman code")

    def restart(self) -> None:
        """Consume an RSTn marker at an MCU-restart boundary."""
        self.n = 0
        while (self.pos + 1 < len(self.data)
               and not (self.data[self.pos] == 0xFF
                        and 0xD0 <= self.data[self.pos + 1] <= 0xD7)):
            self.pos += 1
        self.pos += 2


def _jpeg_extend(v: int, s: int) -> int:
    return v - (1 << s) + 1 if s and v < (1 << (s - 1)) else v


def _decode_jpeg(data: bytes) -> tuple[int, int, str, list[list[int]]]:
    """REAL stdlib baseline-JPEG decode (SOF0, 8-bit): marker-segment
    parse, canonical huffman entropy decode, dequantization, separable
    2-D IDCT, restart-interval handling.  Only the Y (luminance)
    component is transformed — this module's decode contract is luma
    rows, so chroma blocks are entropy-decoded purely to keep the bit
    stream in sync and then discarded, which also makes every chroma
    subsampling (4:4:4/4:2:2/4:2:0) free.  Progressive (SOF2) and
    arithmetic-coded JPEGs raise, and :func:`_stdlib_decodable`
    pre-screens for SOF0, so they get the image ops' fake tier."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    qt: dict[int, list[int]] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    comps: list[tuple[int, int, int, int]] = []   # (id, h, v, tq)
    width = height = 0
    restart_interval = 0
    pos = 2
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("bad JPEG marker stream")
        marker = data[pos + 1]
        if marker == 0xD9:                         # EOI
            break
        seg_len = (data[pos + 2] << 8) | data[pos + 3]
        seg = data[pos + 4:pos + 2 + seg_len]
        if marker == 0xDB:                         # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0x0F
                i += 1
                if pq:
                    vals = [(seg[i + 2 * j] << 8) | seg[i + 2 * j + 1]
                            for j in range(64)]
                    i += 128
                else:
                    vals = list(seg[i:i + 64])
                    i += 64
                qt[tq] = vals                      # zigzag order
        elif marker == 0xC4:                       # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0x0F
                counts = seg[i + 1:i + 17]
                n = sum(counts)
                symbols = seg[i + 17:i + 17 + n]
                (huff_dc if tc == 0 else huff_ac)[th] = \
                    _jpeg_huff_table(counts, symbols)
                i += 17 + n
        elif marker == 0xC0:                       # SOF0 baseline
            if seg[0] != 8:
                raise ValueError("non-8-bit JPEG")
            height = (seg[1] << 8) | seg[2]
            width = (seg[3] << 8) | seg[4]
            comps = [(seg[6 + 3 * c], seg[7 + 3 * c] >> 4,
                      seg[7 + 3 * c] & 0x0F, seg[8 + 3 * c])
                     for c in range(seg[5])]
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("only baseline (SOF0) JPEG is supported")
        elif marker == 0xDD:                       # DRI
            restart_interval = (seg[0] << 8) | seg[1]
        elif marker == 0xDA:                       # SOS — entropy follows
            ncomp = seg[0]
            scan = {seg[1 + 2 * c]: (seg[2 + 2 * c] >> 4,
                                     seg[2 + 2 * c] & 0x0F)
                    for c in range(ncomp)}
            return _jpeg_scan(data, pos + 2 + seg_len, width, height,
                              comps, scan, qt, huff_dc, huff_ac,
                              restart_interval)
        pos += 2 + seg_len
    raise ValueError("JPEG has no scan")


def _jpeg_scan(data, pos, width, height, comps, scan, qt, huff_dc,
               huff_ac, restart_interval):
    if not comps or not width or not height:
        raise ValueError("JPEG scan before SOF0")
    hmax = max(h for _i, h, _v, _q in comps)
    vmax = max(v for _i, _h, v, _q in comps)
    mcux = (width + 8 * hmax - 1) // (8 * hmax)
    mcuy = (height + 8 * vmax - 1) // (8 * vmax)
    y_id, y_h, y_v, y_tq = comps[0]
    yw, yh = mcux * y_h * 8, mcuy * y_v * 8
    plane = [[0] * yw for _ in range(yh)]
    idct = _JPEG_IDCT
    q_y = qt[y_tq]
    bits = _JpegBits(data, pos)
    pred = {cid: 0 for cid, _h, _v, _q in comps}
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count \
                    and mcu_count % restart_interval == 0:
                bits.restart()
                pred = {cid: 0 for cid in pred}
            mcu_count += 1
            for ci, (cid, ch, cv, ctq) in enumerate(comps):
                tdc, tac = scan[cid]
                for by in range(cv):
                    for bx in range(ch):
                        # entropy-decode one block
                        s = bits.huff(huff_dc[tdc])
                        diff = _jpeg_extend(bits.bits(s), s) if s else 0
                        pred[cid] += diff
                        coefs = [0] * 64
                        coefs[0] = pred[cid]
                        k = 1
                        while k < 64:
                            rs = bits.huff(huff_ac[tac])
                            run, size = rs >> 4, rs & 0x0F
                            if size == 0:
                                if run == 15:
                                    k += 16        # ZRL
                                    continue
                                break              # EOB
                            k += run
                            if k > 63:
                                raise ValueError("JPEG AC overflow")
                            coefs[k] = _jpeg_extend(bits.bits(size), size)
                            k += 1
                        if ci:                     # chroma: sync only
                            continue
                        # dequant (zigzag → natural) + separable IDCT
                        blk = [0.0] * 64
                        for j in range(64):
                            blk[_JPEG_ZIGZAG[j]] = coefs[j] * q_y[j]
                        tmp = [0.0] * 64
                        for r in range(8):         # rows: DCT-III over u
                            row = blk[8 * r:8 * r + 8]
                            for x in range(8):
                                tmp[8 * r + x] = sum(
                                    row[u] * idct[u][x] for u in range(8))
                        ox, oy = (mx * y_h + bx) * 8, (my * y_v + by) * 8
                        for y in range(8):
                            out_row = plane[oy + y]
                            for x in range(8):
                                v = int(sum(tmp[8 * u + x] * idct[u][y]
                                            for u in range(8)) + 128.5)
                                out_row[ox + x] = (0 if v < 0
                                                   else 255 if v > 255
                                                   else v)
    # Y is usually full-resolution; nearest-sample if it was subsampled
    rows = []
    for y in range(height):
        src = plane[y * y_v // vmax]
        if y_h == hmax:
            rows.append(src[:width])
        else:
            rows.append([src[x * y_h // hmax] for x in range(width)])
    return width, height, ("L" if len(comps) == 1 else "RGB"), rows


def _jpeg_is_baseline(data: bytes) -> bool:
    """Cheap marker walk: True iff the frame header is SOF0 (the only
    JPEG flavor the stdlib tier decodes)."""
    if data[:2] != b"\xff\xd8":
        return False
    pos = 2
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            return False
        marker = data[pos + 1]
        if marker == 0xC0:
            return True
        if marker in (0xD9, 0xDA) or (0xC1 <= marker <= 0xCF
                                      and marker != 0xC4 and marker != 0xC8
                                      and marker != 0xCC):
            return False
        pos += 2 + ((data[pos + 2] << 8) | data[pos + 3])
    return False


def _decode_image(data: bytes) -> tuple[int, int, str, list[list[int]]]:
    """Stdlib decode dispatch by magic bytes — PNG (zlib/unfilter), GIF
    (LZW), BMP (raw), baseline JPEG (huffman + IDCT) — to the shared
    (width, height, mode, luminance_rows) contract.  Raises for any
    other container."""
    if data.startswith(_PNG_SIG):
        return _decode_png(data)
    if data[:6] in _GIF_SIGS:
        return _decode_gif(data)
    if data[:2] == b"BM":
        return _decode_bmp(data)
    if data[:2] == b"\xff\xd8":
        return _decode_jpeg(data)
    raise ValueError("no stdlib decoder for payload")


def _stdlib_decodable(data: bytes) -> bool:
    """True when :func:`_decode_image` has a real tier for the payload.
    JPEG payloads pre-screen for a baseline (SOF0) frame so progressive
    files fall through to the next tier instead of erroring."""
    return (data.startswith(_PNG_SIG) or data[:6] in _GIF_SIGS
            or data[:2] == b"BM"
            or (data[:2] == b"\xff\xd8" and _jpeg_is_baseline(data)))


def _stdlib_image_props(data: bytes) -> tuple[int, int, str, list[float]]:
    """Any stdlib-decodable image → the decode_image_features contract:
    (w, h, mode, 16-dim normalized 4×4 luminance thumbnail)."""
    width, height, mode, lum = _decode_image(data)
    feat = [lum[(ty * height) // 4][(tx * width) // 4] / 255.0
            for ty in range(4) for tx in range(4)]
    return width, height, mode, feat


def _stdlib_resize_any(data: bytes, tw: int, th: int) -> bytes:
    """Nearest-neighbour resize for any stdlib-decodable payload: PNG
    keeps its native channels (:func:`_stdlib_png_resize`); GIF/BMP/JPEG
    resample the luma plane and re-encode as grayscale PNG (the
    normalized thumbnail container)."""
    if data.startswith(_PNG_SIG):
        return _stdlib_png_resize(data, tw, th)
    width, height, _mode, lum = _decode_image(data)
    rows = [bytearray(lum[(ty * height) // th][(tx * width) // tw]
                      for tx in range(tw)) for ty in range(th)]
    return _encode_png(tw, th, 0, rows)


def decode_image_features(df: DataFrame, payload_col: str = "payload",
                          id_col: str = "media_id",
                          use_codec: bool | None = None) -> DataFrame:
    """Arrow-batched decode + feature extraction, stdlib then fake.

    The stdlib tier (``use_codec`` None or True) decodes PNG, GIF, BMP
    and baseline-JPEG payloads for real (``_decode_image`` — zlib
    unfilter / LZW / raw rows / huffman + IDCT) and emits their
    width/height/mode plus a 16-dim feature (4×4 grayscale
    nearest-neighbour thumbnail, normalized).  Every other payload, and
    every payload under ``use_codec=False``, gets the deterministic
    sha-derived fake — same output schema either way."""
    def real(data):
        return [_stdlib_image_props(data)] if _stdlib_decodable(data) else None

    return _per_payload(df, payload_col, id_col, IMAGE_FEATURES_SCHEMA,
                        real, lambda data: [_fake_image_props(data)],
                        use_codec)


RESIZED_SCHEMA = "media_id long, width int, height int, payload binary"


def resize_images(df: DataFrame, target: tuple[int, int] = (224, 224),
                  payload_col: str = "payload", id_col: str = "media_id",
                  use_codec: bool | None = None) -> DataFrame:
    """Resize to ``target``, stdlib then fake.  The stdlib tier
    (``use_codec`` None or True) resizes PNG/GIF/BMP/baseline-JPEG
    payloads for real inside the Arrow batch iterator (stdlib decode →
    nearest-neighbour → filter-0 PNG re-encode,
    :func:`_stdlib_resize_any`).  The fake tier — every other payload,
    and every payload under ``use_codec=False`` — passes the bytes
    through with the declared target shape; a NULL payload stays NULL."""
    tw, th = target

    def real(data):
        return ([(tw, th, _stdlib_resize_any(data, tw, th))]
                if _stdlib_decodable(data) else None)

    return _per_payload(df, payload_col, id_col, RESIZED_SCHEMA, real,
                        lambda data: [(tw, th, data)], use_codec)


# ---------------------------------------------------------------------------
# perceptual image hashing (near-duplicate image detection)
# ---------------------------------------------------------------------------

PHASH_SCHEMA = "media_id long, phash long"


def _to_signed64(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


def _dhash_bits(lum: list[list[int]]) -> int:
    """dHash over a 9×8 luminance grid: bit ``y*8+x`` set iff the pixel
    is brighter than its right neighbour (horizontal gradient sign) —
    pure integer comparisons, robust to re-encode/resize/brightness."""
    v = 0
    for y in range(8):
        row = lum[y]
        for x in range(8):
            if row[x] > row[x + 1]:
                v |= 1 << (y * 8 + x)
    return _to_signed64(v)


def _phash_bits(lum: list[list[int]]) -> int:
    """pHash over a 32×32 luminance grid: orthonormal 2-D DCT-II (one
    numpy matmul pair), keep the top-left 8×8 low-frequency block, bit =
    coefficient above the median of the 63 non-DC coefficients."""
    import numpy as np

    n = 32
    img = np.asarray(lum, dtype=np.float64)
    k = np.arange(n)
    basis = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / (2 * n))
    basis *= np.sqrt(2.0 / n)
    basis[0] /= np.sqrt(2.0)
    coeffs = (basis @ img @ basis.T)[:8, :8].ravel()
    med = float(np.median(coeffs[1:]))
    v = 0
    for i, c in enumerate(coeffs):
        if float(c) > med:
            v |= 1 << i
    return _to_signed64(v)


def _gray_grid_stdlib(data: bytes, w: int, h: int) -> list[list[int]]:
    """Any stdlib-decodable payload (PNG/GIF/BMP/baseline JPEG) → w×h nearest-neighbour
    luminance grid for the perceptual hashers."""
    width, height, _mode, lum = _decode_image(data)
    return [[lum[(ty * height) // h][(tx * width) // w]
             for tx in range(w)] for ty in range(h)]


def _fake_phash(payload: bytes | None) -> int:
    """DETERMINISTIC FAKE tier: 56-bit value from sha256 digest bytes
    1-7 (big-endian) — positive, SQL-replayable byte arithmetic on the
    hex digest (the m02 oracle device), shared bit-for-bit with the
    ``m04`` DuckDB oracle."""
    dig = hashlib.sha256(payload or b"").digest()
    return int.from_bytes(dig[1:8], "big")


def image_phash(df: DataFrame, payload_col: str = "payload",
                id_col: str = "media_id", method: str = "dhash",
                use_codec: bool | None = None) -> DataFrame:
    """Perceptual 64-bit image hash per payload → ``(media_id, phash)``.

    ``method="dhash"`` (gradient sign over a 9×8 downsample) or
    ``"phash"`` (DCT low-frequency signs over 32×32).  Stdlib then fake,
    as :func:`decode_image_features`: PNG/GIF/BMP/baseline-JPEG payloads
    hash their real pixels (``use_codec`` None or True), everything else
    gets the sha-derived fake (:func:`_fake_phash`) — identical schema
    either way, so the banding join downstream never cares which tier a
    row came from.  Feed the output to :func:`phash_near_pairs` for
    hamming-banded near-duplicate pairs (the image sibling of text
    SimHash dedup, ``dedup.simhash_near_pairs``)."""
    if method not in ("dhash", "phash"):
        raise ValueError(f"method must be dhash|phash, got {method!r}")
    gw, gh, hasher = ((9, 8, _dhash_bits) if method == "dhash"
                      else (32, 32, _phash_bits))

    def real(data):
        return ([(hasher(_gray_grid_stdlib(data, gw, gh)),)]
                if _stdlib_decodable(data) else None)

    return _per_payload(df, payload_col, id_col, PHASH_SCHEMA, real,
                        lambda data: [(_fake_phash(data),)], use_codec)


def phash_near_pairs(sig: DataFrame, id_col: str = "media_id",
                     max_hamming: int = 3,
                     sig_col: str = "phash",
                     max_bucket: int | str | None = "auto") -> DataFrame:
    """Image near-duplicate pairs within ``max_hamming`` bits: 16-bit
    chunk banding + exact xor/bit_count verify — delegates to
    ``dedup.simhash_near_pairs`` (pigeonhole recall is exact for
    ``max_hamming`` ≤ 3 with 4 bands; the posting lists on (band, chunk)
    shuffle signatures only, never payloads).  ``max_bucket`` is that
    operator's hot-bucket cap: ``"auto"``, an int, or ``None`` to opt
    out."""
    from dataqtor_spark.operators.dedup import simhash_near_pairs

    return simhash_near_pairs(
        sig.select(F.col(id_col), F.col(sig_col).alias("simhash")),
        id_col, max_hamming=max_hamming, max_bucket=max_bucket)


FRAMES_SCHEMA = "media_id long, frame_index int, ts_ms long, frame binary"


def _avi_mjpeg_frames(data: bytes) -> tuple[int, list[bytes]]:
    """Demux an AVI container with stdlib byte arithmetic: returns
    (µs-per-frame from the ``avih`` header, the stream-0 video frame
    chunks in order).  For MJPEG AVIs each ``..dc``/``..db`` chunk IS a
    complete JPEG — no codec needed to extract; decoding the sampled
    JPEGs downstream is :func:`decode_image_features`' job.  Raises on
    anything that isn't a RIFF/AVI container (callers fall back
    per-row)."""
    import struct

    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI container")
    usec = 0
    frames: list[bytes] = []

    def walk(pos: int, end: int) -> None:
        nonlocal usec
        while pos + 8 <= end:
            fourcc = data[pos:pos + 4]
            size = struct.unpack("<I", data[pos + 4:pos + 8])[0]
            body = pos + 8
            if fourcc in (b"RIFF", b"LIST"):
                walk(body + 4, min(end, body + size))
            elif fourcc == b"avih" and size >= 4:
                usec = struct.unpack("<I", data[body:body + 4])[0]
            elif (fourcc[:2] == b"00"  # stream 0 only: the avih clock is
                  # stream 0's; a second video stream's chunks must not
                  # interleave into this frame list
                  and fourcc[2:4] in (b"dc", b"db") and size > 0):
                if body + size > end:  # lying/truncated size field: a
                    # partial frame is malformed, not a sample — raise so
                    # the caller's per-row fake fallback fires
                    raise ValueError("frame chunk overruns container")
                frames.append(data[body:body + size])
            pos = body + size + (size & 1)  # chunks pad to even offsets

    total = struct.unpack("<I", data[4:8])[0]
    walk(12, min(len(data), 8 + total))
    if not frames:
        raise ValueError("no video frame chunks")
    return (usec or 33333), frames


def sample_video_frames(df: DataFrame, every_ms: int = 1000, max_frames: int = 8,
                        payload_col: str = "payload", id_col: str = "media_id",
                        use_codec: bool | None = None) -> DataFrame:
    """Frame sampling, stdlib then fake: one input row → N frame rows,
    emitted inside the batch iterator (no join/explode shuffle).

    The stdlib tier (``use_codec`` None or True) demuxes MJPEG-in-AVI
    with a stdlib RIFF walker — the sampled frames are the container's
    literal JPEG chunks, timed by the ``avih`` frame clock and decimated
    to one frame per ``every_ms`` (≤ ``max_frames``).  No ffmpeg:
    container demux is byte arithmetic.  Any payload that isn't an
    extractable AVI (MP4/MKV/corrupt rows), and every payload under
    ``use_codec=False`` (the oracle-checked queries pin it), gets the
    deterministic sha-derived fake frames.  Compressed non-MJPEG codecs
    inside AVI still come out as their raw chunk bytes: sampling is
    codec-agnostic, decode is downstream."""
    def real(data):
        if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
            return None
        usec, frames = _avi_mjpeg_frames(data)
        step = max(1, round(every_ms * 1000 / usec))
        return [(j, src * usec // 1000, frames[src]) for j, src in
                enumerate(range(0, len(frames), step)[:max_frames])]

    def fake(data):
        dig = hashlib.sha256(data or b"").digest()
        return [(i, i * every_ms, dig + i.to_bytes(4, "big"))
                for i in range(1 + dig[3] % max_frames)]

    return _per_payload(df, payload_col, id_col, FRAMES_SCHEMA, real, fake,
                        use_codec)


AUDIO_FEATURES_SCHEMA = (
    "media_id long, duration_ms long, sample_rate int, n_channels int, rms float"
)


def _wav_pcm(data: bytes):
    """Integer-PCM WAV → (interleaved float64 samples in [-1, 1), sample
    rate, channels, frames) via stdlib ``wave`` + numpy — the decode
    half shared by the audio features and the fingerprinter."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(data)) as w:
        rate, channels = w.getframerate(), w.getnchannels()
        width, n_frames = w.getsampwidth(), w.getnframes()
        raw = w.readframes(n_frames)
    if width == 2:
        x = np.frombuffer(raw, "<i2").astype("float64") / 32768.0
    elif width == 1:  # 8-bit WAV is unsigned
        x = (np.frombuffer(raw, "u1").astype("float64") - 128.0) / 128.0
    elif width == 4:
        x = np.frombuffer(raw, "<i4").astype("float64") / 2147483648.0
    else:
        raise ValueError(f"unsupported PCM width {width}")
    return x, rate, channels, n_frames


def _is_wav(data: bytes) -> bool:
    return data[:4] == b"RIFF" and data[8:12] == b"WAVE"


def extract_audio_features(df: DataFrame, payload_col: str = "payload",
                           id_col: str = "media_id",
                           use_codec: bool | None = None) -> DataFrame:
    """Audio decode + feature extraction, stdlib then fake — the same
    Arrow-batched contract as :func:`decode_image_features`.

    The stdlib tier (``use_codec`` None or True) decodes integer-PCM WAV
    containers with stdlib ``wave`` + numpy: duration from frames/rate,
    vectorized RMS over the normalized samples.  Payloads that aren't
    RIFF/WAVE, or whose decode raises (mu-law/ADPCM, truncated, odd
    widths), get the deterministic sha-derived fake — compressed formats
    (mp3/flac/ogg) would need soundfile/ffmpeg.  ``use_codec=False``
    gives the fake everywhere (the oracle-checked queries pin it: their
    SQL replays the sha recipe)."""
    def real(data):
        if not _is_wav(data):
            return None
        import numpy as np

        x, rate, channels, n_frames = _wav_pcm(data)
        rms = float(np.sqrt(np.mean(x * x))) if x.size else 0.0
        return [(int(n_frames * 1000 / rate), rate, channels, rms)]

    def fake(data):
        dig = hashlib.sha256(data or b"").digest()
        return [(500 + int.from_bytes(dig[4:6], "big"),  # 0.5–66 s
                 [8000, 16000, 22050, 44100, 48000][dig[6] % 5],
                 1 + dig[7] % 2, dig[8] / 255.0)]

    return _per_payload(df, payload_col, id_col, AUDIO_FEATURES_SCHEMA, real,
                        fake, use_codec)


# ---------------------------------------------------------------------------
# perceptual audio fingerprinting (near-duplicate audio detection)
# ---------------------------------------------------------------------------

AUDIO_FP_SCHEMA = "media_id long, afp long"


def _wav_samples(data: bytes):
    """Integer-PCM WAV → (mono float64 samples in [-1, 1), sample rate):
    :func:`_wav_pcm` with multi-channel payloads mean-downmixed."""
    x, rate, channels, _n_frames = _wav_pcm(data)
    if channels > 1:
        x = x[:(x.size // channels) * channels]
        x = x.reshape(-1, channels).mean(axis=1)
    return x, rate


def _afp_bits(x, n_time: int = 9, n_bands: int = 8) -> int:
    """Spectral-gradient audio fingerprint — the audio sibling of image
    dHash: split the signal into ``n_time`` equal blocks, rFFT each, sum
    |X|² (DC dropped) into ``n_bands`` equal frequency bands, bit
    ``t*n_bands+b`` set iff band ``b``'s energy rose from block ``t`` to
    ``t+1``.  Signs of energy *differences* make it volume-invariant,
    and the coarse 9×8 time×band grid tolerates small edits — the same
    robustness argument as the image gradient hash, yielding the same
    64-bit shape for the shared hamming-banding index."""
    import numpy as np

    if x.size < n_time * n_bands * 2:
        raise ValueError("too few samples to fingerprint")
    blk = x.size // n_time
    spec = np.abs(np.fft.rfft(x[:blk * n_time].reshape(n_time, blk),
                              axis=1)) ** 2
    per_band = (spec.shape[1] - 1) // n_bands
    body = spec[:, 1:1 + per_band * n_bands]
    e = body.reshape(n_time, n_bands, -1).sum(axis=2)
    v = 0
    for t in range(n_time - 1):
        for b in range(n_bands):
            if e[t + 1, b] > e[t, b]:
                v |= 1 << (t * n_bands + b)
    return _to_signed64(v)


def audio_fingerprint(df: DataFrame, payload_col: str = "payload",
                      id_col: str = "media_id",
                      use_codec: bool | None = None) -> DataFrame:
    """64-bit perceptual audio fingerprint per payload →
    ``(media_id, afp)``, stdlib then fake.

    The stdlib tier (``use_codec`` None or True): integer-PCM WAV
    decodes with stdlib ``wave`` + numpy and hashes via
    :func:`_afp_bits` (9×8 time×band spectral-gradient signs).
    Compressed codecs (mp3/flac/ogg) would need soundfile/ffmpeg and get
    the deterministic sha-derived fake, as does every payload under
    ``use_codec=False`` (the oracle-pinned tier, same 56-bit sha recipe
    as :func:`_fake_phash` so the m06 DuckDB oracle replays it).  Feed
    to :func:`afp_near_pairs` for near-duplicate pairs — payloads never
    shuffle, 8 bytes per track do."""
    def real(data):
        return ([(_afp_bits(_wav_samples(data)[0]),)] if _is_wav(data)
                else None)

    return _per_payload(df, payload_col, id_col, AUDIO_FP_SCHEMA, real,
                        lambda data: [(_fake_phash(data),)], use_codec)


def afp_near_pairs(sig: DataFrame, id_col: str = "media_id",
                   max_hamming: int = 3,
                   sig_col: str = "afp",
                   max_bucket: int | str | None = "auto") -> DataFrame:
    """Audio near-duplicate pairs within ``max_hamming`` bits — the same
    4×16-bit hamming banding and ``max_bucket`` cap as
    :func:`phash_near_pairs` (shared ``dedup.simhash_near_pairs``
    machinery; pigeonhole recall exact at ≤3 bits)."""
    from dataqtor_spark.operators.dedup import simhash_near_pairs

    return simhash_near_pairs(
        sig.select(F.col(id_col), F.col(sig_col).alias("simhash")),
        id_col, max_hamming=max_hamming, max_bucket=max_bucket)


# ---------------------------------------------------------------------------
# container probing (mp4 / mp3 / wav) — REAL struct parsing, no codec
# ---------------------------------------------------------------------------

MEDIA_INFO_SCHEMA = ("media_id long, container string, duration_ms double, "
                     "n_tracks int, track_types array<string>, "
                     "sample_rate int, bit_rate int")


def _probe_mp4(data: bytes) -> tuple:
    """ISO BMFF (mp4/mov) box walk: ``mvhd`` gives timescale + duration,
    each ``trak``'s ``hdlr`` gives the track type (vide/soun/text…).
    Pure struct parsing — frame DECODE stays out of scope (ffmpeg), but
    the metadata a corpus triage actually filters on (duration, track
    mix) needs none of it."""
    import struct

    def walk(pos: int, end: int, path: tuple = ()):
        while pos + 8 <= end:
            size, btype = struct.unpack(">I4s", data[pos:pos + 8])
            hdr = 8
            if size == 1:                       # 64-bit largesize
                size = struct.unpack(">Q", data[pos + 8:pos + 16])[0]
                hdr = 16
            elif size == 0:                     # box runs to EOF
                size = end - pos
            if size < hdr or pos + size > end:
                raise ValueError("bad mp4 box")
            yield path + (btype,), pos + hdr, pos + size
            if btype in (b"moov", b"trak", b"mdia"):
                yield from walk(pos + hdr, pos + size, path + (btype,))
            pos += size

    duration_ms = None
    track_types: list[str] = []
    saw_moov = False
    for path, body, bend in walk(0, len(data)):
        if path == (b"moov",):
            saw_moov = True
        elif path == (b"moov", b"mvhd"):
            import struct as _s

            ver = data[body]
            if ver == 1:
                timescale, duration = _s.unpack(
                    ">IQ", data[body + 20:body + 32])
            else:
                timescale, duration = _s.unpack(
                    ">II", data[body + 12:body + 20])
            if timescale:
                duration_ms = duration * 1000.0 / timescale
        elif path == (b"moov", b"trak", b"mdia", b"hdlr"):
            track_types.append(data[body + 8:body + 12].decode(
                "ascii", "replace"))
    if not saw_moov:
        raise ValueError("no moov box")
    return ("mp4", duration_ms, len(track_types), track_types, None, None)


_MP3_BITRATES = [0, 32, 40, 48, 56, 64, 80, 96, 112, 128,
                 160, 192, 224, 256, 320]           # MPEG1 Layer III kbps
_MP3_RATES = [44100, 48000, 32000]


def _mp3_frame_header(data: bytes, pos: int) -> tuple | None:
    """Parse an MPEG-1 Layer III frame header at ``pos``; returns
    (bit_rate, sample_rate, frame_len) or None if not a valid header."""
    if pos + 4 > len(data) or data[pos] != 0xFF \
            or (data[pos + 1] & 0xE0) != 0xE0:
        return None
    b1, b2 = data[pos + 1], data[pos + 2]
    if (b1 & 0x18) != 0x18 or (b1 & 0x06) != 0x02:
        return None
    bi, ri = b2 >> 4, (b2 >> 2) & 0x03
    if bi in (0, 15) or ri == 3:
        return None
    bit_rate = _MP3_BITRATES[bi] * 1000
    rate = _MP3_RATES[ri]
    pad = (b2 >> 1) & 1
    return bit_rate, rate, 144 * bit_rate // rate + pad


def _probe_mp3(data: bytes) -> tuple:
    """MPEG-1 Layer III: skip the ID3v2 tag (synchsafe size), find a
    frame header, estimate duration from audio byte length at its
    bitrate (CBR assumption, documented).

    This is the LAST probe in ``probe_media_info``, so a lone
    sync-looking byte pair inside arbitrary binary (an image, truncated
    media) must not classify the payload as mp3 with a garbage duration:
    a candidate header is accepted only if a SECOND valid header sits
    exactly one computed frame length after it (real CBR streams chain
    frames back-to-back) — or the single frame is the whole remaining
    payload of a stream that starts properly with ID3/sync."""
    start = 0
    if data[:3] == b"ID3":
        flags = data[5]
        size = ((data[6] & 0x7F) << 21 | (data[7] & 0x7F) << 14
                | (data[8] & 0x7F) << 7 | (data[9] & 0x7F))
        start = 10 + size + (10 if flags & 0x10 else 0)
    pos = start
    while pos + 4 <= len(data):
        hdr = _mp3_frame_header(data, pos)
        if hdr is not None:
            bit_rate, rate, flen = hdr
            chained = _mp3_frame_header(data, pos + flen) is not None
            whole_single = (pos == start and pos + flen >= len(data))
            if chained or whole_single:
                dur = (len(data) - pos) * 8000.0 / bit_rate
                return ("mp3", dur, 1, ["soun"], rate, bit_rate)
        pos += 1
    raise ValueError("no chained mp3 frame sync")


def _probe_wav(data: bytes) -> tuple:
    """RIFF/WAVE fmt + data chunks: channels, rate, duration — stdlib
    struct only (the decode path lives in extract_audio_features)."""
    import struct

    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not wav")
    pos, rate, block_align, byte_rate, data_len = 12, None, None, None, None
    while pos + 8 <= len(data):
        tag, size = data[pos:pos + 4], struct.unpack(
            "<I", data[pos + 4:pos + 8])[0]
        if tag == b"fmt ":
            _fmt, _ch, rate, byte_rate, block_align = struct.unpack(
                "<HHIIH", data[pos + 8:pos + 22])
            channels = _ch
        elif tag == b"data":
            data_len = size
        pos += 8 + size + (size & 1)
    if rate is None:
        raise ValueError("no fmt chunk")
    dur = (data_len * 1000.0 / byte_rate
           if data_len is not None and byte_rate else None)
    return ("wav", dur, 1, ["soun"], rate,
            byte_rate * 8 if byte_rate else None)


def probe_media_info(df: DataFrame, payload_col: str = "payload",
                     id_col: str = "media_id") -> DataFrame:
    """Typed container metadata for mp4/mp3/wav payloads, stdlib then
    fake — REAL parsing of the container structures (boxes / frame
    headers / RIFF chunks), which unlike frame decode needs no codec
    library anywhere.  The fake tier is a NULL-container row: unknown or
    malformed payloads yield it instead of failing the job.
    Arrow-batched ``mapInPandas``; payloads never shuffle."""
    def real(data):
        for probe in (_probe_wav, _probe_mp4, _probe_mp3):
            try:
                return [probe(data)]
            except Exception:
                continue
        return None

    return _per_payload(df, payload_col, id_col, MEDIA_INFO_SCHEMA, real,
                        lambda data: [(None,) * 6])


def phash_bands(sig_col: Column) -> Column:
    """4×16-bit hamming band array for a 64-bit perceptual hash —
    ``array<struct<band:int, bhash:bigint>>`` for explode + equi-join
    (the banding used by ``phash_near_pairs`` / the streaming image
    dedup sink, shared so index layouts agree)."""
    chunks = []
    for b in range(4):
        chunks.append(F.struct(
            F.lit(b).alias("band"),
            F.shiftrightunsigned(sig_col, b * 16)
            .bitwiseAND(F.lit(0xFFFF)).alias("bhash")))
    return F.array(*chunks)


def video_near_dup_pairs(frame_sigs: DataFrame, video_col: str = "media_id",
                         sig_col: str = "phash",
                         min_matches: int = 3,
                         max_bucket: int | str | None = "auto"
                         ) -> DataFrame:
    """Video-level near-duplicate pairs from per-frame perceptual
    hashes: two videos match when ≥ ``min_matches`` of their sampled
    frames share a fingerprint — the standard frame-sampling video
    dedup (sample → pHash per frame → overlap count), robust to
    re-encodes and trims that preserve most frames.

    Input is ``(video_col, sig_col)`` one row per sampled frame (from
    :func:`sample_video_frames` → :func:`image_phash`, any decode
    tier).  Candidates come from fingerprint posting lists — only
    8-byte signatures shuffle, pairs expand in-row per list, and pairs
    exist only where frames actually collide (never video × video).
    ``max_bucket`` bounds the |list|²/2 expansion on hot fingerprints
    (near-black frames, solid-color cards shared by millions of videos
    at 100 TB) by the one rule of ``dedup._cap_groups``: the default
    ``"auto"`` engages ``max(1024, isqrt(n))`` once the n distinct
    videos reach ``AUTO_GUARD_MIN_DOCS``, resolved in-plan; an int pins
    the cap; ``None`` opts out.  Videos sharing ONLY capped
    fingerprints can be missed — those frames are boilerplate the
    overlap count shouldn't ride anyway (documented recall trade).
    Returns ``(id_a, id_b, n_matched)`` with ``id_a < id_b``."""
    from dataqtor_spark.operators.dedup import _cap_groups

    sigs = frame_sigs.select(F.col(video_col).alias("__v"),
                             F.col(sig_col).alias("__s")).distinct()
    posts = (sigs.groupBy("__s")
             .agg(F.sort_array(F.collect_list("__v")).alias("ids"))
             .filter(F.size("ids") > 1))
    posts = _cap_groups(posts, max_bucket,
                        frame_sigs.select(video_col).distinct())
    return (posts.select(F.explode(F.expr(
                "flatten(transform(ids, (x, i) -> "
                "transform(slice(ids, i + 2, size(ids)), "
                "y -> struct(x as id_a, y as id_b))))")).alias("p"))
            .groupBy(F.col("p.id_a").alias("id_a"),
                     F.col("p.id_b").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("n_matched"))
            .filter(F.col("n_matched") >= min_matches))
