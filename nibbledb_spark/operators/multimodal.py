"""Multimodal column plumbing (SURVEY.md §2 Part C).

Media (image/audio/video) rides as opaque ``binary`` payload columns
with a typed metadata struct. The Spark-side plumbing — schema,
partition sizing, Arrow batch shape through ``mapInPandas`` — is real
and tested. So are most codecs by now, pure stdlib+numpy: PPM(P6),
24-bit BMP, 8-bit PNG (all filters), huffman JPEG (baseline AND
progressive incl. successive approximation), GIF87a/89a (full LZW,
interlace, transparency, frame compositing — stills AND animations),
baseline TIFF 6.0 (both byte orders, strips, none/LZW/PackBits,
predictor 2), 16-bit PCM WAV, and G.711 A-law/mu-law WAV. Codecs that genuinely need external libraries
(video frame decode, WebP/AVIF, mp3/aac/opus, arithmetic-coded JPEG)
stay behind ``NotImplementedError`` or a clearly-marked deterministic
fake so the pipeline shape can still be exercised end-to-end.
"""

from __future__ import annotations

import bisect
import hashlib
import os
from collections.abc import Iterator, Mapping, Sequence
from struct import error as struct_error

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# canonical media schema: payload + typed metadata
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType(), True),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                ]
            ),
            True,
        ),
    ]
)

def _decode_bmp(payload: bytes) -> object:
    """Uncompressed 24-bit BI_RGB Windows BMP -> HxWx3 uint8 RGB.

    Pure numpy: parse the BITMAPFILEHEADER pixel offset and the info
    header's width/height/bpp/compression, then reshape the padded
    bottom-up BGR rows. Anything but 24bpp BI_RGB raises — same
    codec-absence seam as compressed formats."""
    import struct

    import numpy as np

    if len(payload) < 54:
        raise ValueError("truncated BMP header")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size = struct.unpack_from("<I", payload, 14)[0]
    if hdr_size < 40:
        raise NotImplementedError("BITMAPCOREHEADER BMP not supported")
    w, h_signed = struct.unpack_from("<ii", payload, 18)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            "only uncompressed 24-bit BI_RGB BMP decodes without codec libs"
        )
    top_down = h_signed < 0
    h = abs(h_signed)
    stride = (w * 3 + 3) & ~3  # rows pad to 4 bytes
    # bound-check BEFORE frombuffer: hostile headers (e.g. w=h=2^31-1)
    # otherwise overflow C ssize_t or read past the payload — corrupt
    # files must surface as ValueError (flagged), not kill the batch
    if w <= 0 or h <= 0 or planes != 1:
        raise ValueError(f"invalid BMP dimensions {w}x{h_signed}")
    if data_off < 54 or data_off + stride * h > len(payload):
        raise ValueError("truncated BMP pixel data")
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=stride * h, offset=data_off
    ).reshape(h, stride)[:, : w * 3]
    bgr = rows.reshape(h, w, 3)
    if not top_down:
        bgr = bgr[::-1]
    return bgr[:, :, ::-1].copy()  # BGR -> RGB


def _png_unfilter(rows, stride, bpp):
    """Invert PNG scanline filters for one (sub-)image: rows is a
    (h, stride+1) uint8 array (filter byte + filtered bytes); ``bpp``
    is the filter delta distance in BYTES (1 for sub-byte depths, e.g.
    6 for 16-bit RGB); returns the (h, stride) reconstructed bytes.

    Cost note: Sub/Average/Paeth rows are byte-sequential by
    definition (each byte depends on the one bpp earlier), so those
    rows decode in a Python loop — fine inside the Arrow-batched
    ``mapInPandas`` seam at fixture scale; swap PIL in at this seam for
    production throughput."""
    import numpy as np

    h = rows.shape[0]
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        f = int(rows[y, 0])
        line = rows[y, 1:].astype(np.int32)
        if f == 0:
            cur = line
        elif f == 2:  # Up: whole-row vectorized
            cur = (line + prev) & 0xFF
        elif f in (1, 3, 4):
            cur = np.empty(stride, dtype=np.int32)
            for i in range(stride):
                a = int(cur[i - bpp]) if i >= bpp else 0
                b = int(prev[i])
                if f == 1:  # Sub
                    v = line[i] + a
                elif f == 3:  # Average
                    v = line[i] + ((a + b) >> 1)
                else:  # Paeth
                    c = int(prev[i - bpp]) if i >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    v = line[i] + pred
                cur[i] = v & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {f}")
        out[y] = cur
        prev = cur
    return out


# Adam7 interlace passes: (x_offset, y_offset, x_stride, y_stride)
_PNG_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _decode_png(payload: bytes) -> object:
    """8-bit PNG -> HxWx3 uint8 RGB — REAL decode with zlib (stdlib) +
    numpy, no codec libs: chunk walk (IHDR/PLTE/IDAT/IEND, CRCs
    skipped), inflate, scanline unfiltering per the spec
    (None/Sub/Up/Average/Paeth), both sequential and Adam7-interlaced
    layouts (each interlace pass unfilters independently, then pixels
    scatter by the pass grid). Grayscale expands to RGB; RGBA drops
    alpha; palette (color type 3) maps through PLTE at depths 1/2/4/8;
    1/2/4-bit grayscale expands to the full 8-bit range; 16-bit samples
    keep their high byte (the standard 8-bit view).
    """
    import struct
    import zlib

    import numpy as np

    if len(payload) < 8 or payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("bad PNG signature")
    pos, ihdr, idat, plte = 8, None, [], None
    while pos + 8 <= len(payload):
        ln, typ = struct.unpack(">I4s", payload[pos : pos + 8])
        pos += 8
        if ln > len(payload) or pos + ln + 4 > len(payload):
            raise ValueError("truncated PNG chunk")
        data = payload[pos : pos + ln]
        pos += ln + 4  # skip CRC (integrity is the transport's problem)
        if typ == b"IHDR":
            ihdr = data
        elif typ == b"PLTE":
            plte = data
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
    if ihdr is None or len(ihdr) != 13 or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, ctype, comp, filt, interlace = struct.unpack(">IIBBBBB", ihdr)
    if comp != 0 or filt != 0:
        raise ValueError("invalid PNG compression/filter method")
    if interlace not in (0, 1):
        raise ValueError(f"unknown PNG interlace method {interlace}")
    channels = {0: 1, 2: 3, 3: 1, 6: 4}.get(ctype)
    if channels is None:
        raise NotImplementedError(f"PNG color type {ctype} not supported")
    valid_depths = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8), 6: (8, 16)}
    if depth not in valid_depths[ctype]:
        raise ValueError(f"invalid PNG depth {depth} for color type {ctype}")
    if ctype == 3:
        if plte is None or len(plte) % 3 or not plte:
            raise ValueError("palette PNG missing/invalid PLTE")
        palette = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
    if w <= 0 or h <= 0 or w * h > 64_000_000:  # hostile-header bound
        raise ValueError(f"invalid PNG dimensions {w}x{h}")

    if interlace == 0:
        sub = [(0, 0, 1, 1, w, h)]
    else:
        sub = []
        for x0, y0, dx, dy in _PNG_ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw > 0 and ph > 0:
                sub.append((x0, y0, dx, dy, pw, ph))
    bpp = max(1, channels * depth // 8)  # filter delta distance, bytes

    def pass_stride(pw):
        return -(-(pw * channels * depth) // 8)

    expect = sum(ph * (pass_stride(pw) + 1) for _, _, _, _, pw, ph in sub)
    # bound the inflate by the size the header promises BEFORE allocating:
    # a decompression bomb must come back as a flagged ValueError, not a
    # MemoryError that kills the whole Arrow batch
    try:
        d = zlib.decompressobj()
        raw = d.decompress(b"".join(idat), expect + 1)
    except zlib.error as e:
        raise ValueError(f"corrupt PNG stream: {e}") from e
    if len(raw) != expect or d.decompress(b"", 1):
        raise ValueError("PNG pixel data size mismatch")

    img = np.zeros((h, w, channels), dtype=np.uint8)
    off = 0
    for x0, y0, dx, dy, pw, ph in sub:
        stride = pass_stride(pw)
        size = ph * (stride + 1)
        rows = np.frombuffer(raw[off : off + size], dtype=np.uint8).reshape(
            ph, stride + 1
        )
        off += size
        flat = _png_unfilter(rows, stride, bpp)
        if depth == 8:
            pix = flat.reshape(ph, pw, channels)
        elif depth == 16:
            # big-endian sample pairs; keep the high byte (8-bit view)
            pix = flat.reshape(ph, pw, channels, 2)[:, :, :, 0]
        else:
            # sub-byte gray/palette: unpack MSB-first, regroup per pixel
            cells = np.unpackbits(flat, axis=1)[:, : pw * depth].reshape(
                ph, pw, depth
            )
            weights = 1 << np.arange(depth - 1, -1, -1)
            pix = (cells * weights).sum(axis=2).astype(np.uint8)[:, :, None]
            if ctype == 0:  # expand 1/2/4-bit gray to full 8-bit range
                pix = pix * np.uint8(255 // ((1 << depth) - 1))
        img[y0::dy, x0::dx] = pix
    if ctype == 3:
        idx = img[:, :, 0]
        if int(idx.max()) * 3 >= len(plte):
            raise ValueError("PNG palette index out of range")
        return palette[idx]
    if channels == 1:
        img = np.repeat(img, 3, axis=2)
    elif channels == 4:
        img = img[:, :, :3]
    return img


# JPEG natural index of each coefficient in zigzag scan order (ITU T.81
# Figure 5 — public spec constants).
_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def _jpeg_huff_table(counts: list[int], symbols: list[int]) -> dict:
    """Canonical Huffman table (T.81 Annex C): (length, code) -> symbol."""
    lut, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(counts[ln - 1]):
            if k >= len(symbols):
                raise ValueError("truncated JPEG huffman table")
            lut[(ln, code)] = symbols[k]
            k += 1
            code += 1
        code <<= 1
    return lut


class _JpegBits:
    """MSB-first bit reader over the entropy-coded segment: un-stuffs
    0xFF00, byte-aligns at restart markers, and treats reaching any
    other marker mid-read as truncation (a valid baseline stream never
    starves — trailing bits in the last byte are padding we never ask
    for)."""

    def __init__(self, data: bytes, pos: int):
        self.d, self.p, self.acc, self.n = data, pos, 0, 0

    def bit(self) -> int:
        if self.n == 0:
            if self.p >= len(self.d):
                raise ValueError("truncated JPEG scan")
            b = self.d[self.p]
            if b == 0xFF:
                nxt = self.d[self.p + 1] if self.p + 1 < len(self.d) else 0xD9
                if nxt != 0x00:
                    raise ValueError("truncated JPEG scan (marker reached)")
                self.p += 2
            else:
                self.p += 1
            self.acc, self.n = b, 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def restart(self) -> None:
        self.n = 0  # drop padding bits: restart markers are byte-aligned
        if (
            self.p + 2 > len(self.d)
            or self.d[self.p] != 0xFF
            or not (0xD0 <= self.d[self.p + 1] <= 0xD7)
        ):
            raise ValueError("missing JPEG restart marker")
        self.p += 2

    def huff(self, tbl: dict) -> int:
        code = 0
        for ln in range(1, 17):
            code = (code << 1) | self.bit()
            sym = tbl.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG huffman code")

    def bits(self, n: int) -> int:
        """Read n raw bits MSB-first (EOB-run extensions etc.)."""
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def receive_extend(self, s: int) -> int:
        """T.81 F.2.2.1: read an s-bit magnitude, sign-extend."""
        if s == 0:
            return 0
        v = self.bits(s)
        if v < (1 << (s - 1)):
            v -= (1 << s) - 1
        return v


def _jpeg_next_marker(payload: bytes, pos: int) -> int:
    """Advance past entropy-coded data to the next real marker (skips
    stuffed 0xFF00 and restart markers)."""
    while pos < len(payload):
        if (
            payload[pos] == 0xFF
            and pos + 1 < len(payload)
            and payload[pos + 1] != 0x00
            and not (0xD0 <= payload[pos + 1] <= 0xD7)
        ):
            return pos
        pos += 1
    return pos


def _jpeg_decode_scan(
    payload: bytes,
    pos: int,
    comps: list,
    scan: list,
    ss: int,
    se: int,
    ah: int,
    al: int,
    ri: int,
    mcux: int,
    mcuy: int,
    progressive: bool,
) -> int:
    """Decode ONE entropy-coded segment into the components'
    coefficient arrays (T.81 F.2 sequential; G.1.2 progressive with
    spectral selection + successive approximation). Returns the
    position of the next marker.

    ``scan`` is [(comp, dc_table_or_None, ac_table_or_None), ...] in
    scan order; coefficient arrays persist ACROSS scans, which is what
    makes progressive refinement work."""
    br = _JpegBits(payload, pos)
    pred = {id(c): 0 for c, _, _ in scan}
    eobrun = [0]
    p1, m1 = 1 << al, -1 << al
    # NB: coefficient arrays hold ZIGZAG order throughout — index k is
    # the scan position; de-zigzag happens once at dequant time.

    def refine_nonzero(coef, k):
        """Append one correction bit to an already-nonzero coefficient
        (G.1.2.3): magnitude grows only when the bit is 1 and this
        refinement level isn't set yet."""
        v = coef[k]
        if br.bit() and (v & p1) == 0:
            coef[k] = v + (p1 if v >= 0 else m1)

    def decode_block_seq(coef, comp, dct, act):
        s = br.huff(dct)
        pred[id(comp)] += br.receive_extend(s)
        coef[0] = pred[id(comp)]
        k = 1
        while k <= 63:
            rs = br.huff(act)
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r != 15:
                    break  # EOB
                k += 16  # ZRL
                continue
            k += r
            if k > 63:
                raise ValueError("JPEG AC coefficient overrun")
            coef[k] = br.receive_extend(s)
            k += 1

    def decode_block_dc(coef, comp, dct):
        if ah == 0:  # first DC scan: diff at reduced precision
            s = br.huff(dct)
            pred[id(comp)] += br.receive_extend(s)
            coef[0] = pred[id(comp)] << al
        elif br.bit():  # refinement: one raw bit per block
            coef[0] |= p1

    def decode_block_ac_first(coef, act):
        if eobrun[0] > 0:
            eobrun[0] -= 1
            return
        k = ss
        while k <= se:
            rs = br.huff(act)
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r < 15:  # EOBn: (1<<r)+ext blocks end here incl. this one
                    eobrun[0] = (1 << r) - 1 + br.bits(r)
                    break
                k += 16
                continue
            k += r
            if k > se:
                raise ValueError("JPEG AC coefficient overrun")
            coef[k] = br.receive_extend(s) << al
            k += 1

    def decode_block_ac_refine(coef, act):
        k = ss
        if eobrun[0] == 0:
            while k <= se:
                rs = br.huff(act)
                r, s = rs >> 4, rs & 15
                val = 0
                if s == 0:
                    if r < 15:  # EOBn (includes this block)
                        eobrun[0] = (1 << r) + br.bits(r)
                        break
                    # r == 15: sixteen zero-history positions
                else:
                    if s != 1:
                        raise ValueError("invalid JPEG AC refinement magnitude")
                    val = p1 if br.bit() else m1
                while k <= se:
                    if coef[k] != 0:
                        refine_nonzero(coef, k)
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if val:
                    if k > se:
                        raise ValueError("JPEG AC refinement overrun")
                    coef[k] = val
                k += 1
        if eobrun[0] > 0:
            while k <= se:
                if coef[k] != 0:
                    refine_nonzero(coef, k)
                k += 1
            eobrun[0] -= 1

    def decode_block(coef, comp, dct, act):
        if not progressive:
            decode_block_seq(coef, comp, dct, act)
        elif ss == 0:
            decode_block_dc(coef, comp, dct)
        elif ah == 0:
            decode_block_ac_first(coef, act)
        else:
            decode_block_ac_refine(coef, act)

    def do_restart():
        br.restart()
        for key in pred:
            pred[key] = 0
        eobrun[0] = 0

    if len(scan) > 1:
        # interleaved: MCU order, every selected component's h x v blocks
        for mi in range(mcux * mcuy):
            if ri and mi and mi % ri == 0:
                do_restart()
            my, mx = divmod(mi, mcux)
            for comp, dct, act in scan:
                for v in range(comp["v"]):
                    for h in range(comp["h"]):
                        decode_block(
                            comp["zz"][my * comp["v"] + v, mx * comp["h"] + h],
                            comp,
                            dct,
                            act,
                        )
    else:
        # non-interleaved: the single component's own block grid,
        # row-major, restart interval counted in blocks
        comp, dct, act = scan[0]
        for bi in range(comp["nbh"] * comp["nbw"]):
            if ri and bi and bi % ri == 0:
                do_restart()
            by, bx = divmod(bi, comp["nbw"])
            decode_block(comp["zz"][by, bx], comp, dct, act)

    return _jpeg_next_marker(payload, br.p)


def _decode_jpeg(payload: bytes) -> object:
    """JFIF JPEG -> HxWx3 uint8 RGB: baseline AND progressive,
    huffman-coded, 8-bit.

    Pure stdlib + numpy (T.81 is a public spec): marker parse -> DQT /
    DHT / DRI / SOF / SOS -> huffman-decode every entropy-coded scan
    into persistent per-component coefficient arrays (sequential F.2;
    progressive G.1.2: DC first/refine, AC spectral-selection bands,
    successive-approximation refinement with EOB runs; restart
    intervals in both) -> dequantize, de-zigzag, batched orthonormal
    8x8 IDCT (one matmul per component, not per block) -> chroma
    upsample by replication -> YCbCr->RGB. Arithmetic coding,
    hierarchical, 12-bit, and CMYK payloads raise NotImplementedError —
    those stay at the documented PIL swap-in seam."""
    import struct

    import numpy as np

    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        raise ValueError("bad JPEG signature")
    qt: dict[int, object] = {}
    hufftabs: dict[tuple[int, int], dict] = {}
    frame = None
    comps: list = []
    saw_scan = False
    progressive = False
    geom = None  # (mcux, mcuy) once SOF seen
    ri = 0
    pos = 2
    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("corrupt JPEG marker stream")
        # T.81 B.1.1.2: a marker may be preceded by any number of 0xFF
        # fill bytes — skip them so 0xFF isn't parsed as a marker code.
        while pos + 2 <= len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        if pos + 2 > len(payload):
            break
        m = payload[pos + 1]
        pos += 2
        if m in (0xD8, 0x01) or 0xD0 <= m <= 0xD7:
            continue
        if m == 0xD9:
            break
        if pos + 2 > len(payload):
            raise ValueError("truncated JPEG segment")
        ln = struct.unpack(">H", payload[pos : pos + 2])[0]
        if ln < 2 or pos + ln > len(payload):
            raise ValueError("truncated JPEG segment")
        seg = payload[pos + 2 : pos + ln]
        if m == 0xDB:  # DQT (possibly several tables per segment)
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 15
                i += 1
                width = 128 if pq else 64
                raw = seg[i : i + width]
                if len(raw) != width:
                    raise ValueError("truncated JPEG quant table")
                i += width
                dt = ">u2" if pq else np.uint8
                qt[tq] = np.frombuffer(raw, dtype=dt).astype(np.int32)
        elif m == 0xC4:  # DHT (possibly several tables per segment)
            i = 0
            while i + 17 <= len(seg):
                tc, th = seg[i] >> 4, seg[i] & 15
                counts = list(seg[i + 1 : i + 17])
                nsym = sum(counts)
                symbols = list(seg[i + 17 : i + 17 + nsym])
                if len(symbols) != nsym:
                    raise ValueError("truncated JPEG huffman table")
                hufftabs[(tc, th)] = _jpeg_huff_table(counts, symbols)
                i += 17 + nsym
        elif m in (0xC0, 0xC1, 0xC2):  # baseline / ext-sequential / progressive
            progressive = m == 0xC2
            if seg[0] != 8:
                raise NotImplementedError("only 8-bit JPEG supported")
            h_img, w_img, nc = struct.unpack(">HHB", seg[1:6])
            if len(seg) < 6 + 3 * nc:
                raise ValueError("truncated JPEG frame header")
            if not (0 < h_img and 0 < w_img) or h_img * w_img > 64_000_000:
                raise ValueError(f"invalid JPEG dimensions {w_img}x{h_img}")
            if nc == 4:
                raise NotImplementedError("CMYK JPEG not supported")
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 15, "tq": tq})
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            for c in comps:
                if (
                    not (1 <= c["h"] <= 4 and 1 <= c["v"] <= 4)
                    or hmax % c["h"]
                    or vmax % c["v"]
                ):
                    raise ValueError("invalid JPEG sampling factors")
            mcux = (w_img + 8 * hmax - 1) // (8 * hmax)
            mcuy = (h_img + 8 * vmax - 1) // (8 * vmax)
            for c in comps:
                # interleaved grid (>= the non-interleaved grid)
                c["zz"] = np.zeros((mcuy * c["v"], mcux * c["h"], 64), dtype=np.int32)
                # non-interleaved block grid (T.81 A.1.1 component dims)
                cw = -(-(w_img * c["h"]) // hmax)
                ch = -(-(h_img * c["v"]) // vmax)
                c["nbw"], c["nbh"] = -(-cw // 8), -(-ch // 8)
            frame = (h_img, w_img)
            geom = (mcux, mcuy, hmax, vmax)
        elif m in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError("non-huffman/hierarchical JPEG coding process")
        elif m == 0xDD:
            ri = struct.unpack(">H", seg[:2])[0]
        elif m == 0xDA:  # SOS header + entropy-coded segment
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = seg[0]
            if len(seg) < 4 + 2 * ns:
                raise ValueError("truncated JPEG scan header")
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahal = seg[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 15
            if not progressive:
                ss, se, ah, al = 0, 63, 0, 0  # baseline ignores them
            elif ss == 0 and se != 0:
                raise ValueError("progressive DC scan with nonzero Se")
            elif ss > 0 and ns != 1:
                raise ValueError("progressive AC scan must be single-component")
            scan = []
            for c in range(ns):
                cs, tdta = seg[1 + 2 * c], seg[2 + 2 * c]
                comp = next((x for x in comps if x["id"] == cs), None)
                if comp is None:
                    raise ValueError("JPEG scan references unknown component")
                td, ta = tdta >> 4, tdta & 15
                # DC table needed unless this is a DC-refinement scan;
                # AC table needed only when the scan covers AC coefficients
                need_dc = ss == 0 and not (progressive and ah > 0)
                need_ac = se > 0
                dct = hufftabs.get((0, td))
                act = hufftabs.get((1, ta))
                if (need_dc and dct is None) or (need_ac and act is None):
                    raise ValueError("JPEG scan references missing huffman table")
                scan.append((comp, dct, act))
            mcux, mcuy = geom[0], geom[1]
            saw_scan = True
            pos = _jpeg_decode_scan(
                payload, pos + ln, comps, scan, ss, se, ah, al, ri,
                mcux, mcuy, progressive,
            )
            continue
        pos += ln
    if frame is None or not saw_scan:
        raise ValueError("JPEG missing SOF/SOS")
    h_img, w_img = frame
    mcux, mcuy, hmax, vmax = geom
    for c in comps:
        if c["tq"] not in qt:
            raise ValueError("JPEG component references missing quant table")

    # orthonormal 8x8 IDCT basis: spatial = M.T @ S @ M
    u = np.arange(8).reshape(8, 1)
    x = np.arange(8).reshape(1, 8)
    M = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16)
    M[0] /= np.sqrt(2.0)
    planes = []
    for c in comps:
        deq = c["zz"] * qt[c["tq"]][None, None, :]  # both in zigzag order
        nat = np.zeros_like(deq)
        nat[..., _JPEG_ZIGZAG] = deq
        blocks = nat.reshape(nat.shape[0], nat.shape[1], 8, 8).astype(np.float64)
        spatial = M.T @ blocks @ M + 128.0
        bh, bw = blocks.shape[:2]
        plane = spatial.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
        plane = np.repeat(np.repeat(plane, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        planes.append(plane[:h_img, :w_img])
    if len(planes) == 1:
        y = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        return np.repeat(y[:, :, None], 3, axis=2)
    yy, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
    rgb = np.stack(
        [
            yy + 1.402 * cr,
            yy - 0.344136 * cb - 0.714136 * cr,
            yy + 1.772 * cb,
        ],
        axis=2,
    )
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _lzw_decode(data: bytes, min_code_size: int, max_pixels: int) -> bytearray:
    """GIF-flavor LZW: LSB-first variable-width codes, CLEAR/EOI,
    dictionary capped at 4096 entries (GIF89a spec appendix F). Returns
    the decoded index stream; tolerates a missing EOI (common in the
    wild) but raises ``ValueError`` on codes beyond the dictionary or
    output beyond ``max_pixels`` (hostile-stream bound, the BMP/PPM
    header-check discipline)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    literals = [bytes([i]) for i in range(clear)] + [b"", b""]

    out = bytearray()
    dict_ = list(literals)
    width = min_code_size + 1
    prev: bytes | None = None
    acc = nbits = 0
    pos = 0
    while True:
        while nbits < width:
            if pos >= len(data):
                return out  # stream ended without EOI
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            dict_ = list(literals)
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            return out
        if prev is None:
            if code >= clear:
                raise ValueError("corrupt GIF LZW stream (non-literal first code)")
            entry = dict_[code]
        elif code < len(dict_):
            entry = dict_[code]
        elif code == len(dict_):
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError("corrupt GIF LZW stream (code beyond dictionary)")
        out += entry
        if len(out) > max_pixels:
            raise ValueError("GIF LZW output exceeds frame size")
        if prev is not None and len(dict_) < 4096:
            dict_.append(prev + entry[:1])
            if len(dict_) == (1 << width) and width < 12:
                width += 1
        prev = entry


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def decode_gif(payload: bytes) -> dict:
    """Full GIF87a/89a decode, pure stdlib+numpy: returns ``{"width",
    "height", "frames": [HxWx3 uint8 canvases], "ts_ms": [frame start
    times], "delays_ms": [per-frame display times]}``.

    REAL end to end: LZW (:func:`_lzw_decode`), global and local color
    tables, interlaced frames (the 4-pass row shuffle), GIF89a graphic
    control extensions (per-frame delay, transparency index, disposal
    methods 0/1 draw-over, 2 restore-background, 3 restore-previous),
    and sub-frame rectangles composited onto the logical screen — each
    returned frame is the full composited canvas, so downstream image
    operators (dhash, stats, near-dup) see what a viewer would.
    Undrawn/restored background is black (the browser convention;
    the spec's background-color-index is widely ignored by encoders).
    Zero/sub-2cs frame delays clamp to 100 ms, also the browser
    convention, so frame timing is always usable for sampling.
    Malformed containers raise ``ValueError``; there is no
    NotImplementedError seam — GIF has no codec variants.
    """
    import numpy as np

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    if len(payload) < 13:
        raise ValueError("truncated GIF header")
    width = int.from_bytes(payload[6:8], "little")
    height = int.from_bytes(payload[8:10], "little")
    if width <= 0 or height <= 0:
        raise ValueError(f"invalid GIF dimensions ({width}x{height})")
    flags = payload[10]
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 ** ((flags & 7) + 1)
        if pos + n * 3 > len(payload):
            raise ValueError("truncated GIF color table")
        gct = np.frombuffer(payload, np.uint8, n * 3, pos).reshape(n, 3)
        pos += n * 3

    def subblocks(p: int) -> tuple[bytes, int]:
        out = bytearray()
        while True:
            if p >= len(payload):
                raise ValueError("truncated GIF data sub-blocks")
            n = payload[p]
            p += 1
            if n == 0:
                return bytes(out), p
            if p + n > len(payload):
                raise ValueError("truncated GIF data sub-blocks")
            out += payload[p : p + n]
            p += n

    canvas = np.zeros((height, width, 3), np.uint8)
    frames: list = []
    delays_ms: list[int] = []
    transparent: int | None = None
    delay_cs = 0
    disposal = 0
    while pos < len(payload) and payload[pos] != 0x3B:
        block = payload[pos]
        pos += 1
        if block == 0x21:  # extension
            if pos >= len(payload):
                raise ValueError("truncated GIF extension")
            label = payload[pos]
            data, pos = subblocks(pos + 1)
            if label == 0xF9 and len(data) >= 4:  # graphic control
                disposal = (data[0] >> 2) & 7
                delay_cs = int.from_bytes(data[1:3], "little")
                transparent = data[3] if data[0] & 1 else None
        elif block == 0x2C:  # image descriptor
            if pos + 9 > len(payload):
                raise ValueError("truncated GIF image descriptor")
            left = int.from_bytes(payload[pos : pos + 2], "little")
            top = int.from_bytes(payload[pos + 2 : pos + 4], "little")
            fw = int.from_bytes(payload[pos + 4 : pos + 6], "little")
            fh = int.from_bytes(payload[pos + 6 : pos + 8], "little")
            lflags = payload[pos + 8]
            pos += 9
            if fw <= 0 or fh <= 0 or left + fw > width or top + fh > height:
                raise ValueError("GIF frame rectangle outside logical screen")
            ct = gct
            if lflags & 0x80:
                n = 2 ** ((lflags & 7) + 1)
                if pos + n * 3 > len(payload):
                    raise ValueError("truncated GIF local color table")
                ct = np.frombuffer(payload, np.uint8, n * 3, pos).reshape(n, 3)
                pos += n * 3
            if ct is None:
                raise ValueError("GIF frame has no color table")
            if pos >= len(payload):
                raise ValueError("truncated GIF image data")
            min_code = payload[pos]
            pos += 1
            if not 2 <= min_code <= 11:
                raise ValueError(f"invalid GIF LZW min code size {min_code}")
            data, pos = subblocks(pos)
            idx = _lzw_decode(data, min_code, fw * fh)
            if len(idx) < fw * fh:
                raise ValueError("short GIF frame data")
            arr = np.frombuffer(bytes(idx[: fw * fh]), np.uint8).reshape(fh, fw)
            if lflags & 0x40:  # interlace: rows arrive in 4 passes
                order = np.concatenate(
                    [np.arange(start, fh, step) for start, step in _GIF_INTERLACE_PASSES]
                )
                de = np.empty_like(arr)
                de[order] = arr
                arr = de
            oob = arr >= len(ct)
            if transparent is not None:
                # out-of-table indices are legal on TRANSPARENT pixels
                # (common in the wild — the palette is never consulted
                # for them, and browsers/giflib render such files fine),
                # so validate only indices that will be looked up and
                # clamp the rest before the gather (round-12 advice)
                if bool(oob[arr != transparent].any()):
                    raise ValueError("GIF pixel index beyond color table")
                lookup = np.minimum(arr, len(ct) - 1)
            else:
                if bool(oob.any()):
                    raise ValueError("GIF pixel index beyond color table")
                lookup = arr
            saved = canvas.copy() if disposal == 3 else None
            region = canvas[top : top + fh, left : left + fw]
            rgb = ct[lookup]
            if transparent is not None:
                mask = arr != transparent
                region[mask] = rgb[mask]
            else:
                region[:] = rgb
            frames.append(canvas.copy())
            delays_ms.append(delay_cs * 10 if delay_cs >= 2 else 100)
            if disposal == 2:
                canvas[top : top + fh, left : left + fw] = 0
            elif disposal == 3 and saved is not None:
                canvas = saved
            transparent, delay_cs, disposal = None, 0, 0
        else:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
    if not frames:
        raise ValueError("GIF contains no image frames")
    ts_ms, t = [], 0
    for d in delays_ms:
        ts_ms.append(t)
        t += d
    return {
        "width": width,
        "height": height,
        "frames": frames,
        "ts_ms": ts_ms,
        "delays_ms": delays_ms,
    }


def _lzw_decode_tiff(data: bytes, max_out: int) -> bytearray:
    """TIFF-flavor LZW (TIFF6 §13): MSB-first bit packing, 256-entry
    byte alphabet, CLEAR=256/EOI=257, codes start at 9 bits — and the
    spec's "early change": the width bumps when the dictionary reaches
    ``2^width − 1`` (one code EARLIER than GIF's late change; mixing
    the two desyncs at the first width boundary). Same hostile-stream
    bounds as :func:`_lzw_decode`."""
    clear, eoi = 256, 257
    literals = [bytes([i]) for i in range(256)] + [b"", b""]
    dict_ = list(literals)
    width = 9
    prev: bytes | None = None
    out = bytearray()
    acc = nbits = 0
    pos = 0
    while True:
        while nbits < width:
            if pos >= len(data):
                return out
            acc = (acc << 8) | data[pos]
            pos += 1
            nbits += 8
        code = (acc >> (nbits - width)) & ((1 << width) - 1)
        nbits -= width
        acc &= (1 << nbits) - 1
        if code == clear:
            dict_ = list(literals)
            width = 9
            prev = None
            continue
        if code == eoi:
            return out
        if prev is None:
            if code >= clear:
                raise ValueError("corrupt TIFF LZW stream (non-literal first code)")
            entry = dict_[code]
        elif code < len(dict_):
            entry = dict_[code]
        elif code == len(dict_):
            entry = prev + prev[:1]
        else:
            raise ValueError("corrupt TIFF LZW stream (code beyond dictionary)")
        out += entry
        if len(out) > max_out:
            raise ValueError("TIFF LZW output exceeds image size")
        if prev is not None and len(dict_) < 4096:
            dict_.append(prev + entry[:1])
            if len(dict_) == (1 << width) - 1 and width < 12:
                width += 1  # EARLY change — the TIFF6 quirk
        prev = entry


def _packbits_decode(data: bytes, max_out: int) -> bytearray:
    """PackBits (TIFF6 §9 / the classic Apple RLE): n in [0,127] copies
    n+1 literals, n in [-127,-1] repeats the next byte 1−n times, -128
    is a no-op."""
    out = bytearray()
    pos = 0
    while pos < len(data):
        n = data[pos] - 256 if data[pos] > 127 else data[pos]
        pos += 1
        if n == -128:
            continue
        if n >= 0:
            if pos + n + 1 > len(data):
                raise ValueError("truncated PackBits literal run")
            out += data[pos : pos + n + 1]
            pos += n + 1
        else:
            if pos >= len(data):
                raise ValueError("truncated PackBits repeat run")
            out += bytes([data[pos]]) * (1 - n)
            pos += 1
        if len(out) > max_out:
            raise ValueError("PackBits output exceeds image size")
    return out


def decode_tiff(payload: bytes) -> object:
    """Baseline TIFF 6.0 decode to HxWx3 uint8, pure stdlib+numpy:
    both byte orders (II/MM), the first IFD, 8-bit grayscale
    (WhiteIsZero/BlackIsZero) and RGB, strip-organized data with any
    RowsPerStrip, compressions 1 (none), 5 (LZW — :func:`_lzw_decode_tiff`,
    early-change variant) and 32773 (PackBits), and horizontal-
    differencing predictor 2. Tiled layouts, palette color, planar=2,
    and non-8-bit depths raise ``NotImplementedError`` (the documented
    codec seams); malformed files raise ``ValueError``."""
    import numpy as np

    if len(payload) < 8 or payload[:2] not in (b"II", b"MM"):
        raise ValueError("not a TIFF")
    bo = "little" if payload[:2] == b"II" else "big"

    def rd(off: int, n: int) -> int:
        if off + n > len(payload):
            raise ValueError("truncated TIFF")
        return int.from_bytes(payload[off : off + n], bo)

    if rd(2, 2) != 42:
        raise ValueError("bad TIFF magic")
    ifd = rd(4, 4)
    n_entries = rd(ifd, 2)
    tags: dict[int, list[int]] = {}
    TYPE_SIZE = {1: 1, 3: 2, 4: 4}
    for i in range(n_entries):
        e = ifd + 2 + i * 12
        tag, typ, cnt = rd(e, 2), rd(e + 2, 2), rd(e + 4, 4)
        if typ not in TYPE_SIZE:
            continue  # RATIONAL/ASCII metadata we don't need
        sz = TYPE_SIZE[typ]
        base = e + 8 if cnt * sz <= 4 else rd(e + 8, 4)
        tags[tag] = [rd(base + j * sz, sz) for j in range(cnt)]

    def one(tag: int, default: int | None = None) -> int:
        if tag in tags:
            return tags[tag][0]
        if default is None:
            raise ValueError(f"TIFF missing required tag {tag}")
        return default

    if 322 in tags or 323 in tags:
        raise NotImplementedError("tiled TIFF needs a tile walk — strips only")
    w, h = one(256), one(257)
    if w <= 0 or h <= 0:
        raise ValueError(f"invalid TIFF dimensions ({w}x{h})")
    comp = one(259, 1)
    photo = one(262)
    spp = one(277, 1)
    bits = tags.get(258, [8])
    planar = one(284, 1)
    pred = one(317, 1)
    if photo == 3:
        raise NotImplementedError("palette-color TIFF")
    if any(b != 8 for b in bits):
        raise NotImplementedError(f"only 8-bit samples decode: {bits}")
    if planar != 1:
        raise NotImplementedError("planar-separated TIFF")
    if spp not in (1, 3):
        raise NotImplementedError(f"{spp} samples/pixel (1 or 3 supported)")
    if comp not in (1, 5, 32773):
        raise NotImplementedError(
            f"TIFF compression {comp} (none/LZW/PackBits supported)"
        )
    if pred not in (1, 2):
        raise NotImplementedError(f"TIFF predictor {pred}")
    offsets = tags.get(273)
    counts = tags.get(279)
    if not offsets or not counts or len(offsets) != len(counts):
        raise ValueError("TIFF strip offsets/counts missing or mismatched")
    rps = one(278, h)
    raw = bytearray()
    for si, (off, cnt) in enumerate(zip(offsets, counts)):
        if off + cnt > len(payload):
            raise ValueError("TIFF strip beyond file end")
        strip = payload[off : off + cnt]
        n_rows = min(rps, h - si * rps)
        need = n_rows * w * spp
        if comp == 1:
            got = strip[:need]
        elif comp == 5:
            got = bytes(_lzw_decode_tiff(strip, need))
        else:
            got = bytes(_packbits_decode(strip, need))
        if len(got) < need:
            raise ValueError("short TIFF strip data")
        raw += got[:need]
    arr = np.frombuffer(bytes(raw), np.uint8).reshape(h, w, spp)
    if pred == 2:  # horizontal differencing: undo by modular row cumsum
        arr = arr.astype(np.uint32).cumsum(axis=1).astype(np.uint8)
    if spp == 1:
        if photo == 0:  # WhiteIsZero
            arr = 255 - arr
        arr = np.repeat(arr, 3, axis=2)
    return arr


def _ppm_bytes(arr: object) -> bytes:
    """HxWx3 uint8 array -> binary PPM (P6) payload — the loss-free
    interchange wrapper for decoded frames, accepted back by
    :func:`decode_image`."""
    h, w = arr.shape[0], arr.shape[1]
    return b"P6\n%d %d\n255\n" % (w, h) + arr.tobytes()


def _decode_image_pil(payload: bytes) -> object:
    """Library decode path (the 100 TB backend): PIL/libjpeg-turbo via
    ``Image.open`` -> RGB -> uint8 array. Raises a clear RuntimeError
    when PIL isn't installed (this container ships no codec libs — the
    seam is exercised wherever PIL exists; equivalence against the
    pure decoders is pinned in tests/test_decode_backends.py: exact
    for lossless formats, tolerance-bounded for JPEG because libjpeg's
    integer IDCT and our float IDCT legitimately differ in the last
    couple of levels)."""
    import io

    import numpy as np

    try:
        from PIL import Image
    except ImportError as exc:  # pragma: no cover - env without PIL
        raise RuntimeError(
            "NIBBLEDB_DECODE_BACKEND=pil requires Pillow on every "
            "executor; install it or unset the flag for the pure-python "
            "decoders"
        ) from exc
    img = Image.open(io.BytesIO(payload))
    return np.asarray(img.convert("RGB"), dtype=np.uint8)


#: legal NIBBLEDB_DECODE_BACKEND tokens: media-specific library picks
#: combine as a comma list ("pil,soundfile,pyav" = libraries
#: everywhere); "pure" (the default) selects the from-spec decoders.
_BACKEND_TOKENS = {"pure", "pil", "soundfile", "pyav"}


def _backend_set(override: str | None) -> set[str]:
    """Parse the backend selector (the ``backend=`` kwarg overrides the
    ``NIBBLEDB_DECODE_BACKEND`` env var) into its token set. Each
    media kind consumes its own token — ``pil`` images, ``soundfile``
    audio, ``pyav`` video — so one cluster-wide flag can swap any
    subset of the decode paths. Read at call time inside the
    executor's Python worker (whose env is FIXED at JVM launch — set
    the flag before building the session locally, or via
    ``spark.executorEnv.*`` on a cluster)."""
    raw = override or os.environ.get("NIBBLEDB_DECODE_BACKEND", "pure")
    toks = {t.strip() for t in raw.split(",") if t.strip()}
    bad = toks - _BACKEND_TOKENS
    if bad:
        raise ValueError(f"unknown decode backend: {sorted(bad)!r}")
    return toks


def decode_image(payload: bytes, *, backend: str | None = None) -> object:
    """Decode a binary image payload to an HxWx3 uint8 numpy array.

    REAL for binary PPM (P6, maxval 255), uncompressed 24-bit BMP,
    PNG across the full legal depth matrix (1/2/4/8/16-bit,
    gray/RGB/RGBA/palette, Adam7 interlace, via stdlib zlib), and
    huffman-coded JFIF JPEG — BOTH baseline (SOF0/SOF1, incl. 4:2:0
    chroma subsampling and restart intervals) and progressive (SOF2:
    spectral selection + successive approximation with EOB runs) —
    pure numpy, no codec libs. PPM: header tokens (width, height,
    maxval; ``#`` comments allowed) then raw RGB bytes. Codecs that
    genuinely need libraries (arithmetic-coded JPEG, WebP, AVIF, ...)
    still raise — swap in PIL/torchvision decode on a real cluster at
    this exact seam.

    Backend selection (round-12 verdict task 7 — the swap is a flag,
    not a rewrite): ``backend`` overrides, else the
    ``NIBBLEDB_DECODE_BACKEND`` env var — a comma token set (``pure``
    default; ``pil`` swaps the image path; ``soundfile`` / ``pyav``
    swap the audio / video paths of their operators, so
    ``pil,soundfile,pyav`` is libraries-everywhere). The flag is read
    at call time inside the
    executor's Python worker, whose env is FIXED at JVM launch
    (measured: a mid-session ``os.environ`` change in the driver never
    reaches a worker) — set it before building the session in local
    mode, or through ``spark.executorEnv.NIBBLEDB_DECODE_BACKEND`` on
    a cluster. All mapInPandas decode stages (features, dhash,
    clean_media, video keyframes) route through here unchanged.
    """
    import numpy as np

    if "pil" in _backend_set(backend):
        return _decode_image_pil(payload)
    if payload.startswith(b"BM"):
        return _decode_bmp(payload)
    if payload.startswith(b"\x89PNG"):
        return _decode_png(payload)
    if payload.startswith(b"\xff\xd8"):
        return _decode_jpeg(payload)
    if payload.startswith(b"GIF8"):
        # still-image interop: an (possibly animated) GIF decodes to
        # its first composited frame; frame-level access goes through
        # decode_gif / video_keyframes
        return decode_gif(payload)["frames"][0]
    if payload[:2] in (b"II", b"MM") and len(payload) >= 4 and int.from_bytes(
        payload[2:4], "little" if payload[:2] == b"II" else "big"
    ) == 42:
        return decode_tiff(payload)
    if not payload.startswith(b"P6"):
        raise NotImplementedError(
            "only PPM(P6), 24-bit BMP, 8-bit PNG, GIF, baseline TIFF, and "
            "huffman JPEG (baseline + progressive) decode without codec "
            "libs; plug PIL in here"
        )
    # tokenize header: magic, width, height, maxval; '#' starts a comment
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval, then raw samples
    w, h, maxval = tokens
    if maxval != 255:
        raise NotImplementedError("16-bit PPM not supported")
    # same hostile-header bound check as the BMP path
    if w <= 0 or h <= 0 or pos + w * h * 3 > len(payload):
        raise ValueError(f"truncated or invalid PPM ({w}x{h})")
    arr = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=pos)
    return arr.reshape(h, w, 3)


def resize_image(arr: object, out_h: int, out_w: int) -> object:
    """Nearest-neighbor resize via numpy index maps — deterministic,
    vectorized, no interpolation libs."""
    import numpy as np

    h, w = arr.shape[0], arr.shape[1]
    rows = (np.arange(out_h) * h) // out_h
    cols = (np.arange(out_w) * w) // out_w
    return arr[rows][:, cols]


def image_stats_features(media: DataFrame, *, grid: int = 2) -> DataFrame:
    """REAL feature extraction for decodable payloads: per-channel mean
    and population std plus a ``grid x grid`` downsampled luminance map
    — 6 + grid² floats per image, computed from actual pixels via the
    same Arrow-batched ``mapInPandas`` seam as the stubbed encoder.
    Non-decodable payloads yield a null feature (kept, flagged) rather
    than failing the batch — a 100 TB media crawl always contains
    corrupt files, and one bad payload must not kill a 10 GB task."""
    import numpy as np

    dim = 6 + grid * grid
    schema = "media_id long, kind string, feature array<float>, decoded boolean"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, ok = [], []
            for payload in pdf["payload"]:
                # compute FULLY before appending: a partial append on a
                # late exception would misalign the column lists and
                # fail the whole Arrow batch. TypeError covers NULL
                # payloads (bytes(None)); Zero/IndexError cover
                # degenerate-but-parseable headers.
                try:
                    arr = decode_image(bytes(payload)).astype(np.float64)
                    means = arr.mean(axis=(0, 1)) / 255.0
                    stds = arr.std(axis=(0, 1)) / 255.0
                    lum = arr.mean(axis=2)
                    cells = resize_image(
                        lum[:, :, None], grid, grid
                    ).reshape(grid * grid) / 255.0
                    feature = [np.float32(x) for x in (*means, *stds, *cells)]
                except (
                    NotImplementedError,
                    ValueError,
                    TypeError,
                    ZeroDivisionError,
                    IndexError,
                    OverflowError,  # hostile header dims overflow C ssize_t
                ):
                    feats.append(None)
                    ok.append(False)
                else:
                    feats.append(feature)
                    ok.append(True)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "feature": feats,
                    "decoded": ok,
                }
            )

    assert dim <= 64  # keep the Arrow batch row width bounded
    return media.select("media_id", "kind", "payload").mapInPandas(run, schema)


def _cell_means(lum, grid_h: int, grid_w: int):
    """Area-mean pooling of a 2-D luminance array into a grid_h x
    grid_w grid via reduceat — vectorized, no interpolation libs."""
    import numpy as np

    h, w = lum.shape
    rb = (np.arange(grid_h) * h) // grid_h
    cb = (np.arange(grid_w) * w) // grid_w
    s = np.add.reduceat(np.add.reduceat(lum, rb, axis=0), cb, axis=1)
    rc = np.diff(np.append(rb, h))
    cc = np.diff(np.append(cb, w))
    return s / np.outer(rc, cc)


def image_dhash(media: DataFrame) -> DataFrame:
    """Perceptual difference-hash (dHash) per image: decode ->
    luminance -> area-mean pool to 8x9 -> horizontal-gradient bits ->
    64-bit hash. The standard near-dup fingerprint for image corpora:
    robust to re-encoding, exact block upscaling, and small local
    edits, because only the coarse luminance GRADIENT survives pooling.

    Same Arrow-batched ``mapInPandas`` seam and corrupt-file contract
    as image_stats_features: undecodable payloads yield a NULL hash
    (kept, flagged), never a failed batch. Emits the hash both as a
    16-hex-char string (banding key material) and as int64 (XOR +
    bit_count hamming distance stays JVM-side downstream).
    """
    import numpy as np

    schema = "media_id long, kind string, dhash string, dhash_long long, decoded boolean"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes, longs, ok = [], [], []
            for payload in pdf["payload"]:
                try:
                    arr = decode_image(bytes(payload)).astype(np.float64)
                    lum = arr.mean(axis=2)
                    if lum.shape[0] < 8 or lum.shape[1] < 9:
                        # Below the 8x9 pooling grid some cells are
                        # zero-width: numpy division emits inf/nan
                        # WARNINGS (not exceptions), so without this
                        # guard every tiny image would get the same
                        # content-independent hash and clean_media
                        # would collapse them into one bogus dup
                        # cluster. Same contract as the audio
                        # "clip too short" guard: NULL hash, flagged.
                        raise ValueError("image smaller than 8x9 dHash grid")
                    cells = _cell_means(lum, 8, 9)
                    bits = (cells[:, 1:] > cells[:, :-1]).reshape(64)
                    v = 0
                    for b in bits:
                        v = (v << 1) | int(b)
                    h = f"{v:016x}"
                    lv = v - (1 << 64) if v >= (1 << 63) else v  # int64 view
                except (
                    NotImplementedError,
                    ValueError,
                    TypeError,
                    ZeroDivisionError,
                    IndexError,
                    OverflowError,
                ):
                    hashes.append(None)
                    longs.append(None)
                    ok.append(False)
                else:
                    hashes.append(h)
                    longs.append(lv)
                    ok.append(True)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "dhash": hashes,
                    "dhash_long": pd.array(longs, dtype="Int64"),
                    "decoded": ok,
                }
            )

    return media.select("media_id", "kind", "payload").mapInPandas(run, schema)


def banded_hamming_pairs(
    hashes: DataFrame,
    *,
    max_hamming: int,
    bands: int,
    by: Sequence[str] = (),
) -> DataFrame:
    """Shared 64-bit-fingerprint near-dup join: ``hashes`` carries
    (id, hhex, hlong) plus any ``by`` group columns; band the hex into
    ``bands`` substrings, candidates share a band WITHIN their group
    (equi-join on (*by, band, val), never all pairs), exact hamming via
    ``bit_count(XOR)`` verifies JVM-side. Rows whose hash is NULL
    (undecodable payloads) are dropped — a corrupt file is not
    near-anything. Output: (*by, id1, id2, hamming). Pigeonhole recall
    contract: every pair with hamming < ``bands`` is GUARANTEED a shared
    band; above that recall is probabilistic (errors must crowd into few
    bands). Image dHash (:func:`image_dhash`) and audio spectral
    fingerprints (:func:`audio_fingerprint`) pair through it directly;
    the post-decode stage is plain relational algebra over (id, hhex,
    hlong), which is exactly what the declared ``media_*`` oracle
    queries verify against DuckDB."""
    if not 1 <= bands <= 16 or 64 % bands:
        raise ValueError(f"bands must divide 64: {bands}")
    by = list(by)
    width = 16 // bands  # hex chars per band
    banded = (
        hashes.where(F.col("hhex").isNotNull())
        .select(
            *by,
            "id",
            "hlong",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.substring("hhex", b * width + 1, width).alias("val"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("bb"),
        )
        .select(*by, "id", "hlong", "bb.band", "bb.val")
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, by + ["band", "val"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            *by,
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            F.col("a.hlong").alias("h1"),
            F.col("b.hlong").alias("h2"),
        )
        .distinct()
    )
    return cand.select(
        *by,
        "id1",
        "id2",
        F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))).alias("hamming"),
    ).where(F.col("hamming") <= max_hamming)


def audio_fingerprint(
    media: DataFrame, *, n_frames: int = 9, n_bands: int = 8
) -> DataFrame:
    """64-bit spectral-gradient audio fingerprint: decode -> mono ->
    ``n_frames`` equal windows -> |rfft|^2 energies in ``n_bands``
    equal spectral bands -> temporal gradient bits
    (energy[t+1][b] > energy[t][b]), (n_frames-1) x n_bands = 64 bits.
    The chromaprint-shaped dedup key for audio corpora: only the
    coarse spectral SHAPE over time survives, so a re-levelled
    (amplitude-scaled, requantized) copy lands a few bits away —
    signal-band comparisons are scale-invariant, while bands holding
    only quantization noise may flip, which is exactly what the
    hamming-distance join absorbs. Same Arrow seam + corrupt-payload
    contract as image_dhash."""
    import numpy as np

    if (n_frames - 1) * n_bands != 64:
        raise ValueError(
            f"(n_frames-1)*n_bands must be 64: {(n_frames - 1) * n_bands}"
        )
    schema = "media_id long, kind string, afp string, afp_long long, decoded boolean"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hexes, longs, ok = [], [], []
            for payload in pdf["payload"]:
                try:
                    samples, rate = decode_audio(bytes(payload))
                    mono = samples.mean(axis=1)
                    frame_len = len(mono) // n_frames
                    spec_bins = frame_len // 2 + 1
                    if frame_len < 2 or spec_bins < n_bands:
                        raise ValueError("clip too short to fingerprint")
                    frames = mono[: frame_len * n_frames].reshape(
                        n_frames, frame_len
                    )
                    spec = np.abs(np.fft.rfft(frames, axis=1)) ** 2
                    edges = (np.arange(n_bands) * spec_bins) // n_bands
                    energy = np.add.reduceat(spec, edges, axis=1)
                    bits = (energy[1:] > energy[:-1]).reshape(64)
                    v = 0
                    for bit in bits:
                        v = (v << 1) | int(bit)
                    hx = f"{v:016x}"
                    lv = v - (1 << 64) if v >= (1 << 63) else v
                except (
                    NotImplementedError,
                    ValueError,
                    TypeError,
                    ZeroDivisionError,
                    IndexError,
                    OverflowError,
                ):
                    hexes.append(None)
                    longs.append(None)
                    ok.append(False)
                else:
                    hexes.append(hx)
                    longs.append(lv)
                    ok.append(True)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "afp": hexes,
                    "afp_long": pd.array(longs, dtype="Int64"),
                    "decoded": ok,
                }
            )

    return media.select("media_id", "kind", "payload").mapInPandas(run, schema)


def media_canonical_from_hashes(
    hashes: DataFrame,
    *,
    max_hamming: int | Mapping[str, int] = 6,
    bands: int = 4,
) -> DataFrame:
    """The post-decode stage of ``clean_media``, first-class: given one
    64-bit perceptual hash per media row — (id, kind, hhex, hlong) —
    produce the canonical assignment (media_id, kind, canonical_id,
    keep): banded hamming near-dup pairs per kind (kinds never
    cross-pair), connected components over the pair graph, canonical =
    lowest id per cluster, ``keep`` marks the canonicals. NULL-hash
    rows (undecodable payloads) pass through as keep=true singletons.

    ``max_hamming`` may be a single threshold or a per-kind mapping
    (e.g. ``{"image": 3, "audio": 8}``). Banding is
    threshold-independent, so per-kind thresholds are a post-filter on
    the one shared banded join — one equi-join serves every kind.

    Everything here is relational algebra over 16-char hex strings and
    64-bit longs — no decoding — which is why this stage carries the
    declared ``media_banded_near_dup_pairs`` / ``media_clean_canonicals``
    oracle queries (DuckDB replays banding as substrings, hamming as
    ``bit_count(xor())`` and the components as a recursive CTE) while
    the decode stage above it stays pytest-verified.

    Scale shape: the banded join shuffles (kind, band, 16-bit value)
    keys — never payloads, never all pairs; components is O(diameter)
    rounds on the PAIR graph only (operators/graph.py).
    """
    from nibbledb_spark.operators.graph import connected_components

    if isinstance(max_hamming, Mapping):
        ceiling = max(max_hamming.values()) if max_hamming else 0
        thresh = F.coalesce(
            *[
                F.when(F.col("kind") == k, F.lit(v))
                for k, v in sorted(max_hamming.items())
            ],
            F.lit(-1),  # kinds without a declared threshold never pair
        )
    else:
        ceiling = max_hamming
        thresh = F.lit(max_hamming)
    pairs = banded_hamming_pairs(
        hashes, max_hamming=ceiling, bands=bands, by=("kind",)
    ).where(F.col("hamming") <= thresh)
    comp = connected_components(pairs, "id1", "id2")
    return (
        hashes.select("id", "kind")
        .join(comp.withColumnRenamed("node", "id"), "id", "left")
        .select(
            F.col("id").alias("media_id"),
            "kind",
            F.coalesce(F.col("component"), F.col("id")).alias("canonical_id"),
        )
        .withColumn("keep", F.col("media_id") == F.col("canonical_id"))
    )


def clean_media(
    media: DataFrame,
    *,
    image_max_hamming: int = 6,
    audio_max_hamming: int = 6,
    bands: int = 4,
) -> DataFrame:
    """Composed media dedup pipeline — the multimodal analogue of the
    text side's ``clean_corpus`` (operators/pipeline.py):

    1. EXACT dedup: md5 payload fingerprint, lowest media_id per
       digest survives (byte-identical copies collapse first, so the
       perceptual stages never hash the same bytes twice).
    2. Perceptual near-dup pairs among the exact survivors, per kind:
       image dHash banding for ``kind='image'``, spectral fingerprint
       banding for ``kind='audio'`` (kinds never cross-pair).
    3. Connected components over the union pair graph (hash-min,
       operators/graph.py), canonical = lowest media_id per cluster.

    Returns one row per INPUT row: (media_id, kind, canonical_id,
    keep) where ``keep`` marks the cluster canonicals — exact
    duplicates resolve through their digest survivor's cluster, so a
    copy of a near-dup lands in the same canonical. Undecodable
    payloads survive stages 2-3 untouched (their bytes are still
    exact-dedupable; a corrupt file is not near-anything). NULL
    payloads (fetch failures) pass through as keep=true singletons —
    absent bytes are not duplicates of other absent bytes.

    Scale shape: stage 1 shuffles (digest, id) only; stage 2 is the
    banded equi-join (never all pairs); stage 3 is O(log n) rounds on
    the PAIR graph, which near-dup structure keeps tiny relative to
    the corpus."""
    all_fp = payload_fingerprint(media).select("media_id", "kind", "payload_fp")
    # md5(NULL payload) is NULL; NULL keys match nothing in the digest
    # equi-join, so without this split a fetch-failure row would vanish
    # from the output entirely — violating the one-row-per-input-row
    # contract. NULL payloads are singletons by definition (absent bytes
    # are not duplicates of other absent bytes): pass them through with
    # canonical_id = own id, keep = true.
    null_rows = all_fp.where(F.col("payload_fp").isNull()).select(
        "media_id",
        "kind",
        F.col("media_id").alias("canonical_id"),
        F.lit(True).alias("keep"),
    )
    fp = all_fp.where(F.col("payload_fp").isNotNull())
    win_digest = fp.groupBy("payload_fp").agg(
        F.min("media_id").alias("digest_canonical")
    )
    with_digest = fp.join(win_digest, "payload_fp")
    survivors = media.join(
        with_digest.where(F.col("media_id") == F.col("digest_canonical")).select(
            "media_id"
        ),
        "media_id",
    )
    img_h = image_dhash(survivors.where(F.col("kind") == "image")).select(
        F.col("media_id").alias("id"),
        "kind",
        F.col("dhash").alias("hhex"),
        F.col("dhash_long").alias("hlong"),
    )
    aud_h = audio_fingerprint(survivors.where(F.col("kind") == "audio")).select(
        F.col("media_id").alias("id"),
        "kind",
        F.col("afp").alias("hhex"),
        F.col("afp_long").alias("hlong"),
    )
    canon = media_canonical_from_hashes(
        img_h.unionByName(aud_h),
        max_hamming={"image": image_max_hamming, "audio": audio_max_hamming},
        bands=bands,
    )
    # survivor -> cluster canonical (singletons and non-media kinds:
    # their own id)
    survivor_canon = (
        with_digest.where(F.col("media_id") == F.col("digest_canonical"))
        .select("media_id")
        .join(canon.select("media_id", "canonical_id"), "media_id", "left")
        .select(
            "media_id",
            F.coalesce(F.col("canonical_id"), F.col("media_id")).alias(
                "canonical_id"
            ),
        )
    )
    # every input row -> its digest survivor -> that survivor's canonical
    return (
        with_digest.select("media_id", "kind", "digest_canonical")
        .join(
            survivor_canon.withColumnRenamed("media_id", "digest_canonical"),
            "digest_canonical",
        )
        .select(
            "media_id",
            "kind",
            "canonical_id",
            (F.col("media_id") == F.col("canonical_id")).alias("keep"),
        )
        .unionByName(null_rows)
    )


def _g711_ulaw_to_linear(codes):
    """ITU-T G.711 mu-law -> linear int16 (pure arithmetic, the
    standard segment/mantissa expansion; public-spec constants)."""
    import numpy as np

    u = (~codes) & 0xFF
    sign = u & 0x80
    exponent = (u >> 4) & 0x07
    mantissa = u & 0x0F
    magnitude = ((mantissa.astype(np.int32) << 3) + 0x84) << exponent
    magnitude -= 0x84
    return np.where(sign != 0, -magnitude, magnitude).astype(np.int16)


def _g711_alaw_to_linear(codes):
    """ITU-T G.711 A-law -> linear int16 (even-bit inversion then
    segment expansion). NB the A-law sign convention is the opposite of
    mu-law's: bit 0x80 SET means a positive sample."""
    import numpy as np

    a = codes ^ 0x55
    exponent = (a >> 4) & 0x07
    mantissa = (a & 0x0F).astype(np.int32)
    magnitude = np.where(
        exponent == 0,
        (mantissa << 4) + 8,
        ((mantissa << 4) + 0x108) << np.maximum(exponent - 1, 0),
    )
    return np.where(codes & 0x80, magnitude, -magnitude).astype(np.int16)


def _decode_audio_soundfile(payload: bytes) -> tuple[object, int]:
    """Library decode path (the 100 TB backend): soundfile/libsndfile,
    which adds every codec libsndfile ships (FLAC, Ogg/Vorbis, ...) on
    top of the WAV matrix. float64 frames normalized exactly like the
    pure path (libsndfile divides PCM by the same 2^(bits-1)), so
    equivalence on the shared PCM matrix is BIT-EXACT — pinned in
    tests/test_decode_backends.py wherever the library exists (this
    container ships none). Raises a clear RuntimeError without it."""
    import io

    try:
        import soundfile as sf
    except ImportError as exc:  # pragma: no cover - env without the lib
        raise RuntimeError(
            "NIBBLEDB_DECODE_BACKEND=soundfile requires the soundfile "
            "package on every executor; install it or unset the flag "
            "for the pure-python WAV decoders"
        ) from exc
    samples, rate = sf.read(
        io.BytesIO(payload), dtype="float64", always_2d=True
    )
    return samples, int(rate)


def decode_audio(
    payload: bytes, *, backend: str | None = None
) -> tuple[object, int]:
    """Decode a WAV payload to (samples float64 in [-1, 1] shaped
    (n, channels), sample_rate). REAL for RIFF/WAVE linear PCM (16-bit
    AND 24-bit, format 1 — 24-bit via a vectorized sign-extending
    triple-widen, no i3 dtype needed), IEEE float32 PCM (format 3),
    G.711 companded telephony audio (format 6 A-law, format 7 mu-law —
    one byte per sample, expanded by the public-spec segment
    arithmetic), and WAVE_FORMAT_EXTENSIBLE (0xFFFE) wrappers around
    any of those (real format read from the SubFormat GUID) — header
    walk over chunks, then ``frombuffer``, no audio libraries.
    Compressed codecs (mp3/aac/opus) raise at this seam — or decode
    for real when the ``soundfile`` backend token is selected
    (``backend=`` kwarg or the NIBBLEDB_DECODE_BACKEND env set; same
    call-time worker-env contract as decode_image)."""
    import struct

    import numpy as np

    if "soundfile" in _backend_set(backend):
        return _decode_audio_soundfile(payload)
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise NotImplementedError("only RIFF/WAVE PCM decodes without codec libs")
    pos, fmt, data = 12, None, None
    fmt_body, len_fmt = b"", 0
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = struct.unpack("<I", payload[pos + 4 : pos + 8])[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
            fmt_body, len_fmt = body, len(body)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size % 2)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("truncated WAV: missing fmt/data chunk")
    audio_format, channels, rate, _, _, bits = fmt
    # WAVE_FORMAT_EXTENSIBLE (0xFFFE): the real format lives in the
    # first 2 bytes of the 16-byte SubFormat GUID at offset 24
    if audio_format == 0xFFFE and len_fmt >= 26:
        audio_format = struct.unpack("<H", fmt_body[24:26])[0]
    if audio_format == 1 and bits == 16:
        samples = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
    elif audio_format == 1 and bits == 24:
        # 24-bit PCM (the studio-master depth): no i3 dtype, so widen
        # each little-endian triple into an int32 with sign extension —
        # one vectorized reshape+shift pass, no per-sample Python
        raw = np.frombuffer(data, dtype=np.uint8)
        if len(raw) % 3:
            raise ValueError("24-bit WAV data not a multiple of 3 bytes")
        b = raw.reshape(-1, 3).astype(np.int32)
        lin = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
        lin -= (lin & 0x800000) << 1  # sign-extend bit 23
        samples = lin.astype(np.float64) / 8388608.0
    elif audio_format == 3 and bits == 32:
        # IEEE float32 PCM (format 3) — the float-pipeline interchange
        # depth; values are already in [-1, 1] by convention
        samples = np.frombuffer(data, dtype="<f4").astype(np.float64)
    elif audio_format in (6, 7) and bits == 8:
        codes = np.frombuffer(data, dtype=np.uint8)
        lin = (
            _g711_alaw_to_linear(codes)
            if audio_format == 6
            else _g711_ulaw_to_linear(codes)
        )
        samples = lin.astype(np.float64) / 32768.0
    else:
        raise NotImplementedError(
            "only 16/24-bit PCM, float32 PCM, and G.711 A-law/mu-law WAV "
            "decode without codec libs"
        )
    if channels < 1 or len(samples) % channels:
        raise ValueError("WAV data size does not match channel count")
    return samples.reshape(-1, channels), rate


def audio_stats_features(media: DataFrame) -> DataFrame:
    """REAL audio features from decoded PCM: per-payload RMS level,
    peak, zero-crossing rate, duration seconds — the standard cheap
    descriptors a media pipeline computes before any model runs. Same
    corrupt-payload policy as :func:`image_stats_features`."""
    import numpy as np

    schema = (
        "media_id long, kind string, rms double, peak double, "
        "zero_cross_rate double, duration_s double, decoded boolean"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("rms", "peak", "zcr", "dur", "ok")}
            for payload in pdf["payload"]:
                # compute ALL values before appending any: a payload
                # that decodes but then fails (empty data chunk -> max()
                # on empty, rate 0 -> ZeroDivisionError) must not leave
                # half-appended columns, which would misalign the Arrow
                # batch. TypeError covers NULL payloads.
                try:
                    samples, rate = decode_audio(bytes(payload))
                    mono = samples.mean(axis=1)
                    if len(mono) == 0 or rate <= 0:
                        raise ValueError("empty or rate-less audio")
                    vals = (
                        float(np.sqrt((mono**2).mean())),
                        float(np.abs(mono).max()),
                        float((np.diff(np.signbit(mono)) != 0).mean()),
                        len(mono) / rate,
                    )
                except (
                    NotImplementedError,
                    ValueError,
                    TypeError,
                    ZeroDivisionError,
                    struct_error,
                    OverflowError,
                ):
                    vals = (None, None, None, None)
                    out["ok"].append(False)
                else:
                    out["ok"].append(True)
                for k, v in zip(("rms", "peak", "zcr", "dur"), vals):
                    out[k].append(v)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "rms": out["rms"],
                    "peak": out["peak"],
                    "zero_cross_rate": out["zcr"],
                    "duration_s": out["dur"],
                    "decoded": out["ok"],
                }
            )

    return media.select("media_id", "kind", "payload").mapInPandas(run, schema)


def parse_avi(payload: bytes) -> dict:
    """Minimal RIFF-AVI container walk (public AVI 1.0 / OpenDML spec):
    returns ``{"width", "height", "usec_per_frame", "handler",
    "frames": [bytes, ...]}`` for the FIRST video stream.

    REAL for MJPEG ('MJPG'/'mjpg'/'dmb1' fourccs — every frame is a
    standalone JPEG the existing :func:`decode_image` handles).
    Recognized video streams with an inter-frame codec (XVID/H264/...)
    raise ``NotImplementedError`` — that is the documented seam where a
    real cluster plugs ffmpeg/pyav in; the container walk, frame
    timing, and sampling logic above it stay exactly as tested here.
    Malformed containers raise ``ValueError``.

    Timing: ``strh.dwRate/dwScale`` (the canonical per-stream clock)
    when present and sane, else ``avih.dwMicroSecPerFrame``.
    """
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI container")

    def chunks(data: bytes, pos: int, end: int):
        while pos + 8 <= end:
            fourcc = data[pos : pos + 4]
            size = int.from_bytes(data[pos + 4 : pos + 8], "little")
            body_end = pos + 8 + size
            if body_end > end:
                raise ValueError("truncated AVI chunk")
            yield fourcc, pos + 8, body_end
            pos = body_end + (size & 1)  # chunks are word-aligned

    info: dict = {
        "width": None,
        "height": None,
        "usec_per_frame": None,
        "handler": None,
        "frames": [],
    }
    saw_vids = False
    n_streams = 0  # strh chunks seen; the vids stream's ORDINAL is its
    vids_tag = None  # movi chunk prefix ('00', '01', ...) — streams are
    # numbered by strl order, so an audio-first file puts video at '01dc'

    def walk(pos: int, end: int, in_movi: bool = False) -> None:
        nonlocal saw_vids, n_streams, vids_tag
        for fourcc, b0, b1 in chunks(payload, pos, end):
            if fourcc == b"LIST":
                ltype = payload[b0 : b0 + 4]
                walk(b0 + 4, b1, in_movi or ltype in (b"movi", b"rec "))
            elif fourcc == b"avih" and b1 - b0 >= 40:
                info["usec_per_frame"] = info["usec_per_frame"] or int.from_bytes(
                    payload[b0 : b0 + 4], "little"
                )
                info["width"] = int.from_bytes(payload[b0 + 32 : b0 + 36], "little")
                info["height"] = int.from_bytes(payload[b0 + 36 : b0 + 40], "little")
            elif fourcc == b"strh" and b1 - b0 >= 32:
                if payload[b0 : b0 + 4] == b"vids" and not saw_vids:
                    saw_vids = True
                    vids_tag = b"%02d" % n_streams
                    info["handler"] = payload[b0 + 4 : b0 + 8].decode(
                        "ascii", "replace"
                    )
                    scale = int.from_bytes(payload[b0 + 20 : b0 + 24], "little")
                    rate = int.from_bytes(payload[b0 + 24 : b0 + 28], "little")
                    if rate > 0 and scale > 0:
                        info["usec_per_frame"] = round(1_000_000 * scale / rate)
                n_streams += 1
            elif in_movi and fourcc[2:4] in (b"dc", b"db"):
                # the vids stream's chunks; audio ('wb') and index skip
                if vids_tag is not None and fourcc[:2] == vids_tag:
                    info["frames"].append(payload[b0:b1])

    walk(12, len(payload))
    if not saw_vids:
        raise ValueError("AVI has no video ('vids') stream")
    handler = (info["handler"] or "").strip("\x00 ").upper()
    if handler not in ("MJPG", "DMB1"):
        raise NotImplementedError(
            f"AVI video codec {handler or '<none>'!r} needs an inter-frame "
            "decoder (ffmpeg/pyav) — only MJPEG decodes without codec libs"
        )
    if not info["usec_per_frame"] or info["usec_per_frame"] <= 0:
        raise ValueError("AVI carries no usable frame timing")
    return info


_KEYFRAMES_SCHEMA = (
    "media_id long, frame_idx int, frame_ts_ms bigint, frame binary, "
    "width int, height int, lum_mean float, decoded boolean"
)


def _video_frames_pyav(raw: bytes) -> tuple[list, list, int, int, int]:
    """Library decode path (the 100 TB backend): PyAV/FFmpeg — every
    real-world codec (H.264, VP9, AV1, ...) behind the same sampling
    clock as the pure MJPEG/GIF paths. Returns (ts_ms list, RGB frame
    list, total_ms, width, height). Decodes the clip into memory (the
    fixture-scale shape; a long-video production variant would
    seek-and-decode per sample at this exact seam). Raises a clear
    RuntimeError when PyAV isn't installed."""
    import io

    try:
        import av
    except ImportError as exc:  # pragma: no cover - env without the lib
        raise RuntimeError(
            "NIBBLEDB_DECODE_BACKEND=pyav requires the av package on "
            "every executor; install it or unset the flag for the "
            "pure-python MJPEG/GIF paths"
        ) from exc
    ts_ms: list[int] = []
    frames: list = []
    with av.open(io.BytesIO(raw)) as container:
        stream = container.streams.video[0]
        tb = stream.time_base
        # nominal frame period for pts-less frames: the bisect sampler
        # below assumes nondecreasing ts, so a missing pts synthesizes
        # as last_ts + period (mapping every pts-less frame to 0 would
        # break monotonicity as soon as two frames lack pts)
        rate = stream.average_rate or stream.guessed_rate
        nominal_ms = max(1, int(1000 / rate)) if rate else 40
        for frame in container.decode(stream):
            if frame.pts is None:
                t = (ts_ms[-1] + nominal_ms) if ts_ms else 0
            else:
                t = int(frame.pts * tb * 1000)
                if ts_ms and t < ts_ms[-1]:  # broken/non-monotonic pts
                    t = ts_ms[-1] + nominal_ms
            ts_ms.append(t)
            frames.append(frame.to_ndarray(format="rgb24"))
    if not frames:
        raise ValueError("no decodable video frames")
    # constant-rate containers: total = n * period, matching the pure
    # AVI clock; fall back to last-ts + median gap for variable rates
    gaps = [b - a for a, b in zip(ts_ms, ts_ms[1:])] or [40]
    total = ts_ms[-1] + sorted(gaps)[len(gaps) // 2]
    h, w = frames[0].shape[:2]
    return ts_ms, frames, total, w, h


def video_keyframes(
    media: DataFrame, *, every_ms: int = 1000, backend: str | None = None
) -> DataFrame:
    """Keyframe extraction from MJPEG-in-AVI and animated-GIF
    payloads: the REAL video path behind the :func:`frame_sample`
    metadata plan. AVI: walks the RIFF container (:func:`parse_avi`),
    samples one frame per ``every_ms`` of STREAM time (``strh`` clock,
    not a guessed constant), decodes each sampled frame with the
    existing pure-numpy JPEG decoder. GIF: full :func:`decode_gif`
    (LZW + compositing), sampled on the per-frame variable-delay
    clock, frames re-wrapped as PPM payloads. Either way the emitted
    frame bytes are standalone image payloads any downstream image
    operator accepts, plus decoded luminance stats.

    Failure contract matches the other media operators: a corrupt
    container or an inter-frame codec yields ONE flagged row
    (``decoded=false``, null frame) for the media item; a single bad
    frame inside a good container flags just that frame. A 100 TB
    crawl always contains both, and neither may kill a task. Arrow
    batch shape, schema, and the per-frame row explosion are the parts
    that matter for partition sizing at scale — all real here.

    Backend: the ``pyav`` token (``backend=`` kwarg or
    NIBBLEDB_DECODE_BACKEND) routes NON-GIF payloads through
    PyAV/FFmpeg — every real-world codec on the same every_ms
    sampling clock and output schema (frames re-wrapped as PPM). GIFs
    keep the pure path either way (their variable-delay compositing
    clock is pinned there). A MISSING library raises loudly rather
    than flagging rows — silent decoded=false across a cluster whose
    image lacks av would read as corrupt data.
    """
    import numpy as np

    if every_ms < 1:
        raise ValueError(f"every_ms must be >= 1: {every_ms}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                k: []
                for k in (
                    "media_id", "frame_idx", "frame_ts_ms", "frame",
                    "width", "height", "lum_mean", "decoded",
                )
            }

            def emit(mid, idx, ts, frame, w, h, lum, ok):
                out["media_id"].append(mid)
                out["frame_idx"].append(idx)
                out["frame_ts_ms"].append(ts)
                out["frame"].append(frame)
                out["width"].append(w)
                out["height"].append(h)
                out["lum_mean"].append(lum)
                out["decoded"].append(ok)

            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                raw = bytes(payload) if payload is not None else b""
                if raw.startswith(b"GIF8"):
                    # animated GIF: its own per-frame clock (variable
                    # delays), frames re-wrapped as PPM payloads so the
                    # downstream image operators stay format-agnostic
                    try:
                        gif = decode_gif(raw)
                    except (ValueError, TypeError, IndexError, OverflowError):
                        emit(mid, None, None, None, None, None, None, False)
                        continue
                    ts, gframes = gif["ts_ms"], gif["frames"]
                    total = ts[-1] + gif["delays_ms"][-1]
                    k = 0
                    prev_idx = -1
                    while True:
                        t_target = k * every_ms
                        if t_target >= total:
                            break
                        idx = bisect.bisect_right(ts, t_target) - 1
                        k += 1
                        if idx == prev_idx:
                            continue
                        prev_idx = idx
                        arr = gframes[idx].astype(np.float64)
                        emit(
                            mid, idx, ts[idx], _ppm_bytes(gframes[idx]),
                            gif["width"], gif["height"],
                            np.float32(arr.mean(axis=2).mean() / 255.0), True,
                        )
                    continue
                if "pyav" in _backend_set(backend):
                    try:
                        ts, vframes, total, w, h = _video_frames_pyav(raw)
                    except RuntimeError:
                        raise  # missing library: fail loudly, never flag
                    except (ValueError, OSError, IndexError, TypeError):
                        emit(mid, None, None, None, None, None, None, False)
                        continue
                    k = 0
                    prev_idx = -1
                    while True:
                        t_target = k * every_ms
                        if t_target >= total:
                            break
                        idx = bisect.bisect_right(ts, t_target) - 1
                        k += 1
                        if idx == prev_idx:
                            continue
                        prev_idx = idx
                        arr = vframes[idx].astype(np.float64)
                        emit(
                            mid, idx, ts[idx], _ppm_bytes(vframes[idx]),
                            w, h,
                            np.float32(arr.mean(axis=2).mean() / 255.0),
                            True,
                        )
                    continue
                try:
                    avi = parse_avi(raw)
                except (NotImplementedError, ValueError, TypeError):
                    emit(mid, None, None, None, None, None, None, False)
                    continue
                period_us = avi["usec_per_frame"]
                frames = avi["frames"]
                k = 0
                prev_idx = -1
                while True:
                    idx = (k * every_ms * 1000) // period_us
                    if idx >= len(frames):
                        break
                    k += 1
                    if idx == prev_idx:  # every_ms finer than the stream clock
                        continue
                    prev_idx = idx
                    ts_ms = (idx * period_us) // 1000
                    jpeg = frames[idx]
                    try:
                        arr = decode_image(jpeg).astype(np.float64)
                    except (NotImplementedError, ValueError, TypeError,
                            ZeroDivisionError, IndexError, OverflowError):
                        emit(mid, idx, ts_ms, jpeg, None, None, None, False)
                    else:
                        h, w = arr.shape[:2]
                        emit(
                            mid, idx, ts_ms, jpeg, w, h,
                            np.float32(arr.mean(axis=2).mean() / 255.0), True,
                        )
            yield pd.DataFrame(out)

    return media.where(F.col("kind") == "video").select(
        "media_id", "payload"
    ).mapInPandas(run, _KEYFRAMES_SCHEMA)


#: frame-key packing stride for video near-dup: frame keys are
#: video_id * _FRAME_KEY + frame_idx, so frame_idx must stay below it
#: (row-local assert) and video ids below 2^63 / _FRAME_KEY ~ 9.2e12.
_FRAME_KEY = 1_000_000


def video_pairs_from_frame_hashes(
    frame_hashes: DataFrame,
    *,
    max_hamming: int = 6,
    bands: int = 4,
    min_shared_frames: int = 2,
) -> DataFrame:
    """Roll frame-level perceptual-hash matches up to VIDEO near-dup
    pairs: band the per-frame 64-bit hashes (``frame_hashes`` carries
    video_id, frame_idx, hhex, hlong), find frame pairs within
    ``max_hamming`` via the shared :func:`banded_hamming_pairs` join,
    drop same-video pairs, and keep video pairs connected by at least
    ``min_shared_frames`` matching keyframe pairs — one chance match
    is noise, several sampled instants agreeing is a re-encode/
    re-level of the same footage. Output: (video1, video2,
    n_frame_pairs, min_hamming), video1 < video2.

    The frame key packs (video_id, frame_idx) into one long so the
    banding join stays a single-column equi-join; the unpack after the
    join is integer DIV. A frame matching TWO frames of the same other
    video contributes two pairs — n_frame_pairs counts matching pairs,
    not distinct frames (documented, monotone in either reading).
    """
    idx_ok = F.assert_true(
        (F.col("frame_idx") >= 0)
        & (F.col("frame_idx") < _FRAME_KEY)
        # video_id must survive the pack/unpack round trip: negatives
        # flip the DIV/% unpack (Spark % keeps the dividend sign) and
        # ids past 2^63/_FRAME_KEY wrap the non-ANSI multiply — both
        # silently regroup frames under the WRONG video
        & (F.col("video_id") >= 0)
        & (F.col("video_id") < F.lit((1 << 63) // _FRAME_KEY)),
        F.concat(
            F.lit(
                "video_pairs_from_frame_hashes: (video_id, frame_idx) out of "
                "range for key packing: ("
            ),
            F.col("video_id").cast("string"),
            F.lit(", "),
            F.col("frame_idx").cast("string"),
            F.lit(")"),
        ),
    )
    # the assert is folded INTO the consumed key expression (the winnow
    # cap pattern) so column pruning can never drop the check
    packed = F.when(
        idx_ok.isNull(),
        F.col("video_id") * F.lit(_FRAME_KEY) + F.col("frame_idx"),
    )
    keyed = frame_hashes.select(packed.alias("id"), "hhex", "hlong")
    fp = banded_hamming_pairs(keyed, max_hamming=max_hamming, bands=bands)
    v1 = F.expr(f"id1 DIV {_FRAME_KEY}")
    v2 = F.expr(f"id2 DIV {_FRAME_KEY}")
    return (
        fp.select(v1.alias("v1"), v2.alias("v2"), "hamming")
        .where(F.col("v1") != F.col("v2"))
        .select(
            F.least("v1", "v2").alias("video1"),
            F.greatest("v1", "v2").alias("video2"),
            "hamming",
        )
        .groupBy("video1", "video2")
        .agg(
            F.count(F.lit(1)).alias("n_frame_pairs"),
            F.min("hamming").alias("min_hamming"),
        )
        .where(F.col("n_frame_pairs") >= min_shared_frames)
    )


def video_near_dup_pairs(
    media: DataFrame,
    *,
    every_ms: int = 1000,
    max_hamming: int = 6,
    bands: int = 4,
    min_shared_frames: int = 2,
) -> DataFrame:
    """Video near-dup detection, composed end to end from the existing
    media path: :func:`video_keyframes` (real MJPEG-in-AVI decode, one
    keyframe per ``every_ms`` of stream time) -> :func:`image_dhash`
    over the sampled frames (each frame is a standalone JPEG payload)
    -> :func:`video_pairs_from_frame_hashes` (banded hamming join +
    video rollup). Two uploads of the same footage — re-encoded,
    re-levelled, container rewritten — keep near-identical keyframe
    dHashes and pair; distinct footage doesn't.

    Scale shape: decode cost is one pass over the video corpus
    (Arrow-batched, flagged-row failure contract); everything after
    the per-frame hash is the banded equi-join — never all-pairs —
    and the rollup aggregates the (small) matched-pair set. Corrupt
    containers/frames drop at the ``decoded`` filter.
    """
    kf = video_keyframes(media, every_ms=every_ms).where(F.col("decoded"))
    # the packing wraps silently past _FRAME_KEY, so guard it here too
    # (the rollup's assert only sees the already-unpacked remainder);
    # folded into the consumed key so pruning can't drop the check
    idx_ok = F.assert_true(
        (F.col("frame_idx") < F.lit(_FRAME_KEY))
        & (F.col("media_id") >= 0)
        & (F.col("media_id") < F.lit((1 << 63) // _FRAME_KEY)),
        F.concat(
            F.lit("video_near_dup_pairs: (media_id, frame_idx) out of key range: ("),
            F.col("media_id").cast("string"),
            F.lit(", "),
            F.col("frame_idx").cast("string"),
            F.lit(")"),
        ),
    )
    frames = kf.select(
        F.when(
            idx_ok.isNull(),
            F.col("media_id") * F.lit(_FRAME_KEY) + F.col("frame_idx"),
        ).alias("media_id"),
        F.lit("image").alias("kind"),
        F.col("frame").alias("payload"),
    )
    dh = image_dhash(frames).where(F.col("decoded"))
    hashes = dh.select(
        F.expr(f"media_id DIV {_FRAME_KEY}").alias("video_id"),
        F.expr(f"media_id % {_FRAME_KEY}").alias("frame_idx"),
        F.col("dhash").alias("hhex"),
        F.col("dhash_long").alias("hlong"),
    )
    return video_pairs_from_frame_hashes(
        hashes,
        max_hamming=max_hamming,
        bands=bands,
        min_shared_frames=min_shared_frames,
    )


def frame_sample(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame sampling plan: one output row per sampled frame
    timestamp, derived from meta.duration_ms — the decode itself is
    stubbed, the row explosion (the part that matters for partition
    sizing at scale) is real."""
    n_frames = (F.col("meta.duration_ms") / every_ms).cast("int")
    return (
        media.where(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx"),
        )
        .select(
            "media_id",
            "frame_idx",
            (F.col("frame_idx") * every_ms).alias("frame_ts_ms"),
        )
    )


def payload_fingerprint(media: DataFrame) -> DataFrame:
    """Exact binary fingerprint (md5 of payload) — dedup key for media."""
    return media.select(
        "media_id", "kind", F.md5(F.col("payload")).alias("payload_fp")
    )


_RESIZED_SCHEMA = (
    "media_id long, kind string, payload binary, "
    "meta struct<mime:string,width:int,height:int,duration_ms:bigint>"
)


def resize_images(
    media: DataFrame, *, width: int = 224, height: int = 224
) -> DataFrame:
    """Image resize via Arrow-batched ``mapInPandas`` — the standard
    pre-processing step before a vision encoder.

    The real pixel work is STUBBED (no codec libs in this container):
    ``decode_image`` raises, and the fake path derives a deterministic
    payload of exactly ``width*height*3`` bytes from the source bytes via
    sha256 expansion, updating ``meta.width/height`` — so output schema,
    row sizes (the thing that matters for partition/memory sizing at
    scale), and batch shapes are all real. Swap the marked block for a
    PIL/torchvision resize on a real cluster.
    """
    target_len = width * height * 3

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_payload = []
            out_meta = []
            for p, m in zip(pdf["payload"], pdf["meta"]):
                if p is None:
                    out_payload.append(None)
                    out_meta.append(m)
                    continue
                # --- STUB: real implementation decodes + resamples ---
                # img = decode_image(bytes(p)); img = img.resize((w, h))
                buf = bytearray()
                counter = 0
                src = bytes(p)
                while len(buf) < target_len:
                    buf += hashlib.sha256(
                        src + counter.to_bytes(4, "big")
                    ).digest()
                    counter += 1
                out_payload.append(bytes(buf[:target_len]))
                # ----------------------------------------------------
                meta = dict(m) if m is not None else {}
                meta["width"], meta["height"] = width, height
                out_meta.append(meta)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "payload": out_payload,
                    "meta": out_meta,
                }
            )

    return media.where(F.col("kind") == "image").mapInPandas(
        run, schema=_RESIZED_SCHEMA
    )
