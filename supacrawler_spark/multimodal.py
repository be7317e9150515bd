"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are carried as ``binary`` columns with a
struct of typed metadata, the screenshot-artifact analog of the
reference's binary pipeline (screenshot/service.go:110-633 stores PNG/
JPEG bytes + format/width/height metadata).

``decode_image`` is a real, dependency-free container parser: it reads
width/height/format from PNG (IHDR), GIF (screen descriptor), JPEG
(SOF segment walk) and BMP (DIB header) bytes — no image libraries
needed. Pixel-level work (resize, feature extraction) is REAL for
PNG-gray8 (full unfiltering), BMP24 (luma) and GIF (full LZW entropy
decode); JPEG pixel decode is the one documented seam where a real
deployment plugs Pillow/libvips. ``fake_decode_meta`` is kept as the
deterministic stand-in for payloads that are not images.

At scale: binary payloads never shuffle — metadata extraction happens
in the scan stage (mapInPandas over the reading partitions), and only
the slim metadata rows move on. Arrow batch size is kept small by the
session default (maxRecordsPerBatch) because payloads are fat.
"""

from __future__ import annotations

import hashlib
import struct
import zlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from supacrawler_spark.session import read_table

MEDIA_META_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("format", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
])

# Everything a corrupt/truncated payload can raise out of the pure-bytes
# decoders: zlib.error (bad/short IDAT), struct.error (truncated fixed
# headers), IndexError (short inflated data / short pixel rows), plus the
# deliberate ValueError / NotImplementedError signals. Per-row handlers
# catch this tuple so a single bad payload degrades to the documented
# format='unsupported'/null row instead of failing the Spark job.
_ROW_DECODE_ERRORS = (ValueError, NotImplementedError, zlib.error,
                      struct.error, IndexError)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# JPEG SOF markers carry dimensions; C4/C8/CC are DHT/JPG/DAC, not SOFs
_JPEG_SOF = {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
             0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}


def decode_image(payload: bytes) -> dict:
    """Parse (format, width, height) from image container headers.

    Pure-bytes, dependency-free. Raises ValueError for non-image or
    truncated payloads.
    """
    b = bytes(payload or b"")
    if b.startswith(_PNG_SIG) and len(b) >= 24 and b[12:16] == b"IHDR":
        w, h = struct.unpack(">II", b[16:24])
        return {"format": "png", "width": w, "height": h}
    if b[:6] in (b"GIF87a", b"GIF89a") and len(b) >= 10:
        w, h = struct.unpack("<HH", b[6:10])
        return {"format": "gif", "width": w, "height": h}
    if b[:2] == b"\xff\xd8":
        i = 2
        while i + 4 <= len(b):
            if b[i] != 0xFF:
                i += 1
                continue
            marker = b[i + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2          # standalone markers, no length
                continue
            if i + 4 > len(b):
                break
            seg_len = struct.unpack(">H", b[i + 2:i + 4])[0]
            if marker in _JPEG_SOF and i + 9 <= len(b):
                h, w = struct.unpack(">HH", b[i + 5:i + 9])
                return {"format": "jpeg", "width": w, "height": h}
            i += 2 + seg_len
        raise ValueError("jpeg: no SOF segment found")
    if b[:2] == b"BM" and len(b) >= 26:
        w, h = struct.unpack("<ii", b[18:26])
        return {"format": "bmp", "width": w, "height": abs(h)}
    raise ValueError("unrecognized image container")


def fake_decode_meta(payload: bytes) -> dict:
    """Deterministic decode stand-in for NON-image payloads: metadata
    derived purely from the bytes (so tests and oracles are stable)."""
    digest = hashlib.blake2b(payload, digest_size=8).digest()
    return {
        "n_bytes": len(payload),
        "sha": digest.hex(),
        "width": 64 + digest[0] % 192,
        "height": 64 + digest[1] % 192,
        "format": "fake/raw",
    }


# ---------------------------------------------------------------------------
# deterministic image synthesis (fixture: real bytes, a-priori metadata)
# ---------------------------------------------------------------------------

def image_dims(doc_id: int) -> "tuple[int, int]":
    """The fixture's dimension rule — mirrored literally by the DuckDB
    oracle, so the header parser must recover it from real bytes."""
    return 16 + doc_id % 48, 16 + (doc_id * 7) % 48


def synth_image(doc_id: int) -> "tuple[bytes, str]":
    """A real minimal image for doc_id: PNG / GIF / JPEG round-robin,
    dimensions from image_dims. The PNG is fully valid (zlib IDAT,
    correct CRCs); the GIF is fully valid (real LZW pixel stream,
    solid doc_id % 251); JPEG is a header-complete container with
    minimal body segments — enough for any header parser."""
    w, h = image_dims(doc_id)
    fmt = doc_id % 3
    if fmt == 0:
        def chunk(tag, data):
            return (struct.pack(">I", len(data)) + tag + data
                    + struct.pack(">I", zlib.crc32(tag + data)))
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # 8-bit gray
        row = bytes([doc_id % 251] * w)
        raw = b"".join(b"\x00" + row for _ in range(h))
        return (_PNG_SIG + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(raw, 6))
                + chunk(b"IEND", b"")), "png"
    if fmt == 1:
        # real pixel data (solid doc_id % 251, the PNG branch's rule)
        return encode_gif_gray(w, h, bytes([doc_id % 251] * (w * h))), "gif"
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" \
        + struct.pack(">HH", 1, 1) + b"\x00\x00"
    sof0 = b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" \
        + struct.pack(">HH", h, w) + b"\x01\x01\x11\x00"
    sos = b"\xff\xda" + struct.pack(">H", 8) + b"\x01\x01\x00\x00\x3f\x00"
    return b"\xff\xd8" + app0 + sof0 + sos + b"\x00" + b"\xff\xd9", "jpeg"


# ---------------------------------------------------------------------------
# pixel decode / resize / feature-extract (real for PNG-gray8, BMP24
# and GIF; the codec-library seam raises NotImplementedError for JPEG)
# ---------------------------------------------------------------------------

def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def decode_png_gray(b: bytes) -> "tuple[int, int, bytes]":
    """REAL dependency-free PNG pixel decoder for 8-bit grayscale
    non-interlaced images: chunk walk, zlib inflate, and full
    scanline unfiltering (None/Sub/Up/Average/Paeth). Returns
    (width, height, row-major top-down pixel bytes)."""
    if not b.startswith(_PNG_SIG):
        raise ValueError("not a png")
    i = 8
    w = h = None
    idat = b""
    while i + 8 <= len(b):
        ln = int.from_bytes(b[i:i + 4], "big")
        tag = b[i + 4:i + 8]
        data = b[i + 8:i + 8 + ln]
        if tag == b"IHDR":
            w, h = struct.unpack(">II", data[:8])
            depth, color, _comp, _filt, interlace = data[8:13]
            if depth != 8 or color != 0 or interlace != 0:
                raise NotImplementedError(
                    "pixel decode implemented for 8-bit grayscale "
                    "non-interlaced PNG; plug an image library for more")
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
        i += 12 + ln
    if w is None:
        raise ValueError("png: no IHDR")
    raw = zlib.decompress(idat)
    out = bytearray()
    prev = bytes(w)
    pos = 0
    for _y in range(h):
        ft = raw[pos]
        pos += 1
        row = bytearray(raw[pos:pos + w])
        pos += w
        if ft == 0:
            pass
        elif ft == 1:    # Sub
            for x in range(1, w):
                row[x] = (row[x] + row[x - 1]) & 0xFF
        elif ft == 2:    # Up
            for x in range(w):
                row[x] = (row[x] + prev[x]) & 0xFF
        elif ft == 3:    # Average
            for x in range(w):
                a = row[x - 1] if x else 0
                row[x] = (row[x] + ((a + prev[x]) >> 1)) & 0xFF
        elif ft == 4:    # Paeth
            for x in range(w):
                a = row[x - 1] if x else 0
                c = prev[x - 1] if x else 0
                row[x] = (row[x] + _paeth(a, prev[x], c)) & 0xFF
        else:
            raise ValueError(f"png: bad filter type {ft}")
        out += row
        prev = row
    return w, h, bytes(out)


def encode_png_gray(w: int, h: int, pix: bytes,
                    filters: "list[int] | None" = None) -> bytes:
    """Minimal 8-bit grayscale PNG encoder (filters 0/1/2 per row)."""
    def chunk(tag, data):
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data)))

    rows = []
    prev = bytes(w)
    for y in range(h):
        row = pix[y * w:(y + 1) * w]
        ft = filters[y % len(filters)] if filters else 0
        if ft == 0:
            enc = row
        elif ft == 1:
            enc = bytes((row[x] - (row[x - 1] if x else 0)) & 0xFF
                        for x in range(w))
        elif ft == 2:
            enc = bytes((row[x] - prev[x]) & 0xFF for x in range(w))
        else:
            raise ValueError("encoder supports filters 0/1/2")
        rows.append(bytes([ft]) + enc)
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (_PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(b"".join(rows), 6))
            + chunk(b"IEND", b""))


def decode_bmp_gray(b: bytes) -> "tuple[int, int, bytes]":
    """REAL 24-bit bottom-up BMP pixel decoder -> integer-luma
    grayscale (r*299+g*587+b*114)//1000, row-major top-down."""
    if b[:2] != b"BM" or len(b) < 54:
        raise ValueError("not a bmp")
    off = struct.unpack("<I", b[10:14])[0]
    w, h = struct.unpack("<ii", b[18:26])
    bpp = struct.unpack("<H", b[28:30])[0]
    if bpp != 24 or h <= 0:
        raise NotImplementedError(
            "pixel decode implemented for 24-bit bottom-up BMP")
    stride = (w * 3 + 3) & ~3
    out = bytearray(w * h)
    for y in range(h):
        src = off + (h - 1 - y) * stride    # bottom-up rows
        for x in range(w):
            bb, gg, rr = b[src + 3 * x:src + 3 * x + 3]
            out[y * w + x] = (rr * 299 + gg * 587 + bb * 114) // 1000
    return w, h, bytes(out)


def _lzw_decode(min_code_size: int, data: bytes) -> bytes:
    """General GIF-flavor LZW decoder: LSB-first variable-width codes,
    clear/end handling, KwKwK case, 12-bit table cap with deferred
    clear (a full table stops growing until the next clear code, per
    the GIF89a spec appendix)."""
    clear = 1 << min_code_size
    end = clear + 1
    width = min_code_size + 1
    table = {i: bytes([i]) for i in range(clear)}
    next_code = end + 1
    out = bytearray()
    prev = None
    acc = bits = 0
    for byte in data:
        acc |= byte << bits
        bits += 8
        while bits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            bits -= width
            if code == clear:
                table = {i: bytes([i]) for i in range(clear)}
                next_code = end + 1
                width = min_code_size + 1
                prev = None
                continue
            if code == end:
                return bytes(out)
            if prev is None:
                if code not in table:
                    raise ValueError("gif: bad first lzw code")
                entry = table[code]
            else:
                if code in table:
                    entry = table[code]
                elif code == next_code:
                    entry = prev + prev[:1]
                else:
                    raise ValueError("gif: lzw code out of range")
                if next_code <= 0xFFF:
                    table[next_code] = prev + entry[:1]
                    next_code += 1
                    if next_code == (1 << width) and width < 12:
                        width += 1
            out += entry
            prev = entry
    raise ValueError("gif: lzw stream ended without end code")


def _lzw_encode_literals(pix: bytes, min_code_size: int = 8) -> bytes:
    """LZW encoder emitting only literal (root) codes, mirroring the
    decoder's table-growth/width rules exactly — every output stream
    is spec-valid for ANY conforming GIF decoder (the 'uncompressed
    GIF' technique); clears before the 12-bit table fills."""
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    acc = bits = 0
    width = min_code_size + 1

    def emit(code):
        nonlocal acc, bits
        acc |= code << bits
        bits += width
        while bits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            bits -= 8

    emit(clear)
    next_code = end + 1
    grew = False     # the decoder adds no entry for the 1st post-clear code
    for b in pix:
        emit(b)
        if not grew:
            grew = True
        else:
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
            if next_code == 0xFFF:
                emit(clear)
                width = min_code_size + 1
                next_code = end + 1
                grew = False
    emit(end)
    if bits:
        out.append(acc & 0xFF)
    return bytes(out)


def encode_gif_gray(w: int, h: int, pix: bytes) -> bytes:
    """Minimal GIF87a encoder: 256-entry grayscale global color table
    (palette index == gray value, so luma round-trips exactly),
    literal-code LZW pixel stream in 255-byte sub-blocks."""
    gct = bytes(v for i in range(256) for v in (i, i, i))
    screen = struct.pack("<HH", w, h) + bytes([0xF7, 0, 0])
    img_desc = b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
    lzw = _lzw_encode_literals(pix, 8)
    blocks = b"".join(bytes([len(lzw[i:i + 255])]) + lzw[i:i + 255]
                      for i in range(0, len(lzw), 255)) + b"\x00"
    return (b"GIF87a" + screen + gct + img_desc + bytes([8]) + blocks
            + b"\x3b")


def decode_gif_gray(b: bytes) -> "tuple[int, int, bytes]":
    """REAL dependency-free GIF decoder (first image frame): header +
    global/local color table walk, extension-block skip, full LZW
    entropy decode, palette lookup -> integer luma
    (r*299+g*587+b*114)//1000 (the BMP24 rule). Interlaced images
    raise at the documented seam; truncated payloads raise
    ValueError/IndexError (caught per-row by the media operators)."""
    if b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a gif")
    flags = b[10]
    i = 13
    palette = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        palette = b[i:i + 3 * n]
        i += 3 * n
    while i < len(b):
        blk = b[i]
        if blk == 0x21:          # extension: introducer+label+sub-blocks
            i += 2
            while b[i] != 0:
                i += 1 + b[i]
            i += 1
        elif blk == 0x2C:        # image descriptor
            lw, lh = struct.unpack("<HH", b[i + 5:i + 9])
            lflags = b[i + 9]
            i += 10
            if lflags & 0x40:
                raise NotImplementedError(
                    "interlaced GIF decode; plug an image library")
            if lflags & 0x80:    # local color table wins
                n = 2 << (lflags & 7)
                palette = b[i:i + 3 * n]
                i += 3 * n
            if palette is None:
                raise ValueError("gif: no color table")
            mcs = b[i]
            i += 1
            data = bytearray()
            while b[i] != 0:
                ln = b[i]
                data += b[i + 1:i + 1 + ln]
                i += 1 + ln
            idx = _lzw_decode(mcs, bytes(data))
            if len(idx) < lw * lh:
                raise ValueError("gif: short pixel data")
            out = bytearray(lw * lh)
            for j in range(lw * lh):
                p = idx[j] * 3
                r, g, bl = palette[p:p + 3]
                out[j] = (r * 299 + g * 587 + bl * 114) // 1000
            return lw, lh, bytes(out)
        elif blk == 0x3B:
            break
        else:
            raise ValueError(f"gif: unknown block 0x{blk:02x}")
    raise ValueError("gif: no image data")


def decode_pixels(payload: bytes) -> dict:
    """Pixel-level decode to grayscale. REAL for PNG-gray8, BMP24 and
    GIF (full LZW entropy decode); raises NotImplementedError for
    JPEG — the clearly marked seam where a real deployment plugs
    Pillow/libvips (JPEG needs Huffman+DCT, a genuine codec library's
    job)."""
    b = bytes(payload or b"")
    if b.startswith(_PNG_SIG):
        w, h, pix = decode_png_gray(b)
        return {"format": "png", "width": w, "height": h, "pix": pix}
    if b[:2] == b"BM":
        w, h, pix = decode_bmp_gray(b)
        return {"format": "bmp", "width": w, "height": h, "pix": pix}
    if b[:6] in (b"GIF87a", b"GIF89a"):
        w, h, pix = decode_gif_gray(b)
        return {"format": "gif", "width": w, "height": h, "pix": pix}
    if b[:2] == b"\xff\xd8":
        raise NotImplementedError(
            "JPEG pixel decode requires an image codec library")
    raise ValueError("unrecognized image container")


def resize_nn(pix: bytes, w: int, h: int, ow: int, oh: int) -> bytes:
    """Nearest-neighbor grayscale resample (floor mapping
    x_in = x_out*w//ow — mirrored literally by the SQL oracle)."""
    return bytes(pix[(y * h // oh) * w + (x * w // ow)]
                 for y in range(oh) for x in range(ow))


def media_resize(df: DataFrame, out_w: int = 8, out_h: int = 8,
                 payload_col: str = "payload",
                 id_col: str = "doc_id") -> DataFrame:
    """Distributed thumbnail pass: decode -> nearest-neighbor resize
    in one mapInPandas (payload bytes die in the scan task; only slim
    stats move on). Non-decodable payloads -> format='unsupported'."""
    schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("px_min", T.IntegerType()),
        T.StructField("px_max", T.IntegerType()),
    ])

    def work(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                rec = {id_col: int(getattr(r, id_col)),
                       "format": "unsupported", "width": None,
                       "height": None, "px_min": None, "px_max": None}
                try:
                    d = decode_pixels(getattr(r, payload_col))
                    small = resize_nn(d["pix"], d["width"], d["height"],
                                      out_w, out_h)
                    rec.update(format=d["format"], width=out_w,
                               height=out_h, px_min=min(small),
                               px_max=max(small))
                except _ROW_DECODE_ERRORS:
                    pass
                rows.append(rec)
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    return df.mapInPandas(work, schema)


def media_features(df: DataFrame, payload_col: str = "payload",
                   id_col: str = "doc_id") -> DataFrame:
    """Feature extraction over decoded pixels (brightness statistics
    in exact integer algebra: n_px, px_sum, px_min, px_max) — one
    mapInPandas pass, same batch shape as media_resize."""
    schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_px", T.IntegerType()),
        T.StructField("px_sum", T.LongType()),
        T.StructField("px_min", T.IntegerType()),
        T.StructField("px_max", T.IntegerType()),
    ])

    def work(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                rec = {id_col: int(getattr(r, id_col)),
                       "format": "unsupported", "width": None,
                       "height": None, "n_px": None, "px_sum": None,
                       "px_min": None, "px_max": None}
                try:
                    d = decode_pixels(getattr(r, payload_col))
                    pix = d["pix"]
                    rec.update(format=d["format"], width=d["width"],
                               height=d["height"], n_px=len(pix),
                               px_sum=sum(pix), px_min=min(pix),
                               px_max=max(pix))
                except _ROW_DECODE_ERRORS:
                    pass
                rows.append(rec)
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    return df.mapInPandas(work, schema)


# ---------------------------------------------------------------------------
# audio: real RIFF/WAVE header parsing over deterministic fixtures
# ---------------------------------------------------------------------------

def audio_params(doc_id: int) -> "tuple[int, int, int, int]":
    """Fixture rule: (channels, sample_rate, bits, n_samples) —
    a-priori, mirrored literally by the SQL oracle."""
    return (1 + doc_id % 2,
            (8000, 16000, 22050, 44100)[doc_id % 4],
            (8, 16)[doc_id % 2],
            256 + (doc_id * 13) % 1024)


def synth_wav(doc_id: int) -> bytes:
    """A real, complete RIFF/WAVE container (PCM fmt chunk + data
    chunk; sample bytes cycle a doc_id-seeded pattern) with dims from
    audio_params."""
    ch, rate, bits, n = audio_params(doc_id)
    block = ch * bits // 8
    data = bytes((doc_id + i) % 251 for i in range(n * block))
    fmt = struct.pack("<HHIIHH", 1, ch, rate, rate * block, block, bits)
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(payload: bytes) -> dict:
    """REAL dependency-free RIFF/WAVE header parser: chunk walk to
    'fmt ' and 'data', returning channels / sample_rate / bits /
    n_samples / duration_ms. Raises ValueError on non-WAV bytes."""
    b = bytes(payload or b"")
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE container")
    i = 12
    fmt = None
    data_len = None
    while i + 8 <= len(b):
        tag = b[i:i + 4]
        ln = struct.unpack("<I", b[i + 4:i + 8])[0]
        if tag == b"fmt " and ln >= 16:
            fmt = struct.unpack("<HHIIHH", b[i + 8:i + 24])
        elif tag == b"data":
            data_len = ln
        i += 8 + ln + (ln & 1)   # chunks are word-aligned
    if fmt is None or data_len is None:
        raise ValueError("wav: missing fmt/data chunk")
    _audio_fmt, ch, rate, _bps, block, bits = fmt
    n_samples = data_len // block if block else 0
    return {"channels": ch, "sample_rate": rate, "bits": bits,
            "n_samples": n_samples,
            "duration_ms": n_samples * 1000 // rate if rate else 0}


def audio_metadata(df: DataFrame, payload_col: str = "payload",
                   id_col: str = "doc_id") -> DataFrame:
    """Typed audio metadata from binary payloads via mapInPandas
    (same batch shape as media_metadata; payloads never shuffle)."""
    schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("bits", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
    ])

    def work(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                rec = {id_col: int(getattr(r, id_col)),
                       "channels": None, "sample_rate": None,
                       "bits": None, "n_samples": None,
                       "duration_ms": None}
                try:
                    rec.update(decode_wav(getattr(r, payload_col)))
                except _ROW_DECODE_ERRORS:
                    pass
                rows.append(rec)
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    return df.mapInPandas(work, schema)


def docs_as_audio(spark, sf_dir) -> DataFrame:
    """Fixture: a real WAV payload per document."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        for pdf in batches:
            ids = [int(i) for i in pdf["doc_id"]]
            yield pd.DataFrame({
                "doc_id": ids,
                "payload": [synth_wav(i) for i in ids]})

    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("payload", T.BinaryType())])
    return docs.mapInPandas(gen, schema)


# ---------------------------------------------------------------------------
# frame sampling over a deterministic fake video container (the
# container format is a stand-in — no video codec ships here — but the
# byte-offset parsing, sampling arithmetic, schema and batch shape are
# the real Spark plumbing a frame sampler needs)
# ---------------------------------------------------------------------------

_FAKV_MAGIC = b"FAKV"


def video_frames(doc_id: int) -> int:
    """Fixture frame-count rule (a-priori, mirrored by the oracle)."""
    return 4 + doc_id % 7


def synth_video(doc_id: int) -> bytes:
    """Deterministic fake video: 'FAKV' + u32le (n_frames, w, h) +
    n_frames raw grayscale frames; frame f pixel i = (doc_id+f+i)%251
    — every byte position is a-priori computable, so the sampler's
    offset math is genuinely checked end to end."""
    w, h = image_dims(doc_id)
    n = video_frames(doc_id)
    head = _FAKV_MAGIC + struct.pack("<III", n, w, h)
    frames = b"".join(
        bytes((doc_id + f + i) % 251 for i in range(w * h))
        for f in range(n))
    return head + frames


def frame_sample(df: DataFrame, every: int = 2,
                 payload_col: str = "payload",
                 id_col: str = "doc_id") -> DataFrame:
    """Sample every k-th frame of a FAKV payload: one mapInPandas pass
    emitting one slim row per sampled frame (the row expansion happens
    inside the Arrow batch; frame bytes never leave the task).
    px_first/px_last are read from the actual frame bytes — wrong
    offset math shows up immediately."""
    schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("px_first", T.IntegerType()),
        T.StructField("px_last", T.IntegerType()),
    ])

    def work(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                b = bytes(getattr(r, payload_col) or b"")
                if b[:4] != _FAKV_MAGIC or len(b) < 16:
                    continue
                n, w, h = struct.unpack_from("<III", b, 4)
                fsz = w * h
                if fsz <= 0:
                    continue
                for f in range(0, n, every):
                    off = 16 + f * fsz
                    # truncated payload: only frames fully in the buffer
                    if off + fsz > len(b):
                        break
                    rows.append({
                        id_col: int(getattr(r, id_col)),
                        "frame_idx": f, "width": w, "height": h,
                        "px_first": b[off],
                        "px_last": b[off + fsz - 1],
                    })
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    return df.mapInPandas(work, schema)


def docs_as_gradient_media(spark, sf_dir) -> DataFrame:
    """Fixture: a gradient image per document — pixel (x,y) =
    (doc_id + 3x + 5y) % 251, dims from image_dims. Containers
    round-robin PNG (scanline filters cycling None/Sub/Up so the
    unfiltering is genuinely exercised) and GIF (full LZW entropy
    decode exercised; gray palette, so luma recovers the index
    exactly). Every pixel is a-priori computable by the SQL oracle —
    the oracle is container-agnostic, so a codec bug in EITHER path
    fails the hash."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        for pdf in batches:
            ids = [int(i) for i in pdf["doc_id"]]
            payloads = []
            for i in ids:
                w, h = image_dims(i)
                pix = bytes((i + 3 * x + 5 * y) % 251
                            for y in range(h) for x in range(w))
                if i % 3 == 1:
                    payloads.append(encode_gif_gray(w, h, pix))
                else:
                    payloads.append(encode_png_gray(w, h, pix,
                                                    filters=[0, 1, 2]))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("payload", T.BinaryType())])
    return docs.mapInPandas(gen, schema)


def docs_as_video(spark, sf_dir) -> DataFrame:
    """Fixture: a FAKV fake-video payload per document."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        for pdf in batches:
            ids = [int(i) for i in pdf["doc_id"]]
            yield pd.DataFrame({
                "doc_id": ids,
                "payload": [synth_video(i) for i in ids]})

    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("payload", T.BinaryType())])
    return docs.mapInPandas(gen, schema)


def media_metadata(df: DataFrame, payload_col: str = "payload",
                   id_col: str = "doc_id") -> DataFrame:
    """Extract typed metadata from a binary media column via
    mapInPandas (Arrow batches; one pass, payload never re-shuffled).
    Unparseable payloads get format='unknown' and null dimensions."""

    cols = [f.name for f in MEDIA_META_SCHEMA.fields]

    def extract(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                payload = bytes(getattr(r, payload_col) or b"")
                try:
                    m = decode_image(payload)
                except ValueError:
                    m = {"format": "unknown", "width": None, "height": None}
                m[id_col] = int(getattr(r, id_col))
                rows.append(m)
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(extract, MEDIA_META_SCHEMA)


def media_digest(df: DataFrame, payload_col: str = "payload",
                 id_col: str = "doc_id") -> DataFrame:
    """Binary-exactness check for the payload plumbing: byte length +
    md5, computed JVM-side (codegen built-ins — the fast path; the
    mapInPandas path is exercised by media_metadata)."""
    from pyspark.sql import functions as F
    return df.select(
        F.col(id_col),
        F.length(payload_col).cast("int").alias("n_bytes"),
        F.md5(payload_col).alias("digest"))


def docs_as_media(spark, sf_dir) -> DataFrame:
    """Fixture: a real image payload per document row, synthesized
    deterministically from doc_id (format/width/height are therefore
    a-priori known to the oracle while the bytes are real containers)."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        for pdf in batches:
            ids = pdf["doc_id"].tolist()
            yield pd.DataFrame({
                "doc_id": [int(i) for i in ids],
                "payload": [synth_image(int(i))[0] for i in ids],
            })

    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("payload", T.BinaryType())])
    return docs.mapInPandas(gen, schema)


def docs_as_text_media(spark, sf_dir) -> DataFrame:
    """Fixture: document text bytes as opaque payloads (digest path)."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.selectExpr("doc_id", "cast(text as binary) as payload")
