"""Multimodal-column operators (SURVEY.md §2 x5).

Media (image, audio, archive) are opaque ``binary`` columns. Each format
has a fixture generator ``<fmt>_bytes(i)`` that builds a real,
spec-conformant file from an integer id, so a SQL oracle predicts every
decoded field arithmetically, and a lib-free decoder written as a per-row
function of ``(doc_id, media)``. `attach_media` materializes fixtures and
every decoder runs through `functions.compute.map_rows`: one typed Arrow
row-map, map-only, no shuffle. Each decoder keeps its own validity rules;
an invalid payload becomes a ``valid=false`` row, never a mid-batch throw.
`attach_fake_media` and `sample_frames` are the pure-expression path (x5c).
"""

from __future__ import annotations

import struct
import zlib
from typing import Callable

from pyspark.sql import DataFrame, functions as F

from ..functions.compute import map_rows
from .jpeg import jpeg_bytes, jpeg_luma_grid


def attach_media(
    df: DataFrame, id_col: str, make: Callable[[int], bytes]
) -> DataFrame:
    """``(doc_id bigint, media binary)`` with one ``make(id)`` payload per
    row, built executor-side; ``make`` is a fixture generator such as
    `bmp_bytes`, `wav_bytes` or `tar_bytes`."""
    return map_rows(
        df.select(F.col(id_col).alias("doc_id")),
        "doc_id bigint, media binary",
        lambda i: [(i, make(i))],
    )


def attach_fake_media(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Build a media table from text bytes (deterministic stand-in for real
    image/audio payloads): binary column + typed metadata struct."""
    media = F.encode(F.substring(F.col(text_col), 1, 64), "utf-8")
    return df.select(
        F.col(id_col).alias("doc_id"),
        media.alias("media"),
        F.lit("image/fake").alias("media_type"),
        F.struct(
            (F.length(media) % 64).cast("int").alias("width"),
            (F.length(media) % 48).cast("int").alias("height"),
            F.length(media).cast("int").alias("n_bytes"),
        ).alias("meta"),
    )


def bmp_bytes(i: int) -> bytes:
    """A REAL (tiny) BMP file — valid BITMAPFILEHEADER + BITMAPINFOHEADER +
    24-bit pixel rows with standard 4-byte row padding — with dimensions and
    pixel bytes derived deterministically from ``i``. The fixture generator
    for `parse_bmp`/`resize_bmp`: a SQL oracle can predict every recovered
    field from ``i`` without seeing the binary."""
    i = int(i)
    width = i % 16 + 1
    height = i % 12 + 1
    row_size = (24 * width + 31) // 32 * 4
    pixel_bytes = row_size * height
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + pixel_bytes, 0, 0, 54
    ) + struct.pack(
        "<IiiHHIIiiII",
        40, width, height, 1, 24, 0, pixel_bytes, 2835, 2835, 0, 0,
    )
    px = bytes((i * 7 + j) % 256 for j in range(pixel_bytes))
    return header + px


def parse_bmp(media_df: DataFrame) -> DataFrame:
    """x5 — REAL media decode for one trivial format: parse the BMP headers
    in pure Python (struct.unpack over the binary column) and emit SCALAR
    feature columns: magic validity, dimensions, bit depth, declared vs
    actual size, and the first pixel byte (proves the pixel-array offset is
    honored)."""

    def row(doc_id, b):
        ok = len(b) >= 54 and b[:2] == b"BM"
        if ok:
            file_size, _, _, offset = struct.unpack("<IHHI", b[2:14])
            _, width, height, _, bpp = struct.unpack("<IiiHH", b[14:30])
            ok = file_size == len(b) and offset < len(b)
        if not ok:
            return [(doc_id, False, None, None, None, len(b), None)]
        return [(doc_id, True, width, height, bpp, len(b), b[offset])]

    return map_rows(
        media_df.select("doc_id", "media"),
        "doc_id bigint, valid boolean, width bigint, height bigint, "
        "bpp bigint, n_bytes bigint, px0 bigint",
        row,
    )


def resize_bmp(media_df: DataFrame, factor: int = 2) -> DataFrame:
    """x5 — REAL media resize for the BMP format: nearest-neighbor
    downsample by an integer factor, done by parsing the pixel array and
    rebuilding a VALID BMP (new dims, new row stride with standard 4-byte
    padding, corrected size fields), binary→binary. Output re-parses with
    `parse_bmp`, so the whole decode→transform→decode chain is
    oracle-checkable (dims are ceil(w/f), ceil(h/f); the first stored
    pixel survives by construction).

    Invalid or unsupported payloads (truncated, wrong magic, size
    mismatch, non-24bpp) pass through UNCHANGED — never throw mid-batch,
    never silently corrupt (the pixel loop assumes 3 bytes/px)."""
    f = int(factor)

    def row(doc_id, b):
        # Shared 24bpp gate (incl. full-pixel-buffer-present check — a
        # consistent-but-truncated file must pass through, not resize
        # empty slices into a corrupt output).
        g = _bmp_gate24(b)
        if g is None:
            return [(doc_id, b)]
        w, h, offset, stride = g
        bpp = 24
        w2, h2 = (w + f - 1) // f, (h + f - 1) // f
        stride2 = (bpp * w2 + 31) // 32 * 4
        px = b[offset:]
        rows = []
        for r in range(0, h, f):
            line = px[r * stride : r * stride + w * 3]
            kept = b"".join(line[c * 3 : c * 3 + 3] for c in range(0, w, f))
            rows.append(kept.ljust(stride2, b"\0"))
        data = b"".join(rows)
        header = struct.pack(
            "<2sIHHI", b"BM", 54 + len(data), 0, 0, 54
        ) + struct.pack(
            "<IiiHHIIiiII",
            40, w2, h2, 1, bpp, 0, len(data), 2835, 2835, 0, 0,
        )
        return [(doc_id, header + data)]

    return map_rows(
        media_df.select("doc_id", "media"), "doc_id bigint, media binary", row
    )


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (RFC 2083 §6.6)."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _png_decode(b: bytes):
    """Shared full PNG decode (chunk walk with CRC verification, IDAT
    concatenation, zlib inflate, all five scanline-filter inversions).

    Returns ``None`` for corrupt input; ``(w, h, depth, ctype, None)`` for
    a valid container whose subset we don't decode (non-8-bit-RGB,
    interlaced); ``(w, h, 8, 2, rows)`` with the recovered scanlines
    otherwise. Single source of truth for `parse_png` and `resize_png`."""
    if len(b) < 8 or b[:8] != _PNG_SIG:
        return None
    pos, ihdr, idat = 8, None, b""
    while pos + 12 <= len(b):
        (ln,) = struct.unpack(">I", b[pos : pos + 4])
        ctype = b[pos + 4 : pos + 8]
        body = b[pos + 8 : pos + 8 + ln]
        if len(body) != ln or pos + 12 + ln > len(b):
            # body fits but the 4 CRC bytes are truncated (fuzz)
            return None
        (crc,) = struct.unpack(">I", b[pos + 8 + ln : pos + 12 + ln])
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            return None
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None:
        return None
    w, h, depth, ctype_i, comp, filt, interlace = ihdr
    if w == 0 or h == 0:
        # a CRC-correct zero-dimension file would pass every length check
        # below (0 == 0) and then break callers indexing rows[0][0]
        return None
    if (depth, ctype_i, comp, filt, interlace) != (8, 2, 0, 0, 0):
        return (w, h, depth, ctype_i, None)
    try:
        raw = zlib.decompress(idat)
    except zlib.error:
        return None
    bpp, stride = 3, w * 3
    if len(raw) != h * (1 + stride):
        return None
    rows, prior = [], bytes(stride)
    for r in range(h):
        ft = raw[r * (1 + stride)]
        line = raw[r * (1 + stride) + 1 : (r + 1) * (1 + stride)]
        if ft > 4:
            return None
        rec = bytearray()
        for x, v in enumerate(line):
            left = rec[x - bpp] if x >= bpp else 0
            up = prior[x]
            ul = prior[x - bpp] if x >= bpp else 0
            if ft == 1:
                v = (v + left) % 256
            elif ft == 2:
                v = (v + up) % 256
            elif ft == 3:
                v = (v + (left + up) // 2) % 256
            elif ft == 4:
                v = (v + _paeth(left, up, ul)) % 256
            rec.append(v)
        rows.append(bytes(rec))
        prior = rows[-1]
    return (w, h, 8, 2, rows)


def _bmp_gate24(b: bytes):
    """Shared validity gate for operators that consume 24bpp BMP pixels
    (`resize_bmp`, `image_dhash`): magic, size-field match, in-range pixel
    offset, positive dims, 24bpp, AND the full declared pixel buffer
    present. Returns ``(w, h, offset, stride)`` or ``None``."""
    if len(b) < 54 or b[:2] != b"BM":
        return None
    file_size, _, _, offset = struct.unpack("<IHHI", b[2:14])
    _, w, h, _, bpp = struct.unpack("<IiiHH", b[14:30])
    stride = (bpp * w + 31) // 32 * 4
    if not (
        file_size == len(b)
        and offset < len(b)
        and bpp == 24
        and w > 0
        and h > 0
        and offset + stride * h <= len(b)
    ):
        return None
    return (w, h, offset, stride)


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def png_bytes(i: int) -> bytes:
    """A REAL (tiny) PNG file — signature + IHDR + IDAT + IEND, 8-bit RGB,
    non-interlaced, CRC-correct, zlib-compressed scanlines — with dimensions
    and pixel bytes derived deterministically from ``i`` (same i→pixel rule
    as `bmp_bytes`, so a SQL oracle predicts every decoded field). Each row
    uses scanline filter ``row % 5``, so decoding exercises ALL five PNG
    filter types (None/Sub/Up/Average/Paeth), not just the trivial one."""
    i = int(i)
    width, height = i % 16 + 1, i % 12 + 1
    bpp = 3  # 8-bit RGB
    raw_rows = [
        bytes((i * 7 + r * width * bpp + c) % 256 for c in range(width * bpp))
        for r in range(height)
    ]
    out = []
    prior = bytes(width * bpp)
    for r, raw in enumerate(raw_rows):
        ft = r % 5
        f = bytearray()
        for x, v in enumerate(raw):
            left = raw[x - bpp] if x >= bpp else 0
            up = prior[x]
            ul = prior[x - bpp] if x >= bpp else 0
            if ft == 0:
                f.append(v)
            elif ft == 1:
                f.append((v - left) % 256)
            elif ft == 2:
                f.append((v - up) % 256)
            elif ft == 3:
                f.append((v - (left + up) // 2) % 256)
            else:
                f.append((v - _paeth(left, up, ul)) % 256)
        out.append(bytes([ft]) + bytes(f))
        prior = raw
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"".join(out)))
        + _png_chunk(b"IEND", b"")
    )


def parse_png(media_df: DataFrame) -> DataFrame:
    """x5 — REAL PNG decode, lib-free: walk the chunk list with CRC
    verification, inflate the concatenated IDAT stream with stdlib zlib,
    and UNFILTER every scanline (all five filter types) to recover the
    actual pixel bytes. Supports the non-interlaced 8-bit RGB
    subset; anything else (or any corruption: bad signature, bad CRC, short
    pixel data) degrades to valid=false — never a mid-batch throw. Emits
    scalar features: dims, bit depth, color type, first recovered pixel
    byte, and the sum of all recovered pixel bytes (a content checksum the
    oracle can predict — proves the unfilter math, not just the headers)."""

    def row(doc_id, b):
        # a valid container of an unsupported subset (rows None) reports
        # its headers with valid=false
        w, h, depth, ctype_i, rows = _png_decode(b) or (None,) * 5
        ok = rows is not None
        return [(
            doc_id, ok, w, h, depth, ctype_i, len(b),
            rows[0][0] if ok else None, sum(map(sum, rows)) if ok else None,
        )]

    return map_rows(
        media_df.select("doc_id", "media"),
        "doc_id bigint, valid boolean, width bigint, height bigint, "
        "bit_depth bigint, color_type bigint, n_bytes bigint, px0 bigint, "
        "px_sum bigint",
        row,
    )


def _lzw_encode(data: bytes, min_code_size: int = 8) -> bytes:
    """GIF-flavor LZW compress (LSB-first bit packing, CLEAR/END codes,
    9→12-bit code growth, table reset at 4096 entries)."""
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1
    out = bytearray()
    acc = nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    def fresh():
        return (
            {bytes([c]): c for c in range(1 << min_code_size)},
            end + 1,
            min_code_size + 1,
        )

    table, nxt, width = fresh()
    emit(clear, width)
    w = b""
    for byte in data:
        wk = w + bytes([byte])
        if wk in table:
            w = wk
            continue
        emit(table[w], width)
        table[wk] = nxt
        nxt += 1
        # the decoder's mirror entry lags one code behind, so grow the
        # width when the NEXT code to assign would no longer fit
        if nxt == (1 << width) + 1 and width < 12:
            width += 1
        if nxt > 4095:
            emit(clear, width)
            table, nxt, width = fresh()
        w = bytes([byte])
    if w:
        emit(table[w], width)
    emit(end, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, min_code_size: int = 8) -> bytes | None:
    """GIF-flavor LZW decompress (inverse of `_lzw_encode`); None on a
    corrupt stream (bad code, missing clear semantics, truncation)."""
    if not 1 <= min_code_size <= 8:
        # GIF pixel data is 1-8 bits; a fuzzed size >8 would build root
        # table entries past bytes' range and crash mid-batch
        return None
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1
    out = bytearray()
    pos = acc = nbits = 0

    def read(width: int):
        nonlocal pos, acc, nbits
        while nbits < width:
            if pos >= len(data):
                return None
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        return code

    table = {c: bytes([c]) for c in range(1 << min_code_size)}
    nxt, width = end + 1, min_code_size + 1
    prev: bytes | None = None
    while True:
        code = read(width)
        if code is None or code == end:
            return bytes(out) if code == end else None
        if code == clear:
            table = {c: bytes([c]) for c in range(1 << min_code_size)}
            nxt, width = end + 1, min_code_size + 1
            prev = None
            continue
        if code < nxt and code in table:
            entry = table[code]
        elif code == nxt and prev is not None:
            entry = prev + prev[:1]
        else:
            return None
        out += entry
        if prev is not None and nxt < 4096:
            table[nxt] = prev + entry[:1]
            nxt += 1
            if nxt == (1 << width) and width < 12:
                width += 1
        prev = entry


def gif_bytes(i: int) -> bytes:
    """A REAL (tiny) GIF89a file — header, logical screen descriptor,
    256-entry global color table, image descriptor, genuinely
    LZW-compressed index stream in sub-blocks, trailer — with dimensions
    and pixel indices derived deterministically from ``i`` (same i→pixel
    rule as `bmp_bytes`/`png_bytes`, so a SQL oracle predicts every
    decoded field)."""
    i = int(i)
    width, height = i % 16 + 1, i % 12 + 1
    indices = bytes((i * 7 + j) % 256 for j in range(width * height))
    # header + LSD: 256-color global table (flag 0xF7: GCT, 8 bpp, size 7)
    out = b"GIF89a" + struct.pack("<HHBBB", width, height, 0xF7, 0, 0)
    out += bytes(
        b for c in range(256) for b in (c, (c * 3) % 256, (c * 7) % 256)
    )
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, 0)  # no LCT
    out += bytes([8])  # LZW minimum code size
    lzw = _lzw_encode(indices, 8)
    for off in range(0, len(lzw), 255):
        block = lzw[off : off + 255]
        out += bytes([len(block)]) + block
    return out + b"\x00\x3b"


def parse_gif(media_df: DataFrame) -> DataFrame:
    """x5 — REAL GIF decode, lib-free: parse the header/descriptors, walk
    the data sub-blocks, and run a full LZW decompression (code-table
    growth, 9→12-bit width changes, clear-code resets) to recover the
    pixel INDEX stream. Supports the single-image, global-color-table,
    non-interlaced subset; corruption or unsupported layouts degrade to
    valid=false — never a mid-batch throw. Emits scalar features: dims,
    color-table size, first pixel index, and the sum of all pixel indices
    (an oracle-predictable content checksum proving the LZW inverse)."""

    def decode(b: bytes):
        if len(b) < 13 or b[:6] not in (b"GIF87a", b"GIF89a"):
            return None
        w_s, h_s, flags, _, _ = struct.unpack("<HHBBB", b[6:13])
        pos = 13
        gct = 0
        if flags & 0x80:
            gct = 2 << (flags & 0x07)
            pos += 3 * gct
        # skip extension blocks (0x21 label, then sub-blocks)
        while pos < len(b) and b[pos] == 0x21:
            pos += 2
            while pos < len(b) and b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
        if pos + 10 > len(b) or b[pos] != 0x2C:
            return None
        left, top, w, h, iflags = struct.unpack(
            "<HHHHB", b[pos + 1 : pos + 10]
        )
        pos += 10
        if w == 0 or h == 0:
            # a zero-dim descriptor plus a bare CLEAR+END LZW stream passes
            # len(indices) == w*h (0 == 0) and then indices[0] would throw
            return None
        if iflags & 0xC0:  # local color table / interlace unsupported
            return (w_s, h_s, gct, None, None)
        if pos >= len(b):
            return None
        mcs = b[pos]
        pos += 1
        lzw = bytearray()
        while pos < len(b) and b[pos] != 0:
            n = b[pos]
            lzw += b[pos + 1 : pos + 1 + n]
            pos += 1 + n
        indices = _lzw_decode(bytes(lzw), mcs)
        if indices is None or len(indices) != w * h:
            return None
        return (w_s, h_s, gct, indices[0], sum(indices))

    def row(doc_id, b):
        # an unsupported layout reports its headers with valid=false
        w, h, gct, px0, px_sum = decode(b) or (None,) * 5
        return [(doc_id, px0 is not None, w, h, gct, len(b), px0, px_sum)]

    return map_rows(
        media_df.select("doc_id", "media"),
        "doc_id bigint, valid boolean, width bigint, height bigint, "
        "gct_size bigint, n_bytes bigint, px0 bigint, px_sum bigint",
        row,
    )


def wav_bytes(i: int) -> bytes:
    """A REAL (tiny) 16-bit PCM WAV file — RIFF header + fmt chunk + data
    chunk — with sample rate ``(8000, 16000, 22050, 44100)[i % 4]``,
    ``i % 2 + 1`` channels, ``i % 50 + 1`` samples and sample bytes all
    derived deterministically from ``i``. The fixture generator for
    `parse_wav`/`audio_sample_stats`: a SQL oracle predicts every decoded
    field from ``i``."""
    i = int(i)
    rate = (8000, 16000, 22050, 44100)[i % 4]
    channels, bits = i % 2 + 1, 16
    block = channels * bits // 8
    data = bytes((i * 11 + j) % 256 for j in range((i % 50 + 1) * block))
    fmt = struct.pack(
        "<4sIHHIIHH", b"fmt ", 16, 1, channels, rate, rate * block, block, bits
    )
    payload = fmt + struct.pack("<4sI", b"data", len(data)) + data
    return struct.pack("<4sI4s", b"RIFF", 4 + len(payload), b"WAVE") + payload


def parse_wav(media_df: DataFrame) -> DataFrame:
    """x5 — REAL audio decode for one trivial format: walk the RIFF chunk
    list (struct.unpack over the binary column) and emit SCALAR features:
    validity, sample rate, channels, bit depth, sample count, and duration
    in exact microseconds (integer — no float division, engine-portable)."""

    def row(doc_id, b):
        rate = ch = bits = n_samples = dur = None
        ok = (
            len(b) >= 12 and b[:4] == b"RIFF" and b[8:12] == b"WAVE"
            and struct.unpack("<I", b[4:8])[0] == len(b) - 8
        )
        if ok:
            pos, ok = 12, False
            while pos + 8 <= len(b):
                cid, sz = struct.unpack("<4sI", b[pos:pos + 8])
                body = b[pos + 8:pos + 8 + sz]
                if cid == b"fmt " and sz >= 16:
                    _, ch, rate, _, block, bits = struct.unpack(
                        "<HHIIHH", body[:16]
                    )
                elif cid == b"data" and rate:
                    # Guard a corrupt fmt chunk (channels=0 / bits<8 would
                    # make block-align 0 → ZeroDivisionError); and count the
                    # bytes actually PRESENT, not the declared chunk size —
                    # an inner chunk can over-declare while the RIFF size
                    # still matches.
                    block_align = ch * bits // 8
                    if block_align > 0:
                        n_samples = len(body) // block_align
                        dur = n_samples * 1_000_000 // rate
                        ok = True
                pos += 8 + sz + (sz & 1)  # RIFF chunks pad to even
        if not ok:
            return [(doc_id, False, None, None, None, None, None)]
        return [(doc_id, True, rate, ch, bits, n_samples, dur)]

    return map_rows(
        media_df.select("doc_id", "media"),
        "doc_id bigint, valid boolean, sample_rate bigint, channels bigint, "
        "bits bigint, n_samples bigint, duration_us bigint",
        row,
    )


def resize_png(media_df: DataFrame, factor: int = 2) -> DataFrame:
    """x5 — REAL resize for a COMPRESSED format: decode the PNG (inflate +
    unfilter), nearest-neighbor downsample by an integer factor, and
    RE-ENCODE a valid zlib-compressed PNG (filter-0 scanlines, correct
    CRCs) — the full decode→transform→encode cycle a media pipeline runs,
    binary→binary. Output re-parses with `parse_png`, so the whole chain is
    oracle-checkable. Invalid/unsupported payloads pass through unchanged
    (same policy as `resize_bmp`)."""
    f = int(factor)

    def row(doc_id, b):
        d = _png_decode(b)
        if d is None or d[4] is None:
            return [(doc_id, b)]
        w, h, _, _, rows = d
        w2, h2 = (w + f - 1) // f, (h + f - 1) // f
        scan = b"".join(
            b"\x00"
            + b"".join(
                rows[r * f][c * f * 3 : c * f * 3 + 3] for c in range(w2)
            )
            for r in range(h2)
        )
        ihdr = struct.pack(">IIBBBBB", w2, h2, 8, 2, 0, 0, 0)
        return [(
            doc_id,
            _PNG_SIG
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(scan))
            + _png_chunk(b"IEND", b""),
        )]

    return map_rows(
        media_df.select("doc_id", "media"), "doc_id bigint, media binary", row
    )


def image_dhash(media_df: DataFrame) -> DataFrame:
    """x5/x2 bridge — PERCEPTUAL image hash (dHash) from REAL decoded
    pixels: sample an 8×8 grayscale grid (nearest-neighbor over the stored
    pixel rows, first channel as intensity), set bit gr*7+gc when
    grid[gr][gc] < grid[gr][gc+1] — 56 bits of gradient signs, stored as a
    non-negative BIGINT. Visually similar images differ in few bits, which
    makes image NEAR-DUP detection a hamming-banded join (the SimHash
    machinery, x2c/x2f) instead of pixel comparison. Invalid/unsupported
    payloads degrade to valid=false.

    Format-sniffing: BMP payloads sample the stored 24-bit rows directly;
    JPEG payloads (SOI magic) run the full baseline decode
    (`operators.jpeg`) and sample the luma plane — same grid, same bit
    layout, so the downstream hamming-banded dedup chain (x31b/x31c) is
    format-agnostic."""

    def one(b: bytes):
        if b[:2] == b"\xff\xd8":
            return jpeg_luma_grid(b)
        g = _bmp_gate24(b)
        if g is None:
            return None
        w, h, offset, row_size = g
        px = b[offset:]
        dhash = 0
        for gr in range(8):
            src_r = gr * h // 8
            row = [
                px[src_r * row_size + (gc * w // 8) * 3] for gc in range(8)
            ]
            for gc in range(7):
                if row[gc] < row[gc + 1]:
                    dhash |= 1 << (gr * 7 + gc)
        return dhash

    def row(doc_id, b):
        d = one(b)
        return [(doc_id, d is not None, d)]

    return map_rows(
        media_df.select("doc_id", "media"),
        "doc_id bigint, valid boolean, dhash bigint",
        row,
    )


def dhash_rep_pairs(
    dh_df: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "dhash",
    bands: int = 8,
    max_hamming: int = 6,
    reps: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs between DISTINCT dHash VALUES (each tagged with its
    minimum member id as representative): band the 56-bit hash into 8 x
    7-bit slices, equi-join collisions, keep hash pairs within
    `max_hamming` exact bit flips. Returns (rep_a, rep_b, _ha, _hb,
    hamming) with rep_a < rep_b.

    Round 10 (the scaling bench's third quadratic catch, PERF.md #54):
    perceptual hashes CONCENTRATE — the corpus measured 221 distinct
    dHashes over 50k images (biggest group 11,461) — so doc-level banding
    produced 2.7B candidates (n²/bucket-space over near-identical rows).
    Banding over distinct VALUES makes candidate generation
    O(distinct-hashes² / bucket-space) regardless of how many images
    share each hash; callers expand to doc pairs (dhash_pairs) or run
    clustering at rep level (dhash_dedup_keep) so engine work beyond
    this point is proportional to the OUTPUT, never to member-pair
    intermediates. Pigeonhole recall unchanged: ≤6 differing bits touch
    ≤6 of 8 bands, so ≥2 bands still collide.

    `reps` (ADVICE r10): a precomputed `(hash_col, _rep=min(id))`
    DataFrame — dhash_dedup_keep needs the same aggregate itself and
    passes it in so the full-image-set job runs ONCE, not twice."""
    from ..functions.compute import eager

    if reps is None:
        reps = eager(
            dh_df.groupBy(hash_col).agg(F.min(id_col).alias("_rep"))
        )
    band_arr = F.expr(
        f"transform(sequence(0, {bands - 1}), "
        f"k -> cast(shiftright({hash_col}, 7 * k) % 128 AS int))"
    )
    banded = eager(
        reps.select(
            "_rep",
            F.col(hash_col),
            F.posexplode(band_arr).alias("band", "bits"),
        )
    )
    a = banded.select(
        F.col("_rep").alias("rep_a"), F.col(hash_col).alias("_ha"),
        "band", "bits",
    )
    b = banded.select(
        F.col("_rep").alias("rep_b"), F.col(hash_col).alias("_hb"),
        "band", "bits",
    )
    cand = (
        a.join(b, ["band", "bits"])
        .filter(F.col("rep_a") < F.col("rep_b"))
        .select("rep_a", "rep_b", "_ha", "_hb")
        .distinct()
    )
    ham = F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb"))).cast("bigint")
    return cand.withColumn("hamming", ham).filter(
        F.col("hamming") <= max_hamming
    )


def dhash_pairs(
    dh_df: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "dhash",
    bands: int = 8,
    max_hamming: int = 6,
) -> DataFrame:
    """x2/x5 — IMAGE near-dup pairs (id_a < id_b, exact hamming ≤
    `max_hamming`) over perceptual hashes. Same output as the pre-r10
    doc-level banding, restructured through `dhash_rep_pairs`: band and
    verify once per DISTINCT HASH PAIR, then expand to document pairs —
    two member joins for cross-hash pairs plus one same-hash self-join
    for the hamming-0 pairs. The pair RELATION is inherently quadratic
    in duplicate-group sizes (a 10k-copy image contributes C(10k,2)
    true pairs); this shape makes the engine's work proportional to
    that output instead of the (orders-larger) banded candidate
    intermediates. Dedup policies should consume `dhash_dedup_keep`,
    which never materializes member pairs at all."""
    members = dh_df.select(F.col(id_col), F.col(hash_col))
    rp = dhash_rep_pairs(
        dh_df, id_col, hash_col, bands=bands, max_hamming=max_hamming
    )
    ma = members.select(
        F.col(hash_col).alias("_ha"), F.col(id_col).alias("_ida")
    )
    mb = members.select(
        F.col(hash_col).alias("_hb"), F.col(id_col).alias("_idb")
    )
    cross = (
        rp.join(ma, "_ha")
        .join(mb, "_hb")
        .select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
            "hamming",
        )
    )
    within = (
        ma.join(mb, ma["_ha"] == mb["_hb"])
        .filter(F.col("_ida") < F.col("_idb"))
        .select(
            F.col("_ida").alias("id_a"),
            F.col("_idb").alias("id_b"),
            F.lit(0).cast("bigint").alias("hamming"),
        )
    )
    return cross.unionByName(within)


def dhash_dedup_keep(
    dh_df: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "dhash",
    bands: int = 8,
    max_hamming: int = 2,
) -> DataFrame:
    """x31c — the scalable keep-set of the image dedup policy: the ids
    that survive "cluster hamming-≤k connected images, keep the minimum
    id per cluster". Equivalent to CC over doc-level `dhash_pairs`
    edges, computed WITHOUT ever materializing member pairs (round 10,
    PERF.md #54):

    - connected components run over `dhash_rep_pairs` — one node per
      DISTINCT hash (measured 221 at 50k images), so the iterative CC
      is constant-tiny however many images share each hash;
    - every hash maps to its component label (its own rep when
      unpaired), every image inherits its hash's label, and the keeper
      per label is the minimum member id — three hash-aggregations and
      two joins, all linear in the image count.

    Same-hash duplicates need no edges: they share a label by
    construction, exactly as the pairwise form's hamming-0 edges
    grouped them."""
    from ..functions.compute import eager

    from .dedup import dup_clusters

    members = dh_df.select(F.col(id_col), F.col(hash_col))
    reps = eager(
        members.groupBy(hash_col).agg(F.min(id_col).alias("_rep"))
    )
    rp = dhash_rep_pairs(
        dh_df, id_col, hash_col, bands=bands, max_hamming=max_hamming,
        reps=reps,
    ).select(F.col("rep_a").alias("id_a"), F.col("rep_b").alias("id_b"))
    # CC over rep ids; unpaired reps keep their own id as label
    clusters = dup_clusters(rp)  # (doc_id=rep, cluster_id), paired reps only
    labeled = reps.join(
        clusters.withColumnRenamed("doc_id", "_rep"), "_rep", "left"
    ).select(
        hash_col,
        F.coalesce("cluster_id", "_rep").alias("_label"),
    )
    per_doc = members.join(labeled, hash_col)
    winners = per_doc.groupBy("_label").agg(F.min(id_col).alias("_winner"))
    return (
        per_doc.join(winners, "_label")
        .filter(F.col(id_col) == F.col("_winner"))
        .select(id_col)
    )


def audio_sample_stats(media_df: DataFrame) -> DataFrame:
    """x5 — SAMPLE-level audio statistics (the step past header parsing):
    decode the 16-bit little-endian PCM payload of each WAV and emit
    integer signal features — sum of absolute amplitudes and peak absolute
    amplitude — exactly the clipping/silence screens an audio-corpus
    pipeline runs. Integer outputs keep the oracle exact (no float RMS
    rounding to argue about); invalid/non-16-bit payloads degrade to
    valid=false rows, never a mid-batch throw."""

    def decode(b: bytes):
        ok = (
            len(b) >= 12 and b[:4] == b"RIFF" and b[8:12] == b"WAVE"
            and struct.unpack("<I", b[4:8])[0] == len(b) - 8
        )
        if not ok:
            return None
        pos, bits, data = 12, None, None
        while pos + 8 <= len(b):
            cid, sz = struct.unpack("<4sI", b[pos:pos + 8])
            body = b[pos + 8:pos + 8 + sz]
            if cid == b"fmt " and sz >= 16:
                bits = struct.unpack("<HHIIHH", body[:16])[5]
            elif cid == b"data":
                data = body
            pos += 8 + sz + (sz & 1)
        if bits != 16 or data is None:
            return None
        n = len(data) // 2
        vals = struct.unpack(f"<{n}h", data[: n * 2])
        return (n, sum(abs(v) for v in vals), max((abs(v) for v in vals), default=0))

    def row(doc_id, b):
        n, abs_sum, peak = decode(b) or (None,) * 3
        return [(doc_id, n is not None, n, abs_sum, peak)]

    return map_rows(
        media_df.select("doc_id", "media"),
        "doc_id bigint, valid boolean, n_values bigint, abs_sum bigint, "
        "peak bigint",
        row,
    )


def sample_frames(media_df: DataFrame, n_frames: int = 4) -> DataFrame:
    """x5 — frame sampling (video → rows): each media payload explodes into
    up to `n_frames` evenly-spaced 'frames' (deterministic byte slices — a
    real codec would seek keyframes; same one-to-many contract). Pure
    column expressions: sequence + transform + posexplode, so the expansion
    is codegen'd and the blowup factor is explicit and bounded."""
    # floor-then-cast: Spark's CAST(double AS INT) truncates but DuckDB's
    # rounds — explicit floor() keeps frame offsets engine-portable.
    frames = F.expr(
        f"transform(sequence(0, least({n_frames}, length(media)) - 1), "
        f"i -> substring(media, "
        f"CAST(floor(i * (length(media) / {n_frames})) AS INT) + 1, 8))"
    )
    return media_df.filter(F.length("media") > 0).select(
        "doc_id",
        F.posexplode(frames).alias("frame_no", "frame"),
    )


# --------------------------------------------------- WebDataset-style TAR

_TAR_EXTS = ("txt", "jpg", "cls")


def _tar_member_payload(i: int, j: int) -> bytes:
    length = (i * 7 + j * 13) % 200 + 1
    return bytes((i * 5 + j * 17 + k) % 256 for k in range(length))


def _tar_header(name: bytes, size: int) -> bytes:
    """One ustar 512-byte header with a correct checksum."""
    h = bytearray(512)
    h[0 : len(name)] = name  # name (100)
    h[100:108] = b"0000644\x00"  # mode
    h[108:116] = b"0000000\x00"  # uid
    h[116:124] = b"0000000\x00"  # gid
    h[124:136] = f"{size:011o}".encode() + b"\x00"  # size (octal)
    h[136:148] = b"00000000000\x00"  # mtime
    h[148:156] = b" " * 8  # chksum field counts as spaces
    h[156] = 0x30  # typeflag '0' regular file
    h[257:263] = b"ustar\x00"  # magic
    h[263:265] = b"00"  # version
    chk = sum(h)
    h[148:156] = f"{chk:06o}".encode() + b"\x00 "
    return bytes(h)


def tar_bytes(i: int, real_jpeg: bool = False) -> bytes:
    """A REAL (tiny) POSIX ustar TAR shard — the WebDataset container
    convention: members share a basename and differ by extension
    ({basename}.txt / .jpg / .cls), (i % 3 + 1) members, with name, size,
    and payload bytes all deterministic functions of ``i`` so a SQL oracle
    can predict every member's byte sum. With ``real_jpeg`` the .jpg member
    carries an actual decodable baseline JPEG (`jpeg.jpeg_bytes`) instead
    of synthetic bytes — the format-in-format fixture for the shard ->
    member -> decode chain."""
    i = int(i)
    buf = bytearray()
    for j in range(i % 3 + 1):
        if real_jpeg and _TAR_EXTS[j] == "jpg":
            payload = jpeg_bytes(i)
        else:
            payload = _tar_member_payload(i, j)
        buf += _tar_header(f"{i:08d}.{_TAR_EXTS[j]}".encode(), len(payload))
        buf += payload + b"\x00" * (-len(payload) % 512)
    return bytes(buf) + b"\x00" * 1024  # end-of-archive


def parse_tar_members(
    media_df: DataFrame, emit_payload: bool = False
) -> DataFrame:
    """x49 — lib-free TAR member walk (the WebDataset shard reader): step
    512-byte ustar headers, verify magic + checksum, read the octal size,
    slice the payload, emit ONE ROW PER MEMBER with scalar features —
    (doc_id, member_name, member_bytes, payload_sum, valid). A corrupt
    archive degrades to a single valid=false row, never a mid-batch
    throw (the media-parser contract).

    Scale shape: shards stream through Arrow batches; member extraction
    is pure per-row Python over the binary column — no shuffle; the
    member rows feed the existing decode chain (a .jpg member body is
    exactly what parse_jpeg/image_dhash consume)."""
    out_schema = (
        "doc_id bigint, member_name string, member_bytes bigint, "
        "payload_sum bigint, valid boolean"
    )
    n_cols = 5
    if emit_payload:  # the downstream-decode shape (bytes survive)
        out_schema += ", payload binary"
        n_cols = 6

    def members(b: bytes):
        if b[:2] == b"\x1f\x8b":  # gzip-wrapped shard (.tar.gz)
            try:
                b = zlib.decompress(b, wbits=31)
            except zlib.error:
                return None
        pos, out = 0, []
        while pos + 512 <= len(b):
            h = b[pos : pos + 512]
            if h == b"\x00" * 512:
                return out  # end-of-archive
            if h[257:263] != b"ustar\x00":
                return None
            stored = int(h[148:156].rstrip(b"\x00 ") or b"0", 8)
            if sum(h[:148]) + 8 * 0x20 + sum(h[156:]) != stored:
                return None
            try:
                size = int(h[124:136].rstrip(b"\x00 ") or b"0", 8)
            except ValueError:
                return None
            name = h[:100].rstrip(b"\x00").decode("ascii", "replace")
            payload = b[pos + 512 : pos + 512 + size]
            if len(payload) != size:
                return None  # truncated member
            out.append((name, size, sum(payload), payload))
            pos += 512 + size
            if size % 512:
                pos += 512 - size % 512
        return None  # ran off the end without the zero-block terminator

    def rows(doc_id, b):
        ms = members(b)
        if ms is None:
            return [(doc_id, None, None, None, False, None)[:n_cols]]
        return [
            (doc_id, name, size, psum, True, body)[:n_cols]
            for name, size, psum, body in ms
        ]

    return map_rows(media_df.select("doc_id", "media"), out_schema, rows)
