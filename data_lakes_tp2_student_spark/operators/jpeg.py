"""Lib-free baseline JPEG (ITU-T T.81) decode — and a deterministic
encoder fixture — for the multimodal pipeline (SURVEY.md §2 x5).

JPEG is the dominant real-corpus image format; the image-dedup chain
(x31*) is only as good as its decoder coverage. No codec libs exist in
this container, so both directions are hand-rolled from the public spec:

- ``jpeg_bytes(i)`` emits a REAL grayscale baseline-sequential JPEG
  (SOI/DQT/SOF0/DHT/SOS/EOI, standard Annex K.3 Huffman tables, entropy
  stream with 0xFF byte stuffing) whose image is a grid of FLAT 8×8
  blocks with an all-ones quantization table. A flat block has only a DC
  coefficient, and with quant=1 the DC survives the quantizer exactly, so
  the decode round-trip is LOSSLESS — which is what lets a SQL oracle
  predict every recovered pixel arithmetically from ``doc_id`` despite
  JPEG being a lossy format in general.
- ``_jpeg_decode`` is a real baseline decoder: marker walk (APPn/COM
  skip), DQT (8/16-bit), multi-table DHT (canonical code assignment),
  SOF0, DRI/RSTn restart handling, the entropy bit reader with stuffing
  removal, DC prediction + AC run-length decode (ZRL/EOB), dequantize,
  inverse zigzag, float IDCT (numpy matrix form), level shift, clamp.
  Supported subset: 8-bit baseline sequential, 1 or 3 components, all
  sampling factors 1×1 (grayscale / 4:4:4). Progressive (SOF2),
  subsampled, arithmetic-coded, or corrupt inputs degrade to
  headers-only / ``None`` — never a mid-batch throw. Features are
  computed over the LUMA plane (component 0): the dHash/dedup path is
  luminance-based, so chroma planes are decoded but never converted.

Scale shape: decode is one `functions.compute.map_rows` stage — map-only,
no shuffle, no per-row JVM↔Python crossing; the IDCT is a numpy matmul per
block (vectorized C, not a Python pixel loop).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from ..functions.compute import map_rows

# --- standard Huffman tables (ITU-T T.81 Annex K.3, public spec) ---------

_DC_LUM_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUM_VALS = list(range(12))
_AC_LUM_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUM_VALS = [
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
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def _canonical_codes(bits: list[int]) -> list[tuple[int, int]]:
    """(length, code) per symbol index, in HUFFVAL order — the canonical
    JPEG assignment (T.81 Annex C): codes of each length count up, then
    shift left when the length grows."""
    out = []
    code = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out.append((ln, code))
            code += 1
        code <<= 1
    return out


def _huff_decode_map(bits: list[int], vals: list[int]) -> dict:
    return {lc: v for lc, v in zip(_canonical_codes(bits), vals)}


# IDCT basis: A[x, u] = C(u)/2 * cos((2x+1) u pi / 16); spatial = A @ S @ A.T
_IDCT_A = np.array(
    [
        [
            (np.sqrt(0.5) if u == 0 else 1.0)
            / 2.0
            * np.cos((2 * x + 1) * u * np.pi / 16.0)
            for u in range(8)
        ]
        for x in range(8)
    ]
)


# --- encoder fixture -----------------------------------------------------


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, value: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
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
            pad = 8 - self.nbits
            self.acc = (self.acc << pad) | ((1 << pad) - 1)  # pad with 1s
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.nbits = 0
        return bytes(self.out)


def _seg(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload


def jpeg_block_value(i: int, bx: int, by: int) -> int:
    """Flat-block luma value for fixture image ``i`` at block (bx, by) —
    the single formula both the encoder and the SQL oracle use."""
    return (i * 17 + by * 29 + bx * 43) % 256


def jpeg_dims(i: int) -> tuple[int, int]:
    """Fixture dimensions: (width, height) in pixels, multiples of 8."""
    return 8 * (i % 3 + 2), 8 * (i % 2 + 1)


def jpeg_bytes(i: int) -> bytes:
    """A REAL grayscale baseline JPEG whose pixels a SQL oracle predicts
    from ``i`` (see module docstring for why the round-trip is exact)."""
    i = int(i)
    w, h = jpeg_dims(i)
    wb, hb = w // 8, h // 8

    dc_codes = _canonical_codes(_DC_LUM_BITS)  # index = category
    ac_codes = _canonical_codes(_AC_LUM_BITS)
    eob_len, eob_code = ac_codes[_AC_LUM_VALS.index(0x00)]

    bw = _BitWriter()
    prev_dc = 0
    for by in range(hb):
        for bx in range(wb):
            v = jpeg_block_value(i, bx, by)
            dc = 8 * (v - 128)  # flat-block DCT; quant table is all 1s
            diff = dc - prev_dc
            prev_dc = dc
            mag = abs(diff)
            cat = mag.bit_length()
            ln, code = dc_codes[cat]
            bw.put(code, ln)
            if cat:
                bw.put(diff if diff > 0 else diff + (1 << cat) - 1, cat)
            bw.put(eob_code, eob_len)  # all AC are zero
    ecs = bw.flush()

    dqt = _seg(0xDB, bytes([0x00]) + bytes([1] * 64))  # Pq=0 Tq=0, all 1s
    sof0 = _seg(
        0xC0,
        bytes([8])
        + h.to_bytes(2, "big")
        + w.to_bytes(2, "big")
        + bytes([1, 1, 0x11, 0]),  # 1 component, 1x1 sampling, quant 0
    )
    dht = _seg(
        0xC4,
        bytes([0x00]) + bytes(_DC_LUM_BITS) + bytes(_DC_LUM_VALS)
        + bytes([0x10]) + bytes(_AC_LUM_BITS) + bytes(_AC_LUM_VALS),
    )
    sos = _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    return b"\xff\xd8" + dqt + sof0 + dht + sos + ecs + b"\xff\xd9"


# --- decoder -------------------------------------------------------------


class _BitReader:
    """Entropy-segment bit reader: removes 0xFF00 stuffing, stops at any
    real marker, exposes RSTn for restart-interval handling."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.d = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.marker: int | None = None

    def _fill(self) -> bool:
        if self.marker is not None:
            return False
        if self.pos >= len(self.d):
            return False
        b = self.d[self.pos]
        if b == 0xFF:
            if self.pos + 1 >= len(self.d):
                return False
            nxt = self.d[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            else:
                self.marker = nxt
                return False
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8
        return True

    def bit(self) -> int | None:
        if self.nbits == 0 and not self._fill():
            return None
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int | None:
        v = 0
        for _ in range(n):
            b = self.bit()
            if b is None:
                return None
            v = (v << 1) | b
        return v

    def align_after_rst(self) -> bool:
        """Discard padding bits and consume the RSTn marker. The marker may
        already be latched (hit while filling) or still unread at `pos`
        (the usual case: the previous MCU ended inside a padded byte that
        was already loaded)."""
        self.nbits = 0
        self.acc = 0
        if self.marker is None:
            if (
                self.pos + 1 < len(self.d)
                and self.d[self.pos] == 0xFF
                and 0xD0 <= self.d[self.pos + 1] <= 0xD7
            ):
                self.marker = self.d[self.pos + 1]
            else:
                return False
        if not (0xD0 <= self.marker <= 0xD7):
            return False
        self.pos += 2
        self.marker = None
        return True

    def huff(self, table: dict) -> int | None:
        code = 0
        for ln in range(1, 17):
            b = self.bit()
            if b is None:
                return None
            code = (code << 1) | b
            sym = table.get((ln, code))
            if sym is not None:
                return sym
        return None


def _extend(v: int, cat: int) -> int:
    """Sign-extend a `cat`-bit amplitude (T.81 F.2.2.1)."""
    return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1


def _jpeg_decode(b: bytes):
    """Returns ``None`` for corrupt input; ``(w, h, ncomp, None)`` for a
    valid container outside the supported subset; ``(w, h, ncomp, luma)``
    with the full decoded luma plane (an int64 numpy array, h×w)
    otherwise."""
    if len(b) < 4 or b[:2] != b"\xff\xd8":
        return None
    pos = 2
    qt: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}
    sof = None
    restart_interval = 0
    unsupported = False
    while pos + 4 <= len(b):
        if b[pos] != 0xFF:
            return None
        marker = b[pos + 1]
        if marker == 0xD9:  # EOI before SOS
            return None
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        ln = int.from_bytes(b[pos + 2 : pos + 4], "big")
        seg = b[pos + 4 : pos + 2 + ln]
        if ln < 2 or len(seg) != ln - 2:
            return None
        if marker == 0xDB:  # DQT: one or more tables
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                p += 1
                n = 64 * (2 if pq else 1)
                if p + n > len(seg):
                    return None
                raw = seg[p : p + n]
                qt[tq] = (
                    [int.from_bytes(raw[k : k + 2], "big") for k in range(0, n, 2)]
                    if pq
                    else list(raw)
                )
                p += n
        elif marker == 0xC4:  # DHT: one or more tables
            p = 0
            while p + 17 <= len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0x0F
                bits = list(seg[p + 1 : p + 17])
                nv = sum(bits)
                vals = list(seg[p + 17 : p + 17 + nv])
                if len(vals) != nv:
                    return None
                huff[(tc, th)] = _huff_decode_map(bits, vals)
                p += 17 + nv
        elif marker == 0xDD:  # DRI
            if len(seg) != 2:
                return None
            restart_interval = int.from_bytes(seg, "big")
        elif marker == 0xC0:  # baseline SOF
            if len(seg) < 6:
                return None
            prec = seg[0]
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            nc = seg[5]
            if len(seg) < 6 + 3 * nc:  # fuzz: truncated component list
                return None
            comps = []
            for c in range(nc):
                cid, samp, tq = seg[6 + 3 * c], seg[7 + 3 * c], seg[8 + 3 * c]
                comps.append((cid, samp >> 4, samp & 0x0F, tq))
            sof = (prec, w, h, comps)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            # extended/progressive/arithmetic SOF: headers-only subset
            if len(seg) < 6:
                return None
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            return (w, h, seg[5], None)
        elif marker == 0xDA:  # SOS — entropy data follows
            if sof is None or len(seg) < 1:
                return None
            prec, w, h, comps = sof
            nc = len(comps)
            if w == 0 or h == 0:
                # zero-dim guard: every block-count check below passes at 0
                # and callers index rows[0] (same gate as PNG/GIF, ADVICE r4)
                return None
            if w * h > (1 << 24):
                return None  # decompression-bomb guard for a test decoder
            if (
                prec != 8
                or nc not in (1, 3)
                or any(hs != 1 or vs != 1 for _, hs, vs, _ in comps)
            ):
                return (w, h, nc, None)
            ns = seg[0]
            if ns != nc or len(seg) < 1 + 2 * ns + 3:
                return None
            scan_tables = []
            for c in range(ns):
                td, ta = seg[2 + 2 * c] >> 4, seg[2 + 2 * c] & 0x0F
                tq = comps[c][3]
                if (0, td) not in huff or (1, ta) not in huff or tq not in qt:
                    return None
                scan_tables.append((huff[(0, td)], huff[(1, ta)], qt[tq]))
            return _decode_scan(
                b, pos + 2 + ln, w, h, nc, scan_tables, restart_interval
            )
        pos += 2 + ln
    return None


def _decode_scan(b, pos, w, h, nc, scan_tables, restart_interval):
    wb, hb = (w + 7) // 8, (h + 7) // 8
    reader = _BitReader(b, pos)
    luma = np.zeros((hb * 8, wb * 8), dtype=np.int64)
    preds = [0] * nc
    mcu = 0
    for by in range(hb):
        for bx in range(wb):
            if restart_interval and mcu and mcu % restart_interval == 0:
                if not reader.align_after_rst():
                    return None
                preds = [0] * nc
            for c in range(nc):
                dc_tab, ac_tab, q = scan_tables[c]
                coef = np.zeros(64, dtype=np.float64)
                cat = reader.huff(dc_tab)
                if cat is None or cat > 11:
                    return None
                if cat:
                    amp = reader.bits(cat)
                    if amp is None:
                        return None
                    preds[c] += _extend(amp, cat)
                coef[0] = preds[c] * q[0]
                k = 1
                while k < 64:
                    rs = reader.huff(ac_tab)
                    if rs is None:
                        return None
                    run, size = rs >> 4, rs & 0x0F
                    if size == 0:
                        if run == 15:  # ZRL
                            k += 16
                            continue
                        break  # EOB
                    k += run
                    if k > 63:
                        return None
                    amp = reader.bits(size)
                    if amp is None:
                        return None
                    coef[_ZIGZAG[k]] = _extend(amp, size) * q[k]
                    k += 1
                if c == 0:
                    block = _IDCT_A @ coef.reshape(8, 8) @ _IDCT_A.T
                    px = np.clip(np.round(block) + 128, 0, 255)
                    luma[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = px
            mcu += 1
    # return the numpy plane directly: per-image list-of-Python-ints
    # materialization was the dominant per-image cost on the corpus-wide
    # dHash path (code-review r5)
    return (w, h, nc, luma[:h, :w])


# --- DataFrame surface ---------------------------------------------------


def parse_jpeg(media_df: DataFrame) -> DataFrame:
    """x5j — REAL baseline JPEG decode, lib-free: full entropy decode +
    dequant + IDCT of the luma plane (see module docstring for the exact
    subset). Emits scalar features: dims, component count, first luma
    pixel, and the luma sum (the content checksum the oracle predicts —
    proves the Huffman/IDCT math, not just the headers). Corruption or
    unsupported layouts degrade to valid=false, never a mid-batch throw."""

    def row(doc_id, b):
        try:
            d = _jpeg_decode(b)
        except Exception:
            d = None  # contract: a decoder bug must not kill the batch
        w, h, nc, luma = d or (None,) * 4
        ok = luma is not None
        return [(
            doc_id, ok, w, h, nc, len(b),
            int(luma[0, 0]) if ok else None, int(luma.sum()) if ok else None,
        )]

    return map_rows(
        media_df.select("doc_id", "media"),
        "doc_id bigint, valid boolean, width bigint, height bigint, "
        "n_components bigint, n_bytes bigint, px0 bigint, px_sum bigint",
        row,
    )


def jpeg_luma_grid(b: bytes) -> int | None:
    """dHash bridge: decode and sample the 8×8 luma grid, returning the
    56-bit gradient-sign hash (same sampling/bit layout as the BMP path in
    `multimodal.image_dhash`), or None for undecodable payloads."""
    try:
        d = _jpeg_decode(b)
    except Exception:
        return None
    if d is None or d[3] is None:
        return None
    w, h, _, luma = d[0], d[1], d[2], d[3]
    dhash = 0
    for gr in range(8):
        row = luma[gr * h // 8]
        samples = [int(row[gc * w // 8]) for gc in range(8)]
        for gc in range(7):
            if samples[gc] < samples[gc + 1]:
                dhash |= 1 << (gr * 7 + gc)
    return dhash
