"""Edge tests for the lib-free baseline JPEG codec (operators/jpeg.py):
general entropy/IDCT correctness beyond the flat-block fixtures, restart
markers, and the corrupt-payload degrade contract (valid=false rows, never
a mid-batch throw)."""

from __future__ import annotations

import numpy as np
import pytest

from data_lakes_tp2_student_spark.operators.jpeg import (
    _AC_LUM_BITS,
    _AC_LUM_VALS,
    _DC_LUM_BITS,
    _DC_LUM_VALS,
    _IDCT_A,
    _ZIGZAG,
    _BitWriter,
    _canonical_codes,
    _jpeg_decode,
    _seg,
    jpeg_bytes,
    jpeg_dims,
)


def _headers(w: int, h: int, dri: int = 0) -> bytes:
    """SOI + DQT(all 1s) + SOF0(grayscale) + standard DHT + optional DRI."""
    out = b"\xff\xd8"
    out += _seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    out += _seg(
        0xC0,
        bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
        + bytes([1, 1, 0x11, 0]),
    )
    out += _seg(
        0xC4,
        bytes([0x00]) + bytes(_DC_LUM_BITS) + bytes(_DC_LUM_VALS)
        + bytes([0x10]) + bytes(_AC_LUM_BITS) + bytes(_AC_LUM_VALS),
    )
    if dri:
        out += _seg(0xDD, dri.to_bytes(2, "big"))
    return out


def _sos() -> bytes:
    return _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))


def _put_sym(bw: _BitWriter, codes, vals, sym: int) -> None:
    ln, code = codes[vals.index(sym)]
    bw.put(code, ln)


def test_ac_coefficient_decode_matches_independent_idct():
    """A hand-authored single-block JPEG with DC=40 and AC(zigzag 1)=3 must
    decode to exactly the IDCT computed independently here — proves the AC
    run-length path and the dequant/zigzag/IDCT wiring, which the flat
    fixtures never exercise."""
    dc_codes = _canonical_codes(_DC_LUM_BITS)
    ac_codes = _canonical_codes(_AC_LUM_BITS)
    bw = _BitWriter()
    # DC diff = 40 -> category 6, amplitude bits = 40
    ln, code = dc_codes[6]
    bw.put(code, ln)
    bw.put(40, 6)
    # AC: run=0 size=2 (symbol 0x02), amplitude 3; then EOB
    _put_sym(bw, ac_codes, _AC_LUM_VALS, 0x02)
    bw.put(3, 2)
    _put_sym(bw, ac_codes, _AC_LUM_VALS, 0x00)
    payload = _headers(8, 8) + _sos() + bw.flush() + b"\xff\xd9"

    d = _jpeg_decode(payload)
    assert d is not None and d[3] is not None
    w, h, nc, luma = d
    assert (w, h, nc) == (8, 8, 1)

    coef = np.zeros(64)
    coef[0] = 40
    coef[_ZIGZAG[1]] = 3
    expect = np.clip(
        np.round(_IDCT_A @ coef.reshape(8, 8) @ _IDCT_A.T) + 128, 0, 255
    )
    assert np.array_equal(np.array(luma, dtype=float), expect)


def test_zrl_and_high_zigzag_coefficient():
    """ZRL (16-zero run) + a coefficient parked at zigzag index 17."""
    dc_codes = _canonical_codes(_DC_LUM_BITS)
    ac_codes = _canonical_codes(_AC_LUM_BITS)
    bw = _BitWriter()
    ln, code = dc_codes[0]
    bw.put(code, ln)  # DC diff 0
    _put_sym(bw, ac_codes, _AC_LUM_VALS, 0xF0)  # ZRL: skip 16
    # symbol run=0,size=1 places amplitude -1 at zigzag k = 17
    _put_sym(bw, ac_codes, _AC_LUM_VALS, 0x01)
    bw.put(0, 1)  # 1-bit amplitude 0 -> extend -> -1
    _put_sym(bw, ac_codes, _AC_LUM_VALS, 0x00)
    payload = _headers(8, 8) + _sos() + bw.flush() + b"\xff\xd9"

    d = _jpeg_decode(payload)
    assert d is not None and d[3] is not None
    coef = np.zeros(64)
    coef[_ZIGZAG[17]] = -1
    expect = np.clip(
        np.round(_IDCT_A @ coef.reshape(8, 8) @ _IDCT_A.T) + 128, 0, 255
    )
    assert np.array_equal(np.array(d[3], dtype=float), expect)


def test_restart_markers_reset_dc_prediction():
    """DRI=1: every MCU is followed by RSTn (cycling), byte-aligned, with
    the DC predictor reset — a 2-block image where both blocks encode the
    SAME absolute DC as a fresh diff must decode both blocks identically."""
    dc_codes = _canonical_codes(_DC_LUM_BITS)
    ac_codes = _canonical_codes(_AC_LUM_BITS)
    ecs = b""
    for mcu in range(2):
        bw = _BitWriter()
        ln, code = dc_codes[6]
        bw.put(code, ln)
        bw.put(40, 6)  # absolute DC 40 (pred reset by RST)
        _put_sym(bw, ac_codes, _AC_LUM_VALS, 0x00)
        ecs += bw.flush()
        if mcu == 0:
            ecs += bytes([0xFF, 0xD0])
    payload = _headers(16, 8, dri=1) + _sos() + ecs + b"\xff\xd9"
    d = _jpeg_decode(payload)
    assert d is not None and d[3] is not None
    luma = np.array(d[3])
    assert luma.shape == (8, 16)
    assert np.array_equal(luma[:, :8], luma[:, 8:])
    assert luma[0, 0] == 128 + 40 // 8  # flat block: DC/8 + level shift


def test_corrupt_payloads_degrade_not_throw(spark):
    """Truncation, bad magic, a flipped entropy byte, zero dims, and a
    progressive SOF must all land as valid=false rows through the Spark
    surface — never an exception that kills the Arrow batch."""
    import pandas as pd

    from data_lakes_tp2_student_spark.operators.jpeg import parse_jpeg

    good = jpeg_bytes(5)
    flipped = bytearray(good)
    flipped[-12] ^= 0xFF  # inside the entropy stream
    zero_dim = _headers(0, 0) + _sos() + b"\xff\xd9"
    progressive = (
        b"\xff\xd8"
        + _seg(0xDB, bytes([0x00]) + bytes([1] * 64))
        + _seg(
            0xC2,
            bytes([8]) + (8).to_bytes(2, "big") + (8).to_bytes(2, "big")
            + bytes([1, 1, 0x11, 0]),
        )
        + _sos()
        + b"\xff\xd9"
    )
    rows = [
        (1, good),
        (2, good[:10]),           # truncated mid-headers
        (3, b"XX" + good[2:]),    # bad magic
        (4, bytes(flipped)),
        (5, b""),
        (6, zero_dim),
        (7, progressive),
    ]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    out = {r.doc_id: r for r in parse_jpeg(df).collect()}
    assert out[1].valid
    w, h = jpeg_dims(5)
    assert (out[1].width, out[1].height) == (w, h)
    for bad in (2, 3, 5, 6):
        assert not out[bad].valid and out[bad].px_sum is None
    # flipped entropy byte: either undecodable or different content
    assert not out[4].valid or out[4].px_sum != out[1].px_sum
    # progressive: headers recovered, pixels refused
    assert not out[7].valid and out[7].width == 8 and out[7].px_sum is None


def test_jpeg_and_bmp_dhash_share_chain(spark):
    """The x31 dedup chain is format-agnostic: identical JPEG payloads
    pair at hamming 0 through the SAME dhash_pairs operator the BMP chain
    uses."""
    from data_lakes_tp2_student_spark.operators.jpeg import jpeg_bytes
    from data_lakes_tp2_student_spark.operators.multimodal import (
        attach_media,
        dhash_pairs,
        image_dhash,
    )

    # ids 0 and 3000 render different images; 0 and 6 share (w,h) AND all
    # block values mod 256? No — just duplicate id 0 twice via modulo: ids
    # with equal (i%3, i%2, i*17%256, ...) — simplest: same id twice is not
    # possible (distinct doc_id), so use ids whose fixtures coincide:
    # jpeg_bytes depends on i through (i%3, i%2, i%256 via *17/*29/*43 mod
    # 256) -> i and i+768 produce identical images (768 = lcm(3,2,256)...
    # actually i+768: 768%3=0, 768%2=0, 768*17%256=0) -> identical payloads.
    df = spark.createDataFrame([(0,), (768,), (1,)], "doc_id long")
    dh = image_dhash(attach_media(df, "doc_id", jpeg_bytes)).filter("valid")
    rows = {r.doc_id: r.dhash for r in dh.collect()}
    assert rows[0] == rows[768]
    pairs = dhash_pairs(dh.select("doc_id", "dhash"), max_hamming=0).collect()
    assert {(p.id_a, p.id_b) for p in pairs} == {(0, 768)}
