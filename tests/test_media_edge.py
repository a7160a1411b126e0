"""Edge cases for the real media parsers (x5b/x5d/x5e): truncated and
corrupt payloads must degrade to valid=false rows (never throw mid-batch),
and resize must be total for any factor/dimension combination."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_lakes_tp2_student_spark.operators.multimodal import (
    attach_media,
    bmp_bytes,
    image_dhash,
    parse_bmp,
    parse_wav,
    resize_bmp,
    wav_bytes,
)


def _media_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, media binary")


def test_parse_bmp_rejects_truncated_and_corrupt(spark):
    good = bmp_bytes(5)
    rows = [
        (1, good),
        (2, good[:10]),          # shorter than any header
        (3, b"XX" + good[2:]),   # wrong magic
        (4, good[:-1]),          # declared size != actual
        (5, b""),
    ]
    out = {r.doc_id: r for r in parse_bmp(_media_df(spark, rows)).collect()}
    assert out[1].valid and out[1].width == 5 % 16 + 1
    for bad in (2, 3, 4, 5):
        assert not out[bad].valid
        assert out[bad].width is None and out[bad].px0 is None
        assert out[bad].n_bytes == len(rows[bad - 1][1])


def test_parse_wav_rejects_truncated_and_corrupt(spark):
    wav_rows = attach_media(
        spark.createDataFrame([(7,)], "doc_id long"), "doc_id", wav_bytes
    ).collect()
    good = bytes(wav_rows[0].media)
    rows = [
        (1, good),
        (2, good[:8]),           # no WAVE tag
        (3, b"RIFX" + good[4:]),  # wrong magic
        (4, good[:30]),          # fmt chunk cut off
    ]
    out = {r.doc_id: r for r in parse_wav(_media_df(spark, rows)).collect()}
    assert out[1].valid and out[1].sample_rate == 44100  # 7 % 4 == 3
    assert out[1].n_samples == 7 % 50 + 1
    for bad in (2, 3, 4):
        assert not out[bad].valid
        assert out[bad].duration_us is None


def test_resize_bmp_factor_larger_than_dims(spark):
    """factor >> dims must still yield a valid 1x1 image that re-parses,
    with the first stored pixel surviving."""
    df = spark.createDataFrame([(0,)], "doc_id long")  # 1x1 source image
    media = attach_media(df, "doc_id", bmp_bytes)
    out = parse_bmp(resize_bmp(media, factor=20)).collect()[0]
    assert out.valid and out.width == 1 and out.height == 1
    assert out.px0 == 0  # (0*7+0) % 256


def test_resize_bmp_idempotent_at_factor_one(spark):
    df = spark.createDataFrame([(9,)], "doc_id long")
    media = attach_media(df, "doc_id", bmp_bytes)
    orig = parse_bmp(media).collect()[0]
    same = parse_bmp(resize_bmp(media, factor=1)).collect()[0]
    assert (orig.width, orig.height, orig.n_bytes, orig.px0) == (
        same.width,
        same.height,
        same.n_bytes,
        same.px0,
    )


def test_resize_halves_dimensions_and_reparses(spark):
    df = spark.createDataFrame([(15,)], "doc_id long")  # 16x4 image
    media = attach_media(df, "doc_id", bmp_bytes)
    out = parse_bmp(resize_bmp(media, factor=2)).collect()[0]
    assert out.valid
    assert out.width == (15 % 16 + 1 + 1) // 2
    assert out.height == (15 % 12 + 1 + 1) // 2
    assert out.px0 == (15 * 7) % 256


def test_bmp_declared_size_matches_layout(spark):
    """The builder must produce exactly the padded-row layout the oracle
    predicts, for every (width mod 4) padding case."""
    for i in (0, 1, 2, 3, 16, 33):
        b = bmp_bytes(i)
        w, h = i % 16 + 1, i % 12 + 1
        assert len(b) == 54 + ((24 * w + 31) // 32 * 4) * h


def test_wav_riff_padding_rule(spark):
    """Odd-sized data chunks must still parse (RIFF pads chunks to even);
    our PCM data is always even-sized, so assert via a hand-built odd
    chunk followed by the real fmt/data pair."""
    import struct

    fmt = struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, 1, 8000, 16000, 2, 16)
    junk = struct.pack("<4sI", b"LIST", 3) + b"abc" + b"\0"  # odd + pad
    data = struct.pack("<4sI", b"data", 4) + b"\1\2\3\4"
    payload = junk + fmt + data
    wav = struct.pack("<4sI4s", b"RIFF", 4 + len(payload), b"WAVE") + payload
    out = parse_wav(_media_df(spark, [(1, wav)])).collect()[0]
    assert out.valid and out.sample_rate == 8000 and out.n_samples == 2
    assert out.duration_us == 2 * 1_000_000 // 8000


def test_parse_wav_zero_blockalign_is_invalid(spark):
    """A corrupt fmt chunk declaring channels=0 (block-align 0) must yield
    valid=false, not a ZeroDivisionError mid-batch (ADVICE r3)."""
    import struct

    fmt = struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, 0, 8000, 0, 0, 16)
    data = struct.pack("<4sI", b"data", 4) + b"\1\2\3\4"
    payload = fmt + data
    wav = struct.pack("<4sI4s", b"RIFF", 4 + len(payload), b"WAVE") + payload
    out = parse_wav(_media_df(spark, [(1, wav)])).collect()[0]
    assert not out.valid and out.n_samples is None


def test_parse_wav_overdeclared_data_chunk(spark):
    """A data chunk declaring more bytes than are present must count the
    bytes actually there (ADVICE r3) — here 4 bytes present, 400 declared,
    RIFF size consistent with the FILE length."""
    import struct

    fmt = struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, 1, 8000, 16000, 2, 16)
    data = struct.pack("<4sI", b"data", 400) + b"\1\2\3\4"  # lies: 400
    payload = fmt + data
    wav = struct.pack("<4sI4s", b"RIFF", 4 + len(payload), b"WAVE") + payload
    out = parse_wav(_media_df(spark, [(1, wav)])).collect()[0]
    assert out.valid and out.n_samples == 2  # 4 actual bytes / block 2


def test_resize_bmp_passes_invalid_through(spark):
    """Truncated / corrupt / non-24bpp payloads pass through resize
    UNCHANGED instead of throwing or silently corrupting (ADVICE r3)."""
    import struct

    good = bmp_bytes(5)
    bpp8 = bytearray(good)
    struct.pack_into("<H", bpp8, 28, 8)  # claim 8bpp in the info header
    rows = [
        (1, good[:10]),          # truncated below any header
        (2, b"XX" + good[2:]),   # wrong magic
        (3, good[:-1]),          # declared size != actual
        (4, bytes(bpp8)),        # unsupported bit depth
        (5, b""),
    ]
    out = {
        r.doc_id: bytes(r.media)
        for r in resize_bmp(_media_df(spark, rows), factor=2).collect()
    }
    for doc_id, payload in rows:
        assert out[doc_id] == payload


def test_parse_png_roundtrip_all_filters(spark):
    """png_bytes encodes row r with filter r % 5, so a 12-row image uses
    every PNG filter type at least twice — the decode must invert them all
    to reproduce the arithmetic pixel sum."""
    from data_lakes_tp2_student_spark.operators.multimodal import (
        parse_png,
        png_bytes,
    )

    i = 11  # width 12, height 12 -> filters 0..4 all exercised
    out = parse_png(_media_df(spark, [(1, png_bytes(i))])).collect()[0]
    assert out.valid and out.width == 12 and out.height == 12
    assert out.bit_depth == 8 and out.color_type == 2
    n = 12 * 12 * 3
    assert out.px0 == (i * 7) % 256
    assert out.px_sum == sum((i * 7 + j) % 256 for j in range(n))


def test_parse_png_rejects_corrupt(spark):
    """Truncated payloads, wrong signature, and a flipped IDAT byte (CRC
    mismatch) must degrade to valid=false — never throw mid-batch."""
    from data_lakes_tp2_student_spark.operators.multimodal import (
        parse_png,
        png_bytes,
    )

    import struct
    import zlib

    from data_lakes_tp2_student_spark.operators.multimodal import _png_chunk

    good = png_bytes(5)
    flipped = bytearray(good)
    flipped[-20] ^= 0xFF  # inside IDAT body -> CRC mismatch
    # CRC-correct zero-dimension file: every length check passes at 0 but
    # rows[0][0] would throw (ADVICE r4) — must degrade, not kill the batch
    zero_dim = (
        good[:8]
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 0, 0, 8, 2, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(b""))
        + _png_chunk(b"IEND", b"")
    )
    rows = [
        (1, good),
        (2, good[:7]),            # truncated below the signature
        (3, b"XXXXXXXX" + good[8:]),  # wrong signature
        (4, bytes(flipped)),
        (5, b""),
        (6, zero_dim),
    ]
    out = {r.doc_id: r for r in parse_png(_media_df(spark, rows)).collect()}
    assert out[1].valid
    for bad in (2, 3, 4, 5, 6):
        assert not out[bad].valid and out[bad].px_sum is None


def test_parse_png_split_idat_and_unsupported_subset(spark):
    """A PNG with its IDAT split in two chunks must decode identically
    (decoders concatenate IDAT bodies); a valid container with an
    unsupported color type reports headers but valid=false."""
    import struct
    import zlib

    from data_lakes_tp2_student_spark.operators.multimodal import (
        _png_chunk,
        parse_png,
        png_bytes,
    )

    good = png_bytes(3)
    # reconstruct with IDAT split: signature + IHDR + IDAT(a) + IDAT(b) + IEND
    (ln,) = struct.unpack(">I", good[8:12])
    ihdr_chunk = good[8 : 20 + ln]
    (dln,) = struct.unpack(">I", good[20 + ln : 24 + ln])
    idat_body = good[28 + ln : 28 + ln + dln]
    half = len(idat_body) // 2
    split = (
        good[:8]
        + ihdr_chunk
        + _png_chunk(b"IDAT", idat_body[:half])
        + _png_chunk(b"IDAT", idat_body[half:])
        + _png_chunk(b"IEND", b"")
    )
    gray_ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)  # grayscale
    gray = (
        good[:8]
        + _png_chunk(b"IHDR", gray_ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"\x00\x01\x02\x00\x03\x04"))
        + _png_chunk(b"IEND", b"")
    )
    out = {
        r.doc_id: r
        for r in parse_png(
            _media_df(spark, [(1, good), (2, split), (3, gray)])
        ).collect()
    }
    assert out[1].valid and out[2].valid
    assert (out[1].px_sum, out[1].px0) == (out[2].px_sum, out[2].px0)
    assert not out[3].valid  # unsupported subset...
    assert out[3].width == 2 and out[3].color_type == 0  # ...headers survive


def test_resize_png_passthrough_and_factor_one(spark):
    """Invalid payloads pass through resize_png unchanged; factor=1
    re-encodes without changing any recovered pixel statistic."""
    from data_lakes_tp2_student_spark.operators.multimodal import (
        parse_png,
        png_bytes,
        resize_png,
    )

    good = png_bytes(9)
    rows = [(1, good), (2, good[:6]), (3, b"")]
    out = {
        r.doc_id: bytes(r.media)
        for r in resize_png(_media_df(spark, rows), factor=1).collect()
    }
    assert out[2] == good[:6] and out[3] == b""
    orig = parse_png(_media_df(spark, [(1, good)])).collect()[0]
    same = parse_png(_media_df(spark, [(1, out[1])])).collect()[0]
    assert (orig.width, orig.height, orig.px0, orig.px_sum) == (
        same.width, same.height, same.px0, same.px_sum,
    )


def test_image_dhash_identical_images_pair_at_zero(spark):
    """Identical fixture images (same id mod 768: same dims AND same pixel
    pattern) must hash identically and pair at hamming 0; corrupt payloads
    degrade to valid=false."""
    from data_lakes_tp2_student_spark.operators.multimodal import dhash_pairs

    df = spark.createDataFrame([(5,), (773,), (10,)], "doc_id long")  # 773 = 5+768
    dh = image_dhash(attach_media(df, "doc_id", bmp_bytes))
    vals = {r.doc_id: r.dhash for r in dh.collect()}
    assert vals[5] == vals[773]
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in dhash_pairs(dh.select("doc_id", "dhash")).collect()
    }
    assert pairs.get((5, 773)) == 0

    bad = image_dhash(_media_df(spark, [(1, b"XX"), (2, b"")])).collect()
    assert all(not r.valid and r.dhash is None for r in bad)


def test_image_dhash_exact_next_to_invalid_row_in_one_batch(spark):
    """An 8×8 image whose stored rows all rise left to right sets all 56
    gradient bits. In the same Arrow batch as an invalid payload (null
    dhash) the hash must still come back exactly: an int64 column holding
    a null that passes through float64 rounds (1 << 56) - 1 to 1 << 56."""
    import struct

    w = h = 8  # 24 bytes per row: no row padding
    px = bytes(v for _ in range(h) for c in range(w) for v in (c * 30, 0, 0))
    bmp = struct.pack("<2sIHHI", b"BM", 54 + len(px), 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(px), 2835, 2835, 0, 0
    )
    df = _media_df(spark, [(1, bmp + px), (2, b"junk")]).coalesce(1)
    out = {r.doc_id: r for r in image_dhash(df).collect()}
    assert out[1].valid and out[1].dhash == (1 << 56) - 1
    assert not out[2].valid and out[2].dhash is None


def test_audio_sample_stats_sign_decode_and_invalid(spark):
    """Amplitude stats must sign-decode int16 correctly (a 0x8000 sample
    is -32768 → abs 32768) and degrade to valid=false on corrupt input."""
    import struct

    from data_lakes_tp2_student_spark.operators.multimodal import (
        audio_sample_stats,
    )

    fmt = struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, 1, 8000, 16000, 2, 16)
    pcm = struct.pack("<4h", 100, -200, 32767, -32768)
    data = struct.pack("<4sI", b"data", len(pcm)) + pcm
    payload = fmt + data
    wav = struct.pack("<4sI4s", b"RIFF", 4 + len(payload), b"WAVE") + payload
    rows = [(1, wav), (2, wav[:10]), (3, b"")]
    out = {r.doc_id: r for r in audio_sample_stats(_media_df(spark, rows)).collect()}
    assert out[1].valid and out[1].n_values == 4
    assert out[1].abs_sum == 100 + 200 + 32767 + 32768
    assert out[1].peak == 32768
    assert not out[2].valid and not out[3].valid


def test_lzw_roundtrip_crosses_width_boundaries():
    """The LZW pair must survive code-width growth (9→12 bits) and the
    4096-entry table reset — lengths here force several of each."""
    from data_lakes_tp2_student_spark.operators.multimodal import (
        _lzw_decode,
        _lzw_encode,
    )

    for data in (
        b"",
        b"\x00",
        b"abcabcabcabc" * 10,
        bytes(range(256)) * 60,               # crosses 512/1024/2048
        bytes((j * 7) % 256 for j in range(50000)),  # multiple 4096 resets
    ):
        assert _lzw_decode(_lzw_encode(data)) == data


def test_parse_gif_roundtrip_and_corrupt(spark):
    """gif_bytes → parse_gif recovers the arithmetic pixel-index sum;
    corruption (bad magic, truncation, a flipped LZW byte) degrades to
    valid=false without throwing."""
    from data_lakes_tp2_student_spark.operators.multimodal import (
        gif_bytes,
        parse_gif,
    )

    import struct

    from data_lakes_tp2_student_spark.operators.multimodal import _lzw_encode

    i = 14  # 15x3 image
    good = gif_bytes(i)
    flipped = bytearray(good)
    flipped[-10] ^= 0xFF  # inside the LZW stream
    # zero-dim descriptor + bare CLEAR+END stream decodes to b"" which
    # passes len == w*h (0 == 0); indices[0] would throw (ADVICE r4)
    empty_lzw = _lzw_encode(b"", 8)
    zero_dim = (
        b"GIF89a"
        + struct.pack("<HHBBB", 0, 0, 0, 0, 0)  # no global color table
        + b"\x2C" + struct.pack("<HHHHB", 0, 0, 0, 0, 0)
        + bytes([8, len(empty_lzw)]) + empty_lzw + b"\x00\x3B"
    )
    rows = [
        (1, good),
        (2, good[:5]),
        (3, b"NOTGIF" + good[6:]),
        (4, bytes(flipped)),
        (5, b""),
        (6, zero_dim),
    ]
    out = {r.doc_id: r for r in parse_gif(_media_df(spark, rows)).collect()}
    assert out[1].valid and out[1].width == 15 and out[1].height == 3
    n = 15 * 3
    assert out[1].px0 == (i * 7) % 256
    assert out[1].px_sum == sum((i * 7 + j) % 256 for j in range(n))
    for bad in (2, 3, 5, 6):
        assert not out[bad].valid
    # a flipped compressed byte either breaks the stream or changes the
    # recovered indices — both must land as a row, not an exception
    assert out[4].px_sum != out[1].px_sum or not out[4].valid


def test_parse_gif_skips_extension_blocks(spark):
    """A GIF with a graphic-control extension before the image descriptor
    (the common real-world layout) must still decode."""
    from data_lakes_tp2_student_spark.operators.multimodal import (
        gif_bytes,
        parse_gif,
    )

    good = gif_bytes(2)
    gct_end = 13 + 256 * 3
    ext = b"\x21\xf9\x04\x00\x00\x00\x00\x00"  # GCE: label, 4-byte block, term
    with_ext = good[:gct_end] + ext + good[gct_end:]
    out = parse_gif(_media_df(spark, [(1, with_ext)])).collect()[0]
    assert out.valid and out.width == 3 and out.px0 == 14


def test_attach_bmp_media_matches_bmp_bytes(spark):
    df = spark.createDataFrame([(3,), (12,)], "doc_id long")
    rows = {
        r.doc_id: bytes(r.media)
        for r in attach_media(df, "doc_id", bmp_bytes).collect()
    }
    assert rows[3] == bmp_bytes(3) and rows[12] == bmp_bytes(12)


def test_parse_is_distributed_expression(spark):
    """The parse runs per-batch on executors: a 200-row input keeps its
    partitioning and produces exactly one output row per input row."""
    df = spark.range(200).select(F.col("id").alias("doc_id"))
    media = attach_media(df.repartition(8), "doc_id", bmp_bytes)
    parsed = parse_bmp(media)
    assert parsed.count() == 200
    assert parsed.filter(~F.col("valid")).count() == 0
