"""MP3 frame-walk + MP4 box-walk edge/corruption matrix (x5k/x5l,
VERDICT r5 item 5): corrupt input must degrade to valid=false rows —
never a throw — and the walks must honor the format structures (ID3
skip, truncated final frame, VBR, 64-bit largesize, size-0 boxes,
v1 mvhd)."""

from __future__ import annotations

import struct

import pytest

from data_lakes_tp2_student_spark.operators.media_containers import (
    _box,
    _mp3_walk,
    _mp4_walk,
    mp3_bytes,
    mp4_bytes,
)


# ---------------------------------------------------------------------------
# MP3
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("i", [0, 1, 2, 5, 13, 27, 41])
def test_mp3_fixture_fields_match_formula(i):
    m = _mp3_walk(mp3_bytes(i))
    sr = [44100, 48000, 32000][i % 3]
    assert m["valid"] is True
    assert m["n_frames"] == i % 5 + 2
    assert m["sample_rate"] == sr
    assert m["duration_us"] == (i % 5 + 2) * (1152 * 1_000_000 // sr)
    assert m["has_id3"] == (i % 3 == 0)
    assert m["is_vbr"] is False


def test_mp3_vbr_detected_and_bitrate_averaged():
    m = _mp3_walk(mp3_bytes(3, vbr=True))  # 5 frames, rotating bitrate idx
    assert m["valid"] is True and m["is_vbr"] is True
    assert m["n_frames"] == 5


def test_mp3_truncated_final_frame_counts_complete_frames_only():
    b = mp3_bytes(1)  # no ID3, 3 frames
    m = _mp3_walk(b[:-10])  # cut into the last frame
    assert m["valid"] is False  # junk tail (incomplete frame)
    full = _mp3_walk(b)
    assert full["n_frames"] == 3


def test_mp3_id3v1_tail_tolerated():
    b = mp3_bytes(1) + b"TAG" + bytes(125)
    m = _mp3_walk(b)
    assert m["valid"] is True and m["n_frames"] == 3


def test_mp3_garbage_and_empty_and_id3_only():
    assert _mp3_walk(b"") == {
        "valid": False, "n_frames": None, "sample_rate": None,
        "bitrate_kbps": None, "duration_us": None, "has_id3": False,
        "is_vbr": None,
    }
    assert _mp3_walk(b"not an mp3 at all")["valid"] is False
    # ID3 tag with no frames after it
    id3_only = mp3_bytes(0)[:30]
    m = _mp3_walk(id3_only)
    assert m["valid"] is False and m["has_id3"] is True


def test_mp3_bad_bitrate_and_samplerate_indices_rejected():
    # sync ok but bitrate index 15 (bad) / sample-rate index 3 (reserved)
    bad_br = bytes([0xFF, 0xFB, 0xF0, 0x00]) + bytes(100)
    bad_sr = bytes([0xFF, 0xFB, 0x1C, 0x00]) + bytes(100)
    assert _mp3_walk(bad_br)["valid"] is False
    assert _mp3_walk(bad_sr)["valid"] is False


def test_mp3_mpeg2_layer3_frames_walk():
    # MPEG-2 Layer III, 22050 Hz (sr idx 0), bitrate idx 4 (32 kbps):
    # header 0xFF 0xF3; frame = 72*32000//22050 = 104 bytes; 576 samples
    frame = bytes([0xFF, 0xF3, 0x40, 0x00]) + bytes(100)
    m = _mp3_walk(frame * 2)
    assert m["valid"] is True
    assert m["n_frames"] == 2
    assert m["sample_rate"] == 22050
    assert m["duration_us"] == 2 * (576 * 1_000_000 // 22050)


# ---------------------------------------------------------------------------
# MP4
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("i", [0, 1, 2, 7, 16, 33])
def test_mp4_fixture_fields_match_formula(i):
    m = _mp4_walk(mp4_bytes(i))
    assert m["valid"] is True
    assert m["brand"] == "isom"
    assert m["n_top_boxes"] == 3
    assert m["duration_ms"] == i * 500 + 1000
    assert m["n_tracks"] == i % 2 + 1
    assert m["video_codec"] == "avc1"
    assert m["audio_codec"] == ("mp4a" if i % 2 == 1 else None)
    assert m["mdat_bytes"] == (i * 3) % 50 + 8


def test_mp4_truncated_and_overrunning_box_rejected():
    b = mp4_bytes(4)
    assert _mp4_walk(b[: len(b) // 2])["valid"] is False
    # declared size overruns EOF
    bad = struct.pack(">I", 1_000_000) + b"ftyp" + b"isom"
    assert _mp4_walk(bad)["valid"] is False
    # size < header size (would loop forever without the guard)
    tiny = struct.pack(">I", 3) + b"ftyp" + bytes(20)
    assert _mp4_walk(tiny)["valid"] is False


def test_mp4_empty_and_garbage_and_missing_moov():
    assert _mp4_walk(b"")["valid"] is False
    assert _mp4_walk(b"RIFFxxxxWAVE")["valid"] is False
    only_ftyp = _box(b"ftyp", b"isom" + bytes(12))
    assert _mp4_walk(only_ftyp)["valid"] is False


def test_mp4_largesize_and_size_zero_boxes():
    base = mp4_bytes(2)
    # re-wrap the mdat payload as a 64-bit largesize box
    payload = bytes(14)
    large = (
        struct.pack(">I", 1) + b"mdat" + struct.pack(">Q", 16 + len(payload))
        + payload
    )
    # find and replace the original mdat (last top-level box)
    idx = base.rfind(b"mdat") - 4
    rebuilt = base[:idx] + large
    m = _mp4_walk(rebuilt)
    assert m["valid"] is True and m["mdat_bytes"] == len(payload)
    # size-0 box: extends to end of file
    zero = base[:idx] + struct.pack(">I", 0) + b"mdat" + payload
    m2 = _mp4_walk(zero)
    assert m2["valid"] is True and m2["mdat_bytes"] == len(payload)


def test_mp4_v1_mvhd_64bit_duration():
    # version-1 mvhd: 64-bit times, timescale at +20, duration at +24
    mvhd = _box(
        b"mvhd",
        struct.pack(">B3x", 1) + struct.pack(">QQ", 0, 0)
        + struct.pack(">IQ", 1000, 77_000) + bytes(80),
    )
    trak_min = _box(
        b"trak",
        _box(b"mdia", _box(b"hdlr", struct.pack(">B3x", 0) + bytes(4) + b"vide" + bytes(13))),
    )
    f = _box(b"ftyp", b"isom" + bytes(12)) + _box(b"moov", mvhd + trak_min)
    m = _mp4_walk(f)
    assert m["valid"] is True and m["duration_ms"] == 77_000


def test_spark_end_to_end_mp3_mp4(spark):
    from data_lakes_tp2_student_spark.operators.media_containers import (
        mp3_bytes,
        mp4_bytes,
        parse_mp3,
        parse_mp4,
    )
    from data_lakes_tp2_student_spark.operators.multimodal import attach_media

    ids = spark.range(12).selectExpr("id AS doc_id")
    mp3 = parse_mp3(attach_media(ids, "doc_id", mp3_bytes)).collect()
    assert len(mp3) == 12 and all(r.valid for r in mp3)
    mp4 = parse_mp4(attach_media(ids, "doc_id", mp4_bytes)).collect()
    assert len(mp4) == 12 and all(r.valid for r in mp4)


# --- review-r6 regression tests ------------------------------------------


def test_mp4_truncated_v1_mvhd_degrades_not_throws():
    """review r6: a 20-31 byte version-1 mvhd payload used to raise
    struct.error out of the never-throw walk."""
    for pad in range(16, 28):  # payload 20..31 bytes (4 ver/flags + pad)
        mvhd = _box(b"mvhd", struct.pack(">B3x", 1) + bytes(pad))
        f = _box(b"ftyp", b"isom" + bytes(12)) + _box(b"moov", mvhd)
        m = _mp4_walk(f)  # must not raise
        assert m["valid"] is False and m["duration_ms"] is None


def test_mp4_truncated_largesize_tail_rejected():
    """review r6: an 8-15 byte truncated largesize box at EOF was
    silently swallowed and the file reported valid."""
    base = mp4_bytes(2)
    for tail_pad in range(0, 8):
        bad = base + struct.pack(">I", 1) + b"mdat" + bytes(tail_pad)
        assert _mp4_walk(bad)["valid"] is False


# --- round-7 ADVICE regression tests ---------------------------------------


def test_mp4_invalid_rows_all_null_contract():
    """ADVICE r6: invalid MP4 rows must carry ALL-NULL metadata (matching
    the MP3 walker) — previously a malformed trak could leave brand,
    n_top_boxes, even duration_ms populated on a valid=false row, so
    per-column downstream filters behaved differently per format."""
    from data_lakes_tp2_student_spark.operators.media_containers import _MP4_NULL

    b = mp4_bytes(4)
    corrupt = [
        b[: len(b) // 2],                           # truncation
        b"",                                        # empty
        _box(b"ftyp", b"isom" + bytes(12)),         # missing moov
        struct.pack(">I", 3) + b"ftyp" + bytes(20), # size < header
    ]
    # a moov whose trak box has a malformed inner size: ftyp parses fine
    # (brand would be set) but the walk must still null everything
    bad_trak = _box(b"trak", struct.pack(">I", 2) + b"tkhd")
    corrupt.append(
        _box(b"ftyp", b"isom" + bytes(12)) + _box(b"moov", bad_trak)
    )
    for payload in corrupt:
        assert _mp4_walk(payload) == _MP4_NULL, payload[:16]


# --- round-7: AVI / RIFF (MJPEG) container (VERDICT r6 item 3) -------------


from data_lakes_tp2_student_spark.operators.media_containers import (
    _AVI_NULL,
    _avi_walk,
    avi_bytes,
)


def test_avi_walk_metadata_matches_fixture_arithmetic():
    from data_lakes_tp2_student_spark.operators.jpeg import jpeg_dims

    for i in range(12):
        meta, frames = _avi_walk(avi_bytes(i), want_frames=True)
        assert meta["valid"] is True
        assert meta["n_streams"] == 1
        assert meta["codec"] == "MJPG"
        assert meta["fps"] == 25 + 5 * (i % 2)
        assert meta["n_frames"] == i % 3 + 1 == meta["declared_frames"]
        assert (meta["width"], meta["height"]) == jpeg_dims(i)
        assert len(frames) == i % 3 + 1


def test_avi_frames_are_decodable_jpegs_with_constant_dims():
    from data_lakes_tp2_student_spark.operators.jpeg import (
        _jpeg_decode,
        jpeg_dims,
    )

    for i in (1, 4, 5):
        _meta, frames = _avi_walk(avi_bytes(i), want_frames=True)
        for j, fr in enumerate(frames):
            d = _jpeg_decode(fr)
            assert d is not None, (i, j)
            assert (d[0], d[1]) == jpeg_dims(i)  # all frames share dims


def test_avi_invalid_rows_all_null_contract():
    """Same invalid-row contract as MP3/MP4 (ADVICE r6): corrupt input ->
    ALL-NULL metadata, zero frames, never a partially-populated row."""
    b = avi_bytes(7)
    corrupt = [
        b"",
        b"RIFF" + b"\x00" * 20,                      # wrong form type
        b[:20],                                       # truncated header
        b[: len(b) // 2],                             # truncated mid-stream
        b"RIFF" + struct.pack("<I", 10**6) + b"AVI ", # size overruns EOF
        b[:12] + struct.pack("<I", 0xFFFFFFF0) + b[16:],  # bad chunk size
    ]
    for payload in corrupt:
        meta, frames = _avi_walk(payload, want_frames=True)
        assert meta == _AVI_NULL, payload[:16]
        assert frames == []


def test_avi_junk_top_chunk_tolerated():
    """Real AVIs carry JUNK padding chunks; unknown top-level chunks must
    be skipped, not treated as corruption."""
    b = avi_bytes(3)
    junk = b"JUNK" + struct.pack("<I", 6) + b"abcdef"
    spliced = b[:12] + junk + b[12:]
    rebuilt = b"RIFF" + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    meta, frames = _avi_walk(rebuilt, want_frames=True)
    assert meta["valid"] is True and meta["n_frames"] == 3 % 3 + 1
    assert len(frames) == 1


def test_avi_odd_sized_frame_chunk_word_alignment():
    """RIFF pads odd-sized chunks to word boundaries; the walker must
    step over the pad byte (an off-by-one would desync every following
    chunk)."""
    odd_frame = b"\xff\xd8\xff"  # 3 bytes, not a real JPEG — only the walk
    from data_lakes_tp2_student_spark.operators.media_containers import (
        _riff_chunk,
        _riff_list,
    )

    base = avi_bytes(2)  # has 3 frames; rebuild movi with odd chunk first
    _meta, frames = _avi_walk(base, want_frames=True)
    movi = _riff_list(
        b"movi",
        _riff_chunk(b"00dc", odd_frame)
        + b"".join(_riff_chunk(b"00dc", f) for f in frames),
    )
    idx = base.find(b"movi") - 8  # start of the movi LIST chunk
    payload = base[8:idx] + movi
    rebuilt = b"RIFF" + struct.pack("<I", len(payload)) + payload
    meta, got = _avi_walk(rebuilt, want_frames=True)
    assert meta["valid"] is True
    assert meta["n_frames"] == len(frames) + 1
    assert got[0] == odd_frame and got[1:] == frames


def test_spark_end_to_end_avi(spark):
    from data_lakes_tp2_student_spark.operators.media_containers import (
        avi_bytes,
        parse_avi,
        parse_avi_frames,
    )
    from data_lakes_tp2_student_spark.operators.multimodal import attach_media

    ids = spark.range(9).selectExpr("id AS doc_id")
    meta = parse_avi(attach_media(ids, "doc_id", avi_bytes)).collect()
    assert len(meta) == 9 and all(r.valid for r in meta)
    frames = parse_avi_frames(attach_media(ids, "doc_id", avi_bytes)).collect()
    assert len(frames) == sum(i % 3 + 1 for i in range(9))


def test_avi_multiple_movi_lists_accumulate_frames():
    """Review r7 wave 1: a second movi LIST must ADD to the frame count,
    not reset it (OpenDML files split movi across RIFF segments)."""
    from data_lakes_tp2_student_spark.operators.media_containers import (
        _riff_chunk,
        _riff_list,
    )

    base = avi_bytes(2)  # 3 frames in one movi
    _meta, frames = _avi_walk(base, want_frames=True)
    extra = _riff_list(b"movi", _riff_chunk(b"00dc", frames[0]))
    payload = base[8:] + extra
    rebuilt = b"RIFF" + struct.pack("<I", len(payload)) + payload
    meta, got = _avi_walk(rebuilt, want_frames=True)
    assert meta["valid"] is True
    assert meta["n_frames"] == 4
    assert len(got) == 4
