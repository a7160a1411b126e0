"""Compressed-audio and video-container METADATA extraction (SURVEY.md §2
x5 family): a lib-free MP3 frame-header walk, an ISO-BMFF (MP4) box walk and
an AVI (RIFF) chunk walk, each a per-row parser over an opaque binary column
run through `functions.compute.map_rows` — the same contract as the
BMP/PNG/GIF/JPEG/WAV/TAR decoders in `multimodal.py` / `jpeg.py`.

Scope is deliberately metadata-only (frame counts, duration, bitrate,
tracks, codecs) — no PCM/YUV decode: that is the part a real corpus
pipeline needs for profiling/dedup/filtering ("drop audio < 3 s", "keep
video with an AAC track", partition by duration bucket), and it is fully
specified by the public MPEG headers, no codec libs required. Both walks
are bounded O(file bytes) single passes; corrupt input degrades to
`valid=false` rows, never a throw (a 100 TB crawl WILL contain garbage).

Fixture generators (`mp3_bytes`/`mp4_bytes`) build REAL spec-conformant
files whose every field derives from the integer id, so a SQL oracle
predicts the parsed output arithmetically — the arithmetic-oracle pattern
of `multimodal.bmp_bytes` (x5b/a10).
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from ..functions.compute import map_rows
from .jpeg import jpeg_bytes, jpeg_dims

# MPEG-1 Layer III bitrate table (kbps), header index 1..14 (0 = free,
# 15 = bad) and the three MPEG-1 sample rates (index 3 = reserved).
BITRATES_V1L3 = [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320]
SAMPLE_RATES_V1 = [44100, 48000, 32000]


# ---------------------------------------------------------------------------
# MP3
# ---------------------------------------------------------------------------

def mp3_bytes(i: int, vbr: bool = False) -> bytes:
    """A real MPEG-1 Layer III stream, deterministic from ``i``: an ID3v2.3
    tag when i % 3 == 0 (syncsafe size, 20-byte payload), then
    ``i % 5 + 2`` frames at bitrate index ``i % 14 + 1`` and sample-rate
    index ``i % 3``. ``vbr=True`` alternates the bitrate index per frame
    (test-only path; the oracle queries use CBR)."""
    i = int(i)
    out = bytearray()
    if i % 3 == 0:
        payload = bytes((i + j) % 256 for j in range(20))
        out += b"ID3" + bytes([3, 0, 0]) + _syncsafe(len(payload)) + payload
    n_frames = i % 5 + 2
    sr_idx = i % 3
    sr = SAMPLE_RATES_V1[sr_idx]
    for f in range(n_frames):
        br_idx = (i + (f if vbr else 0)) % 14 + 1
        kbps = BITRATES_V1L3[br_idx]
        frame_len = 144 * kbps * 1000 // sr  # padding bit 0
        # 0xFF 0xFB = sync + MPEG-1 + Layer III + no CRC
        hdr = bytes([0xFF, 0xFB, (br_idx << 4) | (sr_idx << 2), 0x00])
        body = bytes((i * 11 + f + j) % 256 for j in range(frame_len - 4))
        out += hdr + body
    return bytes(out)


def _syncsafe(n: int) -> bytes:
    return bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F])


def _mp3_walk(b: bytes) -> dict:
    """Single-pass frame walk. Returns the scalar metadata dict; garbage in
    -> valid=False out (never raises)."""
    pos = 0
    has_id3 = len(b) >= 10 and b[:3] == b"ID3"
    if has_id3:
        size = (b[6] << 21) | (b[7] << 14) | (b[8] << 7) | b[9]
        pos = 10 + size + (10 if len(b) > 5 and b[5] & 0x10 else 0)
    n_frames = 0
    duration_us = 0
    kbps_sum = 0
    kbps_seen: set[int] = set()
    sample_rate = None
    while pos + 4 <= len(b):
        b0, b1, b2 = b[pos], b[pos + 1], b[pos + 2]
        if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
            break
        version = (b1 >> 3) & 3  # 3=MPEG1, 2=MPEG2, 0=MPEG2.5, 1=reserved
        layer = (b1 >> 1) & 3  # 1=III, 2=II, 3=I, 0=reserved
        br_idx = (b2 >> 4) & 0xF
        sr_idx = (b2 >> 2) & 3
        padding = (b2 >> 1) & 1
        if version == 1 or layer == 0 or br_idx in (0, 15) or sr_idx == 3:
            break
        sr_table = {3: [44100, 48000, 32000], 2: [22050, 24000, 16000],
                    0: [11025, 12000, 8000]}[version]
        sr = sr_table[sr_idx]
        if layer == 3:  # Layer I
            kbps = [0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352,
                    384, 416, 448][br_idx] if version == 3 else None
            if kbps is None:
                break
            frame_len = (12 * kbps * 1000 // sr + padding) * 4
            samples = 384
        else:  # Layer II / III
            if version == 3:
                kbps = (BITRATES_V1L3[br_idx] if layer == 1 else
                        [0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
                         256, 320, 384][br_idx])
                frame_len = 144 * kbps * 1000 // sr + padding
                samples = 1152
            else:  # MPEG-2 / 2.5 Layer III: half-rate side info
                kbps = [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128,
                        144, 160][br_idx]
                frame_len = (72 if layer == 1 else 144) * kbps * 1000 // sr + padding
                samples = 576 if layer == 1 else 1152
        if frame_len < 4 or pos + frame_len > len(b):
            break  # truncated final frame: count only complete frames
        n_frames += 1
        duration_us += samples * 1_000_000 // sr
        kbps_sum += kbps
        kbps_seen.add(kbps)
        sample_rate = sr
        pos += frame_len
    # trailing ID3v1 tag is legal stream tail; anything else is junk
    clean_tail = pos == len(b) or (len(b) - pos == 128 and b[pos:pos + 3] == b"TAG")
    ok = n_frames > 0 and clean_tail
    return {
        "valid": ok,
        "n_frames": n_frames if ok else None,
        "sample_rate": sample_rate if ok else None,
        "bitrate_kbps": (kbps_sum // n_frames) if ok else None,
        "duration_us": duration_us if ok else None,
        "has_id3": has_id3,
        "is_vbr": (len(kbps_seen) > 1) if ok else None,
    }


MP3_SCHEMA = (
    "doc_id bigint, valid boolean, n_frames bigint, sample_rate bigint, "
    "bitrate_kbps bigint, duration_us bigint, has_id3 boolean, is_vbr boolean"
)


def parse_mp3(media_df: DataFrame) -> DataFrame:
    """x5k — MP3 frame-header walk over (doc_id, media): frame count,
    duration (sum of per-frame integer microseconds — partition-order
    stable), mean bitrate, CBR/VBR flag, ID3v2 presence. No PCM decode."""
    # the walker's dict keys are in MP3_SCHEMA order
    return map_rows(
        media_df.select("doc_id", "media"),
        MP3_SCHEMA,
        lambda doc_id, b: [(doc_id, *_mp3_walk(b).values())],
    )


# ---------------------------------------------------------------------------
# MP4 / ISO BMFF
# ---------------------------------------------------------------------------

def _box(typ: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + typ + payload


def mp4_bytes(i: int) -> bytes:
    """A real minimal ISO-BMFF file, deterministic from ``i``: ftyp(isom) +
    moov(mvhd + 1–2 trak) + mdat. Track 1 is video (hdlr 'vide', stsd
    'avc1'); when i % 2 == 1 a second audio track (hdlr 'soun', stsd
    'mp4a') is present. mvhd: timescale 1000, duration i*500+1000;
    mdat payload (i*3) % 50 + 8 bytes."""
    i = int(i)
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isom" + b"mp41")
    mvhd = _box(
        b"mvhd",
        struct.pack(">B3x", 0)  # version 0
        + struct.pack(">II", 0, 0)  # ctime, mtime
        + struct.pack(">II", 1000, i * 500 + 1000)  # timescale, duration
        + struct.pack(">ihh", 0x00010000, 0x0100, 0)  # rate, volume, rsvd
        + b"\x00" * 8
        + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24
        + struct.pack(">I", 3),  # next track id
    )

    def trak(track_id: int, handler: bytes, codec: bytes) -> bytes:
        tkhd = _box(
            b"tkhd",
            struct.pack(">B3x", 0)
            + struct.pack(">IIII", 0, 0, track_id, 0)
            + struct.pack(">I", i * 500 + 1000)
            + b"\x00" * 60,
        )
        mdhd = _box(
            b"mdhd",
            struct.pack(">B3x", 0)
            + struct.pack(">II", 0, 0)
            + struct.pack(">II", 48000, (i * 500 + 1000) * 48)
            + struct.pack(">HH", 0x55C4, 0),
        )
        hdlr = _box(
            b"hdlr",
            struct.pack(">B3x", 0) + b"\x00" * 4 + handler + b"\x00" * 12 + b"\x00",
        )
        entry = _box(codec, bytes((i + j) % 256 for j in range(16)))
        stsd = _box(b"stsd", struct.pack(">B3xI", 0, 1) + entry)
        stbl = _box(b"stbl", stsd)
        minf = _box(b"minf", stbl)
        mdia = _box(b"mdia", mdhd + hdlr + minf)
        return _box(b"trak", tkhd + mdia)

    traks = trak(1, b"vide", b"avc1")
    if i % 2 == 1:
        traks += trak(2, b"soun", b"mp4a")
    moov = _box(b"moov", mvhd + traks)
    mdat = _box(b"mdat", bytes((i * 5 + j) % 256 for j in range((i * 3) % 50 + 8)))
    return ftyp + moov + mdat


def _boxes(b: bytes, start: int, end: int):
    """Yield (type, payload_start, payload_end) for each box in [start,
    end); stops (caller treats as corrupt) on any malformed size."""
    pos = start
    while pos + 8 <= end:
        size = struct.unpack(">I", b[pos:pos + 4])[0]
        typ = b[pos + 4:pos + 8]
        hdr = 8
        if size == 1:
            if pos + 16 > end:
                # truncated largesize header is malformed, not a clean
                # tail — must surface like every other bad-size path
                yield (b"\x00bad", pos, pos)
                return
            size = struct.unpack(">Q", b[pos + 8:pos + 16])[0]
            hdr = 16
        elif size == 0:
            size = end - pos  # box extends to end of enclosing scope
        if size < hdr or pos + size > end:
            yield (b"\x00bad", pos, pos)  # malformed marker
            return
        yield (typ, pos + hdr, pos + size)
        pos += size
    if pos != end:
        yield (b"\x00bad", pos, pos)


_MP4_NULL = {
    "valid": False, "brand": None, "n_top_boxes": None,
    "duration_ms": None, "n_tracks": None, "video_codec": None,
    "audio_codec": None, "mdat_bytes": None,
}


def _mp4_walk(b: bytes) -> dict:
    """Invalid-row contract (ADVICE r6): valid=false rows carry ALL-NULL
    metadata, matching the MP3 walker — a partially-populated invalid row
    (e.g. brand set but duration null because a later trak was malformed)
    made downstream per-column filters behave differently per format."""
    out = _mp4_walk_inner(b)
    return out if out["valid"] else dict(_MP4_NULL)


def _mp4_walk_inner(b: bytes) -> dict:
    out = dict(_MP4_NULL)
    top = list(_boxes(b, 0, len(b)))
    if not top or any(t == b"\x00bad" for t, _s, _e in top):
        return out
    types = [t for t, _s, _e in top]
    if b"ftyp" not in types or b"moov" not in types:
        return out
    out["n_top_boxes"] = len(top)
    for typ, s, e in top:
        if typ == b"ftyp" and e - s >= 4:
            out["brand"] = b[s:s + 4].decode("ascii", "replace")
        elif typ == b"mdat":
            out["mdat_bytes"] = (out["mdat_bytes"] or 0) + (e - s)
        elif typ == b"moov":
            n_tracks = 0
            for t2, s2, e2 in _boxes(b, s, e):
                if t2 == b"\x00bad":
                    return out
                if t2 == b"mvhd" and e2 - s2 >= 20:
                    ver = b[s2]
                    # v1 uses 64-bit times: its timescale/duration span
                    # [s2+20, s2+32) — a 20–31-byte truncated payload
                    # must degrade, not raise (never-throw contract)
                    if ver == 1 and e2 - s2 >= 32:
                        ts, dur = struct.unpack(">IQ", b[s2 + 20:s2 + 32])
                    elif ver == 0:
                        ts, dur = struct.unpack(">II", b[s2 + 12:s2 + 20])
                    else:
                        ts = dur = 0
                    if ts:
                        out["duration_ms"] = dur * 1000 // ts
                elif t2 == b"trak":
                    n_tracks += 1
                    handler, codec = _trak_info(b, s2, e2)
                    if handler == b"vide" and out["video_codec"] is None:
                        out["video_codec"] = codec
                    elif handler == b"soun" and out["audio_codec"] is None:
                        out["audio_codec"] = codec
            out["n_tracks"] = n_tracks
    out["valid"] = out["duration_ms"] is not None and (out["n_tracks"] or 0) > 0
    return out


def _trak_info(b: bytes, s: int, e: int):
    handler = codec = None
    for t, s1, e1 in _boxes(b, s, e):
        if t == b"mdia":
            for t2, s2, e2 in _boxes(b, s1, e1):
                if t2 == b"hdlr" and e2 - s2 >= 12:
                    handler = b[s2 + 8:s2 + 12]
                elif t2 == b"minf":
                    for t3, s3, e3 in _boxes(b, s2, e2):
                        if t3 == b"stbl":
                            for t4, s4, e4 in _boxes(b, s3, e3):
                                if t4 == b"stsd" and e4 - s4 >= 16:
                                    codec = b[s4 + 12:s4 + 16].decode(
                                        "ascii", "replace"
                                    )
    return handler, codec


MP4_SCHEMA = (
    "doc_id bigint, valid boolean, brand string, n_top_boxes bigint, "
    "duration_ms bigint, n_tracks bigint, video_codec string, "
    "audio_codec string, mdat_bytes bigint"
)


def parse_mp4(media_df: DataFrame) -> DataFrame:
    """x5l — ISO-BMFF box walk over (doc_id, media): brand, movie duration
    (mvhd, version 0 and 1), track count, first video/audio codec fourccs
    (trak→mdia→hdlr / →minf→stbl→stsd), total mdat payload. Handles
    64-bit largesize and size-0 (to-end) boxes; malformed sizes →
    valid=false."""
    # the walker's dict keys are in MP4_SCHEMA order
    return map_rows(
        media_df.select("doc_id", "media"),
        MP4_SCHEMA,
        lambda doc_id, b: [(doc_id, *_mp4_walk(b).values())],
    )


# ---------------------------------------------------------------------------
# AVI / RIFF (MJPEG video)
# ---------------------------------------------------------------------------

def _riff_chunk(fourcc: bytes, payload: bytes) -> bytes:
    pad = b"\x00" if len(payload) % 2 else b""  # RIFF chunks are word-aligned
    return fourcc + struct.pack("<I", len(payload)) + payload + pad


def _riff_list(list_type: bytes, payload: bytes) -> bytes:
    return _riff_chunk(b"LIST", list_type + payload)


def avi_bytes(i: int) -> bytes:
    """A real minimal AVI (RIFF) file with one MJPEG video stream whose
    frames are REAL decodable baseline JPEGs (operators/jpeg.py), all
    deterministic from ``i``: ``i % 3 + 1`` frames, frame ``j`` is
    ``jpeg_bytes(i + 6*j)`` — the +6 stride keeps ``i' mod 6`` constant,
    so every frame of one file shares the fixture dimensions (as a real
    video stream must). fps = 25 + 5*(i % 2). Layout:
    RIFF('AVI ' LIST('hdrl' avih LIST('strl' strh strf)) LIST('movi'
    '00dc'×n)). The same container-in-container fixture contract as the
    TAR->JPEG chain (x49c): a SQL oracle predicts every decoded frame's
    luma sum arithmetically through BOTH layers."""
    i = int(i)
    n_frames = i % 3 + 1
    fps = 25 + 5 * (i % 2)
    frames = [jpeg_bytes(i + 6 * j) for j in range(n_frames)]
    w, h = jpeg_dims(i)
    max_frame = max(len(f) for f in frames)
    avih = _riff_chunk(
        b"avih",
        struct.pack(
            "<14I",
            1_000_000 // fps,  # dwMicroSecPerFrame
            max_frame * fps,  # dwMaxBytesPerSec
            0,  # dwPaddingGranularity
            0x10,  # dwFlags: AVIF_HASINDEX off, AVIF_WASCAPTUREFILE-ish
            n_frames,  # dwTotalFrames
            0,  # dwInitialFrames
            1,  # dwStreams
            max_frame,  # dwSuggestedBufferSize
            w,
            h,
            0, 0, 0, 0,  # dwReserved[4]
        ),
    )
    strh = _riff_chunk(
        b"strh",
        b"vids"
        + b"MJPG"
        + struct.pack(
            "<IHHIIIIIIIi4H",
            0,  # dwFlags
            0, 0,  # wPriority, wLanguage
            0,  # dwInitialFrames
            1, fps,  # dwScale, dwRate -> rate/scale = fps
            0,  # dwStart
            n_frames,  # dwLength
            max_frame,  # dwSuggestedBufferSize
            0,  # dwQuality
            0,  # dwSampleSize
            0, 0, w, h,  # rcFrame
        ),
    )
    strf = _riff_chunk(
        b"strf",
        struct.pack(
            "<IiiHH4sIiiII",
            40,  # biSize
            w, h,
            1, 24,  # biPlanes, biBitCount
            b"MJPG",  # biCompression
            w * h * 3,  # biSizeImage
            0, 0, 0, 0,
        ),
    )
    hdrl = _riff_list(b"hdrl", avih + _riff_list(b"strl", strh + strf))
    movi = _riff_list(
        b"movi", b"".join(_riff_chunk(b"00dc", f) for f in frames)
    )
    payload = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(payload)) + payload


def _riff_chunks(b: bytes, start: int, end: int):
    """Yield (fourcc, payload_start, payload_end) for each RIFF chunk in
    [start, end); chunks are word-aligned (odd sizes padded). Any
    malformed size yields the bad marker and stops — the caller treats
    the scope as corrupt, same contract as the ISO-BMFF `_boxes`."""
    pos = start
    while pos + 8 <= end:
        fourcc = b[pos : pos + 4]
        size = struct.unpack("<I", b[pos + 4 : pos + 8])[0]
        data_end = pos + 8 + size
        if data_end > end:
            yield (b"\x00bad", pos, pos)
            return
        yield (fourcc, pos + 8, data_end)
        pos = data_end + (size % 2)  # skip the pad byte
    if pos != end and pos != end + 1:  # +1: final pad may overhang scope
        yield (b"\x00bad", pos, pos)


_AVI_NULL = {
    "valid": False, "n_streams": None, "width": None, "height": None,
    "fps": None, "declared_frames": None, "n_frames": None, "codec": None,
}


def _avi_walk(b: bytes, want_frames: bool = False) -> tuple[dict, list[bytes]]:
    """Single-pass RIFF walk: (metadata dict, video frame payloads).
    Never raises; corrupt input -> (all-null valid=false, []) — the same
    invalid-row contract as the MP3/MP4 walkers (ADVICE r6)."""
    out = dict(_AVI_NULL)
    frames: list[bytes] = []
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        return dict(_AVI_NULL), []
    riff_size = struct.unpack("<I", b[4:8])[0]
    end = min(8 + riff_size, len(b))
    if 8 + riff_size > len(b):
        return dict(_AVI_NULL), []  # declared size overruns the payload
    for typ, s, e in _riff_chunks(b, 12, end):
        if typ == b"\x00bad":
            return dict(_AVI_NULL), []
        if typ != b"LIST" or e - s < 4:
            continue  # JUNK and other non-LIST top chunks are legal
        list_type = b[s : s + 4]
        if list_type == b"hdrl":
            for t2, s2, e2 in _riff_chunks(b, s + 4, e):
                if t2 == b"\x00bad":
                    return dict(_AVI_NULL), []
                if t2 == b"avih" and e2 - s2 >= 40:
                    (uspf, _mbps, _pad, _flags, total, _init, streams,
                     _buf, w, h) = struct.unpack("<10I", b[s2 : s2 + 40])
                    out["fps"] = 1_000_000 // uspf if uspf else None
                    out["declared_frames"] = total
                    out["n_streams"] = streams
                    out["width"] = w
                    out["height"] = h
                elif t2 == b"LIST" and e2 - s2 >= 4 and b[s2 : s2 + 4] == b"strl":
                    for t3, s3, e3 in _riff_chunks(b, s2 + 4, e2):
                        if t3 == b"\x00bad":
                            return dict(_AVI_NULL), []
                        if (
                            t3 == b"strh"
                            and e3 - s3 >= 8
                            and b[s3 : s3 + 4] == b"vids"
                            and out["codec"] is None
                        ):
                            out["codec"] = b[s3 + 4 : s3 + 8].decode(
                                "ascii", "replace"
                            )
        elif list_type == b"movi":
            n = out["n_frames"] or 0  # accumulate across multiple movi lists
            for t2, s2, e2 in _riff_chunks(b, s + 4, e):
                if t2 == b"\x00bad":
                    return dict(_AVI_NULL), []
                # NNdc = compressed video chunk of stream NN
                if len(t2) == 4 and t2[2:4] == b"dc" and t2[:2].isdigit():
                    n += 1
                    if want_frames:
                        frames.append(b[s2:e2])
            out["n_frames"] = n
    out["valid"] = (
        (out["n_streams"] or 0) > 0
        and (out["n_frames"] or 0) > 0
        and out["width"] is not None
    )
    if not out["valid"]:
        return dict(_AVI_NULL), []
    return out, frames


AVI_SCHEMA = (
    "doc_id bigint, valid boolean, n_streams bigint, width bigint, "
    "height bigint, fps bigint, declared_frames bigint, n_frames bigint, "
    "codec string"
)

AVI_FRAMES_SCHEMA = "doc_id bigint, frame_no bigint, frame binary"


def parse_avi(media_df: DataFrame) -> DataFrame:
    """x5m metadata half — AVI (RIFF) container walk over (doc_id,
    media): stream count, declared dims/fps/frame-count from avih, video
    codec fourcc from the strl/strh header, actual '..dc' frame-chunk
    count from movi. Metadata-only single pass; corrupt input degrades
    to an all-null valid=false row, never a throw."""
    # the walker's dict keys are in AVI_SCHEMA order
    return map_rows(
        media_df.select("doc_id", "media"),
        AVI_SCHEMA,
        lambda doc_id, b: [(doc_id, *_avi_walk(b)[0].values())],
    )


def parse_avi_frames(media_df: DataFrame) -> DataFrame:
    """x5m frame half — explode each AVI's movi video chunks into one row
    per frame carrying the RAW codec payload (for MJPEG: a complete
    JPEG, feedable straight into operators/jpeg.py:parse_jpeg — the real
    frame-sampling path `multimodal.sample_frames` stubs with byte
    slices). Invalid containers contribute zero rows (filter upstream
    with parse_avi for the per-file verdict). The one-to-many expansion
    happens executor-side with no shuffle."""
    return map_rows(
        media_df.select("doc_id", "media"),
        AVI_FRAMES_SCHEMA,
        lambda doc_id, b: [
            (doc_id, j, frame)
            for j, frame in enumerate(_avi_walk(b, want_frames=True)[1])
        ],
    )
