"""SURVEY.md §2 group X5 — multimodal columns: image (BMP/PNG/GIF/JPEG
decode, resize, dHash and near-dup), audio (WAV/MP3), video (MP4/AVI
containers, MJPEG frames and sampling) and archive (tar/WebDataset)
queries over media bytes attached to `documents`.

Every media stage is a typed Arrow row-map (`functions/compute.py:map_rows`)
and every output field is predicted arithmetically by the oracle from the
deterministic fixture bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.multimodal import (
    attach_fake_media,
    attach_media,
    bmp_bytes,
    parse_bmp,
    parse_wav,
    sample_frames,
    wav_bytes,
)
from ..registry import load, register


# -------------------------------------------------------------- x5 multimodal


@register(
    "x5_multimodal_join",
    oracle=f"""
    SELECT d.source, count(*) AS n,
           round(avg(sqrt(list_sum(list_transform(e.embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS avg_norm
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    GROUP BY d.source
    """,
)
def x5_multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x5 — typed array column joined to the doc table by id; array exprs
    stay first-class through the join + agg."""
    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    sq_sum = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        docs.join(emb, docs.doc_id == emb.vec_id)
        .select("source", F.sqrt(sq_sum).alias("_norm"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("_norm"), 6).alias("avg_norm"),
        )
    )


@register(
    "x5b_media_features",
    oracle="""
    SELECT doc_id,
           true AS valid,
           CAST(doc_id % 16 + 1 AS BIGINT) AS width,
           CAST(doc_id % 12 + 1 AS BIGINT) AS height,
           CAST(24 AS BIGINT) AS bpp,
           CAST(54 + ((24 * (doc_id % 16 + 1) + 31) // 32) * 4
                    * (doc_id % 12 + 1) AS BIGINT) AS n_bytes,
           CAST((doc_id * 7) % 256 AS BIGINT) AS px0
    FROM documents
    """,
)
def x5b_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x5 — REAL media decode: per-doc BMP payloads (valid file header +
    24-bit padded pixel rows, deterministic from doc_id) are parsed back by
    struct.unpack inside the typed Arrow row-map (`map_rows`); the oracle
    predicts every recovered header field and the first pixel byte
    arithmetically from doc_id, so the parse is fully hash-checked. Scalar
    output columns only (array outputs break the oracle comparison's
    canonicalizer)."""
    docs = load(spark, sf_dir, "documents")
    media = attach_media(docs, "doc_id", bmp_bytes)
    return parse_bmp(media)


@register(
    "x5c_frame_sample",
    oracle="""
    WITH m AS (SELECT doc_id, substring(text, 1, 64) AS s FROM documents),
    f AS (SELECT doc_id, CAST(t.i AS INT) AS frame_no,
                 substring(s, CAST(floor(t.i * (length(s) / 4.0)) AS INT) + 1, 8)
                     AS frame_str
          FROM m, unnest(range(0, least(4, length(s)))) AS t(i))
    SELECT doc_id, frame_no, frame_str FROM f WHERE length(frame_str) > 0
       OR frame_no IS NOT NULL
    """,
)
def x5c_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x5 — frame sampling (video → rows): each payload explodes into up to
    4 evenly-spaced 8-byte 'frames' (codegen'd sequence/transform/posexplode
    — a real codec swaps the slice for keyframe seeks, same one-to-many
    contract). The fake media is UTF-8 text bytes, so frames decode to
    strings and the oracle checks the whole expansion in the string
    domain.

    Kept DELIBERATELY synthetic next to the real-container twin
    `x5o_avi_frame_sample`: this variant is
    the pure-column-expression fast path — byte-slice sampling with NO
    Python stage at all — which is the right tool when the payload is an
    opaque blob and only the one-to-many expansion contract matters;
    x5o is the full container walk + selective decode for real video."""
    docs = load(spark, sf_dir, "documents")
    media = attach_fake_media(docs, "doc_id", "text")
    return sample_frames(media, n_frames=4).select(
        "doc_id", "frame_no", F.decode("frame", "utf-8").alias("frame_str")
    )


@register(
    "x5d_audio_features",
    oracle="""
    SELECT doc_id,
           true AS valid,
           CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                WHEN 2 THEN 22050 ELSE 44100 END AS BIGINT) AS sample_rate,
           CAST(doc_id % 2 + 1 AS BIGINT) AS channels,
           CAST(16 AS BIGINT) AS bits,
           CAST(doc_id % 50 + 1 AS BIGINT) AS n_samples,
           CAST((doc_id % 50 + 1) * 1000000
                // CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                   WHEN 2 THEN 22050 ELSE 44100 END AS BIGINT) AS duration_us
    FROM documents
    """,
)
def x5d_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x5 — REAL audio decode (the WAV twin of x5b's BMP parse): per-doc PCM
    WAV payloads (RIFF + fmt + data chunks, deterministic from doc_id) are
    chunk-walked by struct.unpack inside the typed Arrow row-map; the
    oracle predicts rate/channels/bits/sample-count/duration arithmetically
    from doc_id. Duration is integer microseconds — no float division."""
    docs = load(spark, sf_dir, "documents")
    media = attach_media(docs, "doc_id", wav_bytes)
    return parse_wav(media)


@register(
    "x5e_media_resize",
    oracle="""
    SELECT doc_id,
           true AS valid,
           CAST((doc_id % 16 + 1 + 1) // 2 AS BIGINT) AS width,
           CAST((doc_id % 12 + 1 + 1) // 2 AS BIGINT) AS height,
           CAST(24 AS BIGINT) AS bpp,
           CAST(54 + ((24 * ((doc_id % 16 + 1 + 1) // 2) + 31) // 32) * 4
                    * ((doc_id % 12 + 1 + 1) // 2) AS BIGINT) AS n_bytes,
           CAST((doc_id * 7) % 256 AS BIGINT) AS px0
    FROM documents
    """,
)
def x5e_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x5 — the full decode→resize→decode chain, hash-checked: BMP payloads
    are nearest-neighbor downsampled 2x (real pixel-array slicing + header
    rebuild, operators.multimodal.resize_bmp) and re-parsed; the oracle
    predicts the resized dims (ceil(w/2), ceil(h/2)), the re-padded byte
    size, and the surviving first pixel arithmetically from doc_id."""
    from ..operators.multimodal import resize_bmp

    docs = load(spark, sf_dir, "documents")
    media = attach_media(docs, "doc_id", bmp_bytes)
    return parse_bmp(resize_bmp(media, factor=2))


@register(
    "x5f_png_features",
    oracle="""
    -- pixel byte j (row-major) is (doc_id*7 + j) % 256, so px_sum is a
    -- closed-form list_sum over width*height*3 bytes; decoding must invert
    -- all five scanline filters to reproduce it
    SELECT doc_id,
           true AS valid,
           CAST(doc_id % 16 + 1 AS BIGINT) AS width,
           CAST(doc_id % 12 + 1 AS BIGINT) AS height,
           CAST(8 AS BIGINT) AS bit_depth,
           CAST(2 AS BIGINT) AS color_type,
           CAST((doc_id * 7) % 256 AS BIGINT) AS px0,
           CAST(list_sum(list_transform(
                    range(0, (doc_id % 16 + 1) * (doc_id % 12 + 1) * 3),
                    j -> (doc_id * 7 + j) % 256)) AS BIGINT) AS px_sum
    FROM documents
    """,
)
def x5f_png_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x5 — REAL PNG decode, lib-free: per-doc PNG payloads (CRC-correct
    chunks, zlib IDAT, every scanline filter type 0-4 across rows) are
    fully decoded — chunk walk, CRC check, inflate, unfilter — inside the
    typed Arrow row-map (`map_rows`). The oracle predicts the
    dims/depth/type AND the sum of all recovered pixel bytes arithmetically
    from doc_id, so a hash match proves the filter inversions byte-exactly.
    n_bytes is excluded: compressed size is not SQL-predictable."""
    from ..operators.multimodal import parse_png, png_bytes

    docs = load(spark, sf_dir, "documents")
    media = attach_media(docs, "doc_id", png_bytes)
    return parse_png(media).select(
        "doc_id", "valid", "width", "height", "bit_depth", "color_type",
        "px0", "px_sum",
    )


@register(
    "x5g_gif_features",
    oracle="""
    -- pixel index j (row-major) is (doc_id*7 + j) % 256; recovering the
    -- index-sum requires a full LZW decompression of the GIF data stream
    SELECT doc_id,
           true AS valid,
           CAST(doc_id % 16 + 1 AS BIGINT) AS width,
           CAST(doc_id % 12 + 1 AS BIGINT) AS height,
           CAST(256 AS BIGINT) AS gct_size,
           CAST((doc_id * 7) % 256 AS BIGINT) AS px0,
           CAST(list_sum(list_transform(
                    range(0, (doc_id % 16 + 1) * (doc_id % 12 + 1)),
                    j -> (doc_id * 7 + j) % 256)) AS BIGINT) AS px_sum
    FROM documents
    """,
)
def x5g_gif_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x5 — REAL GIF decode, lib-free (the LZW sibling of x5f's PNG
    inflate): per-doc GIF89a payloads are decoded end-to-end — header and
    descriptor parse, sub-block reassembly, full LZW decompression with
    code-table growth and width changes — inside the typed Arrow
    row-map. The oracle predicts dims/table size AND the pixel-index
    sum arithmetically from doc_id, so a hash match proves the LZW
    inverse byte-exactly. n_bytes excluded (compressed size is not
    SQL-predictable)."""
    from ..operators.multimodal import gif_bytes, parse_gif

    docs = load(spark, sf_dir, "documents")
    media = attach_media(docs, "doc_id", gif_bytes)
    return parse_gif(media).select(
        "doc_id", "valid", "width", "height", "gct_size", "px0", "px_sum"
    )


@register(
    "x5h_audio_sample_stats",
    oracle="""
    -- PCM byte j is (doc_id*11 + j) % 256; int16 value k is the
    -- sign-decoded little-endian pair (2k, 2k+1), so both signal stats
    -- are closed-form over n_samples*channels values
    WITH v AS (
        SELECT doc_id,
               CAST((doc_id % 50 + 1) * (doc_id % 2 + 1) AS BIGINT)
                   AS n_values
        FROM documents
    ),
    s AS (
        SELECT doc_id, n_values,
               list_transform(range(0, n_values),
                   k -> CASE WHEN ((doc_id*11 + 2*k) % 256)
                                  + 256*((doc_id*11 + 2*k + 1) % 256)
                                  >= 32768
                             THEN abs(((doc_id*11 + 2*k) % 256)
                                      + 256*((doc_id*11 + 2*k + 1) % 256)
                                      - 65536)
                             ELSE ((doc_id*11 + 2*k) % 256)
                                  + 256*((doc_id*11 + 2*k + 1) % 256)
                        END) AS a
        FROM v
    )
    SELECT doc_id, true AS valid, n_values,
           CAST(list_sum(a) AS BIGINT) AS abs_sum,
           CAST(list_max(a) AS BIGINT) AS peak
    FROM s
    """,
)
def x5h_audio_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x5 — SAMPLE-level audio statistics (x5d parses headers; this decodes
    the signal): per-doc WAV payloads have their 16-bit PCM data unpacked
    to signed amplitudes inside the typed Arrow row-map, emitting integer
    sum-of-|amplitude| and peak — the clipping/silence screens of an audio
    corpus pipeline. The oracle recomputes both stats arithmetically from
    doc_id including the two's-complement sign decode, so a hash match
    proves sample-exact decoding."""
    from ..operators.multimodal import audio_sample_stats

    docs = load(spark, sf_dir, "documents")
    media = attach_media(docs, "doc_id", wav_bytes)
    return audio_sample_stats(media)


@register(
    "x5i_png_resize_chain",
    oracle="""
    -- downsampled pixel (r2, c2) channel ch is source byte
    -- (doc_id*7 + 2*r2*w*3 + 2*c2*3 + ch) % 256; the whole
    -- decode->downsample->re-encode->decode chain must reproduce it
    WITH dims AS (
        SELECT doc_id,
               doc_id % 16 + 1 AS w,
               (doc_id % 16 + 1 + 1) // 2 AS w2,
               (doc_id % 12 + 1 + 1) // 2 AS h2
        FROM documents
    )
    SELECT doc_id, true AS valid,
           CAST(w2 AS BIGINT) AS width, CAST(h2 AS BIGINT) AS height,
           CAST((doc_id * 7) % 256 AS BIGINT) AS px0,
           CAST(list_sum(list_transform(range(0, h2 * w2 * 3), j ->
               (doc_id*7
                + 2 * (j // (w2 * 3)) * w * 3
                + 2 * ((j % (w2 * 3)) // 3) * 3
                + (j % 3)) % 256)) AS BIGINT) AS px_sum
    FROM dims
    """,
)
def x5i_png_resize_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x5 — COMPRESSED-format resize chain: PNG decode (inflate+unfilter) →
    nearest-neighbor downsample ×2 → re-ENCODE a valid compressed PNG →
    decode again with `parse_png`. The oracle predicts the downsampled
    image's pixel-byte sum arithmetically, so a hash match proves the
    whole cycle including the re-encoder's deflate+CRC output is
    byte-faithful — the contract a real thumbnailing stage must meet."""
    from ..operators.multimodal import parse_png, png_bytes, resize_png

    docs = load(spark, sf_dir, "documents")
    resized = resize_png(attach_media(docs, "doc_id", png_bytes), factor=2)
    return parse_png(resized).select(
        "doc_id", "valid", "width", "height", "px0", "px_sum"
    )


@register(
    "x5j_jpeg_features",
    oracle="""
    -- the fixture is a grid of FLAT 8x8 blocks with an all-ones quant
    -- table, so the lossy format round-trips losslessly and block (bx,by)
    -- of image i decodes to exactly (i*17 + by*29 + bx*43) % 256; the sum
    -- is 64x the block-value sum. Recovering it requires the full baseline
    -- entropy decode + dequant + IDCT (operators/jpeg.py).
    SELECT doc_id,
           true AS valid,
           CAST(8 * (doc_id % 3 + 2) AS BIGINT) AS width,
           CAST(8 * (doc_id % 2 + 1) AS BIGINT) AS height,
           CAST(1 AS BIGINT) AS n_components,
           CAST((doc_id * 17) % 256 AS BIGINT) AS px0,
           CAST(64 * list_sum(list_transform(
                    range(0, (doc_id % 3 + 2) * (doc_id % 2 + 1)),
                    k -> (doc_id * 17
                          + (k // (doc_id % 3 + 2)) * 29
                          + (k % (doc_id % 3 + 2)) * 43) % 256))
               AS BIGINT) AS px_sum
    FROM documents
    """,
)
def x5j_jpeg_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x5j — REAL baseline JPEG decode, lib-free: the
    dominant real-corpus image format joins the BMP/PNG/GIF/WAV family.
    Per-doc grayscale baseline JPEGs (standard Annex K Huffman tables,
    0xFF-stuffed entropy stream) are decoded end-to-end — marker walk,
    canonical Huffman decode, DC prediction, AC run-length, dequantize,
    IDCT — inside the typed Arrow row-map. Flat blocks + an all-ones
    quant table make the round-trip lossless, so the oracle predicts the
    decoded luma sum arithmetically from doc_id and a hash match proves
    the entropy/IDCT math. n_bytes excluded (compressed size is not
    SQL-predictable)."""
    from ..operators.jpeg import jpeg_bytes, parse_jpeg

    docs = load(spark, sf_dir, "documents")
    media = attach_media(docs, "doc_id", jpeg_bytes)
    return parse_jpeg(media).select(
        "doc_id", "valid", "width", "height", "n_components", "px0", "px_sum"
    )


# ---------------------------------------------------------------------------
# x5 family extension: compressed-audio + video-container metadata
# ---------------------------------------------------------------------------


@register(
    "x5k_mp3_metadata",
    oracle="""
    SELECT doc_id,
           true AS valid,
           CAST(doc_id % 5 + 2 AS BIGINT) AS n_frames,
           CAST(CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                ELSE 32000 END AS BIGINT) AS sample_rate,
           CAST(CASE doc_id % 14
                WHEN 0 THEN 32 WHEN 1 THEN 40 WHEN 2 THEN 48 WHEN 3 THEN 56
                WHEN 4 THEN 64 WHEN 5 THEN 80 WHEN 6 THEN 96 WHEN 7 THEN 112
                WHEN 8 THEN 128 WHEN 9 THEN 160 WHEN 10 THEN 192
                WHEN 11 THEN 224 WHEN 12 THEN 256 ELSE 320 END AS BIGINT)
               AS bitrate_kbps,
           CAST((doc_id % 5 + 2) * CASE doc_id % 3 WHEN 0 THEN 26122
                WHEN 1 THEN 24000 ELSE 36000 END AS BIGINT) AS duration_us,
           doc_id % 3 = 0 AS has_id3,
           false AS is_vbr
    FROM documents
    """,
)
def x5k_mp3_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x5k — compressed-audio metadata: real MPEG-1 Layer III streams
    (deterministic from doc_id: optional ID3v2 tag + 2–6 CBR frames across
    the full bitrate/sample-rate index tables) are walked frame-by-frame in
    the typed Arrow row-map (`map_rows`) — frame
    count, integer-microsecond duration, mean bitrate, VBR flag, ID3
    presence — with every output field predicted arithmetically by the
    oracle. The 'drop audio shorter than N seconds / partition by
    duration' primitive of a corpus pipeline, with no codec lib."""
    from ..operators.media_containers import mp3_bytes, parse_mp3
    from ..operators.multimodal import attach_media

    docs = load(spark, sf_dir, "documents")
    return parse_mp3(attach_media(docs, "doc_id", mp3_bytes))


@register(
    "x5l_mp4_metadata",
    oracle="""
    SELECT doc_id,
           true AS valid,
           'isom' AS brand,
           CAST(3 AS BIGINT) AS n_top_boxes,
           CAST(doc_id * 500 + 1000 AS BIGINT) AS duration_ms,
           CAST(doc_id % 2 + 1 AS BIGINT) AS n_tracks,
           'avc1' AS video_codec,
           CASE WHEN doc_id % 2 = 1 THEN 'mp4a' END AS audio_codec,
           CAST((doc_id * 3) % 50 + 8 AS BIGINT) AS mdat_bytes
    FROM documents
    """,
)
def x5l_mp4_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x5l — video-container metadata: real minimal ISO-BMFF files (ftyp +
    moov(mvhd, 1–2 trak with hdlr/stsd) + mdat, deterministic from doc_id)
    are box-walked in the typed Arrow row-map — brand,
    mvhd duration, track count, video/audio codec fourccs, mdat payload
    size — all oracle-predicted. The container-level profiling a video
    corpus needs (codec mix, duration distribution, track screening)
    without any decoder."""
    from ..operators.media_containers import mp4_bytes, parse_mp4
    from ..operators.multimodal import attach_media

    docs = load(spark, sf_dir, "documents")
    return parse_mp4(attach_media(docs, "doc_id", mp4_bytes))


# ---------------------------------------------------------------------------
# x5m: AVI (RIFF) video container -> MJPEG frame extraction -> JPEG decode
# ---------------------------------------------------------------------------


@register(
    "x5m_avi_frames",
    oracle="""
    -- frame j of doc i is jpeg_bytes(i + 6*j): the +6 stride keeps the
    -- fixture dims constant per file while the luma formula shifts per
    -- frame — the oracle predicts the decoded pixel sum through BOTH
    -- container layers (RIFF chunk walk, then entropy decode + IDCT)
    WITH f AS (
        SELECT doc_id, unnest(range(0, doc_id % 3 + 1)) AS frame_no
        FROM documents
    )
    SELECT doc_id,
           CAST(frame_no AS BIGINT) AS frame_no,
           true AS valid,
           CAST(8 * (doc_id % 3 + 2) AS BIGINT) AS width,
           CAST(8 * (doc_id % 2 + 1) AS BIGINT) AS height,
           CAST(64 * list_sum(list_transform(
                    range(0, (doc_id % 3 + 2) * (doc_id % 2 + 1)),
                    k -> ((doc_id + 6 * frame_no) * 17
                          + (k // (doc_id % 3 + 2)) * 29
                          + (k % (doc_id % 3 + 2)) * 43) % 256))
               AS BIGINT) AS px_sum
    FROM f
    """,
)
def x5m_avi_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x5m — the video ingestion chain, format inside format: each
    document id gets a REAL minimal AVI whose MJPEG stream
    carries real baseline JPEGs; the lib-free RIFF chunk walk
    (operators/media_containers.py:parse_avi_frames) explodes the movi
    '00dc' chunks into one row per frame, and the lib-free JPEG decoder
    (operators/jpeg.py — the same decoder x31 image dedup uses) consumes
    the frame payloads. Container walk -> frame demux -> entropy decode
    -> dequant -> IDCT, with the luma-sum oracle verifying the whole
    chain arithmetically — `sample_frames`' stub contract made real for
    an actual video container. Scale shape: both stages are typed Arrow
    row-maps, the frame explosion happens executor-side, and nothing
    shuffles before the decode."""
    from ..operators.jpeg import parse_jpeg
    from ..operators.media_containers import avi_bytes, parse_avi_frames
    from ..operators.multimodal import attach_media

    docs = load(spark, sf_dir, "documents")
    frames = parse_avi_frames(attach_media(docs, "doc_id", avi_bytes))
    # parse_jpeg carries a single id column; pack (doc_id, frame_no) into
    # one synthetic key (frame_no < 3 << 8) instead of re-joining the
    # decode output back to the frame rows — keeps the chain shuffle-free
    packed = frames.select(
        (F.col("doc_id") * 8 + F.col("frame_no")).alias("doc_id"),
        F.col("frame").alias("media"),
    )
    return parse_jpeg(packed).select(
        F.expr("doc_id DIV 8").alias("doc_id"),
        (F.col("doc_id") % 8).cast("bigint").alias("frame_no"),
        "valid", "width", "height", "px_sum",
    )


@register(
    "x5n_avi_metadata",
    oracle="""
    SELECT doc_id,
           true AS valid,
           CAST(1 AS BIGINT) AS n_streams,
           CAST(8 * (doc_id % 3 + 2) AS BIGINT) AS width,
           CAST(8 * (doc_id % 2 + 1) AS BIGINT) AS height,
           CAST(25 + 5 * (doc_id % 2) AS BIGINT) AS fps,
           CAST(doc_id % 3 + 1 AS BIGINT) AS declared_frames,
           CAST(doc_id % 3 + 1 AS BIGINT) AS n_frames,
           'MJPG' AS codec
    FROM documents
    """,
)
def x5n_avi_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x5n — AVI container profiling (the metadata half of x5m): stream
    count, avih dims/fps/declared frame count, strh video codec fourcc,
    and the ACTUAL movi frame-chunk count — declared-vs-actual is the
    integrity screen a video corpus runs before spending decode cycles.
    Every field oracle-predicted from the fixture arithmetic; single
    metadata pass, no frame payloads materialized."""
    from ..operators.media_containers import avi_bytes, parse_avi
    from ..operators.multimodal import attach_media

    docs = load(spark, sf_dir, "documents")
    return parse_avi(attach_media(docs, "doc_id", avi_bytes))


@register(
    "x5o_avi_frame_sample",
    oracle="""
    -- x5m's luma oracle restricted to the SAMPLED frames (even frame_no)
    WITH f AS (
        SELECT doc_id, unnest(range(0, doc_id % 3 + 1)) AS frame_no
        FROM documents
    )
    SELECT doc_id,
           CAST(frame_no AS BIGINT) AS frame_no,
           true AS valid,
           CAST(8 * (doc_id % 3 + 2) AS BIGINT) AS width,
           CAST(8 * (doc_id % 2 + 1) AS BIGINT) AS height,
           CAST(64 * list_sum(list_transform(
                    range(0, (doc_id % 3 + 2) * (doc_id % 2 + 1)),
                    k -> ((doc_id + 6 * frame_no) * 17
                          + (k // (doc_id % 3 + 2)) * 29
                          + (k % (doc_id % 3 + 2)) * 43) % 256))
               AS BIGINT) AS px_sum
    FROM f WHERE frame_no % 2 = 0
    """,
)
def x5o_avi_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x5o — frame SAMPLING over the real AVI chain (x5c's stub contract
    realized on real container bytes): walk
    the RIFF container, KEEP only the sampled keyframe positions (stride
    2 here), and decode ONLY those — the order that matters at 100 TB,
    because the expensive stage (JPEG entropy decode + IDCT) runs on the
    sampled subset, not the full stream; the container walk itself never
    materializes unsampled payloads past the filter. The luma oracle
    verifies the surviving frames decode bit-exactly (same chain as
    x5m). Scale shape: two typed Arrow row-map stages with a
    codegen'd filter between them, shuffle-free end to end."""
    from ..operators.jpeg import parse_jpeg
    from ..operators.media_containers import avi_bytes, parse_avi_frames
    from ..operators.multimodal import attach_media

    docs = load(spark, sf_dir, "documents")
    frames = parse_avi_frames(attach_media(docs, "doc_id", avi_bytes))
    sampled = frames.filter(F.col("frame_no") % 2 == 0)
    # pack (doc_id, frame_no) into one key — same shuffle-free idiom as
    # x5m (frame_no < 3 << 8)
    packed = sampled.select(
        (F.col("doc_id") * 8 + F.col("frame_no")).alias("doc_id"),
        F.col("frame").alias("media"),
    )
    return parse_jpeg(packed).select(
        F.expr("doc_id DIV 8").alias("doc_id"),
        (F.col("doc_id") % 8).cast("bigint").alias("frame_no"),
        "valid", "width", "height", "px_sum",
    )


_DHASH_SQL = """
        SELECT doc_id,
               CAST(list_sum(list_transform(range(0, 56), b ->
                   CASE WHEN
                       (doc_id*7
                        + ((b // 7) * (doc_id % 12 + 1) // 8)
                          * (((24 * (doc_id % 16 + 1) + 31) // 32) * 4)
                        + ((b % 7) * (doc_id % 16 + 1) // 8) * 3) % 256
                       <
                       (doc_id*7
                        + ((b // 7) * (doc_id % 12 + 1) // 8)
                          * (((24 * (doc_id % 16 + 1) + 31) // 32) * 4)
                        + (((b % 7) + 1) * (doc_id % 16 + 1) // 8) * 3) % 256
                   THEN CAST(1 AS BIGINT) << b ELSE 0 END))
                   AS BIGINT) AS dhash
        FROM documents
"""


@register(
    "x31_image_dhash",
    oracle=f"""
    SELECT doc_id, true AS valid, dhash FROM ({_DHASH_SQL})
    """,
)
def x31_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x31 — PERCEPTUAL image hashing from REAL decoded pixels: each doc's
    BMP payload is decoded and dHashed (8×8 grayscale grid → 56 gradient
    sign bits) inside the typed Arrow row-map. The oracle recomputes the
    hash arithmetically from doc_id — grid sampling, row stride, and
    comparison order — so a hash match proves the pixel-path dHash
    bit-exactly. The point at 100 TB: image identity becomes a 8-byte
    integer, so image-level dedup joins shuffle hashes, never pixels."""
    from ..operators.multimodal import image_dhash

    docs = load(spark, sf_dir, "documents")
    return image_dhash(attach_media(docs, "doc_id", bmp_bytes))


@register(
    "x31b_image_neardup_pairs",
    oracle=f"""
    WITH d AS ({_DHASH_SQL})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
    FROM d a JOIN d b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.dhash, b.dhash)) <= 6
    """,
)
def x31b_image_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x31b — IMAGE near-dup pairs end-to-end: real BMP decode → dHash →
    hamming-banded candidate join (8×7-bit bands, pigeonhole-exact recall
    for ≤6 flips) → exact bit_count verify. The multimodal twin of the
    SimHash text pipeline (x2c/x2f): the oracle brute-forces all pairs, the
    engine never does — banding keeps candidates O(collisions) at any
    corpus size."""
    from ..operators.multimodal import dhash_pairs, image_dhash

    docs = load(spark, sf_dir, "documents")
    media = attach_media(docs, "doc_id", bmp_bytes)
    dh = image_dhash(media).filter("valid").select("doc_id", "dhash")
    return dhash_pairs(dh)


@register(
    "x31c_image_dedup",
    oracle=f"""
    WITH RECURSIVE d AS ({_DHASH_SQL}),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM d a JOIN d b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.dhash, b.dhash)) <= 2
    ),
    nodes AS (
        SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL
        SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    walk(id, label) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.id
    ),
    labels AS (SELECT id, min(label) AS cluster_id FROM walk GROUP BY id)
    SELECT doc_id FROM documents
    WHERE doc_id NOT IN (SELECT id FROM labels WHERE id <> cluster_id)
    """,
)
def x31c_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x31c — the full IMAGE dedup POLICY, end to end (the multimodal twin
    of x2g's text policy): real BMP decode → dHash → hamming-banded pairs
    (≤2 flips — the near-identical threshold dedup wants) →
    connected-component clusters → keep the minimum doc_id per cluster
    plus every singleton. Proves the whole "drop visually duplicate
    images from a 100 TB media lake" chain on one oracle hash.

    Scale shape (PERF.md #54): pixels never shuffle — hashing
    is map-only; clustering runs at DISTINCT-HASH level
    (`dhash_dedup_keep`: CC nodes = distinct dHashes, measured 221 at
    50k images), so member PAIRS are never materialized — the pairwise
    form went quadratic on duplicate-group sizes (2.7B banded
    candidates at 50k images, >30 min; rep form 11 s). Everything
    doc-sized is a hash-agg or an equi-join.

    Note on the fixture: the synthetic images are tiny smooth byte
    gradients, so dHash collapses most of them into a few clusters (13 of
    5000 survive at sf0.01) — a property of the deterministic test data,
    not the operator; the oracle proves the clustering is exact either
    way."""
    from ..operators.multimodal import dhash_dedup_keep, image_dhash

    docs = load(spark, sf_dir, "documents")
    media = attach_media(docs, "doc_id", bmp_bytes)
    dh = image_dhash(media).filter("valid").select("doc_id", "dhash")
    keep_valid = dhash_dedup_keep(dh, max_hamming=2)
    dropped = dh.select("doc_id").join(keep_valid, "doc_id", "left_anti")
    return docs.join(dropped, "doc_id", "left_anti").select("doc_id")


@register(
    "x31d_jpeg_dhash",
    oracle="""
    -- dHash over the decoded JPEG luma plane: grid sample (gr,gc) lands in
    -- block (gc*wb//8, gr*hb//8) of the flat-block fixture, so every bit
    -- is arithmetic in doc_id (same construction as x31's BMP oracle)
    SELECT doc_id, true AS valid,
           CAST(list_sum(list_transform(range(0, 56), b ->
               CASE WHEN
                   (doc_id*17
                    + (((b // 7) * (doc_id % 2 + 1)) // 8) * 29
                    + (((b % 7) * (doc_id % 3 + 2)) // 8) * 43) % 256
                   <
                   (doc_id*17
                    + (((b // 7) * (doc_id % 2 + 1)) // 8) * 29
                    + ((((b % 7) + 1) * (doc_id % 3 + 2)) // 8) * 43) % 256
               THEN CAST(1 AS BIGINT) << b ELSE 0 END))
               AS BIGINT) AS dhash
    FROM documents
    """,
)
def x31d_jpeg_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x31d — the x31 perceptual-hash path over JPEG payloads: the SAME
    `image_dhash` operator format-sniffs the SOI magic, runs the full
    baseline decode, and samples the luma plane on the same 8x8 grid and
    bit layout as the BMP path — so the whole downstream image-dedup chain
    (hamming-banded pairs -> clusters -> keep-one, x31b/x31c) is
    format-agnostic. The oracle recomputes every gradient-sign bit
    arithmetically from doc_id through the flat-block fixture."""
    from ..operators.jpeg import jpeg_bytes
    from ..operators.multimodal import image_dhash

    docs = load(spark, sf_dir, "documents")
    return image_dhash(attach_media(docs, "doc_id", jpeg_bytes))


# ------------------------------------ x49 WebDataset TAR shard reading

_TAR_MEMBER_CTE = """
    m AS (
        SELECT doc_id,
               unnest(range(0, doc_id % 3 + 1)) AS j
        FROM documents
    ),
    feat AS (
        SELECT doc_id,
               printf('%08d', doc_id) || '.' ||
                   CASE j WHEN 0 THEN 'txt' WHEN 1 THEN 'jpg'
                          ELSE 'cls' END AS member_name,
               CAST((doc_id * 7 + j * 13) % 200 + 1 AS BIGINT)
                   AS member_bytes,
               CAST(list_sum(list_transform(
                        range(0, (doc_id * 7 + j * 13) % 200 + 1),
                        k -> (doc_id * 5 + j * 17 + k) % 256))
                    AS BIGINT) AS payload_sum
        FROM m
    )
"""


@register(
    "x49_tar_members",
    oracle=f"""
    WITH {_TAR_MEMBER_CTE}
    SELECT doc_id, member_name, member_bytes, payload_sum,
           true AS valid
    FROM feat
    """,
)
def x49_tar_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x49 — WebDataset-style TAR shard reading: each document id gets a
    REAL generated ustar archive (members share a basename, differ by
    extension — the WebDataset sample convention); the lib-free member
    walk (header checksums, octal sizes, 512-block stepping) emits one
    row per member and the oracle predicts every member's name, size,
    and payload byte-sum arithmetically
    (operators/multimodal.py:parse_tar_members)."""
    from ..operators.multimodal import (
        attach_media,
        parse_tar_members,
        tar_bytes,
    )

    docs = load(spark, sf_dir, "documents")
    return parse_tar_members(attach_media(docs, "doc_id", tar_bytes))


@register(
    "x49b_wds_samples",
    oracle=f"""
    WITH {_TAR_MEMBER_CTE}
    SELECT doc_id,
           count(*) AS n_members,
           CAST(sum(member_bytes) AS BIGINT) AS total_bytes,
           CAST(max(CASE WHEN member_name LIKE '%.txt'
                         THEN payload_sum END) AS BIGINT) AS txt_sum,
           CAST(max(CASE WHEN member_name LIKE '%.jpg'
                         THEN payload_sum END) AS BIGINT) AS jpg_sum
    FROM feat GROUP BY doc_id
    """,
)
def x49b_wds_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x49b — WebDataset SAMPLE assembly: members re-group by their
    shared basename into one training-sample row with per-modality
    columns (the tar-member rows pivot by extension) — the read side of
    the WebDataset contract: shard -> members -> (text, image, label)
    tuples. One groupBy on the member rows; at scale the shard scan
    parallelizes by file and no shuffle precedes this aggregation."""
    from ..operators.multimodal import (
        attach_media,
        parse_tar_members,
        tar_bytes,
    )

    docs = load(spark, sf_dir, "documents")
    members = parse_tar_members(attach_media(docs, "doc_id", tar_bytes))
    return members.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("member_bytes").alias("total_bytes"),
        F.max(
            F.when(F.col("member_name").endswith(".txt"), F.col("payload_sum"))
        ).alias("txt_sum"),
        F.max(
            F.when(F.col("member_name").endswith(".jpg"), F.col("payload_sum"))
        ).alias("jpg_sum"),
    )


# ------------------------- x49c TAR -> JPEG decode chain (WebDataset)


@register(
    "x49c_tar_jpeg_chain",
    oracle="""
    -- docs with a .jpg member (id % 3 != 0); the member body is a REAL
    -- baseline JPEG whose decoded luma plane the x5j arithmetic predicts
    SELECT doc_id,
           true AS valid,
           CAST(8 * (doc_id % 3 + 2) AS BIGINT) AS width,
           CAST(8 * (doc_id % 2 + 1) AS BIGINT) AS height,
           CAST(64 * list_sum(list_transform(
                    range(0, (doc_id % 3 + 2) * (doc_id % 2 + 1)),
                    k -> (doc_id * 17
                          + (k // (doc_id % 3 + 2)) * 29
                          + (k % (doc_id % 3 + 2)) * 43) % 256))
               AS BIGINT) AS px_sum
    FROM documents
    WHERE doc_id % 3 <> 0
    """,
)
def x49c_tar_jpeg_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x49c — the full WebDataset read chain, format inside format: a
    generated ustar shard per document carries a REAL baseline JPEG as
    its .jpg member; the lib-free tar walk extracts the member BYTES
    (emit_payload), and the lib-free JPEG decoder consumes them —
    shard -> member -> entropy decode -> dequant -> IDCT, with the x5j
    arithmetic oracle verifying the decoded luma sum end-to-end. This is
    the exact data path of multimodal pretraining ingestion."""
    from functools import partial

    from ..operators.jpeg import parse_jpeg
    from ..operators.multimodal import (
        attach_media,
        parse_tar_members,
        tar_bytes,
    )

    docs = load(spark, sf_dir, "documents")
    members = parse_tar_members(
        attach_media(docs, "doc_id", partial(tar_bytes, real_jpeg=True)),
        emit_payload=True,
    )
    jpgs = members.filter(
        F.col("valid") & F.col("member_name").endswith(".jpg")
    ).select("doc_id", F.col("payload").alias("media"))
    return parse_jpeg(jpgs).select(
        "doc_id", "valid", "width", "height", "px_sum"
    )
