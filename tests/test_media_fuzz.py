"""Decoder fuzz: the five lib-free media decoders must NEVER throw on
arbitrary mutations of valid payloads — the 'valid=false row, not a dead
Arrow batch' contract, exercised beyond the hand-picked corrupt cases.

Deterministic seeds (no flaky CI); mutations cover bit flips anywhere
(headers, tables, entropy data), truncation at every region, duplication,
and random splices. The Spark-side parse_* wrappers additionally catch —
this tests the DECODE layer directly so a raising path can't hide behind
the wrapper."""

from __future__ import annotations

import random

import pytest

from data_lakes_tp2_student_spark.operators.jpeg import _jpeg_decode, jpeg_bytes
from data_lakes_tp2_student_spark.operators.multimodal import (
    _png_decode,
    bmp_bytes,
    gif_bytes,
    png_bytes,
)

N_MUTATIONS = 120


def _mutations(payload: bytes, seed: int):
    rng = random.Random(seed)
    n = len(payload)
    for _ in range(N_MUTATIONS):
        kind = rng.randrange(4)
        b = bytearray(payload)
        if kind == 0:  # flip 1-4 bytes anywhere
            for _ in range(rng.randint(1, 4)):
                b[rng.randrange(n)] ^= rng.randint(1, 255)
            yield bytes(b)
        elif kind == 1:  # truncate anywhere
            yield bytes(b[: rng.randrange(n)])
        elif kind == 2:  # splice a random chunk over a random offset
            chunk = bytes(rng.randrange(256) for _ in range(rng.randint(1, 16)))
            off = rng.randrange(n)
            yield bytes(b[:off] + chunk + b[off + len(chunk):])
        else:  # duplicate a slice (grows the payload)
            a, z = sorted(rng.randrange(n) for _ in range(2))
            yield bytes(b[:z] + b[a:z] + b[z:])


def test_jpeg_decode_never_throws_on_fuzz():
    for i in (0, 7):
        for mutant in _mutations(jpeg_bytes(i), seed=100 + i):
            _jpeg_decode(mutant)  # any return is fine; a raise is the bug


def test_png_decode_never_throws_on_fuzz():
    for i in (0, 7):
        for mutant in _mutations(png_bytes(i), seed=200 + i):
            _png_decode(mutant)


def test_gif_bmp_parse_never_throw_on_fuzz(spark):
    """GIF/BMP decode closures live inside the per-row map functions — fuzz
    them through the DataFrame surface in two batches (one per format),
    asserting every mutant lands as a row."""
    from data_lakes_tp2_student_spark.operators.multimodal import (
        parse_bmp,
        parse_gif,
    )

    gif_rows = [
        (k, m) for k, m in enumerate(_mutations(gif_bytes(5), seed=300))
    ]
    bmp_rows = [
        (k, m) for k, m in enumerate(_mutations(bmp_bytes(5), seed=400))
    ]
    gdf = spark.createDataFrame(gif_rows, "doc_id long, media binary")
    bdf = spark.createDataFrame(bmp_rows, "doc_id long, media binary")
    assert parse_gif(gdf).count() == len(gif_rows)
    assert parse_bmp(bdf).count() == len(bmp_rows)


@pytest.mark.parametrize("payload", [b"", b"\x00", b"\xff" * 64])
def test_degenerate_payloads(payload):
    assert _jpeg_decode(payload) is None or True
    assert _png_decode(payload) is None or True


def test_wav_parse_and_stats_never_throw_on_fuzz(spark):
    """WAV chunk-walk + PCM sample decode under the same mutation battery."""
    from data_lakes_tp2_student_spark.operators.multimodal import (
        audio_sample_stats,
        parse_wav,
        wav_bytes,
    )

    rows = [(k, m) for k, m in enumerate(_mutations(wav_bytes(13), seed=500))]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    assert parse_wav(df).count() == len(rows)
    assert audio_sample_stats(df).count() == len(rows)


def test_mp3_walk_never_throws_on_fuzz():
    from data_lakes_tp2_student_spark.operators.media_containers import (
        _mp3_walk,
        mp3_bytes,
    )

    for i in (0, 7):
        for mutant in _mutations(mp3_bytes(i), seed=500 + i):
            _mp3_walk(mutant)  # any verdict is fine; a raise is the bug


def test_mp4_walk_never_throws_on_fuzz():
    from data_lakes_tp2_student_spark.operators.media_containers import (
        _mp4_walk,
        mp4_bytes,
    )

    for i in (0, 7):
        for mutant in _mutations(mp4_bytes(i), seed=600 + i):
            _mp4_walk(mutant)


def test_avi_walk_never_throws_on_fuzz():
    """Corruption matrix for the RIFF/AVI walk (round 7): bit flips,
    truncation, splices, duplication over both a 1-frame and a 3-frame
    fixture, with and without frame extraction."""
    from data_lakes_tp2_student_spark.operators.media_containers import (
        _avi_walk,
        avi_bytes,
    )

    for i in (0, 8):
        for mutant in _mutations(avi_bytes(i), seed=700 + i):
            _avi_walk(mutant)  # metadata walk
            _avi_walk(mutant, want_frames=True)  # frame demux walk


def test_avi_to_jpeg_chain_never_throws_on_fuzz(spark):
    """The full x5m chain under mutation through the DataFrame surface:
    every mutant must land as rows (possibly zero frames), never a dead
    Arrow batch."""
    from data_lakes_tp2_student_spark.operators.jpeg import parse_jpeg
    from data_lakes_tp2_student_spark.operators.media_containers import (
        avi_bytes,
        parse_avi_frames,
    )
    from pyspark.sql import functions as F

    rows = [(k, m) for k, m in enumerate(_mutations(avi_bytes(5), seed=800))]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    frames = parse_avi_frames(df)
    decoded = parse_jpeg(
        frames.select("doc_id", F.col("frame").alias("media"))
    )
    assert decoded.count() == frames.count()  # one verdict row per frame
