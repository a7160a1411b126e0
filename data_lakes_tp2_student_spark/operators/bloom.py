"""Bloom-filter decontamination (SURVEY.md §2 X — corpus curation).

The broadcast shingle-set decontamination (`catalog/near_dup.py`, x22)
ships every benchmark shingle to every executor — fine for one benchmark,
unbounded as eval suites grow. The 100 TB-scale alternative promised there
is a Bloom filter: a FIXED-size bitmap (m bits, k hashes) that answers
"possibly contaminated" with a bounded false-positive rate, broadcast once
regardless of benchmark size.

This is a from-scratch DataFrame-native Bloom filter, not
`DataFrameStatFunctions.bloomFilter` (driver-side sketch object, opaque
hashing) — positions come from md5 windows so the exact same bitmap is
reproducible in any engine, making the filter itself SQL-oracle-able:

- build: shingle → k=2 positions (two 48-bit md5 windows mod m) →
  (word, bit) → `bit_or` aggregate over 32-bit words → ≤ m/32 rows.
- probe: candidate shingle → same k positions → equi-join on word against
  the bitmap → shingle hits iff ALL k bits are set.

Bits pack 32-per-BIGINT so no shift touches the sign bit in either engine
(DuckDB's checked `<<` raises on BIGINT overflow at shift 63).

Scale shape: the bitmap build is one partial-aggregated `bit_or` groupBy
(≤ m/32 groups); the probe joins against a broadcast bitmap of fixed size
(m=2^16 → 8 KiB equivalent) — no shuffle of the corpus, no growth with
benchmark count. False positives only ever REMOVE extra training docs
(conservative for decontamination); the oracle replicates the same
arithmetic, false positives included, so results still hash-match.

The reference has no notion of held-out decontamination (its splits are
random over one dataset, src/preprocess_to_staging.py:144-152); Layer-B
extension surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

M_BITS = 1 << 16  # bitmap size (bits)
WORD = 32  # bits packed per bitmap word (sign-safe shifts everywhere)


def _positions(shingle: Column) -> Column:
    """Array of k=2 bit positions in [0, M_BITS): two independent 48-bit
    md5 windows mod m. 48 bits >> 16 bits keeps the mod bias negligible."""
    h = F.md5(shingle)
    return F.array(
        F.conv(F.substring(h, 1, 12), 16, 10).cast("bigint") % M_BITS,
        F.conv(F.substring(h, 13, 12), 16, 10).cast("bigint") % M_BITS,
    )


def bloom_build(shingles: DataFrame, shingle_col: str = "s") -> DataFrame:
    """Aggregate a shingle set into a Bloom bitmap: (word, mask) rows,
    one per 32-bit word with any bit set."""
    pos = shingles.select(
        F.explode(_positions(F.col(shingle_col))).alias("_pos")
    )
    return (
        pos.select(
            F.expr(f"_pos div {WORD}").alias("word"),
            F.expr(f"shiftleft(1L, CAST(_pos % {WORD} AS INT))").alias("_bit"),
        )
        .groupBy("word")
        .agg(F.bit_or("_bit").alias("mask"))
    )


def bloom_probe(
    candidates: DataFrame,
    bitmap: DataFrame,
    id_col: str,
    shingle_col: str = "s",
) -> DataFrame:
    """Per-id contamination summary against a Bloom bitmap.

    Each (id, shingle) expands to its k positions; a LEFT join against the
    broadcast bitmap (missing word = empty mask) tests each bit; a shingle
    hits iff every position's bit is set. Output: one row per id —
    (id, n_shingles, n_bloom_hits, contaminated)."""
    pos = candidates.select(
        id_col,
        F.col(shingle_col).alias("_s"),
        F.explode(_positions(F.col(shingle_col))).alias("_pos"),
    ).select(
        id_col,
        "_s",
        F.expr(f"_pos div {WORD}").alias("word"),
        (F.col("_pos") % WORD).cast("int").alias("_bit"),
    )
    hit = (
        pos.join(F.broadcast(bitmap), "word", "left")
        .withColumn(
            "_hit", F.expr("shiftright(coalesce(mask, 0L), _bit) & 1L")
        )
        .groupBy(id_col, "_s")
        .agg(F.min("_hit").alias("_all_set"))
    )
    return hit.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum("_all_set").alias("n_bloom_hits"),
        (F.sum("_all_set") > 0).alias("contaminated"),
    )
