"""The MinHash signature kernel (operators/dedup.py:minhash_signatures)
against a pure-Python reference: split on a single space, 3-word shingles
(a shorter text is its own shingle), hashlib's md5 hexdigest per shingle,
the j-th hash is that string rotated left by j chars, and each position
takes the minimum over the document's shingles."""

from __future__ import annotations

import random
from hashlib import md5

import numpy as np
import pytest

from data_lakes_tp2_student_spark.operators.dedup import (
    SHINGLE_W,
    minhash_signatures,
    rotated_minima,
)

TEXTS = [
    None,
    "",
    " ",
    "   ",
    "one",
    "one two",
    "one two three",
    "a  b",
    "a   b c",
    "  leading spaces here",
    "trailing spaces here  ",
    " both ends ",
    "tab\tseparated\twords and spaces",
    "日本語 テスト 文書 です",
    "emoji 😀 in 🎉 text 🚀 here",
    "same same same same same same",
    "a b c a b c a b c",
    ("repeat " * 40).strip(),
    " ".join(f"w{i % 997}" for i in range(5000)),
]


def reference(text: str, num_hashes: int) -> list[str]:
    words = text.split(" ")
    if len(words) < SHINGLE_W:
        shingles = [text]
    else:
        shingles = [
            " ".join(words[i : i + SHINGLE_W])
            for i in range(len(words) - SHINGLE_W + 1)
        ]
    hexes = [md5(s.encode("utf-8")).hexdigest() for s in shingles]
    return [min(h[j:] + h[:j] for h in hexes) for j in range(num_hashes)]


def _signatures(spark, texts, num_hashes):
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    rows = minhash_signatures(df, "doc_id", "text", num_hashes=num_hashes).collect()
    return {r.doc_id: r.sig for r in rows}


@pytest.mark.parametrize("num_hashes", [16, 32])
def test_kernel_matches_reference_on_edge_texts(spark, num_hashes):
    got = _signatures(spark, TEXTS, num_hashes)
    want = {
        i: reference(t, num_hashes) for i, t in enumerate(TEXTS) if t is not None
    }
    assert got == want  # a null text has no row


def test_kernel_matches_reference_across_small_batches(spark):
    """Two documents per Arrow batch: every batch hashes its own distinct
    shingles, and documents land in several batches per task."""
    rng = random.Random(7)
    vocab = ["a", "b", "c", "d", "", "é", "日本"]
    texts = TEXTS + [
        " ".join(rng.choices(vocab, k=rng.randint(1, 12))) for _ in range(40)
    ]
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        got = _signatures(spark, texts, 16)
    finally:
        spark.conf.set(key, before)
    assert got == {i: reference(t, 16) for i, t in enumerate(texts) if t is not None}


def test_repeated_id_gets_one_signature_per_row(spark):
    """The kernel works per row, not per id (the oracle groups by id, so
    callers keep ids unique): a repeated id keeps each row's signature."""
    texts = ["one two three four", "five six seven"]
    df = spark.createDataFrame([(1, t) for t in texts], "doc_id long, text string")
    rows = minhash_signatures(df, "doc_id", "text").collect()
    assert sorted(r.sig for r in rows) == sorted(reference(t, 16) for t in texts)
    assert {r.doc_id for r in rows} == {1}


def test_num_hashes_out_of_range_is_rejected(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="num_hashes"):
        minhash_signatures(df, "doc_id", "text", num_hashes=33)


def _u64(values):
    return np.array(values, dtype=np.uint64)


def _reference_minima(hi, lo, starts, num_hashes):
    mask = (1 << 128) - 1
    ends = list(starts[1:]) + [len(hi)]
    out = []
    for a, b in zip(starts, ends):
        vals = [(int(h) << 64) | int(l) for h, l in zip(hi[a:b], lo[a:b])]
        out.append(
            [
                min(((v << 4 * j) | (v >> (128 - 4 * j))) & mask for v in vals)
                for j in range(num_hashes)
            ]
        )
    return out


def _as_ints(minima):
    return [
        [(int(h) << 64) | int(l) for h, l in doc] for doc in minima.astype(np.uint64)
    ]


def test_rotated_minima_breaks_high_word_ties_on_the_low_word():
    # group 0: both rows tie on the high word; the smaller low word comes
    # second, so taking the first row of the minimal high word is wrong.
    # group 1: the smallest low word sits on a row whose high word is not
    # the minimum, so a minimum over low words alone is wrong.
    hi = _u64([7, 7, 1, 2])
    lo = _u64([9, 3, 9, 3])
    starts = np.array([0, 2])
    got = rotated_minima(hi, lo, starts, 1)
    assert _as_ints(got) == [[(7 << 64) | 3], [(1 << 64) | 9]]


def test_rotated_minima_ties_after_rotation():
    # rotation 1 moves the low word's top nibble into the high word: the
    # two rows tie on the rotated high word (0x10) and differ below it
    hi = _u64([1, 1])
    lo = _u64([0x9, 0x3])
    got = rotated_minima(hi, lo, np.array([0]), 2)
    assert _as_ints(got) == [[(1 << 64) | 0x3, (0x10 << 64) | 0x30]]


def test_rotated_minima_matches_big_integer_reference():
    rng = np.random.default_rng(3)
    n = 200
    # few distinct high words, so ties on the high word are common
    hi = rng.integers(0, 4, n, dtype=np.uint64) << np.uint64(60)
    lo = rng.integers(0, 2**63, n, dtype=np.uint64) * np.uint64(2)
    starts = np.array([0, 1, 5, 50, 120, 199])
    got = rotated_minima(hi, lo, starts, 32)
    assert _as_ints(got) == _reference_minima(hi, lo, starts, 32)
