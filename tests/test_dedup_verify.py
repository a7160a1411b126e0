"""Pair-verify paths of operators/dedup.py: the semi-join cut taken above
SPARK_GRAFT_VERIFY_CUT_MIN_BYTES must give exactly the rows of the plain
(skip) path, and an uncached `shingles_are_distinct=True` table is
persisted with a warning instead of failing."""

from __future__ import annotations

import logging

import pytest

from data_lakes_tp2_student_spark.functions.compute import eager
from data_lakes_tp2_student_spark.operators.dedup import (
    containment_verify,
    distinct_shingles,
    jaccard_verify,
)

# in-memory frames have no size statistics and read as 2^63 - 1 bytes,
# so only a threshold above that forces the skip path
_SKIP = str(1 << 63)

TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox jumps over a lazy cat today",
    "the quick brown fox",
    "completely unrelated words about spark engines here",
    "",
    "a  b",
    "one",
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        list(enumerate(TEXTS)), "doc_id bigint, text string"
    )


@pytest.fixture(scope="module")
def pairs(spark):
    # duplicates, containment, partial overlap, zero overlap; ids 6 and 7
    # are in no pair, so the cut drops them
    return spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (2, 3), (0, 4), (4, 5)],
        "id_a bigint, id_b bigint",
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("verify", [jaccard_verify, containment_verify])
@pytest.mark.parametrize("shared", [False, True])
def test_verify_cut_path_matches_skip_path(
    spark, docs, pairs, monkeypatch, verify, shared
):
    def run(threshold):
        monkeypatch.setenv("SPARK_GRAFT_VERIFY_CUT_MIN_BYTES", threshold)
        spark.catalog.clearCache()
        sh = eager(distinct_shingles(docs, "doc_id", "text")) if shared else None
        return _rows(
            verify(pairs, docs, "doc_id", "text", shingles=sh,
                   shingles_are_distinct=shared)
        )

    cut, skip = run("0"), run(_SKIP)
    assert cut == skip
    assert len(cut) == 6


def test_uncached_distinct_shingles_warn_and_persist(spark, docs, pairs, caplog):
    spark.catalog.clearCache()
    want = _rows(
        jaccard_verify(
            pairs, docs, "doc_id", "text",
            shingles=eager(distinct_shingles(docs, "doc_id", "text")),
            shingles_are_distinct=True,
        )
    )
    spark.catalog.clearCache()
    sh = distinct_shingles(docs, "doc_id", "text")
    assert not sh.is_cached
    with caplog.at_level(logging.WARNING, logger="spark_graft"):
        got = _rows(
            jaccard_verify(
                pairs, docs, "doc_id", "text", shingles=sh,
                shingles_are_distinct=True,
            )
        )
    assert got == want
    assert sh.is_cached
    assert any(
        r.name == "spark_graft" and "uncached" in r.getMessage()
        for r in caplog.records
    )
