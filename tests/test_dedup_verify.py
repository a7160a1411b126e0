"""Pair-verify paths of operators/dedup.py: `jaccard_verify` and
`containment_verify` against a pure-Python shingle-set reference, their
rows unchanged when the documents are cut to the ids the pairs name, and a
ceiling on the Spark jobs that building x2b and x44 launches."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from data_lakes_tp2_student_spark.catalog import REGISTRY
from data_lakes_tp2_student_spark.functions.compute import eager
from data_lakes_tp2_student_spark.operators.dedup import (
    SHINGLE_W,
    containment_verify,
    jaccard_verify,
)

from .conftest import SF_SMOKE

TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox jumps over a lazy cat today",
    "the quick brown fox",
    "completely unrelated words about spark engines here",
    "",
    "a  b",
    "one",
    "la la la la la la",
]

# duplicates, containment, partial overlap, zero overlap, empty and
# short texts, repeated shingles; id 99 is not in `docs`
PAIRS = [(0, 1), (0, 2), (0, 3), (2, 3), (0, 4), (4, 5), (5, 6), (6, 7),
         (7, 8), (3, 8), (0, 99)]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        list(enumerate(TEXTS)), "doc_id bigint, text string"
    )


@pytest.fixture(scope="module")
def pairs(spark):
    return spark.createDataFrame(PAIRS, "id_a bigint, id_b bigint")


def _shingle_set(text: str) -> set[str]:
    words = text.split(" ")
    if len(words) < SHINGLE_W:
        return {" ".join(words)}
    return {
        " ".join(words[i:i + SHINGLE_W])
        for i in range(len(words) - SHINGLE_W + 1)
    }


def _reference(verify) -> list[tuple]:
    rows = []
    for a, b in PAIRS:
        if a >= len(TEXTS) or b >= len(TEXTS):
            continue
        sa, sb = _shingle_set(TEXTS[a]), _shingle_set(TEXTS[b])
        inter = len(sa & sb)
        if verify is jaccard_verify:
            rows.append((a, b, round(inter / len(sa | sb), 6)))
        else:
            ca, cb = round(inter / len(sa), 6), round(inter / len(sb), 6)
            relation = (
                "duplicate" if ca >= 0.9 and cb >= 0.9
                else "contained" if ca >= 0.9 or cb >= 0.9
                else "overlap"
            )
            rows.append((a, b, inter, ca, cb, relation))
    return sorted(rows)


@pytest.mark.parametrize("verify", [jaccard_verify, containment_verify])
def test_verify_matches_python_reference(spark, docs, pairs, verify):
    got = sorted(tuple(r) for r in verify(pairs, docs, "doc_id", "text").collect())
    assert got == _reference(verify)
    assert len(got) == len(PAIRS) - 1  # the pair naming id 99 is dropped


@pytest.mark.parametrize("verify", [jaccard_verify, containment_verify])
@pytest.mark.parametrize("shared", [False, True])
def test_verify_cut_path_matches_skip_path(spark, docs, verify, shared):
    """Cutting the documents to the ids the pairs name (the left-semi cut
    the verify once took above a size threshold) gives exactly the rows of
    the uncut documents, over a plain or a cached (`shared`) documents
    frame: each pair reads only its own two texts."""
    # the first six pairs leave ids 6, 7 and 8 in no pair, so the cut drops them
    pairs = spark.createDataFrame(PAIRS[:6], "id_a bigint, id_b bigint")
    src = eager(docs.select("*")) if shared else docs
    try:
        ids = pairs.select(F.col("id_a").alias("doc_id")).union(
            pairs.select(F.col("id_b").alias("doc_id"))
        )
        cut_docs = src.join(ids.distinct(), "doc_id", "left_semi")
        assert cut_docs.count() == 6

        def rows(d):
            got = verify(pairs, d, "doc_id", "text").collect()
            return sorted(tuple(r) for r in got)

        cut, skip = rows(cut_docs), rows(src)
    finally:
        if shared:
            src.unpersist()
    assert cut == skip
    assert len(cut) == 6


@pytest.mark.parametrize("name", ["x2b_jaccard_verify", "x44_containment"])
def test_verify_query_build_jobs(spark, name):
    """Building x2b or x44 (`Query.fn`, before any action) launches only the
    jobs that fill the banded signature cache of the LSH self-join: no
    shingle table and no candidate-pair table is materialized."""
    fn = REGISTRY[name].fn
    fn(spark, SF_SMOKE)  # warm: the session's one-off first-scan jobs
    spark.catalog.clearCache()
    sc = spark.sparkContext
    group = f"verify-build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, f"build {name}, no action")
    try:
        fn(spark, SF_SMOKE)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        spark.catalog.clearCache()
    assert len(jobs) <= 4, jobs  # 13 with the cached shingle table
