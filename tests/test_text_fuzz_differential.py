"""Differential fuzz: adversarial documents tables through the text-query
surface, Spark vs DuckDB oracle.

The fixed driver testdata is well-behaved ASCII; this harness swaps in a
generated `documents` table full of the inputs real corpora contain —
empty strings, runs of spaces, tabs, quotes, unicode (combining accents,
CJK, astral-plane emoji), massive repetition, exact duplicates, shared
prefixes, doc-in-doc containment — and asserts every text query STILL
hash-matches its oracle. Each engine pitfall this guards is real:
Java regex works on UTF-16, RE2 on UTF-8; split/length semantics on
empty strings differ across engines; md5 must see identical UTF-8 bytes.

Deterministic seeds — no flaky CI.
"""

from __future__ import annotations

import os
import random

import pytest

import data_lakes_tp2_student_spark.catalog  # noqa: F401
from data_lakes_tp2_student_spark.registry import TABLES

from .conftest import SF_SMOKE
from .oracle import compare_query

# text-surface queries whose oracles touch only `documents`
FUZZ_QUERIES = [
    "x1_exact_dedup",
    "x4_lang_id",
    "x4_quality_score",
    "x4_token_counts",
    "x2_minhash_pairs",
    "x2b_jaccard_verify",
    "x2e_dup_clusters",
    "x2g_neardup_dedup",
    "x2c_simhash",
    "x2f_simhash_pairs",
    "x32_substring_dedup",
    "x35_weighted_sample",
    "x43_stratified_weighted_sample",
    "x37_bloom_decontaminate",
    "x44_containment",
    "x47_sparse_cosine",
    "j4_udtf_chunks",
]

_SPECIALS = [
    "",
    " ",
    "   ",
    "one",
    "a b",
    "tab\tseparated\ttokens",
    "trailing space ",
    " leading space",
    'quotes "inside" the, text',
    "ünïcødé tëst çédille",
    "naïve résumé combining",  # combining accents
    "日本語 テスト 文書 です",
    "emoji 😀 in 🎉 text 🚀 here",
    "same same same same same same same same",
    "x" * 400,
    ("repeat " * 60).strip(),
]

_WORDS = [
    "the", "a", "of", "and", "to", "le", "la", "de", "der", "die", "das",
    "data", "lake", "spark", "query", "engine", "token", "corpus",
    "naïve", "héllo", "wörld", "café",
]


def _gen_rows(seed: int, n: int = 120):
    rng = random.Random(seed)
    texts = list(_SPECIALS)
    while len(texts) < n - 20:
        texts.append(" ".join(rng.choices(_WORDS, k=rng.randint(1, 40))))
    # exact duplicates
    texts += texts[4:9]
    # shared-prefix near-duplicates
    base = " ".join(rng.choices(_WORDS, k=30))
    texts += [base + " tail one", base + " tail two"]
    # doc-in-doc containment (short embedded in long)
    inner = " ".join(rng.choices(_WORDS, k=8))
    texts += [inner, "prefix words " + inner + " suffix words here"]
    langs = ["en", "fr", "de"]
    sources = ["src0", "src1", "src2", "src3"]
    rows = [
        (i, t, langs[i % 3], sources[i % 4], len(t))
        for i, t in enumerate(texts)
    ]
    # NULL text (pre-dropna ingest reality); found the j4 UDTF emitting a
    # phantom chunk for NULL while the SQL oracle emits none
    rows.append((len(rows), None, "en", "src1", 0))
    return rows


@pytest.fixture(scope="module")
def fuzz_sf_dir(spark, tmp_path_factory):
    """A testdata dir whose `documents` is adversarial; every other table
    symlinks the smoke fixture so the oracle harness can register all
    views."""
    d = tmp_path_factory.mktemp("fuzz_sf")
    for t in TABLES:
        if t != "documents":
            os.symlink(f"{SF_SMOKE}/{t}.parquet", str(d / f"{t}.parquet"))
    rows = _gen_rows(seed=1)
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),  # includes a NULL
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "source": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array([r[4] for r in rows], pa.int64()),
        }
    )
    # single parquet FILE (not a Spark part-dir): both engines read the
    # same path, exactly like the driver's testdata layout
    pq.write_table(table, str(d / "documents.parquet"))
    return str(d)


@pytest.mark.parametrize("name", FUZZ_QUERIES)
def test_text_query_matches_oracle_on_adversarial_corpus(
    spark, fuzz_sf_dir, name
):
    compare_query(spark, name, fuzz_sf_dir)


def test_windowed_fingerprints_width_one(spark):
    """review r6: width=1 raised IndexError (empty leads list); it must
    degenerate to one md5 per word."""
    from data_lakes_tp2_student_spark.operators.textops import (
        windowed_fingerprints,
    )

    df = spark.createDataFrame([(1, "a b c"), (2, "solo")], "doc_id long, text string")
    got = windowed_fingerprints(df, "doc_id", "text", width=1)
    rows = got.collect()
    assert len(rows) == 4  # one fingerprint per word
    assert len({(r.doc_id, r.pos) for r in rows}) == 4
