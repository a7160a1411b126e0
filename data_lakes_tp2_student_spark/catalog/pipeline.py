"""SURVEY.md §2 reference-pipeline operators (c1, d9, e1, e2, j1) exercised
on `documents` (`source` ≈ family_accession, `doc_id` ≈ pk): label mapping
and its broadcast application, the stratified split, class weights and the
ESM2-style tokenizer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.label import label_encode, label_mapping
from ..operators.split import split_counts, stratified_split
from ..operators.tokenize import tokenize_chars, tokenize_esm2
from ..operators.weights import class_weights
from ..registry import load, register


# Shared CASE expression for the oracle (DuckDB SQL) — mirrors split.py.
_SPLIT_ORACLE = """
    WITH t AS (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS r,
               count(*) OVER (PARTITION BY source) AS n
        FROM documents
    ),
    sized AS (
        SELECT doc_id, source, r, n,
               CAST(floor(n * CAST(0.33 AS DOUBLE)) AS BIGINT) AS num_test
        FROM t
    ),
    assigned AS (
        SELECT doc_id, source,
               CASE
                 WHEN n = 1 THEN 'test'
                 WHEN n = 2 THEN (CASE WHEN r = 1 THEN 'dev' ELSE 'test' END)
                 WHEN n = 3 THEN (CASE WHEN r = 1 THEN 'train'
                                       WHEN r = 2 THEN 'dev' ELSE 'test' END)
                 ELSE CASE
                   WHEN r <= num_test THEN 'test'
                   WHEN r <= num_test + CAST(floor((n - num_test) * CAST(0.33 AS DOUBLE)) AS BIGINT)
                        THEN 'dev'
                   ELSE 'train'
                 END
               END AS split
        FROM sized
    )
"""


@register(
    "e1_label_mapping",
    oracle="""
    SELECT source,
           CAST(row_number() OVER (ORDER BY source) - 1 AS BIGINT) AS class_encoded
    FROM (SELECT DISTINCT source FROM documents)
    """,
)
def e1_label_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """e1 — dense lexicographic class codes (sklearn LabelEncoder parity)."""
    return label_mapping(load(spark, sf_dir, "documents"), "source")


@register(
    "c1_label_apply",
    oracle="""
    WITH mapping AS (
        SELECT source,
               CAST(row_number() OVER (ORDER BY source) - 1 AS BIGINT) AS class_encoded
        FROM (SELECT DISTINCT source FROM documents)
    )
    SELECT d.doc_id, d.source, m.class_encoded
    FROM documents d JOIN mapping m USING (source)
    """,
)
def c1_label_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """c1 — mapping applied via broadcast hash join (no fact-table shuffle)."""
    docs = load(spark, sf_dir, "documents")
    return label_encode(docs, "source").select("doc_id", "source", "class_encoded")


@register(
    "e2_stratified_split",
    oracle=_SPLIT_ORACLE + "SELECT doc_id, source, split FROM assigned",
)
def e2_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """e2 flagship — per-class stratified split, md5-deterministic."""
    docs = load(spark, sf_dir, "documents")
    return stratified_split(docs, "source", "doc_id").select(
        "doc_id", "source", "split"
    )


@register(
    "e2b_split_counts",
    oracle=_SPLIT_ORACLE
    + "SELECT split, count(*) AS count FROM assigned GROUP BY split ORDER BY split",
)
def e2b_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """e2 aggregate view — rows per split."""
    docs = load(spark, sf_dir, "documents")
    return split_counts(stratified_split(docs, "source", "doc_id"))


@register(
    "d9_class_weights",
    oracle="""
    WITH sizes AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
    w AS (SELECT source, CAST(1 AS DOUBLE) / n AS w FROM sizes),
    norm AS (SELECT source, w / sum(w) OVER () AS wn FROM w)
    SELECT source, round(wn / max(wn) OVER (), 6) AS weight FROM norm
    """,
)
def d9_class_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d9/d10 — inverse-frequency class weights, max-rescaled to 1.0."""
    return class_weights(load(spark, sf_dir, "documents"), "source")


@register(
    "j1_tokenize",
    oracle="""
    -- pad inside one list_transform (DuckDB 1.0.0 list_resize errors on
    -- table-sourced lists: std::bad_array_new_length)
    SELECT doc_id,
           CAST(least(length(text), 64) AS BIGINT) AS n_real_tokens,
           array_to_string(
               list_transform(
                   list_transform(range(1, 65),
                                  i -> CASE WHEN i <= length(text)
                                            THEN ord(text[i]) ELSE 0 END),
                   x -> CAST(x AS VARCHAR)),
               ',') AS tokens_csv
    FROM documents
    """,
)
def j1_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j1 — deterministic char tokenization to fixed width 64 (pipeline
    default is 1024; 64 keeps the oracle row compact). Tokens are returned
    comma-joined so the value hash is array-layout-independent."""
    docs = load(spark, sf_dir, "documents")
    toks = tokenize_chars(docs, "text", max_len=64)
    return toks.select(
        "doc_id",
        F.least(F.length("text"), F.lit(64)).cast("bigint").alias("n_real_tokens"),
        F.array_join(F.expr("transform(tokens, x -> cast(x AS string))"), ",").alias(
            "tokens_csv"
        ),
    )


@register(
    "j1_tokenize_esm2",
    oracle="""
    -- same ESM2 vocab trick as the engine: ids 4-30 are consecutive for
    -- this exact character string, so strpos(vocab, ch) + 3 IS the lookup
    -- (0-on-miss -> <unk>=3); <cls>=0 / <eos>=2 wrap, <pad>=1 fills to 64
    SELECT doc_id,
           CAST(least(length(text), 62) AS BIGINT) AS n_real_tokens,
           array_to_string(
               list_transform(
                   flatten([
                       [0],
                       list_transform(
                           range(1, least(length(text), 62) + 1),
                           i -> strpos('LAGVSERTIDPKQNFYMHWCXBUZO.-',
                                       text[i]) + 3),
                       [2],
                       list_transform(
                           range(1, 62 - least(length(text), 62) + 1),
                           i -> 1)]),
                   x -> CAST(x AS VARCHAR)),
               ',') AS tokens_csv
    FROM documents
    """,
)
def j1_tokenize_esm2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j1 — EXACT ESM2 vocab-id parity with the reference's HF tokenizer
    (/root/reference/src/process_to_curated.py:85: facebook/esm2_t6_8M_UR50D)
    via the pure-expression `tokenize_esm2` — width 64 keeps the oracle row
    compact (pipeline default 1024). The oracle embeds the same public
    vocab, so a hash match proves id-level agreement on every document."""
    docs = load(spark, sf_dir, "documents")
    toks = tokenize_esm2(docs, "text", max_len=64)
    return toks.select(
        "doc_id",
        F.least(F.length("text"), F.lit(62)).cast("bigint").alias("n_real_tokens"),
        F.array_join(F.expr("transform(tokens, x -> cast(x AS string))"), ",").alias(
            "tokens_csv"
        ),
    )
