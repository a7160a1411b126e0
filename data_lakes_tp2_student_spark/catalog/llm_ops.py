"""Catalog entries for the LLM-data-pipeline extensions (SURVEY.md §2 group X):
dedup (x1/x2), similarity search (x3), text analysis (x4), multimodal (x5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.compute import eager
from ..operators.dedup import (
    distinct_shingles,
    exact_dedup,
    jaccard_verify,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash,
)
from ..operators.multimodal import (
    attach_fake_media,
    attach_media,
    bmp_bytes,
    parse_bmp,
    parse_wav,
    sample_frames,
    wav_bytes,
)
from ..operators.similarity import (
    hyperplane_coefficients,
    knn_bruteforce,
    knn_ivf,
    knn_lsh,
)
from ..operators.textops import (
    fingerprint,
    lang_id,
    quality_features,
    token_counts,
)
from ..registry import load, register

# ------------------------------------------------------------------ x1 dedup


@register(
    "x1_exact_dedup",
    oracle="""
    SELECT doc_id, source FROM (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM documents
    ) WHERE rn = 1
    """,
)
def x1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x1 — exact dedup on text (keep lowest doc_id per md5(text))."""
    docs = load(spark, sf_dir, "documents")
    return exact_dedup(docs, "text", "doc_id").select("doc_id", "source")


# ------------------------------------------------- x2 near-dup: MinHash + LSH

# DuckDB CTE chain mirroring dedup.with_shingles/minhash_signatures/
# lsh_candidate_pairs (16 rotated hashes, 4 bands × 4 rows). The signature
# definition (one md5 per shingle, k left-rotations as the hash family) must
# stay in lockstep with operators/dedup.py — the oracle SQL below is BUILT
# from these constants, so a parameter change updates both sides at once.
#
# Round 10 re-tune (PERF.md #52): the original 8 bands × 2 rows sat at
# collision threshold (1/8)^(1/2) ≈ 0.35 Jaccard, which the scaling bench
# measured going QUADRATIC on a shared-vocabulary corpus (5.9k candidate
# pairs at 5k docs → 579k at 50k → 5.2M at 150k — pure n² band-bucket
# densification from moderately-similar non-duplicates). 4 bands × 4 rows
# (same 16 hashes, same signature cost) raises the threshold to
# (1/4)^(1/4) ≈ 0.71 — the published corpus-dedup operating point
# (Lee et al. 2022 "Deduplicating Training Data" uses 0.8-ish Jaccard) —
# and collapses candidates to the near-duplicate set, which scales with
# the corpus duplication rate, not n².
_N_HASHES = 16
_N_BANDS = 4
_ROWS_PER_BAND = 4


def _sql_rotation(j: int) -> str:
    if j == 0:
        return "h"
    return f"concat(substr(h, {j + 1}, {32 - j}), substr(h, 1, {j}))"


_SIG_AGGS = ",\n               ".join(
    f"min({_sql_rotation(j)}) AS s{j}" for j in range(_N_HASHES)
)
_BAND_SELECTS = "\n        UNION ALL ".join(
    "SELECT doc_id, {b} AS band, md5(concat({cols})) AS band_hash FROM sigw".format(
        b=b,
        cols=", '|', ".join(
            f"s{b * _ROWS_PER_BAND + r}" for r in range(_ROWS_PER_BAND)
        ),
    )
    for b in range(_N_BANDS)
)

# The ONE oracle-side shingle definition (3-word windows, short-doc =
# whole text) — every oracle that shingles MUST compose this stanza so it
# cannot drift from operators/dedup.py (x2 family here, x37/x44 in
# llm_ops5; review r6 removed a verbatim copy).
_SHINGLE_CTE = """words AS (
        SELECT doc_id, text, string_split(text, ' ') AS w FROM documents
    ),
    sh AS (
        SELECT doc_id,
               CASE WHEN len(w) < 3 THEN [text]
                    ELSE list_transform(range(0, len(w) - 2),
                                        i -> array_to_string(w[i+1:i+3], ' '))
               END AS shingles
        FROM words
    ),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh)"""

_MINHASH_CTE = f"""
    WITH {_SHINGLE_CTE},
    hs AS (SELECT doc_id, md5(s) AS h FROM ex),
    sigw AS (
        SELECT doc_id,
               {_SIG_AGGS}
        FROM hs GROUP BY doc_id
    ),
    bands AS (
        {_BAND_SELECTS}
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
                    AND a.doc_id < b.doc_id
    )
"""


@register("x2_minhash_pairs", oracle=_MINHASH_CTE + "SELECT id_a, id_b FROM pairs")
def x2_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x2 — MinHash(16) + LSH(4 bands × 4) near-dup candidate pairs
    (collision threshold ≈ (1/4)^(1/4) ≈ 0.71 Jaccard — re-tuned from
    8×2's 0.35 in round 10 after the scaling bench measured the low
    threshold going quadratic on same-vocabulary corpora; PERF.md #52)."""
    docs = load(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, "doc_id", "text", num_hashes=_N_HASHES)
    return lsh_candidate_pairs(
        sigs, "doc_id", bands=_N_BANDS, rows_per_band=_ROWS_PER_BAND
    )


@register(
    "x2b_jaccard_verify",
    oracle=_MINHASH_CTE
    + """
    , dsh AS (SELECT doc_id, list_distinct(shingles) AS s FROM sh)
    SELECT p.id_a, p.id_b,
           round(CAST(len(list_filter(a.s, x -> list_contains(b.s, x))) AS DOUBLE)
                 / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
    FROM pairs p
    JOIN dsh a ON a.doc_id = p.id_a
    JOIN dsh b ON b.doc_id = p.id_b
    """,
)
def x2b_jaccard_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x2 — exact shingle-Jaccard verification of the LSH candidates (the
    cheap-filter-then-exact-verify shape; only candidates pay set costs).
    ONE persisted shingle table feeds both the signature aggregation and the
    verify joins — the explosion (the pipeline's most expensive stage) runs
    once, as it would at 100 TB."""
    docs = load(spark, sf_dir, "documents")
    # ONE distinct shingle table, hash-partitioned by doc_id, feeds both the
    # signature mins (duplicates never change a min) and the verify joins —
    # shingle once, dedup once, every downstream per-doc aggregation reuses
    # the cached partitioning (round 15; operators/dedup.py:distinct_shingles).
    sh = eager(distinct_shingles(docs, "doc_id", "text"))
    sigs = minhash_signatures(
        docs, "doc_id", "text", num_hashes=_N_HASHES, shingles=sh
    )
    pairs = lsh_candidate_pairs(
        sigs, "doc_id", bands=_N_BANDS, rows_per_band=_ROWS_PER_BAND
    )
    return jaccard_verify(
        pairs, docs, "doc_id", "text", shingles=sh, shingles_are_distinct=True
    )


# Shared by x2c (fingerprints) and llm_ops2's x2f (hamming-banded pairs).
# 64 bits as of round 10 (the published SimHash width): bit b is the b-th
# MSB of md5's first 16 hex digits — hex digit b//4, bit b%4 within it —
# the exact definition operators/dedup.py:simhash computes Spark-side.
_SIMHASH_CTE = """
    WITH sh AS (
    SELECT doc_id,
           array_to_string(list_transform(range(0, 64), b ->
             CASE WHEN list_sum(list_transform(string_split(text, ' '), w ->
               CASE WHEN ((strpos('0123456789abcdef',
                                  substr(md5(w), CAST(b // 4 AS INT) + 1, 1)) - 1)
                  // (CASE CAST(b % 4 AS INT) WHEN 0 THEN 8 WHEN 1 THEN 4
                                              WHEN 2 THEN 2 ELSE 1 END)) % 2 = 1
               THEN 1 ELSE -1 END)) > 0 THEN '1' ELSE '0' END), '') AS simhash
    FROM documents
    )
"""


@register(
    "x2c_simhash",
    oracle=_SIMHASH_CTE + "SELECT doc_id, simhash FROM sh",
)
def x2c_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x2 — 64-bit SimHash fingerprint per document (near-dup via small
    hamming distance; banding reuses the x2 LSH shape), rendered as the
    64-character '0'/'1' string from the kernel's bigint."""
    docs = load(spark, sf_dir, "documents")
    return simhash(docs, "text").select(
        "doc_id", F.lpad(F.bin("simhash"), 64, "0").alias("simhash")
    )


# ------------------------------------------------------- x3 similarity search

def _sql_cos(a: str, b: str) -> str:
    dot = (
        f"list_sum(list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )
    na = (
        f"list_sum(list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE)))"
    )
    nb = (
        f"list_sum(list_transform(range(1, len({b}) + 1), "
        f"i -> CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )
    return f"round({dot} / (sqrt({na}) * sqrt({nb})), 7)"


@register(
    "x3_knn_bruteforce",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
               WHERE vec_id < 3),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               {_sql_cos('e.embedding', 'q.qe')} AS cos_sim
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> q.query_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn
        FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim FROM ranked WHERE rn <= 5
    """,
)
def x3_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x3 — exact cosine top-5 for queries vec_id<3 (broadcast queries ×
    linear corpus scan; the exact baseline)."""
    emb = load(spark, sf_dir, "embeddings")
    return knn_bruteforce(emb, emb.filter(F.col("vec_id") < 3), k=5)


def _sql_bucket(vec: str, planes: int = 6, dim: int = 64, table: int = 0) -> str:
    coefs = hyperplane_coefficients(planes, dim, table=table)
    bits = []
    for row in coefs:
        lits = ", ".join(f"{c:.1f}" for c in row)
        proj = (
            f"list_sum(list_transform(range(1, {dim} + 1), "
            f"i -> CAST({vec}[i] AS DOUBLE) * ([{lits}])[i]))"
        )
        bits.append(f"(CASE WHEN {proj} >= 0 THEN '1' ELSE '0' END)")
    return "concat(" + ", ".join(bits) + ")"


_LSH_PLANES, _LSH_TABLES = 4, 16
_LSH_BUCKET_COLS = ", ".join(
    f"{_sql_bucket('embedding', _LSH_PLANES, 64, table=t)} AS b{t}"
    for t in range(_LSH_TABLES)
)
_LSH_MATCH = " OR ".join(f"e.b{t} = q.b{t}" for t in range(_LSH_TABLES))


@register(
    "x3b_knn_lsh",
    oracle=f"""
    WITH bucketed AS (
        SELECT vec_id, embedding, {_LSH_BUCKET_COLS}
        FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qe,
                 {", ".join(f"b{t}" for t in range(_LSH_TABLES))}
          FROM bucketed WHERE vec_id < 3),
    scored AS (
        SELECT DISTINCT q.query_id, e.vec_id AS neighbor_id,
               {_sql_cos('e.embedding', 'q.qe')} AS cos_sim
        FROM bucketed e JOIN q ON ({_LSH_MATCH})
        WHERE e.vec_id <> q.query_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn
        FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim FROM ranked WHERE rn <= 5
    """,
)
def x3b_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x3 scale path — multi-table sign-LSH ANN: a candidate is any corpus
    vector sharing a bucket with the query in ANY of 16 independent 4-bit
    hash tables (equi-join per table + pair dedup), exact cosine only on
    candidates. Multi-table is the recall lever: one 6-bit table measured
    recall@10 ≈ 0.03 on this corpus, 4×4-bit ≈ 0.4, 8×4-bit ≈ 0.65, and
    the 16×4-bit default ≈ 0.90 (both sf0.01 and sf0.1) — gated ≥ 0.8 in
    tests/test_ann_quality.py. Promoted r6 after measuring the extra
    tables cost nothing at this shape (1.21 s vs 1.18 s at sf0.1: the
    probe side is small, the bucket pass is ONE Arrow sweep either way);
    at a 100 TB corpus the tables× bucket-entry explode IS the cost knob —
    recall budget buys shuffle volume. Round 13 MEASURED that budget
    (scripts/ann_operating_points.py, PERF.md #68): on this
    near-isotropic corpus the 16×4-bit point scores candidate_fraction ≈
    0.63 of corpus×queries for its 0.905 recall, and NO (planes, tables)
    point on the sign-LSH curve reaches recall 0.8 under fraction 0.4
    (6-bit/8-bit codes collapse recall faster than they shrink buckets).
    That is a property of unstructured embeddings, not a tuning miss —
    so sign-LSH here is the structured-embedding path, and IVF
    (x3c: recall ≈ 0.805 at fraction ≈ 0.12 since the round-14 default
    flip to 32 cells / nprobe 4, cells ∝ corpus) is the
    100-TB default for unstructured vectors. Both the fraction ceiling
    and the recall floor are gated in tests/test_ann_quality.py. The
    oracle mirrors the union with an OR-of-buckets join + DISTINCT."""
    emb = load(spark, sf_dir, "embeddings")
    return knn_lsh(
        emb,
        emb.filter(F.col("vec_id") < 3),
        k=5,
        planes=_LSH_PLANES,
        dim=64,
        tables=_LSH_TABLES,
    )


@register(
    "x3c_knn_ivf",
    oracle=f"""
    WITH cent AS (SELECT vec_id AS centroid, embedding AS cvec
                  FROM embeddings WHERE vec_id < 32),
    assigned AS (
        SELECT e.vec_id, e.embedding, c.centroid,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {_sql_cos('e.embedding', 'c.cvec')} DESC, c.centroid
               ) AS crn
        FROM embeddings e CROSS JOIN cent c
    ),
    cells AS (SELECT vec_id, embedding, centroid FROM assigned WHERE crn = 1),
    probes AS (SELECT vec_id AS query_id, embedding AS qe, centroid
               FROM assigned WHERE vec_id < 3 AND crn <= 4),
    scored AS (
        SELECT p.query_id, c.vec_id AS neighbor_id,
               {_sql_cos('c.embedding', 'p.qe')} AS cos_sim
        FROM cells c JOIN probes p USING (centroid)
        WHERE c.vec_id <> p.query_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn
        FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim FROM ranked WHERE rn <= 5
    """,
)
def x3c_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x3 scale path (IVF): 32 deterministic centroid cells, nprobe=4 —
    candidates ∝ corpus/32 × 4 per query instead of the full corpus; exact
    cosine only within probed cells. The inverted-file analog of x3b's LSH
    bucketing (k-means would refine centroid positions; join shape equal).
    Round 14 flipped the operating point from 16 cells / nprobe 2 (recall
    0.730) to 32 / 4 (recall 0.805) — PERF.md #68's curve showed both points
    pay the SAME candidate fraction ≈ 0.122, so the old default was
    dominated (VERDICT r13 item 2). Semantics change ⇒ oracle regenerated
    from the same constants and the bench row re-based (both-numbers
    policy)."""
    emb = load(spark, sf_dir, "embeddings")
    return knn_ivf(
        emb, emb.filter(F.col("vec_id") < 3), k=5, n_cells=32, nprobe=4
    )


# ----------------------------------------------------------- x4 text analysis

_MARKER_SQL = {
    "s_en": "('the', 'a', 'of')",
    "s_fr": "('le', 'la', 'de')",
    "s_de": "('der', 'die', 'das')",
}
_SCORES = ",\n".join(
    f"list_sum(list_transform(string_split(text, ' '), "
    f"w -> CASE WHEN w IN {v} THEN 1 ELSE 0 END)) AS {k}"
    for k, v in _MARKER_SQL.items()
)


@register(
    "x4_lang_id",
    oracle=f"""
    WITH s AS (SELECT doc_id, lang, {_SCORES} FROM documents)
    SELECT doc_id, lang,
           CASE WHEN s_en >= s_fr AND s_en >= s_de THEN 'en'
                WHEN s_fr >= s_de THEN 'fr' ELSE 'de' END AS pred_lang
    FROM s
    """,
)
def x4_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x4 — marker-word language-ID heuristic (argmax of per-language
    occurrence scores, deterministic tie order)."""
    docs = load(spark, sf_dir, "documents")
    return lang_id(docs, "text").select("doc_id", "lang", "pred_lang")


@register(
    "x4_quality_score",
    oracle="""
    WITH f AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
               CAST(length(text) AS BIGINT) AS n_chars,
               list_sum(list_transform(string_split(text, ' '),
                 w -> CASE WHEN w IN ('the','a','of','and','to','in')
                           THEN 1 ELSE 0 END)) AS stop_count
        FROM documents
    ),
    r AS (
        SELECT doc_id, n_words,
               round(CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words, 6)
                   AS avg_word_len,
               round(CAST(stop_count AS DOUBLE) / n_words, 6) AS stopword_ratio
        FROM f
    )
    SELECT doc_id, n_words, avg_word_len, stopword_ratio,
           round(CAST(0.4 AS DOUBLE) * least(CAST(n_words AS DOUBLE) / 100.0, 1.0)
                 + CAST(0.4 AS DOUBLE) * (1.0 - stopword_ratio)
                 + CAST(0.2 AS DOUBLE) * least(avg_word_len / 10.0, 1.0), 6)
               AS quality_score
    FROM r
    """,
)
def x4_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x4 — document quality features + bounded composite score."""
    docs = load(spark, sf_dir, "documents")
    return quality_features(docs, "text").select(
        "doc_id", "n_words", "avg_word_len", "stopword_ratio", "quality_score"
    )


@register(
    "x4_token_counts",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))
                AS BIGINT) AS regex_tokens,
           CAST(ceil(CAST(length(text) AS DOUBLE) / 4.0) AS BIGINT)
               AS est_bpe_tokens
    FROM documents
    """,
)
def x4_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x4 — whitespace / BPE-ish-regex / chars-per-4 token counting."""
    docs = load(spark, sf_dir, "documents")
    return token_counts(docs, "text").select(
        "doc_id", "ws_tokens", "regex_tokens", "est_bpe_tokens"
    )


@register(
    "x4_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
)
def x4_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x4 — md5 fingerprint over normalized text."""
    docs = load(spark, sf_dir, "documents")
    return fingerprint(docs, "text").select("doc_id", "fingerprint")


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

    Scale shape (round 10, PERF.md #54): pixels never shuffle — hashing
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
    `x5o_avi_frame_sample` (round 8, VERDICT r7 item 5): this variant is
    the pure-column-expression fast path — byte-slice sampling with NO
    Python stage at all — which is the right tool when the payload is an
    opaque blob and only the one-to-many expansion contract matters;
    x5o is the full container walk + selective decode for real video."""
    docs = load(spark, sf_dir, "documents")
    media = attach_fake_media(docs, "doc_id", "text")
    return sample_frames(media, n_frames=4).select(
        "doc_id", "frame_no", F.decode("frame", "utf-8").alias("frame_str")
    )


# ------------------------------------------- x9 composite: corpus preparation


@register(
    "x9_corpus_prep",
    oracle="""
    WITH dedup AS (
        SELECT doc_id, source, text FROM (
            SELECT doc_id, source, text,
                   row_number() OVER (PARTITION BY md5(text)
                                      ORDER BY doc_id) AS rn
            FROM documents
        ) WHERE rn = 1
    ),
    f AS (
        SELECT doc_id, source, text,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
               CAST(length(text) AS BIGINT) AS n_chars,
               list_sum(list_transform(string_split(text, ' '),
                 w -> CASE WHEN w IN ('the','a','of','and','to','in')
                           THEN 1 ELSE 0 END)) AS stop_count
        FROM dedup
    ),
    r AS (
        SELECT doc_id, source, text, n_words,
               round(CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words, 6)
                   AS avg_word_len,
               round(CAST(stop_count AS DOUBLE) / n_words, 6) AS stopword_ratio
        FROM f
    ),
    scored AS (
        SELECT *,
               round(CAST(0.4 AS DOUBLE) * least(CAST(n_words AS DOUBLE) / 100.0, 1.0)
                     + CAST(0.4 AS DOUBLE) * (1.0 - stopword_ratio)
                     + CAST(0.2 AS DOUBLE) * least(avg_word_len / 10.0, 1.0), 6)
                   AS quality_score
        FROM r
    ),
    kept AS (
        SELECT *, CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_bpe_tokens
        FROM scored WHERE quality_score >= 0.5
    )
    SELECT source,
           count(*) AS docs_kept,
           CAST(sum(est_bpe_tokens) AS BIGINT) AS est_tokens,
           round(CAST(sum(CAST(quality_score AS DECIMAL(18,6))) AS DOUBLE)
                 / count(*), 6) AS avg_quality
    FROM kept
    GROUP BY source
    """,
)
def x9_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x9 — the end-to-end LLM corpus-prep composite: exact dedup (x1) →
    quality scoring (x4) → threshold filter → per-source token accounting.
    One pipeline, three shuffles (dedup window, final group-by; quality is
    pure projection). The average is computed from an exact DECIMAL sum
    divided in double — associative, so bit-stable under any partitioning."""
    docs = load(spark, sf_dir, "documents")
    kept = exact_dedup(docs, "text", "doc_id")
    scored = quality_features(kept, "text").filter(
        F.col("quality_score") >= 0.5
    )
    with_tokens = token_counts(scored, "text")
    return with_tokens.groupBy("source").agg(
        F.count("*").alias("docs_kept"),
        F.sum("est_bpe_tokens").alias("est_tokens"),
        F.round(
            F.sum(F.col("quality_score").cast("decimal(18,6)")).cast("double")
            / F.count("*"),
            6,
        ).alias("avg_quality"),
    )


@register(
    "x4b_rolling_hash",
    oracle="""
    SELECT doc_id,
           list_reduce(
               [CAST(0 AS BIGINT)]
                   || list_transform(string_split(text, ''),
                                     c -> CAST(ascii(c) AS BIGINT)),
               (acc, c) -> (acc * 31 + c) % 1000000007
           ) AS rolling_hash
    FROM documents
    """,
)
def x4b_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x4 — polynomial (Rabin-Karp-style) rolling-hash fingerprint per
    document; per-step mod keeps bigint arithmetic overflow-free and the
    fold portable verbatim to the oracle."""
    from ..operators.textops import rolling_fingerprint

    docs = load(spark, sf_dir, "documents")
    return rolling_fingerprint(docs, "text").select("doc_id", "rolling_hash")


@register(
    "x4c_pii_scrub",
    oracle=r"""
    SELECT doc_id,
           regexp_replace(
               regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g'),
               '[0-9]+', '<NUM>', 'g') AS scrubbed
    FROM documents
    """,
)
def x4c_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x4 — PII scrubbing for training corpora: mask email-shaped tokens
    then digit runs, pure `regexp_replace` (codegen, no UDF). Both regexes
    stay in the common Java-regex/RE2 subset so the oracle is verbatim."""
    docs = load(spark, sf_dir, "documents")
    scrub = F.regexp_replace(
        F.regexp_replace(
            F.col("text"),
            r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
            "<EMAIL>",
        ),
        r"[0-9]+",
        "<NUM>",
    )
    return docs.select("doc_id", scrub.alias("scrubbed"))


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
    """x5j — REAL baseline JPEG decode, lib-free (VERDICT r4 item 4): the
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
