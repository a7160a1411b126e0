"""SURVEY.md §2 groups X1–X3 — exact and near-duplicate detection and
vector search: exact dedup, MinHash/LSH pairs, Jaccard verify and clusters,
SimHash, embedding near-dup, brute-force/LSH/IVF kNN, decontamination,
incremental and substring dedup, PageRank over the near-dup graph, Bloom
decontamination, SemDeDup, sorted-neighborhood entity resolution, shingle
containment and sparse TF-IDF cosine.

This module owns the SQL fragments the oracles share: the shingle CTE, the
MinHash signature/band CTE (``_N_HASHES`` × ``_N_BANDS`` ×
``_ROWS_PER_BAND``), the SimHash CTE, and ``sql_cos`` (DuckDB cosine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.compute import eager
from ..operators.bloom import M_BITS, WORD, bloom_build, bloom_probe
from ..operators.dedup import (
    dup_clusters,
    exact_dedup,
    exploded_shingles,
    jaccard_verify,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash,
    simhash_pairs,
)
from ..operators.entity import snm_pairs
from ..operators.similarity import (
    cosine_batch,
    hyperplane_coefficients,
    knn_bruteforce,
    knn_ivf,
    knn_lsh,
    semdedup,
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

# DuckDB CTE chain mirroring dedup.exploded_shingles/minhash_signatures/
# lsh_candidate_pairs (16 rotated hashes, 4 bands × 4 rows). The signature
# definition (one md5 per shingle, k left-rotations as the hash family) must
# stay in lockstep with operators/dedup.py — the oracle SQL below is BUILT
# from these constants, so a parameter change updates both sides at once.
#
# Band shape (PERF.md #52): 8 bands × 2 rows would sit at collision
# threshold (1/8)^(1/2) ≈ 0.35 Jaccard, which the scaling bench measured
# going QUADRATIC on a shared-vocabulary corpus (5.9k candidate pairs at
# 5k docs → 579k at 50k → 5.2M at 150k — pure n² band-bucket
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
# cannot drift from operators/dedup.py (the x2 family, x37 and x44).
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
    (collision threshold ≈ (1/4)^(1/4) ≈ 0.71 Jaccard; 8×2's 0.35 went
    quadratic on same-vocabulary corpora in the scaling bench, PERF.md
    #52)."""
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
    The signatures come from the per-document MinHash kernel; each
    candidate pair is then verified from its two texts alone
    (operators/dedup.py:jaccard_verify), so no corpus-wide shingle table
    is built."""
    docs = load(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, "doc_id", "text", num_hashes=_N_HASHES)
    pairs = lsh_candidate_pairs(
        sigs, "doc_id", bands=_N_BANDS, rows_per_band=_ROWS_PER_BAND
    )
    return jaccard_verify(pairs, docs, "doc_id", "text")


# Shared by x2c (fingerprints) and x2f (hamming-banded pairs). 64 bits
# (the published SimHash width): bit b is the b-th
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


# The recursive-CTE oracle needs RECURSIVE on the shared WITH list.
_MINHASH_CTE_REC = _MINHASH_CTE.replace("WITH words", "WITH RECURSIVE words", 1)


@register(
    "x2e_dup_clusters",
    oracle=_MINHASH_CTE_REC
    + """
    , nodes AS (
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
    )
    SELECT id AS doc_id, min(label) AS cluster_id FROM walk GROUP BY id
    """,
)
def x2e_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x2 — duplicate-cluster assignment: connected components over the LSH
    candidate pairs (min-reachable-doc-id labeling). Closes the A~B, B~C
    transitivity gap that pairwise dedup leaves open; "keep min doc_id per
    cluster_id" is then the full near-dup dedup policy. The oracle computes
    the same components via a recursive transitive-closure CTE."""
    docs = load(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, "doc_id", "text", num_hashes=_N_HASHES)
    pairs = lsh_candidate_pairs(
        sigs, "doc_id", bands=_N_BANDS, rows_per_band=_ROWS_PER_BAND
    )
    return dup_clusters(pairs)


@register(
    "x2f_simhash_pairs",
    oracle=_SIMHASH_CTE
    + """
    , banded AS (
        SELECT doc_id, simhash, t.b AS band, substr(simhash, t.b * 16 + 1, 16) AS bits
        FROM sh, range(0, 4) t(b)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.simhash AS sa, b.simhash AS sb
        FROM banded a
        JOIN banded b ON a.band = b.band AND a.bits = b.bits
                     AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           bit_count(xor(CAST(sa AS BIT), CAST(sb AS BIT))) AS hamming
    FROM cand
    WHERE bit_count(xor(CAST(sa AS BIT), CAST(sb AS BIT))) <= 3
    """,
)
def x2f_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x2 — SimHash near-dup candidate pairs within hamming ≤ 3 of the
    64-bit fingerprint. The Spark path generates candidates with
    TWO-LEVEL banding (16-bit band + 12-bit sub-band of the
    complementary bits — see operators/dedup.py:simhash_pairs for the
    pigeonhole proof); the oracle's single-level 16-bit banding is an
    independent exact-recall candidate generator (pigeonhole needs only
    ≤3 diffs over 4 disjoint slices), so both sides compute the same
    final pair set. Fingerprints stay bigints end to end: band keys are
    shift-and-mask integers and the hamming filter is one
    bit_count(xor) — all codegen'd; the SimHash complement to x2's
    MinHash banding, catching word-frequency-preserving edits that
    shingle sets miss."""
    docs = load(spark, sf_dir, "documents")
    sh = simhash(docs, "text").select("doc_id", "simhash")
    return simhash_pairs(sh, "doc_id", bands=4, max_hamming=3)


@register(
    "x2g_neardup_dedup",
    oracle=_MINHASH_CTE_REC
    + """
    , nodes AS (
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
    SELECT d.doc_id FROM documents d
    WHERE d.doc_id NOT IN (SELECT id FROM labels WHERE id <> cluster_id)
    """,
)
def x2g_neardup_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x2 — the full near-dup dedup POLICY, end to end: MinHash → LSH
    candidate pairs → connected-component clusters → keep the minimum
    doc_id per cluster plus every singleton. This is the query a corpus
    build actually runs; x2/x2b/x2e expose its stages.

    Scale shape: only docs that appear in a candidate pair enter the
    cluster graph; the final step is a LEFT ANTI join of the corpus against
    the (much smaller) set of dropped ids — the corpus itself is scanned
    once and never shuffled beyond that join's key exchange."""
    docs = load(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, "doc_id", "text", num_hashes=_N_HASHES)
    pairs = lsh_candidate_pairs(
        sigs, "doc_id", bands=_N_BANDS, rows_per_band=_ROWS_PER_BAND
    )
    clusters = dup_clusters(pairs)
    dropped = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        "doc_id"
    )
    return docs.join(dropped, "doc_id", "left_anti").select("doc_id")


@register(
    "x2d_embedding_neardup",
    oracle="""
    WITH corpus AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings
    ),
    p AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(
                 list_sum(list_transform(range(1, len(a.embedding) + 1),
                   i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),
                      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
                  * sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1),
                      i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))),
                 7) AS cos_sim
        FROM corpus a JOIN corpus b
          ON (a.vec_id % 1000000) = (b.vec_id % 1000000) AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cos_sim FROM p WHERE cos_sim >= 0.99
    """,
)
def x2d_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x2 — embedding-cosine near-dup: plant duplicate vectors (re-keyed
    copies of the corpus), block candidate pairs, keep pairs with
    cos >= 0.99.

    Blocking here uses the planted id relation so the oracle is exact; the
    operator-library scale path is sign-LSH blocking (`knn_lsh`, x3b),
    whose buckets identical/near-identical vectors always share."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    copies = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(copies)
    a = corpus.alias("a")
    b = corpus.alias("b")
    return (
        a.join(
            b,
            ((F.col("a.vec_id") % 1000000) == (F.col("b.vec_id") % 1000000))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            cosine_batch(F.col("a.embedding"), F.col("b.embedding")).alias(
                "cos_sim"
            ),
        )
        .filter(F.col("cos_sim") >= 0.99)
    )


# ------------------------------------------------------- x3 similarity search

def sql_cos(a: str, b: str) -> str:
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
               {sql_cos('e.embedding', 'q.qe')} AS cos_sim
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
               {sql_cos('e.embedding', 'q.qe')} AS cos_sim
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
    tests/test_ann_quality.py. The extra tables cost nothing at this
    shape (the probe side is small, the bucket pass is ONE Arrow sweep
    either way); at a 100 TB corpus the tables× bucket-entry explode IS
    the cost knob — recall budget buys shuffle volume, measured
    (scripts/ann_operating_points.py, PERF.md #68): on this
    near-isotropic corpus the 16×4-bit point scores candidate_fraction ≈
    0.63 of corpus×queries for its 0.905 recall, and NO (planes, tables)
    point on the sign-LSH curve reaches recall 0.8 under fraction 0.4
    (6-bit/8-bit codes collapse recall faster than they shrink buckets).
    That is a property of unstructured embeddings, not a tuning miss —
    so sign-LSH here is the structured-embedding path, and IVF
    (x3c: recall ≈ 0.805 at fraction ≈ 0.12 with 32 cells / nprobe 4,
    cells ∝ corpus) is the
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
                   ORDER BY {sql_cos('e.embedding', 'c.cvec')} DESC, c.centroid
               ) AS crn
        FROM embeddings e CROSS JOIN cent c
    ),
    cells AS (SELECT vec_id, embedding, centroid FROM assigned WHERE crn = 1),
    probes AS (SELECT vec_id AS query_id, embedding AS qe, centroid
               FROM assigned WHERE vec_id < 3 AND crn <= 4),
    scored AS (
        SELECT p.query_id, c.vec_id AS neighbor_id,
               {sql_cos('c.embedding', 'p.qe')} AS cos_sim
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
    32 / 4 (recall 0.805) dominates 16 cells / nprobe 2 (recall 0.730):
    PERF.md #68's curve shows both points pay the SAME candidate fraction
    ≈ 0.122."""
    emb = load(spark, sf_dir, "embeddings")
    return knn_ivf(
        emb, emb.filter(F.col("vec_id") < 3), k=5, n_cells=32, nprobe=4
    )


@register(
    "x22_decontamination",
    oracle="""
    WITH words AS (
        SELECT doc_id, text, string_split(text, ' ') AS w FROM documents
    ),
    shin AS (
        SELECT doc_id,
               CASE WHEN len(w) < 3 THEN [text]
                    ELSE list_transform(range(0, len(w) - 2),
                                        i -> array_to_string(w[i+1:i+3], ' '))
               END AS shingles
        FROM words
    ),
    ex AS (SELECT DISTINCT doc_id, unnest(shingles) AS s FROM shin),
    bench AS (SELECT doc_id AS bench_id, s FROM ex WHERE doc_id % 100 = 0),
    corp AS (SELECT doc_id, s FROM ex WHERE doc_id % 100 <> 0)
    SELECT c.doc_id,
           count(DISTINCT c.s) AS n_shared_shingles,
           count(DISTINCT b.bench_id) AS n_benchmark_docs
    FROM corp c JOIN bench b ON c.s = b.s
    GROUP BY c.doc_id
    """,
)
def x22_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x22 — train/eval DECONTAMINATION, the standard pre-training hygiene
    pass: flag corpus documents sharing any word-shingle with a benchmark
    set (here: the deterministic doc_id % 100 == 0 subset standing in for
    an eval suite), with collision counts for audit.

    Scale shape: the benchmark shingle set is broadcast (eval suites are
    tiny next to a 100 TB corpus), so the corpus is scanned ONCE, its
    exploded shingles never shuffle for the probe, and only colliding rows
    reach the per-doc aggregation. At full scale you would put a bloom
    filter of benchmark shingles in front of the join; the join shape is
    already the right one. Reuses `exploded_shingles` (the x2 pipeline's
    shingle operator), distinct-ed to set semantics."""
    from ..operators.dedup import exploded_shingles

    docs = load(spark, sf_dir, "documents")
    # hash-partition the docs by id before exploding: Generate
    # preserves partitioning, so the distinct AND the final per-doc
    # aggregation below run exchange-free — one exchange of doc rows total
    sh = exploded_shingles(
        docs.repartition("doc_id"), "doc_id", "text"
    ).distinct()
    bench = sh.filter(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("bench_id"), "s"
    )
    corp = sh.filter(F.col("doc_id") % 100 != 0)
    return (
        corp.join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("s").alias("n_shared_shingles"),
            F.countDistinct("bench_id").alias("n_benchmark_docs"),
        )
    )


@register(
    "x24_incremental_dedup",
    oracle="""
    WITH history AS (
        SELECT md5(text) AS h FROM documents WHERE doc_id % 10 <> 7
    ),
    batch AS (
        SELECT doc_id, source, md5(text) AS h
        FROM documents WHERE doc_id % 10 = 7
    ),
    batch_first AS (
        SELECT doc_id, source, h FROM (
            SELECT doc_id, source, h,
                   row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
            FROM batch
        ) WHERE rn = 1
    )
    SELECT b.doc_id, b.source FROM batch_first b
    WHERE NOT EXISTS (SELECT 1 FROM history x WHERE x.h = b.h)
    """,
)
def x24_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x24 — INCREMENTAL dedup: a new ingest batch (the deterministic
    doc_id % 10 == 7 slice standing in for today's crawl) is deduped
    within itself, then anti-joined against the HISTORICAL corpus's
    fingerprint index — the shape every rolling ingestion runs, where
    re-deduplicating 100 TB of history per batch is a non-starter.

    Scale shape: history contributes only its md5 column (32-byte keys,
    in production a maintained fingerprint table); the anti-join shuffles
    fingerprints, never text. Batch-internal dedup is the x1 window."""
    docs = load(spark, sf_dir, "documents")
    history = docs.filter(F.col("doc_id") % 10 != 7).select(
        F.md5("text").alias("h")
    )
    batch = docs.filter(F.col("doc_id") % 10 == 7).select(
        "doc_id", "source", F.md5("text").alias("h")
    )
    w = Window.partitionBy("h").orderBy("doc_id")
    batch_first = (
        batch.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return batch_first.join(history, "h", "left_anti").select(
        "doc_id", "source"
    )


@register(
    "x32_substring_dedup",
    oracle="""
    -- duplicated-span detection: md5 over every 5-word sliding window,
    -- equi-joined across documents, gaps-and-islands over matched
    -- positions (window-level twin of the Spark plan)
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    wins AS (
        SELECT doc_id, k AS pos,
               md5(array_to_string(list_slice(ws, k + 1, k + 5), ' ')) AS h
        FROM w, unnest(range(0, greatest(0, length(ws) - 4))) AS t(k)
    ),
    matched AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.pos
        FROM wins a JOIN (SELECT DISTINCT doc_id, h FROM wins) b
          ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    isl AS (
        SELECT id_a, id_b, pos,
               pos - row_number() OVER (PARTITION BY id_a, id_b
                                        ORDER BY pos) AS grp
        FROM matched
    )
    SELECT id_a, id_b, CAST(min(pos) AS BIGINT) AS start_a,
           CAST(max(pos) - min(pos) + 5 AS BIGINT) AS len_words
    FROM isl GROUP BY id_a, id_b, grp
    """,
)
def x32_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x32 — CROSS-DOCUMENT substring dedup: MinHash
    (x2) is document-granular, so exact substring duplication — shared
    boilerplate, license headers, quoted text — survives it. This pass
    fingerprints every 5-word sliding window (`windowed_fingerprints`,
    the Rabin-Karp-style machinery of x4b generalized to joinable
    substrings), equi-joins the hashes across documents, and merges the
    matched positions into maximal duplicated spans per doc pair
    (`duplicated_spans`). Output: (id_a, id_b, start_a, len_words) — the
    spans a substring-level cleaner would cut from doc a.

    Scale: one hash equi-join (16-byte keys) + per-pair gaps-and-islands;
    no document-pair cross product anywhere — but the OUTPUT relation is
    quadratic in the document frequency of hot windows (measured x5188
    rows at a 30x corpus, SCALING_r11). This EXACT form is the oracle
    semantics; the 100 TB policy default is x32b's document-frequency
    cap."""
    from ..operators.textops import duplicated_spans, windowed_fingerprints

    docs = load(spark, sf_dir, "documents")
    wins = windowed_fingerprints(docs, "doc_id", "text", width=5)
    return duplicated_spans(wins, "doc_id", width=5)


_X32B_MAX_DF = 4


_X32B_MIN_LEN = 6  # >= 2 consecutive shared windows (width 5 + 1)


@register(
    "x32b_substring_dedup_capped",
    # the exact-form CTEs with TWO added stages: window hashes present
    # in more than MAX_DF documents drop before the join, and spans
    # shorter than MIN_LEN words drop after the islands merge — both
    # constants generated from the same Python values the engine uses,
    # so engine and oracle can never drift
    oracle=f"""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    wins AS (
        SELECT doc_id, k AS pos,
               md5(array_to_string(list_slice(ws, k + 1, k + 5), ' ')) AS h
        FROM w, unnest(range(0, greatest(0, length(ws) - 4))) AS t(k)
    ),
    rare AS (
        SELECT h FROM wins GROUP BY h
        HAVING count(DISTINCT doc_id) <= {_X32B_MAX_DF}
    ),
    kept AS (
        SELECT wins.* FROM wins JOIN rare USING (h)
    ),
    matched AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.pos
        FROM kept a JOIN (SELECT DISTINCT doc_id, h FROM kept) b
          ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    isl AS (
        SELECT id_a, id_b, pos,
               pos - row_number() OVER (PARTITION BY id_a, id_b
                                        ORDER BY pos) AS grp
        FROM matched
    )
    SELECT id_a, id_b, CAST(min(pos) AS BIGINT) AS start_a,
           CAST(max(pos) - min(pos) + 5 AS BIGINT) AS len_words
    FROM isl GROUP BY id_a, id_b, grp
    HAVING max(pos) - min(pos) + 5 >= {_X32B_MIN_LEN}
    """,
)
def x32b_substring_dedup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x32b — x32 with the two POLICY levers a 100 TB corpus needs. The
    scaling bench (SCALING_r11.json) measured x32's exact output relation growing x5188 at a 30x corpus, and two
    distinct mechanisms drive it:

    - HOT windows (boilerplate in many docs) pair every co-containing
      doc: `max_df=4` drops window hashes present in >4 documents
      before the join (per-hash fan-out ≤ df² = 16). Spans shared by
      MANY documents are boilerplate for a boilerplate FILTER, not
      pairwise dedup — the RefinedWeb/C4 treatment of ubiquitous
      n-grams.
    - COINCIDENTAL single-window collisions between weakly-overlapping
      doc pairs grow with the number of doc pairs (measured: the
      df-cap alone left output at x2100): `min_len=6` keeps only spans
      of ≥2 consecutive shared windows — Lee et al. dedup on exact
      50-TOKEN substrings for exactly this reason; a lone 5-word
      window is noise, a run is a duplicated substring.

    This is the 100 TB policy default; x32 keeps the exact semantics."""
    from ..operators.textops import duplicated_spans, windowed_fingerprints

    docs = load(spark, sf_dir, "documents")
    wins = windowed_fingerprints(docs, "doc_id", "text", width=5)
    return duplicated_spans(
        wins, "doc_id", width=5, max_df=_X32B_MAX_DF, min_len=_X32B_MIN_LEN
    )


def _pagerank_iters_sql(iterations: int = 3) -> str:
    """Unrolled fixed-point PageRank iteration CTEs (DuckDB `//` and Spark
    `div` agree on positive BIGINT floor division)."""
    out = """
    , nodes AS (
        SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs
    ),
    nn AS (SELECT count(*) AS n FROM nodes),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL
        SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
    r0 AS (SELECT id, (1000000000000 // nn.n) AS rank FROM nodes, nn)
    """
    for k in range(1, iterations + 1):
        out += f"""
    , it{k} AS (
        SELECT nd.id,
               (15 * (1000000000000 // nn.n)) // 100
               + (85 * coalesce(c.c, 0)) // 100 AS rank
        FROM nodes nd CROSS JOIN nn
        LEFT JOIN (
            SELECT e.dst, sum(r.rank // d.outdeg) AS c
            FROM edges e
            JOIN it{k - 1 if k > 1 else 0} r ON r.id = e.src
            JOIN deg d ON d.src = e.src
            GROUP BY e.dst
        ) c ON c.dst = nd.id
    )"""
    return out.replace("JOIN it0 r", "JOIN r0 r")


@register(
    "x34_pagerank",
    oracle=_MINHASH_CTE
    + _pagerank_iters_sql(3)
    + """
    SELECT id AS doc_id, CAST(rank AS BIGINT) AS rank
    FROM it3 ORDER BY rank DESC, id LIMIT 20
    """,
)
def x34_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x34 — fixed-point PageRank over the near-dup candidate graph: which
    documents sit at the CENTER of duplicate neighborhoods (the doc to
    keep/canonicalize; high-degree hubs also flag template families that
    MinHash banding links transitively). Companion to x2e's connected
    components: CC answers "which cluster", PageRank answers "who anchors
    it". 3 iterations, damping 0.85, BIGINT scale 1e12 — every step is
    integer arithmetic so the result is partitioning- and engine-exact;
    the oracle unrolls the identical iterations as CTEs. Top-20 by rank
    with a doc_id tiebreak."""
    from ..operators.dedup import lsh_candidate_pairs, minhash_signatures
    from ..operators.graph import pagerank

    docs = load(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, "doc_id", "text", num_hashes=_N_HASHES)
    pairs = lsh_candidate_pairs(
        sigs, "doc_id", bands=_N_BANDS, rows_per_band=_ROWS_PER_BAND
    )
    pr = pagerank(pairs, iterations=3)
    return pr.orderBy(F.desc("rank"), "doc_id").limit(20)


# --------------------------------------- x37 Bloom-filter decontamination

_BLOOM_SHINGLES = ("""
    """ + _SHINGLE_CTE + """,
    pos AS (
        SELECT doc_id, s,
               CAST(('0x' || substr(md5(s), 1, 12)) AS BIGINT) % {m} AS p
        FROM ex
        UNION ALL
        SELECT doc_id, s,
               CAST(('0x' || substr(md5(s), 13, 12)) AS BIGINT) % {m} AS p
        FROM ex
    )
""").format(m=M_BITS)


@register(
    "x37_bloom_decontaminate",
    oracle=f"""
    WITH {_BLOOM_SHINGLES},
    bitmap AS (
        SELECT p // {WORD} AS word,
               bit_or(CAST(1 AS BIGINT) << CAST(p % {WORD} AS INT)) AS mask
        FROM pos WHERE doc_id % 50 = 0
        GROUP BY 1
    ),
    hits AS (
        SELECT c.doc_id, c.s,
               min(CASE WHEN (coalesce(b.mask, 0) >> CAST(c.p % {WORD} AS INT))
                             & 1 = 1
                        THEN 1 ELSE 0 END) AS all_set
        FROM pos c LEFT JOIN bitmap b ON b.word = c.p // {WORD}
        WHERE c.doc_id % 50 <> 0
        GROUP BY c.doc_id, c.s
    )
    SELECT doc_id,
           count(*) AS n_shingles,
           CAST(sum(all_set) AS BIGINT) AS n_bloom_hits,
           sum(all_set) > 0 AS contaminated
    FROM hits GROUP BY doc_id
    """,
)
def x37_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x37 — decontamination via a DataFrame-native Bloom filter: the
    eval split's (doc_id % 50 == 0) 3-word shingles build a fixed 2^16-bit
    bitmap (bit_or aggregate, <= 2048 rows); every training document is
    probed against the broadcast bitmap. Constant broadcast size however
    large the benchmark suite grows — the x22 broadcast-set path's scale
    successor (operators/bloom.py)."""
    docs = load(spark, sf_dir, "documents")
    # repartition docs by id before exploding: parallelizes the
    # explosion off the single-file scan and makes bloom_probe's per-doc
    # aggregation exchange-free (Generate preserves partitioning)
    sh = exploded_shingles(docs.repartition("doc_id"), "doc_id", "text")
    bitmap = bloom_build(sh.filter(F.col("doc_id") % 50 == 0))
    train = sh.filter(F.col("doc_id") % 50 != 0)
    return bloom_probe(train, bitmap, "doc_id")


# ------------------------------------------------------------ x38 semdedup

_SEM_THRESHOLD = 0.35


@register(
    "x38_semdedup",
    # the centroid count SCALES with the corpus (PERF.md #55):
    # greatest(16, n // 128) — identical formula Spark-side, so both
    # engines pick the same cells at every SF (= 16 at the driver's
    # sf0.01 and below; the adaptive branch engages only at scale)
    oracle=f"""
    WITH nn AS (SELECT count(*) AS c FROM embeddings),
    cent AS (SELECT vec_id AS centroid, embedding AS cvec
             FROM embeddings, nn WHERE vec_id < greatest(16, c // 128)),
    assigned AS (
        SELECT e.vec_id, e.embedding, c.centroid,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {sql_cos('e.embedding', 'c.cvec')} DESC, c.centroid
               ) AS crn
        FROM embeddings e CROSS JOIN cent c
    ),
    cells AS (SELECT vec_id, embedding, centroid AS cell
              FROM assigned WHERE crn = 1),
    dups AS (
        SELECT DISTINCT b.vec_id
        FROM cells a JOIN cells b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE {sql_cos('a.embedding', 'b.embedding')} >= {_SEM_THRESHOLD}
    )
    SELECT c.vec_id, c.cell, (d.vec_id IS NULL) AS is_kept
    FROM cells c LEFT JOIN dups d ON c.vec_id = d.vec_id
    """,
)
def x38_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x38 — SemDeDup semantic dedup: cluster embeddings into cells, drop
    every vector whose cosine to a lower-id cell-mate reaches the
    threshold. Pair generation is the cell equi-join (sum |cell|^2, never
    corpus^2) — and the CELL COUNT scales with the corpus
    (greatest(16, n/128), mirrored exactly in the oracle): with cells
    FIXED at 16 the per-cell pair work is n^2/16 — measured x5.5 wall at
    10x vectors (PERF.md #55) — while cells ∝ n bounds expected cell
    size at ~128 and keeps the pair stage linear, which is how the
    SemDeDup paper runs it (50k clusters for LAION; Abbas et al. 2023).
    See operators/similarity.py:semdedup for the 100 TB shape."""
    emb = load(spark, sf_dir, "embeddings")
    n_cells = max(16, emb.count() // 128)
    return semdedup(emb, n_cells=n_cells, threshold=_SEM_THRESHOLD)


# ------------------------------------ x42 entity resolution (SNM + edits)


@register(
    "x42_entity_resolution",
    oracle="""
    WITH r AS (SELECT p_partkey, p_name,
                      row_number() OVER (ORDER BY p_name, p_partkey) AS rnk
               FROM part)
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
    FROM r a JOIN r b ON b.rnk > a.rnk AND b.rnk <= a.rnk + 5
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
)
def x42_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x42 — sorted-neighborhood entity resolution on part names: window
    5 over the name-sorted order, match at edit distance <= 2. The rank
    comes from a prefix-banded two-phase sort (no single-task global
    sort) and the window from a bucketed equi-join (no range join) —
    operators/entity.py documents both 100 TB shapes. Sort-based
    complement to the hash-based blockings (x2/x2c/x3b)."""
    p = load(spark, sf_dir, "part")
    return snm_pairs(p, "p_partkey", "p_name", window=5, max_dist=2)


@register(
    "x44_containment",
    oracle=_MINHASH_CTE
    + """
    , dsh AS (SELECT doc_id, list_distinct(shingles) AS s FROM sh),
    scoredp AS (
        SELECT p.id_a, p.id_b,
               CAST(len(list_filter(a.s, x -> list_contains(b.s, x)))
                    AS BIGINT) AS n_common,
               round(CAST(len(list_filter(a.s, x -> list_contains(b.s, x)))
                          AS DOUBLE) / len(a.s), 6) AS containment_a,
               round(CAST(len(list_filter(a.s, x -> list_contains(b.s, x)))
                          AS DOUBLE) / len(b.s), 6) AS containment_b
        FROM pairs p
        JOIN dsh a ON a.doc_id = p.id_a
        JOIN dsh b ON b.doc_id = p.id_b
    )
    SELECT id_a, id_b, n_common, containment_a, containment_b,
           CASE WHEN containment_a >= 0.9 AND containment_b >= 0.9
                    THEN 'duplicate'
                WHEN containment_a >= 0.9 OR containment_b >= 0.9
                    THEN 'contained'
                ELSE 'overlap' END AS relation
    FROM scoredp
    """,
)
def x44_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x44 — asymmetric containment verify over the LSH candidates:
    |A∩B|/|A| vs |A∩B|/|B| classifies each near-dup pair as duplicate /
    contained (doc-in-doc: quotes, boilerplate wrappers — near-invisible
    to symmetric Jaccard at unequal sizes) / plain overlap. Same
    candidates-only per-pair verify as x2b (operators/dedup.py:
    containment_verify): each pair from its two texts alone."""
    from ..operators.dedup import (
        containment_verify,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = load(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, "doc_id", "text", num_hashes=_N_HASHES)
    pairs = lsh_candidate_pairs(
        sigs, "doc_id", bands=_N_BANDS, rows_per_band=_ROWS_PER_BAND
    )
    return containment_verify(pairs, docs, "doc_id", "text")


# ----------------------------- x47 sparse cosine via inverted index

_TFIDF_FP = 10**5


# df cutoff scales with the corpus: a FIXED df<=50 is vacuous
# past ~500 docs over a bounded vocabulary — at sf0.1 every term exceeded
# it and the whole pipeline emitted 0 rows (caught by SCALING_r11's
# rows_small=0). max(50, n/10) keeps sf0.001/sf0.01 outputs bit-identical
# (10% of 50/500 <= 50) while the corpus-relative stop-term cutoff keeps
# sf0.1 non-vacuous. Fixture caveat (documented, not an engine property):
# the synthetic documents use a CLOSED ~31-term vocabulary, so at large
# enough n EVERY term legitimately becomes a stop term (df ~ n/1.3) and
# the posting set empties — a Zipfian real corpus always keeps a rare
# tail under a fractional cutoff.
_TFIDF_MAXDF = 50


_TFIDF_DF_DIV = 10


_TFIDF_TOPK = 20


@register(
    "x47_sparse_cosine",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
           GROUP BY doc_id, term),
    n_docs AS (SELECT count(*) AS n FROM documents),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    post AS (
        SELECT tf.doc_id, tf.term,
               least(tf.tf * CAST(floor(ln(CAST(n_docs.n AS DOUBLE) / df.df)
                                        * {_TFIDF_FP}.0) AS BIGINT),
                     30000000) AS w
        FROM tf JOIN df USING (term), n_docs
        WHERE df.df <= greatest({_TFIDF_MAXDF}, n_docs.n // {_TFIDF_DF_DIV})
    ),
    norms AS (SELECT doc_id, sum(w * w) AS n2 FROM post GROUP BY doc_id
              HAVING sum(w * w) > 0),
    dots AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(a.w * b.w) AS dot
        FROM post a JOIN post b
          ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           round(CAST(dot AS DOUBLE)
                 / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))),
                 6) AS cos_sim
    FROM dots
    JOIN norms na ON na.doc_id = id_a
    JOIN norms nb ON nb.doc_id = id_b
    ORDER BY cos_sim DESC, id_a, id_b
    LIMIT {_TFIDF_TOPK}
    """,
)
def x47_sparse_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x47 — SPARSE document similarity through an inverted-index join:
    TF-IDF postings self-joined on the term (the posting-list
    intersection), pairwise dots summed, cosine from precomputed norms,
    global top-k pairs. The sparse complement to the dense-embedding ANN
    family (x3*): no vectors, no LSH — candidate pairs exist ONLY where
    a shared term exists.

    Scale levers, both explicit: (1) document-frequency pruning
    (df <= max({_TFIDF_MAXDF}, n/{_TFIDF_DF_DIV}) — the corpus-relative
    stop-term cutoff, so it neither goes vacuous as the corpus grows
    nor unbounded at 50M docs) bounds every posting list, so the
    self-join fan-out is sum over terms of df^2 with df capped — the
    standard cutoff that keeps term-at-a-time similarity subquadratic;
    (2) IDF weights are fixed-point BIGINT, so dot products are integer
    sums — deterministic under any partitioning — with doubles touched
    once at the final normalize. Top-k is TakeOrderedAndProject."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    post = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_docs))
        .filter(
            F.col("df")
            <= F.greatest(
                F.lit(_TFIDF_MAXDF),
                (F.col("n") / _TFIDF_DF_DIV).cast("bigint"),
            )
        )
        .select(
            "doc_id",
            "term",
            # clamp: an extreme-tf document must saturate, not
            # ANSI-overflow the BIGINT w*w sums (the x15/x46 policy);
            # 3e7 keeps 1e4 postings/doc inside Long.MAX
            F.least(
                F.col("tf")
                * F.floor(
                    F.log(F.col("n").cast("double") / F.col("df"))
                    * _TFIDF_FP
                ).cast("bigint"),
                F.lit(30_000_000).cast("bigint"),
            ).alias("w"),
        )
    )
    # eager: three independent consumers (norms + both self-join sides)
    # fan out concurrently — a lazy persist lets each recompute the
    # tokens->tf->df->weight pipeline until the cache fills
    post = eager(post)
    # zero-norm docs (every surviving term has idf 0) are droppable, not
    # divisible: Spark dot/0.0 = NaN sorts FIRST desc while DuckDB NULL
    # sorts last — an engine-divergent top-k
    norms = (
        post.groupBy("doc_id")
        .agg(F.sum(F.col("w") * F.col("w")).alias("n2"))
        .filter(F.col("n2") > 0)
    )
    a = post.select(F.col("doc_id").alias("id_a"), "term", F.col("w").alias("_wa"))
    b = post.select(F.col("doc_id").alias("id_b"), "term", F.col("w").alias("_wb"))
    dots = (
        a.join(b, "term")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("_wa") * F.col("_wb")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("id_a"), F.col("n2").alias("_na"))
    nb = norms.select(F.col("doc_id").alias("id_b"), F.col("n2").alias("_nb"))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("_na").cast("double"))
                    * F.sqrt(F.col("_nb").cast("double"))
                ),
                6,
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "id_a", "id_b")
        .limit(_TFIDF_TOPK)
    )
