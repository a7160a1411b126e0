"""Catalog entries for the second batch of LLM-data-pipeline extensions
(SURVEY.md §2 group X): near-dup cluster assignment (the step after x2's
candidate pairs), TF-IDF characteristic terms, and sequence packing into
fixed-token training chunks.

The reference (sarafa19/Data-Lakes-tp2-student) has none of this surface —
it is mandated by the driver's north star (dedup / text analysis at 100 TB
scale); see SURVEY.md §2.X.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.dedup import (
    dup_clusters,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash,
    simhash_pairs,
)
from ..operators.textops import pack_sequences, tfidf_top_terms, token_counts
from ..registry import load, register
from .llm_ops import _MINHASH_CTE, _N_BANDS, _N_HASHES, _ROWS_PER_BAND, _SIMHASH_CTE

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
    "x4d_tfidf_topk",
    oracle="""
    WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY doc_id, term),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               round(CAST(tf.tf AS DOUBLE)
                     * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df), 6) AS tfidf
        FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
        FROM scored
    )
    SELECT doc_id, term, tfidf FROM ranked WHERE rn <= 3
    """,
)
def x4d_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x4 — top-3 characteristic terms per document by TF-IDF (three hash
    aggs + one term join + per-doc window top-k; corpus size joins in as a
    broadcast 1-row crossJoin, no driver collect)."""
    docs = load(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, "doc_id", "text", k=3)


@register(
    "x10_pack_sequences",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source,
               CAST(ceil(CAST(length(text) AS DOUBLE) / 4.0) AS BIGINT)
                   AS est_bpe_tokens
        FROM documents
    ),
    placed AS (
        SELECT doc_id, source, est_bpe_tokens,
               CAST(COALESCE(sum(est_bpe_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS token_offset
        FROM toks
    )
    SELECT doc_id, source, est_bpe_tokens, token_offset,
           token_offset // 4096 AS chunk_id
    FROM placed
    """,
)
def x10_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x10 — pack documents head-to-tail into 4096-token training chunks,
    per source shard (per-group window prefix-sum; exact bigint)."""
    docs = load(spark, sf_dir, "documents")
    toks = token_counts(docs, "text").select("doc_id", "source", "est_bpe_tokens")
    return pack_sequences(
        toks, "doc_id", "source", "est_bpe_tokens", budget=4096
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
    # hash-partition the docs by id before exploding (round 15): Generate
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
    """x32 — CROSS-DOCUMENT substring dedup (VERDICT r4 item 5): MinHash
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
    # so engine and oracle can never drift (r10's lockstep practice)
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
    """x32b — x32 with the two POLICY levers a 100 TB corpus needs
    (round 11, VERDICT r10 item 1). The r11 scaling instrument measured
    x32's exact output relation growing x5188 at a 30x corpus, and two
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
