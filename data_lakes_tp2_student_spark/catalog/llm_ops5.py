"""Catalog entries — round-5 extension wave (SURVEY.md §2 group X):
weighted / stratified-weighted sampling (x35, x43), graph analytics over
the shared kNN similarity graph (x36 triangles, x40 label propagation),
Bloom-filter decontamination (x37), SemDeDup semantic dedup (x38),
Spark 4 Variant extraction (x39) and a Python UDTF (j4), incremental MV
maintenance (x41), sorted-neighborhood entity resolution (x42), shingle
containment (x44), sweep-line interval concurrency (x45), fixed-point
Lloyd k-means (x46), sparse TF-IDF cosine (x47), and first-touch
attribution (x48).

The reference (sarafa19/Data-Lakes-tp2-student) has none of these — its
whole surface is pandas ETL over one protein CSV (SURVEY.md §0); all of
this is Layer-B training-data-pipeline extension surface.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.compute import eager
from ..operators.bloom import M_BITS, WORD, bloom_build, bloom_probe
from .llm_ops import _SHINGLE_CTE
from ..operators.dedup import exploded_shingles
from ..operators.entity import snm_pairs
from ..operators.graph import label_propagation, triangle_count
from ..operators.sampling import stratified_weighted_sample, weighted_sample
from ..operators.similarity import knn_bruteforce, semdedup
from ..registry import load, register
from .llm_ops import _sql_cos

# ------------------------------------------------------------ x38 semdedup

_SEM_THRESHOLD = 0.35


@register(
    "x38_semdedup",
    # the centroid count SCALES with the corpus (round 10, PERF.md #55):
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
                   ORDER BY {_sql_cos('e.embedding', 'c.cvec')} DESC, c.centroid
               ) AS crn
        FROM embeddings e CROSS JOIN cent c
    ),
    cells AS (SELECT vec_id, embedding, centroid AS cell
              FROM assigned WHERE crn = 1),
    dups AS (
        SELECT DISTINCT b.vec_id
        FROM cells a JOIN cells b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE {_sql_cos('a.embedding', 'b.embedding')} >= {_SEM_THRESHOLD}
    )
    SELECT c.vec_id, c.cell, (d.vec_id IS NULL) AS is_kept
    FROM cells c LEFT JOIN dups d ON c.vec_id = d.vec_id
    """,
)
def x38_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x38 — SemDeDup semantic dedup: cluster embeddings into cells, drop
    every vector whose cosine to a lower-id cell-mate reaches the
    threshold. Pair generation is the cell equi-join (sum |cell|^2, never
    corpus^2) — and as of round 10 the CELL COUNT scales with the corpus
    (greatest(16, n/128), mirrored exactly in the oracle): with cells
    FIXED at 16 the per-cell pair work is n^2/16 — measured x5.5 wall at
    10x vectors (PERF.md #55) — while cells ∝ n bounds expected cell
    size at ~128 and keeps the pair stage linear, which is how the
    SemDeDup paper runs it (50k clusters for LAION; Abbas et al. 2023).
    See operators/similarity.py:semdedup for the 100 TB shape."""
    emb = load(spark, sf_dir, "embeddings")
    n_cells = max(16, emb.count() // 128)
    return semdedup(emb, n_cells=n_cells, threshold=_SEM_THRESHOLD)


# ----------------------------------------------- x39 Variant semi-structured


@register(
    "x39_variant_extract",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
               AS sum_k,
           round(avg(CAST(json_extract(props, '$.k') AS BIGINT)), 6) AS avg_k
    FROM events GROUP BY event_type
    """,
)
def x39_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x39 — Spark 4 VariantType path for semi-structured columns:
    `parse_json` shreds the JSON payload ONCE into the binary Variant
    encoding, then `variant_get` does typed path extraction — O(1)
    field access per row instead of re-parsing JSON text per extracted
    field (the `get_json_object` fallback used by h5d). At rest, Variant
    columns store shredded subfields with parquet min/max stats, so
    predicates on `$.k` can prune row groups — the scale rationale for
    preferring Variant over JSON strings at 100 TB."""
    ev = load(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "bigint")
    return (
        ev.select("event_type", k.alias("_k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_k").alias("sum_k"),
            F.round(F.avg("_k"), 6).alias("avg_k"),
        )
    )


# --------------------------------------------------- x35 weighted sampling

_W_SQL_U = (
    "greatest(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) "
    "AS BIGINT) / power(2.0, 48), power(2.0, -48))"
)


@register(
    "x35_weighted_sample",
    oracle=f"""
    SELECT doc_id, source, n_chars,
           round(ln({_W_SQL_U}) / n_chars, 9) AS sample_key
    FROM documents
    WHERE n_chars > 0
    ORDER BY sample_key DESC, doc_id
    LIMIT 100
    """,
)
def x35_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x35 — Efraimidis–Spirakis weighted sample without replacement
    (k=100, weight = document length): rows with the k largest ln(u)/w
    keys, u from 48 bits of md5(doc_id) so any engine reproduces the
    exact sample. Top-k runs as TakeOrderedAndProject — the exchange
    carries k rows, never the corpus (operators/sampling.py)."""
    docs = load(spark, sf_dir, "documents")
    return weighted_sample(
        docs.select("doc_id", "source", "n_chars"),
        id_col="doc_id",
        weight_col="n_chars",
        k=100,
    )


# ------------------------------------------------- x36 triangle counting

_TRI_N = 200

# 3-NN similarity graph over the first 200 embeddings — shared by the
# graph-analytics oracles (x36 triangles, x40 label propagation)
_KNN_EDGES_CTE = f"""
    sub AS (SELECT vec_id, embedding FROM embeddings
            WHERE vec_id < {_TRI_N}),
    scored AS (
        SELECT q.vec_id AS qid, e.vec_id AS nid,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {_sql_cos('e.embedding', 'q.embedding')} DESC,
                            e.vec_id
               ) AS rn
        FROM sub e CROSS JOIN sub q
        WHERE e.vec_id <> q.vec_id
    ),
    knn AS (SELECT qid, nid FROM scored WHERE rn <= 3),
    edges AS (SELECT DISTINCT least(qid, nid) AS u, greatest(qid, nid) AS v
              FROM knn)
"""


def _knn_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < _TRI_N)
    nn = knn_bruteforce(emb, emb, k=3)
    return nn.select(
        F.least("query_id", "neighbor_id").alias("id_a"),
        F.greatest("query_id", "neighbor_id").alias("id_b"),
    ).distinct()


@register(
    "x36_triangle_count",
    oracle=f"""
    WITH {_KNN_EDGES_CTE},
    sym AS (SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges),
    deg AS (SELECT u, count(*) AS deg FROM sym GROUP BY u),
    oriented AS (
        SELECT s.u AS a, s.v AS b
        FROM sym s
        JOIN deg da ON da.u = s.u
        JOIN deg db ON db.u = s.v
        WHERE (da.deg < db.deg) OR (da.deg = db.deg AND s.u < s.v)
    ),
    wedges AS (
        SELECT o1.a AS r, o1.b AS x, o2.b AS y
        FROM oriented o1 JOIN oriented o2 ON o1.a = o2.a AND o1.b < o2.b
    ),
    closed AS (
        SELECT w.r, w.x, w.y
        FROM wedges w JOIN edges e ON e.u = w.x AND e.v = w.y
    ),
    tri AS (
        SELECT u, count(*) AS triangles FROM (
            SELECT r AS u FROM closed
            UNION ALL SELECT x AS u FROM closed
            UNION ALL SELECT y AS u FROM closed
        ) GROUP BY u
    )
    SELECT deg.u AS doc_id, deg.deg AS degree,
           CAST(coalesce(tri.triangles, 0) AS BIGINT) AS triangles,
           round(coalesce(tri.triangles, 0) * 2.0
                 / (deg.deg * (deg.deg - 1)), 6) AS clustering
    FROM deg LEFT JOIN tri ON tri.u = deg.u
    WHERE deg.deg >= 2
    """,
)
def x36_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x36 — per-node triangles + local clustering coefficient over the
    3-NN graph of the first 200 embeddings (an undirected similarity
    graph with real triangles). Degree-ordered orientation caps wedge
    fan-out at O(sqrt(m)) per node — the skew-proof distributed triangle
    algorithm (operators/graph.py:triangle_count)."""
    return triangle_count(_knn_edges(spark, sf_dir))


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
    # repartition docs by id before exploding (round 15): parallelizes the
    # explosion off the single-file scan and makes bloom_probe's per-doc
    # aggregation exchange-free (Generate preserves partitioning)
    sh = exploded_shingles(docs.repartition("doc_id"), "doc_id", "text")
    bitmap = bloom_build(sh.filter(F.col("doc_id") % 50 == 0))
    train = sh.filter(F.col("doc_id") % 50 != 0)
    return bloom_probe(train, bitmap, "doc_id")


# -------------------------------------------------- j4 Python UDTF (Spark 4)

_CHUNK_W = 20


@register(
    "j4_udtf_chunks",
    oracle=f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
               FROM documents WHERE doc_id < 100),
    c AS (
        SELECT doc_id, words,
               unnest(range(0, CAST(ceil(len(words) / {_CHUNK_W}.0) AS BIGINT)))
                   AS chunk_id
        FROM w
    )
    SELECT doc_id,
           CAST(chunk_id AS INT) AS chunk_id,
           array_to_string(
               words[chunk_id * {_CHUNK_W} + 1 : chunk_id * {_CHUNK_W} + {_CHUNK_W}],
               ' ') AS chunk,
           CAST(least(len(words) - chunk_id * {_CHUNK_W}, {_CHUNK_W}) AS INT)
               AS n_tokens
    FROM c
    """,
)
def j4_udtf_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j4 — a real Spark 4 Python UDTF (one row in, N rows out with
    imperative logic), lateral-joined per document: fixed 20-word
    chunking. API-parity demo for the reference's row-expanding
    tokenization step (src/process_to_curated.py:22-29); the PRODUCTION
    chunker stays the pure-column explode in x25/llm_ops3 (JVM codegen,
    no Python round-trip) — the UDTF exists for logic a column expression
    can't state. Bounded here to doc_id < 100 to keep the Python-path
    cost honest in the bench."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id: bigint, chunk_id: int, chunk: string, n_tokens: int")
    class ChunkWords:
        def eval(self, doc_id: int, text: str):
            if text is None:  # no content -> no chunks (matches the SQL
                return        # oracle: string_split(NULL) yields no rows)
            words = text.split(" ")
            for i in range(0, len(words), _CHUNK_W):
                part = words[i : i + _CHUNK_W]
                yield doc_id, i // _CHUNK_W, " ".join(part), len(part)

    spark.udtf.register("chunk_words", ChunkWords)
    docs = load(spark, sf_dir, "documents")
    docs.filter(F.col("doc_id") < 100).createOrReplaceTempView("_j4_docs")
    return spark.sql(
        """
        SELECT c.doc_id, c.chunk_id, c.chunk, c.n_tokens
        FROM _j4_docs d, LATERAL chunk_words(d.doc_id, d.text) c
        """
    )


# --------------------------------------------- x40 label propagation (LPA)


@register(
    "x40_label_propagation",
    oracle=f"""
    WITH {_KNN_EDGES_CTE},
    nodes AS (SELECT DISTINCT u FROM (SELECT u FROM edges UNION ALL SELECT v AS u FROM edges)),
    sym AS (SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges),
    l0 AS (SELECT u AS node, u AS label FROM nodes)
    , c1 AS (
        SELECT s.u, l.label, count(*) AS c
        FROM sym s JOIN l0 l ON l.node = s.v
        GROUP BY s.u, l.label
    ),
    l1 AS (
        SELECT u AS node, label FROM (
            SELECT u, label,
                   row_number() OVER (PARTITION BY u ORDER BY c DESC, label)
                       AS rn
            FROM c1
        ) WHERE rn = 1
    )
    , c2 AS (
        SELECT s.u, l.label, count(*) AS c
        FROM sym s JOIN l1 l ON l.node = s.v
        GROUP BY s.u, l.label
    ),
    l2 AS (
        SELECT u AS node, label FROM (
            SELECT u, label,
                   row_number() OVER (PARTITION BY u ORDER BY c DESC, label)
                       AS rn
            FROM c2
        ) WHERE rn = 1
    )
    , c3 AS (
        SELECT s.u, l.label, count(*) AS c
        FROM sym s JOIN l2 l ON l.node = s.v
        GROUP BY s.u, l.label
    ),
    l3 AS (
        SELECT u AS node, label FROM (
            SELECT u, label,
                   row_number() OVER (PARTITION BY u ORDER BY c DESC, label)
                       AS rn
            FROM c3
        ) WHERE rn = 1
    )
    SELECT node AS doc_id, label AS community FROM l3
    """,
)
def x40_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x40 — deterministic label-propagation communities over the same
    3-NN similarity graph as x36: 3 synchronous rounds, most-frequent
    neighbor label, ties to the smallest label. Companion to the
    connected-components clustering (x2e) — LPA splits dense subregions
    that CC merges (operators/graph.py:label_propagation)."""
    return label_propagation(_knn_edges(spark, sf_dir), iterations=3)


# -------------------------------------- x41 incremental MV maintenance

_MV_CUTOFF = "2024-01-20 00:00:00"


@register(
    "x41_mv_incremental",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM events GROUP BY event_type
    """,
)
def x41_mv_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x41 — incremental materialized-view maintenance: the per-type
    (count, sum) MV is computed over the BASE partition (ts < cutoff),
    the DELTA partition's partial aggregate is merged in with a full
    outer join + coalesced addition — and the oracle recomputes the
    aggregate over the whole table in one pass, proving merge ==
    recompute. This is the algebraic-aggregate contract that makes
    count/sum/avg MVs maintainable from appended partitions without
    re-reading history (sums are BIGINT cents, so the merge is exact
    under any split — float sums would differ by association order).
    At scale the delta pass reads only new partitions: maintenance cost
    follows the append rate, not table size."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("_cents"),
    )
    cut = F.lit(_MV_CUTOFF).cast("timestamp")

    def agg(d: DataFrame, n: str, s: str) -> DataFrame:
        return d.groupBy("event_type").agg(
            F.count(F.lit(1)).alias(n), F.sum("_cents").alias(s)
        )

    # Null-safe partitioning: a NULL ts fails BOTH `ts < cut` and
    # `ts >= cut`, which would silently drop the row from the maintained
    # view while a single-pass recompute (the oracle) counts it. Every
    # row must land in exactly one partition — NULL ts rides with delta.
    in_base = F.coalesce(F.col("ts") < cut, F.lit(False))
    base = agg(ev.filter(in_base), "_nb", "_sb")
    delta = agg(ev.filter(~in_base), "_nd", "_sd")
    z = F.lit(0).cast("bigint")
    return base.join(delta, "event_type", "full_outer").select(
        "event_type",
        (F.coalesce("_nb", z) + F.coalesce("_nd", z)).alias("n"),
        (F.coalesce("_sb", z) + F.coalesce("_sd", z)).alias("sum_cents"),
    )


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


# -------------------------------- x43 stratified weighted sampling


@register(
    "x43_stratified_weighted_sample",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, source, n_chars,
               round(ln({_W_SQL_U}) / n_chars, 9) AS sample_key
        FROM documents WHERE n_chars > 0
    ),
    r AS (
        SELECT *, row_number() OVER (
                   PARTITION BY source ORDER BY sample_key DESC, doc_id
               ) AS rank_in_stratum
        FROM keyed
    )
    SELECT doc_id, source, n_chars, sample_key,
           CAST(rank_in_stratum AS BIGINT) AS rank_in_stratum
    FROM r WHERE rank_in_stratum <= 20
    """,
)
def x43_stratified_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x43 — exactly 20 documents per source, drawn by length-weighted
    A-ES keys: the domain-balanced, quality-weighted corpus draw (f6's
    stratified shape x x35's weighted key). WindowGroupLimit keeps the
    per-stratum exchange at ~k rows per map task
    (operators/sampling.py:stratified_weighted_sample)."""
    docs = load(spark, sf_dir, "documents")
    return stratified_weighted_sample(
        docs.select("doc_id", "source", "n_chars"),
        stratum_col="source",
        id_col="doc_id",
        weight_col="n_chars",
        k=20,
    )


# --------------------------------------- x44 shingle containment verify

from .llm_ops import _MINHASH_CTE, _N_BANDS, _N_HASHES, _ROWS_PER_BAND  # noqa: E402


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
    candidates-only join shape as x2b (operators/dedup.py:
    containment_verify)."""
    from ..operators.dedup import (
        containment_verify,
        distinct_shingles,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from ..functions.compute import eager

    docs = load(spark, sf_dir, "documents")
    # Shared distinct shingle table, hash-partitioned by doc_id (round 15;
    # see x2b / operators/dedup.py:distinct_shingles for the reuse argument).
    sh = eager(distinct_shingles(docs, "doc_id", "text"))
    sigs = minhash_signatures(
        docs, "doc_id", "text", num_hashes=_N_HASHES, shingles=sh
    )
    pairs = lsh_candidate_pairs(
        sigs, "doc_id", bands=_N_BANDS, rows_per_band=_ROWS_PER_BAND
    )
    return containment_verify(
        pairs, docs, "doc_id", "text", shingles=sh, shingles_are_distinct=True
    )


# -------------------------------- x45 sweep-line interval concurrency


@register(
    "x45_max_concurrency",
    oracle="""
    WITH pts AS (
        SELECT event_type, ts AS t, 1 AS delta, event_id FROM events
        UNION ALL
        SELECT event_type, ts + INTERVAL 10 MINUTE AS t, -1 AS delta,
               event_id
        FROM events
    ),
    running AS (
        SELECT event_type,
               sum(delta) OVER (
                   PARTITION BY event_type
                   ORDER BY t, delta, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS live
        FROM pts
    )
    SELECT event_type, CAST(max(live) AS BIGINT) AS max_concurrent
    FROM running GROUP BY event_type
    """,
)
def x45_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x45 — sweep-line interval concurrency: each event holds a
    10-minute half-open interval; +1/-1 boundary points, a running sum in
    boundary order, and the per-type max is the peak number of
    simultaneously-open intervals. Ends sort BEFORE starts at the same
    instant (delta ascending), which encodes half-open semantics; the
    residual tie on event_id makes every prefix engine-identical. The
    classic capacity-planning query, one window — no self-join on
    overlap (the O(n^2) formulation c6 would need).

    Scale: the window partitions by type; within a hot type the sort is
    the same single-key ordered aggregation any engine needs — at 100 TB
    pre-bucket by coarse time range and take per-range maxima plus
    boundary corrections (two-phase, same trick as e3c's rank)."""
    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        "event_type", F.col("ts").alias("t"), F.lit(1).alias("delta"), "event_id"
    ).unionByName(
        ev.select(
            "event_type",
            (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("t"),
            F.lit(-1).alias("delta"),
            "event_id",
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("t", "delta", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        pts.withColumn("live", F.sum("delta").over(w))
        .groupBy("event_type")
        .agg(F.max("live").cast("bigint").alias("max_concurrent"))
    )


# ------------------------------------ x46 Lloyd k-means (fixed-point)

_KM_K = 8
_KM_FP = 10**7


def _km_oracle() -> str:
    head = f"""
    WITH vecl AS (
        SELECT vec_id, unnest(range(0, len(embedding))) AS dim, embedding
        FROM embeddings
    ),
    q AS (
        SELECT vec_id, dim,
               CAST(least(greatest(
                        floor(CAST(embedding[CAST(dim AS INT) + 1] AS DOUBLE)
                              * {_KM_FP}.0),
                        -180000000.0), 180000000.0) AS BIGINT) AS qx
        FROM vecl
    ),
    c0 AS (SELECT vec_id AS cluster, dim, qx AS qc FROM q
           WHERE vec_id < {_KM_K})"""
    steps = []
    for i in (1, 2):
        steps.append(f"""
    d{i} AS (
        SELECT q.vec_id, c.cluster,
               sum((q.qx - c.qc) * (q.qx - c.qc)) AS d
        FROM q JOIN c{i-1} c USING (dim)
        GROUP BY q.vec_id, c.cluster
    ),
    a{i} AS (
        SELECT vec_id, cluster FROM (
            SELECT vec_id, cluster,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY d, cluster) AS rn
            FROM d{i}
        ) WHERE rn = 1
    ),
    c{i} AS (
        SELECT a.cluster, q.dim, sum(q.qx) // count(*) AS qc
        FROM q JOIN a{i} a USING (vec_id)
        GROUP BY a.cluster, q.dim
    )""")
    return (
        head + "," + ",".join(steps)
        + "\n    SELECT vec_id, CAST(cluster AS BIGINT) AS cluster FROM a2"
    )


@register("x46_kmeans", oracle=_km_oracle())
def x46_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x46 — Lloyd k-means over the embeddings (k=8, two assign/update
    rounds, deterministic init = the first k vectors), entirely in
    DataFrame ops with FIXED-POINT math: coordinates quantize to BIGINT
    (1e-7 grid), distances are integer squared-Euclidean sums, centroid
    means use truncating integer division — every engine computes
    bit-identical assignments under any partitioning (float centroids
    would drift with shuffle order; Spark `div` and DuckDB `//` both
    truncate toward zero, verified).

    Scale shape: vectors live in LONG form (id, dim, qx) — the distance
    pass is an equi-join on dim against the k x dims centroid table
    (broadcast: k*dims rows regardless of corpus), partial-aggregated by
    (id, cluster); the update is one groupBy (cluster, dim). Per round:
    two shuffles, both corpus-pass-bounded; lineage stays bounded by the
    fixed round count like `pagerank`. The IVF cells (x3c) reuse exactly
    this assignment topology with unrefined centroids."""
    emb = load(spark, sf_dir, "embeddings")
    vec = (
        emb.select("vec_id", F.posexplode("embedding").alias("dim", "_x"))
        .select(
            "vec_id",
            F.col("dim").cast("bigint").alias("dim"),
            # clamp to +-1.8e8 (coords beyond +-18 saturate): 64 squared
            # diffs of clamped values stay under Long.MAX, so one garbage
            # vector cannot ANSI-overflow the distance sum mid-job
            F.least(
                F.greatest(
                    F.floor(F.col("_x").cast("double") * _KM_FP),
                    F.lit(-1.8e8),
                ),
                F.lit(1.8e8),
            )
            .cast("bigint")
            .alias("qx"),
        )
    )
    # eager, not bare persist: the round-1 broadcast build of `cent` is a
    # separate job racing the main consumers over the uncached explode/
    # quantize subtree (review r6; compute.eager documents the stampede)
    vec = eager(vec)
    cent = vec.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cluster"), "dim", F.col("qx").alias("qc")
    )
    assign = None
    for _ in range(2):
        dist = (
            vec.join(F.broadcast(cent), "dim")
            .groupBy("vec_id", "cluster")
            .agg(
                F.sum(
                    (F.col("qx") - F.col("qc")) * (F.col("qx") - F.col("qc"))
                ).alias("d")
            )
        )
        w = Window.partitionBy("vec_id").orderBy("d", "cluster")
        assign = (
            dist.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("vec_id", "cluster")
        )
        cent = (
            vec.join(assign, "vec_id")
            .groupBy("cluster", "dim")
            .agg(F.expr("sum(qx) div count(1)").alias("qc"))
        )
    return assign.select("vec_id", F.col("cluster").cast("bigint").alias("cluster"))


# ----------------------------- x47 sparse cosine via inverted index

_TFIDF_FP = 10**5
# df cutoff scales with the corpus (round 11): a FIXED df<=50 is vacuous
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
    # tokens->tf->df->weight pipeline until the cache fills (review r6)
    post = eager(post)
    # zero-norm docs (every surviving term has idf 0) are droppable, not
    # divisible: Spark dot/0.0 = NaN sorts FIRST desc while DuckDB NULL
    # sorts last — an engine-divergent top-k (found in review)
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


# ---------------------------- x48 first-touch attribution (banded join)

_ATTR_W_US = 30 * 60 * 1_000_000  # 30-minute lookback


@register(
    "x48_first_touch_attribution",
    oracle=f"""
    WITH p AS (SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS pus
               FROM events WHERE event_type = 'purchase'),
    t AS (SELECT user_id, event_type, event_id AS tid, epoch_us(ts) AS tus
          FROM events WHERE event_type <> 'purchase'),
    cand AS (
        SELECT p.purchase_id, t.event_type, t.tus, t.tid
        FROM p JOIN t ON t.user_id = p.user_id
         AND t.tus < p.pus AND t.tus >= p.pus - {_ATTR_W_US}
    ),
    first AS (
        SELECT purchase_id, event_type FROM (
            SELECT purchase_id, event_type,
                   row_number() OVER (
                       PARTITION BY purchase_id ORDER BY tus, tid) AS rn
            FROM cand
        ) WHERE rn = 1
    )
    SELECT p.purchase_id, p.user_id,
           coalesce(f.event_type, 'direct') AS first_touch
    FROM p LEFT JOIN first f ON f.purchase_id = p.purchase_id
    """,
)
def x48_first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x48 — first-touch attribution: each purchase credits the EARLIEST
    non-purchase event by the same user inside a 30-minute lookback
    ('direct' when none). The lookback join is the c6b banded equi-join
    specialized with the user in the key — (user, time-band) buckets,
    the purchase side exploding the exactly-2 bands its window can
    touch — so neither side broadcasts and cost stays ∝ matches + band
    occupancy (a per-user range join would be a nested loop). Timestamps
    compare in exact integer microseconds; ties break on event id."""
    ev = load(spark, sf_dir, "events")
    w = _ATTR_W_US
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.unix_micros("ts").alias("_pus"),
    )
    t = ev.filter(F.col("event_type") != "purchase").select(
        "user_id",
        "event_type",
        F.col("event_id").alias("_tid"),
        F.unix_micros("ts").alias("_tus"),
        F.expr(f"unix_micros(ts) div {w}").alias("_band"),
    )
    pb = p.withColumn(
        "_band",
        F.explode(
            F.sequence(
                F.expr(f"(_pus - {w}) div {w}"), F.expr(f"_pus div {w}")
            )
        ),
    )
    cand = pb.join(t, ["user_id", "_band"]).filter(
        (F.col("_tus") < F.col("_pus")) & (F.col("_tus") >= F.col("_pus") - w)
    )
    wdw = Window.partitionBy("purchase_id").orderBy("_tus", "_tid")
    first = (
        cand.withColumn("_rn", F.row_number().over(wdw))
        .filter(F.col("_rn") == 1)
        .select("purchase_id", F.col("event_type").alias("_ft"))
    )
    return p.join(first, "purchase_id", "left").select(
        "purchase_id",
        "user_id",
        F.coalesce("_ft", F.lit("direct")).alias("first_touch"),
    )


# --------------------------- j5 pandas GROUPED_AGG UDAF (trimmed mean)


@register(
    "j5_grouped_agg_udaf",
    oracle="""
    WITH cents AS (
        SELECT o_orderpriority,
               CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c,
               o_orderkey
        FROM orders
    ),
    ranked AS (
        SELECT o_orderpriority, c,
               row_number() OVER (
                   PARTITION BY o_orderpriority ORDER BY c, o_orderkey
               ) AS rn,
               count(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM cents
    ),
    trimmed AS (
        SELECT o_orderpriority, c
        FROM ranked
        WHERE rn > n // 10 AND rn <= n - n // 10
    )
    SELECT o_orderpriority,
           count(*) AS n_kept,
           round(CAST(sum(c) AS DOUBLE) / count(*) / 100.0, 6)
               AS trimmed_mean
    FROM trimmed GROUP BY o_orderpriority
    """,
)
def j5_grouped_agg_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j5 — a REAL pandas GROUPED_AGG UDAF (Arrow-batched per-group
    aggregation, the Spark analog of a custom aggregate function): 10%
    two-sided trimmed mean of order value per priority. Inside the UDAF
    everything is integer cents — sort, trim counts, int64 sum — so the
    result is bit-identical to the oracle's window formulation no matter
    how Arrow batches arrive (a float accumulation would drift with
    batch order). The UDAF path exists for aggregation logic SQL can't
    state in one expression; the engine's default remains built-in
    aggregates (d-group), which stay JVM-side."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def trimmed_mean_cents(c: pd.Series) -> float:
        vals = c.sort_values(kind="stable").to_numpy()
        k = len(vals) // 10
        kept = vals[k : len(vals) - k]
        # rounding stays OUTSIDE the UDF (similarity.py discipline):
        # Python round() is half-to-even, DuckDB/Spark round is half
        # away from zero — a .5-exact double would diverge (review r6)
        return float(kept.sum()) / len(kept) / 100.0

    @pandas_udf("long")
    def trimmed_count(c: pd.Series) -> int:
        k = len(c) // 10
        return int(len(c) - 2 * k)

    o = load(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("_c"),
    )
    return o.groupBy("o_orderpriority").agg(
        trimmed_count(F.col("_c")).alias("n_kept"),
        F.round(trimmed_mean_cents(F.col("_c")), 6).alias("trimmed_mean"),
    )


# ------------------------- j6 applyInPandas grouped-map (z-score)


@register(
    "j6_grouped_map_udf",
    oracle="""
    WITH cents AS (
        SELECT o_orderkey, o_orderpriority,
               CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c
        FROM orders
    ),
    g AS (
        SELECT o_orderpriority, sum(c) AS sc, sum(c * c) AS sc2,
               count(*) AS n
        FROM cents GROUP BY o_orderpriority
    )
    SELECT c.o_orderkey, c.o_orderpriority,
           round((CAST(c.c AS DOUBLE) - CAST(g.sc AS DOUBLE) / g.n)
                 / sqrt(CAST(g.n * g.sc2 - g.sc * g.sc AS DOUBLE)
                        / CAST(g.n * (g.n - 1) AS DOUBLE)),
                 6) AS z
    FROM cents c JOIN g USING (o_orderpriority)
    """,
)
def j6_grouped_map_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j6 — a REAL applyInPandas grouped-map transform (whole group in,
    whole group out): per-priority z-score standardization of order
    value. The group moments are exact INTEGER sums in arbitrary-
    precision Python ints (an int64 sum of squares overflows around 30k
    rows/group; a float sum drifts with Arrow batch order), and the
    float expression then runs in the same operation order as the
    oracle, so every z is bit-identical. applyInPandas is for per-group
    logic needing the whole group materialized; the expression-only
    formulation (the oracle's join shape) remains the scale default —
    this entry pins the API and its determinism discipline. Requires
    every group >= 2 rows (sample std)."""
    def standardize(pdf: pd.DataFrame) -> pd.DataFrame:
        import math

        ints = [int(v) for v in pdf["_c"]]
        n = len(ints)
        sc = sum(ints)
        sc2 = sum(v * v for v in ints)
        mean = float(sc) / n
        std = math.sqrt(float(n * sc2 - sc * sc) / float(n * (n - 1)))
        # unrounded: engine-native F.round applies outside (review r6 —
        # pandas .round is half-to-even, the oracle's round is not)
        z = (pdf["_c"].astype("float64") - mean) / std
        return pd.DataFrame(
            {
                "o_orderkey": pdf["o_orderkey"],
                "o_orderpriority": pdf["o_orderpriority"],
                "z": z,
            }
        )

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("_c"),
    )
    return o.groupBy("o_orderpriority").applyInPandas(
        standardize, "o_orderkey long, o_orderpriority string, z double"
    ).withColumn("z", F.round("z", 6))


# ------------------------------------ x49 WebDataset TAR shard reading

_TAR_MEMBER_CTE = """
    m AS (
        SELECT doc_id,
               unnest(range(0, doc_id % 3 + 1)) AS j
        FROM documents
    ),
    feat AS (
        SELECT doc_id,
               printf('%08d', doc_id) || '.' ||
                   CASE j WHEN 0 THEN 'txt' WHEN 1 THEN 'jpg'
                          ELSE 'cls' END AS member_name,
               CAST((doc_id * 7 + j * 13) % 200 + 1 AS BIGINT)
                   AS member_bytes,
               CAST(list_sum(list_transform(
                        range(0, (doc_id * 7 + j * 13) % 200 + 1),
                        k -> (doc_id * 5 + j * 17 + k) % 256))
                    AS BIGINT) AS payload_sum
        FROM m
    )
"""


@register(
    "x49_tar_members",
    oracle=f"""
    WITH {_TAR_MEMBER_CTE}
    SELECT doc_id, member_name, member_bytes, payload_sum,
           true AS valid
    FROM feat
    """,
)
def x49_tar_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x49 — WebDataset-style TAR shard reading: each document id gets a
    REAL generated ustar archive (members share a basename, differ by
    extension — the WebDataset sample convention); the lib-free member
    walk (header checksums, octal sizes, 512-block stepping) emits one
    row per member and the oracle predicts every member's name, size,
    and payload byte-sum arithmetically
    (operators/multimodal.py:parse_tar_members)."""
    from ..operators.multimodal import (
        attach_media,
        parse_tar_members,
        tar_bytes,
    )

    docs = load(spark, sf_dir, "documents")
    return parse_tar_members(attach_media(docs, "doc_id", tar_bytes))


@register(
    "x49b_wds_samples",
    oracle=f"""
    WITH {_TAR_MEMBER_CTE}
    SELECT doc_id,
           count(*) AS n_members,
           CAST(sum(member_bytes) AS BIGINT) AS total_bytes,
           CAST(max(CASE WHEN member_name LIKE '%.txt'
                         THEN payload_sum END) AS BIGINT) AS txt_sum,
           CAST(max(CASE WHEN member_name LIKE '%.jpg'
                         THEN payload_sum END) AS BIGINT) AS jpg_sum
    FROM feat GROUP BY doc_id
    """,
)
def x49b_wds_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x49b — WebDataset SAMPLE assembly: members re-group by their
    shared basename into one training-sample row with per-modality
    columns (the tar-member rows pivot by extension) — the read side of
    the WebDataset contract: shard -> members -> (text, image, label)
    tuples. One groupBy on the member rows; at scale the shard scan
    parallelizes by file and no shuffle precedes this aggregation."""
    from ..operators.multimodal import (
        attach_media,
        parse_tar_members,
        tar_bytes,
    )

    docs = load(spark, sf_dir, "documents")
    members = parse_tar_members(attach_media(docs, "doc_id", tar_bytes))
    return members.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("member_bytes").alias("total_bytes"),
        F.max(
            F.when(F.col("member_name").endswith(".txt"), F.col("payload_sum"))
        ).alias("txt_sum"),
        F.max(
            F.when(F.col("member_name").endswith(".jpg"), F.col("payload_sum"))
        ).alias("jpg_sum"),
    )


# ------------------------- x49c TAR -> JPEG decode chain (WebDataset)


@register(
    "x49c_tar_jpeg_chain",
    oracle="""
    -- docs with a .jpg member (id % 3 != 0); the member body is a REAL
    -- baseline JPEG whose decoded luma plane the x5j arithmetic predicts
    SELECT doc_id,
           true AS valid,
           CAST(8 * (doc_id % 3 + 2) AS BIGINT) AS width,
           CAST(8 * (doc_id % 2 + 1) AS BIGINT) AS height,
           CAST(64 * list_sum(list_transform(
                    range(0, (doc_id % 3 + 2) * (doc_id % 2 + 1)),
                    k -> (doc_id * 17
                          + (k // (doc_id % 3 + 2)) * 29
                          + (k % (doc_id % 3 + 2)) * 43) % 256))
               AS BIGINT) AS px_sum
    FROM documents
    WHERE doc_id % 3 <> 0
    """,
)
def x49c_tar_jpeg_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x49c — the full WebDataset read chain, format inside format: a
    generated ustar shard per document carries a REAL baseline JPEG as
    its .jpg member; the lib-free tar walk extracts the member BYTES
    (emit_payload), and the lib-free JPEG decoder consumes them —
    shard -> member -> entropy decode -> dequant -> IDCT, with the x5j
    arithmetic oracle verifying the decoded luma sum end-to-end. This is
    the exact data path of multimodal pretraining ingestion."""
    from functools import partial

    from ..operators.jpeg import parse_jpeg
    from ..operators.multimodal import (
        attach_media,
        parse_tar_members,
        tar_bytes,
    )

    docs = load(spark, sf_dir, "documents")
    members = parse_tar_members(
        attach_media(docs, "doc_id", partial(tar_bytes, real_jpeg=True)),
        emit_payload=True,
    )
    jpgs = members.filter(
        F.col("valid") & F.col("member_name").endswith(".jpg")
    ).select("doc_id", F.col("payload").alias("media"))
    return parse_jpeg(jpgs).select(
        "doc_id", "valid", "width", "height", "px_sum"
    )


# ------------------------- e3d analytic-window rank family completion


@register(
    "e3d_window_rank_family",
    oracle="""
    SELECT o_orderkey,
           o_orderpriority,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           first_value(o_orderkey) OVER
               (w ROWS BETWEEN UNBOUNDED PRECEDING
                           AND UNBOUNDED FOLLOWING) AS cheapest_key,
           nth_value(o_orderkey, 3) OVER
               (w ROWS BETWEEN UNBOUNDED PRECEDING
                           AND UNBOUNDED FOLLOWING) AS third_key
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    """,
)
def e3d_window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """e3 extension — the remaining analytic rank family in one pass:
    percent_rank (relative position), cume_dist (empirical CDF),
    first_value / nth_value over the full frame (per-group champion and
    3rd-cheapest order). One hash exchange by priority feeds all four —
    Spark evaluates every function over the same sorted window run, so
    completing the family costs no extra shuffle. Ordering is the total
    (price, key) order, making ranks engine-identical."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.first("o_orderkey").over(wf).alias("cheapest_key"),
        F.nth_value("o_orderkey", 3).over(wf).alias("third_key"),
    )


# --------------------------- x50 equi-depth histogram (two-phase rank)

_EQD_BINS = 8
_EQD_SLICES = 32


@register(
    "x50_equidepth_histogram",
    oracle=f"""
    WITH r AS (
        SELECT l_extendedprice AS p,
               ntile({_EQD_BINS}) OVER (
                   ORDER BY l_extendedprice, l_orderkey, l_linenumber
               ) AS bin
        FROM lineitem
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           count(*) AS n,
           round(min(p), 2) AS lo,
           round(max(p), 2) AS hi
    FROM r GROUP BY bin
    """,
)
def x50_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x50 — EQUI-DEPTH histogram (the selectivity-estimation complement
    to d11's equi-width binning): 8 buckets with equal row counts, each
    reporting its [lo, hi] value range — what an optimizer's column
    statistics actually store.

    A naive global ntile is ONE window task sorting the whole table; the
    e3c two-phase rank applies unchanged minus the group column: (1)
    deterministic value-range bands from global min/max, (2) tiny
    per-band counts -> broadcast rank offsets, (3) per-band local sort +
    offset = exact global rank, (4) the bin is pure arithmetic on
    (rank, n). Bands are monotone in the total (price, orderkey,
    linenumber) order, so offset+local rank is exact in any engine."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", F.col("l_extendedprice").alias("p")
    )
    stats = li.agg(
        F.min("p").alias("_lo"), F.max("p").alias("_hi"),
        F.count(F.lit(1)).alias("_n"),
    )
    band = F.least(
        F.lit(_EQD_SLICES - 1),
        F.floor(
            (F.col("p") - F.col("_lo"))
            / ((F.col("_hi") - F.col("_lo") + F.lit(1e-6)) / _EQD_SLICES)
        ),
    ).cast("int")
    banded = li.crossJoin(F.broadcast(stats)).withColumn("_band", band)
    pc = banded.groupBy("_band").agg(F.count(F.lit(1)).alias("_cnt"))
    w_off = Window.orderBy("_band").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = pc.select(
        "_band", F.coalesce(F.sum("_cnt").over(w_off), F.lit(0)).alias("_off")
    )
    w_local = Window.partitionBy("_band").orderBy(
        "p", "l_orderkey", "l_linenumber"
    )
    k = _EQD_BINS
    ranked = (
        banded.withColumn("_lrn", F.row_number().over(w_local))
        .join(F.broadcast(offsets), "_band")
        .withColumn("_rn", F.col("_off") + F.col("_lrn"))
    )
    q_sz = F.col("_n") / k
    big = (F.col("_n") % k) * (F.floor(q_sz) + 1)
    bin_ = F.when(
        F.col("_rn") <= big, F.ceil(F.col("_rn") / (F.floor(q_sz) + 1))
    ).otherwise(
        (F.col("_n") % k)
        + F.ceil((F.col("_rn") - big) / F.greatest(F.floor(q_sz), F.lit(1)))
    )
    return (
        ranked.withColumn("bin", bin_.cast("bigint"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("p"), 2).alias("lo"),
            F.round(F.max("p"), 2).alias("hi"),
        )
    )


# --------------------------------- x51 column profiling (unpivot audit)


@register(
    "x51_column_profile",
    oracle="""
    SELECT 'lang' AS col,
           count(*) - count(lang) AS n_nulls,
           count(DISTINCT lang) AS n_distinct FROM documents
    UNION ALL
    SELECT 'source', count(*) - count(source), count(DISTINCT source)
    FROM documents
    UNION ALL
    SELECT 'text', count(*) - count(text), count(DISTINCT text)
    FROM documents
    """,
)
def x51_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x51 — per-column data profile (nulls + distinct cardinality), the
    warehouse catalog-statistics pass that complements x18's row-level
    constraint audit. One UNPIVOT (stack) melts the columns so a single
    grouped aggregation profiles them all — one table scan however many
    columns are profiled, instead of one scan per column; at 100 TB the
    distinct counts swap to approx_count_distinct (d2x) with identical
    shape."""
    docs = load(spark, sf_dir, "documents")
    melted = docs.select(
        F.expr(
            "stack(3, 'lang', lang, 'source', source, 'text', text) "
            "AS (col, val)"
        )
    )
    return melted.groupBy("col").agg(
        F.sum(F.when(F.col("val").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_nulls"),
        F.countDistinct("val").alias("n_distinct"),
    )
