"""Time-series, product, graph and clustering analytics (SURVEY.md §2
group X11–X21, x36/x40 graphs, x45/x46/x48) and the J UDF/UDAF/UDTF
surface (j4–j6): resample+gap-fill, funnel, cohort retention, embedding
centroids, PMI co-occurrence, event transitions, data-quality audit, BM25
top-k, balanced sampling, kNN-graph triangles and label propagation,
interval concurrency, k-means, first-touch attribution, and Python UDTF,
grouped-aggregate and grouped-map UDFs.

These are the event-table analytics a training-data pipeline runs next to
its relational workload. Every query is DuckDB-oracle-checked; scale notes
are per-query docstrings.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.compute import eager
from ..operators.graph import label_propagation, triangle_count
from ..operators.similarity import knn_bruteforce
from ..registry import load, register
from .near_dup import sql_cos


@register(
    "x11_resample_gapfill",
    oracle="""
    WITH b AS (SELECT event_type,
                      time_bucket(INTERVAL '1 hour', ts) AS hour
               FROM events),
    counts AS (SELECT event_type, hour, count(*) AS n_obs
               FROM b GROUP BY event_type, hour),
    bounds AS (SELECT event_type, min(hour) AS lo, max(hour) AS hi
               FROM b GROUP BY event_type),
    spine AS (SELECT event_type,
                     unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS hour
              FROM bounds)
    SELECT s.event_type, s.hour, coalesce(c.n_obs, 0) AS n
    FROM spine s LEFT JOIN counts c USING (event_type, hour)
    """,
)
def x11_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x11 — resample events to a fixed hourly grid per event_type and
    zero-fill the gaps (the time-series densification every downstream
    model/monitor needs).

    Scale shape: the dense spine is built from per-group (min,max) bounds via
    ``sequence``+``explode`` — its size is groups × time-range, independent of
    event count; the left join is a broadcast of the tiny spine at any data
    scale (the counts side stays hash-partitioned by (type, hour))."""
    ev = load(spark, sf_dir, "events")
    b = ev.select("event_type", F.date_trunc("hour", "ts").alias("hour"))
    counts = b.groupBy("event_type", "hour").agg(F.count(F.lit(1)).alias("n_obs"))
    bounds = b.groupBy("event_type").agg(
        F.min("hour").alias("lo"), F.max("hour").alias("hi")
    )
    spine = bounds.select(
        "event_type",
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour"),
    )
    return spine.join(counts, ["event_type", "hour"], "left").select(
        "event_type", "hour", F.coalesce("n_obs", F.lit(0)).alias("n")
    )


@register(
    "x12_funnel",
    oracle="""
    WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
                WHERE event_type = 'signup' GROUP BY user_id),
    s2 AS (SELECT e.user_id, min(e.ts) AS t2
           FROM events e JOIN s1 USING (user_id)
           WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, min(e.ts) AS t3
           FROM events e JOIN s2 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
    SELECT '1_signup' AS step, count(*) AS n_users FROM s1
    UNION ALL SELECT '2_click', count(*) FROM s2
    UNION ALL SELECT '3_purchase', count(*) FROM s3
    """,
)
def x12_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x12 — ordered funnel (signup → later click → later purchase): users
    surviving each step, with strict event-time ordering between steps.

    Scale shape: each step is a hash agg down to one row per surviving user,
    then an equi-join against the (shrinking) prior-step user set — at 100 TB
    the step tables are ≪ the event table and broadcastable; the event scan's
    type filter is pushed to parquet."""
    ev = load(spark, sf_dir, "events")
    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    def step(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(name).alias("step"), "n_users"
        )

    return (
        step(s1, "1_signup")
        .unionByName(step(s2, "2_click"))
        .unionByName(step(s3, "3_purchase"))
    )


@register(
    "x13_cohort_retention",
    oracle="""
    WITH first AS (SELECT user_id,
                          CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
                   FROM events GROUP BY user_id),
    act AS (SELECT DISTINCT user_id,
                   CAST(date_trunc('week', ts) AS DATE) AS act_week
            FROM events)
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, a.act_week) / 7 AS INT)
               AS week_offset,
           count(*) AS n_users
    FROM act a JOIN first f USING (user_id)
    GROUP BY f.cohort_week, week_offset
    """,
)
def x13_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x13 — weekly cohort retention: users grouped by first-activity week,
    counted per week-offset of later activity (the classic retention
    triangle).

    Scale shape: ``distinct`` collapses events to one row per (user, week)
    before any join — the join input is bounded by users × weeks, not events;
    the first-activity table is one row per user (broadcast at dim scale,
    hash-join on user_id beyond). Week truncation is Monday-based ISO in both
    engines, so offsets are exact multiples of 7 days."""
    ev = load(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cohort_week")
    )
    act = ev.select(
        "user_id", F.to_date(F.date_trunc("week", "ts")).alias("act_week")
    ).distinct()
    return (
        act.join(first, "user_id")
        .select(
            "cohort_week",
            F.floor(F.datediff("act_week", "cohort_week") / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "x15_embedding_centroids",
    oracle="""
    WITH flat AS (SELECT label, CAST(t.pos AS INT) AS pos,
                         embedding[CAST(t.pos AS INT) + 1] AS val
                  FROM embeddings, unnest(range(len(embedding))) AS t(pos)),
    q AS (SELECT label, pos,
                 CAST(least(greatest(floor(CAST(val AS DOUBLE) * 1000000),
                                     -1000000000000.0), 1000000000000.0)
                      AS BIGINT) AS qv
          FROM flat)
    SELECT label, pos, count(*) AS n,
           CAST(sum(qv) AS DOUBLE) / count(*) / 1000000.0 AS centroid
    FROM q GROUP BY label, pos
    """,
)
def x15_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x15 — per-label embedding centroid (the class-prototype step of IVF /
    dedup clustering), computed per dimension.

    Engine-portable float math: summing raw doubles is order-dependent, so
    each value is fixed-point-quantized (floor(val·1e6) — exact IEEE multiply
    + exact floor) and summed as BIGINT; the average divides once, in a fixed
    order, in double. Result is bit-identical under any partitioning and in
    any engine. Scale shape: posexplode fans out dim× rows but they partial-
    aggregate map-side down to labels × dims before the one shuffle."""
    e = load(spark, sf_dir, "embeddings")
    flat = e.select("label", F.posexplode("embedding").alias("pos", "val"))
    # clamp to +-1e12 (coords beyond +-1e6 saturate): a garbage row must
    # not ANSI-overflow the BIGINT sum and kill the job at scale
    q = flat.select(
        "label",
        "pos",
        F.least(
            F.greatest(
                F.floor(F.col("val").cast("double") * 1000000), F.lit(-1e12)
            ),
            F.lit(1e12),
        )
        .cast("bigint")
        .alias("qv"),
    )
    return q.groupBy("label", "pos").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("qv").cast("double") / F.count(F.lit(1)) / F.lit(1000000.0)).alias(
            "centroid"
        ),
    )


@register(
    "x16_pmi_cooccurrence",
    oracle="""
    WITH words AS (SELECT DISTINCT doc_id,
                          unnest(string_split(text, ' ')) AS word
                   FROM documents),
    dfreq AS (SELECT word, count(*) AS df FROM words GROUP BY word),
    vocab AS (SELECT word, df FROM dfreq ORDER BY df DESC, word LIMIT 100),
    w AS (SELECT words.doc_id, words.word, vocab.df
          FROM words JOIN vocab USING (word)),
    n AS (SELECT count(*) AS n_docs FROM documents),
    pairs AS (SELECT a.word AS w1, b.word AS w2,
                     a.df AS df1, b.df AS df2, count(*) AS n_ab
              FROM w a JOIN w b ON a.doc_id = b.doc_id AND a.word < b.word
              GROUP BY a.word, b.word, a.df, b.df)
    SELECT w1, w2, n_ab,
           round(ln(CAST(n_ab AS DOUBLE) * n.n_docs / (df1 * df2)), 6) AS pmi
    FROM pairs CROSS JOIN n
    ORDER BY n_ab DESC, w1, w2 LIMIT 20
    """,
)
def x16_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x16 — pointwise mutual information over word co-occurrence (the
    collocation/phrase-mining primitive): top document-level co-occurring
    pairs among the 100 highest-document-frequency words.

    Scale shape: the quadratic blowup is tamed BEFORE the self-join — the
    vocabulary is pruned to a bounded top-V (broadcast), so pair volume is
    ≤ V²/2 per doc regardless of corpus size; the self-join shuffles on
    doc_id only. PMI math stays in exact integers until one fixed-order
    double divide + ln, so it is engine- and partitioning-portable.

    Persisting the multiply-referenced subtrees here was measured and
    rejected (PERF.md #17): the recomputed explode+distinct is cheaper
    than the cache write+read+materialize round-trip at this shape.

    The DOCS are hash-partitioned by doc_id BEFORE the explode — Generate
    preserves partitioning, so the (doc_id, word) dedup aggregates
    exchange-free and each copy of the subtree exchanges document rows,
    not word rows. The wa⋈wb self-join on doc_id then sees two
    co-partitioned children and plans with ZERO extra exchange; at 100 TB
    the self-join never reshuffles the exploded corpus (PERF.md "Catalog
    by operator group" has the timings)."""
    docs = load(spark, sf_dir, "documents")
    words = (
        docs.repartition("doc_id")
        .select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .dropDuplicates(["doc_id", "word"])
    )
    dfreq = words.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    vocab = dfreq.orderBy(F.desc("df"), "word").limit(100)
    w = words.join(F.broadcast(vocab), "word")
    wa = w.select("doc_id", F.col("word").alias("w1"), F.col("df").alias("df1"))
    wb = w.select(
        F.col("doc_id").alias("doc_b"),
        F.col("word").alias("w2"),
        F.col("df").alias("df2"),
    )
    pairs = (
        wa.join(wb, (wa.doc_id == wb.doc_b) & (F.col("w1") < F.col("w2")))
        .groupBy("w1", "w2", "df1", "df2")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        pairs.crossJoin(n)
        .select(
            "w1",
            "w2",
            "n_ab",
            F.round(
                F.log(
                    F.col("n_ab").cast("double")
                    * F.col("n_docs")
                    / (F.col("df1") * F.col("df2"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("n_ab"), "w1", "w2")
        .limit(20)
    )


@register(
    "x17_event_transitions",
    oracle="""
    WITH o AS (SELECT user_id, event_type,
                      lag(event_type) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS prev
               FROM events)
    SELECT prev, event_type AS next, count(*) AS n
    FROM o WHERE prev IS NOT NULL GROUP BY prev, next
    """,
)
def x17_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x17 — event-type transition matrix (first-order Markov counts over
    per-user event sequences): the behavioral-modeling / next-event-
    prediction feature table.

    Scale shape: one hash exchange by user feeds the lag window; the bigram
    agg then reduces to |types|² rows with map-side partials. Ordering is
    (ts, event_id) — a total order per user, so counts are partitioning-
    and engine-stable."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev")
    ).filter(F.col("prev").isNotNull())
    return (
        o.groupBy("prev", F.col("event_type").alias("next"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "x18_data_quality_audit",
    oracle="""
    WITH dup AS (SELECT count(*) AS v FROM (
             SELECT doc_id FROM documents GROUP BY doc_id HAVING count(*) > 1)),
    scan AS (SELECT
        sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS null_doc_id,
        sum(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END)
            AS empty_text,
        sum(CASE WHEN n_chars != length(text) THEN 1 ELSE 0 END)
            AS n_chars_mismatch,
        sum(CASE WHEN lang IS NULL
                      OR lang NOT IN ('de','en','es','fr','zh')
                 THEN 1 ELSE 0 END) AS lang_unknown,
        sum(CASE WHEN n_chars < 50 THEN 1 ELSE 0 END) AS text_below_min
        FROM documents)
    SELECT 'null_doc_id' AS check_name,
           CAST(null_doc_id AS BIGINT) AS violations FROM scan
    UNION ALL SELECT 'empty_text', CAST(empty_text AS BIGINT) FROM scan
    UNION ALL SELECT 'n_chars_mismatch',
                     CAST(n_chars_mismatch AS BIGINT) FROM scan
    UNION ALL SELECT 'lang_unknown', CAST(lang_unknown AS BIGINT) FROM scan
    UNION ALL SELECT 'text_below_min', CAST(text_below_min AS BIGINT) FROM scan
    UNION ALL SELECT 'dup_doc_id', CAST(v AS BIGINT) FROM dup
    """,
)
def x18_data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x18 — declarative data-quality audit (the expectations/constraints
    gate a lake pipeline runs before promoting a zone): null keys, duplicate
    keys, empty payloads, derived-column consistency (n_chars==length(text)),
    categorical domain, and minimum-length policy — one row per check with
    its violation count.

    Scale shape: all row-local checks ride ONE scan as conditional partial
    aggregates (a single 1-row-per-partition shuffle); only the uniqueness
    check needs a keyed exchange, and it aggregates to violating keys, not
    rows. At 100 TB this is the cheapest possible full-table audit: no
    second scan, no sort."""
    d = load(spark, sf_dir, "documents")
    one = F.lit(1)
    zero = F.lit(0)
    scan = d.agg(
        F.sum(F.when(F.col("doc_id").isNull(), one).otherwise(zero)).alias(
            "null_doc_id"
        ),
        F.sum(
            F.when(
                F.col("text").isNull() | (F.length("text") == 0), one
            ).otherwise(zero)
        ).alias("empty_text"),
        F.sum(
            F.when(F.col("n_chars") != F.length("text"), one).otherwise(zero)
        ).alias("n_chars_mismatch"),
        F.sum(
            F.when(
                F.col("lang").isNull()
                | ~F.col("lang").isin("de", "en", "es", "fr", "zh"),
                one,
            ).otherwise(zero)
        ).alias("lang_unknown"),
        F.sum(F.when(F.col("n_chars") < 50, one).otherwise(zero)).alias(
            "text_below_min"
        ),
    )
    long = scan.select(
        F.expr(
            "stack(5, 'null_doc_id', null_doc_id, 'empty_text', empty_text, "
            "'n_chars_mismatch', n_chars_mismatch, 'lang_unknown', lang_unknown, "
            "'text_below_min', text_below_min) AS (check_name, violations)"
        )
    )
    dup = (
        d.groupBy("doc_id")
        .agg(F.count(one).alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.count(one).alias("violations"))
        .select(F.lit("dup_doc_id").alias("check_name"), "violations")
    )
    return long.unionByName(dup)


@register(
    "x19_bm25_topk",
    oracle="""
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                  FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (SELECT count(*) AS n_docs,
                     (SELECT avg(dl) FROM dl) AS avgdl
              FROM documents),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    query AS (SELECT term, df FROM dfreq ORDER BY df DESC, term LIMIT 3),
    contrib AS (
        SELECT tf.doc_id,
               CAST(floor(
                   ln(1.0 + (s.n_docs - q.df + 0.5) / (q.df + 0.5))
                   * ((CAST(tf.tf AS DOUBLE) * 2.2)
                      / (tf.tf + 1.2 * (0.25 + 0.75
                         * (CAST(dl.dl AS DOUBLE) / s.avgdl))))
                   * 1000000000.0) AS BIGINT) AS qs
        FROM tf JOIN query q USING (term)
               JOIN dl USING (doc_id)
               CROSS JOIN stats s
    )
    SELECT doc_id, count(*) AS n_terms,
           CAST(sum(qs) AS DOUBLE) / 1000000000.0 AS score
    FROM contrib GROUP BY doc_id
    ORDER BY sum(qs) DESC, doc_id LIMIT 10
    """,
)
def x19_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x19 — BM25 ranked retrieval (k1=1.2, b=0.75) for the corpus's 3
    highest-df terms: the lexical-search/quality-scoring complement to the
    embedding kNN path.

    Engine-portable float policy: each term's contribution is computed in
    one fixed expression shape (identical parenthesization in the oracle),
    then fixed-point-quantized to BIGINT before the per-doc sum — double
    addition is not associative across partitionings, integer addition is.
    Scale shape: TF/DL are map-side-combined aggregates of one exploded
    scan; the query table (top-V terms) broadcasts; stats is a 1-row
    crossJoin."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = docs.agg(F.count(F.lit(1)).alias("n_docs")).crossJoin(
        dl.agg(F.avg("dl").alias("avgdl"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    query = dfreq.orderBy(F.desc("df"), "term").limit(3)
    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_part = (F.col("tf").cast("double") * F.lit(2.2)) / (
        F.col("tf")
        + 1.2 * (F.lit(0.25) + F.lit(0.75) * (F.col("dl").cast("double") / F.col("avgdl")))
    )
    contrib = (
        tf.join(F.broadcast(query), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.floor(idf * tf_part * F.lit(1000000000.0)).cast("bigint").alias("qs"),
        )
    )
    return (
        contrib.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("qs").alias("_sqs"),
        )
        .select(
            "doc_id",
            "n_terms",
            (F.col("_sqs").cast("double") / F.lit(1000000000.0)).alias("score"),
            F.col("_sqs"),
        )
        .orderBy(F.desc("_sqs"), "doc_id")
        .limit(10)
        .drop("_sqs")
    )


def _hex6(strtype: str) -> str:
    """First 6 md5 hex digits of doc_id as an integer in [0, 16^6) — the
    engine-portable uniform hash fraction (`strtype` differs per dialect:
    STRING for Spark, VARCHAR for DuckDB)."""
    return (
        "CAST("
        + " + ".join(
            f"(instr('0123456789abcdef', "
            f"substr(md5(CAST(doc_id AS {strtype})), {i + 1}, 1)) - 1)"
            f" * {16 ** (5 - i)}"
            for i in range(6)
        )
        + " AS BIGINT)"
    )


@register(
    "x21_balanced_sample",
    oracle=f"""
    WITH counts AS (SELECT lang, count(*) AS n_cls FROM documents GROUP BY lang),
    scored AS (
        SELECT d.doc_id, d.lang,
               {_hex6('VARCHAR')} AS hexval,
               CAST(floor(least(1.0, 100.0 / c.n_cls) * 16777216.0) AS BIGINT)
                   AS keep_below
        FROM documents d JOIN counts c USING (lang)
    )
    SELECT doc_id, lang FROM scored WHERE hexval < keep_below
    """,
)
def x21_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x21 — class-balanced deterministic downsampling: each language keeps
    ~min(1, target/|class|) of its rows, so hot classes shrink toward the
    target while rare classes pass through whole — the data-mixing step that
    applies d9-style class weights at the ROW level when building a training
    corpus.

    The keep decision is a pure function of the row key: the first 6 md5 hex
    digits as an integer in [0, 16^6), kept when below floor(p·16^6) — same
    digits, same arithmetic, in any engine at any parallelism (`sample()`'s
    seed is partition-dependent and not portable). Scale shape: class counts
    are a broadcast dim; the filter is a codegen'd scan predicate."""
    d = load(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_cls"))
    hexval = F.expr(_hex6("STRING"))
    keep_below = F.floor(
        F.least(F.lit(1.0), F.lit(100.0) / F.col("n_cls")) * F.lit(16777216.0)
    ).cast("bigint")
    return (
        d.join(F.broadcast(counts), "lang")
        .filter(hexval < keep_below)
        .select("doc_id", "lang")
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
                   ORDER BY {sql_cos('e.embedding', 'q.embedding')} DESC,
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
    # eager, not bare persist: the first iteration's broadcast build of
    # `cent` is a separate job racing the main consumers over the uncached
    # explode/quantize subtree (compute.eager documents the stampede)
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
    chunker stays the pure-column explode in x23/x25 (JVM codegen,
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
        # away from zero — a .5-exact double would diverge
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
        # unrounded: engine-native F.round applies outside (pandas
        # .round is half-to-even, the oracle's round is not)
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
