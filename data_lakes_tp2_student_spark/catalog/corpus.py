"""SURVEY.md §2 group X4 — text analysis and corpus curation: language ID,
quality scores, token counts, fingerprints, term frequency, rolling hashes,
PII scrubbing, TF-IDF terms, corpus prep, sequence packing, chunking,
token-budget selection, Gopher-style quality filters (Rae et al. 2021,
§A1.1) and repetition metrics, unigram log-probabilities, domain-mixing
weights, and importance/weighted/stratified-weighted sampling.

The reference (sarafa19/Data-Lakes-tp2-student) has none of this surface —
it is the training-data-pipeline extension the driver's north star
mandates (SURVEY.md §2.X). The synthetic documents carry no newlines, so
the published line-based filters are adapted to word-level signals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators.dedup import exact_dedup
from ..operators.sampling import stratified_weighted_sample, weighted_sample
from ..operators.textops import (
    fingerprint,
    lang_id,
    pack_sequences,
    quality_features,
    tfidf_top_terms,
    token_counts,
)
from ..registry import load, register


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


@register(
    "x4_term_frequency",
    oracle="""
    WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    SELECT word, count(*) AS tf FROM w
    GROUP BY word ORDER BY tf DESC, word LIMIT 20
    """,
)
def x4_term_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x4/j3 — corpus term frequency: explode (the UDTF analog) + hash agg +
    deterministic top-k."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy(F.desc("tf"), "word")
        .limit(20)
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


_CHUNK = 200  # words per chunk


_STRIDE = 150  # chunk start spacing (=> 50-word overlap)


@register(
    "x23_doc_chunking",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS words,
               len(string_split(text, ' ')) AS n_words
        FROM documents
    ),
    chunks AS (
        SELECT doc_id, n_words, CAST(t.i AS BIGINT) AS chunk_id,
               CAST(t.i * {_STRIDE} AS BIGINT) AS word_start
        FROM w, unnest(range(0, greatest(1,
                 CAST(ceil((n_words - {_CHUNK}) / {_STRIDE}.0) AS BIGINT) + 1)))
             AS t(i)
        WHERE t.i = 0 OR t.i * {_STRIDE} < n_words
    )
    SELECT c.doc_id, c.chunk_id, c.word_start,
           CAST(least({_CHUNK}, w.n_words - c.word_start) AS BIGINT)
               AS chunk_words,
           md5(array_to_string(
               w.words[c.word_start + 1 : c.word_start + {_CHUNK}], ' '))
               AS chunk_md5
    FROM chunks c JOIN w ON c.doc_id = w.doc_id
    """,
)
def x23_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x23 — document CHUNKING: split each doc into overlapping word
    windows (200 words, stride 150) — the unit RAG indexes and
    long-document training actually consume. Emits per-chunk offsets,
    lengths, and an md5 of the chunk text (so the oracle hash-checks the
    sliced CONTENT, not just the arithmetic).

    Scale shape: pure per-row expressions, no shuffle at all — split ONCE,
    then slice+hash every window INSIDE a `transform` lambda while the row
    is still one-per-doc, and explode only the reduced (chunk_id, offsets,
    md5) structs via `inline`. The naive alternative (explode chunk ids
    first, slice after) duplicates the full words array once per chunk —
    a ~67× mid-plan memory amplification on a 10k-word doc; here each
    exploded row carries ~50 bytes. The overlap factor
    bounds the blowup at ceil(words/stride) rows per doc."""
    docs = load(spark, sf_dir, "documents")
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((F.col("n_words") - _CHUNK) / F.lit(float(_STRIDE))).cast(
            "bigint"
        )
        + 1,
    )
    w = docs.select(
        "doc_id", F.split("text", " ").alias("words")
    ).withColumn("n_words", F.size("words").cast("bigint"))
    ids = F.filter(
        F.sequence(F.lit(0).cast("bigint"), n_chunks - 1),
        lambda i: (i == 0) | ((i * _STRIDE) < F.col("n_words")),
    )
    chunks = F.transform(
        ids,
        lambda i: F.struct(
            i.alias("chunk_id"),
            (i * _STRIDE).alias("word_start"),
            F.least(F.lit(_CHUNK).cast("bigint"), F.col("n_words") - i * _STRIDE)
            .alias("chunk_words"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.slice(
                        F.col("words"), (i * _STRIDE + 1).cast("int"), _CHUNK
                    ),
                )
            ).alias("chunk_md5"),
        ),
    )
    return w.select("doc_id", F.inline(chunks))


@register(
    "x25_token_budget_selection",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source,
               CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_tokens,
               round(CAST(length(text) - length(replace(text, ' ', ''))
                     AS DOUBLE) / length(text), 6) AS density
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, source, est_tokens,
               CAST(COALESCE(sum(est_tokens) OVER (
                   PARTITION BY source
                   ORDER BY density DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS tokens_before
        FROM toks
    )
    SELECT doc_id, source, est_tokens, tokens_before
    FROM ranked WHERE tokens_before < 100000
    """,
)
def x25_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x25 — TOKEN-BUDGET corpus selection (data mixing under a budget):
    within each source shard, take documents in quality order (here a
    deterministic space-density score with doc_id tiebreak) until the
    shard's token budget is exhausted — greedy prefix by running token
    sum, the standard way training mixes are cut to size.

    Scale shape (two-phase prefix sum, no per-source single-task sort —
    the e3c banded-rank trick applied to a running SUM): a naive
    `sum OVER (PARTITION BY source ORDER BY ...)` serializes each source
    into ONE window task — and real corpora have a CommonCrawl that dwarfs
    everything. Instead: (1) band rows by a deterministic pure function of
    the leading sort key (density value-range slices from the global
    min/max — a 1-row broadcast); (2) per-(band, source) token sums give
    each band's prefix offset (tiny aggregate, broadcast back); (3) a
    per-(band, source) local running sum + the band offset is the exact
    global prefix — each window task sorts only its band. Bands are
    monotone in (density DESC, doc_id) because banding is a function of
    density alone, so equal densities can never straddle bands."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.ceil(F.length("text") / 4.0).cast("bigint").alias("est_tokens"),
        F.round(
            (
                F.length("text")
                - F.length(F.regexp_replace("text", " ", ""))
            ).cast("double")
            / F.length("text"),
            6,
        ).alias("density"),
    )
    slices = 32
    stats = toks.agg(
        F.min("density").alias("_lo"), F.max("density").alias("_hi")
    )
    # Band 0 = densest (matches ORDER BY density DESC); nulls → last band
    # (Spark and DuckDB both default DESC to NULLS LAST).
    band = F.coalesce(
        F.least(
            F.lit(slices - 1),
            F.floor(
                (F.col("_hi") - F.col("density"))
                / ((F.col("_hi") - F.col("_lo") + F.lit(1e-9)) / slices)
            ),
        ),
        F.lit(slices - 1),
    ).cast("int")
    banded = toks.crossJoin(F.broadcast(stats)).withColumn("_band", band)
    # Tiny: per-(band, source) token totals -> cumulative offset per band
    # (the offsets window partitions by source but runs over <= slices rows
    # per source, AFTER the aggregate).
    pc = banded.groupBy("_band", "source").agg(
        F.sum("est_tokens").alias("_tok")
    )
    w_off = (
        Window.partitionBy("source")
        .orderBy("_band")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = pc.select(
        "_band",
        "source",
        F.coalesce(F.sum("_tok").over(w_off), F.lit(0)).alias("_off"),
    )
    # Heavy window sorts only its own band of one source.
    w_local = (
        Window.partitionBy("_band", "source")
        .orderBy(F.desc("density"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = (
        banded.withColumn(
            "_lsum", F.coalesce(F.sum("est_tokens").over(w_local), F.lit(0))
        )
        .join(F.broadcast(offsets), ["_band", "source"])
        .select(
            "doc_id",
            "source",
            "est_tokens",
            (F.col("_off") + F.col("_lsum")).cast("bigint").alias(
                "tokens_before"
            ),
        )
    )
    return ranked.filter(F.col("tokens_before") < 100000)


# Gopher-style rule thresholds (word-level adaptation).
_MIN_WORDS, _MAX_WORDS = 50, 100_000


_MIN_MWL, _MAX_MWL = 3.0, 10.0


_MIN_ALPHA_FRAC = 0.8


_STOPWORDS = ("the", "a", "of", "to", "and")


_MIN_STOP_HITS = 2


@register(
    "x26_gopher_quality_filters",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS words,
               len(string_split(text, ' ')) AS n_words,
               length(text) - length(replace(text, ' ', '')) AS n_spaces
        FROM documents
    ),
    m AS (
        SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
               round(CAST(length(array_to_string(words, '')) AS DOUBLE)
                     / n_words, 6) AS mean_word_len,
               round(CAST(len(list_filter(words,
                          x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                     / n_words, 6) AS alpha_frac,
               CAST(len(list_filter(words,
                    x -> list_contains(
                        ['the', 'a', 'of', 'to', 'and'], x))) AS BIGINT)
                   AS stop_hits
        FROM w
    )
    SELECT doc_id, n_words, mean_word_len, alpha_frac, stop_hits,
           (n_words BETWEEN {_MIN_WORDS} AND {_MAX_WORDS})
           AND (mean_word_len BETWEEN {_MIN_MWL} AND {_MAX_MWL})
           AND alpha_frac >= {_MIN_ALPHA_FRAC}
           AND stop_hits >= {_MIN_STOP_HITS} AS keep
    FROM m
    """,
)
def x26_gopher_quality_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x26 — GOPHER-style rule filters (Rae et al. 2021 §A1.1, word-level
    adaptation): per-doc word count bounds, mean word length bounds,
    alphabetic-word fraction, and stopword presence, combined into one
    `keep` verdict — the standard first-pass pretraining filter.

    Scale shape: pure per-row expressions over ONE split (no shuffle at
    all; the `words` array never leaves the row) — the whole filter is a
    map-only pass over the corpus, exactly what a 100 TB first-pass scan
    must be."""
    docs = load(spark, sf_dir, "documents")
    stop_lits = F.array(*[F.lit(s) for s in _STOPWORDS])
    w = docs.select(
        "doc_id", F.split("text", " ").alias("words")
    ).withColumn("n_words", F.size("words"))
    m = w.select(
        "doc_id",
        F.col("n_words").cast("bigint").alias("n_words"),
        F.round(
            F.length(F.array_join("words", "")).cast("double")
            / F.col("n_words"),
            6,
        ).alias("mean_word_len"),
        F.round(
            F.size(F.filter("words", lambda x: x.rlike("[A-Za-z]"))).cast(
                "double"
            )
            / F.col("n_words"),
            6,
        ).alias("alpha_frac"),
        F.size(
            F.filter("words", lambda x: F.array_contains(stop_lits, x))
        )
        .cast("bigint")
        .alias("stop_hits"),
    )
    keep = (
        F.col("n_words").between(_MIN_WORDS, _MAX_WORDS)
        & F.col("mean_word_len").between(_MIN_MWL, _MAX_MWL)
        & (F.col("alpha_frac") >= _MIN_ALPHA_FRAC)
        & (F.col("stop_hits") >= _MIN_STOP_HITS)
    )
    return m.withColumn("keep", keep)


@register(
    "x27_repetition_metrics",
    oracle="""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ),
    uni AS (
        SELECT doc_id, CAST(len(words) AS BIGINT) AS n_words,
               CAST(len(list_distinct(words)) AS BIGINT) AS n_distinct,
               CAST((SELECT max(c) FROM (
                    SELECT count(*) AS c FROM unnest(words) AS t(x)
                    GROUP BY x)) AS BIGINT) AS top_word_n
        FROM w
    ),
    bi AS (
        SELECT doc_id,
               CAST((SELECT max(c) FROM (
                    SELECT count(*) AS c FROM unnest(
                        list_transform(range(1, len(words)),
                                       i -> words[i] || ' ' || words[i + 1]))
                        AS t(x)
                    GROUP BY x)) AS BIGINT) AS top_bigram_n
        FROM w
    )
    SELECT u.doc_id, u.n_words,
           round(CAST(u.n_distinct AS DOUBLE) / u.n_words, 6) AS ttr,
           round(CAST(u.top_word_n AS DOUBLE) / u.n_words, 6)
               AS top_word_frac,
           round(CAST(b.top_bigram_n AS DOUBLE) / (u.n_words - 1), 6)
               AS top_bigram_frac
    FROM uni u JOIN bi b ON u.doc_id = b.doc_id
    """,
)
def x27_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x27 — REPETITION metrics (the FineWeb/Gopher repetition family,
    word-level): type-token ratio, most-frequent-word fraction, and
    most-frequent-bigram fraction per document — the signals that catch
    boilerplate, keyword stuffing, and degenerate generations.

    Scale shape: everything stays INSIDE the row — distinct/top counts
    come from `aggregate` over the words array and a same-row bigram
    construction, so the metric pass is map-only with no explode and no
    shuffle (an exploded groupBy(doc, word) would shuffle the corpus's
    every word). 100 TB cost = one scan."""
    docs = load(spark, sf_dir, "documents")
    w = docs.select("doc_id", F.split("text", " ").alias("words"))
    # top-count within the row: sort a copy, then the longest run of equal
    # neighbors = the max multiplicity (pure array expressions, codegen'd
    # where possible, zero shuffle).
    def top_count(arr: str) -> F.Column:
        return F.expr(
            f"""
            aggregate(
                array_sort({arr}),
                named_struct('prev', CAST(NULL AS STRING),
                             'run', 0L, 'best', 0L),
                (acc, x) -> named_struct(
                    'prev', x,
                    'run', IF(acc.prev IS NOT NULL AND x = acc.prev,
                              acc.run + 1, 1L),
                    'best', greatest(acc.best,
                                     IF(acc.prev IS NOT NULL
                                        AND x = acc.prev,
                                        acc.run + 1, 1L))),
                acc -> acc.best)
            """
        )

    # sequence(1, 0) DESCENDS in Spark (auto step -1) and would index past
    # the array on a single-word doc — guard it to an empty bigram list
    # (the oracle's range(1, 1) is empty for the same row).
    bigrams = F.when(
        F.size("words") < 2, F.expr("cast(array() AS array<string>)")
    ).otherwise(
        F.expr(
            "transform(sequence(1, size(words) - 1), "
            "i -> concat(element_at(words, i), ' ', element_at(words, i + 1)))"
        )
    )
    m = w.select(
        "doc_id",
        F.size("words").cast("bigint").alias("n_words"),
        F.size(F.array_distinct("words")).cast("bigint").alias("n_distinct"),
        top_count("words").alias("top_word_n"),
        bigrams.alias("bigrams"),
    ).withColumn("top_bigram_n", top_count("bigrams"))
    return m.select(
        "doc_id",
        "n_words",
        F.round(F.col("n_distinct").cast("double") / F.col("n_words"), 6)
        .alias("ttr"),
        F.round(F.col("top_word_n").cast("double") / F.col("n_words"), 6)
        .alias("top_word_frac"),
        # single-word doc: no bigrams -> null (matches the oracle, whose
        # max() over an empty unnest is NULL and propagates through the /)
        F.when(
            F.col("n_words") > 1,
            F.round(
                F.col("top_bigram_n").cast("double") / (F.col("n_words") - 1),
                6,
            ),
        ).alias("top_bigram_frac"),
    )


@register(
    "x29_domain_mixing_weights",
    oracle="""
    WITH tok AS (
        -- CAST the sum: DuckDB lands sum(BIGINT) as HUGEINT -> float64
        -- in pandas, which stringifies as '2100.0' vs Spark's '2100'
        SELECT source,
               CAST(sum(CAST(ceil(length(text) / 4.0) AS BIGINT)) AS BIGINT)
                   AS tokens
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT source, tokens,
               round(CAST(tokens AS DOUBLE) / sum(tokens) OVER (), 6)
                   AS share,
               round(1.0 / count(*) OVER (), 6) AS target_share
        FROM tok
    )
    SELECT source, tokens, share, target_share,
           round(target_share / share, 6) AS mix_weight
    FROM tot
    """,
)
def x29_domain_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x29 — DOMAIN MIXING weights: per-source token totals, current corpus
    share, a (uniform) target share, and the resulting sampling weight
    target/current — the knob every pretraining mix turns (DoReMi-style
    reweighting reduces to swapping the target vector in).

    Scale shape: one partial-agg shuffle to ≤|sources| rows; the windows
    run over that tiny aggregate in a single task BY DESIGN (source
    cardinality is bounded); the corpus itself is scanned once."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.groupBy("source").agg(
        F.sum(F.ceil(F.length("text") / 4.0).cast("bigint")).alias("tokens")
    )
    w_all = Window.partitionBy()
    tot = tok.select(
        "source",
        "tokens",
        F.round(
            F.col("tokens").cast("double") / F.sum("tokens").over(w_all), 6
        ).alias("share"),
        F.round(F.lit(1.0) / F.count(F.lit(1)).over(w_all), 6).alias(
            "target_share"
        ),
    )
    return tot.withColumn(
        "mix_weight", F.round(F.col("target_share") / F.col("share"), 6)
    )


@register(
    "x30_unigram_logprob",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
    ),
    freq AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
    tot AS (SELECT count(*) AS total FROM toks),
    q AS (
        SELECT term,
               CAST(floor(ln(CAST(cnt AS DOUBLE) / total)
                          * 1000000000.0) AS BIGINT) AS q
        FROM freq, tot
    )
    SELECT tf.doc_id,
           CAST(sum(tf.tf) AS BIGINT) AS n_words,
           round(CAST(sum(tf.tf * q.q) AS DOUBLE) / 1000000000.0
                 / CAST(sum(tf.tf) AS DOUBLE), 6) AS avg_logprob
    FROM tf JOIN q USING (term)
    GROUP BY tf.doc_id
    """,
)
def x30_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x30 — UNIGRAM language-model scoring (the CCNet/KenLM-style quality
    signal, reduced to its SQL-expressible core): fit word probabilities on
    the corpus itself, score each document by its mean per-word log
    probability — low scorers are gibberish/outliers, the classic
    perplexity-bucket filter.

    Engine-portable float policy (same as x19 BM25): each word's ln(p) is
    computed once in a fixed expression shape and fixed-point-quantized to
    BIGINT; per-doc totals are integer sums (associative at any
    parallelism), divided back to double at the boundary.

    Scale shape: the vocab table is aggregate-bounded and BROADCAST to the
    per-(doc, term) counts; both count tables partial-aggregate map-side
    from one exploded scan. Nothing corpus-sized shuffles twice."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    freq = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    tot = toks.agg(F.count(F.lit(1)).alias("total"))
    q = freq.crossJoin(F.broadcast(tot)).select(
        "term",
        F.floor(
            F.log(F.col("cnt").cast("double") / F.col("total"))
            * F.lit(1000000000.0)
        )
        .cast("bigint")
        .alias("q"),
    )
    per_doc = (
        tf.join(F.broadcast(q), "term")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_words"),
            F.sum(F.col("tf") * F.col("q")).alias("_sq"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_words",
        F.round(
            F.col("_sq").cast("double")
            / F.lit(1000000000.0)
            / F.col("n_words").cast("double"),
            6,
        ).alias("avg_logprob"),
    )


@register(
    "x33_importance_sampling",
    oracle="""
    -- DSIR-style selection: rank raw-pool docs by the unigram
    -- log-importance ratio ln p_target(w) - ln p_pool(w), Laplace-smoothed
    -- over the shared vocab, fixed-point-quantized per word (same float
    -- policy as x30); target domain = source 'src0'
    WITH toks AS (
        SELECT doc_id, source, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    vocab AS (SELECT count(DISTINCT term) AS v FROM toks),
    tcnt AS (SELECT term, count(*) AS c FROM toks
             WHERE source = 'src0' GROUP BY term),
    pcnt AS (SELECT term, count(*) AS c FROM toks
             WHERE source <> 'src0' GROUP BY term),
    ttot AS (SELECT count(*) AS n FROM toks WHERE source = 'src0'),
    ptot AS (SELECT count(*) AS n FROM toks WHERE source <> 'src0'),
    ratio AS (
        SELECT p.term,
               CAST(floor((ln((coalesce(t.c, 0) + 1.0) / (ttot.n + vocab.v))
                           - ln((p.c + 1.0) / (ptot.n + vocab.v)))
                          * 1000000000.0) AS BIGINT) AS q
        FROM pcnt p LEFT JOIN tcnt t USING (term), ttot, ptot, vocab
    ),
    tf AS (
        SELECT doc_id, term, count(*) AS tf FROM toks
        WHERE source <> 'src0' GROUP BY doc_id, term
    ),
    scored AS (
        SELECT tf.doc_id,
               CAST(sum(tf.tf) AS BIGINT) AS n_words,
               round(CAST(sum(tf.tf * ratio.q) AS DOUBLE) / 1000000000.0
                     / CAST(sum(tf.tf) AS DOUBLE), 6) AS avg_log_ratio
        FROM tf JOIN ratio USING (term)
        GROUP BY tf.doc_id
    )
    SELECT doc_id, n_words, avg_log_ratio FROM scored
    ORDER BY avg_log_ratio DESC, doc_id LIMIT 50
    """,
)
def x33_importance_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x33 — importance-based DATA SELECTION (the DSIR recipe — Xie et al.
    2023, "Data Selection for Language Models via Importance Resampling" —
    reduced to its unigram core): fit a target LM on the target domain
    ('src0') and a pool LM on everything else, score each pool document by
    its mean per-word log importance ratio ln p_t(w) − ln p_p(w), and keep
    the top-N most target-like documents. The standard pretraining move of
    "select web data that looks like the high-quality domain".

    Laplace smoothing over the SHARED vocab keeps the target LM defined on
    pool-only words; each word's ratio is computed once in a fixed
    expression shape and fixed-point-quantized to BIGINT (the x30/x19
    float policy), so per-doc scores are integer sums — associative,
    engine-portable, stable under any partitioning.

    Scale shape: one exploded scan feeds every aggregate (map-side partial
    combine); the per-word ratio table is vocab-bounded and BROADCAST to
    the per-(doc, term) counts; the final top-N is TakeOrderedAndProject
    (never a global sort). Nothing corpus-sized shuffles twice."""
    target = F.col("source") == "src0"
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("term")
    )
    # ONE corpus-sized explode + combine: per-(doc, term) counts split by
    # side. Every other input — per-term LM counts, both totals, the
    # vocab size — is a VOCAB-bounded rollup of these two tiny tables,
    # not another scan (six explodes would compute quantities derivable
    # from each other).
    dtf = toks.groupBy("doc_id", "term").agg(
        F.sum(F.when(target, 1).otherwise(0)).alias("_tc"),
        F.sum(F.when(~target, 1).otherwise(0)).alias("_pc"),
    )
    cnt = dtf.groupBy("term").agg(
        F.sum("_tc").alias("tc"), F.sum("_pc").alias("pc")
    )
    totals = cnt.agg(
        F.count(F.lit(1)).alias("v"),
        F.sum("tc").alias("tn"),
        F.sum("pc").alias("pn"),
    )
    ratio = (
        cnt.filter(F.col("pc") > 0)
        .crossJoin(F.broadcast(totals))
        .select(
            "term",
            F.floor(
                (
                    F.log(
                        (F.coalesce(F.col("tc"), F.lit(0)) + F.lit(1.0))
                        / (F.col("tn") + F.col("v"))
                    )
                    - F.log(
                        (F.col("pc") + F.lit(1.0)) / (F.col("pn") + F.col("v"))
                    )
                )
                * F.lit(1000000000.0)
            )
            .cast("bigint")
            .alias("q"),
        )
    )
    tf = dtf.filter(F.col("_pc") > 0).select(
        "doc_id", "term", F.col("_pc").alias("tf")
    )
    scored = (
        tf.join(F.broadcast(ratio), "term")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_words"),
            F.sum(F.col("tf") * F.col("q")).alias("_sq"),
        )
        .select(
            "doc_id",
            "n_words",
            F.round(
                F.col("_sq").cast("double")
                / F.lit(1000000000.0)
                / F.col("n_words").cast("double"),
                6,
            ).alias("avg_log_ratio"),
        )
    )
    return scored.orderBy(F.desc("avg_log_ratio"), "doc_id").limit(50)


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
