"""SURVEY.md §2 group D1–D11 (+h1) — descriptive statistics on `documents`
(`text` ≈ sequence, `source` ≈ family_accession — SURVEY.md §7): the
flagship summary, counts, distinct counts, group sizes, value counts,
length stats, exact and approximate percentiles, grouped medians and
quantiles, histograms, and the x50/x51 equi-depth histogram and column
profile.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators import stats as S
from ..registry import load, register


@register(
    "flagship_summary",
    oracle="""
    WITH sizes AS (
        SELECT source, count(*) AS n FROM documents GROUP BY source
    ),
    size_stats AS (
        SELECT count(*) AS n_classes,
               min(n) AS min_class_size,
               max(n) AS max_class_size,
               round(avg(n), 6) AS avg_class_size
        FROM sizes
    ),
    row_stats AS (
        SELECT count(*) AS n_rows,
               min(length(text)) AS min_len,
               max(length(text)) AS max_len,
               median(length(text)) AS median_len
        FROM documents
    )
    SELECT * FROM row_stats CROSS JOIN size_stats
    """,
)
def flagship_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Notebook `munge_data` stats re-targeted at documents (d1-d8+h1)."""
    return S.table_summary(load(spark, sf_dir, "documents"), "text", "source")


@register("d1_count", oracle="SELECT count(*) AS n_rows FROM documents")
def d1_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d1 — row count (ref: data_analysis.ipynb cell 10)."""
    return S.count_rows(load(spark, sf_dir, "documents"))


@register(
    "d2_count_distinct",
    oracle="SELECT count(DISTINCT source) AS n_distinct FROM documents",
)
def d2_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d2 — exact distinct count (ref: `.nunique()`)."""
    return S.count_distinct(load(spark, sf_dir, "documents"), "source")


@register(
    "d2x_approx_count_distinct",
    # HLL sketch: exact hash match impossible, but the bound IS checkable.
    # approx_count_distinct's rsd=0.05 is a relative STANDARD DEVIATION,
    # not a hard guarantee — the bound
    # here is PROBABILISTIC: +/-4 sigma = +/-20%, P(outside) < 1e-4 per
    # run under HLL++'s near-Gaussian error, so a gate failure means a
    # broken sketch, not bad luck. A regenerated fixture or different
    # source cardinality stays inside with the same confidence.
    tol_oracle="""
    SELECT CAST(floor(count(DISTINCT source) * 0.80) AS BIGINT) AS n_distinct_lo,
           CAST(ceil(count(DISTINCT source) * 1.20) AS BIGINT) AS n_distinct_hi
    FROM documents
    """,
)
def d2x_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d2 scale variant — approx_count_distinct (HyperLogLog++)."""
    return S.count_distinct(load(spark, sf_dir, "documents"), "source", approx=True)


@register(
    "d3_group_sizes",
    oracle="SELECT source, count(*) AS n FROM documents GROUP BY source",
)
def d3_group_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d3 — per-class sizes (ref: `.groupby('family_accession').size()`)."""
    return S.group_sizes(load(spark, sf_dir, "documents"), "source")


@register(
    "d4_group_size_stats",
    oracle="""
    WITH sizes AS (SELECT source, count(*) AS n FROM documents GROUP BY source)
    SELECT count(*) AS n_groups, min(n) AS min_size, max(n) AS max_size,
           round(avg(n), 6) AS avg_size
    FROM sizes
    """,
)
def d4_group_size_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d4 — agg-of-agg over class sizes."""
    return S.group_size_stats(load(spark, sf_dir, "documents"), "source")


@register(
    "d5_value_counts",
    oracle="""
    SELECT lang, count(*) AS count FROM documents
    GROUP BY lang ORDER BY count DESC, lang
    """,
)
def d5_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d5 — value_counts (ref: src/preprocess_to_staging.py:172)."""
    return S.value_counts(load(spark, sf_dir, "documents"), "lang")


@register(
    "d6_distribution_of_sizes",
    oracle="""
    WITH sizes AS (SELECT source, count(*) AS n FROM documents GROUP BY source)
    SELECT n, count(*) AS n_groups FROM sizes GROUP BY n ORDER BY n
    """,
)
def d6_distribution_of_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d6 — histogram of class sizes (ref: ipynb cell 15)."""
    return S.distribution_of_sizes(load(spark, sf_dir, "documents"), "source")


@register(
    "d7_d8_length_stats",
    oracle="""
    SELECT min(length(text)) AS min_len, max(length(text)) AS max_len,
           median(length(text)) AS median_len
    FROM documents
    """,
)
def d7_d8_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d7+d8+h1 — min/max/median of text length, no Python in the loop."""
    return S.length_stats(load(spark, sf_dir, "documents"), "text")


@register(
    "d8x_percentiles_approx",
    # percentile_approx (Greenwald-Khanna) guarantees rank error
    # <= N/accuracy with the default accuracy 10000; the returned value is
    # an actual dataset element, so the exact discrete quantiles at
    # p -/+ 2/10000 (2x the guarantee for slack) bound it. DuckDB
    # quantile_disc is the exact discrete quantile.
    tol_oracle="""
    WITH lens AS (SELECT length(text) AS ln FROM documents)
    SELECT quantile_disc(ln, 0.4998) AS p50_lo, quantile_disc(ln, 0.5002) AS p50_hi,
           quantile_disc(ln, 0.8998) AS p90_lo, quantile_disc(ln, 0.9002) AS p90_hi,
           quantile_disc(ln, 0.9898) AS p99_lo, quantile_disc(ln, 0.9902) AS p99_hi
    FROM lens
    """,
)
def d8x_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d8 scale variant — percentile_approx sketch."""
    return S.length_percentiles_approx(load(spark, sf_dir, "documents"), "text")


@register(
    "d8b_group_median",
    oracle="""
    SELECT o_orderpriority,
           round(median(o_totalprice), 6) AS median_price,
           count(*) AS n
    FROM orders GROUP BY o_orderpriority
    """,
)
def d8b_group_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d8 extension — exact per-group median (the grouped form of the
    notebook's global median, data_analysis.ipynb:261 in the reference).
    Exact median sorts within groups; at 100 TB swap for
    percentile_approx (d8x) — the API shape is identical."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.median("o_totalprice"), 6).alias("median_price"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "d8c_group_quantiles",
    oracle="""
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.25), 6) AS q25,
           round(quantile_cont(o_totalprice, 0.50), 6) AS q50,
           round(quantile_cont(o_totalprice, 0.75), 6) AS q75
    FROM orders GROUP BY o_orderpriority
    """,
)
def d8c_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d8 extension — exact multi-quantile per group, emitted as SCALAR
    q25/q50/q75 columns (array outputs crash the driver's canonicalizer).
    Internally still ONE array-valued percentile
    aggregate (one sort per group serves all three cut points; both engines
    share the linear-interpolation definition — verified bit-exact, the
    round(…,6) is belt-and-braces). At 100 TB swap for percentile_approx
    with the identical call shape."""
    o = load(spark, sf_dir, "orders")
    qs = o.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, array(0.25, 0.5, 0.75))").alias("_qs")
    )
    return qs.select(
        "o_orderpriority",
        F.round(F.col("_qs")[0], 6).alias("q25"),
        F.round(F.col("_qs")[1], 6).alias("q50"),
        F.round(F.col("_qs")[2], 6).alias("q75"),
    )


@register(
    "d11_histogram",
    oracle="""
    SELECT CAST(floor(n_chars / 100.0) * 100.0 AS DOUBLE) AS bin,
           count(*) AS count
    FROM documents GROUP BY bin ORDER BY bin
    """,
)
def d11_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d11 — fixed-width histogram over n_chars (ref: ipynb cells 15/17)."""
    return S.histogram(load(spark, sf_dir, "documents"), "n_chars", 100.0)


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
