"""Remaining SURVEY.md §2 coverage: wide export projection (b5), total sort
(f1), pivot, embedding-cosine near-dup (x2), salted skew-safe aggregation."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.similarity import cosine_batch
from ..operators.skew import salted_group_count_sum, salted_join
from ..operators.tokenize import tokenize_chars, widen_tokens
from ..registry import load, register

_WIDE_N = 16
_WIDE_ORACLE_COLS = ",\n           ".join(
    f"CASE WHEN length(text) >= {i + 1} THEN ord(substr(text, {i + 1}, 1)) "
    f"ELSE 0 END AS token_{i}"
    for i in range(_WIDE_N)
)


@register(
    "b5_wide_projection",
    oracle=f"SELECT doc_id,\n           {_WIDE_ORACLE_COLS}\n    FROM documents",
)
def b5_wide_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b5 — the reference's token_0..token_N physical export layout
    (ref: src/process_to_curated.py:28-29); array internally, widened only
    at the boundary (SURVEY.md §4 codegen note)."""
    docs = load(spark, sf_dir, "documents")
    toks = tokenize_chars(docs, "text", max_len=_WIDE_N)
    return widen_tokens(toks, width=_WIDE_N).select(
        "doc_id", *[f"token_{i}" for i in range(_WIDE_N)]
    )


@register(
    "f1_sort",
    oracle="""
    SELECT n_name, CAST(row_number() OVER (ORDER BY n_name) AS BIGINT) AS pos
    FROM nation
    """,
)
def f1_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """f1 — total sort (range-partitioned exchange); the emitted position
    column makes the order itself value-checkable under an order-insensitive
    compare."""
    from pyspark.sql import Window

    n = load(spark, sf_dir, "nation")
    return n.select(
        "n_name",
        F.row_number().over(Window.orderBy("n_name")).cast("bigint").alias("pos"),
    ).orderBy("n_name")


@register(
    "x6_pivot",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CASE WHEN l_linestatus = 'O'
                    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS O,
           CAST(sum(CASE WHEN l_linestatus = 'F'
                    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS F
    FROM lineitem GROUP BY l_returnflag
    """,
)
def x6_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x6 — pivot (linestatus columns per returnflag); Spark's pivot is the
    same conditional-aggregation rewrite the oracle spells out."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double"))
    )


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


@register(
    "x7_salted_agg",
    oracle="""
    SELECT l_returnflag, count(*) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_l_quantity
    FROM lineitem GROUP BY l_returnflag
    """,
)
def x7_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew pattern — salted two-stage aggregation over the 3 hot
    returnflag keys; algebraically identical to the direct group-by (the
    oracle IS the direct group-by)."""
    li = load(spark, sf_dir, "lineitem")
    out = salted_group_count_sum(li, "l_returnflag", "l_quantity")
    return out.withColumn(
        "sum_l_quantity", F.col("sum_l_quantity").cast("double")
    )


@register(
    "x7b_salted_join",
    oracle="""
    SELECT o.o_orderpriority, count(*) AS n,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def x7b_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew pattern — salted equi-join (fact side salted, dim side
    replicated per salt) followed by a group-agg; row-identical to the
    plain join, so the oracle IS the plain join+agg. The explicit/portable
    form of AQE's skew-join split for keys hot enough to straggle a
    sort-merge join when the dim side cannot broadcast."""
    from ..functions.money import dec2

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    j = salted_join(li, o, "l_orderkey", "o_orderkey", salt_buckets=8)
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec2("l_extendedprice")).cast("double").alias("sum_price"),
    )
