"""Round-16 optimization pins: the rewritten query shapes must stay
value-identical to the forms they replaced.

- x6_tpch_q21: the one-scan window-profile form vs an independent
  semi/anti reference (the pre-r16 shape), on a synthetic fixture crafted
  to hit every leg — single-supplier orders (EXISTS fails), multi-late
  orders (NOT EXISTS fails), late-row multiplicity (numwait counts ROWS),
  non-'F' orders, non-EUROPE suppliers.
- x16_pmi_cooccurrence: the doc_id-partitioned dropDuplicates form vs the
  old global-distinct reference, on docs with intra-doc repeated words
  (the dedup edge the rewrite must preserve).
- e3c_ntile_buckets: the merged offsets+totals window vs a plain
  ntile() OVER (PARTITION BY ... ORDER BY ...) reference.

Each test writes the minimal parquet tables the catalog fn loads, with
the driver testdata dtypes.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import Window, functions as F

from data_lakes_tp2_student_spark.catalog.analytics import x16_pmi_cooccurrence
from data_lakes_tp2_student_spark.catalog.relational import e3c_ntile_buckets
from data_lakes_tp2_student_spark.catalog.tpch import x6_tpch_q21


def _rows(df):
    return sorted([tuple(r) for r in df.collect()], key=repr)


@pytest.fixture()
def q21_dir(spark, tmp_path):
    d = str(tmp_path / "q21fx")
    base = datetime.datetime(2024, 1, 1)
    # 40 orders x up to 4 line rows; lateness falls out of the derived-date
    # arithmetic, so a dense (orderkey, linenumber) grid exercises every
    # combination of late/on-time suppliers per order, including repeated
    # (order, supplier) rows (multiplicity) and single-supplier orders.
    li = [
        (ok, 10 + (ok + ln % 2) % 5, ln, base + datetime.timedelta(days=ok % 90))
        for ok in range(1, 41)
        for ln in range(1, 2 + ok % 4)
    ]
    spark.createDataFrame(
        li, "l_orderkey long, l_suppkey long, l_linenumber int, l_shipdate timestamp_ntz"
    ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    spark.createDataFrame(
        [(ok, "F" if ok % 3 else "O", 100.0 * ok) for ok in range(1, 41)],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    ).write.mode("overwrite").parquet(f"{d}/orders.parquet")
    spark.createDataFrame(
        [(k, f"S{k:03d}", k % 5) for k in range(10, 15)],
        "s_suppkey long, s_name string, s_nationkey int",
    ).write.mode("overwrite").parquet(f"{d}/supplier.parquet")
    spark.createDataFrame(
        [(k, f"N{k}", k % 2) for k in range(5)],
        "n_nationkey int, n_name string, n_regionkey int",
    ).write.mode("overwrite").parquet(f"{d}/nation.parquet")
    spark.createDataFrame(
        [(0, "EUROPE"), (1, "ASIA")], "r_regionkey int, r_name string"
    ).write.mode("overwrite").parquet(f"{d}/region.parquet")
    return d


def _q21_reference(spark, sf_dir):
    """The pre-r16 shape: late rows semi-joined against any-other-supplier
    rows, anti-joined against other-late-supplier rows."""
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    r = spark.read.parquet(f"{sf_dir}/region.parquet").filter(
        F.col("r_name") == "EUROPE"
    )
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderstatus") == "F"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey",
        "l_suppkey",
        F.expr(
            "date_add(CAST(l_shipdate AS DATE), "
            "CAST((l_orderkey*31 + l_linenumber*7) % 30 AS INT))"
        ).alias("l_commitdate"),
        F.expr(
            "date_add(CAST(l_shipdate AS DATE), "
            "CAST((l_orderkey*17 + l_linenumber*13) % 45 AS INT))"
        ).alias("l_receiptdate"),
    )
    late = F.col("l_receiptdate") > F.col("l_commitdate")
    l1 = li.filter(late).select("l_orderkey", "l_suppkey")
    l2 = li.select(F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2"))
    l3 = li.filter(late).select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
    )
    return (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("o2"))
            & (F.col("l_suppkey") != F.col("s2")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("o3"))
            & (F.col("l_suppkey") != F.col("s3")),
            "left_anti",
        )
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


def test_q21_window_profile_matches_semi_anti_reference(spark, q21_dir):
    got = _rows(x6_tpch_q21(spark, q21_dir))
    want = _rows(_q21_reference(spark, q21_dir))
    assert want, "fixture produced an empty reference — edge legs untested"
    assert got == want


def test_q21_fixture_exercises_every_leg(spark, q21_dir):
    """The fixture must actually contain single-supplier orders, orders
    with >1 late supplier, and (order, supplier) late multiplicity > 1 —
    otherwise the equivalence test above proves less than it claims."""
    li = spark.read.parquet(f"{q21_dir}/lineitem.parquet").select(
        "l_orderkey",
        "l_suppkey",
        (
            F.expr(
                "date_add(CAST(l_shipdate AS DATE), "
                "CAST((l_orderkey*17 + l_linenumber*13) % 45 AS INT))"
            )
            > F.expr(
                "date_add(CAST(l_shipdate AS DATE), "
                "CAST((l_orderkey*31 + l_linenumber*7) % 30 AS INT))"
            )
        ).alias("_late"),
    )
    prof = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("_late"), F.col("l_suppkey"))).alias(
            "n_late"
        ),
        F.sum(F.col("_late").cast("int")).alias("late_rows"),
    )
    assert prof.filter("n_supp = 1").count() > 0
    assert prof.filter("n_late > 1").count() > 0
    assert prof.filter("late_rows > n_late AND n_late >= 1").count() > 0


def test_x16_partitioned_dedup_matches_global_distinct(spark, tmp_path):
    d = str(tmp_path / "x16fx")
    docs = [
        (1, "a a b c"),          # intra-doc repeats must count once
        (2, "b c d"),
        (3, "a c c e"),
        (4, ""),                 # empty text -> one empty-string word
        (5, "a b"),
    ]
    spark.createDataFrame(docs, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(f"{d}/documents.parquet")

    got = _rows(x16_pmi_cooccurrence(spark, d))

    docs_df = spark.read.parquet(f"{d}/documents.parquet")
    words = docs_df.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).distinct()
    dfreq = words.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    vocab = dfreq.orderBy(F.desc("df"), "word").limit(100)
    w = words.join(vocab, "word")
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
    n = docs_df.agg(F.count(F.lit(1)).alias("n_docs"))
    want = _rows(
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
    assert want
    assert got == want


def test_auto_shuffle_partitions_sizing():
    """Round-16 scale-adaptive shuffle-partition default: ~2 MiB of input
    per reduce partition, clamped to [max(4, cores//4), 64*cores] — small
    sessions stop paying 32-way fan-out, big fixtures still spread."""
    from data_lakes_tp2_student_spark.session import auto_shuffle_partitions

    _MIB = 1 << 20
    # sf0.1 (~25 MiB) at 32 cores: a dozen partitions, not 32
    assert auto_shuffle_partitions(25 * _MIB, 32) == 12
    # cores-independent in the byte-driven regime: the 8-core scaling run
    # sees the same plan shape as the 32-core one
    assert auto_shuffle_partitions(25 * _MIB, 8) == 12
    # tiny input: floor keeps minimum concurrency (cores//4, at least 4)
    assert auto_shuffle_partitions(0, 32) == 8
    assert auto_shuffle_partitions(0, 8) == 4
    # big local fixture grows linearly until the cores-aware ceiling
    assert auto_shuffle_partitions(1700 * _MIB, 32) == 850
    assert auto_shuffle_partitions(10**13, 32) == 64 * 32


def test_e3c_merged_window_matches_plain_ntile(spark, tmp_path):
    d = str(tmp_path / "e3cfx")
    rows = [
        (k, f"P{k % 3}", float(37 + (k * 7919) % 500))  # dup prices -> ties
        for k in range(1, 301)
    ]
    spark.createDataFrame(
        rows, "o_orderkey long, o_orderpriority string, o_totalprice double"
    ).write.mode("overwrite").parquet(f"{d}/orders.parquet")

    got = _rows(e3c_ntile_buckets(spark, d))

    o = spark.read.parquet(f"{d}/orders.parquet")
    wq = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    want = _rows(
        o.withColumn("quartile", F.ntile(4).over(wq).cast("bigint"))
        .groupBy("o_orderpriority", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
    )
    assert want
    assert got == want
