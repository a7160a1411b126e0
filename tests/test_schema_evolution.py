"""Schema evolution on parquet zones: additive columns via mergeSchema,
and deterministic backfill of the new column for pre-evolution rows.

The reference's zones are schemaless CSV objects — a new column silently
shifts positional reads (build/unpack_to_raw.py:42 imposes names by
position). Parquet zones evolve additively instead: old files keep the
narrow schema, new files carry the new column, one read reconciles them.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .conftest import SF_SMOKE


def _docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


def test_additive_column_merges_with_nulls(spark, tmp_path):
    zone = str(tmp_path / "zone")
    d = _docs(spark)
    # epoch 1: narrow schema
    d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "text").write.mode(
        "append"
    ).parquet(zone)
    # epoch 2: schema grew a quality column
    d.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "text", F.length("text").alias("quality")
    ).write.mode("append").parquet(zone)

    merged = spark.read.option("mergeSchema", "true").parquet(zone)
    assert set(merged.columns) == {"doc_id", "text", "quality"}
    assert merged.count() == d.count()
    # pre-evolution rows surface the new column as NULL, not garbage
    nulls = merged.filter(F.col("quality").isNull())
    assert nulls.count() == d.filter(F.col("doc_id") % 2 == 0).count()

    # without mergeSchema Spark picks ONE footer's schema — the read
    # still works but may drop the new column; the option is the contract
    plain = spark.read.parquet(zone)
    assert set(plain.columns) <= {"doc_id", "text", "quality"}


def test_backfill_completes_evolved_column(spark, tmp_path):
    """Backfill = recompute the new column WHERE it is null and rewrite —
    after it, the zone reads as if the column had always existed. The
    rewrite is a full-zone overwrite here; at scale it goes partition-by
    -partition (the dynamic-partition-overwrite contract tested in
    test_plan_quality)."""
    zone = str(tmp_path / "zone")
    out = str(tmp_path / "zone_v2")
    d = _docs(spark)
    d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "text").write.mode(
        "append"
    ).parquet(zone)
    d.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "text", F.length("text").alias("quality")
    ).write.mode("append").parquet(zone)

    merged = spark.read.option("mergeSchema", "true").parquet(zone)
    backfilled = merged.withColumn(
        "quality", F.coalesce("quality", F.length("text"))
    )
    backfilled.write.mode("overwrite").parquet(out)

    got = spark.read.parquet(out)
    assert got.filter(F.col("quality").isNull()).count() == 0
    # backfilled values equal the from-scratch computation for every row
    expect = d.select("doc_id", F.length("text").alias("q2"))
    joined = got.join(expect, "doc_id")
    assert joined.filter(F.col("quality") != F.col("q2")).count() == 0
    assert joined.count() == d.count()
