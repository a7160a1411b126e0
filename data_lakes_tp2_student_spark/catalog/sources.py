"""SURVEY.md §2 group A — scans, sources and sinks: multi-path CSV scans,
headerless/headered CSV roundtrips, JSON/ORC roundtrips, the binaryFile
media scan, mergeSchema evolution and PERMISSIVE malformed-row capture.

Each roundtrip writes the driver table out and reads it back, so the
parquet-backed oracle view proves format fidelity. Staging lives under
``<repo>/.tmp/ingest`` (driver testdata is read-only); each query
overwrites its own subdir, so reruns are idempotent.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..io.sinks import write_csv
from ..io.sources import read_csv_headered, read_csv_headerless
from ..registry import load, register, scratch_dir


NATION_SCHEMA = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]
)


@register("a1_multipath_scan", oracle="SELECT * FROM nation")
def a1_multipath_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a1+g1 — sharded directory layout ({train,test,dev} subdirs) read as
    one multi-path scan (ref walks subfolders per-file,
    build/unpack_to_raw.py:34-44; Spark's union is the read itself)."""
    n = load(spark, sf_dir, "nation")
    shards = {
        "train": n.filter("n_nationkey % 3 = 0"),
        "test": n.filter("n_nationkey % 3 = 1"),
        "dev": n.filter("n_nationkey % 3 = 2"),
    }
    root = scratch_dir("ingest", "a1_nation", clear=False)
    for sub, df in shards.items():
        write_csv(df, f"{root}/{sub}", header=False)
    return read_csv_headerless(
        spark, [f"{root}/{s}" for s in ("train", "test", "dev")], NATION_SCHEMA
    )


@register("a2_csv_headerless_roundtrip", oracle="SELECT * FROM nation")
def a2_csv_headerless_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a2+a4 — headerless CSV sink then source with imposed schema
    (ref: pd.read_csv(names=[...]), build/unpack_to_raw.py:40-43).
    Lossless roundtrip ⇒ result equals the source parquet table."""
    path = scratch_dir("ingest", "a2_nation", clear=False)
    write_csv(load(spark, sf_dir, "nation"), path, header=False)
    return read_csv_headerless(spark, path, NATION_SCHEMA)


@register("a3_csv_headered_roundtrip", oracle="SELECT * FROM customer")
def a3_csv_headered_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a3+a4 — headered CSV roundtrip with imposed schema
    (ref: src/preprocess_to_staging.py:115-116)."""
    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    )
    path = scratch_dir("ingest", "a3_customer", clear=False)
    write_csv(load(spark, sf_dir, "customer"), path, header=True)
    return read_csv_headered(spark, path, schema)


@register("a8_json_roundtrip", oracle="SELECT * FROM nation")
def a8_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a-group format coverage — JSON lines sink + schema-imposed source."""
    path = scratch_dir("ingest", "a8_nation_json", clear=False)
    load(spark, sf_dir, "nation").write.mode("overwrite").json(path)
    return spark.read.schema(NATION_SCHEMA).json(path)


@register("a9_orc_roundtrip", oracle="SELECT * FROM nation")
def a9_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a-group format coverage — ORC sink + source (columnar alternative;
    pushdown/pruning apply as with parquet)."""
    path = scratch_dir("ingest", "a9_nation_orc", clear=False)
    load(spark, sf_dir, "nation").write.mode("overwrite").orc(path)
    return spark.read.orc(path)


@register(
    "a10_binaryfile_media_scan",
    oracle="""
    SELECT CAST(t.range AS BIGINT) AS doc_id,
           true AS valid,
           CAST(t.range % 16 + 1 AS BIGINT) AS width,
           CAST(t.range % 12 + 1 AS BIGINT) AS height,
           CAST(24 AS BIGINT) AS bpp,
           CAST(54 + ((24 * (t.range % 16 + 1) + 31) // 32) * 4
                    * (t.range % 12 + 1) AS BIGINT) AS n_bytes,
           CAST((t.range * 7) % 256 AS BIGINT) AS px0,
           CAST(54 + ((24 * (t.range % 16 + 1) + 31) // 32) * 4
                    * (t.range % 12 + 1) AS BIGINT) AS file_length
    FROM range(25) t
    """,
)
def a10_binaryfile_media_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a-group source coverage — the `binaryFile` source, how raw media
    lands in a lake: loose image files on disk → (path, length, content)
    rows → real BMP parse. Fixture: 25 deterministic .bmp files (one per
    nation key, written with plain Python — file arrival is outside any
    engine); the operator under test is the glob-filtered binaryFile scan +
    `parse_bmp`, with the file's id recovered from its path. The oracle
    predicts every parsed field AND the source's length column from the id.

    Scale: binaryFile splits by file (maxPartitionBytes applies per file);
    a 100 TB media lake reads exactly this way, with pathGlobFilter pruning
    non-media objects before any bytes move."""
    from ..operators.multimodal import bmp_bytes, parse_bmp

    path = scratch_dir("ingest", "a10_media", clear=False)
    os.makedirs(path, exist_ok=True)
    # Always rewrite (files are tiny): an if-exists skip would let stale
    # fixtures from an older bmp_bytes version, or a crashed partial write,
    # silently diverge from the oracle.
    for i in range(25):
        f = os.path.join(path, f"doc_{i}.bmp")
        with open(f, "wb") as fh:
            fh.write(bmp_bytes(i))
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bmp")
        .load(path)
    )
    media = raw.select(
        F.regexp_extract("path", r"doc_(\d+)\.bmp$", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.col("content").alias("media"),
        F.col("length").alias("file_length"),
    )
    return parse_bmp(media.select("doc_id", "media")).join(
        media.select("doc_id", "file_length"), "doc_id"
    )


@register(
    "a11_schema_evolution",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey,
           CAST(NULL AS BIGINT) AS batch_tag
    FROM nation
    UNION ALL
    SELECT n_nationkey, n_name, n_regionkey,
           CAST(n_nationkey * 10 AS BIGINT) AS batch_tag
    FROM nation
    """,
)
def a11_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a-group source coverage — schema evolution across ingest batches:
    an older parquet batch lacks a column a newer batch added; a
    mergeSchema multi-path read reconciles them (missing column → NULL for
    the old rows), the way a lake table grows columns without rewriting
    history. The reconciled dtype is pinned BIGINT on both sides.

    Scale: mergeSchema's cost is footer-only (one scan of file schemas,
    not data); per-file column absence is handled by the reader, so old
    batches are never rewritten — the property that matters when 'old'
    is 99 % of 100 TB."""
    base = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    p = scratch_dir("ingest", "a11_evo", clear=False)
    base.write.mode("overwrite").parquet(f"{p}/v1")
    base.withColumn(
        "batch_tag", (F.col("n_nationkey") * 10).cast("bigint")
    ).write.mode("overwrite").parquet(f"{p}/v2")
    return spark.read.option("mergeSchema", "true").parquet(
        f"{p}/v1", f"{p}/v2"
    )


@register(
    "a12_csv_malformed",
    oracle="""
    -- fixture rule: 100 rows, every 10th malformed (extra column);
    -- PERMISSIVE capture must keep 90 parsed rows + 10 corrupt records
    SELECT CAST(90 AS BIGINT) AS n_good,
           CAST(10 AS BIGINT) AS n_corrupt,
           CAST((SELECT sum(r.range * 3) FROM range(100) r
                 WHERE r.range % 10 <> 0) AS BIGINT) AS sum_value_good
    """,
)
def a12_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a-group robustness — MALFORMED-row CSV ingest: real lakes always
    contain broken rows, and a reader that crashes (or silently drops)
    loses data unaccountably. PERMISSIVE mode with a corrupt-record column
    keeps every byte: parse failures land as nulls + the raw line in
    `_corrupt_record`, so bad rows are countable, quarantinable, and
    re-parsable. The fixture writes 100 rows with every 10th malformed
    (extra column); the oracle predicts good/corrupt counts and the
    good-row sum arithmetically.

    Scale: mode/columnNameOfCorruptRecord are per-task reader options —
    the quarantine pattern costs nothing extra at any scale, unlike a
    separate validation pass."""
    from pyspark.sql import types as T

    path = scratch_dir("ingest", "a12_malformed.csv", clear=False)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        for i in range(100):
            if i % 10 == 0:
                fh.write(f"{i},{i * 3},name_{i},EXTRA_FIELD,boom\n")
            else:
                fh.write(f"{i},{i * 3},name_{i}\n")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("value", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    ).cache()  # SPARK-21610: corrupt-record queries need the full row read
    good = F.col("_corrupt_record").isNull()
    return df.agg(
        F.count(F.when(good, 1)).alias("n_good"),
        F.count(F.when(~good, 1)).alias("n_corrupt"),
        F.sum(F.when(good, F.col("value"))).cast("bigint").alias(
            "sum_value_good"
        ),
    )
