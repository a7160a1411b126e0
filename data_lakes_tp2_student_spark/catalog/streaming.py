"""SURVEY.md §2 group I — event-time windows and Structured Streaming:
batch tumbling/sliding/session windows (i1–i3, e3b sessionize), the
streaming twins with watermarks (i4, i5, i8), stateful running totals (i6),
stream-stream and stream-static joins (i7, i10, i11), Variant events (i12),
and the manifest table as a streaming sink and source (i9, i13–i15).

Streaming queries drain into a memory sink or a lake table that is read
back, so most carry the same oracle as their batch twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.windows import (
    session_window_agg,
    sliding_window_agg,
    tumbling_window_agg,
)
from ..registry import load, register, register_manifest_formats, scratch_dir
from ..streaming.jobs import (
    _run_to_memory,
    read_events_stream,
    stream_dedup,
    stream_session_agg,
    stream_tumbling_agg,
)
from ..streaming.stateful import running_totals_per_user


_TUMBLING_ORACLE = """
    SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY window_start, event_type
"""


@register("i1_tumbling_window", oracle=_TUMBLING_ORACLE)
def i1_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """i1 — 10-minute tumbling windows by event_type."""
    ev = load(spark, sf_dir, "events")
    return tumbling_window_agg(ev, "ts", ["event_type"])


@register(
    "i2_sliding_window",
    oracle="""
    WITH assigned AS (
        SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
               event_type, value
        FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes'
                   AS window_start,
               event_type, value
        FROM events
    )
    SELECT window_start, event_type, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM assigned GROUP BY window_start, event_type
    """,
)
def i2_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """i2 — 10-minute windows sliding by 5 (each event in 2 windows; the
    oracle materializes the two bucket assignments with UNION ALL)."""
    ev = load(spark, sf_dir, "events")
    return sliding_window_agg(ev, "ts", ["event_type"])


_SESSION_ORACLE = """
    WITH o AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         >= INTERVAL '5 minutes'
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    s AS (
        SELECT user_id, ts,
               sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM o
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL '5 minutes' AS session_end,
           count(*) AS n
    FROM s GROUP BY user_id, session_id
    """


@register("i3_session_window", oracle=_SESSION_ORACLE)
def i3_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """i3 — per-user session windows (5-minute gap); the oracle is the
    classic gaps-and-islands rewrite (lag + running sum), window end =
    last event + gap ([start, end), Spark semantics)."""
    ev = load(spark, sf_dir, "events")
    return session_window_agg(ev, "ts", "user_id")


@register("i4_stream_tumbling", oracle=_TUMBLING_ORACLE)
def i4_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """i4 — Structured Streaming tumbling agg with watermark, drained via
    memory sink in complete mode — batch-equivalent, so the i1 oracle
    applies verbatim."""
    return stream_tumbling_agg(spark, sf_dir)


@register("i5_stream_dedup", oracle="SELECT DISTINCT event_id FROM events")
def i5_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """i5 — stateful streaming dropDuplicates on event_id (append mode);
    the emitted set is the distinct ids regardless of arrival order."""
    return stream_dedup(spark, sf_dir)


@register(
    "i6_stateful_running_totals",
    oracle="""
    SELECT user_id, count(*) AS n, round(sum(value), 6) AS total
    FROM events GROUP BY user_id
    """,
)
def i6_stateful_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """i6 — applyInPandasWithState per-user running totals; with the whole
    file in one micro-batch the emitted state equals the batch aggregation,
    so the plain grouped SQL is the oracle."""
    ev = read_events_stream(spark, sf_dir)
    out = _run_to_memory(running_totals_per_user(ev), "update")
    return out.select("user_id", "n", F.round("total", 6).alias("total"))


@register(
    "i7_stream_interval_join",
    oracle="""
    SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
           v.ts AS view_ts, p.ts AS purchase_ts
    FROM events v
    JOIN events p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts AND p.ts < v.ts + INTERVAL '10 minutes'
    WHERE v.event_type = 'view' AND p.event_type = 'purchase'
    """,
)
def i7_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """i7 — watermarked stream-stream interval join; inner-join emission
    makes the drained result equal the batch join (SQL oracle)."""
    from ..streaming.jobs import stream_interval_join

    return stream_interval_join(spark, sf_dir)


@register("i8_stream_session", oracle=_SESSION_ORACLE)
def i8_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """i8 — Structured Streaming session windows (the merging stateful
    aggregation), drained via memory sink in complete mode — batch-
    equivalent, so the i3 gaps-and-islands oracle applies verbatim."""
    return stream_session_agg(spark, sf_dir)


@register(
    "i9_stream_lake_sink",
    oracle="""
    SELECT CAST(ts AS DATE) AS day, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY day
    """,
)
def i9_stream_lake_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """i9 — the PRODUCTION streaming sink path, end-to-end and
    oracle-checked: the events stream drains through
    `foreachBatch` + dynamic partition overwrite into a day-partitioned
    parquet lake (no driver-side memory sink anywhere), then the lake is
    read BACK from disk and aggregated per day. A hash match proves the
    whole write path — micro-batch delivery, partition-level idempotent
    upsert, partition-typed read-back — preserves every row exactly once.

    Scale: the memory-sink i-series oracles materialize results on the
    driver (fine for a check, wrong story at 100 TB); this one never does —
    data flows executor → partitioned files → executor.

    The sink is a keyed merge (dedup on event_id); the oracle's plain
    GROUP BY matches because the driver fixture keeps event_id unique —
    if a future fixture adds duplicate ids the oracle must switch to a
    one-row-per-id form."""
    from ..streaming.jobs import stream_upsert_partitions

    # Fresh lake per call: a leftover dest would MERGE into the result and
    # silently diverge from the oracle.
    dest = scratch_dir("ingest", "i9_lake")
    stream_upsert_partitions(spark, sf_dir, dest)
    from ..io.manifest import ManifestTable

    back = ManifestTable(dest).read(spark)
    from ..functions.money import dec2

    return back.groupBy("day").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec2("value")).cast("double").alias("sum_value"),
    )


@register(
    "i10_stream_static_join",
    oracle="""
    WITH profile AS (
        SELECT user_id,
               CASE WHEN count(*) >= 200 THEN 'heavy'
                    WHEN count(*) >= 100 THEN 'mid'
                    ELSE 'light' END AS tier
        FROM events GROUP BY user_id
    )
    SELECT e.user_id, e.event_id, p.tier
    FROM events e JOIN profile p ON e.user_id = p.user_id
    WHERE e.event_type = 'purchase'
    """,
)
def i10_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """i10 — stream-static enrichment: purchases on the stream join a
    batch-computed per-user tier dim (no stream state for the static side;
    broadcast per micro-batch on a cluster). Drained inner join = batch
    join, so the SQL oracle applies verbatim."""
    from ..streaming.jobs import stream_static_join

    return stream_static_join(spark, sf_dir)


@register(
    "i11_stream_outer_join",
    oracle="""
    SELECT v.user_id, v.event_id AS view_id, v.ts AS view_ts,
           p.event_id AS purchase_id, p.ts AS purchase_ts
    FROM events v
    LEFT JOIN events p
      ON p.user_id = v.user_id AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts < v.ts + INTERVAL '10 minutes'
    WHERE v.event_type = 'view'
    """,
)
def i11_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """i11 — stream-stream LEFT OUTER interval join, drained with a
    max-timestamp sentinel event pair: the sentinel
    pushes the terminal watermark past every real view's join horizon, so
    every unmatched view provably expires and null-extends — the drained
    result equals the batch left-outer join and the SQL oracle applies.
    The raw watermark-dependent drain (no sentinel) keeps its bounded-state
    contract in tests/test_stream_outer_join.py."""
    from ..streaming.jobs import stream_outer_interval_join

    out = stream_outer_interval_join(spark, sf_dir, with_sentinel=True)
    return out.withColumnRenamed("v_user", "user_id")


@register(
    "i12_stream_variant",
    oracle="""
    SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
               AS sum_k
    FROM events GROUP BY window_start, event_type
    """,
)
def i12_stream_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """i12 — streaming VariantType extraction + watermarked tumbling agg
    (streaming/jobs.py:stream_variant_agg); drained complete-mode, so the
    batch `json_extract` oracle applies verbatim."""
    from ..streaming.jobs import stream_variant_agg

    return stream_variant_agg(spark, sf_dir)


@register(
    "i13_stream_cdc_merge",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN o_orderkey % 7 = 1
                THEN CAST(o_totalprice * 1.1 AS DOUBLE)
                ELSE o_totalprice END AS o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders
    WHERE o_orderkey % 7 <> 2
    UNION ALL
    SELECT -o_orderkey, 0, 'N', o_totalprice, TIMESTAMP '1995-01-01', '5-LOW'
    FROM orders WHERE o_orderkey % 1000 = 5
    """,
)
def i13_stream_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """i13 — streaming CDC apply into the manifest table: a
    three-batch change feed (updates for keys %7==1 repriced +10%,
    deletes for keys %7==2, inserts of synthetic negative-key orders)
    drains through `streaming.jobs.stream_cdc_merge`, each micro-batch
    landing as ONE atomic clause-level MERGE commit (file-selective
    copy-on-write; `io/manifest.py:MergeBuilder`). The answer is the
    final committed table read BACK from disk, so the hash match proves
    the full chain: file-source micro-batch delivery → per-batch MERGE
    routing by op → snapshot commit → read-back. Batch key sets are
    disjoint, so arrival order cannot change the result — the property
    that makes the feed safe under the file source's mtime ordering.

    Scale: this is the Debezium→lakehouse ingestion shape — per batch
    cost is O(changed keys' files), commits are atomic per batch, and
    redelivery converges (tests/test_stream_cdc.py replays the feed)."""
    from ..io.manifest import ManifestTable
    from ..streaming.jobs import stream_cdc_merge

    dest = scratch_dir("ingest", "i13_lake")
    stage = scratch_dir("ingest", "i13_cdc")

    orders = load(spark, sf_dir, "orders")
    table = ManifestTable(dest)
    table.commit_overwrite(orders)

    updates = (
        orders.filter(F.col("o_orderkey") % 7 == 1)
        .withColumn("o_totalprice", (F.col("o_totalprice") * 1.1).cast("double"))
        .withColumn("op", F.lit("U"))
    )
    deletes = (
        orders.filter(F.col("o_orderkey") % 7 == 2)
        .withColumn("op", F.lit("D"))
    )
    inserts = (
        orders.filter(F.col("o_orderkey") % 1000 == 5)
        .select(
            (-F.col("o_orderkey")).alias("o_orderkey"),
            F.lit(0).cast("long").alias("o_custkey"),
            F.lit("N").alias("o_orderstatus"),
            F.col("o_totalprice"),
            F.lit("1995-01-01").cast("timestamp").alias("o_orderdate"),
            F.lit("5-LOW").alias("o_orderpriority"),
            F.lit("I").alias("op"),
        )
    )
    cdc_schema = updates.schema
    for i, batch in enumerate([updates, deletes, inserts]):
        batch.coalesce(1).write.mode("append").parquet(stage)

    stream_cdc_merge(spark, table, stage, cdc_schema, "o_orderkey")
    return table.read(spark)


@register("i14_stream_lake_source", oracle="SELECT * FROM orders")
def i14_stream_lake_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """i14 — the manifest table as a streaming SOURCE (the readStream half of the lakehouse contract; i9/i13 are the write
    half): orders lands in the table as an initial snapshot plus two
    append commits, and `spark.readStream.format("manifest_stream")`
    (streaming/source.py — Spark 4 Python Data Source API, offsets =
    commit versions) drains it into a memory sink. The hash match vs
    plain orders proves the source delivered every committed row exactly
    once across the initial-load batch and the incremental append
    batches — the subscribe-to-the-table form that replaces the
    reference's re-read-the-bucket polling (build/unpack_to_raw.py:57).

    Scale shape: offset resolution is O(Δ versions) driver-side JSON;
    each data file is one input partition read as Arrow batches
    executor-side — file-per-task parallelism, no driver materialization."""
    from ..io.manifest import ManifestTable

    dest = scratch_dir("ingest", "i14_lake")
    orders = load(spark, sf_dir, "orders")
    table = ManifestTable(dest)
    table.commit_overwrite(orders.filter(F.col("o_orderkey") % 3 == 0))
    table.commit_append(orders.filter(F.col("o_orderkey") % 3 == 1))
    table.commit_append(orders.filter(F.col("o_orderkey") % 3 == 2))

    register_manifest_formats(spark)
    name = "i14_sink_" + dest.rsplit("_", 1)[1]
    q = (
        spark.readStream.format("manifest_stream")
        .option("path", dest)
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


@register("i15_stream_lake_sink", oracle="SELECT * FROM orders")
def i15_stream_lake_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """i15 — the manifest table as a streaming SINK through the official
    Data Source API (io/datasource.py:ManifestStreamWriter; i14 is the
    source half — this query chains BOTH): orders lands in a source
    table as v0 + two appends, `spark.readStream.format(
    "manifest_stream")` drains it, and `writeStream.format("manifest")`
    publishes each micro-batch as ONE atomic conflict-checked commit
    into a second manifest table, with `txnAppId` recording Delta's txn
    action per batch (a restarted stream skips any batchId the log
    already holds — exactly-once over at-least-once redelivery). The
    hash match vs plain orders proves the full loop — source offsets,
    executor-staged Arrow writes, per-epoch atomic publish — loses and
    invents nothing.

    Scale shape: data never funnels through the driver (executors stage
    parquet per task, only O(files) entries ride the commit messages);
    each epoch is one O(Δfiles) log publish; readers and the downstream
    manifest_stream source see exactly one version per batch."""
    from ..io.manifest import ManifestTable

    src_root = scratch_dir("ingest", "i15_src")
    sink_root = scratch_dir("ingest", "i15_sink")
    ck = scratch_dir("ingest", "i15_ck")
    orders = load(spark, sf_dir, "orders")
    src = ManifestTable(src_root)
    src.commit_overwrite(orders.filter(F.col("o_orderkey") % 3 == 0))
    src.commit_append(orders.filter(F.col("o_orderkey") % 3 == 1))

    register_manifest_formats(spark)
    q = (
        spark.readStream.format("manifest_stream")
        .option("path", src_root)
        .load()
        .writeStream.format("manifest")
        .option("path", sink_root)
        .option("txnAppId", "i15")
        .option("checkpointLocation", ck)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # a commit landing while the stream runs arrives as its own epoch
        src.commit_append(orders.filter(F.col("o_orderkey") % 3 == 2))
        q.processAllAvailable()
    finally:
        q.stop()
    return ManifestTable(sink_root).read(spark)


@register(
    "e3b_sessionize",
    oracle="""
    WITH s AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)
                         > INTERVAL '300 seconds'
                    THEN 1 ELSE 0 END AS brk
        FROM events
    ),
    sess AS (
        SELECT user_id, ts,
               CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM s
    )
    SELECT user_id, session_id,
           count(*) AS n_events,
           min(ts) AS session_start,
           max(ts) AS session_end
    FROM sess
    GROUP BY user_id, session_id
    """,
)
def e3b_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """e3 — gap-based sessionization with stable 0-based session ids
    (lag + running-sum-of-breaks over one partitioning by user); the
    window-function dual of i3's session_window."""
    from ..operators.windows import sessionize

    ev = load(spark, sf_dir, "events")
    return sessionize(ev, "ts", "user_id", "event_id", gap_seconds=300)
