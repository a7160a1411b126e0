"""Structured Streaming jobs over the events table (SURVEY.md §2 i4/i5).

The reference is batch-only; these give the engine a real streaming path:
file-source → watermarked event-time transform → memory sink, driven to
completion synchronously (processAllAvailable) so results are inspectable
as a DataFrame. In production the source/sink swap for Kafka/Delta without
touching the transform (the same `operators.windows` aggregations apply).

The events parquet has shipped with `ts` as TIMESTAMP(NANOS) or
TIMESTAMP(MICROS) across driver testdata generations; the imposed stream
schema adapts per file (a batch footer read decides), same as
`registry.load`.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..registry import assert_ts_not_utc_adjusted, load, scratch_dir


def _events_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),  # long = nanos (converted below)
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def _sentinel_source_dir(sf_dir: str) -> str:
    """Stage dir = symlink to events.parquet + a 2-row sentinel file holding
    one 'view' and one 'purchase' at max(ts) + 1 hour (user_id = -1).

    Draining a finite source leaves the watermark 10 min short of max event
    time, so the youngest unmatched outer-join state never flushes — the
    sentinel pushes the TERMINAL watermark past every real row's join
    horizon, making the drained left-outer result deterministic and equal
    to the batch join. Built fresh on every call, so a regenerated
    events.parquet (later timestamps, or a flipped ts physical type — both
    have happened across testdata generations) always gets a sentinel past
    its own max(ts). Pure test-fixture staging; the engine path stays
    declarative."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = os.path.abspath(f"{sf_dir}/events.parquet")
    d = scratch_dir("stream", "sentinel")
    os.makedirs(d)
    os.symlink(src, os.path.join(d, "events.parquet"))
    schema = pq.read_schema(src)
    tcol = pq.read_table(src, columns=["ts"])["ts"]
    if pa.types.is_timestamp(schema.field("ts").type):
        bump = pa.compute.max(tcol).as_py() + datetime.timedelta(hours=1)
    else:  # nanos-as-long generation
        bump = pa.compute.max(tcol).as_py() + 3_600 * 10**9
    cols = {
        "event_id": [-1, -2],
        "ts": [bump, bump],
        "user_id": [-1, -1],
        "event_type": ["view", "purchase"],
        "value": [0.0, 0.0],
        "props": ["{}", "{}"],
    }
    table = pa.Table.from_pydict(
        {f.name: pa.array(cols[f.name], type=f.type) for f in schema}
    )
    pq.write_table(table, os.path.join(d, "zz_sentinel.parquet"))
    return d


def read_events_stream(
    spark: SparkSession, sf_dir: str, with_sentinel: bool = False
) -> DataFrame:
    """The events table as a file stream. Its input is every
    ``events*.parquet`` file in ``sf_dir``: a file that lands there while a
    checkpointed query is down (say ``events_late.parquet``) is all that
    the restarted query reads. The source is a glob because Spark's file
    stream source rejects a single-file path. With ``with_sentinel`` the
    input is ``events.parquet`` plus the sentinel pair instead (see
    ``_sentinel_source_dir``)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")  # see registry.load
    # A third testdata generation shipping TIMESTAMP(isAdjustedToUTC=true)
    # must fail loudly, not diverge from the naive-UTC oracle.
    assert_ts_not_utc_adjusted(f"{sf_dir}/events.parquet")
    # Footer-only batch read decides whether ts arrives as nanos-long or as
    # a native timestamp; the imposed stream schema must match the file or
    # the reader silently misinterprets the column.
    file_ts = spark.read.parquet(f"{sf_dir}/events.parquet").schema["ts"].dataType
    nanos = isinstance(file_ts, T.LongType)
    source = (
        _sentinel_source_dir(sf_dir) if with_sentinel else f"{sf_dir}/events*.parquet"
    )
    raw = (
        spark.readStream.schema(
            _events_schema(T.LongType() if nanos else file_ts)
        )
        .format("parquet")
        .load(source)
    )
    if nanos:
        return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def _run_to_memory(result: DataFrame, mode: str) -> DataFrame:
    """Start the streaming query into a memory sink, drain all available
    input synchronously, and return the sink table."""
    name = f"stream_{uuid.uuid4().hex[:12]}"
    q = (
        result.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return result.sparkSession.table(name)


def stream_tumbling_agg(
    spark: SparkSession, sf_dir: str, duration: str = "10 minutes"
) -> DataFrame:
    """i4 — watermarked tumbling-window aggregation, complete mode (the
    memory sink then holds exactly the batch-equivalent result, so the same
    SQL oracle applies)."""
    from ..functions.money import dec2

    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = (
        ev.groupBy(F.window("ts", duration).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec2("value")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )
    return _run_to_memory(agg, "complete")


def stream_session_agg(
    spark: SparkSession, sf_dir: str, gap: str = "5 minutes"
) -> DataFrame:
    """i8 — watermarked session-window aggregation on a stream (the merging
    stateful operator: open sessions extend/merge as events arrive, close
    after `gap` of event-time silence). Complete mode over the fully drained
    file source equals the batch session_window result, so i3's
    gaps-and-islands SQL is the oracle. On a real stream, append mode +
    watermark emits each session once it can no longer merge — state is
    bounded by the watermark horizon, not stream length."""
    from ..operators.windows import session_window_agg

    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = session_window_agg(ev, "ts", "user_id", gap)
    return _run_to_memory(agg, "complete")


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """i5 — stateful streaming dedup on event_id within the watermark
    horizon; emits each id once (append mode).

    `dropDuplicatesWithinWatermark`, NOT plain `dropDuplicates`: with the
    event-time column absent from the subset, plain dropDuplicates keeps
    every id ever seen — the watermark never evicts its state and an
    infinite stream OOMs. The WithinWatermark variant expires
    each key once the watermark passes its event time, which is exactly
    the bounded-state contract the docstring promises; on the drained
    finite fixture both emit each id once, so the oracle is unchanged."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    deduped = ev.dropDuplicatesWithinWatermark(["event_id"]).select("event_id")
    return _run_to_memory(deduped, "append")


def build_interval_join(
    spark: SparkSession,
    sf_dir: str,
    how: str = "inner",
    with_sentinel: bool = False,
) -> DataFrame:
    """Shared (undrained) stream-stream interval join plan for i7/i11:
    watermarked views x purchases of the same user within
    [view_ts, view_ts + 10 min). Exposed separately so plan tests can
    assert the STREAMING physical join (StreamingSymmetricHashJoin keyed
    on user) without draining — the drained memory-sink table the i*
    queries return shows only a table scan."""
    ev = read_events_stream(spark, sf_dir, with_sentinel=with_sentinel)
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "10 minutes")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    return views.join(
        purchases,
        F.expr(
            "v_user = user_id AND purchase_ts >= view_ts "
            "AND purchase_ts < view_ts + interval 10 minutes"
        ),
        how,
    )


def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """i7 — stream-stream interval join (view → purchase attribution):
    purchases join views of the same user within [view_ts, view_ts+10min).
    Both sides carry watermarks so the join state is bounded (Spark evicts
    buffered rows once the watermark passes the interval bound — the
    property that makes this run forever on a real stream). Inner-join
    results emit as soon as they match, so draining the file source yields
    exactly the batch join — the SQL oracle applies."""
    joined = build_interval_join(spark, sf_dir, "inner").select(
        "user_id", "view_id", "purchase_id", "view_ts", "purchase_ts"
    )
    return _run_to_memory(joined, "append")


def stream_outer_interval_join(
    spark: SparkSession, sf_dir: str, with_sentinel: bool = False
) -> DataFrame:
    """i11 — stream-stream LEFT OUTER interval join: every view emits, with
    its attributed purchase when one lands in [view_ts, view_ts+10min),
    else with nulls ONCE the watermark proves no purchase can still arrive.

    The outer-specific semantics at 100 TB: matched rows emit immediately
    (inner path); an UNMATCHED view is held in state until the watermark
    (min over both inputs of max-event-time − 10 min) passes its join
    horizon, then emits null-extended in a no-data micro-batch — so state
    stays bounded by the watermark horizon AND results are complete up to
    it. Views younger than the final watermark horizon remain in state when
    a finite source drains, which is CORRECT streaming behavior (they could
    still match) — that tail makes the raw drained result
    watermark-dependent, pinned by the contract test (matched rows == the
    batch inner join; emitted null rows are exactly the provably-expired
    unmatched views).

    ``with_sentinel=True`` (the registry/oracle path) adds a max-timestamp
    sentinel event pair to the source, pushing the terminal watermark past
    every real view's join horizon — the drained result then EQUALS the
    batch left-outer join exactly (sentinel rows filtered back out), so the
    standard SQL oracle applies."""
    joined = build_interval_join(
        spark, sf_dir, "left_outer", with_sentinel=with_sentinel
    ).select("v_user", "view_id", "view_ts", "purchase_id", "purchase_ts")
    out = _run_to_memory(joined, "append")
    if with_sentinel:
        out = out.filter(F.col("v_user") >= 0)
    return out


def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """i10 — stream-static enrichment join: the event stream joins a STATIC
    dimension (per-user aggregate profile computed batch-side from the same
    lake). The static side needs no watermark and holds no join state — on
    a real cluster Spark broadcasts it per micro-batch, so stream state
    stays zero and late data cannot affect the dim. Inner join over the
    drained file source equals the batch join — SQL oracle applies."""
    # registry.load, not a raw read: it owns the TIMESTAMP(NANOS) parquet
    # adaptation — a raw eager read here crashed when i10 was the first
    # events query of the session
    profile = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .withColumn(
            "tier",
            F.when(F.col("n_events") >= 200, "heavy")
            .when(F.col("n_events") >= 100, "mid")
            .otherwise("light"),
        )
        .select("user_id", "tier")
    )
    ev = read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    joined = ev.join(profile, "user_id").select(
        "user_id", "event_id", "tier"
    )
    return _run_to_memory(joined, "append")


def stream_upsert_partitions(
    spark: SparkSession,
    sf_dir: str,
    dest: str,
    checkpoint_dir: str | None = None,
    on_batch=None,
) -> None:
    """i9 — streaming → lake sink via foreachBatch + partition-level upsert:
    each micro-batch dynamic-overwrites ONLY the date partitions it touches
    (io.sinks.overwrite_partitions), so replayed/late batches are idempotent
    per partition and untouched history is never rewritten.

    This is the standard no-Delta ingestion pattern at scale: the lake is a
    table KEYED BY event_id, and the streaming engine gives at-least-once
    batch delivery; each batch MERGES with the existing rows of only the
    partitions it touches (union + dedup on event_id, then dynamic
    partition overwrite), so redelivery converges (the keyed dedup absorbs
    replays) AND late rows for an already-written day ADD to it instead of
    clobbering it — the failure mode a plain per-batch overwrite has when
    arrival is not partition-aligned. The dedup applies to EVERY batch
    (including the first, before any lake exists) so a key duplicated
    within one batch and a key duplicated across batches land identically.
    With `checkpoint_dir` set, source progress survives restarts — a
    resumed query processes ONLY files that arrived since the last commit
    (both proven by tests/test_stream_recovery.py). `on_batch` (batch_df,
    batch_id) is an optional observation hook for tests. Runs the file
    source dry synchronously (same test-bed contract as the other jobs).

    The lake is a SNAPSHOT-COMMITTED manifest table (io/manifest.py): each
    micro-batch lands as ONE
    `commit_replace_partitions`, so every touched day flips to the new
    state atomically — a reader never sees day A post-batch and day B
    pre-batch (the mixed state a raw dynamic partition overwrite can
    expose mid-write), and a driver killed mid-batch leaves only an
    orphan txn dir that the next `vacuum()` removes. Read the lake back
    with `ManifestTable(dest).read(spark)`.

    Scale: the merge reads back only the touched partitions — pruned
    against the manifest's file list, so untouched history is never even
    LISTED (the day list is partition metadata, bounded by days-per-batch,
    the one driver-side collect this sink makes); the `localCheckpoint`
    breaks lineage so the commit never re-reads files it supersedes.

    `dest` may be a path (local manifest table) or an already-constructed
    `ManifestTable` — e.g. one backed by `io/logstore.py:S3LogStore`, so
    the same sink streams atomically into an object-store lake."""
    from ..io.manifest import ManifestTable

    table = dest if isinstance(dest, ManifestTable) else ManifestTable(dest)
    ev = read_events_stream(spark, sf_dir).withColumn("day", F.to_date("ts"))

    def upsert(batch: DataFrame, batch_id: int) -> None:
        if on_batch is not None:
            on_batch(batch, batch_id)
        merged = batch.dropDuplicates(["event_id"])
        if table.latest_version() is not None:
            days = [r.day for r in batch.select("day").distinct().collect()]
            existing = table.read(spark, partition_filter={"day": days})
            merged = (
                merged.unionByName(existing)
                .dropDuplicates(["event_id"])
                .localCheckpoint()
            )
        table.commit_replace_partitions(merged, ["day"])

    writer = ev.writeStream.outputMode("append").foreachBatch(upsert)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def stream_variant_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """i12 — Variant INSIDE the stream: `parse_json` shreds each event's
    JSON payload to VariantType in-flight, `variant_get` typed-extracts
    `$.k`, and a watermarked tumbling window aggregates per type —
    complete mode, so the memory sink holds the batch-equivalent result
    and a plain batch SQL oracle applies. The semi-structured analog of
    i4: at scale the shred cost rides the stream (paid once per event)
    instead of re-parsing JSON per downstream query."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    k = F.variant_get(F.parse_json("props"), "$.k", "bigint")
    agg = (
        ev.withColumn("_k", k)
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("_k").alias("sum_k"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "sum_k"
        )
    )
    return _run_to_memory(agg, "complete")


def stream_cdc_merge(
    spark: SparkSession,
    dest,
    cdc_dir: str,
    cdc_schema: T.StructType,
    key_col: str,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int = 1,
    on_batch=None,
) -> None:
    """i13 — streaming CDC apply: a change feed (rows carrying an `op`
    column: 'U' update / 'D' delete / 'I' insert, plus the key and the
    row image) drains through foreachBatch and each micro-batch lands as
    ONE clause-level MERGE commit on the manifest table —

        WHEN MATCHED AND s.op='U' THEN UPDATE SET <all image columns>
        WHEN MATCHED AND s.op='D' THEN DELETE
        WHEN NOT MATCHED AND s.op='I' THEN INSERT <image>

    This is the Debezium/Delta CDC-ingestion idiom: per batch the merge
    is file-selective (only files containing changed keys rewrite), the
    commit is atomic (a reader sees all of a batch's changes or none),
    and REDELIVERY CONVERGES under at-least-once delivery with
    deterministic change images: a replayed 'U' re-writes the same
    values, a replayed 'D' matches nothing, a replayed 'I' arrives
    matched and fires no clause — so the table state is idempotent in
    the batch set (proven by tests/test_stream_cdc.py's replay run).

    Contract: each micro-batch must be key-unique (one change per key per
    batch — the usual CDC-compaction precondition); a batch carrying two
    modifying changes for one key aborts with MergeCardinalityError
    rather than applying them in an arbitrary order. Feeds with a
    sequence column should compact to latest-per-key in a
    `transform` before the sink.

    `dest` is a ManifestTable or a local path; `cdc_dir` is the file
    stream source (one file per producer batch; `max_files_per_trigger`
    keeps batch = file). Runs the source dry synchronously, same
    test-bed contract as the other jobs."""
    from ..io.manifest import ManifestTable

    table = dest if isinstance(dest, ManifestTable) else ManifestTable(dest)
    if "op" not in [f.name for f in cdc_schema.fields]:
        raise ValueError("CDC schema must carry an 'op' column (U/D/I)")
    image_cols = [f.name for f in cdc_schema.fields if f.name != "op"]
    feed = (
        spark.readStream.schema(cdc_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(cdc_dir)
    )

    def apply(batch: DataFrame, batch_id: int) -> None:
        if on_batch is not None:
            on_batch(batch, batch_id)
        if batch.isEmpty():
            return
        (
            table.merge(spark, batch, f"t.`{key_col}` = s.`{key_col}`")
            .when_matched_update(
                set={c: f"s.`{c}`" for c in image_cols if c != key_col},
                condition="s.op = 'U'",
            )
            .when_matched_delete(condition="s.op = 'D'")
            .when_not_matched_insert(
                values={c: f"s.`{c}`" for c in image_cols},
                condition="s.op = 'I'",
            )
            .execute()
        )

    writer = feed.writeStream.outputMode("append").foreachBatch(apply)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
