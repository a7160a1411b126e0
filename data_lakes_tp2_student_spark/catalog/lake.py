"""SURVEY.md §2 group X8 and the lake extensions: MERGE/upsert, SCD2 and
incremental MV maintenance, then the snapshot-committed manifest table
(io/manifest.py) exercised as oracle-checked queries — time travel, change
data feed, Z-order skipping, restore, an S3 log store, copy-on-write and
deletion-vector DELETE/UPDATE, clause-level MERGE, CHECK constraints, the
registered ``manifest`` batch format, deep clone, column mapping, metadata
row counts, columnar checkpoints and stacked deletion vectors.

The reference's only notion of a committed table state is "the CSV object
most recently clobbered into the bucket" (build/unpack_to_raw.py:57 —
whole-file put, no versioning, readers race the writer). Each lake query
commits through a fresh table under ``snapshots`` in the process's scratch
root (``registry.scratch_dir``) and answers with a committed snapshot read
back from disk.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..io.manifest import ManifestTable
from ..operators.merge import merge_upsert, scd2_merge
from ..registry import load, register, register_manifest_formats, scratch_dir


_X8_ORACLE = """
    WITH source AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(o_totalprice * 1.1 AS DOUBLE) AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 10 = 0
    )
    SELECT * FROM orders t
    WHERE NOT EXISTS (SELECT 1 FROM source s WHERE s.o_orderkey = t.o_orderkey)
    UNION ALL
    SELECT * FROM source
    """

# x59/x61 (copy-on-write vs deletion-vector DELETE) and x60/x62 (UPDATE)
# share one oracle each: the two physical strategies must read the same.
_DELETE_WHERE_ORACLE = """
    SELECT * FROM orders
    WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 5 = 0)
    """

_UPDATE_WHERE_ORACLE = """
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN o_orderstatus = 'O'
                THEN CAST(o_totalprice * 1.05 AS DOUBLE)
                ELSE o_totalprice END AS o_totalprice,
           o_orderdate,
           CASE WHEN o_orderstatus = 'O'
                THEN '1-URGENT' ELSE o_orderpriority END AS o_orderpriority
    FROM orders
    """


@register("x8_merge_upsert", oracle=_X8_ORACLE)
def x8_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO emulation (anti-join + union): a 10% 'CDC batch' with
    repriced orders upserted into the orders table; source wins on key."""
    orders = load(spark, sf_dir, "orders")
    source = orders.filter(F.col("o_orderkey") % 10 == 0).withColumn(
        "o_totalprice", (F.col("o_totalprice") * 1.1).cast("double")
    )
    return merge_upsert(orders, source, "o_orderkey")


@register(
    "x28_scd2_dimension",
    oracle="""
    WITH dim AS (
        SELECT c_custkey, c_mktsegment,
               CAST(0 AS BIGINT) AS valid_from,
               CAST(NULL AS BIGINT) AS valid_to
        FROM customer
    ),
    upd AS (
        SELECT c_custkey, 'PROMO' AS new_seg
        FROM customer WHERE c_custkey % 10 = 3
    )
    SELECT d.c_custkey, d.c_mktsegment, d.valid_from, d.valid_to
    FROM dim d LEFT JOIN upd u USING (c_custkey)
    WHERE u.c_custkey IS NULL OR u.new_seg = d.c_mktsegment
    UNION ALL
    SELECT d.c_custkey, d.c_mktsegment, d.valid_from, CAST(1 AS BIGINT)
    FROM dim d JOIN upd u USING (c_custkey)
    WHERE u.new_seg <> d.c_mktsegment
    UNION ALL
    SELECT d.c_custkey, u.new_seg, CAST(1 AS BIGINT), CAST(NULL AS BIGINT)
    FROM dim d JOIN upd u USING (c_custkey)
    WHERE u.new_seg <> d.c_mktsegment
    """,
)
def x28_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x28 — SCD TYPE-2 dimension merge (the history-keeping cousin of
    x8's overwrite upsert): a CDC batch re-segments 10% of customers;
    changed rows are closed with a validity end and re-opened at the new
    value, untouched/no-op rows pass through (`operators.merge.scd2_merge`).
    The standard warehouse pattern for auditable dimensions."""
    cust = load(spark, sf_dir, "customer")
    dim = cust.select(
        "c_custkey",
        "c_mktsegment",
        F.lit(0).cast("bigint").alias("valid_from"),
        F.lit(None).cast("bigint").alias("valid_to"),
    )
    updates = cust.filter(F.col("c_custkey") % 10 == 3).select(
        "c_custkey", F.lit("PROMO").alias("c_mktsegment")
    )
    return scd2_merge(dim, updates, "c_custkey", "c_mktsegment", batch_id=1)


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


def _fresh_orders_table(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    stats_cols: list[str] | None = None,
    select: list[str] | None = None,
) -> ManifestTable:
    """Version 0 = the orders table (optionally projected / with file
    stats), committed fresh per call (a leftover log would merge stale
    rows — same hazard as i9's lake dir)."""
    table = ManifestTable(scratch_dir("snapshots", tag), stats_cols=stats_cols)
    df = load(spark, sf_dir, "orders")
    if select:
        df = df.select(*select)
    table.commit_overwrite(df)
    return table


def _commit_upsert(spark: SparkSession, table: ManifestTable) -> int:
    """The x8 CDC batch (10% of orders repriced +10%), merged against the
    CURRENT committed snapshot and committed as the next version."""
    current = table.read(spark)
    source = current.filter(F.col("o_orderkey") % 10 == 0).withColumn(
        "o_totalprice", (F.col("o_totalprice") * 1.1).cast("double")
    )
    merged = merge_upsert(current, source, "o_orderkey")
    return table.commit_overwrite(merged)


@register("x52_snapshot_upsert", oracle=_X8_ORACLE)
def x52_snapshot_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x52 — x8's MERGE routed through the snapshot-commit manifest table:
    version 0 = orders, version 1 = merge-upsert,
    answer = the committed LATEST read back from disk. The hash match
    proves the full commit path — immutable txn data files, atomic
    put-if-absent manifest publish, snapshot read — loses and invents
    nothing vs the pure-DataFrame merge."""
    table = _fresh_orders_table(spark, sf_dir, "x52")
    _commit_upsert(spark, table)
    return table.read(spark)


@register("x53_time_travel", oracle="SELECT * FROM orders")
def x53_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x53 — reader isolation / time travel: AFTER the merge commit lands
    as version 1, reading pinned version 0 still returns exactly the
    original orders table (data files are immutable; the old manifest
    still lists them). This is the property that makes concurrent
    reader/writer safe without locks: a reader that resolved its version
    pre-commit is untouched by any number of later commits."""
    table = _fresh_orders_table(spark, sf_dir, "x53")
    _commit_upsert(spark, table)  # version 1 exists...
    return table.read(spark, version=0)  # ...but we read version 0


@register(
    "x54_change_data_feed",
    oracle="""
    SELECT o_orderkey,
           'update_postimage' AS change_type,
           CAST(o_totalprice * 1.1 AS DOUBLE) AS o_totalprice
    FROM orders WHERE o_orderkey % 10 = 0
    """,
)
def x54_change_data_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x54 — change data feed between committed versions: after the x8
    MERGE lands as version 1, diff v0→v1 (one full-outer join on the key,
    null-safe struct comparison of the values, unchanged keys filtered
    before any downstream work) and emit the Delta-CDF change rows. The
    oracle predicts exactly the repriced 10%: the merge touches nothing
    else, so insert/delete counts are zero and every change row is an
    update_postimage carrying the 1.1x price. The primitive incremental
    consumers (downstream MV refresh, reverse ETL, cache invalidation)
    read instead of rescanning the table."""
    table = _fresh_orders_table(spark, sf_dir, "x54")
    _commit_upsert(spark, table)
    diff = table.snapshot_diff(spark, 0, 1, ["o_orderkey"])
    return diff.select("o_orderkey", "change_type", "o_totalprice")


@register(
    "x55_cdf_mv_refresh",
    oracle="""
    WITH merged AS (
        SELECT o_custkey, o_totalprice FROM orders WHERE o_orderkey % 10 <> 0
        UNION ALL
        SELECT o_custkey, CAST(o_totalprice * 1.1 AS DOUBLE)
        FROM orders WHERE o_orderkey % 10 = 0
    )
    SELECT o_custkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS total_cents
    FROM merged GROUP BY o_custkey
    """,
)
def x55_cdf_mv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x55 — incremental MV maintenance DRIVEN BY the change data feed:
    the per-customer (count, total) MV is built on version 0, the x8
    MERGE commits as version 1, and the refresh consumes ONLY
    `snapshot_diff(0, 1, include_preimage=True)` — postimages/inserts
    add, preimages/deletes retract (sign = ±1, one uniform expression for
    both aggregates), one outer join applies the per-customer deltas.
    The oracle recomputes the MV from scratch over the merged state; the
    hash match proves retraction arithmetic is exact (all money math in
    integer cents — associative, so incremental == recompute bit-for-bit,
    which float sums cannot promise under reordering).

    Scale: the refresh touches O(changed keys), not O(table) — with a
    0.1% daily churn on a 100 TB fact table that is the difference
    between a 100 GB job and a 100 TB job. Complements x41 (algebraic
    base+delta merge with a HANDED delta): here the delta comes from the
    committed log itself."""
    table = _fresh_orders_table(spark, sf_dir, "x55")
    # money in IEEE-exact integer cents: floor(x*100 + 0.5) is the same
    # double arithmetic in Spark and DuckDB (a double->DECIMAL cast is
    # NOT — the engines round halfway doubles in different directions,
    # measured one-cent drift at sf0.01), and bigint sums are associative
    # so incremental == recompute exactly
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
    base = (
        table.read(spark, version=0)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("_n0"),
            F.sum(cents).alias("_s0"),
        )
    )
    _commit_upsert(spark, table)
    diff = table.snapshot_diff(
        spark, 0, 1, ["o_orderkey"], include_preimage=True
    )
    sign = F.when(
        F.col("change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    delta = diff.groupBy("o_custkey").agg(
        F.sum(sign).alias("_dn"),
        F.sum(sign.cast("bigint") * cents).alias("_ds"),
    )
    refreshed = base.join(delta, "o_custkey", "full_outer").select(
        "o_custkey",
        (F.coalesce("_n0", F.lit(0)) + F.coalesce("_dn", F.lit(0)))
        .cast("bigint")
        .alias("n_orders"),
        (F.coalesce("_s0", F.lit(0)) + F.coalesce("_ds", F.lit(0)))
        .cast("bigint")
        .alias("total_cents"),
    )
    return refreshed.filter(F.col("n_orders") > 0)


@register(
    "x56_zorder_skipping_read",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders
    WHERE o_custkey BETWEEN 100 AND 260 AND o_orderkey BETWEEN 1 AND 30000
    """,
)
def x56_zorder_skipping_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x56 — manifest data skipping, correctness-gated end to end: orders
    is committed with per-file (o_custkey, o_orderkey) stats, OPTIMIZE
    ZORDER BY rewrites it Morton-clustered, and the query reads THROUGH
    `range_filter` file skipping plus the row-level predicate. The oracle
    is the plain filter over the raw table — if the manifest pruning ever
    skipped a file it must not (stats bug, boundary-inclusive bug), rows
    disappear and the hash breaks. The skipping RATE is asserted in
    tests/test_manifest.py; this entry pins its SOUNDNESS."""
    table = _fresh_orders_table(
        spark,
        sf_dir,
        "x56",
        stats_cols=["o_custkey", "o_orderkey"],
        select=["o_orderkey", "o_custkey", "o_totalprice"],
    )
    table.optimize_zorder(spark, ["o_custkey", "o_orderkey"], n_files=16, bits=12)
    pruned = table.read(
        spark,
        range_filter={"o_custkey": (100, 260), "o_orderkey": (1, 30000)},
    )
    return pruned.filter(
        (F.col("o_custkey").between(100, 260))
        & (F.col("o_orderkey").between(1, 30000))
    )


@register("x57_restore_rollback", oracle="SELECT * FROM orders")
def x57_restore_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x57 — RESTORE through the oracle gate: version 0 = orders, version
    1 = the x8 merge ("bad deploy"), version 2 = restore(0) — a
    metadata-only rollback that republishes v0's immutable file list as
    the new head. The answer reads the LATEST (not a pinned version, as
    x53 does), so the hash match proves the rollback actually moved the
    head back to the original table bit-for-bit while v1 stays
    time-travelable. The operational primitive for 'yesterday's load was
    wrong' at 100 TB: zero data movement, one log entry."""
    table = _fresh_orders_table(spark, sf_dir, "x57")
    _commit_upsert(spark, table)  # the commit to roll back
    table.restore(0)
    return table.read(spark)  # LATEST == restored v0


@register("x58_s3_lake_commit", oracle=_X8_ORACLE)
def x58_s3_lake_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x58 — the x52 snapshot-upsert workload with the commit log ON AN
    OBJECT STORE: an in-process moto S3
    server backs an `S3LogStore`, whose atomic put-if-absent is the
    public S3 conditional put (`If-None-Match: *` → 412 on conflict)
    instead of the local store's os.link. Version 0 = orders, version 1
    = the merge-upsert, answer = the committed latest read back THROUGH
    the object store (log entries, data files, and listing all live in
    the bucket; reads rehydrate through the immutable-file cache). The
    hash match proves the S3 backend's full commit path is
    byte-equivalent to the local one — the storage class the reference's
    bucket-zone contract targets (ref: build/unpack_to_raw.py:17-22).
    On a real cluster the data transport swaps to direct s3a://
    executor reads (io/s3.py); the LOG protocol is exactly this one."""
    from moto.server import ThreadedMotoServer

    from ..io.logstore import S3LogStore
    from ..io.manifest import ManifestTable

    server = ThreadedMotoServer(port=0)
    server.start()
    try:
        _host, port = server.get_host_and_port()
        store = S3LogStore(
            "lake",
            "x58_orders",
            endpoint=f"http://127.0.0.1:{port}",
            cache_dir=scratch_dir("snapshots", "x58_cache"),
        )
        store.client.create_bucket(Bucket="lake")
        table = ManifestTable("s3://lake/x58_orders", log_store=store)
        table.commit_overwrite(load(spark, sf_dir, "orders"))
        _commit_upsert(spark, table)
        out = table.read(spark)
        # materialize NOW: the moto server dies with this function, so
        # the lazy plan must not reach back to it afterwards
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        server.stop()


@register("x59_delete_where", oracle=_DELETE_WHERE_ORACLE)
def x59_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x59 — row-level DELETE FROM through the snapshot log:
    version 0 = orders, version 1 = `delete_where("o_orderstatus = 'F'
    AND o_orderkey % 5 = 0")` — the copy-on-write right-to-erasure
    primitive: only files CONTAINING matches are rewritten (the rest of
    the snapshot carries over by reference in a `remove: files` delta
    entry), the pre-delete version still time-travels, and a concurrent
    commit would abort the delete (serializable — the gate
    tests/test_manifest.py pins). The hash match proves the rewrite
    dropped exactly the predicate's rows and not one more."""
    table = _fresh_orders_table(spark, sf_dir, "x59")
    table.delete_where(spark, "o_orderstatus = 'F' AND o_orderkey % 5 = 0")
    return table.read(spark)


@register("x60_update_where", oracle=_UPDATE_WHERE_ORACLE)
def x60_update_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x60 — row-level UPDATE ... SET through the snapshot log (the
    delete_where twin): open orders get repriced +5% and escalated,
    everything else passes through byte-equal; only files containing
    matches rewrite. The CASE-mirrored oracle proves the matched rows
    changed exactly as SET and the unmatched rows (including those
    sharing rewritten files) are untouched."""
    table = _fresh_orders_table(spark, sf_dir, "x60")
    table.update_where(
        spark,
        "o_orderstatus = 'O'",
        {
            "o_totalprice": "CAST(o_totalprice * 1.05 AS DOUBLE)",
            "o_orderpriority": "'1-URGENT'",
        },
    )
    return table.read(spark)


@register("x61_delete_dv", oracle=_DELETE_WHERE_ORACLE)
def x61_delete_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x61 — merge-on-read DELETE via deletion vectors (the x59 twin
    with mode="dv"): the SAME predicate deletes the SAME rows, but
    NO data file is rewritten — the matched (file, row position) pairs
    land in a positions-only DV parquet and readers subtract them with a
    broadcast anti-join on `_metadata.row_index`. The identical oracle
    proves read-path equivalence of the two physical strategies; at
    100 TB the difference is deleting 100 rows from a 1 GB file for a
    KB-scale DV write instead of a 1 GB rewrite."""
    table = _fresh_orders_table(spark, sf_dir, "x61")
    table.delete_where(
        spark, "o_orderstatus = 'F' AND o_orderkey % 5 = 0", mode="dv"
    )
    return table.read(spark)


@register("x62_update_dv", oracle=_UPDATE_WHERE_ORACLE)
def x62_update_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x62 — merge-on-read UPDATE via deletion vectors (the x60 twin
    with mode="dv"): matched rows' OLD positions go into a DV, their
    updated images append as a fresh data file — update cost scales with
    matched ROWS, not the size of the files they sit in. Identical
    oracle to x60 = the two strategies are observably equivalent."""
    table = _fresh_orders_table(spark, sf_dir, "x62")
    table.update_where(
        spark,
        "o_orderstatus = 'O'",
        {
            "o_totalprice": "CAST(o_totalprice * 1.05 AS DOUBLE)",
            "o_orderpriority": "'1-URGENT'",
        },
        mode="dv",
    )
    return table.read(spark)


@register(
    "x63_merge_clauses",
    oracle="""
    WITH s AS (
        SELECT o_orderkey AS k,
               CAST(o_totalprice * 1.2 AS DOUBLE) AS price,
               o_orderstatus AS status
        FROM orders WHERE o_orderkey % 4 = 0
        UNION ALL
        SELECT -o_orderkey, o_totalprice, 'N'
        FROM orders WHERE o_orderkey % 1000 = 3
    ),
    mrg AS (
        SELECT t.*, s.k, s.price, s.status
        FROM orders t LEFT JOIN s ON t.o_orderkey = s.k
    )
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN k IS NOT NULL AND status = 'F'
                THEN price ELSE o_totalprice END AS o_totalprice,
           o_orderdate,
           CASE WHEN k IS NOT NULL AND status = 'F' THEN '1-URGENT'
                WHEN k IS NULL AND o_orderstatus = 'P'
                     AND o_orderkey % 10 = 1 THEN 'NMS-HELD'
                ELSE o_orderpriority END AS o_orderpriority
    FROM mrg
    WHERE NOT (k IS NOT NULL AND status = 'P')
    UNION ALL
    SELECT k, 0, status, price, TIMESTAMP '1995-01-01', '5-LOW'
    FROM s WHERE k < 0
    """,
)
def x63_merge_clauses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x63 — the FULL clause-level MERGE INTO surface through the
    snapshot log: one committed merge carrying all four clause
    kinds at once —

      WHEN MATCHED AND s.status='F'  THEN UPDATE (reprice +20%, escalate)
      WHEN MATCHED AND s.status='P'  THEN DELETE
      WHEN NOT MATCHED AND s.k < 0   THEN INSERT (synthetic new orders)
      WHEN NOT MATCHED BY SOURCE AND pending-and-key%10=1 THEN UPDATE

    against a CDC-style source (every 4th order as upsert candidates plus
    synthetic negative-key inserts). Clause order is first-wins, a NULL
    condition fires nothing, and execution is FILE-SELECTIVE copy-on-write
    (`MergeBuilder`: touched-file discovery -> rewrite only those files ->
    inserts append -> untouched entries carry by reference). The LEFT-JOIN
    + CASE oracle replays the exact ANSI MERGE semantics row by row, so
    the hash match proves updates, deletes, inserts, and the
    not-matched-by-source branch each claimed exactly their rows.

    Reference tie-in: the reference's only merge is pandas concat+drop_
    duplicates clobbered whole-file into the bucket
    (build/unpack_to_raw.py:57); this is the transactional, clause-level,
    file-selective form a 100 TB lake needs."""
    table = _fresh_orders_table(spark, sf_dir, "x63")
    orders = load(spark, sf_dir, "orders")
    src = (
        orders.filter(F.col("o_orderkey") % 4 == 0)
        .select(
            F.col("o_orderkey").alias("k"),
            (F.col("o_totalprice") * 1.2).cast("double").alias("price"),
            F.col("o_orderstatus").alias("status"),
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % 1000 == 3).select(
                (-F.col("o_orderkey")).alias("k"),
                F.col("o_totalprice").alias("price"),
                F.lit("N").alias("status"),
            )
        )
    )
    (
        table.merge(spark, src, "t.o_orderkey = s.k")
        .when_matched_update(
            set={"o_totalprice": "s.price", "o_orderpriority": "'1-URGENT'"},
            condition="s.status = 'F'",
        )
        .when_matched_delete(condition="s.status = 'P'")
        .when_not_matched_insert(
            values={
                "o_orderkey": "s.k",
                "o_custkey": "0",
                "o_orderstatus": "s.status",
                "o_totalprice": "s.price",
                "o_orderdate": "timestamp '1995-01-01 00:00:00'",
                "o_orderpriority": "'5-LOW'",
            },
            condition="s.k < 0",
        )
        .when_not_matched_by_source_update(
            set={"o_orderpriority": "'NMS-HELD'"},
            condition="t.o_orderstatus = 'P' AND t.o_orderkey % 10 = 1",
        )
        .execute()
    )
    return table.read(spark)


@register(
    "x64_check_constraint",
    oracle="""
    SELECT * FROM orders
    UNION ALL
    SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 100 = 7
    """,
)
def x64_check_constraint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x64 — CHECK constraints as commit-time quality gates (Delta ADD
    CONSTRAINT): the orders table gets
    `CHECK (o_totalprice >= 0)` (one validation scan, then a
    metadata-only commit), after which a NEGATED-price append is
    REJECTED (CheckConstraintViolation — nothing written) and a valid
    keyshifted append lands. The answer is the final committed table:
    if enforcement ever silently let the bad batch through, its 15k
    negative-price rows would be IN the result and the hash would
    mismatch — the oracle proves the gate, not just the happy path.

    Scale shape: enforcement costs one combined agg pass over each
    commit's NEW rows only (retained files were validated by their own
    commits) — zero cost on tables without constraints, never a
    full-table re-scan."""
    from ..io.manifest import CheckConstraintViolation

    table = _fresh_orders_table(spark, sf_dir, "x64")
    table.add_check_constraint(spark, "price_nonneg", "o_totalprice >= 0")
    orders = load(spark, sf_dir, "orders")
    bad = orders.withColumn(
        "o_totalprice", (-F.col("o_totalprice")).cast("double")
    ).withColumn("o_orderkey", F.col("o_orderkey") + 20000000)
    try:
        table.commit_append(bad)
        raise AssertionError("constraint failed to reject violating rows")
    except CheckConstraintViolation:
        pass
    good = orders.filter(F.col("o_orderkey") % 100 == 7).withColumn(
        "o_orderkey", F.col("o_orderkey") + 10000000
    )
    table.commit_append(good)
    return table.read(spark)


@register(
    "x65_dsv2_batch_read",
    oracle="""
    SELECT * FROM orders
    WHERE o_orderkey % 7 <> 0
      AND o_orderstatus = 'F'
      AND o_orderkey > 1200
    """,
)
def x65_dsv2_batch_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x65 — the manifest table as a registered BATCH format
    (io/datasource.py): `spark.read.format("manifest")` over a table that
    exercises every read-path feature at once — Hive-partitioned files
    (partition values injected from manifest entries), a deletion vector
    (merge-on-read DELETE applied executor-side), and `pushFilters`
    (SPARK-48921) pruning files via the manifest's partition values and
    [min, max] stats before Spark plans a single task. The hash match vs
    the plain-SQL oracle proves file skipping is an over-approximation
    that never drops a qualifying row; the reader hands every predicate
    back to Spark for exact row-level evaluation — parquet's
    PushedFilters contract, now over MANIFEST metadata instead of
    footers (no storage listing, no footer reads at planning time).

    Scale shape: planning is driver-side O(files) over JSON; at 100 TB
    the partition+stats prune is the difference between scanning a
    day's files and scanning the table."""
    register_manifest_formats(spark)
    root = scratch_dir("snapshots", "x65")
    table = ManifestTable(root, stats_cols=["o_orderkey"])
    table.commit_overwrite(
        load(spark, sf_dir, "orders").repartition(8, "o_orderkey"),
        partition_by=["o_orderstatus"],
    )
    table.delete_where(spark, "o_orderkey % 7 = 0", mode="dv")
    return (
        spark.read.format("manifest")
        .option("path", root)
        .load()
        .filter((F.col("o_orderstatus") == "F") & (F.col("o_orderkey") > 1200))
    )


@register("x66_dsv2_batch_write", oracle="SELECT * FROM orders")
def x66_dsv2_batch_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x66 — the manifest table as a registered batch WRITE format: two
    `df.write.format("manifest")` calls (a partitioned overwrite, then
    an append that inherits the table's layout) publish two atomic
    commits. Executors stream Arrow batches straight into per-partition
    parquet files inside the txn staging dir and ship only manifest
    ENTRIES to the driver-side commit — data never funnels through the
    driver, and the publish takes the same conflict-checked version-race
    loop as commit_append. The hash match vs plain `SELECT * FROM
    orders` proves the executor-written files carry every row, partition
    values land in the Hive path (not the file) and are re-derived on
    read, and the two halves union to exactly the input."""
    register_manifest_formats(spark)
    root = scratch_dir("snapshots", "x66")
    orders = load(spark, sf_dir, "orders")
    (
        orders.filter(F.col("o_orderkey") % 2 == 0)
        .write.format("manifest")
        .mode("overwrite")
        .option("path", root)
        .option("partitionBy", "o_orderstatus")
        .option("statsCols", "o_orderkey")
        .save()
    )
    (
        orders.filter(F.col("o_orderkey") % 2 == 1)
        .write.format("manifest")
        .mode("append")
        .option("path", root)
        .save()
    )
    return ManifestTable(root).read(spark)


@register("x67_deep_clone", oracle="SELECT * FROM orders")
def x67_deep_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x67 — DEEP CLONE (Delta's CLONE ... DEEP): after the x8
    merge commits as version 1, `clone_to(dest, version=0)` materializes
    the PRE-merge snapshot as a new independent table — plain files copy
    byte-identical with their manifest stats carried (no decode, no
    shuffle, no SparkSession in the copy path), constraints and
    partition layout travel, and the clone's log starts fresh at v0.
    The hash match vs plain orders proves the clone is exactly the
    pinned snapshot, not the mutated head — the env-promotion /
    disaster-recovery primitive the reference's clobber-the-bucket
    write (build/unpack_to_raw.py:57) cannot express.

    Scale shape: O(snapshot bytes) object copy (distcp-shaped on a real
    cluster), O(files) metadata; reading the clone afterward is the
    ordinary manifest read path."""
    table = _fresh_orders_table(spark, sf_dir, "x67")
    _commit_upsert(spark, table)  # version 1 mutates the head...
    dest_root = scratch_dir("snapshots", "x67_clone")
    clone = table.clone_to(dest_root, version=0)  # ...we clone version 0
    return clone.read(spark)


@register(
    "x68_column_rename",
    oracle="""
    SELECT 'v2' AS snap, o_orderkey,
           CAST(o_totalprice AS DOUBLE) AS price
    FROM orders
    UNION ALL
    SELECT 'v2', o_orderkey + 1000000,
           CAST(o_totalprice * 2 AS DOUBLE)
    FROM orders
    UNION ALL
    SELECT 'v0' AS snap, o_orderkey,
           CAST(o_totalprice AS DOUBLE) AS price
    FROM orders
    """,
)
def x68_column_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x68 — ALTER TABLE RENAME COLUMN without rewrite (Delta
    column-mapping name mode): version 0 =
    orders(o_orderkey, o_totalprice); version 1 = metadata-only
    `rename_column("o_totalprice", "price")` (ZERO data files move — at
    100 TB this is the difference between an instant commit and a full
    table rewrite); version 2 = an append under the NEW logical name.
    The output unions the latest snapshot (served under `price` across
    files written under BOTH names) with the v0 time travel (served
    under the ORIGINAL `o_totalprice` — each version reads its
    contemporaneous names). The hash match proves the logical→physical
    indirection relabels without touching, losing, or duplicating a
    byte. Mapping mechanics: io/manifest.py rename_column/_load_snapshot
    (physical names immutable; new columns after enablement get fresh
    `col_<hex>` physicals so re-used names can never collide)."""
    table = _fresh_orders_table(
        spark, sf_dir, "x68", select=["o_orderkey", "o_totalprice"]
    )
    table.rename_column("o_totalprice", "price")
    table.commit_append(
        load(spark, sf_dir, "orders").select(
            (F.col("o_orderkey") + 1000000).alias("o_orderkey"),
            (F.col("o_totalprice") * 2).cast("double").alias("price"),
        )
    )
    latest = table.read(spark).select(
        F.lit("v2").alias("snap"), "o_orderkey", F.col("price").cast("double").alias("price")
    )
    v0 = table.read(spark, version=0).select(
        F.lit("v0").alias("snap"),
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("price"),
    )
    return latest.unionByName(v0)


@register(
    "x69_column_drop",
    oracle="""
    SELECT 'v2' AS snap, o_orderkey,
           CAST(NULL AS VARCHAR) AS o_orderstatus
    FROM orders
    UNION ALL
    SELECT 'v2', o_orderkey + 1000000, 'Z' FROM orders
    UNION ALL
    SELECT 'v0' AS snap, o_orderkey, o_orderstatus FROM orders
    """,
)
def x69_column_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x69 — ALTER TABLE DROP COLUMN without rewrite + re-add (the x68
    twin): version 0 = orders(o_orderkey, o_orderstatus);
    version 1 = metadata-only `drop_column("o_orderstatus")` (bytes stay
    in retained files, reclaimed only by rewrite/vacuum); version 2 =
    an append RE-ADDING the logical name — a NEW column under a fresh
    physical name, so the v0 rows read NULL (never the dropped bytes —
    Delta's documented re-add semantics) while the new rows carry 'Z'.
    The union with the v0 time travel proves the dropped column is
    still served at its own version. A resurrection bug (relabeling the
    old physical column into the re-added logical) would flip every v2
    NULL to the original status values — caught by hash."""
    table = _fresh_orders_table(
        spark, sf_dir, "x69", select=["o_orderkey", "o_orderstatus"]
    )
    table.drop_column("o_orderstatus")
    table.commit_append(
        load(spark, sf_dir, "orders").select(
            (F.col("o_orderkey") + 1000000).alias("o_orderkey"),
            F.lit("Z").alias("o_orderstatus"),
        )
    )
    latest = table.read(spark).select(
        F.lit("v2").alias("snap"), "o_orderkey", "o_orderstatus"
    )
    v0 = table.read(spark, version=0).select(
        F.lit("v0").alias("snap"), "o_orderkey", "o_orderstatus"
    )
    return latest.unionByName(v0)


@register(
    "x70_metadata_row_count",
    oracle="""
    SELECT 'full' AS phase,
           CAST((SELECT count(*) FROM orders) AS BIGINT) AS meta_rows,
           CAST((SELECT count(*) FROM orders) AS BIGINT) AS scan_rows
    UNION ALL
    SELECT 'after_dv_delete',
           CAST((SELECT count(*) FROM orders
                 WHERE NOT (o_orderkey % 7 = 0)) AS BIGINT),
           CAST((SELECT count(*) FROM orders
                 WHERE NOT (o_orderkey % 7 = 0)) AS BIGINT)
    """,
)
def x70_metadata_row_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x70 — metadata-only COUNT (Delta's numRecords answer):
    commit entries record each parquet footer's num_rows, so
    `row_count()` answers ``SELECT count(*)`` with ZERO data pages read
    — and stays exact under merge-on-read DELETEs by subtracting each
    file's recorded deletion-vector positions (sound: a later delete
    evaluates over live rows, so positions never repeat). The query
    emits (metadata count, actual scan count) before and after a DV
    delete; the oracle pins both to the true counts — a metadata
    counter that drifted from the data would hash-mismatch. At 100 TB
    this is a free answer vs a full-table scan."""
    table = _fresh_orders_table(spark, sf_dir, "x70")
    meta_full = table.row_count()
    scan_full = table.read(spark).count()
    table.delete_where(spark, "o_orderkey % 7 = 0", mode="dv")
    meta_after = table.row_count()
    scan_after = table.read(spark).count()
    return spark.createDataFrame(
        [
            ("full", meta_full, scan_full),
            ("after_dv_delete", meta_after, scan_after),
        ],
        "phase string, meta_rows bigint, scan_rows bigint",
    )


@register("x71_dsv2_s3_write", oracle="SELECT * FROM orders")
def x71_dsv2_s3_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x71 — the registered batch WRITER against an OBJECT-STORE root
    (x66 is the local-root twin):
    `df.write.format("manifest")` to `s3://lake/x71_orders` on an
    in-process moto server. Each executor task stages its Arrow batches
    in a task-local temp dir and PUTs the parquet itself to the table's
    `data/txn=<id>/` prefix — data never moves through the driver — and
    the driver publishes the same conditional-put commit x58 proved.
    Answer = the committed table read back through the registered
    reader; the hash match vs plain orders proves the executor-upload
    staging loses and invents nothing. This is the write half of the
    reference's bucket-zone contract (ref: build/unpack_to_raw.py:17-22)
    at the public-format surface."""
    from moto.server import ThreadedMotoServer

    from ..io.logstore import S3LogStore

    server = ThreadedMotoServer(port=0)
    server.start()
    try:
        _host, port = server.get_host_and_port()
        endpoint = f"http://127.0.0.1:{port}"
        cache = scratch_dir("snapshots", "x71_cache")
        store = S3LogStore(
            "lake", "x71_orders", endpoint=endpoint, cache_dir=cache
        )
        store.client.create_bucket(Bucket="lake")
        register_manifest_formats(spark)
        (
            load(spark, sf_dir, "orders")
            .write.format("manifest")
            .mode("overwrite")
            .option("path", "s3://lake/x71_orders")
            .option("endpoint", endpoint)
            .option("cache_dir", cache)
            .save()
        )
        out = (
            spark.read.format("manifest")
            .option("path", "s3://lake/x71_orders")
            .option("endpoint", endpoint)
            .option("cache_dir", cache)
            .load()
        )
        # materialize NOW: the moto server dies with this function, so
        # the lazy plan must not reach back to it afterwards
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        server.stop()


@register(
    "x72_dsv2_mapped_write",
    oracle="""
    SELECT 'v3' AS snap, o_orderkey,
           CAST(o_totalprice AS DOUBLE) AS price
    FROM orders
    UNION ALL
    SELECT 'v3', o_orderkey + 1000000,
           CAST(o_totalprice * 2 AS DOUBLE)
    FROM orders
    UNION ALL
    SELECT 'v0' AS snap, o_orderkey,
           CAST(o_totalprice AS DOUBLE) AS price
    FROM orders
    """,
)
def x72_dsv2_mapped_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x72 — the registered batch WRITER against a COLUMN-MAPPED table
    (the writer half of x68's column mapping): version 0 = orders(o_orderkey, o_totalprice); version 1
    = metadata-only `rename_column("o_totalprice", "price")`; version 2
    = an append under the NEW logical name routed through
    `df.write.format("manifest")` — the executors stage parquet under
    the PHYSICAL names resolved at writer construction
    (io/datasource.py _init_common → ManifestTable._extend_mapping), so
    the logical→physical indirection holds across files written by BOTH
    paths. Output = x68's union shape: the latest snapshot (served under
    `price` across native- and DataSource-written files) plus the v0
    time travel (served under the original name). The hash match proves
    the registered writer's mapped staging loses, invents, and detaches
    nothing. Rename-during-write races fail loud via the commit loop's
    mapping-change gate (pinned in tests/test_datasource.py)."""
    table = _fresh_orders_table(
        spark, sf_dir, "x72", select=["o_orderkey", "o_totalprice"]
    )
    table.rename_column("o_totalprice", "price")
    register_manifest_formats(spark)
    (
        load(spark, sf_dir, "orders")
        .select(
            (F.col("o_orderkey") + 1000000).alias("o_orderkey"),
            (F.col("o_totalprice") * 2).cast("double").alias("price"),
        )
        .write.format("manifest")
        .mode("append")
        .option("path", table.root)
        .save()
    )
    latest = table.read(spark).select(
        F.lit("v3").alias("snap"),
        "o_orderkey",
        F.col("price").cast("double").alias("price"),
    )
    v0 = table.read(spark, version=0).select(
        F.lit("v0").alias("snap"),
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("price"),
    )
    return latest.unionByName(v0)


@register(
    "x73_parquet_ckpt_autoskip",
    oracle="""
    SELECT 'live' AS snap, o_orderkey,
           CAST(CASE WHEN o_orderkey = 200 THEN o_totalprice * 2
                ELSE o_totalprice END AS DOUBLE) AS price
    FROM orders WHERE o_orderkey > 100
    UNION ALL
    SELECT 'range' AS snap, o_orderkey,
           CAST(CASE WHEN o_orderkey = 200 THEN o_totalprice * 2
                ELSE o_totalprice END AS DOUBLE) AS price
    FROM orders WHERE o_orderkey > 100 AND o_orderkey <= 5000
    UNION ALL
    SELECT 'v0' AS snap, o_orderkey,
           CAST(o_totalprice AS DOUBLE) AS price
    FROM orders
    """,
)
def x73_parquet_ckpt_autoskip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x73 — columnar checkpoints and WHERE-derived file skipping
    end-to-end under the oracle gate: COLUMNAR (parquet) manifest checkpoints + hint-free automatic
    WHERE-derived file skipping. v0 = orders(o_orderkey, o_totalprice)
    range-partitioned so per-file stats are disjoint; v1 = a CoW DELETE
    of `o_orderkey <= 100` whose discovery scan prunes AUTOMATICALLY
    from the predicate's derived bounds (no range_filter hint); the
    commit writes a columnar checkpoint (checkpoint_interval=1, Delta
    checkpoint parity) with typed min/max stat columns; v2 = an UPDATE
    of one key, discovery pruned the same way, reading its snapshot
    THROUGH the columnar checkpoint. Output = latest snapshot + a
    range-filtered read (the coarse prune runs VECTORIZED inside the
    checkpoint read, then the exact prune and the row predicate) + v0
    time travel from behind two checkpoints. A hash match proves the
    columnar checkpoint round-trip, the delta replay over it, and both
    automatic prunes lose and invent nothing."""
    root = scratch_dir("snapshots", "x73")
    table = ManifestTable(
        root,
        stats_cols=["o_orderkey"],
        checkpoint_interval=1,
    )
    df = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    table.commit_overwrite(df.repartitionByRange(8, "o_orderkey"))
    table.delete_where(spark, "o_orderkey <= 100")
    table.update_where(
        spark, "o_orderkey = 200", {"o_totalprice": "o_totalprice * 2"}
    )
    def shape(d, tag):
        return d.select(
            F.lit(tag).alias("snap"),
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("price"),
        )

    live = shape(table.read(spark), "live")
    rng = shape(
        table.read(
            spark, range_filter={"o_orderkey": (1, 5000)}
        ).filter("o_orderkey <= 5000"),
        "range",
    )
    v0 = shape(table.read(spark, version=0), "v0")
    return live.unionByName(rng).unionByName(v0)


@register(
    "x74_prune_in_or_partition",
    oracle="""
    WITH base AS (
        SELECT o_orderkey,
               CAST(o_orderkey % 4 AS INT) AS seg,
               CASE WHEN o_orderkey IN (32, 33)
                    THEN o_totalprice * 2 ELSE o_totalprice END AS price
        FROM orders WHERE o_orderkey NOT IN (1, 5, 99991)
    )
    SELECT 'live' AS snap, o_orderkey, seg, CAST(price AS DOUBLE) AS price
    FROM base
    UNION ALL
    SELECT 'part' AS snap, o_orderkey, seg, CAST(price AS DOUBLE) AS price
    FROM base WHERE seg = 1
    UNION ALL
    SELECT 'prange' AS snap, o_orderkey, seg, CAST(price AS DOUBLE) AS price
    FROM base WHERE seg BETWEEN 2 AND 3
    """,
)
def x74_prune_in_or_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x74 — IN-list, OR and partition pruning end-to-end under the
    oracle gate (the x73 pattern): on a PARTITIONED table with
    columnar checkpoints, (1) a CoW DELETE with an IN-list predicate —
    discovery pruned with the IN list kept as a value set
    (io/prune.py), including a key absent from the table (a no-match
    value must lose nothing); (2) an UPDATE with a top-level OR of two
    point predicates — discovery pruned with the UNION of branch file
    sets; (3) a partition_filter read and a partition-RANGE read, both
    planned through the columnar checkpoint's `part::<col>` columns (the
    vectorized partition prune) then re-checked exactly. A hash
    match proves the branch-union and partition prunes lose and invent
    nothing across delete/update/read."""
    root = scratch_dir("snapshots", "x74")
    table = ManifestTable(
        root,
        stats_cols=["o_orderkey"],
        checkpoint_interval=1,
    )
    df = (
        load(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_totalprice",
            F.pmod("o_orderkey", F.lit(4)).cast("int").alias("seg"),
        )
    )
    table.commit_overwrite(
        df.repartitionByRange(4, "o_orderkey"), partition_by=["seg"]
    )
    table.delete_where(spark, "o_orderkey IN (1, 5, 99991)")
    table.update_where(
        spark,
        "(o_orderkey = 32) or (o_orderkey = 33)",
        {"o_totalprice": "o_totalprice * 2"},
    )

    def shape(d, tag):
        return d.select(
            F.lit(tag).alias("snap"),
            "o_orderkey",
            "seg",
            F.col("o_totalprice").cast("double").alias("price"),
        )

    live = shape(table.read(spark), "live")
    part = shape(table.read(spark, partition_filter={"seg": 1}), "part")
    prange = shape(
        table.read(spark, range_filter={"seg": (2, 3)}).filter(
            "seg between 2 and 3"
        ),
        "prange",
    )
    return live.unionByName(part).unionByName(prange)


@register(
    "x75_merged_dv_reads",
    oracle="""
    WITH base AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey = 7
                    THEN o_totalprice * 2 ELSE o_totalprice END AS price
        FROM orders WHERE o_orderkey NOT IN (2, 3, 4)
    )
    SELECT 'dv' AS snap, o_orderkey, CAST(price AS DOUBLE) AS price
    FROM base
    UNION ALL
    SELECT 'reorg' AS snap, o_orderkey, CAST(price AS DOUBLE) AS price
    FROM base
    UNION ALL
    SELECT 'tt' AS snap, o_orderkey, CAST(o_totalprice AS DOUBLE) AS price
    FROM orders WHERE o_orderkey NOT IN (2, 3, 4)
    """,
)
def x75_merged_dv_reads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x75 — stacked deletion vectors end-to-end under the oracle gate
    (the x73/x74 pattern): merge-on-read DELETEs that
    STACK on the same data file (the second commit folds both deletion
    vectors into one merged DV — io/manifest.py:_merge_stacked_dvs), a
    merge-on-read UPDATE layered on top of the merged DV, then
    `reorg(min_deleted_ratio=0.0)` materializing every DV into rewritten
    files. Three DISTINCT snapshots are hashed: 'dv' (the dir-aligned
    broadcast-anti-join read THROUGH the merged DV + the update's DV,
    read back after the purge commit exists), 'reorg' (the purged
    rewrite — must be row-identical to 'dv'), and 'tt' (time travel two
    commits further back, to the merged-DV version BEFORE the update —
    deletes applied, prices untouched). A hash match proves merge +
    dir-aligned apply + purge lose and invent nothing, at any of the
    three versions."""
    root = scratch_dir("snapshots", "x75")
    table = ManifestTable(root, stats_cols=["o_orderkey"])
    df = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    table.commit_overwrite(df.repartitionByRange(4, "o_orderkey"))
    table.delete_where(spark, "o_orderkey IN (2, 3)", mode="dv")
    v_merged = table.delete_where(spark, "o_orderkey = 4", mode="dv")
    v_dv = table.update_where(
        spark, "o_orderkey = 7", {"o_totalprice": "o_totalprice * 2"},
        mode="dv",
    )
    v_reorg = table.reorg(spark, min_deleted_ratio=0.0)
    assert v_merged < v_dv < v_reorg  # all three commits really landed

    def shape(d, tag):
        return d.select(
            F.lit(tag).alias("snap"),
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("price"),
        )

    dv = shape(table.read(spark, version=v_dv), "dv")
    reorg = shape(table.read(spark, version=v_reorg), "reorg")
    tt = shape(table.read(spark, version=v_merged), "tt")
    return dv.unionByName(reorg).unionByName(tt)
