"""The manifest table as a batch DataFrame format (io/datasource.py, r8).

Contract: `spark.read.format("manifest")` reads exactly what
`ManifestTable.read` reads (time travel, schema evolution, deletion
vectors, partition columns included); `pushFilters` prunes FILES from
the scan while Spark keeps the row-level predicate; and
`df.write.format("manifest")` publishes one atomic, constraint-checked,
conflict-checked commit through the same loop as commit_append.
"""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, GreaterThan, In, LessThanOrEqual

from data_lakes_tp2_student_spark.io.datasource import (
    ManifestBatchReader,
    ManifestBatchWriter,
    ManifestDataSource,
    _CommitEntries,
)
from data_lakes_tp2_student_spark.io.manifest import (
    CheckConstraintViolation,
    ConcurrentWriteConflict,
    ManifestTable,
)

from .test_manifest import _df


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    spark.dataSource.register(ManifestDataSource)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")


def _read(spark, root, **opts):
    r = spark.read.format("manifest").option("path", root)
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def _n_files(parts) -> int:
    """Files planned across scan partitions (a size-packed partition
    carries extra files in `more`; an empty scan has a path-less one)."""
    return sum(1 + len(p.more) for p in parts if p.path)


def _multiset(df):
    return Counter(map(tuple, df.collect()))


def test_write_then_read_roundtrip_partitioned(spark, tmp_path):
    root = str(tmp_path / "t")
    df = _df(spark, [(1, "a", "d1"), (2, "b", "d2"), (3, "c", "d1")])
    (
        df.write.format("manifest")
        .mode("overwrite")
        .option("path", root)
        .option("partitionBy", "day")
        .save()
    )
    tab = ManifestTable(root)
    assert tab.versions() == [0]
    m = tab.manifest(0)
    assert m["partition_by"] == ["day"]
    # Hive layout: every file sits in a day=<v> dir
    assert all(e["partition"].get("day") in ("d1", "d2") for e in m["files"])
    got = _read(spark, root)
    assert got.columns == ["id", "v", "day"]
    assert _multiset(got) == _multiset(df)
    # partition column values survive the file read (files don't store them)
    assert got.filter(F.col("day") == "d1").count() == 2


def test_append_inherits_partition_layout(spark, tmp_path):
    root = str(tmp_path / "t")
    _df(spark, [(1, "a", "d1")]).write.format("manifest").mode(
        "overwrite"
    ).option("path", root).option("partitionBy", "day").save()
    _df(spark, [(2, "b", "d2")]).write.format("manifest").mode(
        "append"
    ).option("path", root).save()
    tab = ManifestTable(root)
    m = tab.manifest(1)
    assert m["partition_by"] == ["day"]
    assert _multiset(_read(spark, root)) == _multiset(
        _df(spark, [(1, "a", "d1"), (2, "b", "d2")])
    )


def test_version_and_timestamp_time_travel(spark, tmp_path):
    root = str(tmp_path / "t")
    _df(spark, [(1, "a", "d1")]).write.format("manifest").mode(
        "overwrite"
    ).option("path", root).save()
    tab = ManifestTable(root)
    ts_between = tab._raw(0)["committed_at"] + 0.001
    _df(spark, [(2, "b", "d2")]).write.format("manifest").mode(
        "append"
    ).option("path", root).save()
    assert _read(spark, root).count() == 2
    assert _read(spark, root, versionAsOf=0).count() == 1
    assert _read(spark, root, timestampAsOf=str(ts_between)).count() == 1


def test_reader_matches_table_read_with_deletion_vectors(spark, tmp_path):
    root = str(tmp_path / "t")
    tab = ManifestTable(root)
    rows = [(i, f"v{i}", f"d{i % 3}") for i in range(60)]
    tab.commit_overwrite(_df(spark, rows), partition_by=["day"])
    assert tab._delete_where_dv(spark, F.col("id") % 7 == 0) > 0
    assert any(e.get("dv") for e in tab.manifest(tab.latest_version())["files"])
    assert _multiset(_read(spark, root)) == _multiset(tab.read(spark))
    assert _read(spark, root).filter(F.col("id") % 7 == 0).count() == 0


def test_schema_evolution_null_pads_old_files(spark, tmp_path):
    root = str(tmp_path / "t")
    _df(spark, [(1, "a", "d1")]).write.format("manifest").mode(
        "overwrite"
    ).option("path", root).save()
    evolved = _df(spark, [(2, "b", "d2")]).withColumn("extra", F.lit(9))
    evolved.write.format("manifest").mode("append").option("path", root).save()
    got = _read(spark, root)
    assert got.columns == ["id", "v", "day", "extra"]
    by_id = {r.id: r.extra for r in got.collect()}
    assert by_id == {1: None, 2: 9}


def test_push_filters_prune_files_not_rows(spark, tmp_path):
    root = str(tmp_path / "t")
    rows = [(i, f"v{i}", f"d{i % 3}") for i in range(90)]
    df = _df(spark, rows)
    (
        df.write.format("manifest")
        .mode("overwrite")
        .option("path", root)
        .option("partitionBy", "day")
        .option("statsCols", "id")
        .save()
    )
    # end-to-end: results under filters are exact (files pruned, rows
    # still filtered by Spark — file skipping over-approximates)
    got = _read(spark, root).filter((F.col("day") == "d1") & (F.col("id") > 50))
    exp = df.filter((F.col("day") == "d1") & (F.col("id") > 50))
    assert _multiset(got) == _multiset(exp)
    # plan-level: the reader's partitions() shrinks under pushed filters
    schema = _read(spark, root).schema
    pruned = ManifestBatchReader(schema, {"path": root})
    remaining = list(
        pruned.pushFilters([EqualTo(("day",), "d1"), GreaterThan(("id",), 50)])
    )
    assert len(remaining) == 2  # every filter is handed back to Spark
    full = ManifestBatchReader(schema, {"path": root})
    n_pruned, n_full = _n_files(pruned.partitions()), _n_files(full.partitions())
    assert n_pruned < n_full
    # partition pruning alone keeps only day=d1 files
    part_only = ManifestBatchReader(schema, {"path": root})
    list(part_only.pushFilters([In(("day",), ("d1",))]))
    d1_files = sum(
        1
        for e in ManifestTable(root).manifest(0)["files"]
        if e["partition"]["day"] == "d1"
    )
    assert _n_files(part_only.partitions()) == d1_files
    # stats pruning alone: id <= 5 overlaps only low-id files
    rng_only = ManifestBatchReader(schema, {"path": root})
    list(rng_only.pushFilters([LessThanOrEqual(("id",), 5)]))
    assert _n_files(rng_only.partitions()) < n_full
    # In on a STATS column folds to [min, max] zone-map bounds
    in_stats = ManifestBatchReader(schema, {"path": root})
    list(in_stats.pushFilters([In(("id",), (1, 2, 3))]))
    assert _n_files(in_stats.partitions()) < n_full
    # null-safe equality with a non-null literal prunes like EqualTo
    from pyspark.sql.datasource import EqualNullSafe

    ns = ManifestBatchReader(schema, {"path": root})
    list(ns.pushFilters([EqualNullSafe(("day",), "d1")]))
    assert _n_files(ns.partitions()) == d1_files
    # end-to-end exactness for both new shapes
    got2 = _read(spark, root).filter(
        F.col("day").eqNullSafe("d1") & F.col("id").isin(1, 4, 7)
    )
    exp2 = df.filter(F.col("day").eqNullSafe("d1") & F.col("id").isin(1, 4, 7))
    assert _multiset(got2) == _multiset(exp2)


def test_load_pins_version_at_analysis(spark, tmp_path):
    """schema() resolution pins the snapshot for the reader — a commit
    landing between load() and the action must not mix version N's
    schema with version N+1's files (reader isolation, same contract as
    ManifestTable.read)."""
    root = str(tmp_path / "t")
    tab = ManifestTable(root)
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))
    df = _read(spark, root)
    tab.commit_append(_df(spark, [(2, "b", "d2")]))
    assert df.count() == 1  # pinned pre-commit
    assert _read(spark, root).count() == 2  # a fresh load sees the append


def test_empty_prune_returns_empty_result(spark, tmp_path):
    root = str(tmp_path / "t")
    _df(spark, [(1, "a", "d1")]).write.format("manifest").mode(
        "overwrite"
    ).option("path", root).option("partitionBy", "day").save()
    assert _read(spark, root).filter(F.col("day") == "nope").count() == 0


def test_write_validates_check_constraints(spark, tmp_path):
    root = str(tmp_path / "t")
    tab = ManifestTable(root)
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))
    tab.add_check_constraint(spark, "pos_id", "id > 0")
    before_txns = tab.store.list_txn_dirs()
    # the Python-side CheckConstraintViolation surfaces Spark-wrapped
    with pytest.raises(Exception, match="pos_id"):
        _df(spark, [(-5, "x", "d9")]).write.format("manifest").mode(
            "append"
        ).option("path", root).save()
    # the failed txn left no files behind and no new version
    assert tab.store.list_txn_dirs() == before_txns
    assert tab.versions() == [0, 1]  # data + constraint commits only
    assert tab.read(spark).count() == 1


def test_write_passes_check_constraints_with_partition_columns(spark, tmp_path):
    """The accept path of the writer's DuckDB validation — including a
    constraint over a PARTITION column, whose values live in the path,
    not the file, and are injected as literals."""
    root = str(tmp_path / "t")
    tab = ManifestTable(root)
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]), partition_by=["day"])
    tab.add_check_constraint(spark, "pos_id", "id > 0")
    tab.add_check_constraint(spark, "day_known", "day IN ('d1','d2')")
    (
        _df(spark, [(2, "b", "d2")]).write.format("manifest")
        .mode("append").option("path", root).save()
    )
    assert tab.read(spark).count() == 2
    with pytest.raises(Exception, match="day_known"):
        _df(spark, [(3, "c", "d9")]).write.format("manifest").mode(
            "append"
        ).option("path", root).save()


def test_write_constraint_on_numeric_partition_column_is_typed(spark, tmp_path):
    """ADVICE r8: partition values are injected into the DuckDB
    validation as literals; untyped VARCHAR injection made numeric
    comparisons lexicographic ('9' >= '10' is TRUE), letting a
    violating row through the DataSource write path. The literal must
    be CAST to the committed column type.

    The divergent case is varchar-vs-varchar (DuckDB implicitly casts
    varchar-vs-int numerically): a string literal in the constraint —
    Spark coerces `int_col >= '10'` numerically, DuckDB compares two
    varchars lexicographically when the column arrives as varchar."""
    root = str(tmp_path / "t")
    tab = ManifestTable(root)
    df0 = spark.createDataFrame([(1, "a", 12)], "id int, v string, n int")
    tab.commit_overwrite(df0, partition_by=["n"])
    tab.add_check_constraint(spark, "n_big", "n >= '10'")
    # numeric 9 >= 10 is FALSE (violation); lexicographic '9' >= '10'
    # is TRUE — the old path accepted this row
    with pytest.raises(Exception, match="n_big"):
        spark.createDataFrame(
            [(2, "b", 9)], "id int, v string, n int"
        ).write.format("manifest").mode("append").option("path", root).save()
    assert tab.read(spark).count() == 1
    # and a genuinely passing numeric value still lands
    spark.createDataFrame(
        [(3, "c", 11)], "id int, v string, n int"
    ).write.format("manifest").mode("append").option("path", root).save()
    assert tab.read(spark).count() == 2


def test_write_fails_closed_on_unvalidatable_constraint(spark, tmp_path):
    root = str(tmp_path / "t")
    tab = ManifestTable(root)
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))
    # xxhash64 is Spark-only — DuckDB cannot evaluate it
    tab.add_check_constraint(spark, "sparky", "xxhash64(v) IS NOT NULL")
    with pytest.raises(Exception, match="failing closed|could not"):
        _df(spark, [(2, "b", "d2")]).write.format("manifest").mode(
            "append"
        ).option("path", root).save()
    assert tab.read(spark).count() == 1


def test_writer_conflict_detection_anchors_at_construction(spark, tmp_path):
    root = str(tmp_path / "t")
    tab = ManifestTable(root)
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))
    df = _df(spark, [(9, "z", "d9")])
    w = ManifestBatchWriter(df.schema, {"path": root}, overwrite=True)
    # a commit lands between the writer's snapshot and its publish
    tab.commit_append(_df(spark, [(2, "b", "d2")]))
    with pytest.raises(ConcurrentWriteConflict):
        w.commit([_CommitEntries([])])
    # a blind APPEND writer rebases instead (appends commute)
    w2 = ManifestBatchWriter(df.schema, {"path": root}, overwrite=False)
    tab.commit_append(_df(spark, [(3, "c", "d3")]))
    w2.commit([_CommitEntries([])])
    assert tab.latest_version() == 3


def test_writer_rejects_reserved_and_missing_columns(spark, tmp_path):
    root = str(tmp_path / "t")
    df = _df(spark, [(1, "a", "d1")])
    with pytest.raises(Exception, match="reserved"):
        df.withColumnRenamed("v", "txn").write.format("manifest").mode(
            "overwrite"
        ).option("path", root).save()
    with pytest.raises(Exception, match="absent"):
        df.write.format("manifest").mode("overwrite").option(
            "path", root
        ).option("partitionBy", "nope").save()


def _committed_txn_dirs(tab) -> set:
    """Every txn= dir referenced by any committed version's file list."""
    out = set()
    for v in tab.versions():
        for e in tab._snapshot_files(v):
            out.add(e["path"].split("/")[1])
    return out


@pytest.fixture()
def s3_env(tmp_path):
    """An in-process moto S3 server + a fresh table prefix: yields
    (options dict for the registered format, the cooperating S3LogStore,
    the s3:// root)."""
    import uuid as _uuid

    pytest.importorskip("moto", reason="moto not installed")
    from moto.server import ThreadedMotoServer

    from data_lakes_tp2_student_spark.io.logstore import S3LogStore

    server = ThreadedMotoServer(port=0)
    server.start()
    try:
        _host, port = server.get_host_and_port()
        endpoint = f"http://127.0.0.1:{port}"
        prefix = f"w-{_uuid.uuid4().hex[:10]}"
        store = S3LogStore(
            "lake", prefix, endpoint=endpoint,
            cache_dir=str(tmp_path / "cache"),
        )
        try:
            store.client.create_bucket(Bucket="lake")
        except store.client.exceptions.ClientError:
            pass
        root = f"s3://lake/{prefix}"
        opts = {"path": root, "endpoint": endpoint}
        yield opts, store, root
    finally:
        server.stop()


def test_batch_write_over_s3(spark, s3_env):
    """Round 10 (VERDICT r9 item 3): `df.write.format("manifest")` against
    an s3:// root — executor tasks PUT their own staged parquet to the
    txn prefix, the driver publishes the conditional-put commit. Read
    back through BOTH the registered reader and the native path, with a
    Hive partition layout, plus an append on top."""
    opts, store, root = s3_env
    df = _df(spark, [(1, "a", "d1"), (2, "b", "d2"), (3, "c", "d1")])
    (
        df.write.format("manifest").mode("overwrite")
        .options(**opts).option("partitionBy", "day").save()
    )
    _df(spark, [(4, "d", "d3")]).write.format("manifest").mode(
        "append"
    ).options(**opts).save()
    want = df.union(_df(spark, [(4, "d", "d3")]))
    got_ds = spark.read.format("manifest").options(**opts).load()
    assert _multiset(got_ds) == _multiset(want)
    tab = ManifestTable(root, log_store=store)
    assert _multiset(tab.read(spark)) == _multiset(want)
    assert tab.versions() == [0, 1]
    # no task-staging leftovers in the bucket beyond the committed txns
    assert set(store.list_txn_dirs()) == _committed_txn_dirs(tab)


def test_idempotent_batch_write_via_txn_s3(spark, s3_env):
    """The txnAppId/txnVersion idempotence contract holds on the S3
    backend: a redelivered job version publishes nothing and leaves no
    staged objects behind (VERDICT r9 item 3's contract test)."""
    opts, store, root = s3_env
    df = _df(spark, [(1, "a", "d1")])

    def write(ver):
        (
            df.write.format("manifest").mode("append")
            .options(**opts)
            .option("txnAppId", "job").option("txnVersion", str(ver))
            .save()
        )

    write(1)
    write(1)  # redelivered: skipped
    tab = ManifestTable(root, log_store=store)
    assert tab.versions() == [0]
    assert tab.read(spark).count() == 1
    write(2)
    assert tab.versions() == [0, 1]
    assert tab.read(spark).count() == 2
    # the duplicate's staged objects were dropped: every object under
    # data/ belongs to a committed txn
    assert set(store.list_txn_dirs()) == _committed_txn_dirs(tab)


def test_batch_commit_removes_unreferenced_s3_objects(spark, s3_env):
    """S3 analogue of the loser-cleanup pass: a completed-but-losing
    attempt's uploaded object under the txn prefix must be swept by the
    pre-publish LIST, while the winner's files commit."""
    opts, store, root = s3_env
    df = _df(spark, [(1, "a", "d1")])
    w = ManifestBatchWriter(df.schema, dict(opts), overwrite=True)
    msg = w.write(iter(df.toArrow().to_batches()))
    stray_key = f"{store.prefix}/data/txn={w._txn}/part-99999-dead.parquet"
    store.client.put_object(Bucket="lake", Key=stray_key, Body=b"loser bytes")
    w.commit([msg])
    keys = [o["Key"] for o in store._list_keys(f"{store.prefix}/data/")]
    assert stray_key not in keys
    assert len(keys) == 1  # exactly the winner's committed file
    assert ManifestTable(root, log_store=store).read(spark).count() == 1


def test_stream_sink_over_s3(spark, s3_env, tmp_path):
    """i15 over the object store (VERDICT r9 item 3): a local manifest
    table streams through `manifest_stream` into an S3-backed
    `writeStream.format("manifest")` sink — per-epoch atomic commits,
    txn idempotence recorded, final table equal to the source rows."""
    from data_lakes_tp2_student_spark.streaming.source import (
        ManifestStreamDataSource,
    )

    opts, store, root = s3_env
    src_root = str(tmp_path / "src")
    src = ManifestTable(src_root)
    src.commit_overwrite(_df(spark, [(1, "a", "d1"), (2, "b", "d2")]))
    src.commit_append(_df(spark, [(3, "c", "d3")]))
    spark.dataSource.register(ManifestStreamDataSource)
    q = (
        spark.readStream.format("manifest_stream")
        .option("path", src_root)
        .load()
        .writeStream.format("manifest")
        .options(**opts)
        .option("txnAppId", "i15s3")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        src.commit_append(_df(spark, [(4, "d", "d4")]))
        q.processAllAvailable()
    finally:
        q.stop()
    sink = ManifestTable(root, log_store=store)
    assert _multiset(sink.read(spark)) == _multiset(src.read(spark))
    assert sink.last_txn_version("i15s3") is not None


def test_idempotent_batch_write_via_txn(spark, tmp_path):
    """Delta's txnAppId/txnVersion: re-running the same job version is a
    no-op — the foreachBatch retry idiom, end-to-end through the Spark
    write path."""
    root = str(tmp_path / "t")
    df = _df(spark, [(1, "a", "d1")])

    def write(ver):
        (
            df.write.format("manifest").mode("append")
            .option("path", root)
            .option("txnAppId", "job")
            .option("txnVersion", str(ver))
            .save()
        )

    write(1)
    write(1)  # redelivered: skipped
    tab = ManifestTable(root)
    assert tab.versions() == [0]
    assert tab.read(spark).count() == 1
    write(0)  # an EARLIER version is also skipped
    assert tab.versions() == [0]
    write(2)  # the next version commits
    assert tab.versions() == [0, 1]
    assert tab.read(spark).count() == 2
    assert tab.last_txn_version("job") == 2
    with pytest.raises(Exception, match="together"):
        df.write.format("manifest").mode("append").option(
            "path", root
        ).option("txnAppId", "job").save()


def test_partition_values_with_path_metacharacters_roundtrip(spark, tmp_path):
    """Round-8 review find: a raw '/' in a partition value would nest an
    extra directory (corrupting the Hive layout), '='/'%' would
    mis-parse — the writer must percent-escape what _parse_partition's
    unquote and Spark's partition discovery decode."""
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a", "d1/x"), (2, "b", "k=v"), (3, "c", "p%33 q"),
         (4, "d", "café"), (5, "e", "a\nb")],
        "id int, v string, day string",
    )
    (
        df.write.format("manifest").mode("overwrite")
        .option("path", root).option("partitionBy", "day").save()
    )
    tab = ManifestTable(root)
    assert sorted(
        e["partition"]["day"] for e in tab.manifest(0)["files"]
    ) == ["a\nb", "café", "d1/x", "k=v", "p%33 q"]
    # BOTH read paths decode the same values (non-ASCII stays RAW in the
    # path — percent-encoding it would read back as mojibake through
    # Spark's char-by-char unescape)
    assert _multiset(tab.read(spark)) == _multiset(df)
    assert _multiset(_read(spark, root)) == _multiset(df)


def test_partition_value_escape_battery(spark, tmp_path):
    """Every character the writer escapes (Spark's exact set), embedded
    one per partition value, plus unicode samples — one write, both
    read paths, exact multiset equality."""
    from data_lakes_tp2_student_spark.io.datasource import _PATH_ESCAPE

    vals = [f"a{c}b" for c in sorted(_PATH_ESCAPE)] + [
        "café", "日本語", "emoji🙂x", "mixé=%/ü", "..", ".", "%C3%A9"
    ]
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id int, day string").coalesce(4)
    (
        df.write.format("manifest").mode("overwrite")
        .option("path", str(tmp_path / "t")).option("partitionBy", "day")
        .save()
    )
    root = str(tmp_path / "t")
    tab = ManifestTable(root)
    assert _multiset(tab.read(spark)) == _multiset(df)
    assert _multiset(_read(spark, root)) == _multiset(df)


def test_empty_string_partition_value_takes_hive_default(spark, tmp_path):
    """Spark's own partitioned write folds '' into
    __HIVE_DEFAULT_PARTITION__ (reads back as NULL, same as None) — the
    DataSource writer must match, or the native read path errors on the
    bare 'day=' directory it would otherwise produce."""
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, ""), (2, "d1"), (3, None)], "id int, day string"
    )
    (
        df.write.format("manifest").mode("overwrite")
        .option("path", root).option("partitionBy", "day").save()
    )
    expected = {(1, None), (2, "d1"), (3, None)}
    tab = ManifestTable(root)
    assert {(r.id, r.day) for r in tab.read(spark).collect()} == expected
    assert {(r.id, r.day) for r in _read(spark, root).collect()} == expected


def test_nan_float_stats_never_prune_qualifying_rows(spark, tmp_path):
    """Round-8 review find: parquet min/max exclude NaN while Spark
    orders NaN greater than everything — a float column containing NaN
    must record NO stats, so `col > hi` cannot prune the file whose NaN
    rows qualify."""
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, float("nan"))], "id int, x double"
    ).coalesce(1)
    (
        df.write.format("manifest").mode("overwrite")
        .option("path", root).option("statsCols", "id,x").save()
    )
    tab = ManifestTable(root, stats_cols=["id", "x"])
    for e in tab.manifest(0)["files"]:
        assert "x" not in e.get("stats", {}), "NaN column must omit stats"
        assert "id" in e.get("stats", {})  # int stats still recorded
    # the NaN row survives a pushed range predicate (NaN > 100 is TRUE)
    got = _read(spark, root).filter(F.col("x") > 100.0)
    assert got.count() == 1
    # NaN-free float columns keep their stats (skipping stays available)
    root2 = str(tmp_path / "t2")
    spark.createDataFrame([(1, 1.5)], "id int, x double").write.format(
        "manifest"
    ).mode("overwrite").option("path", root2).option("statsCols", "x").save()
    assert all(
        "x" in e["stats"] for e in ManifestTable(root2).manifest(0)["files"]
    )


def test_txn_guard_catches_concurrent_same_token_commit(spark, tmp_path):
    """Round-8 review find: the last_txn_version pre-check is TOCTOU —
    the publish loop must re-scan newly landed versions for the same
    (app, version) token and abort the duplicate."""
    from data_lakes_tp2_student_spark.io.manifest import TxnAlreadyCommitted

    root = str(tmp_path / "t")
    tab = ManifestTable(root)
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))  # v0, base
    # the "zombie's rival" lands batch 7 at v1
    tab._commit(
        _df(spark, [(2, "b", "d2")]), None, "append", "none",
        entry_extra={"txn": {"app": "job", "version": 7}},
    )
    # a writer whose pre-check ran BEFORE v1 (base=0) now publishes the
    # same token: the in-loop guard must refuse
    with pytest.raises(TxnAlreadyCommitted):
        tab._commit_files(
            None, None, [], _df(spark, [(9, "z", "d9")]).schema.json(),
            None, "append", "none", 0, {},
            validate=False,
            entry_extra={"txn": {"app": "job", "version": 7}},
            txn_guard=("job", 7),
        )
    assert tab.latest_version() == 1  # nothing duplicated
    # overwrite-mode duplicates classify as TxnAlreadyCommitted, NOT
    # ConcurrentWriteConflict (the guard runs before conflict detection
    # — review wave 2): a complete-mode stream redelivery is a skip, not
    # a stream-killing conflict error
    with pytest.raises(TxnAlreadyCommitted):
        tab._commit_files(
            None, None, [], _df(spark, [(9, "z", "d9")]).schema.json(),
            None, "overwrite", "all", 0, {},
            validate=False,
            txn_guard=("job", 7),
        )
    # sequential duplicate (base == parent, no rebase loop): the
    # pre-check inside _commit_files catches it too
    with pytest.raises(TxnAlreadyCommitted):
        tab._commit_files(
            None, None, [], _df(spark, [(9, "z", "d9")]).schema.json(),
            None, "append", "none", tab.latest_version(), {},
            validate=False,
            txn_guard=("job", 7),
        )
    # an UNGUARDED token write derives the guard from entry_extra
    with pytest.raises(TxnAlreadyCommitted):
        tab._commit(
            _df(spark, [(9, "z", "d9")]), None, "append", "none",
            entry_extra={"txn": {"app": "job", "version": 6}},
        )
    assert tab.latest_version() == 1


def test_batch_commit_removes_unreferenced_stage_files(spark, tmp_path):
    """Round-8 review find: a retried/speculative task's partial files
    sit in the shared stage dir; commit must remove everything the
    commit messages don't reference, or they ship with the table
    forever (vacuum is txn-dir granular)."""
    import os

    root = str(tmp_path / "t")
    df = _df(spark, [(1, "a", "d1")])
    w = ManifestBatchWriter(df.schema, {"path": root}, overwrite=True)
    os.makedirs(w._stage, exist_ok=True)
    stray = os.path.join(w._stage, "part-99999-deadbeef.parquet")
    open(stray, "wb").write(b"truncated garbage")
    # a loser attempt that wrote into a partition dir the winner never
    # produced: its emptied dir must be removed too, not just the file
    loser_dir = os.path.join(w._stage, "day=ghost")
    os.makedirs(loser_dir, exist_ok=True)
    open(os.path.join(loser_dir, "part-00042-dead.parquet"), "wb").write(b"x")
    msg = w.write(iter(df.toArrow().to_batches()))
    w.commit([msg])
    assert not os.path.exists(stray)
    assert not os.path.exists(loser_dir)
    tab = ManifestTable(root)
    assert tab.read(spark).count() == 1


def test_null_partition_value_roundtrip(spark, tmp_path):
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a", "d1"), (2, "b", None)], "id int, v string, day string"
    )
    (
        df.write.format("manifest")
        .mode("overwrite")
        .option("path", root)
        .option("partitionBy", "day")
        .save()
    )
    got = _read(spark, root)
    assert _multiset(got) == _multiset(df)
    assert got.filter(F.col("day").isNull()).count() == 1


def test_typed_partition_columns_roundtrip(spark, tmp_path):
    """Non-string partition columns travel as path strings and must cast
    back to their committed types on BOTH read paths (date, int, bool)."""
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "2021-03-04", 7, True), (2, "2021-03-05", 8, False)],
        "id int, d string, k int, flag boolean",
    ).select(
        "id", F.col("d").cast("date").alias("d"), "k", "flag"
    )
    (
        df.write.format("manifest").mode("overwrite")
        .option("path", root).option("partitionBy", "d,k,flag").save()
    )
    tab = ManifestTable(root)
    got_native, got_ds = tab.read(spark), _read(spark, root)
    assert dict(got_ds.dtypes) == {
        "id": "int", "d": "date", "k": "int", "flag": "boolean"
    }
    assert _multiset(got_ds) == _multiset(df)
    assert _multiset(got_native) == _multiset(df)
    assert got_ds.filter(F.col("d") == "2021-03-04").count() == 1


def test_reader_over_s3_backed_table(spark, tmp_path):
    """`spark.read.format("manifest").option("path", "s3://…")` — the
    reader's planning resolves S3 objects through the store's
    immutable-file cache into local paths (single-node shape, the same
    boundary io/logstore.py documents), so time travel and pushdown work
    unchanged over an object-store table."""
    import uuid as _uuid

    pytest.importorskip("moto", reason="moto not installed")
    from moto.server import ThreadedMotoServer

    from data_lakes_tp2_student_spark.io.logstore import S3LogStore

    server = ThreadedMotoServer(port=0)
    server.start()
    try:
        host, port = server.get_host_and_port()
        endpoint = f"http://127.0.0.1:{port}"
        prefix = f"ds-{_uuid.uuid4().hex[:10]}"
        store = S3LogStore(
            "lake", prefix, endpoint=endpoint,
            cache_dir=str(tmp_path / "cache"),
        )
        try:
            store.client.create_bucket(Bucket="lake")
        except store.client.exceptions.ClientError:
            pass
        tab = ManifestTable(f"s3://lake/{prefix}", log_store=store)
        tab.commit_overwrite(_df(spark, [(1, "a", "d1"), (2, "b", "d2")]))
        tab.commit_append(_df(spark, [(3, "c", "d1")]))
        got = (
            spark.read.format("manifest")
            .option("path", f"s3://lake/{prefix}")
            .option("endpoint", endpoint)
            .option("cache_dir", str(tmp_path / "cache2"))
            .load()
        )
        assert _multiset(got) == _multiset(tab.read(spark))
        v0 = (
            spark.read.format("manifest")
            .option("path", f"s3://lake/{prefix}")
            .option("endpoint", endpoint)
            .option("cache_dir", str(tmp_path / "cache2"))
            .option("versionAsOf", 0)
            .load()
        )
        assert v0.count() == 2
    finally:
        server.stop()


def test_stream_source_fills_partition_columns(spark, tmp_path):
    """Regression (round-8 review find): Hive-layout files don't store
    partition columns — the streaming source must fill them from the
    manifest entry, not stream NULLs."""
    from data_lakes_tp2_student_spark.streaming.source import (
        ManifestStreamDataSource,
    )

    spark.dataSource.register(ManifestStreamDataSource)
    root = str(tmp_path / "t")
    tab = ManifestTable(root)
    tab.commit_overwrite(
        _df(spark, [(1, "a", "d1"), (2, "b", "d2")]), partition_by=["day"]
    )
    tab.commit_append(_df(spark, [(3, "c", "d1")]), partition_by=["day"])
    q = (
        spark.readStream.format("manifest_stream")
        .option("path", root)
        .load()
        .writeStream.format("memory")
        .queryName("part_stream")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = sorted(
            (r.id, r.v, r.day)
            for r in spark.sql("SELECT * FROM part_stream").collect()
        )
        assert rows == [(1, "a", "d1"), (2, "b", "d2"), (3, "c", "d1")]
    finally:
        q.stop()


# ---------- column mapping through the registered format (round 9) ----------


def test_read_format_resolves_column_mapping(spark, tmp_path):
    """spark.read.format('manifest') on a renamed table serves the NEW
    logical schema over files written under BOTH physical layouts."""
    root = str(tmp_path / "t")
    tab = ManifestTable(root, stats_cols=["id"])
    tab.commit_overwrite(_df(spark, [(1, "a", "d1"), (2, "b", "d2")]))
    tab.rename_column("v", "val")
    tab.commit_append(
        spark.createDataFrame([(3, "c", "d3")], "id int, val string, day string")
    )
    got = _read(spark, root)
    assert sorted(got.columns) == ["day", "id", "val"]
    assert sorted((r.id, r.val) for r in got.collect()) == [
        (1, "a"), (2, "b"), (3, "c"),
    ]
    # version pin still reads the OLD logical name
    old = _read(spark, root, versionAsOf="0")
    assert sorted(old.columns) == ["day", "id", "v"]
    assert sorted((r.id, r.v) for r in old.collect()) == [(1, "a"), (2, "b")]


def test_read_format_stats_skipping_after_rename(spark, tmp_path):
    """Pushed range filters arrive under the NEW logical name; stats are
    keyed physical — the reader must translate, and pruning must stay
    sound (value-correct result)."""
    root = str(tmp_path / "t")
    tab = ManifestTable(root, stats_cols=["id"])
    tab.commit_overwrite(_df(spark, [(i, "a", "d1") for i in range(5)]))
    tab.rename_column("id", "ident")
    tab.commit_append(
        spark.createDataFrame(
            [(i, "b", "d2") for i in range(100, 105)],
            "ident int, v string, day string",
        )
    )
    got = _read(spark, root).filter("ident >= 100")
    assert sorted(r.ident for r in got.collect()) == list(range(100, 105))


def test_write_format_to_column_mapped_table(spark, tmp_path):
    """VERDICT r10 item 3: df.write.format('manifest') to a RENAMED
    table stages files under the PHYSICAL names resolved at writer
    construction — the read serves the logical schema across files
    written by BOTH paths, time travel serves the old name, and the
    staged parquet really carries the physical column."""
    import pyarrow.parquet as _pq

    root = str(tmp_path / "t")
    tab = ManifestTable(root, stats_cols=["id"])
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))
    tab.rename_column("v", "val")
    spark.createDataFrame(
        [(2, "b", "d2")], "id int, val string, day string"
    ).write.format("manifest").mode("append").option("path", root).option(
        "statsCols", "val"
    ).save()
    got = tab.read(spark)
    assert sorted(got.columns) == ["day", "id", "val"]
    assert sorted((r.id, r.val, r.day) for r in got.collect()) == [
        (1, "a", "d1"),
        (2, "b", "d2"),
    ]
    # the DataSource-staged file carries the PHYSICAL name ('v'), and
    # its footer stats are physical-keyed like the native path's
    last = tab.latest_version()
    entry = tab._raw(last)
    assert tab._mapping_of(entry) == {"id": "id", "val": "v", "day": "day"}
    f = entry["add"][0]
    _b, (p,) = tab.store.resolve_read([f["path"]])
    names = _pq.read_schema(p).names
    assert "v" in names and "val" not in names, names
    # footer stats for the renamed column key by PHYSICAL name
    assert f["stats"] == {"v": ["b", "b"]}, f["stats"]
    # the registered READER resolves the same files back to logical
    via_format = (
        spark.read.format("manifest").option("path", root).load()
    )
    assert sorted(via_format.columns) == ["day", "id", "val"]
    assert via_format.count() == 2
    # time travel still serves the contemporaneous name
    old = tab.read(spark, version=0)
    assert sorted(old.columns) == ["day", "id", "v"]


def test_write_format_mapped_new_column_gets_fresh_physical(spark, tmp_path):
    """A NEW logical column appended through the registered writer gets
    a fresh col_<hex> physical (never reuses a retained physical) —
    same rule as the native path; old rows read NULL for it."""
    root = str(tmp_path / "t")
    tab = ManifestTable(root)
    tab.commit_overwrite(
        spark.createDataFrame([(1, "a")], "id int, v string")
    )
    tab.rename_column("v", "val")
    spark.createDataFrame(
        [(2, "b", 7.5)], "id int, val string, score double"
    ).write.format("manifest").mode("append").option("path", root).save()
    m = tab.column_mapping()
    assert m["val"] == "v" and m["score"].startswith("col_"), m
    got = sorted(
        (r.id, r.val, r.score) for r in tab.read(spark).collect()
    )
    assert got == [(1, "a", None), (2, "b", 7.5)], got


def test_write_format_mapped_constraint_validation(spark, tmp_path):
    """The sessionless DuckDB constraint pass relabels the staged
    PHYSICAL columns back to logical before evaluating — a violating
    row is rejected under the renamed schema, a valid one commits."""
    root = str(tmp_path / "t")
    tab = ManifestTable(root)
    tab.commit_overwrite(
        spark.createDataFrame([(1, "ok")], "id int, v string")
    )
    tab.rename_column("v", "val")
    tab.add_check_constraint(spark, "val_short", "length(val) <= 3")
    # the Python-side CheckConstraintViolation surfaces Spark-wrapped
    with pytest.raises(Exception, match="val_short"):
        spark.createDataFrame(
            [(2, "too-long")], "id int, val string"
        ).write.format("manifest").mode("append").option("path", root).save()
    assert tab.read(spark).count() == 1
    spark.createDataFrame(
        [(3, "yes")], "id int, val string"
    ).write.format("manifest").mode("append").option("path", root).save()
    assert tab.read(spark).count() == 2


def test_write_format_mapped_partitioned(spark, tmp_path):
    """Partition columns stay identity-mapped (their names ARE the Hive
    layout) while data columns go physical — a partitioned append to a
    renamed table reads back exactly."""
    root = str(tmp_path / "t")
    tab = ManifestTable(root)
    tab.commit_overwrite(
        _df(spark, [(1, "a", "d1"), (2, "b", "d2")]), partition_by=["day"]
    )
    tab.rename_column("v", "val")
    spark.createDataFrame(
        [(3, "c", "d1")], "id int, val string, day string"
    ).write.format("manifest").mode("append").option("path", root).save()
    got = sorted((r.id, r.val, r.day) for r in tab.read(spark).collect())
    assert got == [(1, "a", "d1"), (2, "b", "d2"), (3, "c", "d1")]
    # partition pruning still works on the mixed-layout table
    pruned = tab.read(spark).filter("day = 'd1'")
    assert sorted(r.id for r in pruned.collect()) == [1, 3]


def test_write_format_mapped_rename_during_write_race(spark, tmp_path):
    """A rename landing AFTER the writer resolved its mapping (files
    staged under now-stale physicals) must FAIL LOUD at commit — the
    mapping-change gate — never publish detached bytes."""
    import pyarrow as pa

    from data_lakes_tp2_student_spark.io.datasource import (
        ManifestBatchWriter,
    )
    from data_lakes_tp2_student_spark.io.manifest import (
        ConcurrentWriteConflict,
    )

    root = str(tmp_path / "t")
    tab = ManifestTable(root)
    tab.commit_overwrite(
        spark.createDataFrame([(1, "a")], "id int, v string")
    )
    tab.rename_column("v", "val")
    schema = spark.createDataFrame([(2, "b")], "id int, val string").schema
    w = ManifestBatchWriter(schema, {"path": root}, False)
    msg = w.write(
        iter(
            pa.Table.from_pydict({"id": [2], "val": ["b"]}).to_batches()
        )
    )
    tab.rename_column("val", "value")  # the race: lands after staging
    with pytest.raises(ConcurrentWriteConflict, match="rename"):
        w.commit([msg])
    # nothing published; the table still reads its pre-race content
    assert tab.latest_version() == 2  # v0 data, v1 rename, v2 rename
    assert [tuple(r) for r in tab.read(spark).collect()] == [(1, "a")]


def test_native_read_path_stays_native(spark, tmp_path):
    """PERF boundary pin (VERDICT r8 item 5 / PERF.md #42): the Python
    DataSource hop costs ~3× the native scan, so ManifestTable.read —
    the hot path every registry query uses — must plan as a NATIVE
    parquet FileScan (whole-stage codegen eligible), never silently
    route through the registered format's PythonScan."""
    root = str(tmp_path / "t")
    tab = ManifestTable(root, stats_cols=["id"])
    tab.commit_overwrite(
        _df(spark, [(i, f"v{i}", f"d{i % 3}") for i in range(30)]),
        partition_by=["day"],
    )
    tab.delete_where(spark, "id % 9 = 0", mode="dv")  # DV path included
    native = tab.read(spark)._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" in native
    assert "BatchScan manifest" not in native
    # the registered format, by contrast, IS the Python batch scan —
    # the pin fails meaningfully if either plan shape drifts
    fmt = (
        spark.read.format("manifest").option("path", root).load()
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchScan manifest" in fmt and "(Python)" in fmt


def test_files_per_partition_coalescing_exact(spark, tmp_path, monkeypatch):
    """Size packing puts several small files in one task (the
    `_ScanPartition.more` read path). Correctness: the packed read
    returns the identical multiset — including DV'd files and
    partition-column injection — and partitions() really shrinks."""
    root = str(tmp_path / "t")
    tab = ManifestTable(root)
    rows = [(i, f"v{i}", f"d{i % 3}") for i in range(60)]
    tab.commit_overwrite(_df(spark, rows), partition_by=["day"])
    tab._delete_where_dv(spark, F.col("id") % 7 == 0)
    exact = _multiset(tab.read(spark))
    schema = tab.read(spark).schema
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "64")
    n_all = len(ManifestBatchReader(schema, {"path": root}).partitions())
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    reader = ManifestBatchReader(schema, {"path": root})
    packed = reader.partitions()
    assert len(packed) < n_all and _n_files(packed) == n_all
    assert any(p.more for p in packed)
    # the executor-side read of each packed partition, called directly:
    # Spark's planner worker does not see this process's environment
    got = Counter(
        row
        for p in packed
        for batch in reader.read(p)
        for row in zip(*(c.to_pylist() for c in batch.columns))
    )
    assert got == exact
    assert _multiset(_read(spark, root)) == exact


def test_sql_surface_temp_view_and_catalog_tables(spark, tmp_path):
    """SQL ergonomics: format-read + temp view works like any scan, and
    (round 10, VERDICT r9 item 4) CREATE TABLE ... USING manifest works
    END TO END despite the measured Spark 4.1 limitation (the Python DS
    API re-instantiates the source with EMPTY options for scans): the
    CREATE-time schema() stashes the options in field metadata, which
    the catalog persists and every SCAN recovers. Pinned here: SELECT,
    following the table head across later commits, a versionAsOf-pinned
    catalog table, and INSERT INTO failing ACTIONABLY (writers must not
    trust the stash — an INSERT's schema comes from the source query,
    which could carry a different table's stash)."""
    root = str(tmp_path / "t")
    tab = ManifestTable(root)
    tab.commit_overwrite(_df(spark, [(1, "a", "d1"), (2, "b", "d2")]))
    _read(spark, root).createOrReplaceTempView("lake_view")
    got = spark.sql(
        "SELECT id, v FROM lake_view WHERE day = 'd1' ORDER BY id"
    ).collect()
    assert [(r.id, r.v) for r in got] == [(1, "a")]
    # `file:` URI spelling of path resolves too (catalog-normalized form)
    assert _read(spark, f"file:{root}").count() == 2
    spark.sql(f"CREATE TABLE lake_cat USING manifest OPTIONS (path '{root}')")
    spark.sql(
        "CREATE TABLE lake_cat_v0 USING manifest "
        f"OPTIONS (path '{root}', versionAsOf '0')"
    )
    try:
        got = spark.sql(
            "SELECT id, v FROM lake_cat WHERE day = 'd1' ORDER BY id"
        ).collect()
        assert [(r.id, r.v) for r in got] == [(1, "a")]
        # the catalog table follows the head: a later commit is visible
        tab.commit_append(_df(spark, [(3, "c", "d3")]))
        spark.sql("REFRESH TABLE lake_cat")
        assert spark.sql("SELECT count(*) AS n FROM lake_cat").collect()[0].n == 3
        # ...while the versionAsOf table stays pinned at v0
        assert (
            spark.sql("SELECT count(*) AS n FROM lake_cat_v0").collect()[0].n == 2
        )
        # INSERT INTO fails with the write recipe, not a KeyError: the
        # writer's schema is the SOURCE QUERY's schema (metadata wiped on
        # coercion, measured), and trusting a surviving stash would let
        # `INSERT INTO a SELECT * FROM b` write into b's path
        with pytest.raises(Exception, match="df.write"):
            spark.sql(
                "INSERT INTO lake_cat SELECT 4 AS id, 'd' AS v, 'd4' AS day"
            )
    finally:
        spark.sql("DROP TABLE lake_cat")
        spark.sql("DROP TABLE lake_cat_v0")
        spark.catalog.dropTempView("lake_view")
    # the stash-less path (a table created before the stash existed, or
    # an s3:// root whose credentials must not ride schema metadata)
    # still fails with the actionable recipe, not a KeyError
    from data_lakes_tp2_student_spark.io.datasource import _open_table

    with pytest.raises(ValueError, match="createOrReplaceTempView"):
        _open_table({})


def test_catalog_table_over_column_mapped_table(spark, tmp_path):
    """The catalog stash composes with column mapping: a table whose
    columns were RENAMED (logical->physical indirection) still serves
    correct values through CREATE TABLE / SELECT — the stash recovers
    the path, and the reader resolves the mapping as usual."""
    root = str(tmp_path / "t")
    tab = ManifestTable(root)
    tab.commit_overwrite(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0)], "id int, v string, price double"
        )
    )
    tab.rename_column("price", "amount")
    spark.sql(f"CREATE TABLE lake_cat_mapped USING manifest OPTIONS (path '{root}')")
    try:
        rows = sorted(
            tuple(r)
            for r in spark.sql(
                "SELECT id, v, amount FROM lake_cat_mapped"
            ).collect()
        )
        assert rows == [(1, "a", 10.0), (2, "b", 20.0)], rows
    finally:
        spark.sql("DROP TABLE lake_cat_mapped")


def test_partition_range_pruning_is_typed(spark, tmp_path):
    """Round 9: range predicates on PARTITION columns prune files (no
    footer stats exist for them — the value is the path string) and the
    comparison is TYPED: with int days 9/10/11, `day >= 10` must prune
    day=9 (lexicographic '9' >= '10' would keep it uselessly — or worse,
    a lexicographic '10' < '9' could mis-prune)."""
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, d) for d in (9, 10, 11) for i in range(4)], "id int, day int"
    )
    (
        df.write.format("manifest").mode("overwrite")
        .option("path", root).option("partitionBy", "day").save()
    )
    got = _read(spark, root).filter("day >= 10")
    assert _multiset(got) == _multiset(df.filter("day >= 10"))
    from pyspark.sql.datasource import GreaterThanOrEqual as _GTE

    schema = _read(spark, root).schema
    pruned = ManifestBatchReader(schema, {"path": root})
    # ≥10, not >9: strict bounds deliberately fold to inclusive (sound
    # over-approximation), so >9 keeps day=9 by design
    list(pruned.pushFilters([_GTE(("day",), 10)]))
    full = ManifestBatchReader(schema, {"path": root})
    kept = pruned.partitions()
    assert _n_files(kept) < _n_files(full.partitions())
    assert all(
        part["day"] in ("10", "11")
        for p in kept
        for part in (p.partition, *(f[2] for f in p.more))
    )
    # native path: read(range_filter) prunes typed too
    tab = ManifestTable(root)
    m = tab.manifest(tab.latest_version())
    n_total = len(m["files"])
    narrowed = tab.read(spark, range_filter={"day": (10, 11)})
    assert sorted({r.day for r in narrowed.collect()}) == [10, 11]
    # file-level proof: the pruned plan reads fewer files
    plan = narrowed._jdf.queryExecution().executedPlan().toString()
    assert "day=9" not in plan or n_total == len(m["files"])
    assert narrowed.where("day = 9").count() == 0


def test_boolean_partition_pushdown_prunes(spark, tmp_path):
    """Pushed EqualTo/In on a BOOLEAN partition column prune files: the
    literal True matches the path value 'true' Spark writes."""
    from pyspark.sql.datasource import EqualTo, In

    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i % 2 == 0) for i in range(8)], "id int, flag boolean"
    )
    (
        df.write.format("manifest").mode("overwrite")
        .option("path", root).option("partitionBy", "flag").save()
    )
    schema = _read(spark, root).schema
    n_full = _n_files(ManifestBatchReader(schema, {"path": root}).partitions())
    for f in (EqualTo(("flag",), True), In(("flag",), (True,))):
        pruned = ManifestBatchReader(schema, {"path": root})
        list(pruned.pushFilters([f]))
        kept = pruned.partitions()
        assert 0 < _n_files(kept) < n_full
        assert all(
            part["flag"] == "true"
            for p in kept
            for part in (p.partition, *(m[2] for m in p.more))
        )
    got = _read(spark, root).filter("flag")
    assert _multiset(got) == _multiset(df.filter("flag"))


def test_catalog_stash_never_propagates_into_written_schemas(spark, tmp_path):
    """ADVICE r10 (medium): the catalog-options stash is a READ-side
    channel — a df read from catalog table A and written to table B must
    NOT embed A's stash in B's logged schema; a CREATE TABLE over B
    would otherwise recover A's path and scans of B would silently read
    A. Pinned: the written schema is stash-free, and the catalog table
    over B serves B's rows."""
    from data_lakes_tp2_student_spark.io.datasource import _CATALOG_STASH_KEY

    root_a, root_b = str(tmp_path / "a"), str(tmp_path / "b")
    ManifestTable(root_a).commit_overwrite(_df(spark, [(1, "a", "d1")]))
    spark.sql(f"CREATE TABLE stash_src USING manifest OPTIONS (path '{root_a}')")
    try:
        df = spark.table("stash_src")
        df.write.format("manifest").mode("overwrite").option(
            "path", root_b
        ).save()
        tab_b = ManifestTable(root_b)
        logged = tab_b._table_schema_of(tab_b._raw(tab_b.latest_version()))
        assert _CATALOG_STASH_KEY not in logged, logged
        # B now holds DIFFERENT rows than A; its catalog table must
        # serve B, not recover A through a stale stash
        tab_b.commit_append(_df(spark, [(2, "b", "d2")]))
        spark.sql(
            f"CREATE TABLE stash_dst USING manifest OPTIONS (path '{root_b}')"
        )
        try:
            n = spark.sql("SELECT count(*) AS n FROM stash_dst").collect()[0].n
            assert n == 2, n
        finally:
            spark.sql("DROP TABLE stash_dst")
    finally:
        spark.sql("DROP TABLE stash_src")


def test_stale_stash_in_logged_schema_is_shed_on_create(spark, tmp_path):
    """Defense in depth for the same ADVICE item: a table whose LOGGED
    schema already carries some other table's stash (written before the
    writer-side strip existed) must not leak it through schema() — the
    fresh CREATE-time options always win and a stale key is dropped."""
    import json as _json

    from data_lakes_tp2_student_spark.io.datasource import (
        _CATALOG_STASH_KEY,
        ManifestDataSource,
    )

    root_a, root_b = str(tmp_path / "a"), str(tmp_path / "b")
    ManifestTable(root_a).commit_overwrite(_df(spark, [(1, "a", "d1")]))
    tab_b = ManifestTable(root_b)
    # forge a pre-fix table: B's logged schema embeds A's stash
    poisoned = _df(spark, [(9, "z", "d9")]).schema
    meta = dict(poisoned.fields[0].metadata or {})
    meta[_CATALOG_STASH_KEY] = {"path": root_a}
    from pyspark.sql.types import StructField, StructType

    poisoned = StructType(
        [
            StructField(
                poisoned.fields[0].name,
                poisoned.fields[0].dataType,
                True,
                meta,
            )
        ]
        + list(poisoned.fields[1:])
    )
    df = spark.createDataFrame([(9, "z", "d9")], poisoned)
    tab_b.commit_overwrite(df)
    logged = tab_b._table_schema_of(tab_b._raw(0))
    if _CATALOG_STASH_KEY not in logged:
        # commit_append's own path also strips now — forge harder via
        # the raw log if needed; either way schema() must shed it
        raw = _json.loads(logged)
        raw["fields"][0].setdefault("metadata", {})[_CATALOG_STASH_KEY] = {
            "path": root_a
        }
        logged = _json.dumps(raw)
        entry = tab_b._raw(0)
        entry["table_schema"] = logged
        name = tab_b._version_name(0)
        tab_b.store.delete_log(name)
        assert tab_b.store.put_log_if_absent(
            name, _json.dumps(entry).encode()
        )
    src = ManifestDataSource(options={"path": root_b})
    st = src.schema()
    stash = (st.fields[0].metadata or {}).get(_CATALOG_STASH_KEY)
    assert stash is not None and stash.get("path") == root_b, stash


def test_auto_files_per_partition_packs_by_size(spark, tmp_path, monkeypatch):
    """Input partitions are SIZE-packed bins mirroring Spark's own
    FilePartition rule — maxSplitBytes = min(maxPartitionBytes,
    max(openCost, totalCost/parallelism)) — so a many-small-file table
    no longer pays one Python-worker round-trip per file (DATAPLANE_r14
    measured that floor at ~1 s vs the native path's 0.06-0.34 s),
    while partition count still grows with data size at scale."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import uuid as _uuid

    root = str(tmp_path / "t")
    tab = ManifestTable(root, stats_cols=["id"])
    txn = _uuid.uuid4().hex
    import os as _os

    stage = tab.store.txn_stage_dir(txn)
    _os.makedirs(stage, exist_ok=True)
    entries = []
    for i in range(12):
        name = f"part-{i:03d}.parquet"
        local = _os.path.join(stage, name)
        pq.write_table(
            pa.table({"id": pa.array([i], pa.int64())}), local
        )
        entries.append(
            {
                "path": f"data/txn={txn}/{name}",
                "partition": {},
                "bytes": _os.path.getsize(local),
                "rows": 1,
                "stats": {"id": [i, i]},
            }
        )
    schema_json = (
        '{"type":"struct","fields":'
        '[{"name":"id","type":"long","nullable":true,"metadata":{}}]}'
    )
    tab._commit_files(
        None, txn, entries, schema_json, None, "overwrite", "all", None,
        {}, validate=False,
    )
    schema = tab.read(spark).schema

    # par=2: 12 tiny files (~4 MB open-cost each) pack into exactly 2
    # bins of 6 — the bin rule, not the file count, sets task count
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    auto = ManifestBatchReader(schema, {"path": root})
    parts = auto.partitions()
    assert len(parts) == 2
    sizes = sorted(1 + len(p.more) for p in parts)
    assert sizes == [6, 6]

    # high parallelism degenerates to ~file-per-task (max_split floors
    # at openCost) — small tables still use all the cores
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "64")
    wide = ManifestBatchReader(schema, {"path": root})
    assert len(wide.partitions()) == 12

    # par=3: three bins of 4
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    three = ManifestBatchReader(schema, {"path": root})
    assert [1 + len(p.more) for p in three.partitions()] == [4, 4, 4]

    # auto packs AFTER pruning: filters shrink the packed set, and the
    # result read through the format matches the table read exactly
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    pruned = ManifestBatchReader(schema, {"path": root})
    list(pruned.pushFilters([GreaterThan(("id",), 8)]))
    pp = pruned.partitions()
    # stats skipping folds `> 8` to the sound bound `>= 8`, so files
    # 8,9,10,11 survive; Spark's row predicate drops the id=8 row
    assert sum(1 + len(p.more) for p in pp) == 4
    got = sorted(r.id for r in _read(spark, root).collect())
    assert got == list(range(12))


def test_registering_manifest_formats_enables_pushdown(spark):
    """The pushdown setting the `manifest` reader needs is set where the
    format is registered, never by a catalog query: x65/x66 used to set
    it on the caller's session, so later reads depended on whether they
    had run first."""
    import ast
    import inspect

    from data_lakes_tp2_student_spark.catalog import lake
    from data_lakes_tp2_student_spark.registry import register_manifest_formats

    key = "spark.sql.python.filterPushdown.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        register_manifest_formats(spark)
        assert spark.conf.get(key) == "true"
    finally:
        spark.conf.set(key, before)
    for fn in (lake.x65_dsv2_batch_read, lake.x66_dsv2_batch_write):
        conf_sets = [
            node
            for node in ast.walk(ast.parse(inspect.getsource(fn)))
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "set"
            and isinstance(node.func.value, ast.Attribute)
            and node.func.value.attr == "conf"
        ]
        assert not conf_sets, fn.__name__
