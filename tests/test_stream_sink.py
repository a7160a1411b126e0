"""The manifest table as a streaming SINK through the official Data
Source API (io/datasource.py:ManifestStreamWriter, r8).

Contract: every micro-batch is ONE atomic manifest commit; append mode
appends, complete mode replaces; with `txnAppId` the commit carries
Delta's txn action and redelivered batchIds are skipped (exactly-once
over at-least-once delivery); CHECK constraints validate per batch in
the sessionless commit worker; failed/duplicate staging is dropped.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_lakes_tp2_student_spark.io.datasource import (
    ManifestDataSource,
    ManifestStreamWriter,
    _CommitEntries,
)
from data_lakes_tp2_student_spark.io.manifest import ManifestTable
from data_lakes_tp2_student_spark.streaming.source import (
    ManifestStreamDataSource,
)

from .test_manifest import _df


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    spark.dataSource.register(ManifestDataSource)
    spark.dataSource.register(ManifestStreamDataSource)


def _chain(spark, src_root, sink_root, ckpt, **sink_opts):
    w = (
        spark.readStream.format("manifest_stream")
        .option("path", src_root)
        .load()
        .writeStream.format("manifest")
        .option("path", sink_root)
        .option("checkpointLocation", ckpt)
    )
    for k, v in sink_opts.items():
        w = w.option(k, v)
    return w.outputMode("append").start()


def test_each_micro_batch_is_one_atomic_commit(spark, tmp_path):
    src_root, sink_root = str(tmp_path / "src"), str(tmp_path / "sink")
    src = ManifestTable(src_root)
    src.commit_overwrite(_df(spark, [(1, "a", "d1"), (2, "b", "d2")]))
    q = _chain(spark, src_root, sink_root, str(tmp_path / "ck"))
    try:
        q.processAllAvailable()
        sink = ManifestTable(sink_root)
        assert sink.versions() == [0]
        # a new source commit arrives as exactly one new sink version
        src.commit_append(_df(spark, [(3, "c", "d1")]))
        q.processAllAvailable()
        assert sink.versions() == [0, 1]
        assert sorted(
            (r.id, r.v, r.day) for r in sink.read(spark).collect()
        ) == [(1, "a", "d1"), (2, "b", "d2"), (3, "c", "d1")]
    finally:
        q.stop()


def test_sink_partitions_and_restart_resumes(spark, tmp_path):
    src_root, sink_root = str(tmp_path / "src"), str(tmp_path / "sink")
    ck = str(tmp_path / "ck")
    src = ManifestTable(src_root)
    src.commit_overwrite(_df(spark, [(1, "a", "d1"), (2, "b", "d2")]))
    q = _chain(
        spark, src_root, sink_root, ck, partitionBy="day", txnAppId="j1"
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    sink = ManifestTable(sink_root)
    assert sink.manifest(0)["partition_by"] == ["day"]
    assert all(
        e["partition"]["day"] in ("d1", "d2")
        for e in sink.manifest(0)["files"]
    )
    assert sink.last_txn_version("j1") == 0
    # restart on the same checkpoint: nothing new → nothing committed
    q2 = _chain(
        spark, src_root, sink_root, ck, partitionBy="day", txnAppId="j1"
    )
    try:
        q2.processAllAvailable()
        assert sink.versions() == [0]
        # new source data resumes with the NEXT batch id
        src.commit_append(_df(spark, [(3, "c", "d1")]))
        q2.processAllAvailable()
        assert sink.versions() == [0, 1]
        assert sink.last_txn_version("j1") == 1
        assert sink.read(spark).count() == 3
    finally:
        q2.stop()


def test_txn_idempotence_skips_redelivered_batch(spark, tmp_path):
    """Direct writer-level redelivery: the same batchId committed twice
    publishes ONE version, and the duplicate's staged files are
    dropped."""
    root = str(tmp_path / "t")
    df = _df(spark, [(1, "a", "d1")])
    w = ManifestStreamWriter(
        df.schema, {"path": root, "txnappid": "app"}, overwrite=False
    )
    tab = ManifestTable(root)

    def staged_entry():
        import os
        import uuid

        stage, _rel = w._task_stage()
        os.makedirs(stage, exist_ok=True)
        p = os.path.join(stage, f"part-{uuid.uuid4().hex}.parquet")
        df.toPandas().to_parquet(p)
        return {
            "path": os.path.relpath(p, root),
            "partition": {},
            "bytes": os.path.getsize(p),
            "rows": len(df.toPandas()),
        }

    w.commit([_CommitEntries([staged_entry()])], batchId=7)
    assert tab.versions() == [0]
    assert tab.last_txn_version("app") == 7
    n_dirs = len(tab.store.list_txn_dirs())
    # redelivery of batch 7: skipped, duplicate staging dropped
    w.commit([_CommitEntries([staged_entry()])], batchId=7)
    assert tab.versions() == [0]
    assert len(tab.store.list_txn_dirs()) == n_dirs
    # an EARLIER batch id is also skipped (restart replays from behind)
    w.commit([_CommitEntries([staged_entry()])], batchId=5)
    assert tab.versions() == [0]
    # the next batch id commits
    w.commit([_CommitEntries([staged_entry()])], batchId=8)
    assert tab.versions() == [0, 1]
    assert tab.last_txn_version("app") == 8
    assert tab.read(spark).count() == 2


def test_complete_mode_replaces_per_batch(spark, tmp_path):
    """outputMode('complete') → overwrite commits: the sink holds the
    CURRENT aggregate, not an append log of partial results."""
    src_root, sink_root = str(tmp_path / "src"), str(tmp_path / "sink")
    src = ManifestTable(src_root)
    src.commit_overwrite(_df(spark, [(1, "a", "d1"), (2, "b", "d1")]))
    q = (
        spark.readStream.format("manifest_stream")
        .option("path", src_root)
        .load()
        .groupBy("day")
        .agg(F.count("*").alias("n"))
        .writeStream.format("manifest")
        .option("path", sink_root)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        sink = ManifestTable(sink_root)
        assert sorted(
            (r.day, r.n) for r in sink.read(spark).collect()
        ) == [("d1", 2)]
        src.commit_append(_df(spark, [(3, "c", "d2")]))
        q.processAllAvailable()
        assert sink._raw(sink.latest_version())["action"] == "overwrite"
        assert sorted(
            (r.day, r.n) for r in sink.read(spark).collect()
        ) == [("d1", 2), ("d2", 1)]
    finally:
        q.stop()


def test_stream_source_over_datasource_written_table(spark, tmp_path):
    """Composition: batch writes through df.write.format('manifest')
    produce 'append' commits a downstream manifest_stream subscriber
    drains incrementally — the write path and the stream path agree on
    the log's semantics."""
    root = str(tmp_path / "t")
    _df(spark, [(1, "a", "d1")]).write.format("manifest").mode(
        "overwrite"
    ).option("path", root).option("partitionBy", "day").save()
    q = (
        spark.readStream.format("manifest_stream")
        .option("path", root)
        .load()
        .writeStream.format("memory")
        .queryName("dsv2_src")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        _df(spark, [(2, "b", "d2")]).write.format("manifest").mode(
            "append"
        ).option("path", root).save()
        q.processAllAvailable()
        rows = sorted(
            (r.id, r.v, r.day)
            for r in spark.sql("SELECT * FROM dsv2_src").collect()
        )
        assert rows == [(1, "a", "d1"), (2, "b", "d2")]
    finally:
        q.stop()


def test_sink_enforces_check_constraints_per_batch(spark, tmp_path):
    src_root, sink_root = str(tmp_path / "src"), str(tmp_path / "sink")
    src = ManifestTable(src_root)
    src.commit_overwrite(_df(spark, [(1, "a", "d1")]))
    sink = ManifestTable(sink_root)
    sink.commit_overwrite(_df(spark, [(2, "z", "d9")]))
    sink.add_check_constraint(spark, "small_id", "id < 5")
    q = _chain(spark, src_root, sink_root, str(tmp_path / "ck"))
    try:
        q.processAllAvailable()  # id=1 passes
        assert sink.read(spark).count() == 2
        src.commit_append(_df(spark, [(99, "bad", "d1")]))
        with pytest.raises(Exception, match="small_id"):
            q.processAllAvailable()
    finally:
        q.stop()
    # the violating batch committed nothing and staged nothing durable
    assert sink.read(spark).count() == 2


def test_stream_sink_mapped_table_new_column_across_batches(spark, tmp_path):
    """Round-11 review regression: a stream writing a NEW logical column
    to a MAPPED table extends the mapping (fresh physical) at batch 1's
    commit — batch 2 must commit against that extension instead of
    spuriously conflicting with the writer's own batch-1 publish. Files
    stage under physical names; the read serves logical across all
    batches."""
    import os
    import uuid

    import pandas as pd

    root = str(tmp_path / "t")
    tab = ManifestTable(root)
    tab.commit_overwrite(
        spark.createDataFrame([(1, "a")], "id int, v string")
    )
    tab.rename_column("v", "val")
    schema = spark.createDataFrame(
        [(0, "x", 0.0)], "id int, val string, score double"
    ).schema
    w = ManifestStreamWriter(schema, {"path": root}, overwrite=False)
    assert w._mapping["val"] == "v" and w._mapping["score"].startswith("col_")

    def staged_entry(i: int):
        stage, _rel = w._task_stage()
        os.makedirs(stage, exist_ok=True)
        p = os.path.join(stage, f"part-{uuid.uuid4().hex}.parquet")
        # files carry PHYSICAL names, as the executor write() stages them
        pd.DataFrame(
            {
                "id": pd.array([i], dtype="int32"),
                "v": [f"b{i}"],
                w._mapping["score"]: [float(i)],
            }
        ).to_parquet(p)
        return {
            "path": os.path.relpath(p, root),
            "partition": {},
            "bytes": os.path.getsize(p),
            "rows": 1,
        }

    w.commit([_CommitEntries([staged_entry(10)])], batchId=0)
    # batch 2 against the now-extended mapping: must NOT conflict
    w.commit([_CommitEntries([staged_entry(11)])], batchId=1)
    got = sorted(
        (r.id, r.val, r.score) for r in tab.read(spark).collect()
    )
    assert got == [(1, "a", None), (10, "b10", 10.0), (11, "b11", 11.0)]
    # a REAL concurrent rename still aborts the next batch loudly
    from data_lakes_tp2_student_spark.io.manifest import (
        ConcurrentWriteConflict,
    )

    tab.rename_column("val", "value")
    with pytest.raises(ConcurrentWriteConflict, match="rename"):
        w.commit([_CommitEntries([staged_entry(12)])], batchId=2)
