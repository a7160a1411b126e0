"""The manifest table as a streaming SOURCE (streaming/source.py, r8).

Contract: offsets are commit versions; the initial snapshot (v0) streams,
each later append streams exactly its added files, change commits fail
loudly (or are skipped with skipChangeCommits), checkpointed restarts
resume from the last processed version, and evolved-schema tables pad
pre-evolution files with NULLs.
"""

from __future__ import annotations

import pytest

from data_lakes_tp2_student_spark.io.manifest import ManifestTable
from data_lakes_tp2_student_spark.streaming.source import ManifestStreamDataSource

from .test_manifest import _df


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    spark.dataSource.register(ManifestStreamDataSource)


def _rows(spark, query_name):
    return sorted(
        (r.id, r.v, r.day)
        for r in spark.sql(f"SELECT * FROM {query_name}").collect()
    )


def _start(spark, root, name, ckpt=None, **opts):
    reader = spark.readStream.format("manifest_stream").option("path", root)
    for k, v in opts.items():
        reader = reader.option(k, v)
    w = reader.load().writeStream.format("memory").queryName(name).outputMode("append")
    if ckpt:
        w = w.option("checkpointLocation", ckpt)
    return w.start()


def test_initial_snapshot_then_incremental_appends(spark, tmp_path):
    root = str(tmp_path / "tab")
    tab = ManifestTable(root)
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))  # v0: initial load
    tab.commit_append(_df(spark, [(2, "b", "d1")]))
    q = _start(spark, root, "src_inc")
    try:
        q.processAllAvailable()
        assert _rows(spark, "src_inc") == [(1, "a", "d1"), (2, "b", "d1")]
        # a commit landing WHILE the stream runs arrives incrementally
        tab.commit_append(_df(spark, [(3, "c", "d2")]))
        q.processAllAvailable()
        assert _rows(spark, "src_inc") == [
            (1, "a", "d1"), (2, "b", "d1"), (3, "c", "d2")
        ]
    finally:
        q.stop()


def test_change_commit_fails_stream_loudly(spark, tmp_path):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    root = str(tmp_path / "tab")
    tab = ManifestTable(root)
    tab.commit_overwrite(_df(spark, [(1, "a", "d1"), (2, "b", "d1")]))
    tab.delete_where(spark, "id = 2")  # v1 rewrites a file
    q = _start(spark, root, "src_chg")
    try:
        with pytest.raises(StreamingQueryException, match="data-changing|append-only"):
            q.processAllAvailable()
    finally:
        q.stop()


def test_skip_change_commits_streams_only_appends(spark, tmp_path):
    root = str(tmp_path / "tab")
    tab = ManifestTable(root)
    tab.commit_overwrite(_df(spark, [(1, "a", "d1"), (2, "b", "d1")]))
    tab.delete_where(spark, "id = 2")          # change commit: skipped
    tab.commit_append(_df(spark, [(3, "c", "d2")]))  # append: streamed
    q = _start(spark, root, "src_skip", skipChangeCommits="true")
    try:
        q.processAllAvailable()
        # the delete's rewrite is NOT re-streamed (so id=2 from v0 stays,
        # id=1's rewritten copy is not duplicated) — Delta's contract
        assert _rows(spark, "src_skip") == [
            (1, "a", "d1"), (2, "b", "d1"), (3, "c", "d2")
        ]
    finally:
        q.stop()


def test_metadata_commits_stream_nothing(spark, tmp_path):
    root = str(tmp_path / "tab")
    tab = ManifestTable(root)
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))
    tab.add_check_constraint(spark, "id_pos", "id > 0")
    tab.commit_append(_df(spark, [(2, "b", "d1")]))
    q = _start(spark, root, "src_meta")
    try:
        q.processAllAvailable()
        assert _rows(spark, "src_meta") == [(1, "a", "d1"), (2, "b", "d1")]
        # a MID-STREAM metadata commit produces an offset-advancing batch
        # with ZERO partitions — must not wedge or error the query
        tab.drop_check_constraint("id_pos")
        q.processAllAvailable()
        tab.commit_append(_df(spark, [(3, "c", "d2")]))
        q.processAllAvailable()
        assert _rows(spark, "src_meta") == [
            (1, "a", "d1"), (2, "b", "d1"), (3, "c", "d2")
        ]
    finally:
        q.stop()


def test_checkpoint_restart_resumes_from_last_version(spark, tmp_path):
    """foreachBatch sink (the memory sink cannot recover a checkpoint):
    after a restart against the same checkpoint, ONLY versions committed
    since the last processed offset stream."""
    root = str(tmp_path / "tab")
    ckpt = str(tmp_path / "ckpt")
    tab = ManifestTable(root)
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))
    delivered = []

    def run():
        q = (
            spark.readStream.format("manifest_stream")
            .option("path", root)
            .load()
            .writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch(
                lambda b, i: delivered.extend(
                    (r.id, r.v, r.day) for r in b.collect()
                )
            )
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run()
    assert sorted(delivered) == [(1, "a", "d1")]
    tab.commit_append(_df(spark, [(2, "b", "d1")]))
    delivered.clear()
    run()  # restart with the SAME checkpoint: only the new version
    assert sorted(delivered) == [(2, "b", "d1")]


def test_evolved_schema_pads_old_files_with_null(spark, tmp_path):
    root = str(tmp_path / "tab")
    tab = ManifestTable(root)
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))
    evolved = spark.createDataFrame(
        [(2, "b", "d1", 0.5)], "id int, v string, day string, score double"
    )
    tab.commit_append(evolved)
    q = _start(spark, root, "src_evo")
    try:
        q.processAllAvailable()
        got = {
            r.id: r.score
            for r in spark.sql("SELECT * FROM src_evo").collect()
        }
        assert got == {1: None, 2: 0.5}
    finally:
        q.stop()


def test_s3_backed_table_streams(spark, tmp_path):
    """The two round-8 flagships compose: a table whose log lives on S3
    (conditional-put LogStore) streams through the same source — options
    carry the store config since a stream cannot carry an object."""
    pytest.importorskip("moto", reason="moto not installed")
    import uuid

    from .test_manifest import moto_endpoint as _fixture  # noqa: F401

    from moto.server import ThreadedMotoServer

    server = ThreadedMotoServer(port=0)
    server.start()
    try:
        host, port = server.get_host_and_port()
        endpoint = f"http://127.0.0.1:{port}"
        from data_lakes_tp2_student_spark.io.logstore import S3LogStore

        prefix = f"stream-{uuid.uuid4().hex[:8]}"
        store = S3LogStore(
            "lake", prefix, endpoint=endpoint, cache_dir=str(tmp_path / "cache")
        )
        try:
            store.client.create_bucket(Bucket="lake")
        except store.client.exceptions.ClientError:
            pass
        tab = ManifestTable(f"s3://lake/{prefix}", log_store=store)
        tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))
        tab.commit_append(_df(spark, [(2, "b", "d1")]))
        q = (
            spark.readStream.format("manifest_stream")
            .option("path", f"s3://lake/{prefix}")
            .option("endpoint", endpoint)
            .option("cache_dir", str(tmp_path / "cache2"))
            .load()
            .writeStream.format("memory")
            .queryName("src_s3")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            assert _rows(spark, "src_s3") == [(1, "a", "d1"), (2, "b", "d1")]
        finally:
            q.stop()
    finally:
        server.stop()


def test_max_versions_per_trigger_paces_batches(spark, tmp_path):
    """maxVersionsPerTrigger=1: commits landing while the stream runs
    arrive as ONE micro-batch per version (steady-state pacing), not one
    catch-up blob. (The first trigger of a run is uncapped — documented:
    the API's latestOffset carries no start position.)"""
    root = str(tmp_path / "tab")
    tab = ManifestTable(root)
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))
    batches = []
    q = (
        spark.readStream.format("manifest_stream")
        .option("path", root)
        .option("maxVersionsPerTrigger", "1")
        .load()
        .writeStream.outputMode("append")
        .foreachBatch(lambda b, i: batches.append(sorted(r.id for r in b.collect())))
        .start()
    )
    try:
        q.processAllAvailable()
        assert batches == [[1]]
        for i in (2, 3, 4):
            tab.commit_append(_df(spark, [(i, "x", "d1")]))
        q.processAllAvailable()
        # three versions -> three paced batches, in commit order
        assert batches == [[1], [2], [3], [4]]
    finally:
        q.stop()


def test_starting_version_options(spark, tmp_path):
    """startingVersion=N skips the earlier commits; =latest subscribes
    to future commits only (Delta's same-named option)."""
    root = str(tmp_path / "tab")
    tab = ManifestTable(root)
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))   # v0
    tab.commit_append(_df(spark, [(2, "b", "d1")]))      # v1
    q = _start(spark, root, "src_sv1", startingVersion="1")
    try:
        q.processAllAvailable()
        assert _rows(spark, "src_sv1") == [(2, "b", "d1")]  # v0 skipped
    finally:
        q.stop()
    q = _start(spark, root, "src_svl", startingVersion="latest")
    try:
        q.processAllAvailable()
        assert _rows(spark, "src_svl") == []  # nothing yet...
        tab.commit_append(_df(spark, [(3, "c", "d2")]))
        q.processAllAvailable()
        assert _rows(spark, "src_svl") == [(3, "c", "d2")]  # ...future only
    finally:
        q.stop()


def test_column_mapped_table_streams_logical_names(spark, tmp_path):
    """Round 9: a stream over a RENAMED table serves the new logical
    name across files written under both physical layouts, and a
    rename landing MID-STREAM is skipped silently (metadata-only; the
    captured mapping keeps resolving — physical names are immutable)."""
    root = str(tmp_path / "tab")
    tab = ManifestTable(root)
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))
    tab.rename_column("v", "val")
    tab.commit_append(
        spark.createDataFrame([(2, "b", "d2")], "id int, val string, day string")
    )
    q = _start(spark, root, "src_mapped")
    try:
        q.processAllAvailable()
        got = sorted(
            (r.id, r.val, r.day)
            for r in spark.sql("SELECT * FROM src_mapped").collect()
        )
        assert got == [(1, "a", "d1"), (2, "b", "d2")]
        # mid-stream rename: skipped silently; later appends keep
        # streaming under the CAPTURED logical name (physical stable)
        tab.rename_column("val", "value")
        tab.commit_append(
            spark.createDataFrame(
                [(3, "c", "d3")], "id int, value string, day string"
            )
        )
        q.processAllAvailable()
        got = sorted(
            (r.id, r.val, r.day)
            for r in spark.sql("SELECT * FROM src_mapped").collect()
        )
        assert got == [(1, "a", "d1"), (2, "b", "d2"), (3, "c", "d3")]
    finally:
        q.stop()


def test_cold_start_backfill_drains_in_bounded_batches(spark, tmp_path):
    """Round 9 (VERDICT r8 item 6): a FRESH checkpoint on a deep log
    must not read everything in one uncapped first trigger —
    `pacedInitialBackfill=true` (the caller's fresh-checkpoint
    assertion; see the reader ctor for why it cannot be the default)
    anchors the first trigger at the initial offset, so the backfill
    drains in ≥ ceil(versions/cap) bounded batches, each spanning ≤ cap
    versions, with every row delivered exactly once."""
    root = str(tmp_path / "tab")
    tab = ManifestTable(root)
    tab.commit_overwrite(_df(spark, [(0, "a", "d0")]))        # v0
    for i in range(1, 12):                                     # v1..v11
        tab.commit_append(_df(spark, [(i, "x", "d1")]))
    batches: list[list[int]] = []
    q = (
        spark.readStream.format("manifest_stream")
        .option("path", root)
        .option("maxVersionsPerTrigger", "3")
        .option("pacedInitialBackfill", "true")
        .load()
        .writeStream.outputMode("append")
        .foreachBatch(lambda b, i: batches.append(sorted(r.id for r in b.collect())))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    flat = sorted(x for b in batches for x in b)
    assert flat == list(range(12))                 # exactly once, all rows
    nonempty = [b for b in batches if b]
    assert len(nonempty) >= 4                      # 12 versions / cap 3
    assert all(len(b) <= 3 for b in nonempty)      # 1 row per version here


def test_available_now_trigger_drains_and_terminates(spark, tmp_path):
    """Trigger.AvailableNow: catch up on the whole backlog, then STOP —
    the batch semantics users reach for on lake tables. Run UNPACED:
    AvailableNow pins its drain target from the FIRST latestOffset
    answer, so a version cap would silently truncate the drain (the API
    exposes no SupportsTriggerAvailableNow to Python sources) — the
    source docstring steers paced streams to processing-time triggers."""
    root = str(tmp_path / "tab")
    tab = ManifestTable(root)
    tab.commit_overwrite(_df(spark, [(0, "a", "d0")]))
    for i in range(1, 8):
        tab.commit_append(_df(spark, [(i, "x", "d1")]))
    batches: list[list[int]] = []
    q = (
        spark.readStream.format("manifest_stream")
        .option("path", root)
        .load()
        .writeStream.outputMode("append")
        .trigger(availableNow=True)
        .foreachBatch(lambda b, i: batches.append(sorted(r.id for r in b.collect())))
        .start()
    )
    assert q.awaitTermination(120)                 # AvailableNow terminates
    flat = sorted(x for b in batches for x in b)
    assert flat == list(range(8))                  # full drain, exactly once
    assert q.status["isTriggerActive"] is False


def test_starting_timestamp_option(spark, tmp_path):
    """startingTimestamp (Delta parity): stream only commits AT or
    AFTER the timestamp — including one committed exactly at it;
    a timestamp predating the retained log streams everything; mutual
    exclusion with startingVersion is enforced."""
    root = str(tmp_path / "tab")
    tab = ManifestTable(root)
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))       # v0
    ts_v1 = None
    tab.commit_append(_df(spark, [(2, "b", "d1")]))          # v1
    ts_v1 = tab._raw(1)["committed_at"]
    tab.commit_append(_df(spark, [(3, "c", "d2")]))          # v2
    # exactly at v1's commit time: v1 and v2 stream, v0 does not
    q = _start(spark, root, "src_st", startingTimestamp=str(ts_v1))
    try:
        q.processAllAvailable()
        assert _rows(spark, "src_st") == [(2, "b", "d1"), (3, "c", "d2")]
    finally:
        q.stop()
    # predates everything: full stream
    q = _start(spark, root, "src_st0", startingTimestamp="0")
    try:
        q.processAllAvailable()
        assert len(_rows(spark, "src_st0")) == 3
    finally:
        q.stop()
    # both options is an error (Delta's rule)
    import pyspark.errors

    with pytest.raises(Exception, match="not both"):
        q = _start(
            spark, root, "src_both",
            startingVersion="1", startingTimestamp=str(ts_v1),
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()


def test_dv_delete_is_a_change_commit(spark, tmp_path):
    """VERDICT r14 item 6: deletion-vector commits and the stream.

    A merge-on-read delete (`delete_dv`) changes data without touching
    files, so an append-only stream cannot represent it — Delta parity:

    - default: the stream fails LOUDLY at the DV commit;
    - skipChangeCommits=true: the stream keeps the PRE-DELETE adds it
      already streamed and skips the DV commit entirely — downstream
      MAY still see the deleted rows (documented may-see-deleted-rows
      semantics, same as Delta's skipChangeCommits over a DV'd table);
    - `changes_since` is the CDC escape hatch that DOES reflect the
      delete (the removed row arrives as a delete event).
    """
    from pyspark.errors.exceptions.captured import StreamingQueryException

    root = str(tmp_path / "tab")
    tab = ManifestTable(root)
    tab.commit_overwrite(_df(spark, [(1, "a", "d1"), (2, "b", "d1")]))
    v0 = tab.latest_version()
    tab.delete_where(spark, "id = 2", mode="dv")  # v1: DV, no rewrite

    # default stream: loud failure at the DV commit
    q = _start(spark, root, "src_dv_loud")
    try:
        with pytest.raises(
            StreamingQueryException, match="data-changing|append-only"
        ):
            q.processAllAvailable()
    finally:
        q.stop()

    # skipChangeCommits: pre-delete adds keep streaming — id=2 is STILL
    # emitted even though the table's batch read no longer returns it
    tab.commit_append(_df(spark, [(3, "c", "d2")]))
    q = _start(spark, root, "src_dv_skip", skipChangeCommits="true")
    try:
        q.processAllAvailable()
        assert _rows(spark, "src_dv_skip") == [
            (1, "a", "d1"), (2, "b", "d1"), (3, "c", "d2")
        ]
    finally:
        q.stop()
    batch_ids = sorted(r.id for r in tab.read(spark).collect())
    assert batch_ids == [1, 3]  # the stream saw a row the table lost

    # CDC escape hatch: changes_since reflects the DV delete
    cdc = tab.changes_since(spark, v0, ["id"]).collect()
    ops = {(r.id, r.change_type) for r in cdc}
    assert any(i == 2 and "delete" in op for i, op in ops), ops


def test_micro_batch_partitions_are_size_packed(spark, tmp_path, monkeypatch):
    """Round 15 (shared pack_by_size rule with the batch scan): a
    micro-batch spanning a many-small-file commit plans SIZE-packed
    input partitions — task count follows data size, not file count —
    and the stream still yields every row exactly once."""
    import json as _json
    import os as _os
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    from data_lakes_tp2_student_spark.streaming.source import (
        ManifestStreamReader,
    )

    root = str(tmp_path / "tab")
    tab = ManifestTable(root)
    # exactly 12 tiny files in ONE commit, staged deterministically
    # (a Spark repartition(12) write may produce empty partitions and
    # fewer/unequal files — hash skew made the bin count flaky)
    txn = _uuid.uuid4().hex
    stage = tab.store.txn_stage_dir(txn)
    _os.makedirs(stage, exist_ok=True)
    entries = []
    for i in range(12):
        local = _os.path.join(stage, f"p{i:02d}.parquet")
        pq.write_table(
            pa.table(
                {
                    "id": pa.array([i], pa.int32()),
                    # fixed-width values: equal file sizes, so the
                    # exact-half split is deterministic (a 9-byte size
                    # skew legitimately spills a file to a third bin —
                    # Spark's planner has the same boundary behavior)
                    "v": pa.array([f"r{i:02d}"], pa.string()),
                    "day": pa.array(["d1"], pa.string()),
                }
            ),
            local,
        )
        entries.append(
            {
                "path": f"data/txn={txn}/p{i:02d}.parquet",
                "partition": {},
                "bytes": _os.path.getsize(local),
                "rows": 1,
            }
        )
    schema_json = (
        '{"type":"struct","fields":['
        '{"name":"id","type":"integer","nullable":true,"metadata":{}},'
        '{"name":"v","type":"string","nullable":true,"metadata":{}},'
        '{"name":"day","type":"string","nullable":true,"metadata":{}}]}'
    )
    tab._commit_files(
        None, txn, entries, schema_json, None, "overwrite", "all", None,
        {}, validate=False,
    )
    schema = StructType.fromJson(_json.loads(schema_json))

    # par=2: 12 open-cost-dominated files pack into exactly 2 bins of 6
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    r = ManifestStreamReader(schema, {"path": root})
    parts = r.partitions({"version": -1}, {"version": 0})
    assert len(parts) == 2
    assert sorted(1 + len(p.more) for p in parts) == [6, 6]
    # executor-side read over a packed partition yields every file's rows
    got = sorted(
        i
        for p in parts
        for b in r.read(p)
        for i in b.column(0).to_pylist()
    )
    assert got == list(range(12))

    # high parallelism spreads back out to ~file-per-task
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "64")
    wide = ManifestStreamReader(schema, {"path": root})
    assert len(wide.partitions({"version": -1}, {"version": 0})) == 12

    # par=3: three bins of 4 (batch-reader parity)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    three = ManifestStreamReader(schema, {"path": root})
    assert [
        1 + len(p.more)
        for p in three.partitions({"version": -1}, {"version": 0})
    ] == [4, 4, 4]

    # end-to-end through the registered format: exactly-once, all rows
    q = _start(spark, root, "src_packed")
    try:
        q.processAllAvailable()
        assert _rows(spark, "src_packed") == [
            (i, f"r{i:02d}", "d1") for i in range(12)
        ]
    finally:
        q.stop()
