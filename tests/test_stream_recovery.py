"""Checkpoint-restart recovery for the i9 streaming lake sink.

The exactly-once story a production ingest needs: with a checkpoint
directory, a RESTARTED query resumes from the last committed source offset
and processes only files that arrived while it was down — no reprocessing
of already-committed input, and the lake converges to exactly the batch
table.
"""

from __future__ import annotations

import os

import duckdb

from data_lakes_tp2_student_spark.registry import load
from data_lakes_tp2_student_spark.streaming.jobs import stream_upsert_partitions

from .conftest import SF_SMOKE as SF


def test_checkpoint_restart_processes_only_new_files(spark, tmp_path):
    con = duckdb.connect()
    src = f"{SF}/events.parquet"
    my_sf = str(tmp_path / "sf")
    os.makedirs(my_sf)
    # phase-1 arrival: even event_ids as the initial events.parquet
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{src}') WHERE event_id % 2 = 0) "
        f"TO '{my_sf}/events.parquet' (FORMAT PARQUET)"
    )
    dest = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")
    seen: list[int] = []

    def on_batch(batch, _batch_id):
        seen.append(batch.count())

    stream_upsert_partitions(spark, my_sf, dest, ckpt, on_batch)
    n_even = con.execute(
        f"SELECT count(*) FROM read_parquet('{src}') WHERE event_id % 2 = 0"
    ).fetchone()[0]
    assert sum(seen) == n_even

    # phase-2 arrival while the query is down: odd ids land next to the
    # source as a second events*.parquet file
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{src}') WHERE event_id % 2 = 1) "
        f"TO '{my_sf}/events_late.parquet' (FORMAT PARQUET)"
    )
    seen.clear()
    stream_upsert_partitions(spark, my_sf, dest, ckpt, on_batch)

    n_all = con.execute(
        f"SELECT count(*) FROM read_parquet('{src}')"
    ).fetchone()[0]
    # the restarted query processed ONLY the late file — no reprocessing
    assert sum(seen) == n_all - n_even
    # and the lake converged to exactly the batch table (manifest read:
    # the lake is a snapshot-committed table since r6)
    from data_lakes_tp2_student_spark.io.manifest import ManifestTable

    got = ManifestTable(dest).read(spark)
    batch = load(spark, SF, "events")
    assert got.count() == n_all
    assert set(r.event_id for r in got.select("event_id").collect()) == set(
        r.event_id for r in batch.select("event_id").collect()
    )


def test_stream_lake_sink_commits_to_s3_backed_table(spark, tmp_path):
    """Round 8: the i9 sink's atomic micro-batch commits work unchanged
    when the lake's manifest table lives on an object store (S3LogStore
    over in-process moto) — same batch-equals-lake convergence, with log
    entries and data files in the bucket."""
    import pytest

    pytest.importorskip("moto", reason="moto not installed")
    import uuid

    from moto.server import ThreadedMotoServer

    from data_lakes_tp2_student_spark.io.logstore import S3LogStore
    from data_lakes_tp2_student_spark.io.manifest import ManifestTable

    server = ThreadedMotoServer(port=0)
    server.start()
    try:
        _h, port = server.get_host_and_port()
        prefix = f"lake-{uuid.uuid4().hex[:8]}"
        store = S3LogStore(
            "stream", prefix,
            endpoint=f"http://127.0.0.1:{port}",
            cache_dir=str(tmp_path / "cache"),
        )
        store.client.create_bucket(Bucket="stream")
        table = ManifestTable(f"s3://stream/{prefix}", log_store=store)
        stream_upsert_partitions(
            spark, SF, table, str(tmp_path / "ckpt")
        )
        got = table.read(spark)
        batch = load(spark, SF, "events").dropDuplicates(["event_id"])
        assert got.count() == batch.count()
        # the committed lake IS in the bucket: log entries + parquet data
        assert table.versions(), "no committed version in the bucket"
        keys = store._list_keys(f"{prefix}/")
        assert any("_manifest/v" in k["Key"] for k in keys)
        assert any(".parquet" in k["Key"] for k in keys)
    finally:
        server.stop()
