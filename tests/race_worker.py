"""Subprocess worker for the MULTI-PROCESS commit-race test
(tests/test_multiprocess_race.py, VERDICT r10 item 6).

The thread-level races in test_manifest.py share one Python process —
one GIL, one boto3 client, one page cache — which can mask real
cross-host race windows. This worker runs in its OWN OS process: it
stages a tiny parquet sessionless (pyarrow — the DataSource writer's
commit-callback idiom, no SparkSession) and drives the REAL
`_commit_files` publish loop against a table other processes are
committing to concurrently. Invoked as:

    python tests/race_worker.py '<json cfg>'

and prints a JSON list of committed versions (or "conflict" where the
serializability gate correctly aborted)."""

from __future__ import annotations

import json
import os
import sys
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from data_lakes_tp2_student_spark.io.logstore import S3LogStore  # noqa: E402
from data_lakes_tp2_student_spark.io.manifest import (  # noqa: E402
    ConcurrentWriteConflict,
    ManifestTable,
)


def open_table(cfg: dict) -> ManifestTable:
    if cfg["backend"] == "local":
        return ManifestTable(cfg["root"])
    store = S3LogStore(
        cfg["bucket"],
        cfg["prefix"],
        endpoint=cfg["endpoint"],
        cache_dir=cfg["cache_dir"],
    )
    return ManifestTable(
        f"s3://{cfg['bucket']}/{cfg['prefix']}", log_store=store
    )


def stage(
    table: ManifestTable,
    schema: pa.Schema,
    rows: dict,
    partition: dict | None = None,
) -> tuple[str, list[dict]]:
    """One parquet into a fresh txn stage dir (both backends via
    txn_stage_dir + finalize_txn); returns (txn, commit entries)."""
    txn = uuid.uuid4().hex
    stage_dir = table.store.txn_stage_dir(txn)
    sub = stage_dir
    if partition:
        sub = os.path.join(
            stage_dir, *[f"{k}={v}" for k, v in partition.items()]
        )
    os.makedirs(sub, exist_ok=True)
    pq.write_table(
        pa.table(rows, schema=schema),
        os.path.join(sub, f"part-00000-{txn[:8]}.parquet"),
    )
    entries = []
    for rel, local in table.store.finalize_txn(txn):
        entries.append(
            {
                "path": rel,
                "partition": dict(partition or {}),
                "bytes": os.path.getsize(local),
                "rows": pq.ParquetFile(local).metadata.num_rows,
            }
        )
    return txn, entries


def dv_stage(
    table: ManifestTable, m: dict, positions: list[int]
) -> tuple[str, str, list[str]]:
    """Sessionless analog of `_write_dv` (VERDICT r14 item 5): stage a
    positions-only DV parquet marking `positions` of the table's FIRST
    data file (lexicographic — stable across DV commits, which never
    move data files). Returns (txn dir name, dv rel, hit list) in the
    same shape `_write_dv` hands `_merge_stacked_dvs`."""
    target = sorted(e["path"] for e in m["files"])[0]
    txn = uuid.uuid4().hex
    stage_dir = table.store.txn_stage_dir(txn)
    os.makedirs(stage_dir, exist_ok=True)
    # non-nullable fields to match the Spark-written DV parquet schema
    # (_write_dv's file/pos derive from provenance columns, which Spark
    # writes as required; a merge concatenates both and pyarrow refuses
    # mixed nullability)
    dv_schema = pa.schema(
        [
            pa.field("file", pa.string(), nullable=False),
            pa.field("pos", pa.int64(), nullable=False),
        ]
    )
    pq.write_table(
        pa.table(
            {
                "file": [target] * len(positions),
                "pos": list(positions),
            },
            schema=dv_schema,
        ),
        os.path.join(stage_dir, f"dv-{txn[:8]}.parquet"),
    )
    written = [rel for rel, _local in table.store.finalize_txn(txn)]
    return f"txn={txn}", written[0], [target]


def commit_dv(
    table: ManifestTable, latest: int, m: dict, dv_rel: str, hit: list[str]
) -> int:
    """The commit tail of `_delete_where_dv`: re-add the hit entries
    with the DV attached through `_commit_files`, carrying the parent's
    schema, constraints and column mapping."""
    p_entry = table._raw(latest)
    mapping = table._mapping_of(p_entry)
    hitset = set(hit)
    add = [dict(e, dv=[dv_rel]) for e in m["files"] if e["path"] in hitset]
    return table._commit_files(
        None, None, add, table._table_schema_of(p_entry),
        m["partition_by"] or None, "delete_dv", "files", latest,
        table._constraints_of(p_entry), remove_paths=hit, validate=False,
        column_mapping=mapping, base_mapping=mapping,
    )


def _wait_for(path: str) -> None:
    import time as _time

    while not os.path.exists(path):
        _time.sleep(0.01)


def main() -> None:
    cfg = json.loads(sys.argv[1])
    table = open_table(cfg)
    base = table.latest_version()
    schema_json = table._table_schema_of(table._raw(base))
    out: list = []
    if cfg["mode"] == "append":
        schema = pa.schema(
            [("id", pa.int32()), ("v", pa.string()), ("day", pa.string())]
        )
        for i in range(cfg["n_commits"]):
            rows = {
                "id": [cfg["worker"] * 1000 + i],
                "v": [f"w{cfg['worker']}c{i}"],
                "day": ["d1"],
            }
            txn, entries = stage(table, schema, rows)
            v = table._commit_files(
                None,
                txn,
                entries,
                schema_json,
                None,
                "append",
                "none",
                table.latest_version(),
                {},
                validate=False,
            )
            out.append(v)
    elif cfg["mode"] == "dv_delete":
        # cross-process DV-delete race (VERDICT r14 item 5): each
        # position set is the production `_delete_where_dv` tail —
        # fresh snapshot → stage DV → `_merge_stacked_dvs` (which READS
        # any DV parquet a racing process committed meanwhile — exactly
        # the supersede window the verdict names) → `commit_dv`; a
        # ConcurrentWriteConflict cleans the staged dirs via the same
        # `_drop_uncommitted_dv` the production abort path uses, then
        # the whole derivation retries from the NEW snapshot.
        if cfg.get("barrier"):
            _wait_for(cfg["barrier"])
        conflicts = 0
        versions: list[int] = []
        for positions in cfg["position_sets"]:
            for _attempt in range(80):
                latest = table.latest_version()
                m = table.manifest(latest)
                txn, dv_rel, hit = dv_stage(table, m, positions)
                dv_rel = table._merge_stacked_dvs(txn, dv_rel, hit, m)
                try:
                    versions.append(commit_dv(table, latest, m, dv_rel, hit))
                    break
                except ConcurrentWriteConflict:
                    conflicts += 1
                    table._drop_uncommitted_dv(dv_rel)
            else:
                raise RuntimeError("dv_delete never landed in 80 attempts")
        out = {"versions": versions, "conflicts": conflicts}
    elif cfg["mode"] == "dv_staged_commit":
        # deterministic-window variant: derive + stage + merge from the
        # CURRENT snapshot, report STAGED, then hold the commit until
        # the parent creates the barrier file (behind which it lands a
        # conflicting commit — e.g. a reorg that rewrites the very file
        # this DV marks). The held commit must abort LOUDLY, and the
        # abort must leave no staged orphan.
        latest = table.latest_version()
        m = table.manifest(latest)
        txn, dv_rel, hit = dv_stage(table, m, cfg["positions"])
        dv_rel = table._merge_stacked_dvs(txn, dv_rel, hit, m)
        print(json.dumps({"staged": True}), flush=True)
        _wait_for(cfg["barrier"])
        try:
            v = commit_dv(table, latest, m, dv_rel, hit)
            out = {"result": v}
        except ConcurrentWriteConflict:
            table._drop_uncommitted_dv(dv_rel)
            out = {"result": "conflict"}
    elif cfg["mode"] == "torn":
        # kill-9 torn-commit fixture (VERDICT r11 item 5): stage the
        # PUTs of a commit, optionally finalize them into the backend,
        # then BLOCK forever before the conditional-put publish — the
        # parent SIGKILLs us here, leaving an orphaned txn dir with no
        # manifest entry. Readers must never see these rows; vacuum
        # must reap the dir; later writers must commit cleanly.
        schema = pa.schema(
            [("id", pa.int32()), ("v", pa.string()), ("day", pa.string())]
        )
        txn = uuid.uuid4().hex
        stage_dir = table.store.txn_stage_dir(txn)
        os.makedirs(stage_dir, exist_ok=True)
        pq.write_table(
            pa.table(
                {"id": [9999], "v": ["TORN"], "day": ["d9"]}, schema=schema
            ),
            os.path.join(stage_dir, f"part-00000-{txn[:8]}.parquet"),
        )
        if cfg["torn_at"] == "finalized":
            table.store.finalize_txn(txn)
        print(json.dumps({"staged": True, "txn": txn}), flush=True)
        import time as _time

        _time.sleep(600)  # parent kills -9 long before this returns
        return
    else:  # replace ONE partition, all workers anchored at the same base
        schema = pa.schema([("id", pa.int32()), ("v", pa.string())])
        part = {"day": cfg["day"]}
        rows = {"id": [cfg["worker"] * 1000], "v": [f"w{cfg['worker']}"]}
        txn, entries = stage(table, schema, rows, partition=part)
        try:
            v = table._commit_files(
                None,
                txn,
                entries,
                schema_json,
                ["day"],
                "replace_partitions",
                "partitions",
                cfg["base"],
                {},
                validate=False,
            )
            out.append(v)
        except ConcurrentWriteConflict:
            table.store.delete_txn_dir(f"txn={txn}")
            out.append("conflict")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
