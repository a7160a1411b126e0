"""The deletion-vector codec (`io/dv.py`) on hand-built DV parquets, and
the DV reads its metadata-only callers make: a DV shared by many files
is opened once per call, not once per file."""

from __future__ import annotations

import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from data_lakes_tp2_student_spark.io import dv
from data_lakes_tp2_student_spark.io.manifest import ManifestTable

SCHEMA = (
    '{"type":"struct","fields":['
    '{"name":"id","type":"long","nullable":true,"metadata":{}}]}'
)


def _dv(path, rows: list[tuple[str, int]]) -> str:
    pq.write_table(
        pa.table(
            {
                "file": pa.array([f for f, _ in rows], pa.string()),
                "pos": pa.array([p for _, p in rows], pa.int64()),
            }
        ),
        str(path),
    )
    return str(path)


def _lists(dead: dict) -> dict:
    assert all(p.dtype == np.int64 for p in dead.values())
    return {f: p.tolist() for f, p in dead.items()}


def test_one_rel_shared_by_two_files_splits_per_file(tmp_path):
    r = _dv(tmp_path / "r.parquet", [("b", 3), ("a", 2), ("a", 0), ("b", 1)])
    assert _lists(dv.dead_positions({"a": [r], "b": [r]})) == {
        "a": [0, 2],
        "b": [1, 3],
    }


def test_repointed_file_ignores_rows_in_a_rel_it_no_longer_references(tmp_path):
    # `old` was shared by a and c; a delete on a merged a's positions into
    # `merged` and re-pointed a there, while c still references `old`.
    # old's a-rows (including 7, which a later rewrite would have made
    # stale) no longer apply to a.
    old = _dv(tmp_path / "old.parquet", [("a", 1), ("a", 7), ("c", 5)])
    merged = _dv(tmp_path / "merged.parquet", [("a", 1), ("a", 2)])
    assert _lists(dv.dead_positions({"a": [merged], "c": [old]})) == {
        "a": [1, 2],
        "c": [5],
    }


def test_duplicate_rows_count_once(tmp_path):
    r1 = _dv(tmp_path / "r1.parquet", [("a", 4), ("a", 1), ("a", 1)])
    r2 = _dv(tmp_path / "r2.parquet", [("a", 4)])
    assert _lists(dv.dead_positions({"a": [r1, r2]})) == {"a": [1, 4]}


def test_file_without_dv_has_no_dead_positions(tmp_path):
    r = _dv(tmp_path / "r.parquet", [("a", 0)])
    assert _lists(dv.dead_positions({"a": [r], "z": []})) == {
        "a": [0],
        "z": [],
    }


def test_drop_dead_and_write_positions_round_trip(tmp_path):
    t = pa.table({"x": list(range(6))})
    assert dv.drop_dead(t, np.array([0, 4], np.int64))["x"].to_pylist() == [
        1, 2, 3, 5,
    ]
    assert dv.drop_dead(t, np.empty(0, np.int64)) is t
    path = str(tmp_path / "w.parquet")
    dv.write_positions(
        path, {"b": np.array([2], np.int64), "a": np.array([0, 3], np.int64)}
    )
    back = pq.read_table(path)
    assert list(zip(back["file"].to_pylist(), back["pos"].to_pylist())) == [
        ("a", 0), ("a", 3), ("b", 2),
    ]


def _shared_dv_table(root: str, n_files: int, rows: int) -> ManifestTable:
    """`n_files` files of `rows` rows, all referencing ONE DV that
    deletes position 1 of every file: the shape one multi-file
    `delete_where(mode="dv")` commits."""
    tab = ManifestTable(root)
    txn, dv_txn = uuid.uuid4().hex, uuid.uuid4().hex
    stage = tab.store.txn_stage_dir(txn)
    os.makedirs(stage)
    entries = []
    for i in range(n_files):
        name = f"part-{i:05d}.parquet"
        local = os.path.join(stage, name)
        pq.write_table(
            pa.table({"id": pa.array(range(i * rows, (i + 1) * rows), pa.int64())}),
            local,
        )
        entries.append(
            {
                "path": f"data/txn={txn}/{name}",
                "partition": {},
                "bytes": os.path.getsize(local),
                "rows": rows,
            }
        )
    dv_stage = tab.store.txn_stage_dir(dv_txn)
    os.makedirs(dv_stage)
    _dv(os.path.join(dv_stage, "dv.parquet"), [(e["path"], 1) for e in entries])
    dv_rel = f"data/txn={dv_txn}/dv.parquet"
    tab._commit_files(
        None, txn, [dict(e, dv=[dv_rel]) for e in entries], SCHEMA, None,
        "overwrite", "all", None, {}, validate=False,
    )
    return tab


def test_row_count_and_clone_open_a_shared_dv_once(tmp_path, monkeypatch):
    tab = _shared_dv_table(str(tmp_path / "t"), n_files=64, rows=4)
    calls = []
    read_table = dv.pq.read_table

    def counting(source, *a, **kw):
        calls.append(str(source))
        return read_table(source, *a, **kw)

    monkeypatch.setattr(dv.pq, "read_table", counting)
    assert tab.row_count() == 64 * 3
    assert len(calls) == 1  # the shared DV, once (it was once per file)
    calls.clear()
    clone = tab.clone_to(str(tmp_path / "clone"))
    assert len(calls) == 64 + 1  # every data file plus the shared DV once
    files = clone.manifest(clone.latest_version())["files"]
    assert not any(e.get("dv") for e in files)
    assert [e["rows"] for e in files] == [3] * 64
    monkeypatch.undo()
    got = sorted(
        i
        for e in files
        for i in pq.read_table(os.path.join(clone.root, e["path"]))["id"].to_pylist()
    )
    assert got == [i for i in range(64 * 4) if i % 4 != 1]
