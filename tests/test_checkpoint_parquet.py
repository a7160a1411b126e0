"""Columnar (parquet) manifest checkpoints — Delta checkpoint parity.
The checkpoint stores each entry's JSON verbatim plus TYPED per-column
min/max stat columns, so a range-filtered read prunes VECTORIZED and
decodes O(selected) entries. These tests pin: exact round-trip of the
file list against log replay, identical read() results on every path,
coarse prune engagement and soundness, txns-map survival across log
truncation, the due checkpoint for every commit kind, the refusal of a
headless columnar checkpoint, and vacuum cleanup of checkpoint files."""

from __future__ import annotations

import datetime
import json

import pytest

from data_lakes_tp2_student_spark.io.manifest import (
    ManifestTable,
    _ckpt_from_parquet,
    _ckpt_to_parquet_bytes,
)
from data_lakes_tp2_student_spark.io.prune import Paths, Pred


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _mk(spark, path, n=40, interval=1):
    tab = ManifestTable(
        str(path), stats_cols=["id"], checkpoint_interval=interval
    )
    df = spark.createDataFrame(
        [(i, f"v{i}", f"d{i % 3}") for i in range(n)],
        "id int, v string, day string",
    )
    tab.commit_overwrite(df.repartitionByRange(4, "id"), partition_by=["day"])
    # checkpoints start at v1 (the v>0 gate) — append once so the
    # interval=1 checkpoint actually exists at the latest version
    tab.commit_append(
        spark.createDataFrame([(1000, "extra", "d0")], df.schema),
        partition_by=["day"],
    )
    return tab, df


def test_parquet_checkpoint_snapshot_equals_json(spark, tmp_path):
    """The file list decoded from a columnar checkpoint is ENTRY-EXACT
    against log replay (path, partition, bytes, rows, stats —
    everything), and a `checkpoint_interval=0` twin that only replays
    the log holds the same entries and rows."""
    tp, _ = _mk(spark, tmp_path / "p")
    v = tp.latest_version()
    assert v in tp.checkpoints()
    replay: list = []
    for u in range(v + 1):
        replay = ManifestTable._apply(tp._raw(u), replay)
    assert tp._read_checkpoint_body(v)["files"] == replay
    assert tp._snapshot_files(v) == replay

    twin, _ = _mk(spark, tmp_path / "j", interval=0)
    assert twin.checkpoints() == []

    # paths embed distinct txn ids — compare entries without them
    def norm(fs):
        return sorted(
            json.dumps({k: x for k, x in e.items() if k != "path"}, sort_keys=True)
            for e in fs
        )

    assert norm(tp._snapshot_files(v)) == norm(twin._snapshot_files(v))
    assert _rows(twin.read(spark)) == _rows(tp.read(spark))


def test_parquet_checkpoint_roundtrip_preserves_entries():
    """Unit round-trip through the columnar encoding: typed stats,
    mixed-domain fallback stats, dv lists, and unknown extra keys all
    come back EQUAL as dicts."""
    files = [
        {
            "path": "data/txn=a/f1.parquet",
            "partition": {"day": "d1"},
            "bytes": 10,
            "rows": 5,
            "stats": {"id": [1, 9], "ts": ["2024-01-01T00:00:00+00:00",
                                           "2024-01-02T00:00:00+00:00"]},
        },
        {
            "path": "data/txn=a/f2.parquet",
            "partition": {},
            "bytes": 20,
            "rows": 7,
            "stats": {"id": [10, 19], "mixed": ["x", "y"]},
            "dv": ["data/txn=b/dv.parquet"],
            "custom_key": {"nested": [1, 2]},
        },
        {
            # stats-less file: must survive and never be pruned
            "path": "data/txn=a/f3.parquet",
            "partition": {"day": "d2"},
            "bytes": 30,
            "rows": 9,
            "stats": {"mixed": [3, 4]},  # `mixed` gets no typed columns
        },
        {
            # legacy entry without `bytes`/`rows`: the keys stay ABSENT
            # (a None would break row_count and describe_detail)
            "path": "data/txn=a/f4.parquet",
            "partition": {"day": "d2"},
        },
    ]
    body = {"version": 7, "files": files, "txns": {"app1": 42}}
    back = _ckpt_from_parquet(_ckpt_to_parquet_bytes(body))
    assert back["version"] == 7 and back["txns"] == {"app1": 42}
    assert back["files"] == files

    # coarse prune: id=(1,5) keeps f1 (overlap) + f3 (no id stats)
    pruned = _ckpt_from_parquet(
        _ckpt_to_parquet_bytes(body), {"id": ((1, 5), "bigint")}
    )
    assert [e["path"] for e in pruned["files"]] == [
        "data/txn=a/f1.parquet",
        "data/txn=a/f3.parquet",
        "data/txn=a/f4.parquet",
    ]
    # mixed-domain column cannot skip at the coarse level (sound)
    pruned2 = _ckpt_from_parquet(
        _ckpt_to_parquet_bytes(body), {"mixed": ((0, 1), "bigint")}
    )
    assert len(pruned2["files"]) == 4
    # one-sided range works
    pruned3 = _ckpt_from_parquet(
        _ckpt_to_parquet_bytes(body), {"id": ((10, None), "bigint")}
    )
    assert len(pruned3["files"]) == 3  # f2 + stats-less f3, f4
    # datetime bound in naive isoformat vs '+00:00' stats: sound at the
    # exact boundary (equal instant must KEEP the file)
    pruned4 = _ckpt_from_parquet(
        _ckpt_to_parquet_bytes(body),
        {"ts": ((None, "2024-01-01T00:00:00"), "timestamp")},
    )
    assert any(e["path"].endswith("f1.parquet") for e in pruned4["files"])


def test_parquet_checkpoint_range_read_identical_and_pruned(
    spark, tmp_path, monkeypatch
):
    """read(range_filter=...) over a columnar checkpoint returns the same
    rows as a checkpoint-less table AND materializes fewer entries."""
    tj, df = _mk(spark, tmp_path / "j", interval=0)
    tp, _ = _mk(spark, tmp_path / "p")
    want = _rows(tj.read(spark, range_filter={"id": (7, 7)}).filter("id = 7"))

    seen: list[int] = []
    orig = ManifestTable._load_snapshot

    def spy(self, spark_, m, files, **kw):
        seen.append(len(files))
        return orig(self, spark_, m, files, **kw)

    monkeypatch.setattr(ManifestTable, "_load_snapshot", spy)
    got = _rows(tp.read(spark, range_filter={"id": (7, 7)}).filter("id = 7"))
    monkeypatch.undo()
    assert got == want and len(want) == 1
    n_all = len(tp._snapshot_files(tp.latest_version()))
    assert seen and seen[0] < n_all, (seen, n_all)
    # the COARSE path already shrank the list before the exact prune:
    # manifest(prune=...) returns fewer entries than the snapshot
    coarse = tp.manifest(
        tp.latest_version(), prune=Pred([{"id": (7, 7)}])
    )["files"]
    assert len(coarse) < n_all


def test_parquet_checkpoint_deltas_and_vacuum(spark, tmp_path):
    """Post-checkpoint deltas replay over a columnar checkpoint; vacuum
    reaps superseded checkpoint files."""
    tab = ManifestTable(
        str(tmp_path / "t"), stats_cols=["id"], checkpoint_interval=2
    )
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(30)], "id int, v string"
    )
    tab.commit_overwrite(df.repartitionByRange(3, "id"))
    for k in range(4):
        tab.commit_append(
            spark.createDataFrame([(100 + k, f"a{k}")], "id int, v string")
        )
    tab.delete_where(spark, "id = 5")
    got = sorted(r.id for r in tab.read(spark).collect())
    assert got == sorted(
        [i for i in range(30) if i != 5] + [100, 101, 102, 103]
    )
    # some parquet checkpoints were written by the interval
    names = [n for n in tab.store.list_log() if n.endswith(".checkpoint.parquet")]
    assert names, "no parquet checkpoint written"
    # time travel still works across the checkpoint boundary
    assert len(tab.read(spark, version=0).collect()) == 30
    import time as _t

    _t.sleep(1.1)
    tab.vacuum(keep_versions=1, min_age_seconds=0)
    kept = [n for n in tab.store.list_log() if n.endswith(".checkpoint.parquet")]
    assert len(kept) <= len(names)
    assert sorted(r.id for r in tab.read(spark).collect()) == got


def _stage_one_row(tab, value):
    """Stage one hand-written parquet file and return (txn, its commit
    entries)."""
    import os
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    txn = uuid.uuid4().hex
    stage = tab.store.txn_stage_dir(txn)
    os.makedirs(stage, exist_ok=True)
    pq.write_table(
        pa.table({"id": pa.array([value], "int32"), "v": [f"r{value}"]}),
        os.path.join(stage, "part-0.parquet"),
    )
    entries = [
        {
            "path": rel,
            "partition": {},
            "bytes": os.path.getsize(local),
            "rows": 1,
        }
        for rel, local in tab.store.finalize_txn(txn)
    ]
    return txn, entries


def test_parquet_checkpoint_txns_survive(spark, tmp_path):
    """The cumulative txns map rides the columnar checkpoint's metadata —
    a fresh handle recovers last_txn_version after log truncation has
    removed the entry that carried the token."""
    tab = ManifestTable(str(tmp_path / "t"), checkpoint_interval=1)
    df = spark.createDataFrame([(1, "a")], "id int, v string")
    tab.commit_overwrite(df)
    txn, entries = _stage_one_row(tab, 2)
    tab._commit_files(
        None, txn, entries, tab._table_schema_of(tab._raw(0)), None,
        "append", "none", 0, {}, validate=False,
        entry_extra={"txn": {"app": "appX", "version": 7}},
    )
    assert tab._read_checkpoint_body(1).get("txns") == {"appX": 7}
    tab.commit_append(spark.createDataFrame([(3, "c")], df.schema))
    tab.vacuum(keep_versions=1, min_age_seconds=0)
    assert tab.versions() == [2]  # the token's entry v1 is gone
    assert [n for n in tab.store.list_log() if ".checkpoint." in n] == [
        "v%020d.checkpoint.parquet" % 2
    ]
    fresh = tab.clone()
    assert fresh.last_txn_version("appX") == 7
    # count and detail answer from the checkpointed metadata
    assert fresh.row_count() == 3
    detail = fresh.describe_detail()
    assert detail["num_rows"] == 3 and detail["size_bytes"] > 0


def test_headless_columnar_checkpoint_raises(spark, tmp_path):
    """A columnar checkpoint without the `entry` column (an older
    per-field encoding) fails loudly instead of reading as empty."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tab = ManifestTable(str(tmp_path / "t"), checkpoint_interval=0)
    df = spark.createDataFrame([(1, "a")], "id int, v string")
    tab.commit_overwrite(df)
    tab.commit_append(spark.createDataFrame([(3, "c")], df.schema))
    t = pa.table({"path": [e["path"] for e in tab._snapshot_files(1)]})
    t = t.replace_schema_metadata({b"version": b"1"})
    sink = pa.BufferOutputStream()
    pq.write_table(t, sink)
    tab.store.put_log_atomic(
        tab._checkpoint_name(1), sink.getvalue().to_pybytes()
    )
    with pytest.raises(ValueError, match="no `entry` column"):
        tab.clone().read(spark)


def _dv_delete(spark, tab):
    tab.delete_where(spark, "id = 3", mode="dv")


def _dv_update(spark, tab):
    tab.update_where(spark, "id = 4", {"v": "'u'"}, mode="dv")


def _restore(spark, tab):
    tab.restore(0)


def _add_constraint(spark, tab):
    tab.add_check_constraint(spark, "pos", "id >= 0")


def _drop_constraint(spark, tab):
    tab.add_check_constraint(spark, "pos", "id >= 0")
    tab.drop_check_constraint("pos")


def _rename_column(spark, tab):
    tab.rename_column("v", "w")


def _drop_column(spark, tab):
    tab.drop_column("v")


@pytest.mark.parametrize(
    "op",
    [_dv_delete, _dv_update, _restore, _add_constraint, _drop_constraint,
     _rename_column, _drop_column],
    ids=lambda f: f.__name__.lstrip("_"),
)
def test_every_commit_kind_writes_due_checkpoint(spark, tmp_path, op):
    """Every commit kind goes through the one publish loop, so at
    `checkpoint_interval=1` the new version always has its checkpoint,
    and the checkpoint equals log replay."""
    tab = ManifestTable(str(tmp_path / "t"), checkpoint_interval=1)
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "id int, v string"
    )
    tab.commit_overwrite(df.coalesce(2))
    tab.commit_append(spark.createDataFrame([(10, "x")], df.schema))
    before = tab.latest_version()
    op(spark, tab)
    v = tab.latest_version()
    assert v > before
    assert v in tab.checkpoints(), (v, tab.checkpoints())
    replay: list = []
    for u in range(v + 1):
        replay = ManifestTable._apply(tab._raw(u), replay)
    assert tab._read_checkpoint_body(v)["files"] == replay


def test_dir_coalesced_scan_roots_identical_results(spark, tmp_path):
    """Round 12: above the 512-live-file threshold, _load_snapshot
    passes txn DIRECTORIES as scan roots when the dir's parquet content
    equals the live set — and falls back to per-file paths for any dir
    holding dead files. Results must be identical either way, with and
    without partitioning, and after a CoW delete leaves a dead file."""
    tab = ManifestTable(str(tmp_path / "t"), stats_cols=["id"])
    df = spark.createDataFrame(
        [(i, f"v{i}", f"d{i % 3}") for i in range(600)],
        "id int, v string, day string",
    )
    tab.commit_overwrite(
        df.repartition(600, "id"), partition_by=["day"]
    )
    m = tab.manifest(tab.latest_version())
    n_files = len(m["files"])
    assert n_files >= 512, n_files
    rels = [e["path"] for e in m["files"]]
    co = tab._coalesce_dirs(rels)
    assert len(co) < n_files  # collapsed to O(dirs)
    assert all(r.count("/") == 1 for r in co)  # pure txn-dir roots
    assert _rows(tab.read(spark)) == _rows(df)

    # CoW delete rewrites SOME files; their old versions stay on disk
    # inside the original txn dir until vacuum → that dir must fall
    # back to per-file paths, and reads stay exact
    tab.delete_where(spark, "id = 7")
    m2 = tab.manifest(tab.latest_version())
    rels2 = [e["path"] for e in m2["files"]]
    co2 = tab._coalesce_dirs(rels2)
    dirs2 = [r for r in co2 if r.count("/") == 1]
    files2 = [r for r in co2 if r.count("/") > 1]
    assert files2, "dead-file dir did not fall back to per-file paths"
    got = _rows(tab.read(spark))
    assert got == _rows(df.filter("id <> 7"))
    # zombie parquet dropped into a live dir: fallback keeps it unread
    import pyarrow as pa
    import pyarrow.parquet as pq

    victim_dir = next(r for r in dirs2)
    pq.write_table(
        pa.table({"id": pa.array([123456], "int32"), "v": ["ZOMBIE"],
                  "day": ["d0"]}),
        str(tmp_path / "t" / victim_dir / "zombie.parquet"),
    )
    assert _rows(tab.read(spark)) == _rows(df.filter("id <> 7"))


def test_parquet_checkpoint_partition_coarse_prune(spark, tmp_path):
    """Round 13 (VERDICT r12 item 3): partition-scoped planning prunes
    COLUMNAR inside the parquet checkpoint via `part::<col>` columns —
    both the exact-value form (partition_filter) and the typed-range
    form (range_filter on a partition column) — and every path returns
    results identical to the unpruned read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tab, df = _mk(spark, tmp_path / "t")
    v = tab.latest_version()

    # the checkpoint physically carries the part:: column
    raw = tab.store.read_log(tab._checkpoint_name(v))
    t = pq.read_table(pa.BufferReader(raw))
    assert "part::day" in t.column_names

    # exact-value coarse prune: O(selected) entries materialized
    full = tab._snapshot_files(v)
    sel = tab._snapshot_files(v, {"day": (Paths({"d1"}), "string")})
    assert 0 < len(sel) < len(full)
    assert all(e["partition"]["day"] == "d1" for e in sel if e["partition"])

    # read(partition_filter=...) rides it end-to-end, results identical
    got = _rows(tab.read(spark, partition_filter={"day": "d1"}))
    want = sorted(
        (i, f"v{i}", "d1") for i in range(40) if i % 3 == 1
    )
    assert got == want

    # typed-range prune on the partition column (string type here:
    # lexicographic domain) — identical to the exact filter's result
    sel_r = tab._snapshot_files(v, {"day": (("d2", "d2"), "string")})
    assert 0 < len(sel_r) < len(full)
    kept_days = {e["partition"].get("day") for e in sel_r if e["partition"]}
    assert kept_days == {"d2"}

    # pre-r13 checkpoints (no part:: columns) stay readable and unpruned
    body = {"version": v, "files": full}
    blob = _ckpt_to_parquet_bytes(body)
    t2 = pq.read_table(pa.BufferReader(blob))
    drop = [c for c in t2.column_names if c.startswith("part::")]
    legacy_blob_table = t2.drop_columns(drop)
    sink = pa.BufferOutputStream()
    pq.write_table(legacy_blob_table, sink)
    out = _ckpt_from_parquet(
        sink.getvalue().to_pybytes(), {"day": (Paths({"d1"}), "string")}
    )
    assert len(out["files"]) == len(full)  # absent part:: ⇒ keep all


def test_parquet_checkpoint_int_partition_range_typed(spark, tmp_path):
    """Integer partition values compare NUMERICALLY in the coarse path
    ('9' < '10' must hold) — same contract as the dict evaluator."""
    tab = ManifestTable(
        str(tmp_path / "t"), stats_cols=[], checkpoint_interval=1
    )
    df = spark.createDataFrame(
        [(i, i % 12) for i in range(48)], "id int, b int"
    )
    tab.commit_overwrite(df, partition_by=["b"])
    tab.commit_append(
        spark.createDataFrame([(999, 11)], df.schema), partition_by=["b"]
    )
    v = tab.latest_version()
    full = tab._snapshot_files(v)
    sel = tab._snapshot_files(v, {"b": ((9, 10), "int")})
    assert 0 < len(sel) < len(full)
    days = {e["partition"]["b"] for e in sel}
    assert days <= {"9", "10"}, days
    got = _rows(
        tab.read(spark, range_filter={"b": (9, 10)})
        .where("b between 9 and 10")
    )
    want = sorted((i, i % 12) for i in range(48) if i % 12 in (9, 10))
    assert got == want
