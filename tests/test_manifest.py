"""Snapshot-commit manifest layer (io/manifest.py) — VERDICT r5 item 2.

The contract under test: readers pin a version; a version N reader is
unaffected by any in-flight or committed version N+1; a crashed commit
leaves no visible state and vacuums cleanly; replace_partitions is atomic
across partitions; the put-if-absent publish resolves concurrent writers.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from data_lakes_tp2_student_spark.io.manifest import ManifestTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "id int, v string, day string")


@pytest.fixture(scope="module")
def moto_endpoint():
    """In-process S3 for the object-store backend param (round 8)."""
    pytest.importorskip("moto", reason="moto not installed")
    from moto.server import ThreadedMotoServer

    server = ThreadedMotoServer(port=0)
    server.start()
    host, port = server.get_host_and_port()
    yield f"http://127.0.0.1:{port}"
    server.stop()


@pytest.fixture(params=["local", "s3"])
def tab(request, tmp_path):
    """EVERY contract in this suite runs against BOTH backends: the
    local-FS store (os.link put-if-absent) and the S3 store (conditional
    put against in-process moto) — VERDICT r7 item 1."""
    if request.param == "local":
        return ManifestTable(str(tmp_path / "tab"))
    import uuid as _uuid

    from data_lakes_tp2_student_spark.io.logstore import S3LogStore

    endpoint = request.getfixturevalue("moto_endpoint")
    prefix = f"tab-{_uuid.uuid4().hex[:10]}"
    store = S3LogStore(
        "lake", prefix, endpoint=endpoint, cache_dir=str(tmp_path / "cache")
    )
    try:
        store.client.create_bucket(Bucket="lake")
    except store.client.exceptions.ClientError:
        pass
    return ManifestTable(f"s3://lake/{prefix}", log_store=store)


def rows(df):
    return sorted((r.id, r.v, r.day) for r in df.collect())


def test_commit_read_roundtrip_and_versions(spark, tab):
    v0 = tab.commit_overwrite(_df(spark, [(1, "a", "d1"), (2, "b", "d2")]))
    assert v0 == 0
    v1 = tab.commit_append(_df(spark, [(3, "c", "d2")]))
    assert v1 == 1
    assert tab.versions() == [0, 1]
    assert rows(tab.read(spark)) == [(1, "a", "d1"), (2, "b", "d2"), (3, "c", "d2")]
    # time travel: version 0 still reads exactly its snapshot
    assert rows(tab.read(spark, version=0)) == [(1, "a", "d1"), (2, "b", "d2")]


def test_reader_pinned_while_next_version_half_written(spark, tab):
    """THE isolation property: a reader resolved at version N sees exactly
    version N even while N+1's data files already sit in the table dir
    (manifest not yet published = commit not happened)."""
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))
    pinned = tab.read(spark)  # resolves (and freezes) the file list now
    # half-written next commit: data files on disk, NO manifest entry
    tab._write_txn(_df(spark, [(99, "zz", "d1"), (98, "yy", "d9")]), None)
    assert rows(pinned) == [(1, "a", "d1")]
    assert rows(tab.read(spark)) == [(1, "a", "d1")]  # fresh read too
    assert tab.latest_version() == 0


def test_crash_mid_commit_recovery(spark, tab):
    """A writer that dies between data write and manifest publish leaves
    an orphan txn dir: invisible to readers, removed by vacuum, and the
    table accepts subsequent commits normally."""
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))
    tab._write_txn(_df(spark, [(50, "dead", "d1")]), None)  # "crash" here
    orphan_count = len(
        tab.store.list_txn_dirs()
    )
    assert orphan_count == 2  # live + orphan
    # default retention REFUSES to touch a fresh unreferenced txn dir —
    # it could be a commit between data write and manifest publish
    assert tab.vacuum() == []
    removed = tab.vacuum(min_age_seconds=0)  # sole owner: safe to force
    assert len(removed) == 1
    assert rows(tab.read(spark)) == [(1, "a", "d1")]
    # table still fully functional after recovery
    tab.commit_append(_df(spark, [(2, "b", "d2")]))
    assert rows(tab.read(spark)) == [(1, "a", "d1"), (2, "b", "d2")]


def test_replace_partitions_touches_only_written_partitions(spark, tab):
    tab.commit_overwrite(
        _df(spark, [(1, "a", "d1"), (2, "b", "d2"), (3, "c", "d3")]),
        partition_by=["day"],
    )
    # replace d2 only; d1/d3 files must carry over BYTE-identical (same
    # manifest entries, no rewrite)
    before = {
        e["path"]
        for e in tab.manifest(0)["files"]
        if e["partition"]["day"] != "d2"
    }
    tab.commit_replace_partitions(
        _df(spark, [(20, "B", "d2"), (21, "B2", "d2")]), ["day"]
    )
    after_entries = tab.manifest(1)["files"]
    assert before <= {e["path"] for e in after_entries}
    assert rows(tab.read(spark)) == [
        (1, "a", "d1"),
        (3, "c", "d3"),
        (20, "B", "d2"),
        (21, "B2", "d2"),
    ]
    # idempotent replay: committing the same batch again converges
    tab.commit_replace_partitions(
        _df(spark, [(20, "B", "d2"), (21, "B2", "d2")]), ["day"]
    )
    assert rows(tab.read(spark)) == [
        (1, "a", "d1"),
        (3, "c", "d3"),
        (20, "B", "d2"),
        (21, "B2", "d2"),
    ]
    # old snapshot still time-travels
    assert rows(tab.read(spark, version=0)) == [
        (1, "a", "d1"),
        (2, "b", "d2"),
        (3, "c", "d3"),
    ]


def test_partition_filter_prunes_against_manifest(spark, tab):
    tab.commit_overwrite(
        _df(spark, [(1, "a", "d1"), (2, "b", "d2")]), partition_by=["day"]
    )
    got = tab.read(spark, partition_filter={"day": "d2"})
    assert rows(got) == [(2, "b", "d2")]


def test_null_partition_value_roundtrip(spark, tab):
    tab.commit_overwrite(
        _df(spark, [(1, "a", None), (2, "b", "d1")]), partition_by=["day"]
    )
    assert rows(tab.read(spark)) == [(1, "a", None), (2, "b", "d1")]
    got = tab.read(spark, partition_filter={"day": None})
    assert rows(got) == [(1, "a", None)]


def test_concurrent_commit_race_rebases(spark, tab):
    """Loser of the version race must rebase, not clobber: simulate a
    concurrent writer by publishing a manifest between the loser's data
    write and its publish attempt."""
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))

    real_publish = tab._publish
    interloper = {"done": False}

    def racing_publish(manifest):
        if not interloper["done"]:
            interloper["done"] = True
            # the other writer wins version 1 first
            other = tab.clone()
            other.commit_append(_df(spark, [(7, "g", "d7")]))
        return real_publish(manifest)

    tab._publish = racing_publish
    try:
        v = tab.commit_append(_df(spark, [(2, "b", "d2")]))
    finally:
        tab._publish = real_publish
    assert v == 2  # rebased onto the interloper's version 1
    # NO lost update: both appends present
    assert rows(tab.read(spark)) == [(1, "a", "d1"), (2, "b", "d2"), (7, "g", "d7")]


def test_schema_survives_empty_and_column_order(spark, tab):
    df = _df(spark, [(1, "a", "d1")]).filter(F.lit(False))
    tab.commit_overwrite(df, partition_by=["day"])
    got = tab.read(spark)
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == ["id", "v", "day"]
    # committed dtypes pinned (partition col stays string, not inferred)
    assert dict((f.name, f.dataType.simpleString()) for f in got.schema.fields) == {
        "id": "int",
        "v": "string",
        "day": "string",
    }


def test_vacuum_retention_drops_old_versions(spark, tab):
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))
    tab.commit_overwrite(_df(spark, [(2, "b", "d2")]))
    tab.commit_overwrite(_df(spark, [(3, "c", "d3")]))
    removed = tab.vacuum(keep_versions=1, min_age_seconds=0)
    assert len(removed) == 2  # v0's and v1's txn dirs
    assert tab.versions() == [2]
    assert rows(tab.read(spark)) == [(3, "c", "d3")]
    with pytest.raises(FileNotFoundError):
        tab.read(spark, version=0)


def test_manifest_is_json_with_schema_and_files(spark, tab):
    """Raw log entries are DELTAS (round 7): add + remove spec, not a
    full snapshot; manifest() reconstructs the full file list."""
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]), partition_by=["day"])
    m = json.loads(tab.store.read_log(tab._version_name(0)))
    assert m["action"] == "overwrite"
    assert m["partition_by"] == ["day"]
    assert m["remove"] == {"kind": "all"}
    assert all(e["path"].startswith("data/txn=") for e in m["add"])
    assert all(e["partition"] == {"day": "d1"} for e in m["add"])
    # the reconstructed manifest still exposes the full-snapshot shape
    assert tab.manifest(0)["files"] == m["add"]


def test_history_reflects_commits(spark, tab):
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]), partition_by=["day"])
    tab.commit_append(_df(spark, [(2, "b", "d2")]), partition_by=["day"])
    h = {r.version: r for r in tab.history(spark).collect()}
    assert h[0].action == "overwrite" and h[0].parent is None
    assert h[1].action == "append" and h[1].parent == 0
    assert h[1].n_files > h[0].n_files  # append carries v0's files forward
    assert h[0].n_partition_cols == 1


def test_snapshot_diff_insert_update_delete(spark, tab):
    tab.commit_overwrite(_df(spark, [(1, "a", "d1"), (2, "b", "d2"), (3, "c", "d3")]))
    # v1: update id=2, delete id=3, insert id=4
    tab.commit_overwrite(_df(spark, [(1, "a", "d1"), (2, "B!", "d2"), (4, "d", "d4")]))
    diff = tab.snapshot_diff(spark, 0, 1, ["id"])
    got = {r.id: (r.change_type, r.v) for r in diff.collect()}
    assert got == {
        2: ("update_postimage", "B!"),
        3: ("delete", "c"),
        4: ("insert", "d"),
    }  # id=1 unchanged -> absent


def test_snapshot_diff_null_value_transitions(spark, tab):
    tab.commit_overwrite(_df(spark, [(1, None, "d1"), (2, "x", None)]))
    tab.commit_overwrite(_df(spark, [(1, None, "d1"), (2, "x", "now")]))
    diff = tab.snapshot_diff(spark, 0, 1, ["id"])
    got = {r.id: r.change_type for r in diff.collect()}
    # null==null must compare EQUAL (id=1 unchanged); null->value is update
    assert got == {2: "update_postimage"}


def test_schema_evolution_append_new_column(spark, tab):
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))
    wider = spark.createDataFrame(
        [(2, "b", "d2", 9.5)], "id int, v string, day string, score double"
    )
    tab.commit_append(wider)
    latest = tab.read(spark)
    assert [f.name for f in latest.schema.fields] == ["id", "v", "day", "score"]
    got = {r.id: r.score for r in latest.collect()}
    assert got[1] is None and got[2] == 9.5  # pre-evolution rows null-fill
    # time travel to v0 shows the OLD schema, no score column
    assert [f.name for f in tab.read(spark, version=0).schema.fields] == [
        "id", "v", "day",
    ]


def test_compact_folds_files_and_preserves_data(spark, tab):
    for k in range(4):  # many small commits -> many txn dirs
        tab.commit_append(_df(spark, [(k, f"v{k}", f"d{k % 2}")]), partition_by=["day"])
    n_before = len(tab.manifest(tab.latest_version())["files"])
    v = tab.compact(spark)
    m = tab.manifest(v)
    assert m["action"] == "compact"
    assert len(m["files"]) < n_before
    assert rows(tab.read(spark)) == [
        (0, "v0", "d0"), (1, "v1", "d1"), (2, "v2", "d0"), (3, "v3", "d1"),
    ]
    # compaction is a new version: pre-compaction snapshot still readable
    assert rows(tab.read(spark, version=v - 1)) == rows(tab.read(spark, version=v))


def test_file_stats_recorded_and_range_skipping(spark, tmp_path):
    """Manifest data skipping: per-file [min,max] from the parquet footers
    at commit time; a range_filter prunes files from the manifest alone."""
    tab = ManifestTable(str(tmp_path / "stats_tab"), stats_cols=["x"])
    df = spark.range(1000).selectExpr("id", "id AS x")
    # sorted by x + range partitioned -> each file covers a disjoint slice
    tab.commit_overwrite(df.repartitionByRange(8, "x").sortWithinPartitions("x"))
    m = tab.manifest(0)
    assert all("stats" in e and "x" in e["stats"] for e in m["files"])
    n_all = len(m["files"])
    assert n_all >= 4
    # a narrow range should hit ~1 file; count via the pruned file list
    pruned = tab.read(spark, range_filter={"x": (10, 20)})
    kept = [
        e for e in m["files"]
        if e["stats"]["x"][0] <= 20 and e["stats"]["x"][1] >= 10
    ]
    assert len(kept) < n_all
    # skipping is file-level: apply the row predicate on top for rows
    got = sorted(r.x for r in pruned.filter("x BETWEEN 10 AND 20").collect())
    assert got == list(range(10, 21))


def test_range_filter_keeps_files_without_stats(spark, tmp_path):
    tab = ManifestTable(str(tmp_path / "nostats_tab"))  # no stats_cols
    tab.commit_overwrite(spark.range(100).selectExpr("id", "id AS x"))
    # no stats recorded -> nothing can be skipped, everything is readable
    assert tab.read(spark, range_filter={"x": (0, 1)}).count() == 100


def test_optimize_zorder_enables_multidim_skipping(spark, tmp_path):
    """After OPTIMIZE ZORDER BY (x, y), a box predicate on EITHER column
    skips files; the pre-optimize row-major layout cannot skip on y."""
    tab = ManifestTable(str(tmp_path / "z_tab"), stats_cols=["x", "y"])
    df = spark.range(4096).selectExpr(
        "id", "CAST(id % 64 AS BIGINT) AS x", "CAST(id DIV 64 AS BIGINT) AS y"
    )
    # row-major arrival order: x cycles fast -> every file spans all of x
    tab.commit_overwrite(df.repartitionByRange(16, "id"))
    files_v0 = tab.manifest(0)["files"]
    x_skippable_v0 = [
        e for e in files_v0 if not (e["stats"]["x"][0] <= 5 and e["stats"]["x"][1] >= 0)
    ]
    assert len(x_skippable_v0) == 0  # x stats useless pre-optimize

    v = tab.optimize_zorder(spark, ["x", "y"], n_files=16, bits=6)
    m = tab.manifest(v)
    assert m["action"] == "optimize"
    files = m["files"]

    def surviving(col, lo, hi):
        return [
            e for e in files
            if e["stats"][col][0] <= hi and e["stats"][col][1] >= lo
        ]

    # both dimensions now skip: a narrow band on x OR y drops most files
    assert len(surviving("x", 0, 7)) < len(files)
    assert len(surviving("y", 0, 7)) < len(files)
    # correctness unchanged through the rewrite
    box = tab.read(spark, range_filter={"x": (0, 7), "y": (0, 7)}).filter(
        "x <= 7 AND y <= 7"
    )
    assert box.count() == 8 * 8
    assert tab.read(spark).count() == 4096


def test_many_concurrent_appenders_no_lost_updates(spark, tmp_path):
    """Commit-race stress: N threads append concurrently; the put-if-
    absent publish + rebase loop must serialize them with NO lost update
    and NO duplicate version."""
    import threading

    tab = ManifestTable(str(tmp_path / "race_tab"))
    tab.commit_overwrite(_df(spark, [(0, "base", "d0")]))
    errs = []

    def appender(k):
        try:
            tab.clone().commit_append(
                _df(spark, [(k, f"w{k}", "d1")])
            )
        except Exception as e:  # surface in the main thread
            errs.append(e)

    threads = [threading.Thread(target=appender, args=(k,)) for k in range(1, 9)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert tab.versions() == list(range(9))  # 0..8, gapless
    assert rows(tab.read(spark)) == [(0, "base", "d0")] + [
        (k, f"w{k}", "d1") for k in range(1, 9)
    ]


def test_string_and_date_stats_skipping(spark, tmp_path):
    """Footer stats work for strings and dates too (JSON-canonicalized);
    range_filter compares in the canonical domain."""
    tab = ManifestTable(str(tmp_path / "str_tab"), stats_cols=["name", "d"])
    df = spark.createDataFrame(
        [(f"{c}{i}", f"2024-0{m}-01") for m in (1, 2, 3) for c in "abcd" for i in range(3)],
        "name string, d string",
    ).selectExpr("name", "CAST(d AS DATE) AS d")
    tab.commit_overwrite(df.repartitionByRange(4, "name").sortWithinPartitions("name"))
    m = tab.manifest(0)
    assert all("name" in e["stats"] and "d" in e["stats"] for e in m["files"])
    kept = [
        e for e in m["files"]
        if e["stats"]["name"][0] <= "a~" and e["stats"]["name"][1] >= "a"
    ]
    assert 0 < len(kept) < len(m["files"])
    got = tab.read(spark, range_filter={"name": ("a", "a~")}).filter(
        "name LIKE 'a%'"
    )
    assert got.count() == 9


# --- review-r6 regression tests ------------------------------------------


def test_txn_column_name_reserved(spark, tmp_path):
    tab = ManifestTable(str(tmp_path / "resv_tab"))
    bad = spark.createDataFrame([(1, "x")], "id int, txn string")
    with pytest.raises(ValueError, match="reserved"):
        tab.commit_overwrite(bad)


def test_optimize_zorder_preserves_partition_metadata(spark, tmp_path):
    """review r6: OPTIMIZE used to commit unpartitioned, erasing partition
    metadata — a later partition_filter read silently returned 0 rows and
    the streaming sink's next replace_partitions double-counted."""
    tab = ManifestTable(str(tmp_path / "zpart_tab"))
    df = spark.createDataFrame(
        [(i, i % 10, i % 3, f"d{i % 2}") for i in range(100)],
        "id int, x int, y int, day string",
    )
    tab.commit_overwrite(df, partition_by=["day"])
    v = tab.optimize_zorder(spark, ["x", "y"], n_files=4, bits=4)
    m = tab.manifest(v)
    assert m["partition_by"] == ["day"]
    assert all(e["partition"].get("day") in ("d0", "d1") for e in m["files"])
    got = tab.read(spark, partition_filter={"day": "d1"})
    assert got.count() == 50
    # and replace_partitions after optimize still targets only its day
    tab.commit_replace_partitions(
        spark.createDataFrame([(999, 0, 0, "d1")], "id int, x int, y int, day string"),
        ["day"],
    )
    assert tab.read(spark).count() == 51  # 50 d0 rows + 1 new d1 row


def test_snapshot_diff_across_schema_evolution(spark, tmp_path):
    """review r6: diffing across an added column used to raise
    UNRESOLVED_COLUMN; the missing side must read as typed nulls."""
    tab = ManifestTable(str(tmp_path / "evo_diff_tab"))
    tab.commit_overwrite(_df(spark, [(1, "a", "d1"), (2, "b", "d2")]))
    wider = spark.createDataFrame(
        [(1, "a", "d1", None), (2, "b", "d2", 9.5), (3, "c", "d3", 1.0)],
        "id int, v string, day string, score double",
    )
    tab.commit_overwrite(wider)
    diff = tab.snapshot_diff(spark, 0, 1, ["id"])
    got = {r.id: (r.change_type, r.score) for r in diff.collect()}
    # id=1: score null on both sides -> unchanged; id=2: null->9.5 update
    assert got == {2: ("update_postimage", 9.5), 3: ("insert", 1.0)}


def test_snapshot_diff_preimage_single_join(spark, tab):
    """review r6: include_preimage must not re-run the full-outer join —
    the plan contains exactly ONE join (images come from one explode)."""
    tab.commit_overwrite(_df(spark, [(1, "a", "d1"), (2, "b", "d2")]))
    tab.commit_overwrite(_df(spark, [(1, "A", "d1"), (3, "c", "d3")]))
    diff = tab.snapshot_diff(spark, 0, 1, ["id"], include_preimage=True)
    got = sorted((r.id, r.change_type, r.v) for r in diff.collect())
    assert got == [
        (1, "update_postimage", "A"),
        (1, "update_preimage", "a"),
        (2, "delete", "b"),
        (3, "insert", "c"),
    ]
    # count joins in the FINAL plan only (after execution the AQE text
    # repeats the tree under "== Initial Plan ==")
    plan = diff._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    n_joins = sum(
        plan.count(j)
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )
    assert n_joins == 1, plan


# --- review-r6 second-pass regression tests -------------------------------


def test_mixed_partition_layout_commit_rejected(spark, tab):
    """review r6: commit_append with the default partition_by=None into a
    day-partitioned table used to COMMIT fine and brick every later read
    (CONFLICTING_PARTITION_COLUMN_NAMES)."""
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]), partition_by=["day"])
    with pytest.raises(ValueError, match="partition layouts"):
        tab.commit_append(_df(spark, [(2, "b", "d2")]))  # forgot partition_by
    # table NOT bricked: latest still readable, correct spec still works
    assert rows(tab.read(spark)) == [(1, "a", "d1")]
    tab.commit_append(_df(spark, [(2, "b", "d2")]), partition_by=["day"])
    assert rows(tab.read(spark)) == [(1, "a", "d1"), (2, "b", "d2")]


def test_partition_filter_unknown_key_raises(spark, tab):
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]), partition_by=["day"])
    with pytest.raises(ValueError, match="dya"):
        tab.read(spark, partition_filter={"dya": "d1"})


def test_partition_filter_boolean_value(spark, tmp_path):
    """review r6: str(True) is 'True' but Spark writes flag=true — the
    filter used to silently return 0 rows."""
    tab = ManifestTable(str(tmp_path / "bool_tab"))
    df = spark.createDataFrame([(1, True), (2, False)], "id int, flag boolean")
    tab.commit_overwrite(df, partition_by=["flag"])
    got = tab.read(spark, partition_filter={"flag": True})
    assert [r.id for r in got.collect()] == [1]


def test_range_filter_accepts_native_dates(spark, tmp_path):
    """review r6: a datetime.date bound against the ISO-string stats used
    to raise TypeError."""
    import datetime as dt

    tab = ManifestTable(str(tmp_path / "date_tab"), stats_cols=["d"])
    df = spark.createDataFrame(
        [(i, f"2024-{m:02d}-15") for i, m in enumerate([1, 2, 3, 4])],
        "id int, d string",
    ).selectExpr("id", "CAST(d AS DATE) AS d")
    tab.commit_overwrite(df.repartitionByRange(4, "d").sortWithinPartitions("d"))
    got = tab.read(
        spark,
        range_filter={"d": (dt.date(2024, 2, 1), dt.date(2024, 3, 31))},
    ).filter("d BETWEEN DATE '2024-02-01' AND DATE '2024-03-31'")
    assert sorted(r.id for r in got.collect()) == [1, 2]


def test_compact_on_partitioned_table_reduces_files(spark, tmp_path):
    """review r6: compact() used plain repartition(n), which scattered
    every partition's rows across all tasks — partitionBy then wrote up
    to n x values files, MULTIPLYING small files."""
    tab = ManifestTable(str(tmp_path / "cmp_tab"))
    for k in range(6):  # 6 commits x 3 days -> many small files
        df = spark.createDataFrame(
            [(k * 10 + d, f"v{k}", f"d{d}") for d in range(3)],
            "id int, v string, day string",
        )
        tab.commit_append(df, partition_by=["day"])
    n_before = len(tab.manifest(tab.latest_version())["files"])
    v = tab.compact(spark)
    n_after = len(tab.manifest(v)["files"])
    assert n_after < n_before
    assert n_after <= 3  # ~one file per day partition
    assert tab.read(spark).count() == 18


def test_maintenance_on_empty_table_raises_cleanly(spark, tmp_path):
    tab = ManifestTable(str(tmp_path / "void_tab"))
    with pytest.raises(FileNotFoundError):
        tab.compact(spark)
    with pytest.raises(FileNotFoundError):
        tab.optimize_zorder(spark, ["x"], n_files=2)


def test_merge_into_and_changes_since(spark, tab):
    """The MERGE INTO + incremental-consumer sugar: merge commits a new
    version; changes_since(last_processed) hands a consumer exactly the
    net change rows."""
    tab.commit_overwrite(_df(spark, [(1, "a", "d1"), (2, "b", "d2")]))
    v = tab.merge_into(
        spark, _df(spark, [(2, "B!", "d2"), (3, "c", "d3")]), ["id"]
    )
    assert v == 1
    assert rows(tab.read(spark)) == [(1, "a", "d1"), (2, "B!", "d2"), (3, "c", "d3")]
    assert rows(tab.read(spark, version=0)) == [(1, "a", "d1"), (2, "b", "d2")]
    changes = tab.changes_since(spark, 0, ["id"])
    got = {r.id: (r.change_type, r.v) for r in changes.collect()}
    assert got == {2: ("update_postimage", "B!"), 3: ("insert", "c")}
    # composite keys (round 8): (id, day) both match -> update; a row
    # matching only one key component inserts
    tab.merge_into(
        spark, _df(spark, [(2, "B2", "d2"), (2, "other-day", "d9")]), ["id", "day"]
    )
    got = rows(tab.read(spark))
    assert (2, "B2", "d2") in got and (2, "other-day", "d9") in got
    with pytest.raises(ValueError, match="at least one key"):
        tab.merge_into(spark, _df(spark, [(9, "z", "d9")]), [])


# --- round-7: write-write conflict detection (VERDICT r6 item 1a) ----------


from data_lakes_tp2_student_spark.io.manifest import ConcurrentWriteConflict


def _race(tab, other_commit):
    """Make `other_commit` (called with a fresh ManifestTable on the same
    root) land between `tab`'s data write and its first publish attempt —
    the interception pattern of test_concurrent_commit_race_rebases."""
    real_publish = tab._publish
    fired = {"done": False}

    def racing_publish(entry):
        if not fired["done"]:
            fired["done"] = True
            other_commit(tab.clone())
        return real_publish(entry)

    tab._publish = racing_publish
    return real_publish


def test_replace_same_partition_race_aborts(spark, tab):
    """THE r6 gap: two replace_partitions on the SAME partition — the old
    rebase silently dropped the winner's files (last-writer-wins). Now
    the loser must ABORT, and the winner's data must survive."""
    tab.commit_overwrite(
        _df(spark, [(1, "a", "d1"), (2, "b", "d2")]), partition_by=["day"]
    )
    real = _race(
        tab,
        lambda other: other.commit_replace_partitions(
            _df(spark, [(70, "winner", "d2")]), ["day"]
        ),
    )
    try:
        with pytest.raises(ConcurrentWriteConflict, match="partition"):
            tab.commit_replace_partitions(
                _df(spark, [(80, "loser", "d2")]), ["day"]
            )
    finally:
        tab._publish = real
    # winner's commit is intact; loser left no visible state
    assert rows(tab.read(spark)) == [(1, "a", "d1"), (70, "winner", "d2")]


def test_replace_disjoint_partitions_race_both_land(spark, tab):
    tab.commit_overwrite(
        _df(spark, [(1, "a", "d1"), (2, "b", "d2"), (3, "c", "d3")]),
        partition_by=["day"],
    )
    real = _race(
        tab,
        lambda other: other.commit_replace_partitions(
            _df(spark, [(70, "w", "d3")]), ["day"]
        ),
    )
    try:
        v = tab.commit_replace_partitions(_df(spark, [(80, "l", "d2")]), ["day"])
    finally:
        tab._publish = real
    assert v == 2  # rebased, not aborted
    assert rows(tab.read(spark)) == [(1, "a", "d1"), (70, "w", "d3"), (80, "l", "d2")]


def test_replace_aborts_when_concurrent_append_touches_partition(spark, tab):
    """Delta's ConcurrentAppendException: an append into a partition this
    replace is rewriting means the replace's output no longer reflects
    the table — rebasing would silently delete the appended rows."""
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]), partition_by=["day"])
    real = _race(
        tab,
        lambda other: other.commit_append(
            _df(spark, [(9, "new", "d1")]), partition_by=["day"]
        ),
    )
    try:
        with pytest.raises(ConcurrentWriteConflict, match="d1"):
            tab.commit_replace_partitions(_df(spark, [(5, "r", "d1")]), ["day"])
    finally:
        tab._publish = real
    assert rows(tab.read(spark)) == [(1, "a", "d1"), (9, "new", "d1")]


def test_overwrite_racing_anything_aborts(spark, tab):
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))
    real = _race(
        tab, lambda other: other.commit_append(_df(spark, [(2, "b", "d2")]))
    )
    try:
        with pytest.raises(ConcurrentWriteConflict, match="overwrite"):
            tab.commit_overwrite(_df(spark, [(9, "z", "d9")]))
    finally:
        tab._publish = real
    assert rows(tab.read(spark)) == [(1, "a", "d1"), (2, "b", "d2")]


def test_compact_racing_commit_aborts_not_clobbers(spark, tab):
    """review r6 docstring admitted compact would CLOBBER a racing
    commit; now it aborts and the racing commit survives."""
    for k in range(3):
        tab.commit_append(_df(spark, [(k, f"v{k}", "d1")]))
    real = _race(
        tab, lambda other: other.commit_append(_df(spark, [(99, "racer", "d1")]))
    )
    try:
        with pytest.raises(ConcurrentWriteConflict):
            tab.compact(spark)
    finally:
        tab._publish = real
    assert (99, "racer", "d1") in rows(tab.read(spark))
    # compaction succeeds when re-run without a racer
    tab.compact(spark)
    assert (99, "racer", "d1") in rows(tab.read(spark))


def test_append_racing_overwrite_rebases(spark, tab):
    """Blind appends never conflict (Delta semantics): an append racing
    an overwrite lands ON TOP of the overwrite."""
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))
    real = _race(
        tab, lambda other: other.commit_overwrite(_df(spark, [(5, "ow", "d5")]))
    )
    try:
        v = tab.commit_append(_df(spark, [(2, "b", "d2")]))
    finally:
        tab._publish = real
    assert v == 2
    assert rows(tab.read(spark)) == [(2, "b", "d2"), (5, "ow", "d5")]


def test_aborted_commit_txn_dir_is_vacuumable_orphan(spark, tab):
    tab.commit_overwrite(_df(spark, [(1, "a", "d1"), (2, "b", "d2")]), partition_by=["day"])
    real = _race(
        tab,
        lambda other: other.commit_replace_partitions(
            _df(spark, [(70, "w", "d1")]), ["day"]
        ),
    )
    try:
        with pytest.raises(ConcurrentWriteConflict):
            tab.commit_replace_partitions(_df(spark, [(80, "l", "d1")]), ["day"])
    finally:
        tab._publish = real
    n_txn = len(tab.store.list_txn_dirs())
    removed = tab.vacuum(keep_versions=10, min_age_seconds=0)
    assert len(removed) == 1  # exactly the aborted commit's orphan
    assert len(tab.store.list_txn_dirs()) == n_txn - 1
    assert rows(tab.read(spark)) == [(2, "b", "d2"), (70, "w", "d1")]


# --- round-7: incremental delta log + checkpoints (VERDICT r6 item 1b) -----


def test_log_entries_are_deltas_commit_cost_o_delta(spark, tmp_path):
    """The r6 layer wrote O(table files) per commit (docstring admitted a
    ~10^5-file ceiling); entries are now O(Δfiles): a 1-partition append
    onto a table with many files records only its own files."""
    tab = ManifestTable(str(tmp_path / "delta_tab"), checkpoint_interval=5)
    wide = spark.createDataFrame(
        [(i, f"v{i}", f"d{i}") for i in range(12)], "id int, v string, day string"
    )
    tab.commit_overwrite(wide, partition_by=["day"])  # 12 partitions
    n_table_files = len(tab.manifest(0)["files"])
    assert n_table_files >= 12
    tab.commit_append(_df(spark, [(99, "x", "d0")]), partition_by=["day"])
    e = json.loads(tab.store.read_log(tab._version_name(1)))
    assert "files" not in e  # delta format, not full snapshot
    assert len(e["add"]) < n_table_files  # O(Δ), not O(table)
    assert e["remove"] == {"kind": "none"}
    # replace entry records touched partition VALUES, not parent files
    tab.commit_replace_partitions(_df(spark, [(50, "r", "d3")]), ["day"])
    e2 = json.loads(tab.store.read_log(tab._version_name(2)))
    assert e2["remove"]["kind"] == "partitions"
    assert e2["remove"]["values"] == [[["day", "d3"]]]
    assert rows(tab.read(spark)) == sorted(
        [(i, f"v{i}", f"d{i}") for i in range(12) if i != 3]
        + [(99, "x", "d0"), (50, "r", "d3")]
    )


def test_checkpoint_written_at_interval_and_used(spark, tmp_path):
    tab = ManifestTable(str(tmp_path / "ckpt_tab"), checkpoint_interval=3)
    for k in range(8):
        tab.commit_append(_df(spark, [(k, f"v{k}", "d1")]))
    assert tab.checkpoints() == [3, 6]
    ck = tab._read_checkpoint_body(6)
    assert len(ck["files"]) == len(tab.manifest(6)["files"])
    # reconstruction equals naive full replay at every version
    for v in tab.versions():
        naive: list = []
        for u in range(v + 1):
            naive = ManifestTable._apply(tab._raw(u), naive)
        assert {e["path"] for e in tab.manifest(v)["files"]} == {
            e["path"] for e in naive
        }, f"version {v}"
    assert rows(tab.read(spark)) == [(k, f"v{k}", "d1") for k in range(8)]


def test_vacuum_checkpoints_oldest_kept_version(spark, tmp_path):
    """Vacuum drops old log entries; retained versions must stay
    readable via the checkpoint it writes at the oldest kept version."""
    tab = ManifestTable(str(tmp_path / "vck_tab"), checkpoint_interval=100)
    for k in range(6):
        tab.commit_append(_df(spark, [(k, f"v{k}", "d1")]))
    assert tab.checkpoints() == []  # interval never hit
    tab.vacuum(keep_versions=2, min_age_seconds=0)
    assert tab.versions() == [4, 5]
    assert tab.checkpoints() == [4]
    assert rows(tab.read(spark, version=4)) == [(k, f"v{k}", "d1") for k in range(5)]
    assert rows(tab.read(spark, version=5)) == [(k, f"v{k}", "d1") for k in range(6)]
    with pytest.raises(FileNotFoundError):
        tab.read(spark, version=3)
    # and the table keeps working after the log truncation
    tab.commit_append(_df(spark, [(99, "post", "d1")]))
    assert (99, "post", "d1") in rows(tab.read(spark))


def test_commit_refuses_file_entry_without_rows_or_bytes(spark, tab):
    """One log format: every committed file entry records `path`,
    `partition`, `bytes` and `rows`, and readers use them with no
    fallback — so `_commit_files` refuses an entry missing one before
    anything is published."""
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))
    df = _df(spark, [(2, "b", "d2")])
    for key in ("rows", "bytes"):
        txn, files = tab._write_txn(df, None)
        del files[0][key]
        with pytest.raises(ValueError, match=f"lack \\['{key}'\\]"):
            tab._commit_files(
                spark, txn, files, df.schema.json(), None, "append", "none",
                0, {},
            )
        assert tab.latest_version() == 0
    assert rows(tab.read(spark)) == [(1, "a", "d1")]


def test_entries_log_table_schema_and_no_commit_schema(spark, tab):
    """Every commit kind logs the cumulative `table_schema` and no
    per-commit `schema` key (no reader reads one)."""
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))
    tab.commit_append(_df(spark, [(2, "b", "d2")]))
    tab.add_check_constraint(spark, "pos", "id > 0")
    tab.delete_where(spark, "id = 2", mode="dv")
    tab.restore(0)
    for v in tab.versions():
        e = tab._raw(v)
        assert "table_schema" in e and "schema" not in e, (v, sorted(e))
    assert rows(tab.read(spark)) == [(1, "a", "d1")]


# --- round-7: schema compatibility at commit time (ADVICE r6) --------------


def test_incompatible_shared_column_type_fails_at_commit(spark, tab):
    """An append whose shared column changed type used to COMMIT fine and
    then throw on every later read inside the mergeSchema scan; it must
    fail AT COMMIT and leave the table readable."""
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))
    bad = spark.createDataFrame(
        [("one", "b", "d2")], "id string, v string, day string"  # id: int->string
    )
    with pytest.raises(ValueError, match="incompatible schema change"):
        tab.commit_append(bad)
    assert rows(tab.read(spark)) == [(1, "a", "d1")]
    # overwrite MAY change the type (no parent files retained)
    tab.commit_overwrite(bad)
    assert [r.id for r in tab.read(spark).collect()] == ["one"]


def test_replace_partitions_also_schema_checked(spark, tab):
    tab.commit_overwrite(
        _df(spark, [(1, "a", "d1"), (2, "b", "d2")]), partition_by=["day"]
    )
    bad = spark.createDataFrame(
        [(1.5, "x", "d1")], "id double, v string, day string"
    )
    with pytest.raises(ValueError, match="incompatible schema change"):
        tab.commit_replace_partitions(bad, ["day"])
    assert rows(tab.read(spark)) == [(1, "a", "d1"), (2, "b", "d2")]


def test_object_store_root_rejected():
    """ADVICE r6: with a bare s3a:// root (no explicit LogStore), Spark
    would write data to S3 while the default local store's os.walk finds
    nothing — every commit would publish an EMPTY file list (silent data
    loss). Reject at init and point at S3LogStore (round 8)."""
    with pytest.raises(ValueError, match="S3LogStore"):
        ManifestTable("s3a://bucket/table")


# --- round-7: vacuum-vs-reader safety contract (VERDICT r6 item 6) ---------


def test_reader_within_retention_survives_vacuum(spark, tab):
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))
    tab.commit_overwrite(_df(spark, [(2, "b", "d2")]))
    pinned = tab.read(spark, version=1)  # resolves its file list now
    tab.commit_overwrite(_df(spark, [(3, "c", "d3")]))
    tab.vacuum(keep_versions=2, min_age_seconds=0)  # keeps v1, v2
    assert rows(pinned) == [(2, "b", "d2")]  # reader unharmed


def test_reader_outside_retention_fails_loud_after_vacuum(spark, tab):
    """The documented UNSAFE case: retention shorter than a reader's
    lifetime. The reader's files are deleted under it — the failure is a
    loud missing-file error, never a silent wrong answer."""
    from py4j.protocol import Py4JJavaError

    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))
    pinned = tab.read(spark, version=0)
    tab.commit_overwrite(_df(spark, [(2, "b", "d2")]))
    tab.vacuum(keep_versions=1, min_age_seconds=0)  # deletes v0's files
    with pytest.raises(Py4JJavaError):
        pinned.collect()


def test_schema_check_covers_transitively_retained_files(spark, tab):
    """Review r7 wave 1: the compat check must compare against the
    CUMULATIVE table schema — a column added in v0, omitted by the v1
    append, then re-added with a different type in v2 still lives in
    v0's retained files and would brick the mergeSchema read."""
    wide = spark.createDataFrame(
        [(1, "a", "d1", 9.5)], "id int, v string, day string, score double"
    )
    tab.commit_overwrite(wide)
    tab.commit_append(_df(spark, [(2, "b", "d2")]))  # no score column — ok
    clash = spark.createDataFrame(
        [(3, "c", "d3", 7)], "id int, v string, day string, score int"
    )
    with pytest.raises(ValueError, match="incompatible schema change"):
        tab.commit_append(clash)
    # same type re-added is fine, and the full evolution chain reads back
    ok = spark.createDataFrame(
        [(3, "c", "d3", 7.0)], "id int, v string, day string, score double"
    )
    tab.commit_append(ok)
    got = {r.id: r.score for r in tab.read(spark).collect()}
    assert got == {1: 9.5, 2: None, 3: 7.0}


def test_restore_is_metadata_only_rollback(spark, tab):
    """RESTORE republishes an old snapshot as the new latest without
    touching data files; rolled-over versions still time-travel and the
    restored files stay vacuum-live (referenced by the new head)."""
    tab.commit_overwrite(_df(spark, [(1, "good", "d1")]))
    n_txn_before = len(tab.store.list_txn_dirs())
    tab.commit_overwrite(_df(spark, [(2, "bad", "d2")]))
    v = tab.restore(0)
    assert v == 2
    # no new data files written: metadata-only
    assert len(tab.store.list_txn_dirs()) == n_txn_before + 1
    assert rows(tab.read(spark)) == [(1, "good", "d1")]
    assert rows(tab.read(spark, version=1)) == [(2, "bad", "d2")]  # still travels
    e = json.loads(tab.store.read_log(tab._version_name(2)))
    assert e["action"] == "restore" and e["restored_version"] == 0
    # vacuum keeps v0's files alive (the restored head references them),
    # drops the bad version's
    removed = tab.vacuum(keep_versions=1, min_age_seconds=0)
    assert len(removed) == 1
    assert rows(tab.read(spark)) == [(1, "good", "d1")]


def test_restore_racing_commit_aborts(spark, tab):
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))
    tab.commit_overwrite(_df(spark, [(2, "b", "d2")]))
    real = _race(
        tab, lambda other: other.commit_append(_df(spark, [(3, "c", "d3")]))
    )
    try:
        with pytest.raises(ConcurrentWriteConflict):
            tab.restore(0)
    finally:
        tab._publish = real
    assert rows(tab.read(spark)) == [(2, "b", "d2"), (3, "c", "d3")]


def test_checkpoint_interval_zero_disables_periodic_checkpoints(spark, tmp_path):
    """interval=0 (used to isolate entry cost in the PERF.md #35
    measurement) must disable periodic checkpoints without breaking
    replay — and vacuum still writes its truncation checkpoint."""
    tab = ManifestTable(str(tmp_path / "noint_tab"), checkpoint_interval=0)
    for k in range(12):
        tab.commit_append(_df(spark, [(k, f"v{k}", "d1")]))
    assert tab.checkpoints() == []
    assert tab.read(spark).count() == 12  # full replay from v0
    tab.vacuum(keep_versions=3, min_age_seconds=0)
    assert tab.checkpoints() == [9]
    assert tab.read(spark).count() == 12


def test_version_at_timestamp_time_travel(spark, tab):
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))
    t0 = tab._raw(0)["committed_at"]
    tab.commit_overwrite(_df(spark, [(2, "b", "d2")]))
    t1 = tab._raw(1)["committed_at"]
    assert tab.version_at(t0) == 0
    assert tab.version_at((t0 + t1) / 2) == 0
    assert tab.version_at(t1) == 1
    assert tab.version_at(t1 + 1e6) == 1  # future timestamp -> latest
    with pytest.raises(FileNotFoundError):
        tab.version_at(t0 - 10.0)  # predates the table
    assert rows(tab.read(spark, version=tab.version_at(t0))) == [(1, "a", "d1")]


def test_replace_partitions_with_null_and_nonnull_values(spark, tab):
    """Review r7 wave 3: sorting the touched-partition set for the log
    entry compared None against str and raised TypeError when a replace
    touched the NULL partition alongside a non-null one."""
    tab.commit_overwrite(
        _df(spark, [(1, "a", "d1"), (2, "b", None), (3, "c", "d3")]),
        partition_by=["day"],
    )
    tab.commit_replace_partitions(
        _df(spark, [(10, "r1", "d1"), (20, "rN", None)]), ["day"]
    )
    assert rows(tab.read(spark)) == [(3, "c", "d3"), (10, "r1", "d1"), (20, "rN", None)]
    # idempotent replay + the null partition prunes correctly
    got = tab.read(spark, partition_filter={"day": None})
    assert rows(got) == [(20, "rN", None)]
    # and the conflict path formats/detects null partitions too
    real = _race(
        tab,
        lambda other: other.commit_replace_partitions(
            _df(spark, [(30, "w", None)]), ["day"]
        ),
    )
    try:
        with pytest.raises(ConcurrentWriteConflict):
            tab.commit_replace_partitions(_df(spark, [(40, "l", None)]), ["day"])
    finally:
        tab._publish = real
    assert (30, "w", None) in rows(tab.read(spark))


def test_threaded_replace_storm_serializes_or_aborts(spark, tmp_path):
    """Real-thread stress for the conflict path: N writers replace
    partitions concurrently. Every writer must either commit or abort
    with ConcurrentWriteConflict (nothing else), versions stay gapless,
    and each partition's final content is exactly ONE writer's batch —
    never a mix, never a silently dropped commit."""
    import threading

    tab = ManifestTable(str(tmp_path / "storm_tab"))
    tab.commit_overwrite(
        _df(spark, [(0, "base", "d0"), (1, "base", "d1")]), partition_by=["day"]
    )
    outcomes: dict[int, str] = {}
    errs = []

    def writer(k):
        day = f"d{k % 2}"
        try:
            tab.clone().commit_replace_partitions(
                _df(spark, [(100 + k, f"w{k}", day)]), ["day"]
            )
            outcomes[k] = "committed"
        except ConcurrentWriteConflict:
            outcomes[k] = "aborted"
        except Exception as e:  # anything else is a bug
            errs.append((k, e))

    threads = [threading.Thread(target=writer, args=(k,)) for k in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    n_committed = sum(1 for v in outcomes.values() if v == "committed")
    assert n_committed >= 1  # at least one writer must win
    assert tab.versions() == list(range(n_committed + 1))  # gapless
    final = {}
    for r in tab.read(spark).collect():
        final.setdefault(r.day, []).append((r.id, r.v))
    for day, rows_ in final.items():
        assert len(rows_) == 1, (day, rows_)  # exactly one batch per day
        rid, rv = rows_[0]
        if rid != 0:  # replaced by some committed writer
            k = rid - 100
            assert outcomes[k] == "committed" and rv == f"w{k}"
    # every committed writer's partition shows SOME committed writer's
    # batch (a later committed writer may have replaced it — but never an
    # aborted one's, and never the pre-storm base if anyone won that day)
    for k, out in outcomes.items():
        if out == "committed":
            day = f"d{k % 2}"
            rid = final[day][0][0]
            # the day a committed writer touched can no longer show the
            # pre-storm base row, and whatever it shows came from a
            # writer that reported success
            assert rid != 0, f"{day} shows the base row though writer {k} committed"
            assert outcomes[rid - 100] == "committed"


def test_partition_and_range_filter_compose(spark, tmp_path):
    """partition_filter and range_filter must prune INDEPENDENTLY and
    compose: files survive only if they match the partition AND overlap
    the stats range."""
    tab = ManifestTable(str(tmp_path / "combo_tab"), stats_cols=["x"])
    df = spark.createDataFrame(
        [(i, i, f"d{i % 2}") for i in range(200)], "id int, x int, day string"
    )
    tab.commit_overwrite(
        df.repartitionByRange(4, "x").sortWithinPartitions("x"),
        partition_by=["day"],
    )
    got = tab.read(
        spark,
        partition_filter={"day": "d1"},
        range_filter={"x": (0, 40)},
    ).filter("x <= 40")
    assert sorted(r.x for r in got.collect()) == list(range(1, 41, 2))
    m = tab.manifest(0)
    kept = [
        e for e in m["files"]
        if e["partition"]["day"] == "d1"
        and e["stats"]["x"][0] <= 40 and e["stats"]["x"][1] >= 0
    ]
    assert 0 < len(kept) < len(m["files"])  # both prunes really fired


# ---------- round 8: ADVICE r7 regression tests ----------


def test_compact_racing_commit_before_commit_entry_aborts(spark, tab):
    """ADVICE r7 (medium): the racer lands between compact's snapshot
    read and _commit ENTRY — before the old code captured its conflict
    base, so parent == base and the gate never ran, silently clobbering
    the racer. compact must thread its pinned snapshot version into
    _commit as the base."""
    for k in range(3):
        tab.commit_append(_df(spark, [(k, f"v{k}", "d1")]))
    real_commit = tab._commit

    def racing_commit(df, partition_by, action, remove_kind, **kw):
        tab.clone().commit_append(
            _df(spark, [(99, "racer", "d1")])
        )
        return real_commit(df, partition_by, action, remove_kind, **kw)

    tab._commit = racing_commit
    try:
        with pytest.raises(ConcurrentWriteConflict):
            tab.compact(spark)
    finally:
        tab._commit = real_commit
    assert (99, "racer", "d1") in rows(tab.read(spark))


def test_merge_into_racing_commit_before_commit_entry_aborts(spark, tab):
    """Same window as compact's, through merge_into."""
    tab.commit_overwrite(_df(spark, [(1, "a", "d1"), (2, "b", "d2")]))
    real_commit = tab._commit

    def racing_commit(df, partition_by, action, remove_kind, **kw):
        tab.clone().commit_append(
            _df(spark, [(99, "racer", "d1")])
        )
        return real_commit(df, partition_by, action, remove_kind, **kw)

    tab._commit = racing_commit
    try:
        with pytest.raises(ConcurrentWriteConflict):
            tab.merge_into(spark, _df(spark, [(1, "A2", "d1")]), ["id"])
    finally:
        tab._commit = real_commit
    assert (99, "racer", "d1") in rows(tab.read(spark))


def test_restore_racing_commit_during_snapshot_read_aborts(spark, tab):
    """ADVICE r7: restore's window between _snapshot_files and its base
    capture — the base must be pinned BEFORE the snapshot read."""
    v0 = tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))
    tab.commit_append(_df(spark, [(2, "b", "d2")]))
    real = tab._snapshot_files

    def racing(version):
        out = real(version)
        tab.clone().commit_append(
            _df(spark, [(99, "racer", "d1")])
        )
        return out

    tab._snapshot_files = racing
    try:
        with pytest.raises(ConcurrentWriteConflict):
            tab.restore(v0)
    finally:
        tab._snapshot_files = real
    assert (99, "racer", "d1") in rows(tab.read(spark))


def test_append_omitting_column_does_not_drop_it(spark, tab):
    """ADVICE r7: an append whose DataFrame omits an existing column is
    legal (compat checks shared-column TYPES only) — but read() used to
    project to the COMMIT schema, silently dropping the column every
    retained file still carries. read() now projects to the cumulative
    table schema."""
    wide = spark.createDataFrame(
        [(1, "a", "d1", 9.5)], "id int, v string, day string, score double"
    )
    tab.commit_overwrite(wide)
    tab.commit_append(_df(spark, [(2, "b", "d2")]))  # no score column
    latest = tab.read(spark)
    assert [f.name for f in latest.schema.fields] == ["id", "v", "day", "score"]
    got = {r.id: r.score for r in latest.collect()}
    assert got[1] == 9.5  # retained file's column survives the append
    assert got[2] is None  # appended rows null-fill


def test_table_schema_column_no_file_carries_null_fills(spark, tmp_path):
    """Edge of the table-schema read: a column added in a partition later
    fully replaced WITHOUT it — no retained file carries it, but it is
    still part of the table contract, so read() null-fills instead of
    throwing column-not-found."""
    tab = ManifestTable(str(tmp_path / "tab_ghost_col"))
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]), partition_by=["day"])
    wide = spark.createDataFrame(
        [(2, "b", "d1", 9.5)], "id int, v string, day string, score double"
    )
    tab.commit_append(wide, partition_by=["day"])
    tab.commit_replace_partitions(_df(spark, [(3, "c", "d1")]), ["day"])
    latest = tab.read(spark)
    assert [f.name for f in latest.schema.fields] == ["id", "v", "day", "score"]
    assert [(r.id, r.score) for r in latest.orderBy("id").collect()] == [(3, None)]


def test_checkpoint_failure_leaves_no_temp_file(spark, tmp_path, monkeypatch):
    """ADVICE r7: a failed checkpoint write (ENOSPC on os.replace) must
    not leak its mkstemp temp into _manifest/ — vacuum never removes
    non-v* names, so a leaked temp would live forever. Local backend
    only: the S3 store's checkpoint put has no local temp at all."""
    import data_lakes_tp2_student_spark.io.logstore as lsmod

    tab = ManifestTable(str(tmp_path / "ckpt_leak_tab"))
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))

    def boom(src, dst):
        raise OSError("disk full")

    monkeypatch.setattr(lsmod.os, "replace", boom)
    try:
        with pytest.raises(OSError):
            tab._write_checkpoint(0)
    finally:
        monkeypatch.undo()
    stray = [n for n in os.listdir(tab.log_dir) if not n.startswith("v")]
    assert stray == []


# ---------- round 8: S3-backend-specific hardening ----------


def test_s3_concurrent_appenders_threaded_storm(spark, tmp_path, moto_endpoint):
    """The conditional-put primitive under REAL thread concurrency (not
    the interception harness): N threads append through independent
    S3LogStore handles against one moto server; the 412-loser rebase
    loop must serialize them gaplessly with no lost update."""
    import threading
    import uuid as _uuid

    from data_lakes_tp2_student_spark.io.logstore import S3LogStore

    prefix = f"storm-{_uuid.uuid4().hex[:10]}"
    store = S3LogStore(
        "lake", prefix, endpoint=moto_endpoint,
        cache_dir=str(tmp_path / "cache0"),
    )
    try:
        store.client.create_bucket(Bucket="lake")
    except store.client.exceptions.ClientError:
        pass
    tab = ManifestTable(f"s3://lake/{prefix}", log_store=store)
    tab.commit_overwrite(_df(spark, [(0, "base", "d0")]))
    errs = []

    def appender(k):
        try:
            tab.clone().commit_append(_df(spark, [(k, f"w{k}", "d1")]))
        except Exception as e:
            errs.append(e)

    threads = [threading.Thread(target=appender, args=(k,)) for k in range(1, 7)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert tab.versions() == list(range(7))  # gapless: no clobbered version
    assert rows(tab.read(spark)) == [(0, "base", "d0")] + [
        (k, f"w{k}", "d1") for k in range(1, 7)
    ]


def test_s3_delete_txn_dir_batches_over_1000_keys(tmp_path, moto_endpoint):
    """DeleteObjects caps at 1000 keys per request — a txn dir with more
    objects must be removed in batches, completely."""
    import uuid as _uuid

    from data_lakes_tp2_student_spark.io.logstore import S3LogStore

    prefix = f"bigdel-{_uuid.uuid4().hex[:10]}"
    store = S3LogStore(
        "lake", prefix, endpoint=moto_endpoint,
        cache_dir=str(tmp_path / "cache"),
    )
    try:
        store.client.create_bucket(Bucket="lake")
    except store.client.exceptions.ClientError:
        pass
    for k in range(1203):
        store.client.put_object(
            Bucket="lake",
            Key=f"{prefix}/data/txn=big/part-{k:05d}.parquet",
            Body=b"x",
        )
    assert store.list_txn_dirs() == ["txn=big"]
    store.delete_txn_dir("txn=big")
    assert store.list_txn_dirs() == []
    assert store._list_keys(f"{prefix}/data/") == []


# ---------- round 8: row-level DELETE/UPDATE (copy-on-write) ----------


def test_delete_where_rewrites_only_matching_files(spark, tab):
    tab.commit_overwrite(
        _df(spark, [(i, f"v{i}", f"d{i % 3}") for i in range(12)]),
        partition_by=["day"],
    )
    before = {e["path"] for e in tab.manifest(0)["files"]}
    v = tab.delete_where(spark, "day = 'd1' and id >= 7")
    assert v == 1
    assert sorted(r.id for r in tab.read(spark).collect()) == [
        0, 1, 2, 3, 4, 5, 6, 8, 9, 11,
    ]
    after = {e["path"] for e in tab.manifest(v)["files"]}
    # copy-on-write selectivity: every file WITHOUT a match carries over
    # BY REFERENCE (identical manifest path — no rewrite, no re-upload)
    untouched = before & after
    assert len(untouched) >= len(before) - 2  # only the 2 hit files moved
    # time travel: the pre-delete snapshot is intact
    assert tab.read(spark, version=0).count() == 12
    # the log entry is a files-delta, not a table rewrite
    e = json.loads(tab.store.read_log(tab._version_name(v)))
    assert e["action"] == "delete" and e["remove"]["kind"] == "files"
    assert set(e["remove"]["values"]) == before - after


def test_delete_where_null_predicate_rows_survive(spark, tab):
    tab.commit_overwrite(_df(spark, [(1, "a", None), (2, "b", "d1")]))
    tab.delete_where(spark, "day = 'd1'")  # NULL day: predicate NULL, keeps
    assert rows(tab.read(spark)) == [(1, "a", None)]


def test_delete_where_no_match_is_noop(spark, tab):
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))
    v = tab.delete_where(spark, "id = 999")
    assert v == 0 and tab.versions() == [0]  # no empty commit


def test_update_where_applies_set_only_to_matched(spark, tab):
    tab.commit_overwrite(
        _df(spark, [(i, f"v{i}", f"d{i % 2}") for i in range(6)]),
        partition_by=["day"],
    )
    v = tab.update_where(
        spark, "id >= 4", {"v": "upper(v) || '!'"}
    )
    got = dict((r.id, r.v) for r in tab.read(spark).collect())
    assert got == {0: "v0", 1: "v1", 2: "v2", 3: "v3", 4: "V4!", 5: "V5!"}
    assert tab.read(spark, version=0).count() == 6  # pre-update intact
    e = json.loads(tab.store.read_log(tab._version_name(v)))
    assert e["action"] == "update" and e["remove"]["kind"] == "files"


def test_update_where_unknown_column_raises(spark, tab):
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))
    with pytest.raises(ValueError, match="unknown column"):
        tab.update_where(spark, "id = 1", {"nope": "1"})


def test_delete_racing_commit_aborts(spark, tab):
    """Serializable DELETE: a commit landing after the snapshot read
    aborts the delete (a concurrent append may carry rows the predicate
    should have matched)."""
    tab.commit_overwrite(_df(spark, [(1, "a", "d1"), (2, "b", "d2")]))
    real = _race(
        tab, lambda other: other.commit_append(_df(spark, [(9, "r", "d1")]))
    )
    try:
        with pytest.raises(ConcurrentWriteConflict):
            tab.delete_where(spark, "day = 'd1'")
    finally:
        tab._publish = real
    # the racer's row survives; nothing was deleted
    assert (9, "r", "d1") in rows(tab.read(spark))
    assert (1, "a", "d1") in rows(tab.read(spark))


def test_delete_then_replace_partition_race_aborts_replace(spark, tab):
    """The other direction: a replace_partitions racing an already-landed
    delete must abort (the delete rewrote files its base may cover)."""
    tab.commit_overwrite(
        _df(spark, [(1, "a", "d1"), (2, "b", "d2")]), partition_by=["day"]
    )
    real = _race(
        tab, lambda other: other.delete_where(spark, "id = 1")
    )
    try:
        with pytest.raises(ConcurrentWriteConflict):
            tab.commit_replace_partitions(_df(spark, [(8, "x", "d2")]), ["day"])
    finally:
        tab._publish = real
    assert rows(tab.read(spark)) == [(2, "b", "d2")]


def test_cdf_across_delete_and_update_commits(spark, tab):
    """The change feed is snapshot-derived, so it must compose with the
    new `remove: files` commit kind with no special casing: a
    delete_where shows up as `delete` rows, an update_where as
    `update_postimage` — and rows that merely shared a rewritten file
    do NOT appear in the feed (the CoW rewrite is value-preserving for
    them)."""
    tab.commit_overwrite(
        _df(spark, [(i, f"v{i}", f"d{i % 2}") for i in range(6)]),
        partition_by=["day"],
    )
    tab.delete_where(spark, "id = 4")
    tab.update_where(spark, "id = 5", {"v": "'changed'"})
    feed = {
        (r.id, r.change_type): r.v
        for r in tab.changes_since(spark, 0, ["id"]).collect()
    }
    assert feed == {(4, "delete"): "v4", (5, "update_postimage"): "changed"}


# ---------- round 8: merge-on-read deletion vectors ----------


def test_delete_dv_rewrites_nothing(spark, tab):
    tab.commit_overwrite(
        _df(spark, [(i, f"v{i}", f"d{i % 3}") for i in range(12)]),
        partition_by=["day"],
    )
    before = {e["path"] for e in tab.manifest(0)["files"]}
    v = tab.delete_where(spark, "id >= 9", mode="dv")
    assert sorted(r.id for r in tab.read(spark).collect()) == list(range(9))
    after = tab.manifest(v)["files"]
    # merge-on-read: every DATA path is unchanged — zero rewrite
    assert {e["path"] for e in after} == before
    # the hit files carry a dv reference, the rest carry none
    assert sum(1 for e in after if e.get("dv")) == 3  # one per day partition
    # the pre-delete version still reads in full
    assert tab.read(spark, version=0).count() == 12
    e = json.loads(tab.store.read_log(tab._version_name(v)))
    assert e["action"] == "delete_dv" and e["remove"]["kind"] == "files"


def test_delete_dv_stacks_and_null_predicate_keeps(spark, tab):
    tab.commit_overwrite(
        _df(spark, [(1, "a", None), (2, "b", "d1"), (3, "c", "d1")]).coalesce(1)
    )
    tab.delete_where(spark, "day = 'd1' and id = 2", mode="dv")
    tab.delete_where(spark, "day = 'd1'", mode="dv")  # second DV, same file
    # NULL-day row's predicate is NULL → survives (SQL DELETE semantics)
    assert rows(tab.read(spark)) == [(1, "a", None)]
    head = tab.manifest(tab.latest_version())["files"]
    # round 14: the second commit MERGES the file's stacked DVs into one
    # (io/manifest.py:_merge_stacked_dvs) — depth stays exactly 1
    dv_lists = [e["dv"] for e in head if e.get("dv")]
    assert dv_lists and all(len(d) == 1 for d in dv_lists), dv_lists
    # and the merged DV carries BOTH deletes: version 1 (one delete)
    # still time-travels with only id=2 gone
    assert rows(tab.read(spark, version=1)) == [(1, "a", None), (3, "c", "d1")]


def test_delete_dv_no_match_is_noop_and_leaves_no_orphan_refs(spark, tab):
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))
    v = tab.delete_where(spark, "id = 999", mode="dv")
    assert v == 0 and tab.versions() == [0]


def test_update_dv_appends_images_and_masks_old_positions(spark, tab):
    tab.commit_overwrite(
        _df(spark, [(i, f"v{i}", f"d{i % 2}") for i in range(6)]),
        partition_by=["day"],
    )
    before = {e["path"] for e in tab.manifest(0)["files"]}
    v = tab.update_where(spark, "id >= 4", {"v": "upper(v)"}, mode="dv")
    got = dict((r.id, r.v) for r in tab.read(spark).collect())
    assert got == {0: "v0", 1: "v1", 2: "v2", 3: "v3", 4: "V4", 5: "V5"}
    after = tab.manifest(v)["files"]
    # old data files all still referenced (masked, not rewritten) PLUS
    # fresh files carrying the updated images
    assert before <= {e["path"] for e in after}
    assert len(after) > len(before)
    assert tab.read(spark, version=0).count() == 6


def test_cow_rewrite_over_dv_file_does_not_resurrect(spark, tab):
    """A CoW update hitting a file that carries a DV must materialize the
    DV (survivors only) — the DV-deleted rows stay dead in the rewrite."""
    tab.commit_overwrite(
        _df(spark, [(1, "a", "d1"), (2, "b", "d1")]).coalesce(1)
    )
    tab.delete_where(spark, "id = 2", mode="dv")
    tab.update_where(spark, "id = 1", {"v": "'x'"})  # CoW on the same file
    assert rows(tab.read(spark)) == [(1, "x", "d1")]
    # and the rewritten entry dropped its dv reference
    head = tab.manifest(tab.latest_version())["files"]
    assert not any(e.get("dv") for e in head)


def test_compact_materializes_dv_deletes(spark, tab):
    tab.commit_overwrite(
        _df(spark, [(i, f"v{i}", "d1") for i in range(8)])
    )
    tab.delete_where(spark, "id % 2 = 1", mode="dv")
    tab.compact(spark)
    assert sorted(r.id for r in tab.read(spark).collect()) == [0, 2, 4, 6]
    assert not any(
        e.get("dv") for e in tab.manifest(tab.latest_version())["files"]
    )


def test_vacuum_keeps_dv_files_while_referenced(spark, tab):
    tab.commit_overwrite(_df(spark, [(1, "a", "d1"), (2, "b", "d1")]))
    tab.delete_where(spark, "id = 2", mode="dv")
    # retention 1: only the DV'd head survives — its DV txn dir must too
    tab.vacuum(keep_versions=1, min_age_seconds=0.0)
    assert rows(tab.read(spark)) == [(1, "a", "d1")]
    # compact away the DV, then vacuum: the DV txn dir becomes garbage
    tab.compact(spark)
    tab.vacuum(keep_versions=1, min_age_seconds=0.0)
    assert rows(tab.read(spark)) == [(1, "a", "d1")]


def test_delete_dv_racing_commit_aborts(spark, tab):
    tab.commit_overwrite(_df(spark, [(1, "a", "d1"), (2, "b", "d2")]))
    real = _race(
        tab, lambda other: other.commit_append(_df(spark, [(9, "r", "d1")]))
    )
    try:
        with pytest.raises(ConcurrentWriteConflict):
            tab.delete_where(spark, "day = 'd1'", mode="dv")
    finally:
        tab._publish = real
    assert (1, "a", "d1") in rows(tab.read(spark))
    assert (9, "r", "d1") in rows(tab.read(spark))


def test_restore_across_dv_commit_round_trips(spark, tab):
    tab.commit_overwrite(_df(spark, [(1, "a", "d1"), (2, "b", "d1")]))
    tab.delete_where(spark, "id = 2", mode="dv")
    tab.restore(0)
    assert sorted(rows(tab.read(spark))) == [(1, "a", "d1"), (2, "b", "d1")]
    tab.restore(1)  # restoring the DV'd snapshot re-applies its DV
    assert rows(tab.read(spark)) == [(1, "a", "d1")]


def test_cdf_across_dv_commits(spark, tab):
    tab.commit_overwrite(_df(spark, [(1, "a", "d1"), (2, "b", "d1")]))
    tab.delete_where(spark, "id = 2", mode="dv")
    tab.update_where(spark, "id = 1", {"v": "'u'"}, mode="dv")
    feed = {
        (r.id, r.change_type): r.v
        for r in tab.changes_since(spark, 0, ["id"]).collect()
    }
    assert feed == {(2, "delete"): "b", (1, "update_postimage"): "u"}


def test_dv_read_plan_broadcasts_the_vector(spark, tab):
    """The merge-on-read read path must apply the DV as a BROADCAST
    anti-join — the fact scan never shuffles to subtract its deletes."""
    tab.commit_overwrite(_df(spark, [(i, "x", "d1") for i in range(20)]))
    tab.delete_where(spark, "id = 3", mode="dv")
    plan = tab.read(spark)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "Exchange hashpartitioning" not in plan


def test_plain_read_plan_unchanged_by_dv_support(spark, tab):
    """Tables with NO deletion vectors keep the pre-DV plan: no join, no
    _metadata reference — nothing blocks codegen or column pruning."""
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))
    plan = tab.read(spark)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "file_path" not in plan


# --- round-8: file-selective compaction (Delta OPTIMIZE shape) -------------


def test_selective_compact_folds_only_small_files(spark, tab):
    """compact(small_file_bytes=...) rewrites ONLY sub-threshold files;
    the big file's entry carries over by reference (same path) and the
    table reads back identically."""
    big = [(i, f"v{i}", "d1") for i in range(500)]
    tab.commit_overwrite(_df(spark, big))
    tab.commit_append(_df(spark, [(1001, "a", "d1")]))
    tab.commit_append(_df(spark, [(1002, "b", "d1")]))
    tab.commit_append(_df(spark, [(1003, "c", "d1")]))
    m = tab.manifest(tab.latest_version())
    sizes = sorted(e["bytes"] for e in m["files"])
    assert sizes[-1] > sizes[0]  # the 500-row file is the biggest
    big_paths = {e["path"] for e in m["files"] if e["bytes"] == sizes[-1]}
    before = tab.read(spark).count()
    v = tab.compact(spark, small_file_bytes=sizes[-1])
    after = tab.manifest(v)
    # big file(s) carried by reference; small ones folded away
    assert big_paths <= {e["path"] for e in after["files"]}
    assert len(after["files"]) < len(m["files"])
    removed = set(tab._raw(v)["remove"]["values"])
    assert removed and not (removed & big_paths)
    assert tab.read(spark).count() == before


def test_selective_compact_materializes_deletion_vectors(spark, tab):
    """A file carrying a DV is a compaction candidate REGARDLESS of size:
    the rewrite folds the surviving rows in and the new version carries
    no dv references — merge-on-read debt paid down."""
    tab.commit_overwrite(_df(spark, [(i, f"v{i}", "d1") for i in range(300)]))
    tab.delete_where(spark, "id % 3 = 0", mode="dv")
    m = tab.manifest(tab.latest_version())
    assert any(e.get("dv") for e in m["files"])
    v = tab.compact(spark, small_file_bytes=1)  # size excludes everything...
    after = tab.manifest(v)  # ...but the DV'd file still rewrites
    assert not any(e.get("dv") for e in after["files"])
    assert sorted(r.id for r in tab.read(spark).collect()) == sorted(
        i for i in range(300) if i % 3 != 0
    )


def test_selective_compact_noop_when_nothing_to_fold(spark, tab):
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))
    v0 = tab.latest_version()
    assert tab.compact(spark, small_file_bytes=1) == v0  # no small, no DV
    assert tab.versions()[-1] == v0


def test_selective_compact_partitioned_keeps_layout(spark, tab):
    """Selective compaction on a partitioned table: candidates rewrite
    INTO the partition layout; cross-partition reads stay exact."""
    tab.commit_overwrite(
        _df(spark, [(1, "a", "d1"), (2, "b", "d2")]), partition_by=["day"]
    )
    tab.commit_append(_df(spark, [(3, "c", "d1")]), partition_by=["day"])
    tab.commit_append(_df(spark, [(4, "d", "d2")]), partition_by=["day"])
    v = tab.compact(spark, small_file_bytes=10**9)  # everything is small
    got = tab.read(spark, partition_filter={"day": ["d1"]})
    assert sorted((r.id, r.day) for r in got.collect()) == [(1, "d1"), (3, "d1")]
    assert rows(tab.read(spark)) == [
        (1, "a", "d1"), (2, "b", "d2"), (3, "c", "d1"), (4, "d", "d2")
    ]


# --- round-8: CHECK constraints (Delta ADD CONSTRAINT) ---------------------


from data_lakes_tp2_student_spark.io.manifest import CheckConstraintViolation


def test_add_constraint_validates_existing_data(spark, tab):
    tab.commit_overwrite(_df(spark, [(1, "a", "d1"), (-5, "bad", "d1")]))
    with pytest.raises(CheckConstraintViolation, match="id_positive"):
        tab.add_check_constraint(spark, "id_positive", "id > 0")
    assert tab.latest_version() == 0  # nothing committed
    assert tab.constraints() == {}


def test_constraint_gates_every_later_commit(spark, tab):
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))
    v = tab.add_check_constraint(spark, "id_positive", "id > 0")
    assert v == 1 and tab.constraints() == {"id_positive": "id > 0"}
    # the metadata commit kept the snapshot readable
    assert rows(tab.read(spark)) == [(1, "a", "d1")]
    dirs_before = sorted(tab.store.list_txn_dirs())
    with pytest.raises(CheckConstraintViolation, match="id_positive"):
        tab.commit_append(_df(spark, [(-2, "bad", "d1")]))
    assert tab.latest_version() == 1  # failed commit wrote nothing
    # ...and cleaned its txn dir up (validation reads the written files
    # back, so a violation must delete them rather than orphan them)
    assert sorted(tab.store.list_txn_dirs()) == dirs_before
    tab.commit_append(_df(spark, [(2, "ok", "d1")]))  # valid rows land
    assert (2, "ok", "d1") in rows(tab.read(spark))
    # NULL passes (SQL CHECK semantics)
    tab.commit_append(
        spark.createDataFrame([(None, "n", "d1")], "id int, v string, day string")
    )
    assert tab.latest_version() == 3


def test_constraint_gates_update_paths_both_modes(spark, tab):
    """UPDATE producing violating images must abort in BOTH physical
    modes (CoW rides _commit; DV validates its fresh appended file)."""
    tab.commit_overwrite(_df(spark, [(1, "a", "d1"), (2, "b", "d1")]))
    tab.add_check_constraint(spark, "id_positive", "id > 0")
    for mode in ("cow", "dv"):
        with pytest.raises(CheckConstraintViolation):
            tab.update_where(spark, "id = 1", {"id": "-9"}, mode=mode)
    assert sorted(r.id for r in tab.read(spark).collect()) == [1, 2]
    # a valid update still lands in both modes
    tab.update_where(spark, "id = 1", {"id": "10"}, mode="cow")
    tab.update_where(spark, "id = 2", {"id": "20"}, mode="dv")
    assert sorted(r.id for r in tab.read(spark).collect()) == [10, 20]


def test_constraint_gates_merge(spark, tab):
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))
    tab.add_check_constraint(spark, "v_nonempty", "length(v) > 0")
    src = spark.createDataFrame([(1, "")], "sid int, sv string")
    with pytest.raises(CheckConstraintViolation):
        tab.merge(spark, src, "t.id = s.sid").when_matched_update(
            set={"v": "s.sv"}
        ).execute()
    assert rows(tab.read(spark)) == [(1, "a", "d1")]


def test_drop_constraint_reopens_and_guards_typos(spark, tab):
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))
    tab.add_check_constraint(spark, "id_positive", "id > 0")
    with pytest.raises(ValueError, match="already exists"):
        tab.add_check_constraint(spark, "id_positive", "id > 10")
    with pytest.raises(ValueError, match="no constraint named"):
        tab.drop_check_constraint("id_positve")  # typo'd
    tab.drop_check_constraint("id_positive")
    assert tab.constraints() == {}
    tab.commit_append(_df(spark, [(-7, "now ok", "d1")]))
    assert (-7, "now ok", "d1") in rows(tab.read(spark))


def test_constraints_survive_dv_commits_and_restore(spark, tab):
    """DV delete commits and RESTORE both republish metadata — neither
    may silently drop the constraint map; restore brings back the
    restored version's set (Delta restores properties with data)."""
    tab.commit_overwrite(_df(spark, [(1, "a", "d1"), (2, "b", "d1")]))
    v_add = tab.add_check_constraint(spark, "id_positive", "id > 0")
    tab.delete_where(spark, "id = 2", mode="dv")
    assert tab.constraints() == {"id_positive": "id > 0"}  # carried by the DV commit
    with pytest.raises(CheckConstraintViolation):
        tab.commit_append(_df(spark, [(-1, "x", "d1")]))
    # restore to BEFORE the constraint existed -> constraint gone with it
    tab.restore(0)
    assert tab.constraints() == {}
    tab.commit_append(_df(spark, [(-1, "x", "d1")]))  # now allowed
    # and restoring the constrained version brings the constraint back
    tab.restore(v_add)
    assert tab.constraints() == {"id_positive": "id > 0"}


def test_add_constraint_racing_commit_aborts(spark, tab):
    """A commit landing between ADD CONSTRAINT's validation scan and its
    publish aborts the add — the racer's rows were never checked."""
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))
    real_publish = tab._publish
    fired = {"done": False}

    def racing_publish(entry):
        if not fired["done"]:
            fired["done"] = True
            tab.clone().commit_append(_df(spark, [(-3, "racer", "d1")]))
        return real_publish(entry)

    tab._publish = racing_publish
    try:
        with pytest.raises(ConcurrentWriteConflict, match="constraint|landed"):
            tab.add_check_constraint(spark, "id_positive", "id > 0")
    finally:
        tab._publish = real_publish
    assert tab.constraints() == {}
    assert (-3, "racer", "d1") in rows(tab.read(spark))


def test_describe_detail(spark, tab):
    tab.commit_overwrite(
        _df(spark, [(1, "a", "d1"), (2, "b", "d2")]), partition_by=["day"]
    )
    tab.add_check_constraint(spark, "id_pos", "id > 0")
    tab.delete_where(spark, "id = 2", mode="dv")
    d = tab.describe_detail()
    assert d["version"] == tab.latest_version()
    assert d["num_files"] >= 1 and d["size_bytes"] > 0
    assert d["partition_columns"] == ["day"]
    assert d["constraints"] == {"id_pos": "id > 0"}
    assert d["num_files_with_dv"] == 1
    assert d["last_commit_action"] == "delete_dv"


def test_deep_clone_latest_and_old_version(spark, tab, tmp_path):
    """clone_to (Delta DEEP CLONE): byte-copy of a pinned snapshot into
    an independent table — layout, stats, and constraints carried; the
    clone's log starts fresh at v0 with action 'clone'."""
    tab.commit_overwrite(
        _df(spark, [(1, "a", "d1"), (2, "b", "d2"), (3, "c", "d1")]),
        partition_by=["day"],
    )
    tab.add_check_constraint(spark, "id_pos", "id > 0")
    tab.commit_append(_df(spark, [(4, "d", "d2")]), partition_by=["day"])
    v_old = 0

    dest = tab.clone_to(str(tmp_path / "clone_latest"))
    assert dest.versions() == [0]
    assert dest._raw(0)["action"] == "clone"
    m = dest.manifest(0)
    assert m["partition_by"] == ["day"]
    assert sorted(
        (r.id, r.v, r.day) for r in dest.read(spark).collect()
    ) == sorted((r.id, r.v, r.day) for r in tab.read(spark).collect())
    assert dest.constraints() == {"id_pos": "id > 0"}
    # the clone ENFORCES the carried constraint
    with pytest.raises(CheckConstraintViolation):
        dest.commit_append(_df(spark, [(-1, "x", "d1")]), partition_by=["day"])

    old = tab.clone_to(str(tmp_path / "clone_v0"), version=v_old)
    assert sorted(
        (r.id, r.v, r.day) for r in old.read(spark).collect()
    ) == sorted(
        (r.id, r.v, r.day) for r in tab.read(spark, version=v_old).collect()
    )


def test_deep_clone_materializes_dv_and_carries_stats(spark, tmp_path):
    src = ManifestTable(str(tmp_path / "src"), stats_cols=["id"])
    src.commit_overwrite(
        _df(spark, [(i, f"v{i}", f"d{i % 2}") for i in range(20)])
    )
    src.delete_where(spark, "id % 5 = 0", mode="dv")
    assert any(e.get("dv") for e in src.manifest(src.latest_version())["files"])
    dest = src.clone_to(str(tmp_path / "dst"))
    m = dest.manifest(0)
    # merge-on-read debt does not travel: deletes are materialized
    assert not any(e.get("dv") for e in m["files"])
    assert all("stats" in e and "id" in e["stats"] for e in m["files"])
    assert sorted(r.id for r in dest.read(spark).collect()) == sorted(
        i for i in range(20) if i % 5 != 0
    )


def test_deep_clone_is_storage_independent(spark, tmp_path):
    src = ManifestTable(str(tmp_path / "src"))
    src.commit_overwrite(_df(spark, [(1, "a", "d1")]))
    src.commit_overwrite(_df(spark, [(2, "b", "d2")]))
    dest = src.clone_to(str(tmp_path / "dst"), version=0)
    # vacuum the source past the cloned version: the clone is untouched
    src.vacuum(keep_versions=1, min_age_seconds=0)
    with pytest.raises(Exception):
        src.read(spark, version=0).collect()  # source history gone (loud)
    assert [(r.id, r.v, r.day) for r in dest.read(spark).collect()] == [
        (1, "a", "d1")
    ]
    # and vacuuming the CLONE never touches the source
    dest.commit_overwrite(_df(spark, [(9, "z", "d9")]))
    dest.vacuum(keep_versions=1, min_age_seconds=0)
    assert src.read(spark).count() == 1


# ---------- ADVICE r8 regressions ----------


def _s3_store(moto_endpoint, tmp_path, name):
    import uuid as _uuid

    from data_lakes_tp2_student_spark.io.logstore import S3LogStore

    prefix = f"{name}-{_uuid.uuid4().hex[:10]}"
    store = S3LogStore(
        "lake", prefix, endpoint=moto_endpoint,
        cache_dir=str(tmp_path / f"cache-{name}"),
    )
    try:
        store.client.create_bucket(Bucket="lake")
    except store.client.exceptions.ClientError:
        pass
    return store


class _RetryLostResponseClient:
    """Simulates boto3's transparent PUT retry after a lost response:
    the put lands server-side, then the caller sees a 412 ClientError
    (the retry hit If-None-Match against the writer's OWN object)."""

    def __init__(self, real, arm_key_suffix):
        self._real = real
        self._arm = arm_key_suffix
        self.fired = False

    def __getattr__(self, name):
        return getattr(self._real, name)

    def put_object(self, **kw):
        if (
            not self.fired
            and kw.get("IfNoneMatch") == "*"
            and kw["Key"].endswith(self._arm)
        ):
            self.fired = True
            self._real.put_object(
                Bucket=kw["Bucket"], Key=kw["Key"], Body=kw["Body"]
            )
            from botocore.exceptions import ClientError

            raise ClientError(
                {"Error": {"Code": "PreconditionFailed", "Message": "412"}},
                "PutObject",
            )
        return self._real.put_object(**kw)


def test_s3_put_retry_self_conflict_counts_as_win(tmp_path, moto_endpoint):
    """ADVICE r8 (logstore): a 412 whose existing object carries OUR
    bytes means our first attempt landed and the response was lost —
    put_log_if_absent must report a WIN, or the commit loop republishes
    the same files at the next version (duplicate rows on append)."""
    store = _s3_store(moto_endpoint, tmp_path, "selfwin")
    store.client = _RetryLostResponseClient(store.client, "v0.json")
    assert store.put_log_if_absent("v0.json", b'{"version": 0}') is True
    assert store.client.fired
    assert store.read_log("v0.json") == b'{"version": 0}'
    # genuine loss: the key exists with ANOTHER writer's bytes
    assert store.put_log_if_absent("v0.json", b'{"version": 0, "o": 1}') is False


def test_s3_commit_survives_lost_put_response_no_duplicate(
    spark, tmp_path, moto_endpoint
):
    """End-to-end: an append whose publish response is lost commits
    EXACTLY ONCE (no duplicate rows, no extra version)."""
    store = _s3_store(moto_endpoint, tmp_path, "e2ewin")
    tab = ManifestTable(f"s3://lake/{store.prefix}", log_store=store)
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))
    store.client = _RetryLostResponseClient(store.client, "00001.json")
    v = tab.commit_append(_df(spark, [(2, "b", "d2")]))
    assert v == 1 and store.client.fired
    assert tab.latest_version() == 1
    assert rows(tab.read(spark)) == [(1, "a", "d1"), (2, "b", "d2")]


def test_s3_checkpoint_client_error_does_not_fail_commit(
    spark, tmp_path, moto_endpoint, monkeypatch
):
    """ADVICE r8 (manifest): put_log_atomic raises botocore ClientError,
    not OSError — a transient checkpoint failure on an S3 table must not
    turn the already-durable commit into an apparent failure."""
    from botocore.exceptions import ClientError

    store = _s3_store(moto_endpoint, tmp_path, "ckptfail")
    tab = ManifestTable(
        f"s3://lake/{store.prefix}", log_store=store, checkpoint_interval=1
    )
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))

    def boom(name, data):
        raise ClientError(
            {"Error": {"Code": "SlowDown", "Message": "503"}}, "PutObject"
        )

    monkeypatch.setattr(store, "put_log_atomic", boom)
    v = tab.commit_append(_df(spark, [(2, "b", "d2")]))  # no raise
    assert v == 1
    monkeypatch.undo()
    assert rows(tab.read(spark)) == [(1, "a", "d1"), (2, "b", "d2")]


# ---------- column mapping: rename/drop without rewrite (round 9) ----------


def test_rename_column_is_metadata_only(spark, tab):
    """VERDICT r8 item 2: RENAME rewrites ZERO data files — the commit
    is metadata-only; the latest read serves the new logical name over
    the untouched physical bytes; time travel reads the old name."""
    tab.commit_overwrite(_df(spark, [(1, "a", "d1"), (2, "b", "d2")]))
    txns_before = tab.store.list_txn_dirs()
    v = tab.rename_column("v", "val")
    assert v == 1
    assert tab.store.list_txn_dirs() == txns_before  # no data motion
    got = tab.read(spark)
    assert sorted(got.columns) == ["day", "id", "val"]
    assert sorted((r.id, r.val, r.day) for r in got.collect()) == [
        (1, "a", "d1"), (2, "b", "d2"),
    ]
    # time travel: the pre-rename version still reads its own names
    old = tab.read(spark, version=0)
    assert sorted(old.columns) == ["day", "id", "v"]
    assert rows(old) == [(1, "a", "d1"), (2, "b", "d2")]
    # appends after the rename use the NEW logical name end-to-end
    tab.commit_append(
        spark.createDataFrame([(3, "c", "d3")], "id int, val string, day string")
    )
    assert sorted((r.id, r.val) for r in tab.read(spark).collect()) == [
        (1, "a"), (2, "b"), (3, "c"),
    ]


def test_rename_column_guards(spark, tab):
    tab.commit_overwrite(
        _df(spark, [(1, "a", "d1")]), partition_by=["day"]
    )
    with pytest.raises(ValueError, match="partition column"):
        tab.rename_column("day", "dt")
    with pytest.raises(ValueError, match="no column"):
        tab.rename_column("nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        tab.rename_column("v", "id")
    tab.add_check_constraint(spark, "id_pos", "id > 0")
    with pytest.raises(ValueError, match="constraint"):
        tab.rename_column("id", "ident")
    with pytest.raises(ValueError, match="constraint"):
        tab.drop_column("id")


def test_drop_column_and_readd_reads_null_for_old_rows(spark, tab):
    """DROP is metadata-only; a later column of the same logical name is
    a NEW column (fresh physical) — pre-add rows read NULL, the dropped
    bytes are never resurrected, and the re-add may even change type."""
    tab.commit_overwrite(_df(spark, [(1, "a", "d1"), (2, "b", "d2")]))
    tab.drop_column("v")
    got = tab.read(spark)
    assert sorted(got.columns) == ["day", "id"]
    # re-add logical `v` with a DIFFERENT type: legal (the old physical
    # column is unreachable), and old rows read NULL
    tab.commit_append(
        spark.createDataFrame([(3, 30, "d3")], "id int, v int, day string")
    )
    vals = {r.id: r.v for r in tab.read(spark).collect()}
    assert vals == {1: None, 2: None, 3: 30}
    # time travel to v0: the original string column, values intact
    assert rows(tab.read(spark, version=0)) == [(1, "a", "d1"), (2, "b", "d2")]


def test_rename_then_snapshot_ops_keep_working(spark, tmp_path):
    """The whole snapshot-op surface binds to LOGICAL names after a
    rename: delete_where / update_where(dv) / compact / restore /
    clone_to."""
    tab = ManifestTable(str(tmp_path / "t"))
    tab.commit_overwrite(
        _df(spark, [(i, f"x{i}", f"d{i % 2}") for i in range(10)])
    )
    tab.rename_column("v", "val")
    tab.delete_where(spark, "id >= 8")
    assert sorted(r.id for r in tab.read(spark).collect()) == list(range(8))
    tab.update_where(spark, "id = 0", {"val": "'zero'"}, mode="dv")
    vals = {r.id: r.val for r in tab.read(spark).collect()}
    assert vals[0] == "zero" and vals[1] == "x1"
    v_before = tab.latest_version()
    tab.compact(spark)
    assert {r.id: r.val for r in tab.read(spark).collect()} == vals
    # restore to the pre-compact (post-rename) version
    tab.restore(v_before)
    assert {r.id: r.val for r in tab.read(spark).collect()} == vals
    clone = tab.clone_to(str(tmp_path / "c"))
    assert {r.id: r.val for r in clone.read(spark).collect()} == vals
    # restore to v0 resurrects the ORIGINAL logical name
    tab.restore(0)
    assert sorted(tab.read(spark).columns) == ["day", "id", "v"]


def test_rename_keeps_stats_skipping_sound(spark, tmp_path):
    """File stats are keyed by PHYSICAL name; range_filter on the NEW
    logical name must still prune (and never mis-prune)."""
    tab = ManifestTable(str(tmp_path / "t"), stats_cols=["id"])
    tab.commit_overwrite(_df(spark, [(i, "a", "d1") for i in range(5)]))
    tab.rename_column("id", "ident")
    tab.commit_append(
        spark.createDataFrame(
            [(i, "b", "d2") for i in range(100, 105)],
            "ident int, v string, day string",
        )
    )
    got = tab.read(spark, range_filter={"ident": (100, 200)})
    assert sorted(r.ident for r in got.collect()) == list(range(100, 105))
    # and the skipped file really was skipped (plan reads one file)
    assert got.select("ident").where("ident < 100").count() == 0


def test_concurrent_rename_aborts_inflight_append(spark, tmp_path):
    """A rename landing between an append's data write and its publish
    must abort the append (its files were staged under the OLD physical
    layout assumptions)."""
    from data_lakes_tp2_student_spark.io.manifest import ConcurrentWriteConflict

    tab = ManifestTable(str(tmp_path / "t"))
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))
    base = tab.latest_version()
    base_entry = tab._raw(base)
    txn, files = tab._write_txn(_df(spark, [(2, "b", "d2")]), None)
    tab.clone().rename_column("v", "val")  # racer wins
    with pytest.raises(ConcurrentWriteConflict, match="rename"):
        tab._commit_files(
            spark, txn, files,
            _df(spark, [(2, "b", "d2")]).schema.json(),
            None, "append", "none", base,
            tab._constraints_of(base_entry),
        )


def test_overwrite_on_mapped_table_keeps_physical_stability(spark, tab):
    """commit_overwrite on a mapping-enabled table: the new snapshot's
    logical schema may reuse names (even with new types — overwrite owns
    the whole table), the carried mapping keeps resolving, and time
    travel still reads every earlier version under its own names."""
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))
    tab.rename_column("v", "val")                       # v1: enable mapping
    tab.commit_overwrite(
        spark.createDataFrame([(2, 99, "d2")], "id int, val int, day string")
    )                                                   # v2: val now INT
    got = tab.read(spark)
    assert [(r.id, r.val, r.day) for r in got.collect()] == [(2, 99, "d2")]
    assert dict(got.dtypes)["val"] == "int"
    # v1 (post-rename, pre-overwrite): string val, original row
    v1 = tab.read(spark, version=1)
    assert [(r.id, r.val) for r in v1.collect()] == [(1, "a")]
    assert dict(v1.dtypes)["val"] == "string"
    # v0: the original logical name
    assert rows(tab.read(spark, version=0)) == [(1, "a", "d1")]
    # appends after the overwrite keep working under the mapping
    tab.commit_append(
        spark.createDataFrame([(3, 100, "d3")], "id int, val int, day string")
    )
    assert sorted((r.id, r.val) for r in tab.read(spark).collect()) == [
        (2, 99), (3, 100),
    ]


def test_row_count_metadata_only(spark, tab):
    """row_count() answers count(*) from manifest metadata: exact on
    plain snapshots, under DV deletes (positions subtracted), and across
    time travel."""
    tab.commit_overwrite(_df(spark, [(i, f"v{i}", f"d{i % 3}") for i in range(30)]))
    assert tab.row_count() == 30
    tab.commit_append(_df(spark, [(100 + i, "x", "d1") for i in range(5)]))
    assert tab.row_count() == 35
    tab.delete_where(spark, "id % 5 = 0", mode="dv")
    expect = 35 - len([i for i in list(range(30)) + list(range(100, 105)) if i % 5 == 0])
    assert tab.row_count() == expect
    assert tab.read(spark).count() == expect
    # time travel counts the PINNED snapshot
    assert tab.row_count(version=0) == 30


def test_row_count_survives_clone_and_describe(spark, tmp_path):
    tab = ManifestTable(str(tmp_path / "t"))
    tab.commit_overwrite(_df(spark, [(i, "a", "d1") for i in range(12)]))
    tab.delete_where(spark, "id >= 10", mode="dv")
    clone = tab.clone_to(str(tmp_path / "c"))
    # the clone materialized the DV: metadata count without DV math
    assert clone.row_count() == 10
    assert clone.describe_detail()["num_rows"] == 10
    # the source's detail reports None under DV debt (row_count() is
    # the exact path there)
    assert tab.describe_detail()["num_rows"] is None
    assert tab.row_count() == 10


def test_vacuum_dry_run_reports_without_deleting(spark, tab):
    """Delta's VACUUM DRY RUN: list what would go, touch nothing —
    same liveness computation as the real sweep (the reported set
    equals what a subsequent real vacuum removes)."""
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))
    tab.commit_overwrite(_df(spark, [(2, "b", "d2")]))
    n_logs = len(tab.store.list_log())
    would = tab.vacuum(keep_versions=1, min_age_seconds=0, dry_run=True)
    assert len(would) == 1                       # v0's txn dir is dead
    assert tab.store.list_txn_dirs() != []       # nothing deleted
    assert len(tab.store.list_log()) == n_logs   # no truncation/checkpoint
    assert tab.read(spark, version=0).count() == 1  # v0 still reads
    removed = tab.vacuum(keep_versions=1, min_age_seconds=0)
    assert sorted(removed) == sorted(would)      # the report was exact


def test_partition_range_pruning_timestamp_separator_sound(spark, tmp_path):
    """r9 review wave 2: Spark spells path timestamps with a SPACE
    ('ts=2021-01-04 23%3A00%3A00') while isoformat bounds carry 'T' —
    a raw string compare orders ' ' before 'T' and would prune a
    same-day 23:00 file against a 10:00 lower bound (silent row loss).
    Typed parsing must keep it."""
    import datetime as dt

    tab = ManifestTable(str(tmp_path / "t"))
    rows = [
        (1, dt.datetime(2021, 1, 4, 2, 0)),
        (2, dt.datetime(2021, 1, 4, 23, 0)),
        (3, dt.datetime(2021, 1, 5, 12, 0)),
    ]
    df = spark.createDataFrame(rows, "id int, ts timestamp")
    tab.commit_overwrite(df, partition_by=["ts"])
    got = tab.read(
        spark,
        range_filter={
            "ts": (dt.datetime(2021, 1, 4, 10, 0), dt.datetime(2021, 1, 5, 23, 59))
        },
    )
    assert sorted(r.id for r in got.collect()) == [2, 3]  # 23:00 survives
    # and the out-of-range early file IS pruned (typed compare active)
    assert got.where("id = 1").count() == 0


def test_rename_swapping_logical_and_physical_names(spark, tab):
    """r9 review wave 2: rename a→c then b→a leaves mapping
    {c: a, a: b} — a logical name now EQUALS another column's physical
    target. The write-side relabel must swap atomically (sequential
    column renames threw COLUMN_ALREADY_EXISTS on a legal append)."""
    df = spark.createDataFrame([(1, "A1", "B1")], "id int, a string, b string")
    tab.commit_overwrite(df)
    tab.rename_column("a", "c")
    tab.rename_column("b", "a")
    tab.commit_append(
        spark.createDataFrame([(2, "C2", "A2")], "id int, c string, a string")
    )
    got = sorted((r.id, r.c, r.a) for r in tab.read(spark).collect())
    assert got == [(1, "A1", "B1"), (2, "C2", "A2")]
    # DV update binds to the swapped logical names too
    tab.update_where(spark, "id = 1", {"a": "'B1x'"}, mode="dv")
    got = {r.id: r.a for r in tab.read(spark).collect()}
    assert got == {1: "B1x", 2: "A2"}


def test_constraints_validate_through_swapped_mapping(spark, tmp_path):
    """Constraint validation reads the just-written PHYSICAL files and
    relabels to logical names — must survive the swap-case mapping
    ({c: a, a: b}) and still reject violating rows under it."""
    tab = ManifestTable(str(tmp_path / "t"))
    tab.commit_overwrite(
        spark.createDataFrame([(1, "A1", "B1")], "id int, a string, b string")
    )
    tab.rename_column("a", "c")
    tab.rename_column("b", "a")
    tab.add_check_constraint(spark, "a_short", "length(a) <= 3")
    tab.commit_append(
        spark.createDataFrame([(2, "x", "ok")], "id int, c string, a string")
    )
    with pytest.raises(CheckConstraintViolation):
        tab.commit_append(
            spark.createDataFrame(
                [(3, "y", "too-long")], "id int, c string, a string"
            )
        )
    assert tab.read(spark).count() == 2


def _plant_file(tab, rel: str, data: bytes) -> None:
    """Simulate a zombie speculative task's PUT landing under a
    committed txn prefix AFTER the commit's pre-publish sweep."""
    from data_lakes_tp2_student_spark.io.logstore import LocalLogStore

    if isinstance(tab.store, LocalLogStore):
        full = os.path.join(tab.store.root, rel)
        os.makedirs(os.path.dirname(full), exist_ok=True)
        with open(full, "wb") as f:
            f.write(data)
    else:
        tab.store.client.put_object(
            Bucket=tab.store.bucket, Key=tab.store._rel_key(rel), Body=data
        )


def _file_exists(tab, rel: str) -> bool:
    from data_lakes_tp2_student_spark.io.logstore import LocalLogStore

    if isinstance(tab.store, LocalLogStore):
        return os.path.exists(os.path.join(tab.store.root, rel))
    try:
        tab.store.client.head_object(
            Bucket=tab.store.bucket, Key=tab.store._rel_key(rel)
        )
        return True
    except Exception:
        return False


def test_deep_vacuum_reaps_zombie_files_in_live_txn_dirs(spark, tab):
    """ADVICE r10: a zombie speculative task whose write() completes its
    PUTs after the commit's pre-publish LIST leaves objects under a
    COMMITTED txn prefix — invisible to readers (the manifest is the
    file list) but never reaped by the dir-granular sweep. vacuum(
    deep=True) removes exactly the unreferenced keys inside live txn
    dirs, honoring the min_age in-flight guard; referenced data and
    reads are untouched."""
    tab.commit_overwrite(_df(spark, [(1, "a", "d1"), (2, "b", "d2")]))
    live_paths = [e["path"] for e in tab._snapshot_files(0)]
    txn_dir = live_paths[0].split("/")[1]
    zombie = f"data/{txn_dir}/part-99999-zombie-attempt.parquet"
    _plant_file(tab, zombie, b"zombie-bytes")
    # the dir-granular sweep never touches a live dir
    assert tab.vacuum(min_age_seconds=0) == []
    assert _file_exists(tab, zombie)
    # min_age guard: a FRESH unreferenced file could be an in-flight
    # attempt of a commit racing this vacuum — deep leaves it alone
    assert tab.vacuum(deep=True) == []
    assert _file_exists(tab, zombie)
    # dry run reports without deleting
    would = tab.vacuum(min_age_seconds=0, dry_run=True, deep=True)
    assert would == [zombie] and _file_exists(tab, zombie)
    removed = tab.vacuum(min_age_seconds=0, deep=True)
    assert zombie in removed
    assert not _file_exists(tab, zombie)
    # every referenced file survives; the table still reads exactly
    for rel in live_paths:
        assert _file_exists(tab, rel)
    assert rows(tab.read(spark)) == [(1, "a", "d1"), (2, "b", "d2")]


def test_delete_where_range_hint_prunes_discovery(spark, tmp_path, monkeypatch):
    """Round 11 (data-plane soak: the CoW discovery scan is linear in
    file count): delete_where/update_where accept the same manifest-
    stats `range_filter` read() has, applied to the DISCOVERY scan —
    an over-approximating hint schedules O(overlapping files) tasks and
    can never change the result (stats-less files are kept)."""
    tab = ManifestTable(str(tmp_path / "t"), stats_cols=["id"])
    df = spark.createDataFrame(
        [(i, f"v{i}", f"d{i % 3}") for i in range(60)],
        "id int, v string, day string",
    )
    tab.commit_overwrite(df.repartitionByRange(6, "id"))
    n_files = len(tab._snapshot_files(0))
    assert n_files >= 4  # disjoint id ranges per file

    seen: dict = {}
    orig = ManifestTable._load_snapshot

    def spy(self, spark_, m, files, **kw):
        seen.setdefault("n", len(files))
        return orig(self, spark_, m, files, **kw)

    monkeypatch.setattr(ManifestTable, "_load_snapshot", spy)
    tab.delete_where(spark, "id = 7", range_filter={"id": (7, 7)})
    monkeypatch.undo()
    # the discovery scan saw only the stats-overlapping file(s)
    assert seen["n"] < n_files, (seen, n_files)
    assert sorted(r.id for r in tab.read(spark).collect()) == [
        i for i in range(60) if i != 7
    ]
    # identical result to the unhinted path on the same predicate
    tab2 = ManifestTable(str(tmp_path / "t2"), stats_cols=["id"])
    tab2.commit_overwrite(df.repartitionByRange(6, "id"))
    tab2.delete_where(spark, "id = 7")
    assert sorted(map(tuple, tab.read(spark).collect())) == sorted(
        map(tuple, tab2.read(spark).collect())
    )
    # update_where takes the same lever
    tab.update_where(
        spark, "id = 8", {"v": "'patched'"}, range_filter={"id": (8, 8)}
    )
    got = {r.id: r.v for r in tab.read(spark).collect()}
    assert got[8] == "patched" and got[9] == "v9"


def test_read_plans_from_the_log_without_a_spark_job(spark, tab, caplog):
    """Building a read frame over more than 32 scan paths launches no
    Spark job: every path comes from the log and is a local file, so the
    file index lists them serially while planning instead of through a
    distributed listing job (Spark's default above
    `spark.sql.sources.parallelPartitionDiscovery.threshold` = 32). 40
    files in one txn dir stay per-file scan paths: directory coalescing
    starts at 512 files."""
    import logging
    import uuid

    written = [(i, f"v{i}", f"d{i % 3}") for i in range(80)]
    tab.commit_overwrite(_df(spark, written).repartition(40))
    n_files = len(tab.manifest(tab.latest_version())["files"])
    assert n_files > 32, n_files

    sc = spark.sparkContext
    group = f"manifest-read-plan-only-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "build the read frame, no action")
    try:
        with caplog.at_level(logging.DEBUG, logger="spark_graft"):
            df = tab.read(spark)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == []
    scans = [
        r.getMessage()
        for r in caplog.records
        if r.name == "spark_graft" and r.getMessage().startswith("manifest scan")
    ]
    assert scans == [
        f"manifest scan {tab.root}: {n_files} live files, {n_files} scan "
        "paths, 0 txn dirs coalesced"
    ]
    assert rows(df) == sorted(written)
