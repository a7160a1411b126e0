"""ADVICE r12 soundness fixes (round 13):

1. (medium) `_norm_bounds`/`_auto_prune` treated a naive timestamp
   literal as a UTC instant regardless of the session timezone —
   under a non-UTC session Spark evaluates `timestamp'...'` in that
   zone, so the prune could drop files that DO contain matching rows
   (silently missed deletes). Temporal pruning is now refused unless
   the session timezone is UTC; tz-free date↔date compares still prune.
2. (low) `_coalesce_dirs` excluded visible non-parquet files from the
   dir-equality check — the coalesced directory scan would then read
   them as parquet and fail the job. Visible non-parquet = mismatch.
3. (low) `_norm_bounds` sniffed the bound domain from ONE sampled stat
   value — a plain STRING column whose min parses as a date-only ISO
   string got its bounds date-floored, an unsound prune. The domain is
   now pinned by the committed schema's column type.
4. (low) `_ckpt_to_parquet_bytes` coerced mixed int/float stat columns
   to float64, rounding ints beyond 2^53 — a rounded min/max can prune
   a file that contains matching rows. Mixed columns get no typed
   prune columns; the verbatim entry keeps their stats exact.

Reference tie-in: the reference mutates rows by whole-file pandas
rewrites (/root/reference/src/preprocess_to_staging.py); the data-
skipping layer replacing that at scale must never skip a matching file.
"""

from __future__ import annotations

import datetime
import os

import pytest

from data_lakes_tp2_student_spark.io.manifest import (
    ManifestTable,
    _ckpt_from_parquet,
    _ckpt_to_parquet_bytes,
)
from data_lakes_tp2_student_spark.io.prune import (
    Pred,
    _norm_bounds,
    envelope,
    from_where,
    keep,
)

from .conftest import SF_SMOKE


def _where(cond):
    """The parsed branches of `cond` ([] when it prunes nothing)."""
    p = from_where(cond)
    return p.branches if p else []


def _spy_loads(monkeypatch):
    seen: list[int] = []
    orig = ManifestTable._load_snapshot

    def spy(self, spark_, m, files, **kw):
        seen.append(len(files))
        return orig(self, spark_, m, files, **kw)

    monkeypatch.setattr(ManifestTable, "_load_snapshot", spy)
    return seen


class _tz:
    """Temporarily set the session timezone, always restoring."""

    def __init__(self, spark, tz: str):
        self.spark, self.tz = spark, tz

    def __enter__(self):
        self.old = self.spark.conf.get("spark.sql.session.timeZone")
        self.spark.conf.set("spark.sql.session.timeZone", self.tz)

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.session.timeZone", self.old)


# ---------------------------------------------------------------------------
# 1. session-timezone soundness for temporal auto-prune
# ---------------------------------------------------------------------------


def test_nonutc_session_timestamp_delete_not_missed(
    spark, tmp_path, monkeypatch
):
    """Under Etc/GMT-10 (UTC+10), `timestamp'2024-01-02 00:00:00'`
    denotes 2024-01-01T14:00Z. The stats-based prune (which compares in
    UTC) would have dropped the file holding that instant — the delete
    must refuse temporal pruning and still remove the row."""
    tab = ManifestTable(str(tmp_path / "t"), stats_cols=["ts"])
    rows = [
        (i, datetime.datetime(2024, 1, 1) + datetime.timedelta(hours=2 * i))
        for i in range(24)  # UTC instants Jan1 00:00 … Jan2 22:00
    ]
    df = spark.createDataFrame(rows, "id int, ts timestamp")
    tab.commit_overwrite(df.repartitionByRange(4, "ts"))
    n_files = len(tab._snapshot_files(0))
    assert n_files >= 3

    seen = _spy_loads(monkeypatch)
    with _tz(spark, "Etc/GMT-10"):
        tab.delete_where(spark, "ts = timestamp'2024-01-02 00:00:00'")
    monkeypatch.undo()
    # prune REFUSED: the discovery scan saw every file
    assert seen and seen[0] == n_files, (seen, n_files)
    # the UTC-14:00 row (id 7: Jan1 + 14h) is gone, nothing else
    assert sorted(r.id for r in tab.read(spark).collect()) == [
        i for i in range(24) if i != 7
    ]


def test_nonutc_session_date_literal_still_prunes(
    spark, tmp_path, monkeypatch
):
    """date↔date compares involve no instant conversion: a DATE-column
    delete with a date'...' literal keeps pruning under any timezone."""
    tab = ManifestTable(str(tmp_path / "t"), stats_cols=["d"])
    rows = [(i, datetime.date(2024, 1, 1 + i)) for i in range(24)]
    df = spark.createDataFrame(rows, "id int, d date")
    tab.commit_overwrite(df.repartitionByRange(4, "d"))
    n_files = len(tab._snapshot_files(0))
    assert n_files >= 3
    seen = _spy_loads(monkeypatch)
    with _tz(spark, "America/New_York"):
        tab.delete_where(spark, "d = date'2024-01-05'")
    monkeypatch.undo()
    assert seen and seen[0] < n_files, (seen, n_files)
    assert sorted(r.id for r in tab.read(spark).collect()) == [
        i for i in range(24) if i != 4
    ]


def test_norm_bounds_tz_gate_unit():
    # timestamp-domain stats refuse canonicalization when not tz_utc
    assert (
        _norm_bounds("2024-01-02 00:00:00", None, "2024-01-01T05:00:00+00:00",
                     tz_utc=False)
        is None
    )
    assert (
        _norm_bounds("2024-01-02 00:00:00", None, "2024-01-01T05:00:00",
                     tz_utc=False)
        is None
    )
    # date-only stats vs date-only bounds: tz-free, still canonicalized
    assert _norm_bounds("2024-01-02", "2024-01-05", "2024-01-01",
                        tz_utc=False) == ("2024-01-02", "2024-01-05")
    # date-only stats vs a timestamped bound: refused when not tz_utc
    assert _norm_bounds(None, "2024-01-05 10:00", "2024-01-01",
                        tz_utc=False) is None
    # numerics never care about the timezone
    assert _norm_bounds(1, 9, 5, tz_utc=False) == (1, 9)


# ---------------------------------------------------------------------------
# 3. schema-typed bound domain: ISO-date-looking STRING columns
# ---------------------------------------------------------------------------


def test_string_column_with_iso_date_values_not_date_floored(
    spark, tmp_path
):
    """A STRING column holding mixed ISO-date-like values: the sampled
    min ('2024-01-02', parses as a date) used to switch the domain to
    date-flooring, pruning a file whose string min ('2024-01-05 09:00')
    lies between the floored day and the true bound. The schema says
    string → verbatim lexicographic compare → the row survives."""
    tab = ManifestTable(str(tmp_path / "t"), stats_cols=["s"])
    df1 = spark.createDataFrame(
        [(1, "2024-01-02"), (2, "2024-01-03")], "id int, s string"
    )
    tab.commit_overwrite(df1.coalesce(1))
    df2 = spark.createDataFrame(
        [(3, "2024-01-05 09:00"), (4, "2024-01-06 00:00")],
        "id int, s string",
    )
    tab.commit_append(df2.coalesce(1))
    got = tab.read(spark, range_filter={"s": (None, "2024-01-05 10:00")})
    ids = {r.id for r in got.collect()}
    assert 3 in ids, ids  # '2024-01-05 09:00' <= '2024-01-05 10:00'


def test_string_column_iso_dates_checkpoint_coarse_path(spark, tmp_path):
    """Same hazard at the COLUMNAR checkpoint's vectorized coarse prune:
    the committed schema type rides the envelope into the checkpoint
    filter."""
    tab = ManifestTable(
        str(tmp_path / "t"),
        stats_cols=["s"],
        checkpoint_interval=1,
    )
    df1 = spark.createDataFrame(
        [(1, "2024-01-02"), (2, "2024-01-03")], "id int, s string"
    )
    tab.commit_overwrite(df1.coalesce(1))
    df2 = spark.createDataFrame(
        [(3, "2024-01-05 09:00"), (4, "2024-01-06 00:00")],
        "id int, s string",
    )
    tab.commit_append(df2.coalesce(1))
    # a parquet checkpoint exists at the latest version → read() takes
    # the coarse path (delta entry, no column mapping)
    assert any(c <= tab.latest_version() for c in tab.checkpoints())
    got = tab.read(spark, range_filter={"s": (None, "2024-01-05 10:00")})
    ids = {r.id for r in got.collect()}
    assert 3 in ids, ids


def test_real_date_column_still_prunes_and_floors(spark, tmp_path,
                                                  monkeypatch):
    """The schema-typed domain must NOT disable the legitimate date
    flooring: a DATE column pruned with a timestamped bound keeps both
    the prune and the exact result (regression guard for fix 3)."""
    tab = ManifestTable(str(tmp_path / "t"), stats_cols=["d"])
    rows = [(i, datetime.date(2024, 1, 1 + i)) for i in range(20)]
    df = spark.createDataFrame(rows, "id int, d date")
    tab.commit_overwrite(df.repartitionByRange(4, "d"))
    n_files = len(tab._snapshot_files(0))
    assert n_files >= 3
    seen = _spy_loads(monkeypatch)
    # floored lo '2024-01-07' prunes the file covering days 1-5 entirely
    tab.delete_where(spark, "d >= timestamp'2024-01-07 05:00:00'")
    monkeypatch.undo()
    assert seen and seen[0] < n_files, (seen, n_files)
    # d (cast to midnight UTC) >= Jan7 05:00 ⇔ d >= Jan8 ⇔ id >= 7
    assert sorted(r.id for r in tab.read(spark).collect()) == list(range(7))


# ---------------------------------------------------------------------------
# 2. _coalesce_dirs: visible non-parquet files break dir equality
# ---------------------------------------------------------------------------


def test_coalesce_dirs_visible_nonparquet_falls_back(spark, tmp_path):
    tab = ManifestTable(str(tmp_path / "t"), stats_cols=["id"])
    df = spark.createDataFrame([(i,) for i in range(10)], "id int")
    tab.commit_overwrite(df.coalesce(1))
    rels = [e["path"] for e in tab._snapshot_files(0)]
    assert rels and all(r.startswith("data/txn=") for r in rels)
    txn_dir = rels[0].split("/")[1]
    # pristine dir coalesces to the directory path
    assert tab._coalesce_dirs(rels) == ["/".join(["data", txn_dir])]
    # a HIDDEN dropping keeps the coalesce (Spark's scan ignores it)
    with open(os.path.join(tab.data_dir, txn_dir, "_SUCCESS"), "w") as f:
        f.write("")
    assert tab._coalesce_dirs(rels) == ["/".join(["data", txn_dir])]
    # a VISIBLE non-parquet file is a mismatch: Spark's directory scan
    # would try to read it as parquet and fail — per-file fallback
    with open(os.path.join(tab.data_dir, txn_dir, "junk.txt"), "w") as f:
        f.write("not parquet")
    assert sorted(tab._coalesce_dirs(rels)) == sorted(rels)


# ---------------------------------------------------------------------------
# 4. checkpoint codec: mixed int/float stats stay exact
# ---------------------------------------------------------------------------


def test_ckpt_mixed_int_float_stats_exact_roundtrip():
    big = 2**53 + 1  # not representable in float64
    body = {
        "version": 0,
        "files": [
            {"path": "a.parquet", "bytes": 1, "rows": 1,
             "stats": {"x": [big, big + 2]}},
            {"path": "b.parquet", "bytes": 1, "rows": 1,
             "stats": {"x": [0.5, 1.5]}},
        ],
    }
    out = _ckpt_from_parquet(_ckpt_to_parquet_bytes(body))
    sa = out["files"][0]["stats"]["x"]
    sb = out["files"][1]["stats"]["x"]
    assert sa == [big, big + 2] and all(isinstance(v, int) for v in sa), sa
    assert sb == [0.5, 1.5] and all(isinstance(v, float) for v in sb), sb


def test_ckpt_pure_int_and_pure_float_stay_typed():
    body = {
        "version": 0,
        "files": [
            {"path": "a.parquet", "bytes": 1, "rows": 1,
             "stats": {"i": [1, 9], "f": [0.25, 2.75]}},
            {"path": "b.parquet", "bytes": 1, "rows": 1,
             "stats": {"i": [10, 90], "f": [3.5, 4.5]}},
        ],
    }
    raw = _ckpt_to_parquet_bytes(body)
    out = _ckpt_from_parquet(raw)
    assert out["files"][0]["stats"] == {"i": [1, 9], "f": [0.25, 2.75]}
    # typed columns survive as TYPED parquet columns (coarse-prunable)
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(pa.BufferReader(raw))
    assert "stat_min::i" in t.column_names
    assert "stat_min::f" in t.column_names


def test_ckpt_mixed_column_coarse_prune_sound():
    """A coarse range on a mixed-kind column (no typed stat columns)
    must keep every row (unskippable at the coarse level, exact-pruned
    later)."""
    big = 2**53 + 1
    body = {
        "version": 0,
        "files": [
            {"path": "a.parquet", "bytes": 1, "rows": 1,
             "stats": {"x": [big, big]}},
            {"path": "b.parquet", "bytes": 1, "rows": 1,
             "stats": {"x": [0.5, 0.5]}},
        ],
    }
    out = _ckpt_from_parquet(
        _ckpt_to_parquet_bytes(body), {"x": ((big, big), "bigint")}
    )
    assert [e["path"] for e in out["files"]] == ["a.parquet", "b.parquet"]


# ---------------------------------------------------------------------------
# round 13: IN-list and OR-of-conjunction auto-prune (VERDICT r12 item 5)
# ---------------------------------------------------------------------------


def test_cond_ranges_in_list():
    """IN lists stay value sets (typed later, per value)."""
    assert _where("day IN ('2024-01-01','2024-01-02')") == [
        {"day": frozenset({"2024-01-01", "2024-01-02"})}
    ]
    assert _where("k in (9, 3, 5)") == [{"k": frozenset({3, 5, 9})}]
    # a conjunction keeps the value set (any conjunct alone is sound)
    assert _where("k in (9, 3) and k >= 4") == [{"k": frozenset({3, 9})}]
    assert _where("d in (date'2024-01-05', date'2024-01-02')") == [
        {"d": frozenset({"2024-01-02", "2024-01-05"})}
    ]
    # NOT IN, empty lists and subqueries bound nothing
    assert _where("k not in (3, 9)") == []
    assert _where("k in ()") == []
    assert _where("k in (select v from t)") == []
    # a mixed list parses; on an INT column 'x' has no value, so the
    # normalizer drops the whole set and every file is kept
    assert _where("k in (3, 'x')") == [{"k": frozenset({3, "x"})}]
    files = [
        {"path": f"f{i}", "partition": {}, "stats": {"k": [i, i]}}
        for i in range(5)
    ]
    kept = keep({"partition_by": []}, files, from_where("k in (3, 'x')"),
                {"k": "int"})
    assert kept == files


def test_cond_disjuncts():
    assert _where("day = 'a' or day = 'b'") == [
        {"day": ("a", "a")},
        {"day": ("b", "b")},
    ]
    assert _where("(day = 'a' and id > 3) or day = 'b'") == [
        {"day": ("a", "a"), "id": (3, None)},
        {"day": ("b", "b")},
    ]
    # IN lists are value sets: scattered values prune to their own files
    # instead of the [min, max] envelope, with no size cap
    assert _where("k in (1, 5) or k = 9") == [
        {"k": frozenset({1, 5})},
        {"k": (9, 9)},
    ]
    assert _where("id in (3, 5000)") == [{"id": frozenset({3, 5000})}]
    big = "id in (" + ",".join(str(i * 100) for i in range(40)) + ")"
    assert _where(big) == [{"id": frozenset(range(0, 4000, 100))}]
    # two IN lists in one conjunction: one branch, two value sets
    assert _where("a in (1,2) and b in (10,20)") == [
        {"a": frozenset({1, 2}), "b": frozenset({10, 20})}
    ]
    # plain conjunction → single branch
    assert _where("id = 7") == [{"id": (7, 7)}]
    # one unboundable branch collapses the union to no-prune
    assert _where("day = 'a' or length(v) > 2") == []
    # ' or ' inside a quoted literal can never fabricate a branch
    assert _where("name = 'x or y'") == [{"name": ("x or y", "x or y")}]
    assert _where("not id = 7") == []
    assert _where(None) == []
    # scattered values keep exactly their files
    files = [
        {"path": f"f{i}", "partition": {}, "stats": {"id": [i * 100, i * 100 + 99]}}
        for i in range(60)
    ]
    kept = keep({"partition_by": []}, files, from_where("id in (3, 5000)"),
                {"id": "int"})
    assert [e["path"] for e in kept] == ["f0", "f50"]


def test_delete_in_list_auto_prunes(spark, tmp_path, monkeypatch):
    """`DELETE WHERE day IN (...)` — the common retention-delete shape —
    prunes the discovery scan with the list's [min, max] envelope."""
    tab = ManifestTable(str(tmp_path / "t"), stats_cols=["day"])
    rows = [
        (i, f"2024-01-{1 + i % 10:02d}", f"v{i}") for i in range(60)
    ]
    df = spark.createDataFrame(rows, "id int, day string, v string")
    tab.commit_overwrite(df.repartitionByRange(6, "day"))
    n_files = len(tab._snapshot_files(0))
    assert n_files >= 4
    seen = _spy_loads(monkeypatch)
    tab.delete_where(spark, "day IN ('2024-01-01', '2024-01-02')")
    monkeypatch.undo()
    assert seen and seen[0] < n_files, (seen, n_files)
    assert sorted(r.id for r in tab.read(spark).collect()) == [
        i for i in range(60) if i % 10 not in (0, 1)
    ]


def test_delete_or_of_conjunctions_auto_prunes(spark, tmp_path, monkeypatch):
    """A top-level OR prunes with the UNION of each branch's file set:
    two disjoint point-deletes at opposite ends of the key space touch
    two files, not six."""
    tab = ManifestTable(str(tmp_path / "t"), stats_cols=["id"])
    df = spark.createDataFrame(
        [(i, i % 5) for i in range(60)], "id int, g int"
    )
    tab.commit_overwrite(df.repartitionByRange(6, "id"))
    n_files = len(tab._snapshot_files(0))
    assert n_files >= 4
    seen = _spy_loads(monkeypatch)
    tab.delete_where(spark, "(id = 2 and g = 2) or id = 57")
    monkeypatch.undo()
    assert seen and seen[0] <= 2, (seen, n_files)
    assert sorted(r.id for r in tab.read(spark).collect()) == [
        i for i in range(60) if i not in (2, 57)
    ]

    # an OR with one unboundable branch refuses pruning but stays exact
    n_files = len(tab._snapshot_files(tab.latest_version()))
    seen2 = _spy_loads(monkeypatch)
    tab.update_where(spark, "id = 3 or length(cast(g as string)) > 99",
                     {"g": "-1"})
    monkeypatch.undo()
    assert seen2 and seen2[0] == n_files, (seen2, n_files)
    got = {r.id: r.g for r in tab.read(spark).collect()}
    assert got[3] == -1 and got[4] == 4


# ---------------------------------------------------------------------------
# round 13: auto-sized local scan splits (VERDICT r12 item 4)
# ---------------------------------------------------------------------------


def test_auto_max_partition_bytes_sizing():
    from data_lakes_tp2_student_spark.session import (
        _MIB,
        _dir_parquet_bytes,
        auto_max_partition_bytes,
    )

    # clamp floor: unknown/small input (today's sf0.1 lands here too)
    assert auto_max_partition_bytes(0, 32) == 16 * _MIB
    assert auto_max_partition_bytes(17_500_000, 32) == 16 * _MIB
    # mid-range: total / (2 × cores)
    assert auto_max_partition_bytes(64 * 64 * _MIB, 32) == 64 * _MIB
    assert auto_max_partition_bytes(100 * _MIB, 1) == 50 * _MIB
    # clamp ceiling: Spark's cluster default
    assert auto_max_partition_bytes(10**13, 32) == 128 * _MIB
    # degenerate cores never divide by zero
    assert auto_max_partition_bytes(10 * _MIB, 0) == 16 * _MIB
    # flat-dir byte probe: real testdata >10 MB, missing dir → 0
    assert _dir_parquet_bytes(SF_SMOKE) > 0
    assert _dir_parquet_bytes("/nonexistent/dir") == 0


def test_session_split_conf_applied(spark):
    """The live test session carries an auto-sized (or env-overridden)
    maxPartitionBytes in the valid clamp range."""
    v = spark.conf.get("spark.sql.files.maxPartitionBytes")
    import os
    if os.environ.get("SPARK_FILES_MAX_PARTITION_BYTES"):
        assert v == os.environ["SPARK_FILES_MAX_PARTITION_BYTES"]
    else:
        n = int(v.rstrip("b"))
        assert 16 * (1 << 20) <= n <= 128 * (1 << 20), v


def test_cond_ranges_between():
    """BETWEEN is inclusive two-sided range sugar; its inner 'and' is
    not a conjunction split point."""
    assert _where("ts between 3 and 9") == [{"ts": (3, 9)}]
    assert _where("day between '2024-01-01' and '2024-01-05'") == [
        {"day": ("2024-01-01", "2024-01-05")}
    ]
    assert _where("g = 2 and ts between 3 and 9") == [
        {"ts": (3, 9), "g": (2, 2)}
    ]
    assert _where("d between date'2024-01-02' and date'2024-01-05'") == [
        {"d": ("2024-01-02", "2024-01-05")}
    ]
    # NOT BETWEEN bounds nothing
    assert _where("ts not between 3 and 9") == []
    assert _where("ts between 3 and 9 or ts = 50") == [
        {"ts": (3, 9)},
        {"ts": (50, 50)},
    ]


def test_delete_between_auto_prunes(spark, tmp_path, monkeypatch):
    tab = ManifestTable(str(tmp_path / "t"), stats_cols=["id"])
    df = spark.createDataFrame([(i, i % 5) for i in range(60)],
                               "id int, g int")
    tab.commit_overwrite(df.repartitionByRange(6, "id"))
    n_files = len(tab._snapshot_files(0))
    assert n_files >= 4
    seen = _spy_loads(monkeypatch)
    tab.delete_where(spark, "id between 20 and 24")
    monkeypatch.undo()
    assert seen and seen[0] < n_files, (seen, n_files)
    assert sorted(r.id for r in tab.read(spark).collect()) == [
        i for i in range(60) if not 20 <= i <= 24
    ]


def test_delete_discovery_coarse_prunes_at_checkpoint(spark, tmp_path,
                                                      monkeypatch):
    """Round 13: row-level op discovery pre-prunes INSIDE the parquet
    checkpoint read — the materialized manifest entry list is already
    O(selected), not O(table files) (at 10^6 files the full dict
    manifest alone costs 8.2 s; PERF.md #69)."""
    tab = ManifestTable(
        str(tmp_path / "t"), stats_cols=["id"],
        checkpoint_interval=1,
    )
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(60)], "id int, v string"
    )
    tab.commit_overwrite(df.repartitionByRange(6, "id"))
    tab.commit_append(
        spark.createDataFrame([(1000, "tail")], df.schema).coalesce(1)
    )
    v = tab.latest_version()
    assert any(c <= v for c in tab.checkpoints())
    n_files = len(tab._snapshot_files(v))

    seen: list[int] = []
    orig = ManifestTable.manifest

    def spy(self, version, prune=None):
        m = orig(self, version, prune)
        seen.append(len(m["files"]))
        return m

    monkeypatch.setattr(ManifestTable, "manifest", spy)
    tab.delete_where(spark, "id = 7")
    monkeypatch.undo()
    assert seen and seen[0] < n_files, (seen, n_files)
    assert sorted(r.id for r in tab.read(spark).collect()) == [
        i for i in range(60) if i != 7
    ] + [1000]

    # non-UTC session: the coarse envelope is refused (UTC-instant
    # normalization), discovery sees the full list, result stays exact
    seen2: list[int] = []

    def spy2(self, version, prune=None):
        m = orig(self, version, prune)
        seen2.append(len(m["files"]))
        return m

    monkeypatch.setattr(ManifestTable, "manifest", spy2)
    with _tz(spark, "America/New_York"):
        tab.delete_where(spark, "id = 9")
    monkeypatch.undo()
    n_now = len(tab._snapshot_files(tab.latest_version()))
    assert seen2 and seen2[0] >= n_now - 1, (seen2, n_now)
    assert 9 not in {r.id for r in tab.read(spark).collect()}


def test_merge_discovery_coarse_prunes_at_checkpoint(spark, tmp_path,
                                                     monkeypatch):
    """Round 13: MERGE's source-bounds skipping also pre-prunes inside
    the parquet checkpoint read (O(selected) entry materialization) —
    EXCEPT when a NOT-MATCHED-BY-SOURCE clause needs the full snapshot."""
    tab = ManifestTable(
        str(tmp_path / "t"), stats_cols=["id"],
        checkpoint_interval=1,
    )
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(60)], "id int, v string"
    )
    tab.commit_overwrite(df.repartitionByRange(6, "id"))
    tab.commit_append(
        spark.createDataFrame([(1000, "tail")], df.schema).coalesce(1)
    )
    n_files = len(tab._snapshot_files(tab.latest_version()))

    seen: list[int] = []
    orig = ManifestTable.manifest

    def spy(self, version, prune=None):
        m = orig(self, version, prune)
        seen.append(len(m["files"]))
        return m

    src = spark.createDataFrame([(7, "patched")], "id int, v string")
    monkeypatch.setattr(ManifestTable, "manifest", spy)
    (
        tab.merge(spark, src, "t.id = s.id")
        .when_matched_update(set={"v": "s.v"})
        .execute()
    )
    monkeypatch.undo()
    assert seen and seen[0] < n_files, (seen, n_files)
    got = {r.id: r.v for r in tab.read(spark).collect()}
    assert got[7] == "patched" and got[8] == "v8" and got[1000] == "tail"

    # an NMS clause requires every target row: coarse must NOT engage
    n_now = len(tab._snapshot_files(tab.latest_version()))
    seen2: list[int] = []

    def spy2(self, version, prune=None):
        m = orig(self, version, prune)
        seen2.append(len(m["files"]))
        return m

    src2 = spark.createDataFrame([(8, "kept")], "id int, v string")
    monkeypatch.setattr(ManifestTable, "manifest", spy2)
    (
        tab.merge(spark, src2, "t.id = s.id")
        .when_matched_update(set={"v": "s.v"})
        .when_not_matched_by_source_delete(condition="t.id = 3")
        .execute()
    )
    monkeypatch.undo()
    assert seen2 and seen2[0] >= n_now, (seen2, n_now)
    ids = {r.id for r in tab.read(spark).collect()}
    assert 3 not in ids and 8 in ids and 1000 in ids


# ---------------------------------------------------------------------------
# round-13 review wave: cross-domain envelopes, empty-prune no-op, tz gate
# ---------------------------------------------------------------------------


def test_quoted_int_in_list_on_partition_column_exact(spark, tmp_path):
    """Review finding 1 (CONFIRMED repro): `b IN ('2', '10')` on an INT
    partition column — the [min, max] envelope taken in STRING order
    ('10' < '2') re-typed numerically is an EMPTY interval that silently
    pruned every matching file. Literals now normalize into the column's
    domain before any envelope; the delete must remove ALL matches."""
    tab = ManifestTable(
        str(tmp_path / "t"), stats_cols=[],
        checkpoint_interval=1,
    )
    df = spark.createDataFrame(
        [(i, i % 12) for i in range(48)], "id int, b int"
    )
    tab.commit_overwrite(df, partition_by=["b"])
    tab.commit_append(
        spark.createDataFrame([(101, 2)], df.schema), partition_by=["b"]
    )
    tab.delete_where(spark, "b IN ('2', '10')")
    got = sorted(r.id for r in tab.read(spark).collect())
    assert got == [i for i in range(48) if i % 12 not in (2, 10)], got


def test_quoted_int_in_list_stats_column_exact(spark, tmp_path):
    """Same cross-domain hazard on a STATS column: '1','9','10' as
    quoted literals — the string envelope ('1','9') would miss 10."""
    tab = ManifestTable(str(tmp_path / "t"), stats_cols=["id"])
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(15)], "id int, v string"
    )
    tab.commit_overwrite(df.repartitionByRange(5, "id"))
    tab.delete_where(spark, "id IN ('1', '9', '10')")
    got = sorted(r.id for r in tab.read(spark).collect())
    assert got == [i for i in range(15) if i not in (1, 9, 10)], got


def test_in_rewrite_order_disagreement_refuses_envelope():
    """The parser stays schema-blind (IN lists are raw value sets); the
    checkpoint envelope hulls them only after typing each value, so the
    string and numeric orders can never be confused."""
    import json as _json

    def entry(ktype):
        return {"table_schema": _json.dumps({
            "type": "struct",
            "fields": [{"name": "k", "type": ktype, "nullable": True,
                        "metadata": {}}],
        })}

    vals = ", ".join(f"'{v}'" for v in list(range(100, 131)) + [1, 9])
    pred = Pred(from_where(f"k in ({vals})").branches)
    # INT column: numeric hull; STRING column: string order is the domain
    assert envelope(pred, entry("integer")) == {"k": ((1, 130), "int")}
    assert envelope(pred, entry("string")) == {"k": (("1", "9"), "string")}
    vals2 = ", ".join(f"'{v}'" for v in range(100, 140))
    pred2 = Pred(from_where(f"k in ({vals2})").branches)
    assert envelope(pred2, entry("integer")) == {"k": ((100, 139), "int")}
    # duplicated endpoint values never false-refuse
    assert _where("k in ('2', '2')") == [{"k": frozenset({"2"})}]
    assert envelope(Pred(_where("k in ('2', '2')")), entry("integer")) == {
        "k": ((2, 2), "int")
    }


def test_no_match_delete_fully_pruned_is_noop(spark, tmp_path):
    """Review finding 2: a predicate whose bounds prune EVERY file used
    to crash in the empty-snapshot provenance branch
    (StructType.add('bigint') is not a JSON type name) — it must no-op."""
    tab = ManifestTable(str(tmp_path / "t"), stats_cols=["id"])
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(20)], "id int, v string"
    )
    v0 = tab.commit_overwrite(df.repartitionByRange(3, "id"))
    assert tab.delete_where(spark, "id = 123456789") == v0
    assert tab.update_where(spark, "id = 987654321", {"v": "'x'"}) == v0
    assert tab.delete_where(spark, "id = 123456789", mode="dv") == v0
    assert sorted(r.id for r in tab.read(spark).collect()) == list(range(20))


def test_partition_range_tz_gate_unit():
    """Review finding 3: the dict evaluator's typed PARTITION compare
    honors tz_utc — timestamp partition columns refuse pruning under a
    non-UTC session; date columns stay prunable only for date-only
    bounds."""
    import json as _json

    schema = {
        "type": "struct",
        "fields": [
            {"name": "ts", "type": "timestamp", "nullable": True,
             "metadata": {}},
            {"name": "d", "type": "date", "nullable": True,
             "metadata": {}},
            {"name": "id", "type": "long", "nullable": True,
             "metadata": {}},
        ],
    }
    m = {
        "schema": _json.dumps(schema),
        "table_schema": _json.dumps(schema),
        "partition_by": ["ts", "d"],
        "files": [],
    }
    files = [
        {"path": "a", "partition": {"ts": "2024-01-01 05:00:00",
                                    "d": "2024-01-01"}},
        {"path": "b", "partition": {"ts": "2024-01-03 05:00:00",
                                    "d": "2024-01-03"}},
    ]
    # timestamp partition: prunes under UTC, refuses otherwise
    kept_utc = keep(m, files, Pred([{"ts": ("2024-01-03", None)}], True))
    assert [e["path"] for e in kept_utc] == ["b"]
    kept_local = keep(m, files, Pred([{"ts": ("2024-01-03", None)}], False))
    assert [e["path"] for e in kept_local] == ["a", "b"]
    # date partition: date-only bounds prune under any tz; a
    # time-carrying bound refuses when not tz_utc
    kept_d = keep(m, files, Pred([{"d": ("2024-01-03", None)}], False))
    assert [e["path"] for e in kept_d] == ["b"]
    kept_dt = keep(m, files, Pred([{"d": ("2024-01-02 10:00", None)}], False))
    assert [e["path"] for e in kept_dt] == ["a", "b"]
