"""Round 12: automatic WHERE-derived file skipping for DELETE/UPDATE
(VERDICT r11 #1 — CoW hit-discovery was linear in file count unless the
user passed a `range_filter` hint) plus the three ADVICE r11 MERGE-prune
soundness items (quoted ON literals, mixed-type bound compare, and
non-deterministic merge sources).

Reference tie-in: the reference's row-level mutations are whole-file
pandas rewrites (/root/reference/src/preprocess_to_staging.py); the
100 TB target (SURVEY §6) needs Delta-style data skipping instead.
"""

from __future__ import annotations

import datetime

import pyspark.sql.functions as F
import pytest

from data_lakes_tp2_student_spark.io.manifest import (
    ManifestTable,
    _plan_deterministic,
)
from data_lakes_tp2_student_spark.io.prune import from_where, keep


def _spy_loads(monkeypatch):
    """Record the file-list size of every _load_snapshot call."""
    seen: list[int] = []
    orig = ManifestTable._load_snapshot

    def spy(self, spark_, m, files, **kw):
        seen.append(len(files))
        return orig(self, spark_, m, files, **kw)

    monkeypatch.setattr(ManifestTable, "_load_snapshot", spy)
    return seen


# ---------------------------------------------------------------------------
# from_where: the conservative WHERE parser
# ---------------------------------------------------------------------------


def _where(cond):
    """The parsed branches of `cond` ([] when it prunes nothing)."""
    p = from_where(cond)
    return p.branches if p else []


def test_cond_ranges_conjunction_and_orientation():
    assert _where("id = 7") == [{"id": (7, 7)}]
    assert _where("7 = id") == [{"id": (7, 7)}]
    assert _where("id >= 3 and id <= 9") == [{"id": (3, 9)}]
    # reversed operands flip the operator
    assert _where("3 <= id AND 9 >= id") == [{"id": (3, 9)}]
    # strict ops widen to inclusive (over-approximation)
    assert _where("id > 3 and id < 9") == [{"id": (3, 9)}]
    # one-sided ranges survive
    assert _where("ts >= 100") == [{"ts": (100, None)}]
    assert _where("ts <= 100") == [{"ts": (None, 100)}]
    # repeated bounds tighten
    assert _where("id >= 3 and id >= 5 and id <= 9 and id <= 7") == [
        {"id": (5, 7)}
    ]
    # conjuncts of other shapes (functions, LIKE) are ignored: the
    # remaining conjuncts still bound every matching row
    assert _where("id = 4 and length(v) > 2") == [{"id": (4, 4)}]
    assert _where("id = 4 and v2 like 'x%'") == [{"id": (4, 4)}]


def test_cond_ranges_literals_and_bailouts():
    assert _where("day = 'd1'") == [{"day": ("d1", "d1")}]
    assert _where("ts >= timestamp'2024-01-05 00:00:00'") == [
        {"ts": ("2024-01-05 00:00:00", None)}
    ]
    assert _where("d = date'2024-01-05'") == [
        {"d": ("2024-01-05", "2024-01-05")}
    ]
    assert _where("id = 1.5") == [{"id": (1.5, 1.5)}]
    # a literal containing ' and ' can never fabricate an atom
    assert _where("name = 'a and id = 7 and b'") == [
        {"name": ("a and id = 7 and b", "a and id = 7 and b")}
    ]
    # OR splits into branches; wrapping parens are stripped
    assert _where("id = 7 or id = 9") == [{"id": (7, 7)}, {"id": (9, 9)}]
    assert _where("(id = 7)") == [{"id": (7, 7)}]
    # NOT / double quotes / Column conditions bound nothing
    assert _where("not id = 7") == []
    assert _where('id = "x"') == []
    assert _where(object()) == []  # non-string (Column) conditions bail
    assert _where(None) == []
    # mixed literal types on one column: both sides stay raw; the
    # normalizer drops the side with no sound conversion (see below)
    assert _where("id >= 3 and id <= 'x'") == [{"id": (3, "x")}]
    # purely numeric LHS and RHS is not a column comparison
    assert _where("5 = 3") == []


def test_case_when_conditions_are_not_conjuncts():
    """The ANDs and ORs inside CASE ... END belong to its WHEN condition,
    not to the WHERE: `b = 2` below is no conjunct, and the condition is
    TRUE for exactly the rows without b = 2."""
    case = "CASE WHEN lower(s) = 'x' AND b = 2 AND c = 3 THEN false ELSE true END"
    assert _where(case) == []
    assert _where(case + " and id = 4") == [{"id": (4, 4)}]
    assert _where("id = 4 or case when b = 2 or c = 3 then true end") == []
    assert _where("id between 1 and 3 and case when b = 2 then true end") == [
        {"id": (1, 3)}
    ]
    # an END without its CASE is unbalanced: no prune
    assert _where("end > 3 and id = 1") == []


def test_range_filter_requires_pairs():
    """A malformed `range_filter` hint raises instead of being ignored."""
    from data_lakes_tp2_student_spark.io.prune import from_dicts

    assert from_dicts(range_filter={"id": [1, 5]}).branches == [{"id": (1, 5)}]
    for bad in (5, (1, 2, 3), None):
        with pytest.raises((TypeError, ValueError)):
            from_dicts(range_filter={"id": bad})


def test_unconvertible_side_is_unbounded():
    """The 'x' bound has no INT-domain value, so only `id >= 3` prunes."""
    files = [
        {"path": f"f{i}", "partition": {}, "stats": {"id": [i * 10, i * 10 + 9]}}
        for i in range(4)
    ]
    m = {"partition_by": []}
    kept = keep(m, files, from_where("id >= 13 and id <= 'x'"), {"id": "int"})
    assert [e["path"] for e in kept] == ["f1", "f2", "f3"]


# ---------------------------------------------------------------------------
# hint-free DELETE/UPDATE discovery pruning (VERDICT r11 #1)
# ---------------------------------------------------------------------------


def test_delete_where_auto_prunes_discovery(spark, tmp_path, monkeypatch):
    """A 1-row delete with no hint schedules only the stats-overlapping
    file(s), and the result is byte-identical to the unpruned path."""
    tab = ManifestTable(str(tmp_path / "t"), stats_cols=["id"])
    df = spark.createDataFrame(
        [(i, f"v{i}", f"d{i % 3}") for i in range(60)],
        "id int, v string, day string",
    )
    tab.commit_overwrite(df.repartitionByRange(6, "id"))
    n_files = len(tab._snapshot_files(0))
    assert n_files >= 4

    seen = _spy_loads(monkeypatch)
    tab.delete_where(spark, "id = 7")  # NO range_filter
    monkeypatch.undo()
    assert seen and seen[0] < n_files, (seen, n_files)
    assert sorted(r.id for r in tab.read(spark).collect()) == [
        i for i in range(60) if i != 7
    ]

    # update_where gets the same lever, hint-free
    seen2 = _spy_loads(monkeypatch)
    tab.update_where(spark, "id >= 50 and id <= 52", {"v": "'patched'"})
    monkeypatch.undo()
    assert seen2 and seen2[0] < n_files, (seen2, n_files)
    got = {r.id: r.v for r in tab.read(spark).collect()}
    assert got[50] == got[51] == got[52] == "patched" and got[49] == "v49"


def test_delete_where_dv_auto_prunes_discovery(spark, tmp_path, monkeypatch):
    """Merge-on-read DELETE discovery takes the same automatic skipping:
    files outside the bounds hold no matched positions."""
    tab = ManifestTable(str(tmp_path / "t"), stats_cols=["id"])
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(60)], "id int, v string"
    )
    tab.commit_overwrite(df.repartitionByRange(6, "id"))
    n_files = len(tab._snapshot_files(0))
    seen = _spy_loads(monkeypatch)
    tab.delete_where(spark, "id = 7", mode="dv")
    monkeypatch.undo()
    assert seen and seen[0] < n_files, (seen, n_files)
    assert sorted(r.id for r in tab.read(spark).collect()) == [
        i for i in range(60) if i != 7
    ]


def test_auto_prune_timestamp_literal_domain(spark, tmp_path, monkeypatch):
    """Stats serialize datetimes as ISOFORMAT strings; a SQL
    `timestamp'Y-m-d H:M:S'` literal (space separator) must be
    re-canonicalized or the lexicographic compare would prune files
    that DO contain matches (' ' < 'T'). Pruning must engage AND the
    result must match the predicate exactly."""
    tab = ManifestTable(str(tmp_path / "t"), stats_cols=["ts"])
    rows = [
        (i, datetime.datetime(2024, 1, 1) + datetime.timedelta(hours=6 * i))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "id int, ts timestamp")
    tab.commit_overwrite(df.repartitionByRange(5, "ts"))
    n_files = len(tab._snapshot_files(0))
    assert n_files >= 4
    seen = _spy_loads(monkeypatch)
    tab.delete_where(spark, "ts >= timestamp'2024-01-09 12:00:00'")
    monkeypatch.undo()
    assert seen and seen[0] < n_files, (seen, n_files)
    cutoff = datetime.datetime(2024, 1, 9, 12)
    assert sorted(r.id for r in tab.read(spark).collect()) == [
        i for i, (_, ts) in enumerate(rows) if ts < cutoff
    ]


def test_auto_prune_date_stats_vs_timestamp_literal(spark, tmp_path):
    """Date-only stats vs a timestamp literal: the bound is floored to
    the day (exact on the hi side, over-approximating on lo) — the
    matched set is identical to the unpruned semantics."""
    tab = ManifestTable(str(tmp_path / "t"), stats_cols=["d"])
    rows = [(i, datetime.date(2024, 1, 1 + i)) for i in range(20)]
    df = spark.createDataFrame(rows, "id int, d date")
    tab.commit_overwrite(df.repartitionByRange(4, "d"))
    # Spark casts date→timestamp(midnight): d >= '…-05 05:00' ⇔ d >= …-06
    tab.delete_where(spark, "d >= timestamp'2024-01-05 05:00:00'")
    assert sorted(r.id for r in tab.read(spark).collect()) == [0, 1, 2, 3, 4]


def test_auto_prune_string_type_mismatch_is_noop(spark, tmp_path):
    """A numeric literal against STRING stats (raw Python compare would
    TypeError) silently skips pruning instead of crashing, and the
    delete still runs."""
    tab = ManifestTable(str(tmp_path / "t"), stats_cols=["k"])
    df = spark.createDataFrame(
        [(str(i), i) for i in range(20)], "k string, n int"
    )
    tab.commit_overwrite(df.repartitionByRange(3, "k"))
    # Spark casts: k = 7 matches the row '7'
    tab.delete_where(spark, "k = 7")
    assert sorted(r.n for r in tab.read(spark).collect()) == [
        i for i in range(20) if i != 7
    ]


def test_auto_prune_composes_with_explicit_hint(spark, tmp_path, monkeypatch):
    """An explicit range_filter and the automatic bounds apply together
    (both over-approximate, intersection stays sound)."""
    tab = ManifestTable(str(tmp_path / "t"), stats_cols=["id"])
    df = spark.createDataFrame([(i, i % 5) for i in range(60)], "id int, g int")
    tab.commit_overwrite(df.repartitionByRange(6, "id"))
    n_files = len(tab._snapshot_files(0))
    seen = _spy_loads(monkeypatch)
    tab.delete_where(spark, "id = 13", range_filter={"id": (0, 30)})
    monkeypatch.undo()
    assert seen and seen[0] < n_files
    assert 13 not in {r.id for r in tab.read(spark).collect()}


# ---------------------------------------------------------------------------
# ADVICE r11: MERGE-prune soundness
# ---------------------------------------------------------------------------


def test_merge_on_with_quoted_literal_disables_parse_and_stays_correct(
    spark, tmp_path
):
    """ADVICE r11 #1: an ON clause holding a quoted literal must not be
    AND-split (a literal containing ' and t.id = s.id and ' would
    fabricate a prune key the real join does not have)."""
    tab = ManifestTable(str(tmp_path / "t"), stats_cols=["id"])
    tab.commit_overwrite(
        spark.createDataFrame(
            [(i, f"v{i}", "a and t.id = s.id and b") for i in range(20)],
            "id int, v string, name string",
        ).repartitionByRange(4, "id")
    )
    b = tab.merge(
        spark,
        spark.createDataFrame([(5, "NEW")], "id int, v string"),
        on="t.name = 'a and t.id = s.id and b' and t.id = s.id",
    )
    assert b._equi_keys() == []  # quote present → parsing fully disabled
    b.when_matched_update({"v": "s.v"}).execute()
    got = {r.id: r.v for r in tab.read(spark).collect()}
    assert got[5] == "NEW" and got[6] == "v6" and len(got) == 20


def test_merge_prune_type_mismatch_falls_back_not_crashes(spark, tmp_path):
    """ADVICE r11 #2: string source keys vs numeric target stats — the
    source's string-order bounds cannot bound the int matches, so the
    merge must not prune on that key and must produce the implicit-cast
    join result Spark gives."""
    tab = ManifestTable(str(tmp_path / "t"), stats_cols=["id"])
    tab.commit_overwrite(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(20)], "id int, v string"
        ).repartitionByRange(4, "id")
    )
    src = spark.createDataFrame([("7", "NEW")], "id string, v string")
    tab.merge(spark, src, on="t.id = s.id").when_matched_update(
        {"v": "s.v"}
    ).execute()
    got = {r.id: r.v for r in tab.read(spark).collect()}
    assert got[7] == "NEW" and got[8] == "v8"


def test_merge_nondeterministic_source_is_pinned(spark, tmp_path):
    """ADVICE r11 #3: a non-deterministic source (rand()-ordered LIMIT)
    could otherwise emit rows OUTSIDE the collected bounds on its next
    evaluation. The source is localCheckpoint-pinned, so the bounds agg,
    cardinality gate, and all join passes see the SAME rows: exactly k
    target rows end up updated."""
    tab = ManifestTable(str(tmp_path / "t"), stats_cols=["id"])
    tab.commit_overwrite(
        spark.createDataFrame(
            [(i, "old") for i in range(200)], "id int, v string"
        ).repartitionByRange(8, "id")
    )
    k = 10
    src = (
        spark.range(200)
        .select(F.col("id").cast("int").alias("id"))
        .orderBy(F.rand(  ))
        .limit(k)
        .withColumn("v", F.lit("new"))
    )
    assert not _plan_deterministic(src)
    tab.merge(spark, src, on="t.id = s.id").when_matched_update(
        {"v": "s.v"}
    ).execute()
    rows = tab.read(spark).collect()
    assert sum(r.v == "new" for r in rows) == k
    assert len(rows) == 200


def test_plan_deterministic_detection(spark):
    assert _plan_deterministic(spark.range(5))
    assert not _plan_deterministic(spark.range(5).withColumn("r", F.rand()))
    assert not _plan_deterministic(object())  # introspection failure → False
