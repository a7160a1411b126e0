"""Predicate-grammar sweep over the WHERE-derived pruning machinery
(round 13): for every shape the parser claims to bound — conjunctions,
top-level ORs, IN-lists (small/expanded and large/enveloped), BETWEEN,
quoted-vs-native literal domains, date literals, partition columns —
run a real `delete_where` against a table where the prune CAN engage
and compare the surviving rows with the engine's own UNPRUNED filter
of the pre-delete snapshot. Any unsound prune (a missed delete or an
over-delete) fails the equality; `restore()` rewinds between cases so
every predicate sees the same data.

This is the standing guard for the class of bug the round-13 review
caught live (string-ordered envelopes re-typed into numeric domains):
new predicate shapes must survive this sweep, not just their own
hand-written case.
"""

from __future__ import annotations

import datetime

import pyspark.sql.functions as F
import pytest

from data_lakes_tp2_student_spark.io.manifest import ManifestTable

PREDICATES = [
    # plain conjunction shapes
    "id = 7",
    "id >= 50 and id <= 53",
    "id > 10 and id < 14",
    "7 = id",
    "id = 7 and g = 7",
    "id = 7 and g = 3",  # contradiction: deletes nothing
    # quoted literals crossing into the numeric domain
    "id = '7'",
    "id IN ('1', '9', '10')",
    "id IN ('2', '10')",
    "g IN ('0', '4')",
    # IN shapes: expanded (small) and enveloped (large)
    "id IN (3, 50, 97)",
    "id IN (" + ", ".join(str(v) for v in range(20, 60)) + ")",
    "id IN (" + ", ".join(f"'{v}'" for v in range(20, 60)) + ")",
    "id IN (" + ", ".join(f"'{v}'" for v in list(range(100, 131)) + [1, 9]) + ")",
    # BETWEEN
    "id between 30 and 34",
    "id between '30' and '34'",
    "g = 2 and id between 10 and 90",
    # top-level OR of conjunctions
    "id = 2 or id = 95",
    "(id = 2 and g = 2) or id = 95",
    "(id between 5 and 8) or (id between 90 and 93)",
    "id = 3 or s = 'w50'",
    "id = 3 or length(s) > 99",  # unboundable branch: no prune, exact
    # string column predicates
    "s = 'w7'",
    "s IN ('w1', 'w50')",
    "s between 'w10' and 'w19'",
    # date column predicates
    "d = date'2024-01-05'",
    "d >= date'2024-01-20' and d <= date'2024-01-25'",
    "d IN (date'2024-01-03', date'2024-01-08')",
    "d >= timestamp'2024-01-10 05:00:00'",
    # partition column (p = id % 5 as int)
    "p = 3",
    "p IN ('1', '4')",
    "p between 2 and 3",
    "p = 2 and id >= 60",
    "(p = 0 and id < 10) or (p = 4 and id > 90)",
    # mixed / degenerate
    # the IS NOT NULL conjunct is ignored and `id = 11` alone prunes
    "id IS NOT NULL and id = 11",
    "not id = 7",  # bounds nothing: no prune, exact
    "id = 7 or not g = 2",
    # the ANDs/ORs of a CASE's WHEN are no conjuncts of the WHERE: each
    # condition is TRUE for the rows a conjunct-split would prune away
    "CASE WHEN lower(s) = 'w7' AND id = 7 AND p = 2 THEN false ELSE true END",
    "CASE WHEN id = 7 OR p = 2 THEN false ELSE true END",
    "id < 40 and case when s = 'w7' and id = 7 then false else true end",
]


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("sweep") / "t"
    tab = ManifestTable(
        str(root), stats_cols=["id", "s", "d"],
        checkpoint_interval=1,
    )
    rows = [
        (
            i,
            i % 9,
            f"w{i}",
            datetime.date(2024, 1, 1) + datetime.timedelta(days=i % 28),
            i % 5,
        )
        for i in range(100)
    ]
    df = spark.createDataFrame(rows, "id int, g int, s string, d date, p int")
    tab.commit_overwrite(df.repartitionByRange(6, "id"), partition_by=["p"])
    # an append on top of the checkpoint exercises the post-checkpoint
    # replay path during every coarse-scoped discovery
    tab.commit_append(
        spark.createDataFrame(
            [(1000, 1, "w1000", datetime.date(2024, 2, 1), 0)], df.schema
        ).coalesce(1),
        partition_by=["p"],
    )
    return tab


@pytest.mark.parametrize("pred", PREDICATES)
def test_delete_matches_unpruned_filter(spark, table, pred):
    tab = table
    before = tab.latest_version()
    base = tab.read(spark)
    expected = sorted(
        r.id
        for r in base.filter(
            ~F.coalesce(F.expr(pred).cast("boolean"), F.lit(False))
        ).collect()
    )
    tab.delete_where(spark, pred)
    got = sorted(r.id for r in tab.read(spark).collect())
    try:
        assert got == expected, (pred, len(got), len(expected))
    finally:
        if tab.latest_version() != before:
            tab.restore(before)


DV_PREDICATES = [
    "id IN ('2', '10')",
    "(id = 2 and g = 2) or id = 95",
    "id between '30' and '34'",
    "p IN ('1', '4')",
    "d >= timestamp'2024-01-10 05:00:00'",
    "s IN ('w1', 'w50')",
    "CASE WHEN lower(s) = 'w7' AND id = 7 AND p = 2 THEN false ELSE true END",
]


@pytest.mark.parametrize("pred", DV_PREDICATES)
def test_dv_delete_matches_unpruned_filter(spark, table, pred):
    """The merge-on-read DV path shares the WHERE predicate and both
    evaluators — the same sweep contract holds."""
    tab = table
    before = tab.latest_version()
    base = tab.read(spark)
    expected = sorted(
        r.id
        for r in base.filter(
            ~F.coalesce(F.expr(pred).cast("boolean"), F.lit(False))
        ).collect()
    )
    tab.delete_where(spark, pred, mode="dv")
    got = sorted(r.id for r in tab.read(spark).collect())
    try:
        assert got == expected, (pred, len(got), len(expected))
    finally:
        if tab.latest_version() != before:
            tab.restore(before)


@pytest.mark.parametrize(
    "pred",
    ["id IN ('1', '9', '10')", "(p = 0 and id < 10) or id = 95",
     "id between 30 and 34"],
)
def test_update_matches_unpruned_filter(spark, table, pred):
    tab = table
    before = tab.latest_version()
    base = tab.read(spark)
    expected = sorted(
        r.id
        for r in base.filter(
            F.coalesce(F.expr(pred).cast("boolean"), F.lit(False))
        ).collect()
    )
    tab.update_where(spark, pred, {"g": "-1"})
    got = sorted(r.id for r in tab.read(spark).filter("g = -1").collect())
    try:
        assert got == expected, (pred, len(got), len(expected))
    finally:
        if tab.latest_version() != before:
            tab.restore(before)
