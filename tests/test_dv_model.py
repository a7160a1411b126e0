"""Model-based property test for the round-14 DV machinery: a random
sequence of row-level operations — merge-on-read DELETE/UPDATE (which
now MERGE stacked DVs at commit), copy-on-write DELETE, REORG purges,
file-selective compaction — must keep every historical version equal to
an in-memory model, keep `dv` depth at exactly ≤ 1 per file, and keep
the metadata-only row_count exact. Operation orders no hand-written
test enumerates are exactly where a merge/purge bookkeeping slip would
hide (e.g. a reorg between two DV deletes re-pointing the wrong rel).
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from data_lakes_tp2_student_spark.io.datasource import ManifestDataSource
from data_lakes_tp2_student_spark.io.manifest import ManifestTable

N = 16  # id space; initial table has one row per id across 4 files

_op = st.one_of(
    st.tuples(st.just("delete_dv"), st.integers(0, N - 1)),
    st.tuples(st.just("update_dv"), st.integers(0, N - 1)),
    st.tuples(st.just("delete_cow"), st.integers(0, N - 1)),
    st.tuples(st.just("reorg"), st.sampled_from([0.0, 0.5])),
    st.tuples(st.just("compact"), st.just(0)),
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=st.lists(_op, min_size=1, max_size=5))
def test_random_rowlevel_sequences_match_model(spark, tmp_path_factory, ops):
    tab = ManifestTable(
        str(tmp_path_factory.mktemp("dvmodel") / "t"), stats_cols=["id"]
    )
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(N)], "id long, v string"
    ).repartitionByRange(4, "id")
    v = tab.commit_overwrite(df)
    model = {i: f"v{i}" for i in range(N)}
    history = {v: dict(model)}
    for kind, arg in ops:
        if kind == "delete_dv":
            nv = tab.delete_where(spark, f"id = {arg}", mode="dv")
            model.pop(arg, None)
        elif kind == "update_dv":
            nv = tab.update_where(
                spark, f"id = {arg}", {"v": "'U'"}, mode="dv"
            )
            if arg in model:
                model[arg] = "U"
        elif kind == "delete_cow":
            nv = tab.delete_where(spark, f"id = {arg}")
            model.pop(arg, None)
        elif kind == "reorg":
            nv = tab.reorg(spark, min_deleted_ratio=arg)
        else:
            nv = tab.compact(spark, small_file_bytes=1 << 30)
        if nv > v:  # no-op ops return the unchanged latest version
            v = nv
            history[v] = dict(model)
        # dv depth invariant: the commit-time merge keeps every file at
        # at most ONE deletion-vector reference, whatever the order
        m = tab.manifest(v)
        depths = [len(e.get("dv", ())) for e in m["files"]]
        assert all(d <= 1 for d in depths), depths
        # metadata-only count stays exact through merges and purges
        assert tab.row_count() == len(model)
    # EVERY version still reads as its model snapshot (time travel
    # through merged DVs, purges, and compactions)
    for ver, snap in history.items():
        got = sorted(
            (r.id, r.v) for r in tab.read(spark, version=ver).collect()
        )
        assert got == sorted(snap.items()), f"version {ver} diverged"
    # the latest version through the two readers that apply DVs in
    # Python (io/dv.py) instead of the anti-join: the registered format
    # and a deep clone, which materializes every DV
    spark.dataSource.register(ManifestDataSource)
    fmt = spark.read.format("manifest").option("path", tab.root).load()
    assert sorted((r.id, r.v) for r in fmt.collect()) == sorted(model.items())
    clone = tab.clone_to(str(tmp_path_factory.mktemp("dvclone") / "c"))
    got = sorted((r.id, r.v) for r in clone.read(spark).collect())
    assert got == sorted(model.items())
    assert clone.row_count() == len(model)


@pytest.mark.parametrize("seed", [0])
def test_dv_model_smoke(spark, tmp_path, seed):
    """Deterministic pin of the nastiest interleaving: two DV deletes on
    one file (merge), a partial reorg (one file purged, one keeps its
    DV), a DV update on the purged range, then a full compact."""
    tab = ManifestTable(str(tmp_path / "t"), stats_cols=["id"])
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(N)], "id long, v string"
    ).repartitionByRange(4, "id")
    tab.commit_overwrite(df)
    tab.delete_where(spark, "id = 1", mode="dv")
    tab.delete_where(spark, "id = 2", mode="dv")  # same file: merged
    tab.delete_where(spark, "id = 9", mode="dv")  # another file
    v = tab.reorg(spark, min_deleted_ratio=0.4)  # purges the 2/4 file only
    m = tab.manifest(v)
    assert sum(1 for e in m["files"] if e.get("dv")) == 1
    tab.update_where(spark, "id = 3", {"v": "'U'"}, mode="dv")
    tab.compact(spark, small_file_bytes=1 << 30)
    got = {r.id: r.v for r in tab.read(spark).collect()}
    expect = {i: f"v{i}" for i in range(N) if i not in (1, 2, 9)}
    expect[3] = "U"
    assert got == expect
    assert not any(e.get("dv") for e in tab.manifest(tab.latest_version())["files"])
