"""ADVICE r13 fixes (round 14):

1. (low) `_typed_part_value` parsed tz-AWARE isoformat bounds into aware
   datetimes; the partition-prune branches (exact `_prune_files_range`
   and the parquet-checkpoint coarse pass-1) then compared them against
   NAIVE path-derived datetimes — an uncaught TypeError inside read()
   for a caller passing `datetime(..., tzinfo=timezone.utc)` in a
   range_filter on a timestamp-partitioned table. Aware parses now
   return None ("cannot prune"), mirroring `_norm_bounds`' aware-offset
   refusal: the read degrades to no-prune, which is always sound.
2. (low) tests/test_prune_sweep.py's 'id IS NOT NULL and id = 11'
   comment misdescribed the mechanism (doc-only; fixed in place —
   `_cond_disjuncts` bails on the NOT token so no prune engages).
3. (low) bench.py booked HOST_PROBE_REF + the 34 go-forward baselines
   from a capture whose start/end probes disagreed 2.05 vs 0.936 —
   baseline booking is now gated on probe agreement (bench.py
   `PROBE_AGREEMENT_TOL` + the provenance pins in
   tests/test_bench_gate.py).

Reference tie-in: the reference reads whole objects eagerly
(/root/reference/src/preprocess_to_staging.py) — the pruning layer that
replaces those full scans at 100 TB must degrade to "scan everything",
never to an exception or a wrong file set.
"""

from __future__ import annotations

import datetime

from data_lakes_tp2_student_spark.io.manifest import ManifestTable
from data_lakes_tp2_student_spark.io.prune import _typed_part_value


def test_typed_part_value_refuses_aware(monkeypatch):
    """Unit: aware isoformat strings (the str() of an aware datetime or
    a TIMESTAMP_MICROS footer echo) parse to None = cannot prune; naive
    strings keep parsing."""
    aware = "2024-01-02 03:00:00+00:00"
    assert _typed_part_value(aware, "timestamp") is None
    assert _typed_part_value(aware, "timestamp_ntz") is None
    assert _typed_part_value("2024-01-02T03:00:00+05:30", "timestamp") is None
    naive = _typed_part_value("2024-01-02 03:00:00", "timestamp")
    assert naive == datetime.datetime(2024, 1, 2, 3, 0)
    assert _typed_part_value("2024-01-02", "date") == datetime.datetime(
        2024, 1, 2
    )


def _ts_table(spark, root, **kw):
    tab = ManifestTable(str(root), **kw)
    rows = [
        (i, datetime.datetime(2024, 1, 1 + i, 5, 0)) for i in range(4)
    ]
    df = spark.createDataFrame(rows, "id int, ts timestamp")
    tab.commit_overwrite(df, partition_by=["ts"])
    return tab


def test_aware_bound_on_timestamp_partition_reads(spark, tmp_path):
    """ADVICE r13 item 1, exact branch: an aware bound used to raise
    TypeError inside read(); it must instead refuse the prune and
    return the full correct row set (the row-level predicate is the
    caller's job per read()'s contract)."""
    tab = _ts_table(spark, tmp_path / "t")
    aware_lo = datetime.datetime(
        2024, 1, 3, tzinfo=datetime.timezone.utc
    )
    got = tab.read(spark, range_filter={"ts": (aware_lo, None)})
    # no prune: every row comes back, nothing raises
    assert sorted(r.id for r in got.collect()) == [0, 1, 2, 3]
    # naive bound on the same table still prunes (typed compare active)
    pruned = tab.read(
        spark,
        range_filter={"ts": (datetime.datetime(2024, 1, 3, 0, 0), None)},
    )
    assert sorted(r.id for r in pruned.collect()) == [2, 3]


def test_aware_bound_checkpoint_coarse_path(spark, tmp_path):
    """ADVICE r13 item 1, checkpoint pass-1 branch: same refusal through
    the parquet-checkpoint coarse prune (`part::ts` column compare at
    io/manifest.py pass 1)."""
    tab = _ts_table(
        spark,
        tmp_path / "t",
        checkpoint_interval=1,
    )
    aware_lo = datetime.datetime(
        2024, 1, 3, tzinfo=datetime.timezone.utc
    )
    got = tab.read(spark, range_filter={"ts": (aware_lo, None)})
    assert sorted(r.id for r in got.collect()) == [0, 1, 2, 3]
    pruned = tab.read(
        spark,
        range_filter={"ts": (datetime.datetime(2024, 1, 3, 0, 0), None)},
    )
    assert sorted(r.id for r in pruned.collect()) == [2, 3]
