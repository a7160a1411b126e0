"""The hardened local gate must fail where the driver's hash fails
(VERDICT r2 item 2 'done' criterion: a deliberately decimal-typed fixture
fails locally) — and must NOT fail on the differences the driver tolerates
(timestamp resolution, date vs midnight-timestamp, int width).
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import numpy as np
import pandas as pd

from .oracle import _str, canon_strings, spark_nonportable_fields


def test_decimal_output_flagged_nonportable(spark):
    df = spark.sql("SELECT CAST(123.40 AS DECIMAL(18,2)) AS money")
    assert spark_nonportable_fields(df) == ["money"]


def test_array_output_flagged_nonportable(spark):
    df = spark.sql("SELECT array(1.0, 2.0) AS qs")
    assert spark_nonportable_fields(df) == ["qs"]


def test_decimal_registration_fails_the_gate(spark):
    """End-to-end dtype gate (VERDICT r3 item 8): REGISTERING a query whose
    output carries a decimal column must fail `compare_query` — the same
    path `test_catalog_oracle` runs for every registry entry — so no future
    registration can silently reintroduce decimal/array outputs."""
    import pytest

    from data_lakes_tp2_student_spark.registry import REGISTRY, register
    from .oracle import compare_query

    name = "_test_deliberately_decimal"
    try:

        @register(name, oracle="SELECT CAST(123.40 AS DECIMAL(18,2)) AS money")
        def _bad(spark, sf_dir):
            return spark.sql("SELECT CAST(123.40 AS DECIMAL(18,2)) AS money")

        with pytest.raises(AssertionError, match="non-portable"):
            compare_query(spark, name, "/root/testdata/sf0.001")
    finally:
        REGISTRY.pop(name, None)


def test_double_and_bigint_outputs_portable(spark):
    df = spark.sql(
        "SELECT CAST(1.5 AS DOUBLE) AS d, CAST(5 AS BIGINT) AS n, 'x' AS s, "
        "TIMESTAMP '2021-01-01 00:00:00' AS ts"
    )
    assert spark_nonportable_fields(df) == []


def test_decimal_trailing_zero_renders_differently():
    """The exact driver failure mode: a decimal column survives Spark's
    toPandas as Decimal objects ('123.40') while DuckDB's .df() lands it as
    float64 ('123.4') — equal values, different strings. (The old local gate
    compared cursor.fetchall() values, where BOTH sides were Decimal and
    compared equal — which is exactly how local-green coexisted with
    driver-red for two rounds.)"""
    assert _str(Decimal("123.40")) != _str(123.4)


def test_bigint_vs_float_distinguished():
    """e3b/x18/q12/x9 failure mode: DuckDB hugeint lands float64 ('5.0'),
    Spark bigint lands int64 ('5')."""
    spark_side = pd.DataFrame({"v": np.array([5], dtype=np.int64)})
    oracle_side = pd.DataFrame({"v": np.array([5.0], dtype=np.float64)})
    assert canon_strings(spark_side) != canon_strings(oracle_side)


def test_timestamp_resolution_tolerated():
    """i3/i7/i8/c7 driver behavior: ns vs us landings hash equal."""
    ns = pd.DataFrame({"ts": pd.to_datetime(["2021-01-04 10:30:00"]).astype("datetime64[ns]")})
    us = pd.DataFrame({"ts": pd.to_datetime(["2021-01-04 10:30:00"]).astype("datetime64[us]")})
    assert canon_strings(ns) == canon_strings(us)


def test_date_vs_midnight_timestamp_tolerated():
    """x13 driver behavior: datetime.date objects vs datetime64 midnights
    hash equal."""
    obj = pd.DataFrame({"d": [dt.date(2021, 1, 4)]})
    t64 = pd.DataFrame({"d": pd.to_datetime(["2021-01-04"])})
    assert canon_strings(obj) == canon_strings(t64)


def test_int_width_tolerated():
    """f6/q8 (pre-fix) driver behavior: int32 vs int64 hash equal."""
    i32 = pd.DataFrame({"v": np.array([7], dtype=np.int32)})
    i64 = pd.DataFrame({"v": np.array([7], dtype=np.int64)})
    assert canon_strings(i32) == canon_strings(i64)


def test_row_order_and_column_order_insensitive():
    a = pd.DataFrame({"x": [1, 2], "y": ["b", "a"]})
    b = pd.DataFrame({"y": ["a", "b"], "x": [2, 1]})
    assert canon_strings(a) == canon_strings(b)


# ---------------------------------------------------------------------------
# Mutation canaries (VERDICT r5 item 3): the local gate is the ONLY check for
# the registry entries the driver never samples, so prove — per catalog
# module — that compare_query actually FAILS when either side drifts. Each
# canary perturbs a real query's oracle (value nudge / dropped row / extra
# column) and expects the gate to throw; a gate that passes a mutated oracle
# is a gate that proves nothing.
# ---------------------------------------------------------------------------

_VALUE_MUTATIONS = {
    # one canary per catalog module, value-level (rows+schema unchanged so
    # ONLY the hash can catch it)
    "d3_group_sizes": "SELECT source, n + 1 AS n FROM ({o}) t",  # stats
    "x6_tpch_q6": "SELECT revenue + 1 AS revenue FROM ({o}) t",  # relational
    "i1_tumbling_window": (  # streaming
        "SELECT window_start, event_type, n, sum_value + 0.5 AS sum_value "
        "FROM ({o}) t"
    ),
    "x4_term_frequency": "SELECT word, tf + 1 AS tf FROM ({o}) t",  # corpus
    "f1_sort": "SELECT n_name, pos + 1 AS pos FROM ({o}) t",  # relational
    # round-7 (VERDICT r6 item 2): the round-6 modules route through
    # FILESYSTEM state (manifest log + txn data dirs) and mapInPandas
    # walkers — the most novel failure surfaces; prove the gate fails on
    # a value nudge there too. DuckDB's `* REPLACE` keeps the schema
    # identical so ONLY the hash can catch these.
    "x52_snapshot_upsert": (  # lake: full commit->read manifest path
        "SELECT * REPLACE (o_totalprice + 1 AS o_totalprice) FROM ({o}) t"
    ),
    "x54_change_data_feed": (  # lake: snapshot_diff CDF path
        "SELECT * REPLACE (o_totalprice + 1 AS o_totalprice) FROM ({o}) t"
    ),
    "x56_zorder_skipping_read": (  # lake: zorder + file-skipping read
        "SELECT * REPLACE (o_totalprice + 1 AS o_totalprice) FROM ({o}) t"
    ),
    "x5k_mp3_metadata": (  # media_containers: MP3 frame walk
        "SELECT * REPLACE (duration_us + 1 AS duration_us) FROM ({o}) t"
    ),
    "x5l_mp4_metadata": (  # media_containers: ISO-BMFF box walk
        "SELECT * REPLACE (duration_ms + 1 AS duration_ms) FROM ({o}) t"
    ),
    # round-8 (VERDICT r7 item 3): the two new filesystem/binary-path
    # queries whose failure modes the earlier canaries don't exercise.
    "x57_restore_rollback": (  # lake: RESTORE moved the head — a
        # value nudge distinguishes "read the restored v0" from "read
        # anything else"; only the hash can catch it
        "SELECT * REPLACE (o_totalprice + 1 AS o_totalprice) FROM ({o}) t"
    ),
    "x5m_avi_frames": (  # media_containers: RIFF walk + JPEG entropy
        # decode — nudging the predicted pixel sum must trip the gate,
        # proving the luma oracle really constrains the decoded pixels
        "SELECT * REPLACE (px_sum + 1 AS px_sum) FROM ({o}) t"
    ),
    # round-8: the S3-backed commit path (x58) — same nudge as x52 so a
    # regression in the object-store log/readback path cannot hide
    # behind a vacuous comparison
    "x58_s3_lake_commit": (
        "SELECT * REPLACE (o_totalprice + 1 AS o_totalprice) FROM ({o}) t"
    ),
    # round-8: the copy-on-write row-level paths — a value nudge proves
    # the gate constrains WHICH rows the rewrite dropped/changed
    "x59_delete_where": (
        "SELECT * REPLACE (o_totalprice + 1 AS o_totalprice) FROM ({o}) t"
    ),
    "x60_update_where": (
        "SELECT * REPLACE (o_totalprice + 1 AS o_totalprice) FROM ({o}) t"
    ),
    # the merge-on-read twins: the canary proves the gate would catch a
    # DV read path that dropped/changed the wrong rows
    "x61_delete_dv": (
        "SELECT * REPLACE (o_totalprice + 1 AS o_totalprice) FROM ({o}) t"
    ),
    "x62_update_dv": (
        "SELECT * REPLACE (o_totalprice + 1 AS o_totalprice) FROM ({o}) t"
    ),
    # the clause-level MERGE: a value nudge proves the gate constrains
    # which rows each WHEN clause claimed (update/delete/insert/NMS)
    "x63_merge_clauses": (
        "SELECT * REPLACE (o_totalprice + 1 AS o_totalprice) FROM ({o}) t"
    ),
    # the streaming CDC apply: micro-batch delivery -> per-batch MERGE ->
    # commit -> read-back; the nudge proves the gate constrains the final
    # committed state of that whole chain
    "i13_stream_cdc_merge": (
        "SELECT * REPLACE (o_totalprice + 1 AS o_totalprice) FROM ({o}) t"
    ),
    # CHECK constraints: the nudge proves the gate constrains the final
    # state of the add-constraint -> rejected-append -> valid-append chain
    "x64_check_constraint": (
        "SELECT * REPLACE (o_totalprice + 1 AS o_totalprice) FROM ({o}) t"
    ),
    # the manifest STREAMING SOURCE: offsets->partitions->arrow read path;
    # the nudge proves the gate constrains the streamed row values
    "i14_stream_lake_source": (
        "SELECT * REPLACE (o_totalprice + 1 AS o_totalprice) FROM ({o}) t"
    ),
    # the registered BATCH format: partition-value injection + DV mask +
    # pushdown pruning all sit between the manifest and the returned rows
    # — the nudge proves the gate constrains the values that chain yields
    "x65_dsv2_batch_read": (
        "SELECT * REPLACE (o_totalprice + 1 AS o_totalprice) FROM ({o}) t"
    ),
    # the registered batch WRITER: executor-staged files -> entry commit
    # -> read-back; the nudge proves the gate constrains what was written
    "x66_dsv2_batch_write": (
        "SELECT * REPLACE (o_totalprice + 1 AS o_totalprice) FROM ({o}) t"
    ),
    # the S3 batch WRITER (round 10): executor-side uploads to the txn
    # prefix -> conditional-put commit -> registered-reader read-back;
    # the nudge proves the gate constrains the bytes that crossed the
    # object store, not just their count
    "x71_dsv2_s3_write": (
        "SELECT * REPLACE (o_totalprice + 1 AS o_totalprice) FROM ({o}) t"
    ),
    # the STREAMING SINK: per-epoch atomic commits + txn idempotence; the
    # nudge proves the gate constrains the final committed table
    "i15_stream_lake_sink": (
        "SELECT * REPLACE (o_totalprice + 1 AS o_totalprice) FROM ({o}) t"
    ),
    # DEEP CLONE: byte-copy of a pinned snapshot; the nudge proves the
    # gate constrains that the clone is the PRE-merge version, not the
    # mutated head (and that the copied bytes decode to the same rows)
    "x67_deep_clone": (
        "SELECT * REPLACE (o_totalprice + 1 AS o_totalprice) FROM ({o}) t"
    ),
    # round-9 COLUMN MAPPING: the nudge proves the gate constrains the
    # values served through the logical→physical indirection (latest
    # read across both physical layouts AND the v0 time travel) — a
    # mapping bug that relabeled to the wrong physical column or
    # null-filled a renamed column could not hide behind row counts
    "x68_column_rename": (
        "SELECT * REPLACE (price + 1 AS price) FROM ({o}) t"
    ),
    # drop + re-add: the nudge proves the gate constrains the NULL/new
    # split — a resurrection bug (old physical bytes served under the
    # re-added logical name) could not hide behind row counts
    "x69_column_drop": (
        "SELECT snap, o_orderkey, concat(o_orderstatus, '!') AS o_orderstatus "
        "FROM ({o}) t"
    ),
    # metadata row count: the nudge proves the gate constrains the
    # metadata-vs-scan agreement (a drifting numRecords counter is the
    # classic silent lakehouse bug)
    "x70_metadata_row_count": (
        "SELECT phase, meta_rows + 1 AS meta_rows, scan_rows FROM ({o}) t"
    ),
    # round-11 mapped WRITER through the registered format: the nudge
    # proves the gate constrains the values that crossed the
    # physical-name staging + mapping-publishing commit — a writer that
    # staged under the wrong physical (detaching bytes from the logical
    # name) or dropped the mapping could not hide behind row counts
    "x72_dsv2_mapped_write": (
        "SELECT * REPLACE (price + 1 AS price) FROM ({o}) t"
    ),
    # round-11 substring-dedup POLICY variant: the nudge proves the gate
    # constrains the SPAN GEOMETRY under the df-cap + min-span levers
    # (a drifting cap or length threshold changes which spans survive,
    # and a start/length bug changes their coordinates)
    "x32b_substring_dedup_capped": (
        "SELECT id_a, id_b, start_a, len_words + 1 AS len_words FROM ({o}) t"
    ),
}


def _with_mutated_oracle(name: str, template: str):
    from data_lakes_tp2_student_spark.registry import REGISTRY, Query

    q = REGISTRY[name]
    return Query(
        name=q.name, fn=q.fn, oracle=template.format(o=q.oracle), doc=q.doc
    )


def _expect_gate_failure(spark, name: str, template: str):
    import pytest

    import data_lakes_tp2_student_spark.catalog  # noqa: F401
    from data_lakes_tp2_student_spark.registry import REGISTRY

    from .oracle import compare_query

    original = REGISTRY[name]
    REGISTRY[name] = _with_mutated_oracle(name, template)
    try:
        with pytest.raises(AssertionError):
            compare_query(spark, name, "/root/testdata/sf0.001")
    finally:
        REGISTRY[name] = original


import pytest as _pytest


@_pytest.mark.parametrize("name", sorted(_VALUE_MUTATIONS))
def test_value_mutation_fails_gate(spark, name):
    _expect_gate_failure(spark, name, _VALUE_MUTATIONS[name])


def test_dropped_row_fails_gate(spark):
    # analytics module canary: x13 returns 5 rows at sf0.001 — losing all
    # but one must trip the row-count check
    _expect_gate_failure(
        spark, "x13_cohort_retention", "SELECT * FROM ({o}) t LIMIT 1"
    )


def test_extra_column_fails_gate(spark):
    _expect_gate_failure(
        spark, "d3_group_sizes", "SELECT *, 1 AS zz_canary FROM ({o}) t"
    )


@_pytest.mark.parametrize(
    "name",
    [
        "i14_stream_lake_source",
        "i15_stream_lake_sink",
        "x53_time_travel",
        "x57_restore_rollback",
    ],
)
def test_lifecycle_mutation_fails_gate(spark, name):
    """VERDICT r9 item 7 — canaries for the two lifecycle families whose
    failure modes are ROW-SUBSET shaped, not value-nudge shaped. Each
    mutated oracle is the exact table state a specific lifecycle bug
    would produce; the gate must tell it apart from the correct output:

    - i14: a wrong starting-offset resolution that skips the initial
      snapshot (v0) delivers only the two append commits;
    - i15: a redelivered final epoch committed TWICE (txn idempotence
      broken) appends the last batch's rows a second time;
    - x53: a time-travel read that ignores the version pin and serves
      the v1 merge head instead of pinned v0;
    - x57: a restore that fails to move the head back, leaving the
      "bad deploy" merge in place.
    """
    from data_lakes_tp2_student_spark.catalog.lake import _X8_ORACLE

    template = {
        "i14_stream_lake_source": (
            "SELECT * FROM orders WHERE o_orderkey % 3 <> 0"
        ),
        "i15_stream_lake_sink": (
            "SELECT * FROM orders UNION ALL "
            "SELECT * FROM orders WHERE o_orderkey % 3 = 2"
        ),
        "x53_time_travel": _X8_ORACLE,
        "x57_restore_rollback": _X8_ORACLE,
    }[name]
    _expect_gate_failure(spark, name, template)


@_pytest.mark.parametrize(
    "name", ["d2x_approx_count_distinct", "d8x_percentiles_approx"]
)
def test_sketch_bound_canaries(spark, name):
    """VERDICT r9 item 5: the sketches' tolerance gate must FAIL on a
    nudged value (proving the bound constrains the output, not just the
    row count) and pass unmutated."""
    from pyspark.sql import functions as F

    import data_lakes_tp2_student_spark.catalog  # noqa: F401
    from data_lakes_tp2_student_spark.registry import REGISTRY, Query

    from .oracle import compare_query

    q = REGISTRY[name]
    assert q.oracle is None and q.tol_oracle is not None
    # unmutated: the sketch sits inside the exact bound
    compare_query(spark, name, "/root/testdata/sf0.001")

    def nudged(spark_, sf_, _fn=q.fn):
        df = _fn(spark_, sf_)
        return df.select(
            *[(F.col(c) * 10).cast("bigint").alias(c) for c in df.columns]
        )

    REGISTRY[name] = Query(
        name=q.name, fn=nudged, oracle=None, doc=q.doc, tol_oracle=q.tol_oracle
    )
    try:
        with _pytest.raises(AssertionError, match="outside exact bound"):
            compare_query(spark, name, "/root/testdata/sf0.001")
    finally:
        REGISTRY[name] = q


def test_unmutated_canary_queries_pass_gate(spark):
    """The canaries above prove the gate can fail; this proves the failure
    is CAUSED by the mutation (not pre-existing breakage in the sampled
    queries)."""
    import data_lakes_tp2_student_spark.catalog  # noqa: F401

    from .oracle import compare_query

    for name in sorted(_VALUE_MUTATIONS) + [
        "x13_cohort_retention",
        "i14_stream_lake_source",
        "x53_time_travel",
        "x57_restore_rollback",
    ]:
        compare_query(spark, name, "/root/testdata/sf0.001")
