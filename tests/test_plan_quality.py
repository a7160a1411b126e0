"""Physical-plan assertions (the 100 TB story, checked mechanically):
filter pushdown, partition pruning on partitioned zone writes, and
shuffle-free joins via bucketing.
"""

from __future__ import annotations

import io
import contextlib

import pytest
from pyspark.sql import functions as F


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_and_column_pruning(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    df = li.filter(F.col("l_shipdate") < "1996-01-01").select(
        "l_orderkey", "l_extendedprice"
    )
    p = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in p
    # pruned scan: only the three referenced columns reach the reader
    schema_line = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" in schema_line and "l_comment" not in schema_line
    assert schema_line.count(":") <= 4


def test_partition_pruning_on_partitioned_write(spark, tmp_path):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "docs_by_lang")
    docs.write.mode("overwrite").partitionBy("lang").parquet(out)
    df = spark.read.parquet(out).filter(F.col("lang") == "en")
    p = plan_of(df)
    assert "PartitionFilters" in p and "lang" in p
    # only the lang=en directory is scanned
    n_en = docs.filter(F.col("lang") == "en").count()
    assert df.count() == n_en


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """bucketBy co-locates both sides on the join key: the sort-merge join
    plan contains NO Exchange — the shape that survives a 100× scale-up."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try:
        orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        orders.write.mode("overwrite").bucketBy(4, "o_orderkey").sortBy(
            "o_orderkey"
        ).saveAsTable("b_orders")
        li.write.mode("overwrite").bucketBy(4, "l_orderkey").sortBy(
            "l_orderkey"
        ).saveAsTable("b_lineitem")
        j = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        p = plan_of(j)
        assert "Exchange" not in p, f"bucketed join still shuffles:\n{p}"
        assert j.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_compaction_sizes_output_files(spark, tmp_path):
    """Small-files compaction: 32 tiny input files rewrite into the computed
    file count with content intact (io/sinks.py:compact_parquet)."""
    from data_lakes_tp2_student_spark.io.sinks import compact_parquet
    import glob

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path / "fragmented")
    docs.repartition(32).write.mode("overwrite").parquet(src)
    assert len(glob.glob(f"{src}/part-*.parquet")) == 32

    dst = str(tmp_path / "compacted")
    n = compact_parquet(spark, src, dst, target_file_bytes=256 * 1024)
    files = glob.glob(f"{dst}/part-*.parquet")
    assert len(files) == n and n < 32
    back = spark.read.parquet(dst)
    assert back.count() == docs.count()
    assert sorted(back.columns) == sorted(docs.columns)


def test_resample_spine_join_is_broadcast(spark):
    """x11 gap-fill: the dense spine (groups × hours) is the broadcast side;
    the counts side never reshuffles for the join."""
    from data_lakes_tp2_student_spark.registry import REGISTRY
    import data_lakes_tp2_student_spark.catalog  # noqa: F401

    df = REGISTRY["x11_resample_gapfill"].fn(spark, "/root/testdata/sf0.001")
    assert "BroadcastHashJoin" in plan_of(df)


def test_stratified_sample_single_exchange(spark):
    """f6: one hash exchange by stratum feeds the row_number window — the
    filter prunes before anything else moves."""
    from data_lakes_tp2_student_spark.registry import REGISTRY
    import data_lakes_tp2_student_spark.catalog  # noqa: F401

    df = REGISTRY["f6_stratified_sample"].fn(spark, "/root/testdata/sf0.001")
    p = plan_of(df)
    assert p.count("hashpartitioning(") == 1
    # Spark's WindowGroupLimit keeps only k rows per stratum on the map side
    # BEFORE the exchange — the shuffle carries ~k·strata rows, not the table.
    assert "WindowGroupLimit" in p


def test_ntile_two_phase_rank_no_group_sort(spark):
    """e3c: the heavy window must partition by (band, group) — never by the
    ~5-value group alone, which would make each priority ONE task sorting
    ~20% of the table at any scale (the straggler this plan exists to
    avoid). The offsets/totals sides must stay broadcast."""
    from data_lakes_tp2_student_spark.registry import REGISTRY
    import data_lakes_tp2_student_spark.catalog  # noqa: F401

    df = REGISTRY["e3c_ntile_buckets"].fn(spark, "/root/testdata/sf0.001")
    p = plan_of(df)
    # the row_number window spec carries both band and priority keys
    win = next(
        l for l in p.splitlines() if "row_number()" in l and "windowspec" in l
    )
    assert "_band" in win and "o_orderpriority" in win
    # no exchange hash-partitions on the group column alone (the tiny
    # offsets window does partition by priority, but only after the
    # per-(band, group) aggregate — i.e. over ~slices*groups rows)
    assert "ntile(" not in p  # the naive operator is gone entirely
    assert p.count("BroadcastExchange") >= 2  # offsets + totals (+ stats)


def test_token_budget_two_phase_prefix_sum(spark):
    """x25: the heavy running-sum window must partition by (band, source) —
    never by source alone, which would serialize a CommonCrawl-sized source
    into ONE task's sort at any scale (mirror of the e3c rule above). The
    band-offset side must stay broadcast."""
    from data_lakes_tp2_student_spark.registry import REGISTRY
    import data_lakes_tp2_student_spark.catalog  # noqa: F401

    df = REGISTRY["x25_token_budget_selection"].fn(
        spark, "/root/testdata/sf0.001"
    )
    p = plan_of(df)
    # every sum-window spec carries the band key alongside source (the tiny
    # offsets window partitions by source alone only AFTER the per-(band,
    # source) aggregate — i.e. over <= slices rows per source, keyed _tok)
    heavy = [
        l
        for l in p.splitlines()
        if "windowspec" in l and "est_tokens" in l and "sum(" in l
    ]
    assert heavy and all("_band" in l for l in heavy)
    assert p.count("BroadcastExchange") >= 2  # stats + offsets


def test_dynamic_partition_overwrite(spark, tmp_path):
    """overwrite_partitions replaces ONLY the partitions present in the
    incoming frame: untouched date dirs keep their files byte-for-byte."""
    import glob
    import os

    from data_lakes_tp2_student_spark.io.sinks import overwrite_partitions
    from data_lakes_tp2_student_spark.registry import load

    ev = load(spark, "/root/testdata/sf0.001", "events").withColumn(
        "day", F.to_date("ts")
    )
    path = str(tmp_path / "events_by_day")
    ev.write.mode("overwrite").partitionBy("day").parquet(path)

    days = sorted(
        os.path.basename(d).removeprefix("day=")
        for d in glob.glob(f"{path}/day=*")
    )
    assert len(days) > 2
    keep_day, redo_day = days[0], days[1]

    def snapshot(day):
        return {
            f: os.path.getmtime(f)
            for f in glob.glob(f"{path}/day={day}/part-*.parquet")
        }

    before_keep, before_redo = snapshot(keep_day), snapshot(redo_day)

    patch = ev.filter(F.col("day") == redo_day).withColumn(
        "value", F.col("value") * 2
    )
    overwrite_partitions(patch, path, ["day"])

    assert snapshot(keep_day) == before_keep  # untouched partition intact
    assert set(snapshot(redo_day)) != set(before_redo)  # target replaced
    back = spark.read.parquet(path)
    assert back.count() == ev.count()
    orig_sum = ev.filter(F.col("day") == redo_day).agg(F.sum("value")).first()[0]
    new_sum = back.filter(F.col("day") == redo_day).agg(F.sum("value")).first()[0]
    assert abs(new_sum - 2 * orig_sum) < 1e-6


def test_stream_upsert_partitions_matches_batch(spark, tmp_path):
    """i9 foreachBatch + dynamic partition overwrite: draining the events
    stream into a day-partitioned lake dir yields exactly the batch table,
    and a replay (same data again) converges to the same state."""
    from data_lakes_tp2_student_spark.registry import load
    from data_lakes_tp2_student_spark.streaming.jobs import (
        stream_upsert_partitions,
    )

    from data_lakes_tp2_student_spark.io.manifest import ManifestTable

    dest = str(tmp_path / "events_lake")
    sf = "/root/testdata/sf0.001"
    stream_upsert_partitions(spark, sf, dest)
    batch = load(spark, sf, "events")
    table = ManifestTable(dest)
    got = table.read(spark)
    assert got.count() == batch.count()
    assert set(got.select("event_id").toPandas()["event_id"]) == set(
        batch.select("event_id").toPandas()["event_id"]
    )
    # idempotent replay: same input → same state, no duplication —
    # and each replayed batch lands as a NEW atomic manifest version
    v_before = table.latest_version()
    stream_upsert_partitions(spark, sf, dest)
    assert table.read(spark).count() == batch.count()
    assert table.latest_version() > v_before


def test_substring_dedup_no_cartesian(spark):
    """x32: candidate generation is the hash equi-join — no cartesian
    product of documents anywhere in the plan, and the join key is the
    window hash."""
    from data_lakes_tp2_student_spark.registry import REGISTRY
    import data_lakes_tp2_student_spark.catalog  # noqa: F401

    df = REGISTRY["x32_substring_dedup"].fn(spark, "/root/testdata/sf0.001")
    p = plan_of(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # the candidate join is a HASH equi-join on the window fingerprint
    # (broadcast at fixture scale — the persisted probe side is tiny;
    # shuffled-hash/sort-merge on `h` at corpus scale)
    assert "BroadcastHashJoin" in p or "hashpartitioning(h" in p


def test_lsh_join_is_bucket_equijoin(spark):
    """x3b: the candidate join must be a broadcast equi-join on
    (table, bucket) — never a nested-loop over the corpus."""
    from data_lakes_tp2_student_spark.registry import REGISTRY
    import data_lakes_tp2_student_spark.catalog  # noqa: F401

    df = REGISTRY["x3b_knn_lsh"].fn(spark, "/root/testdata/sf0.001")
    p = plan_of(df)
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_weighted_sample_is_top_k(spark):
    """x35: the k-row weighted sample must run as TakeOrderedAndProject
    (per-partition heaps, k rows over the wire) — not a global Sort."""
    from data_lakes_tp2_student_spark.registry import REGISTRY
    import data_lakes_tp2_student_spark.catalog  # noqa: F401

    df = REGISTRY["x35_weighted_sample"].fn(spark, "/root/testdata/sf0.001")
    p = plan_of(df)
    assert "TakeOrderedAndProject" in p


def test_bloom_probe_broadcasts_bitmap(spark):
    """x37: the probe side joins a broadcast fixed-size bitmap — no
    shuffle of the corpus against the benchmark, no nested loop."""
    from data_lakes_tp2_student_spark.registry import REGISTRY
    import data_lakes_tp2_student_spark.catalog  # noqa: F401

    df = REGISTRY["x37_bloom_decontaminate"].fn(spark, "/root/testdata/sf0.001")
    p = plan_of(df)
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_snm_window_join_is_equijoin(spark):
    """x42: the sorted-neighborhood window join must be the bucketed
    equi-join — a naive rank-range join would plan as a nested loop."""
    from data_lakes_tp2_student_spark.registry import REGISTRY
    import data_lakes_tp2_student_spark.catalog  # noqa: F401

    df = REGISTRY["x42_entity_resolution"].fn(spark, "/root/testdata/sf0.001")
    p = plan_of(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_semdedup_pairs_by_cell_equijoin(spark):
    """x38: within-cell pair generation is an equi-join on the cell id;
    the only nested-loop is the bounded broadcast centroid scorer."""
    from data_lakes_tp2_student_spark.registry import REGISTRY
    import data_lakes_tp2_student_spark.catalog  # noqa: F401

    df = REGISTRY["x38_semdedup"].fn(spark, "/root/testdata/sf0.001")
    p = plan_of(df)
    assert "CartesianProduct" not in p


def test_no_cartesian_product_anywhere_in_registry(spark):
    """Registry-wide scale guard: NO registered query may plan a
    CartesianProduct, and the set of queries allowed a
    BroadcastNestedLoopJoin (all bounded: 1-row stats crossJoins, bounded
    broadcast query sides, the c6 small-side range join) must not grow —
    a new unbounded nested loop is exactly the bug class that works at
    sf0.001 and dies at 100 TB."""
    from data_lakes_tp2_student_spark.registry import REGISTRY
    import data_lakes_tp2_student_spark.catalog  # noqa: F401

    ALLOWED_NLJ = {
        "c6_range_join",
        "e3c_ntile_buckets",
        "flagship_summary",
        "x16_pmi_cooccurrence",
        "x19_bm25_topk",
        "x25_token_budget_selection",
        "x30_unigram_logprob",
        "x33_importance_sampling",
        "x36_triangle_count",
        "x38_semdedup",
        "x3_knn_bruteforce",
        "x3c_knn_ivf",
        "x40_label_propagation",
        "x47_sparse_cosine",  # 1-row corpus-count broadcast (IDF scalar)
        "x50_equidepth_histogram",  # 1-row min/max/n stats broadcast
        "x4d_tfidf_topk",
        "x6_tpch_q11",
        "x6_tpch_q22",
        # round 8: the derived partsupp (catalog/tpch.py:partsupp) brings in
        # the 1-row supplier-count scalar broadcast (its only NLJ)
        "x6_tpch_q2",
        "x6_tpch_q9",
        "x6_tpch_q16",
        "x6_tpch_q20",
    }
    # Streaming entries drain through a memory sink and return
    # spark.table(<sink>) — a LocalTableScan whose plan can never show
    # the streaming job's joins, so sweeping them costs a full stream
    # execution for zero signal. Their join shapes are pinned by their
    # own contract tests (test_stream_*).
    STREAMING_SINK = {n for n in REGISTRY
                      if n.startswith("i") and "_stream" in n}
    cartesian, rogue_nlj = [], []
    for name, q in sorted(REGISTRY.items()):
        if name in STREAMING_SINK:
            continue
        p = plan_of(q.fn(spark, "/root/testdata/sf0.001"))
        if "CartesianProduct" in p:
            cartesian.append(name)
        if "BroadcastNestedLoopJoin" in p and name not in ALLOWED_NLJ:
            rogue_nlj.append(name)
    assert cartesian == [], cartesian
    assert rogue_nlj == [], rogue_nlj


def test_stream_interval_join_plans_symmetric_hash(spark):
    """Streaming plans are invisible to the registry sweep (the queries
    return drained memory-sink tables), so the stream-stream join shape
    is pinned here on the UNDRAINED plan: the interval join must be a
    StreamingSymmetricHashJoin keyed on the user equi-column — never a
    nested loop buffering both streams."""
    from data_lakes_tp2_student_spark.streaming.jobs import (
        build_interval_join,
    )

    for how in ("inner", "left_outer"):
        p = plan_of(build_interval_join(spark, "/root/testdata/sf0.001", how))
        assert "StreamingSymmetricHashJoin" in p, (how, p)
        assert "BroadcastNestedLoopJoin" not in p
        assert "CartesianProduct" not in p


def test_join_strategy_hints_steer_the_planner(spark):
    """The join-strategy control surface: the same orders x lineitem
    equi-join plans as broadcast, shuffled-hash, or sort-merge purely by
    hint, and every variant returns identical results — the knob used at
    100 TB when the optimizer's size estimates are wrong (a misestimated
    broadcast OOMs an executor; a forced shuffle_hash skips the sort)."""
    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").select(
        "o_orderkey", "o_orderpriority"
    )
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    base = li.join(o.hint("broadcast"), li.l_orderkey == o.o_orderkey)
    sh = li.join(o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey)
    sm = li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
    assert "BroadcastHashJoin" in plan_of(base)
    assert "ShuffledHashJoin" in plan_of(sh)
    assert "SortMergeJoin" in plan_of(sm)
    counts = {df.count() for df in (base, sh, sm)}
    assert len(counts) == 1


def test_x5m_avi_chain_is_shuffle_free_and_column_pruned(spark):
    """The x5m container->decode chain must stay a straight map pipeline:
    column-pruned scan (only doc_id read from documents), three Arrow
    map stages (attach -> frame demux -> JPEG decode), and ZERO
    exchanges — at 100 TB the decode work scales with input splits and
    nothing shuffles binary payloads."""
    from data_lakes_tp2_student_spark.catalog import REGISTRY

    df = REGISTRY.get("x5m_avi_frames").fn(spark, "/root/testdata/sf0.001")
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    p = p.split("== Initial Plan ==")[0]
    assert "Exchange" not in p, p
    assert p.count("MapInArrow") == 3, p
    assert "ReadSchema: struct<doc_id:bigint>" in p, p  # pruned to the id
