"""Z-order clustering: Morton-key correctness vs a pure-Python reference,
and the data-skipping payoff measured from real parquet footers."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from data_lakes_tp2_student_spark.operators.layout import zorder_by, zorder_key

from .conftest import SF_SMALL


def _py_morton(vals: list[int], bits: int) -> int:
    k = len(vals)
    out = 0
    for j, v in enumerate(vals):
        for i in range(bits):
            out |= ((v >> i) & 1) << (i * k + j)
    return out


def test_zorder_key_matches_python_reference(spark):
    rows = [(a, b) for a in (0, 1, 5, 255, 65535) for b in (0, 3, 128, 65535)]
    df = spark.createDataFrame(rows, "a int, b int").withColumn(
        "z", zorder_key([F.col("a"), F.col("b")], bits=16)
    )
    for a, b, z in df.collect():
        assert z == _py_morton([a, b], 16), (a, b)


def _file_spans(path: str, c1: str, c2: str):
    """Per-file (min,max) span of two columns, read from parquet footers —
    exactly the statistics a scan's file/row-group skipping consults."""
    spans = []
    for f in sorted(glob.glob(f"{path}/part-*.parquet")):
        md = pq.ParquetFile(f).metadata
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        lo = {c: None for c in (c1, c2)}
        hi = {c: None for c in (c1, c2)}
        for rg in range(md.num_row_groups):
            for c in (c1, c2):
                st = md.row_group(rg).column(names.index(c)).statistics
                lo[c] = st.min if lo[c] is None else min(lo[c], st.min)
                hi[c] = st.max if hi[c] is None else max(hi[c], st.max)
        spans.append(tuple(hi[c] - lo[c] for c in (c1, c2)))
    return spans


def test_zorder_tightens_file_stats_on_both_dims(spark, tmp_path):
    """After z-ordering on (l_partkey, l_suppkey), the AVERAGE per-file
    min/max span shrinks on BOTH columns vs the unsorted layout — a linear
    sort can only ever tighten one. Tight spans are what lets a reader skip
    files/row-groups for predicates on either column."""
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    n_files = 16

    base = str(tmp_path / "plain")
    li.repartition(n_files).write.mode("overwrite").parquet(base)
    zpath = str(tmp_path / "zorder")
    zorder_by(li, ["l_partkey", "l_suppkey"], n_files).write.mode(
        "overwrite"
    ).parquet(zpath)

    assert (
        spark.read.parquet(zpath).count() == li.count()
    )  # clustering is a pure re-layout

    plain = _file_spans(base, "l_partkey", "l_suppkey")
    z = _file_spans(zpath, "l_partkey", "l_suppkey")
    avg = lambda xs: sum(xs) / len(xs)  # noqa: E731
    for dim in (0, 1):
        p_span = avg([s[dim] for s in plain])
        z_span = avg([s[dim] for s in z])
        assert z_span < 0.5 * p_span, (dim, z_span, p_span)


def _py_hilbert(x: int, y: int, bits: int) -> int:
    d = 0
    s = 1 << (bits - 1)
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - x, s - 1 - y
            x, y = y, x
        s >>= 1
    return d


def test_hilbert_key_matches_python_reference(spark):
    from data_lakes_tp2_student_spark.operators.layout import hilbert_key

    # bits=6 = the operational ceiling hilbert_by enforces; the 8-bit
    # expression compiles a codegen unit big enough to OOM a driver
    # already loaded with a full suite's cached state
    rows = [(a, b) for a in (0, 1, 7, 33, 63) for b in (0, 3, 42, 63)]
    df = spark.createDataFrame(rows, "a int, b int").withColumn(
        "h", hilbert_key(F.col("a"), F.col("b"), bits=6)
    )
    for a, b, h in df.collect():
        assert h == _py_hilbert(a, b, 6), (a, b)


def test_hilbert_consecutive_cells_are_grid_adjacent(spark):
    """The Hilbert locality guarantee Morton lacks: walking the curve in
    key order steps exactly one grid cell at a time (unit Manhattan
    distance) — no power-of-two jumps across the plane."""
    from data_lakes_tp2_student_spark.operators.layout import hilbert_key

    bits = 4
    n = 1 << bits
    grid = [(x, y) for x in range(n) for y in range(n)]
    df = spark.createDataFrame(grid, "x int, y int").withColumn(
        "h", hilbert_key(F.col("x"), F.col("y"), bits=bits)
    )
    ordered = sorted(df.collect(), key=lambda r: r.h)
    assert [r.h for r in ordered] == list(range(n * n))  # a bijection
    for a, b in zip(ordered, ordered[1:]):
        assert abs(a.x - b.x) + abs(a.y - b.y) == 1, (a, b)
    # Morton, by contrast, jumps: max Manhattan step on the same grid > 1
    zdf = spark.createDataFrame(grid, "x int, y int").withColumn(
        "z", zorder_key([F.col("x"), F.col("y")], bits=bits)
    )
    zordered = sorted(zdf.collect(), key=lambda r: r.z)
    zsteps = [abs(a.x - b.x) + abs(a.y - b.y) for a, b in zip(zordered, zordered[1:])]
    assert max(zsteps) > 1


def test_hilbert_by_tightens_file_stats_on_both_dims(spark, tmp_path):
    from data_lakes_tp2_student_spark.operators.layout import hilbert_by

    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    n_files = 16
    base = str(tmp_path / "plain")
    li.repartition(n_files).write.mode("overwrite").parquet(base)
    hpath = str(tmp_path / "hilbert")
    hilbert_by(li, ["l_partkey", "l_suppkey"], n_files).write.mode(
        "overwrite"
    ).parquet(hpath)
    assert spark.read.parquet(hpath).count() == li.count()
    plain = _file_spans(base, "l_partkey", "l_suppkey")
    h = _file_spans(hpath, "l_partkey", "l_suppkey")
    avg = lambda xs: sum(xs) / len(xs)  # noqa: E731
    for dim in (0, 1):
        assert avg([s[dim] for s in h]) < 0.5 * avg([s[dim] for s in plain])
