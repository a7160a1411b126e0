"""Property test for manifest file skipping across all three predicate
front ends (io/prune.py): pushed `Filter`s through the `manifest`
DataSource, a WHERE string (DELETE/UPDATE discovery) and the explicit
`range_filter`/`partition_filter` dicts of `read()`. Each random
conjunction is rendered in all three forms and pruned through the
evaluators; pruning must be SOUND — every file holding at least one row
that satisfies the conjunction must survive. (Completeness is not
required: extra surviving files are fine, rows are re-filtered.)

The table is built once with a parquet checkpoint, so the WHERE and dict
forms run through both the columnar checkpoint filter and the dict
evaluator. Part of the examples run under a non-UTC session timezone,
exercising the timezone gate. Everything runs driver-side against the
known file→rows mapping — hundreds of conjunctions without a Spark job.
"""

from __future__ import annotations

import datetime
import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    EqualNullSafe,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    LessThan,
    LessThanOrEqual,
)

from data_lakes_tp2_student_spark.io.datasource import ManifestBatchReader
from data_lakes_tp2_student_spark.io.manifest import ManifestTable
from data_lakes_tp2_student_spark.io.prune import from_dicts, from_where, keep

_D0 = datetime.date(2024, 1, 1)


@pytest.fixture(scope="module")
def table_and_rows(spark, tmp_path_factory):
    """A partitioned, stats-carrying table with a parquet checkpoint plus
    the exact rows each committed file holds (read back via pyarrow)."""
    import pyarrow.parquet as pq

    root = str(tmp_path_factory.mktemp("pushdown") / "t")
    rows = [
        (
            i,
            (i * 7919) % 50,
            f"g{i % 4}",
            float((i * 31) % 23),
            _D0 + datetime.timedelta(days=(i * 13) % 40),
        )
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "id int, k int, g string, x double, d date")
    tab = ManifestTable(
        root, stats_cols=["id", "k", "x", "d"],
        checkpoint_interval=1,
    )
    tab.commit_overwrite(df.repartition(8, "id"), partition_by=["g"])
    m = tab.manifest(0)
    _b, paths = tab.store.resolve_read([e["path"] for e in m["files"]])
    per_file = []
    for e, p in zip(m["files"], paths):
        t = pq.read_table(p)
        g = e["partition"]["g"]
        per_file.append(
            (
                e["path"],
                [
                    (i_, k_, g, x_, d_)
                    for i_, k_, x_, d_ in zip(
                        t["id"].to_pylist(),
                        t["k"].to_pylist(),
                        t["x"].to_pylist(),
                        t["d"].to_pylist(),
                    )
                ],
            )
        )
    schema = tab.read(spark).schema
    return tab, schema, per_file


_COLS = ["id", "k", "g", "x", "d"]
_OPS = ["eq", "eqns", "gt", "ge", "lt", "le", "in"]


def _col_value(draw, col):
    if col == "g":
        return draw(st.sampled_from(["g0", "g1", "g2", "g3", "g9"]))
    if col == "x":
        return draw(
            st.one_of(
                st.integers(-50, 300).map(lambda v: v / 10),
                st.just(float("nan")),
            )
        )
    if col == "d":
        return _D0 + datetime.timedelta(days=draw(st.integers(-3, 45)))
    return draw(st.integers(-10, 60))


@st.composite
def _conjunctions(draw):
    """[(col, op, value)], `value` a tuple for "in". A date atom may
    carry a timestamp (`d` compared to a wall time: SQL casts the date
    to midnight) — a shape only the WHERE and dict forms express."""
    out = []
    for _ in range(draw(st.integers(1, 4))):
        col = draw(st.sampled_from(_COLS))
        op = draw(st.sampled_from(_OPS))
        if op == "in":
            v = tuple(
                _col_value(draw, col) for _ in range(draw(st.integers(1, 3)))
            )
        else:
            v = _col_value(draw, col)
            if col == "d" and op != "eqns" and draw(st.booleans()):
                v = datetime.datetime.combine(
                    v, datetime.time(draw(st.integers(0, 23)))
                )
        out.append((col, op, v))
    return out


def _spark_semantics(op, a, b):
    """Row-level truth of `a <op> b` under Spark's total order where NaN
    sorts GREATER than every double (the semantics pruning must never
    contradict). A date against a timestamp compares as midnight."""
    if isinstance(b, datetime.datetime) and not isinstance(a, datetime.datetime):
        a = datetime.datetime.combine(a, datetime.time())
    fa = isinstance(a, float)
    if fa and (math.isnan(a) or (isinstance(b, float) and math.isnan(b))):
        an = math.isnan(a)
        bn = isinstance(b, float) and math.isnan(b)
        if op in ("eq", "eqns"):
            return an and bn
        key_a = (1 if an else 0, a if not an else 0)
        key_b = (1 if bn else 0, b if not bn else 0)
        if op == "gt":
            return key_a > key_b
        if op == "ge":
            return key_a >= key_b
        if op == "lt":
            return key_a < key_b
        return key_a <= key_b
    if op in ("eq", "eqns"):
        return a == b
    if op == "gt":
        return a > b
    if op == "ge":
        return a >= b
    if op == "lt":
        return a < b
    return a <= b


def _row_matches(row, atom):
    col, op, v = atom
    val = dict(zip(_COLS, row))[col]
    if op == "in":
        return any(_spark_semantics("eq", val, x) for x in v)
    return _spark_semantics(op, val, v)


_FILTERS = {"eq": EqualTo, "eqns": EqualNullSafe, "gt": GreaterThan,
            "ge": GreaterThanOrEqual, "lt": LessThan, "le": LessThanOrEqual}
_SQL_OPS = {"eq": "=", "eqns": "<=>", "gt": ">", "ge": ">=", "lt": "<",
            "le": "<="}


def _as_filters(conj):
    """Pushed-filter form; timestamp-vs-date atoms are not pushable."""
    out = []
    for col, op, v in conj:
        vals = v if op == "in" else (v,)
        if any(isinstance(x, datetime.datetime) for x in vals):
            continue
        out.append(In((col,), v) if op == "in" else _FILTERS[op]((col,), v))
    return out


def _sql_lit(v):
    if isinstance(v, datetime.datetime):
        return f"timestamp'{v:%Y-%m-%d %H:%M:%S}'"
    if isinstance(v, datetime.date):
        return f"date'{v.isoformat()}'"
    if isinstance(v, str):
        return f"'{v}'"
    if isinstance(v, float) and math.isnan(v):
        return "'NaN'"
    return repr(v)


def _as_where(conj) -> str:
    return " AND ".join(
        f"{col} IN ({', '.join(_sql_lit(x) for x in v)})"
        if op == "in"
        else f"{col} {_SQL_OPS[op]} {_sql_lit(v)}"
        for col, op, v in conj
    )


def _as_dicts(conj):
    """(partition_filter, range_filter) from the first atom per column:
    partition equalities become the exact partition_filter, everything
    else a range (an IN list its [min, max] hull)."""
    pf, rf = {}, {}
    for col, op, v in conj:
        if col in pf or col in rf:
            continue
        if col == "g" and op in ("eq", "eqns", "in"):
            pf[col] = list(v) if op == "in" else v
        elif op == "in":
            try:
                rf[col] = (min(v), max(v))
            except TypeError:
                continue
        else:
            lo = v if op in ("eq", "eqns", "gt", "ge") else None
            hi = v if op in ("eq", "eqns", "lt", "le") else None
            rf[col] = (lo, hi)
    return pf, rf


def _pruned(tab, pred):
    """Survivors of `pred` through the checkpoint filter (via
    manifest(prune=...)) and then the dict evaluator."""
    m = tab.manifest(tab.latest_version(), prune=pred)
    return {e["path"] for e in keep(m, m["files"], pred)}


@settings(
    max_examples=200,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(conj=_conjunctions(), utc=st.booleans())
def test_pruning_never_drops_a_file_with_qualifying_rows(
    spark, table_and_rows, conj, utc
):
    tab, schema, per_file = table_and_rows
    filters = _as_filters(conj)
    reader = ManifestBatchReader(schema, {"path": tab.root})
    handed_back = list(reader.pushFilters(filters))
    assert handed_back == filters  # every predicate returns to Spark
    pushed = {
        rel
        for p in reader.partitions()
        if p.path
        for rel in (p.rel, *(f[1] for f in p.more))
    }
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set(
        "spark.sql.session.timeZone", "UTC" if utc else "America/New_York"
    )
    try:
        where = _pruned(tab, from_where(_as_where(conj), spark))
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    pf, rf = _as_dicts(conj)
    dicts = _pruned(tab, from_dicts(pf, rf))
    for rel, rows in per_file:
        if any(all(_row_matches(r, a) for a in conj) for r in rows):
            assert rel in pushed, ("pushed", rel, filters)
            assert rel in where, ("where", rel, _as_where(conj), utc)
            assert rel in dicts, ("dicts", rel, pf, rf)


def test_pruned_scan_results_exact_under_random_conjunction(
    spark, table_and_rows
):
    """One end-to-end sanity pass through Spark for a representative
    conjunction (partition eq + int range + float bound incl. NaN)."""
    from data_lakes_tp2_student_spark.io.datasource import ManifestDataSource

    spark.dataSource.register(ManifestDataSource)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    tab, _schema, per_file = table_and_rows
    got = (
        spark.read.format("manifest").option("path", tab.root).load()
        .filter((F.col("g") == "g1") & (F.col("k") >= 25) & (F.col("x") > 10.0))
    )
    exp = [
        r
        for _rel, rows in per_file
        for r in rows
        if r[2] == "g1" and r[1] >= 25 and (math.isnan(r[3]) or r[3] > 10.0)
    ]
    assert sorted(map(tuple, got.collect())) == sorted(exp)
