"""Query registry: the bridge between the operator library and the driver
harness (``__spark_entry__.py``).

Each registered query is a ``(spark, sf_dir) -> DataFrame`` callable keyed by
a stable operator id from SURVEY.md §2, optionally paired with ANSI SQL that
DuckDB can run against the same parquet tables (pre-registered views:
region nation customer supplier part orders lineitem events documents
embeddings). Queries without oracle SQL get a weaker rows-only check.

Naming rule (driver contract): the compare sorts columns by NAME before value
hashing, so every computed column must carry the SAME alias in the Spark plan
and the oracle SQL. Floating aggregates are rounded identically on both sides
so double bit-patterns match.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: Optional[str]
    doc: str = ""
    # Tolerance oracle for sketch queries where exact hash match is
    # impossible but a BOUND is checkable: DuckDB SQL that returns, for
    # every column `c` in the Spark result, exact columns `c_lo` and
    # `c_hi` (inclusive), one oracle row per Spark row. The local gate
    # asserts lo <= value <= hi. Only meaningful when ``oracle`` is None
    # (the driver still records rows-only; the LOCAL gate enforces the
    # bound).
    tol_oracle: Optional[str] = None


REGISTRY: dict[str, Query] = {}


def register(
    name: str, oracle: str | None = None, tol_oracle: str | None = None
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register ``fn`` under ``name`` with optional oracle SQL
    (exact hash compare) or ``tol_oracle`` SQL (sketch bound check)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query id: {name}")
        REGISTRY[name] = Query(
            name=name,
            fn=fn,
            oracle=oracle,
            doc=fn.__doc__ or "",
            tol_oracle=tol_oracle,
        )
        return fn

    return deco


# (path, size, mtime_ns) -> resolved Spark schema. Driver-side schema
# inference (JVM footer read + listing) costs ~40-80 ms per spark.read —
# a fixed tax on EVERY registry query (0.08 s of i1's 0.40 s). Keyed on
# file identity so a regenerated testdata file (new size/mtime)
# re-infers; the cache only ever holds the handful of driver tables.
_SCHEMA_CACHE: dict = {}


def _cached_read(spark: SparkSession, path: str) -> DataFrame:
    """spark.read.parquet with the schema-inference result memoized per
    file identity: first read infers and caches, later reads pass the
    schema explicitly and skip the footer round-trip."""
    try:
        if os.path.isdir(path):
            # Directories: no memo. os.stat() SUCCEEDS on a directory, and
            # a dir's size/mtime does not change when a part-file is
            # rewritten in place — keying on it would serve a stale schema.
            # The driver tables are single files, so this path is cold
            # there.
            return spark.read.parquet(path)
        st = os.stat(path)
        key = (path, st.st_size, st.st_mtime_ns)
    except OSError:
        return spark.read.parquet(path)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def assert_ts_not_utc_adjusted(path: str, col: str = "ts") -> None:
    """Fail loudly if a parquet file ships TIMESTAMP(isAdjustedToUTC=true)
    for `col`: Spark would read an instant while DuckDB reads TIMESTAMPTZ
    rendered in its local session zone, and the naive-UTC oracle agreement
    the event-time operators rely on would silently break. Footer-only
    probe, best-effort (a missing pyarrow never blocks the read)."""
    try:
        import pyarrow.parquet as pq

        st = os.stat(path)
        key = ("ts_probe", path, st.st_size, st.st_mtime_ns)
        if key in _SCHEMA_CACHE:
            return  # memoized alongside the schema cache (same identity)
        field = pq.read_schema(path).field(col)
        tz = getattr(field.type, "tz", None)
        if tz is not None:
            raise AssertionError(
                f"{path}:{col} is UTC-adjusted (tz={tz}); the naive-UTC "
                "oracle contract does not cover this — extend the ts "
                "adaptation in registry.load / streaming.jobs first"
            )
        _SCHEMA_CACHE[key] = True
    except (ImportError, OSError, KeyError):
        pass


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read one driver testdata table (parquet scan; pushdown/pruning apply).

    `events.parquet` has shipped with two physical types for `ts` across
    driver testdata generations: TIMESTAMP(NANOS) (which Spark's reader
    rejects outright — read nanos as long, truncate to micros exactly as
    DuckDB does) and plain TIMESTAMP(MICROS). Adapt per file so both work:
    a long `ts` is nanos needing conversion; a timestamp `ts` is cast to an
    instant under a pinned-UTC session so downstream event-time operators
    (`unix_micros`, `window`) and collect-time rendering agree with the
    naive-UTC oracle either way.
    """
    if table == "events":
        # conf.set is a py4j round-trip (~5-10 ms each); the two settings
        # are idempotent per session, so pay them once — part of the
        # fixed per-query overhead shave on the sub-second event queries.
        # Keyed on applicationId, not id(spark): a stopped session's id()
        # can be reused by a later session after GC, which would silently
        # skip the pinning for the new session.
        ck = ("conf_pinned", spark.sparkContext.applicationId)
        if ck not in _SCHEMA_CACHE:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            # timestamps are rendered in the SESSION tz at collect time;
            # pin UTC so values match the (naive-UTC) oracle even under a
            # caller session configured differently. (The TPC-H tables
            # read as timestamp_ntz and are immune.)
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            _SCHEMA_CACHE[ck] = True
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        assert_ts_not_utc_adjusted(f"{sf_dir}/{table}.parquet")
        df = _cached_read(spark, f"{sf_dir}/{table}.parquet")
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return _cached_read(spark, f"{sf_dir}/{table}.parquet")


_SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp"
)


def scratch_dir(
    zone: str, tag: str, sf_dir: str | None = None, clear: bool = True
) -> str:
    """A query's scratch path, ``<repo>/.tmp/<zone>/<tag>``, removed first
    unless ``clear`` is False (driver testdata is read-only, so roundtrips
    and lake tables stage here). With ``sf_dir`` the name gains
    ``_<md5(sf_dir)[:12]>``: runs over different fixtures never share a
    lake, and a leftover table from an older fixture generation can never
    merge into a fresh run."""
    if sf_dir is not None:
        tag = f"{tag}_{hashlib.md5(sf_dir.encode()).hexdigest()[:12]}"
    path = os.path.join(_SCRATCH, zone, tag)
    if clear:
        shutil.rmtree(path, ignore_errors=True)
    return path


def register_manifest_formats(spark: SparkSession) -> None:
    """Register the ``manifest`` batch/stream-sink format and the
    ``manifest_stream`` source with this session's Data Source registry."""
    from .io.datasource import ManifestDataSource
    from .streaming.source import ManifestStreamDataSource

    spark.dataSource.register(ManifestDataSource)
    spark.dataSource.register(ManifestStreamDataSource)
