"""Compute-layout helpers, and `map_rows`, the typed per-row Python stage.

`spread` decouples compute parallelism from input file layout: a scan of one
parquet file (or a few large row groups) yields one task, so expression-heavy
per-row stages (shingling, hashing, tokenization — higher-order functions run
interpreted, not codegen'd) would run single-threaded no matter how many
cores exist. A cheap round-robin repartition before such stages buys full
parallelism; at cluster scale the same call evens out skewed file sizes.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable

from pyspark.sql import DataFrame


def spread(df: DataFrame, parallelism: int | None = None) -> DataFrame:
    """Round-robin repartition to `parallelism` (default: cluster default
    parallelism) ahead of a compute-heavy stage."""
    n = parallelism or df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n)


def spread_if_underparallel(df: DataFrame, factor: int = 2) -> DataFrame:
    """`spread`, but ONLY when the plan's current partitioning cannot keep
    the cluster busy (round 15, guide §2.5 "input skew: one huge
    unsplittable file").

    The bench tables are single-row-group parquet files, so a scan-heavy
    aggregation (TPC-H Q1's decimal sums over lineitem) runs its entire
    map side in ONE task regardless of `maxPartitionBytes` — a split below
    one row group buys nothing. Repartitioning first costs one exchange of
    the scan output but parallelizes the aggregation across every core
    (measured at sf0.1: Q1 1.03 s → 0.85 s, results identical).

    The condition keeps the rewrite honest at scale: a 100 TB table scans
    as thousands of splits, `getNumPartitions >= cores/factor` holds, and
    the function is a no-op — the extra full-table exchange only ever
    happens where it is profitable (a table too small or too unsplittable
    to occupy the cluster, where the exchange is correspondingly cheap).

    Cost note (ADVICE r15): `df.rdd.getNumPartitions()` forces full
    physical planning plus a DataFrame→RDD conversion on the driver, and
    reads the PRE-AQE scan split count — a few ms for the plain scans
    this is applied to, but do not reuse it inside per-query hot paths or
    on frames with deep plans; probe the scan's split count instead."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() * factor >= sc.defaultParallelism:
        return df
    return spread(df)


def eager(df: DataFrame) -> DataFrame:
    """Persist AND materialize now.

    `persist()` alone is lazy; when the persisted subtree feeds several
    broadcast-exchange builds, Spark launches those builds concurrently
    (separate jobs) and each races to compute the not-yet-cached subtree —
    a cache stampede that multiplies the most expensive pipeline stage
    (measured 3-6× wall on the minhash→LSH→verify chain). One cheap count()
    fills the cache before the fan-out, so every consumer reads blocks."""
    df = df.persist()
    df.count()
    return df


def map_rows(
    df: DataFrame, schema: str, fn: Callable[..., Iterable[tuple]]
) -> DataFrame:
    """Per-row flat-map in Arrow batches: ``fn(*row)`` runs once per input
    row (values in ``df``'s column order, nulls as ``None``) and returns
    zero or more output tuples in ``schema`` (DDL string) order.

    Each output batch is built column by column with
    ``pa.array(values, type=field.type)`` from the schema's Arrow types, so
    bigint, binary, boolean and null values land exactly as ``fn`` returned
    them. A pandas step would not: an int64 column holding one ``None``
    becomes float64, which rounds any value above 2**53."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)

    def run(batches: Iterable[Any]) -> Iterable[Any]:
        for batch in batches:
            values = zip(*batch.to_pydict().values())
            rows = [out for row in values for out in fn(*row)]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([r[k] for r in rows], type=field.type)
                    for k, field in enumerate(arrow)
                ],
                schema=arrow,
            )

    return df.mapInArrow(run, struct)
