"""SparkSession construction with scale-aware defaults.

The reference executes eagerly in one pandas process (no parallelism, JIT
disabled — /root/reference/src/preprocess_to_staging.py:13). Here a single
lazy SparkSession replaces the whole zoo: AQE re-plans at runtime (coalesce
small shuffle partitions, skew-join split), session timezone is pinned to UTC
so results are portable to the DuckDB oracle, and Arrow is on for any
pandas-UDF path.

Local mode is the test bed; on a real cluster only ``master`` and the memory
knobs change — every operator in this package is written shuffle- and
partition-aware so the same plans hold at 100 TB.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

_MIB = 1 << 20
# Int.MaxValue: no scan hands Spark more paths than this
_NEVER_LIST_IN_PARALLEL = 2**31 - 1
_log = logging.getLogger("spark_graft")
_config_logged = False


def auto_max_partition_bytes(total_input_bytes: int, cores: int) -> int:
    """Local-mode scan-split size: aim for ~2 tasks per core over the
    session's expected input, clamped to [16 MiB, 128 MiB]. A fixed
    16 MB split was right for sf0.1's single-file tables but over-splits
    a directory of already-small files and silently under-splits if the
    testdata grows — deriving the size from (total bytes / 2×cores)
    keeps both ends honest. The clamp floor matches parquet row-group
    granularity (a split below one row group buys no parallelism, only
    scheduling overhead); the ceiling is Spark's cluster default. Pure
    function — unit-testable without a session."""
    target = int(total_input_bytes) // max(1, 2 * int(cores))
    return min(128 * _MIB, max(16 * _MIB, target))


def auto_shuffle_partitions(total_input_bytes: int, cores: int) -> int:
    """Scale-adaptive default for ``spark.sql.shuffle.partitions``: ~2 MiB
    of session input per reduce partition, clamped to
    [max(4, cores//4), 64*cores].

    With a fixed 32-partition default the 32-core bench LOST to 8 cores
    on 33/34 queries at sf0.1: every tiny exchange fanned out into 32
    sub-millisecond tasks whose scheduling dominated. Deriving the count
    from input bytes keeps small sessions small (sf0.1's ~25 MiB → 12
    partitions; over the 8 shuffle-heaviest headline queries,
    interleaved best-of-3: total 12.33 s at 32 partitions → 10.96 at 16
    / 10.80 at 8, with x2f — the one parallelism-bound query — flat, its
    compute stages parallelised by `spread(defaultParallelism)`, not by
    this knob) while growing the count linearly with data so a 10×/100×
    fixture still fans out. The cores-aware clamp keeps a minimum of
    concurrency for tiny inputs and bounds task bloat above; AQE
    coalescing still adapts per-exchange at runtime. A cluster
    deployment overrides via SPARK_SHUFFLE_PARTITIONS (this heuristic
    reads the LOCAL testdata dir; at 100 TB you want an explicit high
    initial count for AQE to coalesce down from). Pure function —
    unit-testable without a session."""
    target = int(total_input_bytes) // (2 * _MIB)
    return min(64 * int(cores), max(4, int(cores) // 4, target))


def _dir_parquet_bytes(path: str) -> int:
    """Total size of the *.parquet files directly under `path` (the
    driver testdata layout: one flat file per table); 0 when unknown."""
    try:
        with os.scandir(path) as it:
            return sum(
                e.stat().st_size
                for e in it
                if e.is_file() and e.name.endswith(".parquet")
            )
    except OSError:
        return 0


def get_spark(
    app_name: str = "data-lakes-tp2-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | str | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the session.

    Note: ``getOrCreate`` returns an existing session unchanged, so configs
    only apply to the first call in a process. The derived config is
    logged once per process on the ``spark_graft`` logger, with a
    WARNING when the input-size probe finds no parquet bytes.
    """
    global _config_logged
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS", "*"))
    # NB parenthesized: unparenthesized, `os.cpu_count() or 32 if ...
    # else int(cpus)` parses as `cpu_count() or (...)` and silently reads
    # the machine's core count even when SPARK_GRAFT_CPUS is set lower.
    n_cores = (os.cpu_count() or 32) if cpus == "*" else int(cpus)
    sf_dir = (
        os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    input_bytes = _dir_parquet_bytes(sf_dir)
    shuffle_partitions = str(
        shuffle_partitions
        or os.environ.get("SPARK_SHUFFLE_PARTITIONS")
        or auto_shuffle_partitions(input_bytes, n_cores)
    )
    max_partition_bytes = os.environ.get(
        "SPARK_FILES_MAX_PARTITION_BYTES"
    ) or str(auto_max_partition_bytes(input_bytes, n_cores))
    driver_memory = driver_memory or os.environ.get("SPARK_DRIVER_MEMORY", "16g")
    if not _config_logged:
        _config_logged = True
        if not input_bytes:
            _log.warning(
                "input-size probe read 0 parquet bytes from %s; derived "
                "shuffle partitions and split size sit at their floors "
                "unless SPARK_SHUFFLE_PARTITIONS or "
                "SPARK_FILES_MAX_PARTITION_BYTES override them",
                sf_dir,
            )
        _log.info(
            "session config: cores=%d probed_bytes=%d probe_dir=%s "
            "shuffle_partitions=%s maxPartitionBytes=%s driver_memory=%s",
            n_cores, input_bytes, sf_dir, shuffle_partitions,
            max_partition_bytes, driver_memory,
        )

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # ~cores, not the 200 default; AQE coalesces further at runtime.
        .config("spark.sql.shuffle.partitions", shuffle_partitions)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # UTC so timestamps hash identically in the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Scan-split size: ~2 tasks per core over $SPARK_GRAFT_SF_DIR's
        # parquet bytes, clamped [16 MiB, 128 MiB]. A local-mode
        # default: a cluster wants 128 MB+ (set
        # SPARK_FILES_MAX_PARTITION_BYTES, or pass extra_conf), where
        # scan tasks are bounded by file and row-group layout.
        .config("spark.sql.files.maxPartitionBytes", max_partition_bytes)
        # List scan paths serially while planning, never as a Spark job.
        # Above this many paths (default 32) Spark's file index lists them
        # with a distributed job of up to one task per path. The master is
        # always local[N], and every path a manifest read hands Spark is
        # a local file (S3LogStore copies into a local cache first), so
        # that job makes the same file-system calls a serial listing does,
        # plus a job launch before any action. Building a full-scan frame
        # over per-file paths in one dir (scripts/soak_planning.py, 4
        # cores, median of 3), threshold 32 -> this: 200 files 0.72 s ->
        # 0.06 s, 16,384 files 26.3 s -> 1.86 s, 65,536 files 31.0 s ->
        # 7.35 s. Serial listing wins at every size measured.
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(_NEVER_LIST_IN_PARALLEL),
        )
        # Spark still defaults timestamps to deprecated INT96, which
        # carries NO parquet footer min/max — every timestamp column
        # would silently lose data skipping (manifest stats AND Spark's
        # own row-group pruning). TIMESTAMP_MICROS is the modern typed
        # encoding with full statistics.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # the `manifest` Python DataSource (io/datasource.py) implements
        # pushFilters; Spark refuses the scan unless this is on
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
