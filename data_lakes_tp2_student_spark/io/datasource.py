"""The manifest table as a registered DataFrame format: `manifest` —
batch reader, batch writer, and streaming SINK. The streaming SOURCE,
`manifest_stream`, lives in streaming/source.py and shares this
module's scan: `_plan` and `_scan`.

Delta parity for the idiomatic entry points:

    spark.dataSource.register(ManifestDataSource)
    df = (spark.read.format("manifest")
          .option("path", root).option("versionAsOf", 3).load())
    (df2.write.format("manifest").mode("append")
        .option("path", root).save())

built on Spark 4's Python Data Source API (SPARK-44076, public).

READ. The batch reader implements `pushFilters` (SPARK-48921): Spark
hands the scan's predicates down before planning, the reader prunes
files against the manifest's partition values and recorded [min, max]
column stats (the same data skipping `ManifestTable.read`'s explicit
`partition_filter`/`range_filter` arguments expose), then RETURNS every
filter so Spark still applies it row-level — file skipping is an
over-approximation, never a row filter. `_plan` size-packs the kept
files (`pack_by_size`) into `_ScanPartition`s that carry each file's
partition values, DV paths and the column mapping. `_scan` runs on the
executor: it reads each of the partition's DV parquets once through
`io/dv.py`, drops the deleted positions from each file's Arrow table,
and projects it to the snapshot's schema.

WRITE. The writer is the Arrow fast path (`DataSourceArrowWriter`):
each executor task streams its record batches straight into one parquet
file per partition value inside the table's `txn=<id>` staging dir
(Hive layout, partition columns as directories, exactly like the
Spark-write path) and ships only the manifest ENTRIES back as its
commit message. The driver then publishes all entries through
`ManifestTable._commit_files` — the same constraint validation, layout
compatibility, schema-evolution check, and version-race loop every
other commit takes, so a DataSource write is atomic, conflict-checked,
and isolated exactly like `commit_append`. `abort()` deletes the txn
dir; a crash before commit leaves only an orphan dir that `vacuum`
reaps. s3:// roots have each executor task stage in a task-local temp
dir and PUT its own files to the table's `data/txn=<id>/` prefix; a
losing speculative attempt's uploaded objects are swept by one LIST
over the txn prefix before publish.

Surface boundaries Spark itself enforces (both fail loud with
actionable messages): save modes are append/overwrite only
(`UNSUPPORTED_DATA_SOURCE_SAVE_MODE` for error/ignore), and the native
`df.write.partitionBy(...)` clause is rejected for Python data sources
("provided partitioning ... does not match") — declare the layout with
`.option("partitionBy", "col1,col2")` instead. `txnAppId`+`txnVersion`
(batch) / `txnAppId` (streaming, version = batchId) give Delta-style
idempotent writes via the log's txn action.

Performance boundary: this format is the interop surface. Every batch
crosses Python→JVM through Arrow, measured at about 3× the native
scan (PERF.md). For hot-path reads use `ManifestTable(root).read(spark,
...)`, which resolves the same snapshot (time travel, DVs, mapping,
skipping) into a native parquet scan;
`tests/test_datasource.py::test_native_read_path_stays_native` pins
that the fast path never routes through here.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from .logstore import LocalLogStore
from .manifest import HIVE_NULL, ManifestTable, _file_entry
from .prune import _path_value, from_filters, keep


def _open_table(options: dict) -> ManifestTable:
    """Table handle from (case-lowered) DataSource options. Local paths
    need only `path`; an `s3://bucket/prefix` path builds an S3LogStore
    from `endpoint`/`access_key`/`secret_key`/`region`/`cache_dir`."""
    if "path" not in options:
        # Measured Spark 4.1 behavior: a catalog table
        # (`CREATE TABLE ... USING manifest OPTIONS (path ...)`) passes
        # its OPTIONS to the first DataSource instantiation (schema
        # inference) but re-instantiates with EMPTY options for the
        # scan — the Python Data Source API does not forward
        # catalog-table storage properties to reads. Fail with the
        # working recipe instead of a bare KeyError.
        raise ValueError(
            "no `path` option reached the manifest data source. Spark "
            "4.1's Python Data Source API does not forward catalog-table "
            "OPTIONS to scans; local-root catalog tables normally recover "
            "the path from the schema stash written at CREATE time (see "
            "ManifestDataSource.schema) — reaching this error means the "
            "table predates the stash or has an s3:// root (credentials "
            "must not ride schema metadata), or this is an INSERT INTO a "
            "catalog table (writers never trust the stash — an INSERT's "
            "schema comes from the source query, which could name the "
            "wrong table). Recipe: read via spark.read.format('manifest')"
            ".option('path', <root>).load() and expose SQL with "
            "df.createOrReplaceTempView(...); write via df.write"
            ".format('manifest').option('path', <root>).save()"
        )
    root = options["path"]
    # paths that pass through the catalog arrive in the resolved
    # `file:` URI form, not the raw path — strip the local scheme in
    # both spellings
    if root.startswith("file://"):
        root = root[len("file://"):]
    elif root.startswith("file:"):
        root = root[len("file:"):]
    kw = {}
    if "statscols" in options:
        kw["stats_cols"] = [
            c.strip() for c in options["statscols"].split(",") if c.strip()
        ]
    if root.startswith("s3://"):
        from urllib.parse import urlparse

        from .logstore import S3LogStore

        u = urlparse(root)
        skw = {}
        for opt in ("endpoint", "access_key", "secret_key", "region", "cache_dir"):
            if opt in options:
                skw[opt] = options[opt]
        kw["log_store"] = S3LogStore(u.netloc, u.path.lstrip("/"), **skw)
    return ManifestTable(root, **kw)


def _resolve_version(table: ManifestTable, options: dict) -> int:
    """Time travel: `versionAsOf` pins a commit, `timestampAsOf` (ISO
    string or epoch seconds) resolves through version_at; default is the
    latest committed version."""
    if "versionasof" in options:
        return int(options["versionasof"])
    if "timestampasof" in options:
        ts = options["timestampasof"]
        try:
            ts = float(ts)
        except ValueError:
            from datetime import datetime

            ts = datetime.fromisoformat(ts).timestamp()
        return table.version_at(ts)
    return table._require_latest()


def _nullable(schema: StructType) -> StructType:
    """The schema with every top-level field nullable — what file-based
    sources always report: pre-evolution files are null-padded for added
    columns, so a committed non-nullable field would make Spark throw
    'Value at index is null' on the padded batches."""
    from pyspark.sql.types import StructField

    return StructType(
        [StructField(f.name, f.dataType, True, f.metadata) for f in schema.fields]
    )


def _project(arrow_table, want, partition: dict | None = None, mapping: dict | None = None):
    """Project an Arrow table to the `want` schema: cast shared columns,
    fill PARTITION columns from the manifest entry's values (Hive-layout
    data files don't store them — a plain file read would return them
    null), and null-pad columns the (older, pre-evolution) file predates
    — the same contract as ManifestTable.read()'s mergeSchema scan.
    `mapping` (logical→physical column mapping) resolves each
    logical field to the physical column name the file stores; identity
    when absent. Partition columns are always identity-mapped."""
    import pyarrow as pa

    n = len(arrow_table)
    cols = []
    for field in want:
        phys = (mapping or {}).get(field.name, field.name)
        if phys in arrow_table.column_names:
            cols.append(arrow_table[phys].cast(field.type))
        elif partition and field.name in partition:
            v = partition[field.name]
            if v is None:
                cols.append(pa.nulls(n, field.type))
            else:
                # partition values travel as their path strings; cast
                # re-derives the committed type (int/date/bool/str)
                cols.append(pa.array([v] * n, type=pa.string()).cast(field.type))
        else:
            cols.append(pa.nulls(n, field.type))
    return pa.table(dict(zip(want.names, cols)), schema=want)


def pack_by_size(sizes: list) -> list[list[int]]:
    """Spark FilePartition-style size packing for both `manifest`
    readers: group file indices into bins of at most maxSplitBytes =
    min(maxPartitionBytes, max(openCost, totalCost/parallelism)). Big
    tables split at 128 MB like a native scan; small many-file tables
    spread across the available cores instead of one Python-worker
    round-trip per file. Each file costs its size plus openCost, as in
    Spark. Parallelism proxy: SPARK_GRAFT_CPUS (this runs
    in a driver-side Python worker with no JVM gateway, so
    sc.defaultParallelism is unreachable), falling back to the
    machine's cores."""
    open_cost = 4 * 1024 * 1024  # Spark's files.openCostInBytes
    max_part = 128 * 1024 * 1024  # Spark's files.maxPartitionBytes
    costs = [s + open_cost for s in sizes]
    par = max(
        1, int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    )
    max_split = min(max_part, max(open_cost, sum(costs) // par + 1))
    bins: list[list[int]] = []
    cur: list[int] = []
    acc = 0
    for i, c in enumerate(costs):
        if cur and acc + c > max_split:
            bins.append(cur)
            cur, acc = [], 0
        cur.append(i)
        acc += c
    if cur:
        bins.append(cur)
    return bins


class _ScanPartition(InputPartition):
    """One or more data files read by a single task: absolute path,
    manifest-relative path (the DV key), the entry's partition values
    (Hive layout keeps them out of the file), and the file's
    deletion-vector parquet paths. `more` carries the additional
    (path, rel, partition, dv_paths) tuples `pack_by_size` put in the
    same bin. `mapping` (logical→physical column names, {} = identity)
    rides the partition, not the reader: a reader may be pickled to
    executors before the driver resolves it, while partitions are
    pickled fresh for each scan or micro-batch."""

    def __init__(
        self, path: str, rel: str, partition: dict, dv_paths: tuple,
        mapping: dict, more: tuple = (),
    ):
        self.path = path
        self.rel = rel
        self.partition = partition
        self.dv_paths = dv_paths
        self.mapping = mapping
        self.more = more


def _plan(store, entries: list[dict], mapping: dict) -> list[_ScanPartition]:
    """Size-packed scan partitions over manifest file `entries`, with
    data and DV paths resolved through `store`."""
    if not entries:
        return []
    _base, paths = store.resolve_read([e["path"] for e in entries])
    dv_rels = sorted({r for e in entries for r in e.get("dv", ())})
    local = dict(zip(dv_rels, store.resolve_read(dv_rels)[1]))
    files = [
        (p, e["path"], e["partition"], tuple(local[r] for r in e.get("dv", ())))
        for e, p in zip(entries, paths)
    ]
    return [
        _ScanPartition(*files[b[0]], mapping, more=tuple(files[i] for i in b[1:]))
        for b in pack_by_size([e["bytes"] for e in entries])
    ]


def _scan(schema: StructType, partition: _ScanPartition):
    """Executor side of both `manifest` readers: each file of the
    partition as Arrow batches, deleted positions dropped, projected to
    `schema`. The partition's DV parquets are each read once."""
    if not partition.path:
        return
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import to_arrow_schema

    from .dv import dead_positions, drop_dead

    want = to_arrow_schema(schema)
    files = (
        (partition.path, partition.rel, partition.partition, partition.dv_paths),
        *partition.more,
    )
    dead = dead_positions({rel: dvs for _p, rel, _part, dvs in files if dvs})
    for path, rel, part, _dvs in files:
        table = pq.read_table(path)
        if rel in dead:
            table = drop_dead(table, dead[rel])
        yield from _project(table, want, part, partition.mapping).to_batches()


class ManifestBatchReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self._schema = schema
        table = _open_table(options)
        self._table = table
        self._m = table.manifest(_resolve_version(table, options))
        self._pred = None  # pushed-filter predicate (see pushFilters)

    def __getstate__(self):
        # the reader is pickled to executors for read(), which needs only
        # the schema — the table handle (S3 stores hold client locks) and
        # the manifest are DRIVER planning state
        state = dict(self.__dict__)
        state["_table"] = None
        state["_m"] = None
        return state

    def pushFilters(self, filters):
        """Record the filters as a file-skipping predicate; YIELD BACK
        every filter — manifest skipping drops whole files whose
        stats/partition cannot match, but surviving files still hold
        non-matching rows, so Spark must keep the row-level predicate
        (exactly parquet's PushedFilters contract)."""
        filters = list(filters)
        self._pred = from_filters(filters)
        yield from filters

    def partitions(self):
        """Size-packed bins (`pack_by_size`) of the files the pushed
        filters cannot rule out."""
        files = keep(self._m, self._m["files"], self._pred)
        # Spark requires at least one partition; a path-less one yields
        # nothing
        return _plan(
            self._table.store, files, self._m.get("column_mapping") or {}
        ) or [_ScanPartition("", "", {}, (), {})]

    def read(self, partition: _ScanPartition):
        return _scan(self._schema, partition)


class _CommitEntries(WriterCommitMessage):
    def __init__(self, entries: list[dict]):
        self.entries = entries


# exactly the characters Spark's ExternalCatalogUtils.escapePathName
# escapes (verified empirically: '=' -> %3D, 'café' stays RAW). Using
# urllib.quote here instead would percent-encode non-ASCII as UTF-8
# bytes, which Spark's partition discovery decodes char-by-char into
# mojibake ('café' read back as 'cafÃ©').
_PATH_ESCAPE = (
    set('"#%\'*/:=?\\{[]^')
    | {chr(i) for i in range(0x20)}
    | {chr(0x7F)}
)


def _duckdb_type(dt) -> str:
    """DuckDB spelling of a Spark partition-column type, for the typed
    literal injection in _validate_with_duckdb. Partition columns are
    primitives (Spark rejects complex partition types), so the table
    below is exhaustive for reachable layouts; anything unmapped falls
    back to the type's own SQL spelling (DECIMAL(p,s) passes through)."""
    s = dt.simpleString()
    return {
        "tinyint": "TINYINT",
        "smallint": "SMALLINT",
        "int": "INTEGER",
        "bigint": "BIGINT",
        "float": "REAL",
        "double": "DOUBLE",
        "boolean": "BOOLEAN",
        "date": "DATE",
        "timestamp": "TIMESTAMP",
        "timestamp_ntz": "TIMESTAMP",
        "string": "VARCHAR",
    }.get(s, s.upper())


def _escape_path_value(v: str) -> str:
    return "".join(
        f"%{ord(c):02X}" if c in _PATH_ESCAPE else c for c in v
    )


class _StagedWriterBase:
    """Shared machinery of the batch and STREAMING manifest writers:
    option parsing, the executor-side Arrow→parquet staging write, the
    sessionless DuckDB constraint validation, and the publish
    sequence (`_publish`)."""

    def _init_common(self, schema: StructType, options: dict, overwrite: bool):
        table = _open_table(options)
        # Object-store roots: each executor
        # task stages its parquet in a task-local temp dir and PUTs the
        # files itself to the table's txn prefix — data never moves
        # through the driver; the driver's commit() publishes the same
        # conditional-put log entry as the local path. The store object
        # itself is never pickled (boto3 clients aren't picklable):
        # tasks rebuild it from the serialized options.
        self._s3 = not isinstance(table.store, LocalLogStore)
        self._root = table.root
        self._data_dir = None if self._s3 else table.store.data_dir
        self._schema = schema
        self._overwrite = overwrite
        # partition layout: explicit option wins; an APPEND to an
        # existing table inherits its layout (the commit would reject a
        # mismatch anyway — inheriting makes the obvious call just work)
        opt = options.get("partitionby", "")
        self._partition_by = [c.strip() for c in opt.split(",") if c.strip()]
        base = table.latest_version()
        if not self._partition_by and not overwrite and base is not None:
            self._partition_by = list(
                table._raw(base).get("partition_by") or []
            )
        missing = [c for c in self._partition_by if c not in schema.names]
        if missing:
            raise ValueError(
                f"partitionBy columns {missing} absent from the written "
                f"schema {schema.names}"
            )
        if "txn" in schema.names:
            # same reservation _write_txn enforces: the commit-id path
            # segment is spelled txn=<id> and would collide on read
            raise ValueError(
                "column name 'txn' is reserved by the manifest layout"
            )
        # column-mapped tables: files store
        # PHYSICAL column names. The mapping is resolved ONCE here at
        # writer construction (new logical columns get fresh physical
        # names, same rule as the native path) and rides the pickled
        # writer to every executor, which stages its parquet under the
        # physical names. A rename landing AFTER this resolution is
        # caught by the commit loop's mapping-change gate (the staged
        # physicals would be stale — fail loud, never detach bytes).
        base_map = (
            table._mapping_of(table._raw(base)) if base is not None else None
        )
        self._base_mapping = base_map
        self._mapping = (
            table._extend_mapping(
                base_map, list(schema.names), self._partition_by
            )
            if base_map is not None
            else None
        )
        self._stats_cols = (
            [self._mapping.get(c, c) for c in table.stats_cols]
            if self._mapping
            else table.stats_cols
        )
        self._options = dict(options)
        # never let a read-side catalog stash ride into the committed
        # table schema (a re-CREATE would recover the wrong table)
        self._schema = _strip_stash(self._schema)
        return table, base

    def _task_stage(self) -> tuple[str, str]:
        """(local dir this task writes into, manifest-relative prefix the
        dir maps to). Local roots: the shared POSIX txn dir itself. S3
        roots: a task-local temp dir, uploaded to the txn prefix at the
        end of write()."""
        raise NotImplementedError

    def _upload_stage(self, stage: str, files: list[tuple[str, str]]) -> None:
        """S3 backends: PUT each staged (local path, manifest-rel) file
        to its key and drop the task-local staging dir. Executors upload
        their own files — the driver never sees data bytes."""
        if not self._s3:
            return
        import shutil

        store = _open_table(self._options).store
        for full, rel in files:
            store.client.upload_file(full, store.bucket, store._rel_key(rel))
        shutil.rmtree(stage, ignore_errors=True)

    def write(self, iterator):
        """One executor task: group each batch by partition values and
        append to that value's open ParquetWriter (one file per value
        per task — the same fan-out `df.write.partitionBy` produces)."""
        import posixpath

        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark import TaskContext
        from pyspark.sql.pandas.types import to_arrow_schema

        stage, rel_prefix = self._task_stage()
        want = to_arrow_schema(self._schema)
        data_fields = [
            f for f in want if f.name not in set(self._partition_by)
        ]
        # mapped tables: the FILE schema carries physical names (the
        # invariant every read path resolves through); grouping and
        # selection below stay logical, the rename happens at write
        mapping = getattr(self, "_mapping", None) or {}
        data_schema = pa.schema(
            [f.with_name(mapping.get(f.name, f.name)) for f in data_fields]
        )
        tc = TaskContext.get()
        task = tc.partitionId() if tc is not None else 0
        writers: dict[tuple, pq.ParquetWriter] = {}
        paths: dict[tuple, str] = {}

        def file_for(key: tuple) -> pq.ParquetWriter:
            if key not in writers:
                # escape exactly what Spark escapes (a raw '/' would
                # nest a bogus dir, '='/'%' mis-parse, but non-ASCII
                # must stay raw); EMPTY STRING takes the Hive default
                # partition like None — Spark's own write does the same
                # (both read back as NULL)
                segs = [
                    "{}={}".format(
                        c,
                        HIVE_NULL
                        if v is None or _path_value(v) == ""
                        else _escape_path_value(_path_value(v)),
                    )
                    for c, v in zip(self._partition_by, key)
                ]
                d = os.path.join(stage, *segs)
                os.makedirs(d, exist_ok=True)
                p = os.path.join(
                    d, f"part-{task:05d}-{uuid.uuid4().hex}.parquet"
                )
                paths[key] = p
                writers[key] = pq.ParquetWriter(p, data_schema)
            return writers[key]

        for batch in iterator:
            t = _project(pa.Table.from_batches([batch]), want)
            if len(t) == 0:
                continue
            if not self._partition_by:
                groups = {(): t}
            else:
                import pyarrow.compute as pc

                # fast path — a repartitioned/sorted write usually has
                # ONE partition value per batch: detect it Arrow-native
                # (no per-row Python materialization)
                uniq = [pc.unique(t[c]) for c in self._partition_by]
                if all(len(u) == 1 for u in uniq):
                    groups = {tuple(u[0].as_py() for u in uniq): t}
                else:
                    by_key: dict[tuple, list[int]] = {}
                    for i, k in enumerate(
                        zip(*(t[c].to_pylist() for c in self._partition_by))
                    ):
                        by_key.setdefault(k, []).append(i)
                    groups = {
                        k: t.take(idx) for k, idx in by_key.items()
                    }
            for key, gt in groups.items():
                file_for(key).write_table(
                    gt.select([f.name for f in data_fields]).rename_columns(
                        [f.name for f in data_schema]
                    )
                )
        entries = []
        for key, w in writers.items():
            w.close()
            entries.append(
                _file_entry(
                    paths[key],
                    posixpath.join(rel_prefix, os.path.relpath(paths[key], stage)),
                    {
                        # "" folds into the Hive default partition (null),
                        # matching the entry _parse_partition would record
                        c: (
                            None
                            if v is None or _path_value(v) == ""
                            else _path_value(v)
                        )
                        for c, v in zip(self._partition_by, key)
                    },
                    self._stats_cols,
                )
            )
        self._upload_stage(
            stage, [(paths[key], e["path"]) for key, e in zip(writers, entries)]
        )
        return _CommitEntries(entries)

    def _validate_with_duckdb(self, table: ManifestTable, entries: list[dict], cons: dict):
        """CHECK constraints on the staged files. The commit callback
        runs in a sessionless Python worker (no JVM, no SparkSession),
        so the Spark validation pass _commit_files normally runs is
        unreachable — DuckDB evaluates the same `coalesce(expr, TRUE) =
        FALSE` predicate (NULL passes, SQL CHECK) over each staged
        parquet, with the entry's partition values injected as literals
        (Hive layout keeps them out of the file), CAST to the written
        column's type — a raw varchar would make e.g. a numeric
        comparison lexicographic in DuckDB while Spark's path compares
        numerically, letting a violating row through. FAIL
        CLOSED: an expression DuckDB cannot evaluate aborts the commit
        rather than skipping the check — commit such tables via
        ManifestTable.commit_append."""
        import duckdb

        from .manifest import CheckConstraintViolation

        duck_of = {c: _duckdb_type(self._schema[c].dataType) for c in self._partition_by}
        mapping = getattr(self, "_mapping", None)
        if mapping:
            # staged files carry PHYSICAL names; constraint SQL binds to
            # LOGICAL — relabel in the projection (these files hold only
            # this commit's physicals, so the relabel is collision-free)
            qq = lambda s: s.replace('"', '""')  # noqa: E731
            cols = ", ".join(
                '"{}" AS "{}"'.format(qq(mapping.get(c, c)), qq(c))
                for c in self._schema.names
                if c not in set(self._partition_by)
            )
        else:
            cols = "*"
        _b, paths = table.store.resolve_read([e["path"] for e in entries])
        for e, p in zip(entries, paths):
            extra = "".join(
                f", CAST(NULL AS {duck_of[c]}) AS {c}"
                if v is None
                else ", CAST('{}' AS {}) AS {}".format(
                    v.replace("'", "''"), duck_of[c], c
                )
                for c, v in e["partition"].items()
            )
            rel = "(SELECT {}{} FROM read_parquet('{}'))".format(
                cols, extra, p.replace("'", "''")
            )
            for name in sorted(cons):
                expr = cons[name]
                try:
                    n = duckdb.sql(
                        f"SELECT count(*) FROM {rel} t WHERE "
                        f"coalesce(CAST(({expr}) AS BOOLEAN), TRUE) = FALSE"
                    ).fetchone()[0]
                except Exception as err:
                    raise CheckConstraintViolation(
                        f"CHECK constraint {name!r} ({expr}) could not "
                        f"be validated on the DataSource write path "
                        f"({err}) — failing closed; commit via "
                        f"ManifestTable.commit_append instead"
                    ) from err
                if n:
                    raise CheckConstraintViolation(
                        f"commit violates CHECK constraint(s): "
                        f"{name} ({expr})"
                    )

    def _publish(
        self, table: ManifestTable, txn, entries: list[dict], base,
        base_cons: dict, version, drop,
    ) -> bool:
        """Publish the staged `entries` as ONE commit. In order: a
        `txnAppId` token at `version` the log already holds drops the
        staging and commits nothing (before validation, so a redelivered
        batch is skipped, not re-validated); a CHECK violation drops the
        staging and raises; `_commit_files` publishes, and a concurrent
        commit of the same token (its in-loop guard) drops the staging.
        `base`/`base_cons` are the conflict anchor and constraint set the
        input was derived from; `drop()` deletes this commit's staging.
        Returns False when the token pre-check skipped the commit."""
        from .manifest import CheckConstraintViolation, TxnAlreadyCommitted

        token = (self._app, version) if self._app is not None else None
        if token is not None:
            last = table.last_txn_version(self._app)
            if last is not None and last >= version:
                drop()
                return False
        if base_cons and entries:
            try:
                self._validate_with_duckdb(table, entries, base_cons)
            except CheckConstraintViolation:
                drop()
                raise
        try:
            table._commit_files(
                None,
                txn,
                entries,
                self._schema.json(),
                self._partition_by or None,
                "overwrite" if self._overwrite else "append",
                "all" if self._overwrite else "none",
                base,
                base_cons,
                validate=False,
                entry_extra=(
                    {"txn": {"app": self._app, "version": version}}
                    if token is not None
                    else None
                ),
                txn_guard=token,
                # mapped tables: publish the writer's mapping; the commit
                # loop compares the parent's mapping against
                # base_mapping, so a rename landing after the files were
                # staged under stale physicals FAILS LOUD
                column_mapping=self._mapping,
                base_mapping=self._base_mapping,
            )
        except TxnAlreadyCommitted:
            drop()
        return True


class ManifestBatchWriter(_StagedWriterBase, DataSourceArrowWriter):
    """Executors stream Arrow batches into per-(task, partition-value)
    parquet files inside ONE txn staging dir; the driver publishes the
    collected entries as ONE conflict-checked commit."""

    def __init__(self, schema: StructType, options: dict, overwrite: bool):
        table, base = self._init_common(schema, options, overwrite)
        self._txn = uuid.uuid4().hex
        # local: ONE shared POSIX stage dir for every task; s3: tasks
        # stage in their own temp dirs (see _task_stage), so the driver
        # path is irrelevant
        self._stage = None if self._s3 else table.store.txn_stage_dir(self._txn)
        # conflict anchor + constraint set: captured NOW, before any
        # data lands (the input is derived from this table state)
        self._base = base
        self._base_cons = (
            table._constraints_of(table._raw(base)) if base is not None else {}
        )
        # Delta's idempotent DataFrame writes: txnAppId + txnVersion
        # together make re-running the same job version a no-op (the
        # foreachBatch retry idiom); requiring BOTH catches the typo'd
        # half that would silently disable the protection
        self._app = options.get("txnappid")
        ver = options.get("txnversion")
        if (self._app is None) != (ver is None):
            raise ValueError(
                "txnAppId and txnVersion must be set together for "
                "idempotent writes"
            )
        self._app_version = int(ver) if ver is not None else None

    def _task_stage(self) -> tuple[str, str]:
        rel = f"data/txn={self._txn}"
        if self._s3:
            import tempfile

            return tempfile.mkdtemp(prefix="manifest-stage-"), rel
        return self._stage, rel

    def commit(self, messages):
        table = _open_table(self._options)
        entries = [
            e for m in messages if m is not None for e in m.entries
        ]
        # a retried/speculative task may have left PARTIAL files in the
        # shared stage dir before its successful attempt's message won —
        # once committed, the txn dir is live and vacuum (txn-dir
        # granular) would never reap them; remove everything the commit
        # messages don't reference. On S3 the analogue is a completed-but-losing attempt's uploaded objects
        # (half-written files never upload — write() PUTs only at the
        # end): one LIST over the txn prefix, delete the unreferenced.
        referenced = {e["path"] for e in entries}
        if self._s3:
            pre = f"{table.store.prefix}/data/txn={self._txn}/"
            keep = {table.store._rel_key(r) for r in referenced}
            doomed = [
                o["Key"]
                for o in table.store._list_keys(pre)
                if o["Key"] not in keep
            ]
            if doomed:
                table.store._delete_keys(doomed)
        else:
            for dirpath, dirs, names in os.walk(self._stage, topdown=False):
                for n in names:
                    full = os.path.join(dirpath, n)
                    if os.path.relpath(full, self._root) not in referenced:
                        try:
                            os.unlink(full)
                        except OSError:
                            pass
                if dirpath != self._stage and not os.listdir(dirpath):
                    # a loser attempt's partition dir emptied by the
                    # unlink pass would otherwise live in the committed
                    # txn dir forever (vacuum is txn-dir granular)
                    try:
                        os.rmdir(dirpath)
                    except OSError:
                        pass
        self._publish(
            table, self._txn, entries, self._base, self._base_cons,
            self._app_version, lambda: self._drop_txn(table),
        )

    def _drop_txn(self, table: ManifestTable) -> None:
        try:
            table.store.delete_txn_dir(f"txn={self._txn}")
        except Exception:
            pass  # cleanup is best-effort; vacuum reaps leftovers

    def abort(self, messages):
        self._drop_txn(_open_table(self._options))


class ManifestStreamWriter(_StagedWriterBase, DataSourceStreamArrowWriter):
    """The manifest table as a streaming SINK through the official API:
    `df.writeStream.format("manifest")` — every micro-batch publishes
    ONE atomic manifest commit (append mode appends; complete mode
    replaces the table), so readers flip between consistent snapshots
    and the manifest_stream source downstream sees one version per
    batch. With `txnAppId`, the commit records Delta's txn action
    ({app, version=batchId}) and a restarted stream SKIPS any batch the
    log already holds — exactly-once across at-least-once redelivery
    (the caveat is Delta's own: vacuum must retain the log past the
    longest restart lag).

    Unlike the batch writer, each TASK of each batch stages into its own
    fresh `txn=<uuid>` dir (tasks of different epochs must not collide);
    a failed batch's dirs become unreferenced orphans that vacuum reaps
    after its in-flight-writer window. The conflict anchor is resolved
    at each commit, not at writer construction: a stream append is a
    blind append and rebases over any concurrent writer."""

    def __init__(self, schema: StructType, options: dict, overwrite: bool):
        self._init_common(schema, options, overwrite)
        self._app = options.get("txnappid")

    def _task_stage(self) -> tuple[str, str]:
        txn = uuid.uuid4().hex
        if self._s3:
            import tempfile

            return tempfile.mkdtemp(prefix="manifest-stage-"), f"data/txn={txn}"
        return os.path.join(self._data_dir, f"txn={txn}"), f"data/txn={txn}"

    def _drop_staged(self, table: ManifestTable, entries: list[dict]):
        for d in sorted({e["path"].split("/")[1] for e in entries}):
            try:
                table.store.delete_txn_dir(d)
            except Exception:
                pass  # already gone — cleanup is best-effort

    def commit(self, messages, batchId: int):
        table = _open_table(self._options)
        entries = [
            e for m in messages if m is not None for e in m.entries
        ]
        # the conflict base is per batch, but base_mapping starts as the
        # CONSTRUCTION-time mapping: a rename landing mid-stream makes
        # this batch's staged physicals stale and the commit fails loud
        base = table.latest_version()
        base_cons = (
            table._constraints_of(table._raw(base)) if base is not None else {}
        )
        published = self._publish(
            table, None, entries, base, base_cons, batchId,
            lambda: self._drop_staged(table, entries),
        )
        if published and self._mapping is not None:
            # once a batch publishes an EXTENDED mapping (the stream
            # added a logical column → fresh physical), later batches
            # must expect the extension at the parent, not the
            # construction-time map — otherwise batch 2 would
            # spuriously conflict against batch 1's own commit
            self._base_mapping = self._mapping

    def abort(self, messages, batchId: int):
        table = _open_table(self._options)
        entries = [
            e for m in messages if m is not None for e in m.entries
        ]
        if entries:
            self._drop_staged(table, entries)


# CREATE TABLE options worth carrying through the catalog round-trip
# (see ManifestDataSource.schema). Deliberately EXCLUDES the S3
# credential options: field metadata propagates into the schemas of any
# parquet a downstream `df.write` produces, so secrets must never ride
# it — s3:// catalog tables stay on the actionable error.
_CATALOG_STASH_KEY = "__manifest_catalog_options"
_CATALOG_STASH_OPTS = (
    "path",
    "versionasof",
    "timestampasof",
    "statscols",
)


def _strip_stash(st: StructType) -> StructType:
    """Drop any catalog-options stash from field metadata. The stash is
    a READ-side channel only; letting it ride a written schema means a
    df read from catalog table A and written to table B embeds A's path
    in B's logged schema, and a later CREATE TABLE over B would recover
    A's options — scans of B silently reading A."""
    if not any(_CATALOG_STASH_KEY in (f.metadata or {}) for f in st.fields):
        return st
    from pyspark.sql.types import StructField

    return StructType(
        [
            StructField(
                f.name,
                f.dataType,
                f.nullable,
                {
                    k: v
                    for k, v in (f.metadata or {}).items()
                    if k != _CATALOG_STASH_KEY
                },
            )
            for f in st.fields
        ]
    )


class ManifestDataSource(DataSource):
    """`spark.dataSource.register(ManifestDataSource)` then
    `spark.read.format("manifest")` / `df.write.format("manifest")`.

    SQL catalog tables (`CREATE TABLE t USING manifest OPTIONS (path
    ...)`) work through a measured Spark 4.1 quirk:
    the API forwards OPTIONS to the CREATE-time `schema()` call but
    re-instantiates with EMPTY options for every later scan/insert. The
    catalog does persist the schema, field metadata included — so
    `schema()` stashes the non-sensitive options into the first field's
    metadata, and `reader()` recovers them when its own options carry no
    path (verified empirically: the stash survives the metastore
    round-trip across sessions). Explicit options always win over the
    stash; a versionAsOf given at CREATE time pins the catalog table to
    that version, a plain CREATE follows latest. SELECT and time travel
    work; INSERT INTO a catalog table errors with the write recipe (see
    _recovered_options for why writers must not use the stash)."""

    @classmethod
    def name(cls) -> str:
        return "manifest"

    def schema(self) -> StructType:
        options = dict(self.options)
        table = _open_table(options)
        version = _resolve_version(table, options)
        # pin the resolved version for reader(): without this, "latest"
        # resolves twice and a commit landing between the two calls would
        # pair version N's schema with version N+1's files
        self._pinned_version = version
        # a logged schema written before the _strip_stash guard existed
        # may carry a stale stash from some OTHER table — always shed it
        # before (conditionally) stashing THIS table's fresh options
        st = _strip_stash(
            _nullable(
                StructType.fromJson(
                    json.loads(table._table_schema_of(table._raw(version)))
                )
            )
        )
        stash = {
            k: options[k]
            for k in _CATALOG_STASH_OPTS
            if k in options and options[k] is not None
        }
        if st.fields and not stash.get("path", "").startswith("s3://"):
            from pyspark.sql.types import StructField

            f0 = st.fields[0]
            meta = dict(f0.metadata or {})
            meta[_CATALOG_STASH_KEY] = stash
            st = StructType(
                [StructField(f0.name, f0.dataType, f0.nullable, meta)]
                + list(st.fields[1:])
            )
        return st

    def _recovered_options(self, schema: StructType | None) -> dict:
        """self.options, falling back to the catalog stash for any option
        not explicitly present (scan instantiations of catalog tables
        arrive with EMPTY options — the stash is the only channel that
        survives). READ-ONLY by design: on an INSERT the writer's schema
        is the SOURCE QUERY's output schema, so `INSERT INTO a SELECT *
        FROM b` would recover table b's stash and silently write into
        the wrong table — writers therefore never consult the stash
        (measured: Spark also wipes the metadata on most insert
        coercions, so the channel is unreliable there anyway)."""
        options = dict(self.options)
        if "path" not in options and schema is not None and schema.fields:
            stash = (schema.fields[0].metadata or {}).get(_CATALOG_STASH_KEY)
            if stash:
                for k, v in stash.items():
                    options.setdefault(k, str(v))
        return options

    def reader(self, schema: StructType) -> ManifestBatchReader:
        options = self._recovered_options(schema)
        pinned = getattr(self, "_pinned_version", None)
        if pinned is not None and "versionasof" not in options:
            options["versionasof"] = str(pinned)
        return ManifestBatchReader(schema, options)

    def writer(self, schema: StructType, overwrite: bool) -> ManifestBatchWriter:
        return ManifestBatchWriter(schema, dict(self.options), overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool) -> ManifestStreamWriter:
        return ManifestStreamWriter(schema, dict(self.options), overwrite)
