"""Snapshot-isolated table commits: a minimal manifest log over parquet.

The reference's only "transaction" is whole-file CSV clobbering (e.g.
/root/reference/build/unpack_to_raw.py:57 re-uploads the entire zone
object); the plain-parquet zones this repo writes (`io/sinks.py`,
`streaming/jobs.py:stream_upsert_partitions`) improved that to dynamic
partition overwrite — but an overwrite is still not atomic ACROSS
partitions: a driver that dies mid-write leaves some partitions replaced
and others not, and a concurrent reader can see the mix.

This module closes that gap with the public Delta/Iceberg log design,
reduced to its load-bearing core:

- **Data files are immutable.** Every commit writes its parquet files into
  a fresh `data/txn=<uuid>/` directory; nothing ever rewrites or deletes a
  live file. (The `txn=` spelling makes every path segment a `k=v` pair,
  so Spark's own partition discovery parses the layout — the reader is a
  vanilla `spark.read.option("basePath", root).parquet(*files)`, no custom
  relation needed; the synthetic `txn` column is dropped after read.)
- **The log is incremental.** Each
  `_manifest/v{N}.json` records only this commit's DELTA: the files it
  ADDS plus a remove spec (`none` for append, `all` for overwrite-style
  commits, the touched partition values for replace_partitions) — the
  Delta-Lake JSON-commit contract. A version's full file list is
  reconstructed by replaying the log from the nearest CHECKPOINT
  (`v{N}.checkpoint.parquet`, one columnar format: each entry's JSON
  verbatim plus typed prune-only stats and partition columns; written
  after every `checkpoint_interval`-th version, whatever kind of commit
  produced it, and by vacuum), so commit cost is O(Δfiles) and
  reconstruction cost is O(Δ since last checkpoint), never O(table
  files) per commit.
- **One entry format, enforced at commit.** Every entry carries the
  cumulative `table_schema`, and every file entry its `path`,
  `partition`, `bytes` and `rows`; `_commit_files` refuses a commit
  that breaks this, so no reader guesses at a missing field.
- **Commit = atomic put-if-absent of the next log entry.** The entry is
  staged to a temp name and published with `os.link` (hard link), which
  fails with EEXIST if some other writer won the version — the HDFS-style
  rename-no-overwrite primitive. (On S3 proper this single primitive is
  what a DynamoDB/conditional-put LogStore supplies; everything else is
  unchanged.)
- **Losers rebase OR abort.** An append
  commutes with anything: the loser re-derives the next version number
  and retries — no lost updates. A `replace_partitions` whose base
  version is stale ABORTS with `ConcurrentWriteConflict` if any
  intervening commit added or removed files in a partition it replaces
  (Delta's ConcurrentAppend/ConcurrentDeleteRead semantics — the old
  silent last-writer-wins rebase dropped the winner's rows).
  Overwrite-style commits (`commit_overwrite`, `compact`,
  `optimize_zorder`) abort on ANY intervening commit. An aborted
  commit's txn dir becomes an orphan; `vacuum()` removes it.
- **Crash recovery is structural.** A writer that dies after the data
  write but before the log-entry link leaves only an orphan txn dir;
  readers never see it, and `vacuum()` removes any txn dir no retained
  snapshot references once a later commit (or none) lands.
- **Schema changes fail at commit, not at read.**
  A commit that retains parent files (append / replace_partitions) must
  keep every shared column's type — otherwise the commit would succeed
  and every later read would throw inside the mergeSchema parquet scan.
  Evolution = ADDING columns; changing a type requires commit_overwrite.

Scale notes: a checkpoint is O(files) but amortized over
`checkpoint_interval` commits; partition pruning and file skipping work
against the reconstructed manifest BEFORE Spark lists anything.

Storage backends: every filesystem touch goes through a `LogStore`
(io/logstore.py) — `LocalLogStore` (os.link put-if-absent, default for
plain paths) or `S3LogStore` (S3 conditional put `If-None-Match: *`,
object listing), so the SAME commit/conflict/vacuum protocol runs
against a local dir or an S3 bucket. A bare `s3a://` root without an
explicit LogStore is rejected at construction (it would silently
publish empty manifests) — construct `S3LogStore` and pass it instead.
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import time
import uuid
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType, StructField, StructType

from .prune import (
    Pred,
    _json_safe,
    _session_tz_utc,
    ckpt_filter,
    envelope,
    from_dicts,
    from_where,
    keep,
)

_log = logging.getLogger("spark_graft")
HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
# the fields every committed file entry records (see `_commit_files`)
_FILE_KEYS = ("path", "partition", "bytes", "rows")


class ConcurrentWriteConflict(RuntimeError):
    """Optimistic commit aborted: a concurrent commit changed state this
    commit's base snapshot read (the table when the commit started) and
    the two cannot be serialized without losing the winner's changes —
    Delta's ConcurrentAppendException/ConcurrentWriteException. Retry by
    re-running the whole read-transform-commit cycle against the new
    latest version."""


class CheckConstraintViolation(ValueError):
    """A commit (or ADD CONSTRAINT) found rows violating a CHECK
    constraint. SQL CHECK semantics: NULL passes, only FALSE violates.
    The commit wrote nothing — fix the data or drop the constraint."""


class TxnAlreadyCommitted(Exception):
    """Raised inside the commit loop when a CONCURRENT commit carrying
    the same idempotence token (txn app, version ≥ ours) lands between
    the caller's pre-check and the publish — the zombie-writer /
    restarted-stream double-delivery race. Callers (the DataSource
    writers) catch it and drop their duplicate staging; the data is
    already in the table exactly once."""


class MergeCardinalityError(RuntimeError):
    """MERGE aborted: a single target row matched MORE THAN ONE source row
    that would modify it (update or delete) — the result would depend on
    which source row "wins", so the merge is ambiguous. Delta raises the
    same error (DELTA_MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW_IN_MERGE);
    deduplicate the source on the merge keys and retry."""


def _ckpt_to_parquet_bytes(body: dict) -> bytes:
    """Encode a checkpoint body ({version, files[, txns]}) as the
    columnar checkpoint: one row per file entry. The `entry` column holds
    each entry's JSON verbatim and is the only decode source, so the
    round trip is exact by construction. The other columns are
    prune-only: typed `stat_min::<col>`/`stat_max::<col>` for every stats
    column whose values share one kind (str, int64 or float) and
    `part::<col>` partition values as strings, so `prune.ckpt_filter`
    drops rows vectorized before any entry is decoded. A stats column
    mixing kinds (an int and float mix would round ints beyond 2^53) gets
    no typed pair and never skips. `version` and the cumulative `txns`
    map ride as schema metadata."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    files = body["files"]
    cols: dict[str, list] = {"entry": [json.dumps(e) for e in files]}
    fields = [pa.field("entry", pa.string())]
    kinds = {str: pa.string(), int: pa.int64(), float: pa.float64()}
    stat_cols = dict.fromkeys(c for e in files for c in e.get("stats") or {})
    for c in stat_cols:
        los, his = zip(
            *(((e.get("stats") or {}).get(c) or (None, None)) for e in files)
        )
        vals = [v for v in los + his if v is not None]
        seen = {type(v) for v in vals}
        if len(seen) != 1 or not seen <= set(kinds):
            continue
        if int in seen and not all(-(2**63) <= v < 2**63 for v in vals):
            continue
        t = kinds[seen.pop()]
        cols[f"stat_min::{c}"], cols[f"stat_max::{c}"] = list(los), list(his)
        fields += [pa.field(f"stat_min::{c}", t), pa.field(f"stat_max::{c}", t)]
    part_cols = dict.fromkeys(k for e in files for k in e.get("partition") or {})
    for k in part_cols:
        cols[f"part::{k}"] = [(e.get("partition") or {}).get(k) for e in files]
        fields.append(pa.field(f"part::{k}", pa.string()))
    md = {b"version": str(body["version"]).encode()}
    if "txns" in body:
        md[b"txns"] = json.dumps(body["txns"], sort_keys=True).encode()
    sink = pa.BufferOutputStream()
    pq.write_table(pa.table(cols, schema=pa.schema(fields, metadata=md)), sink)
    return sink.getvalue().to_pybytes()


def _ckpt_from_parquet(b: bytes, env: dict | None = None) -> dict:
    """Decode a columnar checkpoint. With `env` (a predicate envelope,
    see `prune.envelope`), rows that provably cannot match are dropped
    vectorized by `prune.ckpt_filter` before any entry is decoded."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(pa.BufferReader(b))
    if "entry" not in pf.schema_arrow.names:
        raise ValueError(
            "columnar checkpoint has no `entry` column: it was written by "
            "an older encoding this version no longer reads — delete the "
            "checkpoint file to replay the log, or rebuild the table"
        )
    t = pf.read(columns=None if env else ["entry"])
    if env:
        t = ckpt_filter(t, env)
    md = pf.schema_arrow.metadata or {}
    body = {
        "version": int(md[b"version"]),
        "files": json.loads("[" + ",".join(t["entry"].to_pylist()) + "]"),
    }
    if b"txns" in md:
        body["txns"] = json.loads(md[b"txns"])
    return body


def _plan_deterministic(df) -> bool:
    """Best-effort determinism proof for a DataFrame's analyzed plan
    (Catalyst's `QueryPlan.deterministic`): True only when every
    expression in the plan is provably deterministic; failed or
    unavailable introspection reports False — the conservative
    direction (callers then pin the rows or skip optimizations that
    assume repeatable evaluation)."""
    try:
        return bool(df._jdf.queryExecution().analyzed().deterministic())
    except Exception:
        return False


def _file_stats(path: str, cols: list[str]) -> dict[str, list]:
    """Per-file [min, max] for `cols`, read from the parquet FOOTER the
    write just produced (pyarrow metadata — no data pages touched).
    Columns without usable stats (all-null, missing, unsupported type)
    are omitted; readers treat missing stats as 'cannot skip'.

    FLOAT/DOUBLE columns containing any NaN record NO stats: parquet
    footers exclude NaN from min/max while Spark orders NaN GREATER
    than every value, so a [min, max] that ignores NaN would let
    `col > hi` prune a file whose NaN rows qualify — a silently wrong
    answer. The NaN probe reads just that column
    once at commit time; NaN-free float columns keep full skipping."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    md = pf.metadata
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    out: dict[str, list] = {}
    for c in cols:
        if c not in idx:
            continue
        lo = hi = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[c]).statistics
            if st is None or not st.has_min_max:
                lo = hi = None
                break
            lo = st.min if lo is None or st.min < lo else lo
            hi = st.max if hi is None or st.max > hi else hi
        if lo is not None and isinstance(lo, float):
            import math

            import pyarrow.compute as pc

            if math.isnan(lo) or math.isnan(hi):
                lo = hi = None
            else:
                # probe row group by row group with early exit — bounds
                # the commit-time cost to one row group in memory and
                # usually exits on the first NaN
                for rg in range(md.num_row_groups):
                    vals = pf.read_row_group(rg, columns=[c])[c]
                    if pc.any(pc.is_nan(vals)).as_py():
                        lo = hi = None
                        break
        if lo is not None:
            out[c] = [_json_safe(lo), _json_safe(hi)]
    return out


def _file_entry(
    local: str, rel: str, partition: dict, stats_cols: list[str] | None
) -> dict:
    """The manifest entry of a freshly written data file: its
    table-relative `path`, `partition` values, `bytes` on disk, footer
    `rows` (so `row_count()` and `compact()` never touch the backend),
    and footer `stats` when `stats_cols` is set."""
    import pyarrow.parquet as pq

    entry = {
        "path": rel,
        "partition": partition,
        "bytes": os.path.getsize(local),
        "rows": pq.ParquetFile(local).metadata.num_rows,
    }
    if stats_cols:
        entry["stats"] = _file_stats(local, stats_cols)
    return entry


def _parse_partition(rel_path: str) -> dict[str, str | None]:
    """Partition values from a relative file path's `k=v` dir segments
    (Hive layout; `txn` is the commit id, not a table partition)."""
    out: dict[str, str | None] = {}
    for seg in rel_path.split("/")[:-1]:
        if "=" not in seg:
            continue
        k, _, v = seg.partition("=")
        if k == "txn":
            continue
        out[k] = None if v == HIVE_NULL else unquote(v)
    return out


def _part_key(partition: dict) -> tuple:
    """Canonical hashable form of a partition-values dict. Sort by KEY
    only: values may mix str and None, which Python refuses to order."""
    return tuple(sorted(partition.items(), key=lambda kv: kv[0]))


def _txn_dir_of(rel: str) -> str | None:
    """The txn DIRECTORY (`data/txn=<id>`) a manifest-relative data path
    belongs to, or None for loose/non-standard paths. This is THE
    grouping rule shared by `_coalesce_dirs` (which collapses per-file
    scan paths into dirs) and `_load_snapshot`'s DV branch split, which
    must split at exactly the same granularity: a split that disagrees
    with coalescing silently falls back to per-file scan paths."""
    parts = rel.split("/")
    if len(parts) >= 3 and parts[0] == "data" and parts[1].startswith("txn="):
        return "/".join(parts[:2])
    return None


class ManifestTable:
    """A versioned parquet table at `root` with snapshot-isolated commits.

    With `stats_cols`, every commit also records per-FILE min/max for
    those columns in its log entry (read from the parquet footers the
    write just produced — no extra data pass), enabling
    `read(range_filter=...)` to skip files from the manifest alone: the
    Delta/Iceberg data-skipping design. Pair with `optimize_zorder` so
    the min/max boxes are actually tight.

    `checkpoint_interval`: a full-snapshot columnar checkpoint is
    written after every Nth version, by every commit kind (one publish
    loop, `_commit_entry`), and by vacuum, bounding log replay; 0 turns
    interval checkpoints off. The checkpoint is derived data — rebuilding
    it from the log is always possible, and concurrent writers racing
    the same checkpoint write identical bytes (atomic os.replace)."""

    def __init__(
        self,
        root: str,
        stats_cols: list[str] | None = None,
        checkpoint_interval: int = 10,
        log_store=None,
    ) -> None:
        if log_store is None:
            if "://" in root:
                # A URI root without an explicit backend would write data
                # via Spark while the default local store's os.walk finds
                # nothing — every commit publishing an EMPTY file list is
                # silent data loss. Fail at construction.
                raise ValueError(
                    f"ManifestTable got URI root {root!r} without a "
                    f"log_store — construct io.logstore.S3LogStore for "
                    f"object-store tables and pass it explicitly"
                )
            from .logstore import LocalLogStore

            log_store = LocalLogStore(root)
        self.root = root
        self.store = log_store
        # local-backend conveniences (None on object-store backends)
        self.log_dir = getattr(log_store, "log_dir", None)
        self.data_dir = getattr(log_store, "data_dir", None)
        self.stats_cols = list(stats_cols or [])
        self.checkpoint_interval = max(0, int(checkpoint_interval))
        # highest version this handle has observed — the O(Δ) probe
        # anchor for latest_version (never trusted blindly: see there)
        self._version_hint: int | None = None
        # (checkpoint version, cumulative txns map) memo — see _txns_up_to
        self._txns_memo: tuple[int, dict] | None = None

    def clone(self) -> "ManifestTable":
        """An independent handle on the same table — what a second writer
        process would construct (shares no in-process state)."""
        return ManifestTable(
            self.root,
            stats_cols=self.stats_cols,
            checkpoint_interval=self.checkpoint_interval,
            log_store=self.store.clone(),
        )

    # ---------- log primitives (storage via self.store) ----------

    @staticmethod
    def _version_name(version: int) -> str:
        return f"v{version:020d}.json"

    @staticmethod
    def _checkpoint_name(version: int) -> str:
        return f"v{version:020d}.checkpoint.parquet"

    def versions(self) -> list[int]:
        out = []
        for name in self.store.list_log():
            if name.startswith("v") and name.endswith(".json"):
                try:
                    out.append(int(name[1:-5]))
                except ValueError:
                    continue
        return sorted(out)

    def checkpoints(self) -> list[int]:
        suf = ".checkpoint.parquet"
        out = []
        for name in self.store.list_log():
            if name.startswith("v") and name.endswith(suf):
                try:
                    out.append(int(name[1 : -len(suf)]))
                except ValueError:
                    continue
        return sorted(out)

    def latest_version(self) -> int | None:
        """The newest committed version. O(Δ) warm: the first call per
        handle lists the retained log; later
        calls probe FORWARD from the highest version this handle has seen
        (versions are contiguous by construction — parent+1 under
        put-if-absent), so a busy writer pays per-commit cost
        proportional to what landed since its last sync, not to log
        length (the full-list form made 10^4-commit ingest O(n²) —
        scripts/soak_manifest.py). Safety: on probe-miss the hint itself
        is re-verified to still exist — a hint older than vacuum's
        retention window falls back to the full list instead of
        reporting a stale latest. The residual vacuum-vs-stale-writer
        window (retention must exceed writer staleness) is the layer's
        standing retention contract, same as last_txn_version's."""
        hint = self._version_hint
        if hint is None:
            vs = self.versions()
            latest = vs[-1] if vs else None
        else:
            latest = hint
            while True:
                try:
                    self.store.read_log(self._version_name(latest + 1))
                    latest += 1
                except FileNotFoundError:
                    if latest == hint:
                        # zero progress: distinguish "hint IS latest"
                        # from "hint vacuumed away" (retained versions
                        # are a contiguous suffix, so a live hint with
                        # a missing successor is the true head)
                        try:
                            self.store.read_log(self._version_name(hint))
                        except FileNotFoundError:
                            vs = self.versions()
                            latest = vs[-1] if vs else None
                    break
        self._version_hint = latest
        return latest

    def _require_latest(self) -> int:
        """`latest_version()`, or FileNotFoundError on a table with no
        committed version."""
        latest = self.latest_version()
        if latest is None:
            raise FileNotFoundError(f"no committed version at {self.root}")
        return latest

    def _raw(self, version: int) -> dict:
        """The raw log entry for `version`: a DELTA (`add` file entries
        plus a `remove` spec)."""
        return json.loads(self.store.read_log(self._version_name(version)))

    @staticmethod
    def _apply(entry: dict, files: list[dict]) -> list[dict]:
        """Replay one log entry over the prior snapshot's file list."""
        remove = entry["remove"]
        if remove["kind"] == "all":
            files = []
        elif remove["kind"] == "partitions":
            touched = {tuple(tuple(kv) for kv in t) for t in remove["values"]}
            files = [e for e in files if _part_key(e["partition"]) not in touched]
        elif remove["kind"] == "files":
            # row-level DELETE/UPDATE: copy-on-write replaced exactly
            # these files; everything else carries over untouched
            gone = set(remove["values"])
            files = [e for e in files if e["path"] not in gone]
        return files + entry["add"]

    def _read_checkpoint_body(self, version: int, env: dict | None = None) -> dict:
        """Checkpoint `version`'s body ({version, files[, txns]}): the
        only checkpoint reader. `env` pre-filters its entries (see
        `_ckpt_from_parquet`). Raises FileNotFoundError if the checkpoint
        does not exist."""
        return _ckpt_from_parquet(
            self.store.read_log(self._checkpoint_name(version)), env
        )

    def _snapshot_files(self, version: int, env: dict | None = None) -> list[dict]:
        """Reconstruct version N's full file list: nearest checkpoint ≤ N,
        then replay the (few) later log entries — O(Δ since checkpoint).
        `env` pre-filters the checkpoint's entries only; later adds are
        kept unfiltered."""
        cps = [c for c in self.checkpoints() if c <= version]
        if cps:
            start = cps[-1]
            files = list(self._read_checkpoint_body(start, env)["files"])
        else:
            start = -1
            files = []
        for v in range(start + 1, version + 1):
            files = self._apply(self._raw(v), files)
        return files

    def manifest(self, version: int, prune: Pred | None = None) -> dict:
        """Version N's metadata with its FULL reconstructed file list
        under `files`, replayed from the delta log. Raises
        FileNotFoundError for vacuumed or never-committed versions. With
        `prune`, the checkpoint pre-filters the list by the predicate's
        envelope, so the list may omit files that cannot match: callers
        treat it as prune-scoped and still apply `keep`."""
        e = self._raw(version)
        out = {k: v for k, v in e.items() if k not in ("add", "remove")}
        out["files"] = self._snapshot_files(version, envelope(prune, e))
        return out

    def _publish(self, entry: dict) -> bool:
        """Atomic put-if-absent of `entry` as its version file. Returns
        False if another writer already published that version number."""
        ok = self.store.put_log_if_absent(
            self._version_name(entry["version"]),
            json.dumps(entry).encode(),
        )
        if ok:
            hint = self._version_hint
            self._version_hint = (
                entry["version"] if hint is None else max(hint, entry["version"])
            )
        return ok

    def _write_checkpoint(self, version: int) -> None:
        """Materialize version N's full snapshot as a columnar checkpoint
        (`_ckpt_to_parquet_bytes`). Derived data: idempotent (two racers
        write identical content) and atomic (backend create-or-replace),
        so best-effort is safe.

        The checkpoint also carries the CUMULATIVE per-app `txns` map
        ({app: highest committed txn version ≤ N}) when the retained log
        can prove it complete, so a `last_txn_version` miss costs O(Δ
        since checkpoint) instead of O(retained log), and, because vacuum
        writes a checkpoint BEFORE truncating, a sink's idempotence
        memory survives log truncation. A checkpoint that cannot prove
        completeness (predecessor lacks the map and v0 is already
        vacuumed) omits `txns`; readers fall back to the full walk."""
        files = self._snapshot_files(version)
        body = {"version": version, "files": files}
        txns = self._txns_up_to(version)
        if txns is not None:
            body["txns"] = {k: txns[k] for k in sorted(txns)}
        self.store.put_log_atomic(
            self._checkpoint_name(version), _ckpt_to_parquet_bytes(body)
        )

    def _txns_up_to(self, version: int) -> dict | None:
        """The complete {app: max txn version} map over commits 0..N, or
        None if the retained log cannot prove completeness. A steady
        writer pays O(interval) entry reads per checkpoint: the map is
        memoized per handle (txn history only grows — monotone-safe),
        so the previous checkpoint is re-read only by FRESH handles."""
        memo = self._txns_memo
        if memo is not None and memo[0] <= version:
            base, txns = memo[0], dict(memo[1])
        else:
            base, txns = -1, {}
            for c in sorted(self.checkpoints(), reverse=True):
                if c >= version:
                    continue
                try:
                    prev = self._read_checkpoint_body(c)
                except FileNotFoundError:
                    continue  # vacuumed between list and read
                if "txns" in prev:
                    base, txns = c, dict(prev["txns"])
                    break
            if base == -1:
                vs = self.versions()
                if not vs or vs[0] != 0:
                    return None  # history truncated, no carrier — incomplete
        for v in range(base + 1, version + 1):
            t = self._raw(v).get("txn")
            if t:
                txns[t["app"]] = t["version"]
        self._txns_memo = (version, dict(txns))
        return txns

    # ---------- data write ----------

    def _write_txn(
        self,
        df: DataFrame,
        partition_by: list[str] | None,
        mapping: dict | None = None,
    ) -> tuple[str, list[dict]]:
        """Write `df`'s parquet files into a fresh txn dir; return
        (txn id, file entries with table-relative paths + partition
        values). Immutable: a crash after this leaves only an orphan.

        With column `mapping` (logical→physical, mapping-enabled
        tables), the parquet files are written under PHYSICAL names and
        per-file stats are keyed by physical name — the invariant every
        read path resolves through (partition columns are always
        identity-mapped, so the Hive path layout is unaffected)."""
        if "txn" in df.columns:
            # reserved: the commit-id path segment is spelled txn=<id> so
            # partition discovery parses the layout; a data column of the
            # same name would collide on read
            raise ValueError(
                "column name 'txn' is reserved by the manifest layout"
            )
        if mapping:
            # ONE-SHOT relabel: sequential
            # withColumnRenamed fails with COLUMN_ALREADY_EXISTS when a
            # logical name equals another column's physical target
            # (rename a→c then b→a: mapping {c: a, a: b} — renaming
            # either column first collides with the other's old name);
            # a single select swaps all labels atomically. df[c] indexes
            # the exact column, no name parsing.
            df = df.select(
                *[df[c].alias(mapping.get(c, c)) for c in df.columns]
            )
        stats_cols = (
            [mapping.get(c, c) for c in self.stats_cols]
            if mapping
            else self.stats_cols
        )
        txn = uuid.uuid4().hex
        w = df.write
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.store.txn_stage_dir(txn))
        return txn, [
            _file_entry(local, rel, _parse_partition(rel), stats_cols)
            for rel, local in self.store.finalize_txn(txn)
        ]

    # ---------- commits ----------

    @staticmethod
    def _table_schema_of(entry: dict) -> str:
        """The CUMULATIVE schema json of the snapshot at `entry` — the
        union of every retained file's columns."""
        return entry["table_schema"]

    def _check_schema_compat(self, new_schema, parent_entry: dict) -> str:
        """A retained-file commit must not change a shared column's type:
        the commit would succeed and EVERY later read() would then throw
        inside the mergeSchema scan ('Failed to merge incompatible data
        types') — a successful commit yielding an unreadable latest
        snapshot. Compared against the parent's CUMULATIVE
        table schema, not just its commit schema — a column absent from
        the parent COMMIT may still live in older retained files (added
        in v1, omitted in v2, re-added with a new type in v3 would brick
        the read). Compared on simpleString so nullability differences
        (which mergeSchema unions fine) don't trip it. Returns the new
        cumulative table-schema json."""
        table = StructType.fromJson(
            json.loads(self._table_schema_of(parent_entry))
        )
        ptypes = {f.name: f.dataType.simpleString() for f in table.fields}
        bad = [
            (f.name, ptypes[f.name], f.dataType.simpleString())
            for f in new_schema.fields
            if f.name in ptypes and f.dataType.simpleString() != ptypes[f.name]
        ]
        if bad:
            raise ValueError(
                f"incompatible schema change {bad} (column, table type, "
                f"new type): a commit retaining parent files may ADD "
                f"columns but not change column types still present in "
                f"retained files — use commit_overwrite to rewrite the "
                f"table with a new type"
            )
        known = set(ptypes)
        merged = StructType(
            table.fields
            + [f for f in new_schema.fields if f.name not in known]
        )
        return merged.json()

    def _check_conflicts(
        self,
        action: str,
        remove_kind: str,
        touched: set,
        base: int | None,
        parent: int,
    ) -> None:
        """Serializability gate for a rebasing loser.
        `base` is the latest version when this commit started; versions
        base+1..parent landed concurrently. Appends commute (Delta blind
        appends) and never conflict. Overwrite-style commits (remove-all)
        conflict with ANY intervening commit — their output was derived
        from the base snapshot. replace_partitions conflicts iff an
        intervening commit added or removed files in a partition it
        replaces (rebasing would silently drop the winner's rows — the
        old last-writer-wins bug); disjoint-partition writers both land."""
        if remove_kind == "none":
            return
        start = (base if base is not None else -1) + 1
        for v in range(start, parent + 1):
            e = self._raw(v)
            if remove_kind in ("all", "files"):
                # "files" (row-level delete/update) is derived from the
                # base SNAPSHOT's rows, so like overwrite-style commits
                # it cannot be rebased over anything: a concurrent append
                # may have added rows its predicate should have matched
                # (Delta's serializable DELETE semantics — conservative,
                # never silently wrong)
                raise ConcurrentWriteConflict(
                    f"{action} based on version {base} conflicts with "
                    f"concurrent commit v{v} ({e.get('action', '?')}): a "
                    f"snapshot-derived commit cannot be rebased — re-read "
                    f"and retry"
                )
            other_add, other_remove = e["add"], e["remove"]
            if other_remove["kind"] in ("all", "files"):
                raise ConcurrentWriteConflict(
                    f"replace_partitions based on version {base} conflicts "
                    f"with concurrent commit v{v} ({e.get('action', '?')}): "
                    f"it rewrote table files (overwrite or row-level "
                    f"delete/update)"
                )
            added_parts = {_part_key(f["partition"]) for f in other_add}
            hit = touched & added_parts
            if hit:
                raise ConcurrentWriteConflict(
                    f"replace_partitions based on version {base} conflicts "
                    f"with concurrent commit v{v} ({e.get('action', '?')}): "
                    f"both wrote partition(s) {sorted(hit, key=repr)} — rebasing "
                    f"would drop the other writer's files"
                )
            if other_remove["kind"] == "partitions":
                other_touched = {
                    tuple(tuple(kv) for kv in t) for t in other_remove["values"]
                }
                hit = touched & other_touched
                if hit:
                    raise ConcurrentWriteConflict(
                        f"replace_partitions based on version {base} "
                        f"conflicts with concurrent commit v{v}: both "
                        f"replaced partition(s) {sorted(hit, key=repr)}"
                    )

    _BASE_UNSET = object()

    def _commit(
        self,
        df: DataFrame,
        partition_by: list[str] | None,
        action: str,
        remove_kind: str,
        max_attempts: int = 20,
        base=_BASE_UNSET,
        remove_paths: list[str] | None = None,
        entry_extra: dict | None = None,
    ) -> int:
        """Write `df` once and commit it (`_commit_files`). Files are
        immutable and version-independent; only the log entry rebases (or
        aborts: see _check_conflicts) when a concurrent writer wins the
        version race. Publishes a DELTA entry — O(this commit's files),
        not O(table files).

        `base` is the version this commit's INPUT was derived from — the
        conflict-detection anchor. Snapshot-derived commits (compact /
        optimize / merge_into) MUST pass the version their read() pinned:
        capturing latest_version() here instead (the default, correct for
        fresh-data commits whose input is external) leaves a window where
        a commit landing between the caller's snapshot read and this
        method's entry makes parent == base and silently skips
        _check_conflicts."""
        schema_json = df.schema.json()
        if base is ManifestTable._BASE_UNSET:
            base = self.latest_version()
        base_entry = self._raw(base) if base is not None else None
        base_cons = (
            self._constraints_of(base_entry) if base_entry is not None else {}
        )
        base_map = (
            self._mapping_of(base_entry) if base_entry is not None else None
        )
        mapping = None
        if base_map is not None:
            mapping = self._extend_mapping(
                base_map, [f.name for f in df.schema.fields], partition_by
            )
        _txn, new_files = self._write_txn(df, partition_by, mapping=mapping)
        return self._commit_files(
            df.sparkSession,
            _txn,
            new_files,
            schema_json,
            partition_by,
            action,
            remove_kind,
            base,
            base_cons,
            remove_paths,
            max_attempts,
            entry_extra=entry_extra,
            column_mapping=mapping,
            base_mapping=base_map,
        )

    @staticmethod
    def _extend_mapping(
        base_map: dict,
        field_names: list[str],
        partition_by: list[str] | None,
    ) -> dict:
        """Extend a base {logical: physical} mapping to cover a write's
        schema: NEW logical columns get fresh physical names (never
        reuse a physical — a re-added logical name after rename/drop
        must not collide with the old physical column still in retained
        files). Partition columns stay identity (their names ARE the
        Hive path layout). Shared by the native commit path and the
        registered DataSource writer."""
        mapping = dict(base_map)
        taken = set(mapping.values())
        for name in field_names:
            if name not in mapping:
                if name in (partition_by or []):
                    if name in taken:
                        raise ValueError(
                            f"partition column {name!r} collides "
                            f"with a retained physical column of the "
                            f"same name (renamed/dropped earlier) — "
                            f"pick a different name"
                        )
                    mapping[name] = name
                else:
                    mapping[name] = f"col_{uuid.uuid4().hex[:12]}"
                taken.add(mapping[name])
        return mapping

    def _commit_files(
        self,
        spark: SparkSession,
        txn: str,
        new_files: list[dict],
        schema_json: str,
        partition_by: list[str] | None,
        action: str,
        remove_kind: str,
        base,
        base_cons: dict,
        remove_paths: list[str] | None = None,
        max_attempts: int = 20,
        validate: bool = True,
        entry_extra: dict | None = None,
        txn_guard: tuple | None = None,
        column_mapping: dict | None = None,
        base_mapping: dict | None = None,
    ) -> int:
        """Commit ALREADY-WRITTEN files: validate them, then build the
        entry that `_commit_entry` publishes. The back half of _commit,
        shared with writers that stage files without a driver-side
        DataFrame (the `manifest` DataSource, io/datasource.py, whose
        executors write Arrow batches straight into the txn dir) and with
        the DV commits, which re-add existing entries. `base`/`base_cons`
        are the conflict anchor and constraint set the INPUT was derived
        from — capture them before the data write, not here. Every file
        entry must carry `_FILE_KEYS`, or the commit raises ValueError
        before anything is validated or published."""
        missing = sorted(
            {k for e in new_files for k in _FILE_KEYS if k not in e}
        )
        if missing:
            raise ValueError(
                f"file entries lack {missing}: every committed file entry "
                f"records {list(_FILE_KEYS)}"
            )
        # CHECK constraints validate the commit's NEW rows (retained
        # files were validated by their own commits). Validation reads
        # the freshly WRITTEN files back rather than re-running the
        # input plan: the written parquet is column-pruned to exactly
        # the constraint columns (a MERGE's join would otherwise
        # recompute in full), and a violation deletes the txn dir so
        # the failed commit leaves nothing. Zero cost with no
        # constraints. `validate=False` is for callers that already
        # validated the staged files themselves (the DataSource writer's
        # commit callback runs in a sessionless Python worker and
        # validates via DuckDB instead) — base_cons still rides the
        # entry and the concurrent-constraint-change check below.
        if validate and base_cons and new_files:
            _b, paths = self.store.resolve_read(
                [e["path"] for e in new_files]
            )
            vdf = spark.read.option("basePath", _b).parquet(*paths)
            if column_mapping:
                # files carry PHYSICAL names; constraint SQL binds to
                # LOGICAL names — relabel in ONE select (sequential
                # renames collide when a logical name equals another
                # column's physical, the swap case; these files hold
                # only this commit's physicals, so the inverse map is
                # collision-free)
                inv = {p: l for l, p in column_mapping.items()}
                vdf = vdf.select(
                    *[vdf[c].alias(inv.get(c, c)) for c in vdf.columns]
                )
            try:
                self._validate_constraints(vdf, base_cons)
            except CheckConstraintViolation:
                self.store.delete_txn_dir(f"txn={txn}")
                raise
        # Every new file must sit in exactly the declared partition layout
        # (a mixed snapshot is unreadable: CONFLICTING_PARTITION_COLUMN_
        # NAMES — catch it at COMMIT time, not at every later read).
        expected_layout = frozenset(partition_by or [])
        bad_layout = sorted(
            {
                tuple(sorted(e["partition"]))
                for e in new_files
                if frozenset(e["partition"]) != expected_layout
            }
        )
        if bad_layout:
            raise ValueError(
                f"commit would mix partition layouts: files carry "
                f"{bad_layout} but partition_by is {sorted(expected_layout)}"
            )
        touched = (
            {_part_key(e["partition"]) for e in new_files}
            if remove_kind == "partitions"
            else set()
        )
        remove: dict = {"kind": remove_kind}
        if remove_kind == "partitions":
            # key=repr: partition VALUES may mix str and None, which a
            # plain sort refuses to order (a replace touching day=NULL
            # alongside day='d1' would raise TypeError)
            remove["values"] = [
                [list(kv) for kv in t] for t in sorted(touched, key=repr)
            ]
        elif remove_kind == "files":
            remove["values"] = sorted(remove_paths or [])
        if txn_guard is None and entry_extra and "txn" in entry_extra:
            # ANY path that writes an idempotence token gets the guard —
            # an unguarded token write would plant out-of-order versions
            # and break last_txn_version's newest-first monotonicity
            txn_guard = (entry_extra["txn"]["app"], entry_extra["txn"]["version"])

        def build(parent: int | None) -> dict:
            table_schema = schema_json
            p_entry = self._raw(parent) if parent is not None else None
            if p_entry is not None and remove_kind != "all":
                # O(1) layout compatibility vs the parent COMMIT (each
                # commit checked against its own parent, so the invariant
                # holds across the whole retained chain): a forgotten
                # partition_by would otherwise brick the table.
                if (p_entry.get("partition_by") or []) != (partition_by or []):
                    raise ValueError(
                        f"commit would mix partition layouts — pass the "
                        f"table's partition_by {p_entry.get('partition_by')}"
                        f", got {partition_by or []}"
                    )
                table_schema = self._check_schema_compat(
                    StructType.fromJson(json.loads(schema_json)), p_entry
                )
            if (
                p_entry is not None
                and self._constraints_of(p_entry) != base_cons
            ):
                # the input was validated against base's constraint set; a
                # concurrently added/dropped constraint cannot be rebased
                # over (the new rows were never checked against it)
                raise ConcurrentWriteConflict(
                    f"{action} based on version {base} conflicts with a "
                    f"concurrent constraint change at v{parent} — re-run"
                )
            if (
                p_entry is not None
                and self._mapping_of(p_entry) != base_mapping
            ):
                # a rename/drop landed after this commit's files were
                # written under base's physical layout: rebasing would
                # publish a stale mapping (or none), silently detaching
                # logical names from the bytes just staged
                raise ConcurrentWriteConflict(
                    f"{action} based on version {base} conflicts with a "
                    f"concurrent column rename/drop at v{parent} — re-run"
                )
            entry = {
                "action": action,
                "partition_by": partition_by or [],
                "table_schema": table_schema,
                "add": new_files,
                "remove": remove,
            }
            if base_cons:
                entry["constraints"] = base_cons
            if column_mapping is not None:
                entry["column_mapping"] = column_mapping
            if entry_extra:
                # e.g. {"txn": {"app":…, "version":…}} — the Delta txn
                # action the streaming sink uses for idempotent restarts
                entry.update(entry_extra)
            return entry

        return self._commit_entry(
            action, remove_kind, base, build, touched, txn_guard, max_attempts
        )

    def _commit_entry(
        self,
        action: str,
        conflict_kind: str,
        base: int | None,
        build,
        touched: set = frozenset(),
        txn_guard: tuple | None = None,
        max_attempts: int = 20,
    ) -> int:
        """The ONE version-race loop every commit kind goes through.
        Each attempt reads the latest version as the parent; when commits
        landed since `base`, it first refuses a duplicate `txn_guard`
        token among them, then runs `_check_conflicts` with
        `conflict_kind` (a remove kind: "none" rebases, "all"/"files"
        abort on any intervening commit, "partitions" on an overlap with
        `touched`). `build(parent)` returns the entry; this loop stamps
        `version`, `parent` and `committed_at`, publishes it with
        put-if-absent, and on success writes the checkpoint due every
        `checkpoint_interval` versions."""
        if txn_guard is not None:
            # sequential-duplicate check (the in-loop guard below only
            # fires when a commit landed CONCURRENTLY, parent != base)
            app, ver = txn_guard
            last = self.last_txn_version(app)
            if last is not None and last >= ver:
                raise TxnAlreadyCommitted(
                    f"txn ({app!r}, {ver}) already committed (log holds "
                    f"version {last})"
                )
        for _ in range(max_attempts):
            parent = self.latest_version()
            if parent != base:
                if txn_guard is not None:
                    # duplicate classification must run BEFORE conflict
                    # detection: an overwrite-mode redelivery is skipped
                    # as a duplicate, not failed as a conflict; re-scan
                    # ONLY the newly landed versions, O(Δ)
                    app, ver = txn_guard
                    for v in range(
                        (base + 1) if base is not None else 0, parent + 1
                    ):
                        t = self._raw(v).get("txn")
                        if t and t.get("app") == app and t["version"] >= ver:
                            raise TxnAlreadyCommitted(
                                f"txn ({app!r}, {ver}) already committed "
                                f"at version {v}"
                            )
                self._check_conflicts(action, conflict_kind, touched, base, parent)
            entry = dict(
                build(parent),
                version=(parent if parent is not None else -1) + 1,
                parent=parent,
                committed_at=time.time(),
            )
            if self._publish(entry):
                v = entry["version"]
                if (
                    self.checkpoint_interval
                    and v > 0
                    and v % self.checkpoint_interval == 0
                ):
                    try:
                        self._write_checkpoint(v)
                    except Exception:
                        # the COMMIT already succeeded and the log alone
                        # reconstructs every snapshot — a failed
                        # checkpoint (disk pressure, races with vacuum's
                        # log truncation, a transient S3 error from
                        # put_log_atomic: botocore raises ClientError,
                        # NOT OSError) must not turn a durable commit
                        # into an apparent failure that invites a
                        # duplicating caller retry; the next interval
                        # commit or vacuum writes the next checkpoint
                        pass
                return v
        raise RuntimeError(
            f"{action} lost the version race {max_attempts} times"
        )

    def commit_overwrite(
        self, df: DataFrame, partition_by: list[str] | None = None
    ) -> int:
        """Full-table replace: the new version lists only this commit's
        files. Old versions stay readable until vacuum. Aborts with
        ConcurrentWriteConflict if any commit lands concurrently."""
        return self._commit(df, partition_by, "overwrite", "all")

    def commit_append(
        self, df: DataFrame, partition_by: list[str] | None = None
    ) -> int:
        """Append: new version = parent's files + this commit's files.
        Blind append — commutes with any concurrent commit, never
        conflicts (the rebase loop re-derives the version number)."""
        return self._commit(df, partition_by, "append", "none")

    def commit_replace_partitions(
        self, df: DataFrame, partition_by: list[str]
    ) -> int:
        """Atomic dynamic-partition overwrite: parent files in partitions
        `df` writes are dropped from the snapshot, all other partitions
        carry over untouched — the `overwrite_partitions` semantics
        (io/sinks.py) but atomic across ALL touched partitions: readers
        see every partition pre-commit or every partition post-commit,
        never a mix. Concurrent writers to DISJOINT partitions both
        land; a concurrent commit touching the SAME partition aborts
        this commit with ConcurrentWriteConflict."""
        return self._commit(df, partition_by, "replace_partitions", "partitions")

    # ---------- CHECK constraints (Delta ADD CONSTRAINT) ----------

    @staticmethod
    def _constraints_of(entry: dict) -> dict:
        """The cumulative {name: sql} CHECK-constraint map carried by a
        log entry (absent → none)."""
        return entry.get("constraints") or {}

    def constraints(self) -> dict:
        """The CHECK constraints active at the current latest version."""
        latest = self.latest_version()
        return {} if latest is None else self._constraints_of(self._raw(latest))

    @staticmethod
    def _validate_constraints(df: DataFrame, cons: dict) -> None:
        """One combined agg pass flagging any row where a constraint
        evaluates FALSE (NULL passes — SQL CHECK). Raises naming every
        violated constraint; does nothing when `cons` is empty."""
        if not cons:
            return
        names = sorted(cons)
        checks = [
            F.max(
                (
                    F.coalesce(F.expr(cons[n]).cast("boolean"), F.lit(True))
                    == F.lit(False)
                ).cast("int")
            ).alias(f"__c{i}")
            for i, n in enumerate(names)
        ]
        row = df.agg(*checks).collect()[0]
        violated = [n for i, n in enumerate(names) if row[i] == 1]
        if violated:
            raise CheckConstraintViolation(
                "commit violates CHECK constraint(s): "
                + ", ".join(f"{n} ({cons[n]})" for n in violated)
            )

    def add_check_constraint(self, spark: SparkSession, name: str, expr: str) -> int:
        """ALTER TABLE ADD CONSTRAINT name CHECK (expr) — Delta
        semantics: the ENTIRE current table must already satisfy `expr`
        (one scan, the only data this op reads), then a METADATA-ONLY
        commit records it; every later commit validates its new rows in
        a single extra agg pass (retained files need no re-check — their
        commits validated them). Aborts with ConcurrentWriteConflict if
        any commit lands between the validation scan and the publish (a
        racer could have appended violating rows)."""
        latest = self._require_latest()
        p_entry = self._raw(latest)
        cons = dict(self._constraints_of(p_entry))
        if name in cons:
            raise ValueError(f"constraint {name!r} already exists: {cons[name]}")
        self._validate_constraints(self.read(spark, version=latest), {name: expr})
        cons[name] = expr
        return self._commit_metadata(latest, p_entry, "add_constraint", cons)

    def drop_check_constraint(self, name: str) -> int:
        """ALTER TABLE DROP CONSTRAINT — metadata-only; unknown names
        raise (a silent no-op would mask a typo'd drop before a load of
        bad data)."""
        latest = self._require_latest()
        p_entry = self._raw(latest)
        cons = dict(self._constraints_of(p_entry))
        if name not in cons:
            raise ValueError(
                f"no constraint named {name!r} (have: {sorted(cons) or 'none'})"
            )
        del cons[name]
        return self._commit_metadata(latest, p_entry, "drop_constraint", cons)

    # ---------- column mapping (Delta name-mode) ----------

    @staticmethod
    def _mapping_of(entry: dict) -> dict | None:
        """The {logical: physical} column-name mapping carried by a log
        entry. None = mapping never enabled on this table (physical
        names ARE the logical names). Once
        enabled (first rename/drop), EVERY later entry carries the full
        mapping, and physical names are immutable: rename only relabels
        the logical side, so retained data files never rewrite."""
        return entry.get("column_mapping")

    def column_mapping(self) -> dict | None:
        """The mapping active at the current latest version (None =
        identity / never enabled)."""
        latest = self.latest_version()
        return self._mapping_of(self._raw(latest)) if latest is not None else None

    def _alter_column_guards(self, entry: dict, col: str, op: str) -> None:
        """Shared rename/drop preconditions. Partition columns are
        frozen: their LOGICAL names are baked into every retained file's
        Hive path (day=...), so a metadata-only relabel would desync the
        path layout from the schema — Delta requires a rewrite there
        too. Constraint-referenced columns are frozen until the
        constraint is dropped (its SQL text would silently stop binding
        — checked with a word-boundary scan, conservative by design:
        a false positive costs an explicit constraint drop/re-add)."""
        import re

        if col in (entry.get("partition_by") or []):
            raise ValueError(
                f"cannot {op} partition column {col!r}: its name is part "
                f"of every retained file's path layout — rewrite via "
                f"commit_overwrite to change partition columns"
            )
        for name, expr in self._constraints_of(entry).items():
            if re.search(rf"\b{re.escape(col)}\b", expr):
                raise ValueError(
                    f"cannot {op} column {col!r}: CHECK constraint "
                    f"{name!r} ({expr}) references it — drop the "
                    f"constraint first"
                )

    def rename_column(self, old: str, new: str) -> int:
        """ALTER TABLE RENAME COLUMN — METADATA-ONLY (Delta's
        column-mapping name mode): no data file rewrites, at any
        table size. The first rename/drop enables the mapping with
        identity physical names for every existing column (matching the
        bytes already on disk); the renamed column keeps its physical
        name and gets the new LOGICAL name. Columns added after
        enablement get fresh `col_<hex>` physical names, so re-using a
        renamed-away logical name can never collide with the old
        physical column still present in retained files. Time travel
        reads every version under its contemporaneous names."""
        latest = self._require_latest()
        p_entry = self._raw(latest)
        schema = StructType.fromJson(json.loads(self._table_schema_of(p_entry)))
        names = [f.name for f in schema.fields]
        if old not in names:
            raise ValueError(f"no column {old!r} (have: {names})")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        self._alter_column_guards(p_entry, old, "rename")
        mapping = dict(
            self._mapping_of(p_entry) or {f.name: f.name for f in schema.fields}
        )
        mapping[new] = mapping.pop(old)
        new_schema = StructType(
            [
                StructField(new, f.dataType, f.nullable) if f.name == old else f
                for f in schema.fields
            ]
        )
        return self._commit_metadata(
            latest,
            p_entry,
            "rename_column",
            dict(self._constraints_of(p_entry)),
            table_schema=new_schema.json(),
            mapping=mapping,
        )

    def drop_column(self, name: str) -> int:
        """ALTER TABLE DROP COLUMN — METADATA-ONLY (the rename_column
        twin): the column leaves the logical schema and the mapping;
        its physical bytes stay in retained files (still served to time
        travel at pre-drop versions, reclaimed only when those files
        are rewritten or vacuumed away). A later column of the same
        logical name is a NEW column (fresh physical) reading NULL for
        pre-add rows — Delta's documented re-add semantics."""
        latest = self._require_latest()
        p_entry = self._raw(latest)
        schema = StructType.fromJson(json.loads(self._table_schema_of(p_entry)))
        names = [f.name for f in schema.fields]
        if name not in names:
            raise ValueError(f"no column {name!r} (have: {names})")
        if len(names) == 1:
            raise ValueError("cannot drop the table's only column")
        self._alter_column_guards(p_entry, name, "drop")
        mapping = dict(
            self._mapping_of(p_entry) or {f.name: f.name for f in schema.fields}
        )
        del mapping[name]
        new_schema = StructType([f for f in schema.fields if f.name != name])
        return self._commit_metadata(
            latest,
            p_entry,
            "drop_column",
            dict(self._constraints_of(p_entry)),
            table_schema=new_schema.json(),
            mapping=mapping,
        )

    _MAPPING_CARRY = object()

    def _commit_metadata(
        self,
        base: int,
        base_entry: dict,
        action: str,
        cons: dict,
        table_schema: str | None = None,
        mapping=_MAPPING_CARRY,
    ) -> int:
        """Commit a files-unchanged metadata entry (constraint add/drop,
        column rename/drop). Conservative with respect to races: ADD was
        validated against snapshot `base`, so ANY intervening commit
        aborts it (its rows were never checked); the others share the
        path for simplicity — all are instant retries. The parent's
        column mapping carries forward unless the caller overrides it
        (rename/drop pass the altered mapping + logical schema)."""
        if mapping is ManifestTable._MAPPING_CARRY:
            mapping = self._mapping_of(base_entry)
        entry = {
            "action": action,
            "partition_by": base_entry.get("partition_by") or [],
            # a schema-altering metadata commit DECLARES the whole
            # logical schema
            "table_schema": table_schema or self._table_schema_of(base_entry),
            "add": [],
            "remove": {"kind": "none"},
        }
        if cons:
            entry["constraints"] = cons
        if mapping is not None:
            entry["column_mapping"] = mapping
        return self._commit_entry(action, "all", base, lambda _parent: entry)

    # ---------- read ----------

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        partition_filter=None,
        range_filter=None,
    ) -> DataFrame:
        """Snapshot read. `version=None` pins the CURRENT latest at call
        time (later commits don't change this DataFrame's file list —
        that IS the isolation). `partition_filter` ({col: value-or-list})
        prunes files against the MANIFEST, before Spark lists anything.
        `range_filter` ({col: (lo, hi) inclusive}) additionally skips
        every file whose recorded [min, max] does not overlap — manifest
        data skipping; files without stats for the column are kept
        (skipping is an optimization, never a filter). Bounds are compared
        in the stats' canonical domain (numbers as numbers, dates and
        timestamps as ISO strings — pass either the native value or its
        isoformat). NOTE: range_filter prunes FILES only — apply the
        row-level predicate on the returned DataFrame too (surviving
        files still contain non-matching rows)."""
        if version is None:
            version = self._require_latest()
        pred = from_dicts(partition_filter, range_filter)
        m = self.manifest(version, prune=pred)
        unknown = set(partition_filter or ()) - set(m.get("partition_by") or ())
        if unknown:
            # a typo'd key would otherwise prune EVERY file and read
            # as an empty table — fail loud instead
            raise ValueError(
                f"partition_filter keys {sorted(unknown)} are not "
                f"partition columns {m['partition_by']} of version {version}"
            )
        # Materialization (shared with the provenance path): project to
        # the version's CUMULATIVE table schema (an append omitting an
        # existing column must not drop it), pre-evolution rows
        # null-filled, partition-discovery types pinned back to the
        # committed types, and DELETION VECTORS applied to the file
        # entries that carry them (merge-on-read).
        return self._load_snapshot(spark, m, keep(m, m["files"], pred))

    # ---------- table services over the log ----------

    def history(self, spark: SparkSession) -> DataFrame:
        """The commit log as a DataFrame: (version, parent, action,
        n_files, n_partition_cols, committed_at) — Delta's DESCRIBE
        HISTORY. Driver-side log read: ONE sequential replay over the
        retained log (O(total Δ), not O(versions × files))."""
        rows = []
        files: list[dict] | None = None
        for v in self.versions():
            e = self._raw(v)
            if files is None:
                files = self._snapshot_files(v)
            else:
                files = self._apply(e, files)
            rows.append(
                (
                    v,
                    e["parent"],
                    e["action"],
                    len(files),
                    len(e["partition_by"]),
                    float(e["committed_at"]),
                )
            )
        return spark.createDataFrame(
            rows,
            "version int, parent int, action string, n_files int, "
            "n_partition_cols int, committed_at double",
        )

    def snapshot_diff(
        self,
        spark: SparkSession,
        v_from: int,
        v_to: int,
        key_cols: list[str],
        include_preimage: bool = False,
    ) -> DataFrame:
        """Change data feed between two committed versions: one row per
        changed key with `change_type` ∈ insert / delete /
        update_postimage, carrying the post-change values (pre-change for
        deletes) — the Delta CDF contract, derived from the two immutable
        snapshots instead of per-commit change files. With
        `include_preimage`, updates additionally emit an
        `update_preimage` row carrying the OLD values (what incremental
        aggregate maintenance needs to retract — see x55).

        Plan shape: ONE full outer join on the key; value comparison is a
        null-safe struct equality on the non-key columns (single
        expression, no per-column shuffle). At scale both sides are the
        same table two versions apart, so the join keys are co-partitioned
        by the same hash — AQE handles the rest. Unchanged keys are
        filtered out BEFORE any downstream work."""
        old = self.read(spark, version=v_from)
        new = self.read(spark, version=v_to)
        # Value columns span BOTH schemas (diffing across a
        # schema-evolution boundary must not throw on the column only
        # one side has); the missing side contributes typed nulls — an added
        # column therefore reads as an update for rows whose new value is
        # non-null, exactly the Delta CDF behavior.
        new_types = {f.name: f.dataType for f in new.schema.fields}
        old_types = {f.name: f.dataType for f in old.schema.fields}
        val_cols = [c for c in new.columns if c not in key_cols] + [
            c for c in old.columns if c not in key_cols and c not in new.columns
        ]

        def side_struct(df, types):
            # key-only table: no values to compare → insert/delete only
            vals = [
                (
                    F.col(c)
                    if c in types
                    else F.lit(None).cast(new_types.get(c) or old_types[c])
                ).alias(c)
                for c in val_cols
            ] or [F.lit(0).alias("_sentinel")]
            return F.struct(*vals)

        o = old.select(
            *[F.col(c).alias(f"_k_{c}") for c in key_cols],
            side_struct(old, old_types).alias("_old_vals"),
        )
        n = new.select(
            *[F.col(c).alias(f"_k_{c}") for c in key_cols],
            side_struct(new, new_types).alias("_new_vals"),
        )
        cond = [o[f"_k_{c}"].eqNullSafe(n[f"_k_{c}"]) for c in key_cols]
        j = o.join(n, cond, "full_outer")
        change = (
            F.when(o["_old_vals"].isNull(), F.lit("insert"))
            .when(n["_new_vals"].isNull(), F.lit("delete"))
            .when(
                ~o["_old_vals"].eqNullSafe(n["_new_vals"]),
                F.lit("update_postimage"),
            )
        )
        keys = [
            F.coalesce(n[f"_k_{c}"], o[f"_k_{c}"]).alias(c) for c in key_cols
        ]
        changed = j.select(
            *keys,
            change.alias("change_type"),
            o["_old_vals"].alias("_old_vals"),
            n["_new_vals"].alias("_new_vals"),
        ).filter(F.col("change_type").isNotNull())
        # Single pass for both images (the preimage does not re-run the
        # join): each changed row explodes into
        # its image rows — one for inserts/deletes/post, plus the
        # preimage for updates when requested.
        post = F.struct(
            F.col("change_type").alias("_ct"),
            F.coalesce(F.col("_new_vals"), F.col("_old_vals")).alias("_v"),
        )
        if include_preimage:
            pre = F.struct(
                F.lit("update_preimage").alias("_ct"),
                F.col("_old_vals").alias("_v"),
            )
            imgs = F.when(
                F.col("change_type") == "update_postimage", F.array(post, pre)
            ).otherwise(F.array(post))
        else:
            imgs = F.array(post)
        return changed.select(
            *key_cols, F.explode(imgs).alias("_img")
        ).select(
            *key_cols,
            F.col("_img._ct").alias("change_type"),
            *[F.col("_img._v")[c].alias(c) for c in val_cols],
        )

    def merge_into(
        self,
        spark: SparkSession,
        source: DataFrame,
        key_cols: list[str],
    ) -> int:
        """MERGE INTO as a committed version: source rows upsert into the
        latest snapshot on `key_cols` (matched → replaced by source, not
        matched → inserted) and the result commits atomically. Returns
        the new version; the pre-merge snapshot stays time-travelable.

        Routed through the clause-level `merge()` builder (update-all +
        insert-all), which makes the upsert FILE-SELECTIVE — only files
        containing matched keys rewrite; the rest of the snapshot carries
        over by reference, exactly like delete_where. Composite keys join
        on the conjunction; a NULL key component never matches (standard
        SQL join semantics)."""
        if not key_cols:
            raise ValueError("merge_into requires at least one key column")
        cond = " AND ".join(f"t.`{k}` = s.`{k}`" for k in key_cols)
        return (
            self.merge(spark, source, cond)
            .when_matched_update_all()
            .when_not_matched_insert_all()
            .execute()
        )

    def merge(self, spark: SparkSession, source: DataFrame, on) -> "MergeBuilder":
        """Clause-level MERGE INTO (the Delta `DeltaTable.merge` surface):
        `on` is the match condition between the target (alias `t`) and
        `source` (alias `s`) — a SQL string like ``"t.id = s.id"`` or a
        Column. Chain WHEN clauses on the returned builder, then
        `.execute()`:

            table.merge(spark, cdc, "t.id = s.id") \\
                 .when_matched_update(set={"price": "s.price"},
                                      condition="s.op = 'U'") \\
                 .when_matched_delete(condition="s.op = 'D'") \\
                 .when_not_matched_insert_all() \\
                 .when_not_matched_by_source_delete() \\
                 .execute()

        Semantics (Delta/SQL:2003 MERGE): clauses are evaluated IN THE
        ORDER DECLARED and the first clause whose condition holds wins
        for each row; a row no clause claims passes through unchanged.
        A target row that multiple source rows would modify aborts with
        MergeCardinalityError. Execution is FILE-SELECTIVE copy-on-write:
        only files containing a row some clause actually fires on are
        rewritten (touched-file discovery first, like Delta's
        findTouchedFiles), inserts append, untouched files carry over by
        reference — and any racing commit aborts the merge
        (ConcurrentWriteConflict, base pinned at the snapshot read)."""
        return MergeBuilder(self, spark, source, on)

    @staticmethod
    def _rel_expr():
        """Each row's manifest-relative file path — the hidden
        `_metadata.file_path` mapped back through the table layout (every
        data file's relative path starts at its `data/txn=` segment,
        exactly once)."""
        return F.concat(
            F.lit("data/txn="),
            F.substring_index(
                F.col("_metadata.file_path"), "/data/txn=", -1
            ),
        )

    def _coalesce_dirs(self, rels: list[str]) -> list[str]:
        """Collapse per-file scan paths into their txn DIRECTORY when the
        directory's on-disk parquet content is EXACTLY the live set (the
        per-path driver cost of Spark's file index makes full-snapshot
        frame construction linear-in-files with a ~0.1 ms constant). Sound
        by the commit protocol: txn dirs are immutable
        once committed (new commits stage into FRESH dirs), so the
        listing cannot race a writer; any mismatch — dead files after a
        CoW rewrite, pre-vacuum zombies, non-parquet droppings — keeps
        that dir's files on the per-file path. Hidden files (`_`/`.`
        prefixes) are excluded from the comparison because Spark's scan
        ignores them; a VISIBLE non-parquet file is a mismatch (the
        directory scan would try to read it as parquet and fail the job,
        so that dir stays on per-file paths). Residual
        TOCTOU: a post-commit zombie PUT landing between this listing
        and Spark's own directory listing could still inject a phantom
        file into a coalesced dir — same window Spark's native
        directory reads have, documented in the deep-vacuum notes."""
        from collections import defaultdict

        groups: dict[str, list[str]] = defaultdict(list)
        loose: list[str] = []
        for r in rels:
            d = _txn_dir_of(r)
            if d is not None:
                groups[d].append(r)
            else:
                loose.append(r)
        out = list(loose)
        for d in sorted(groups):
            live = groups[d]
            listed = {
                rel
                for rel in self.store.list_txn_rels(d.split("/", 1)[1])
                if not os.path.basename(rel).startswith(("_", "."))
            }
            if listed == set(live):
                out.append(d)
            else:
                out.extend(live)
        return out

    def _load_snapshot(
        self,
        spark: SparkSession,
        m: dict,
        files: list[dict],
        provenance: bool = False,
    ) -> DataFrame:
        """Materialize `files` of snapshot `m` projected to its cumulative
        table schema, applying DELETION VECTORS: positions recorded in
        the snapshot's DV parquets are removed via ONE broadcast anti-join
        on (file path, `_metadata.row_index`) over the scan of the
        DV-adjacent txn dirs. With `provenance`, appends `_rel`
        (manifest-relative file path) and `_pos` (row position within that
        file) — what the copy-on-write rewrite and the DV writer key on.

        Files split into a plain branch and a DV branch at DIRECTORY
        granularity: a file-aligned split would leave a txn dir with even
        one DV-carrying file straddling the branches, so neither branch
        list-matches in `_coalesce_dirs` and planning falls back to
        per-file scan paths (~0.1 ms of planning-time file-index work EACH).
        A txn dir goes to the meta+anti-join branch only when it CONTAINS
        a DV-carrying file, whole — so both branches keep directory
        coalescing (O(commits) scan paths), commits untouched by deletes
        read on the byte-identical plain path (no `_metadata`, no
        probe), and the single broadcast hash anti-join over the
        DV-adjacent dirs stays inside whole-stage codegen against a
        relation bounded by the snapshot's DELETED row count — never a
        shuffle. At 100 TB this means a table with deletes clustered in
        a few commits pays the DV machinery only on those commits' data.

        Result-identity of the whole-scan anti-join: a DV parquet only
        holds (file, pos) rows for files hit at its write time; any such
        file either still references a DV containing those positions or
        was since rewritten under a fresh `txn=<uuid>` path that cannot
        collide — so no position of a live, DV-free file can ever match
        the DV relation, and duplicate coverage of the same (file, pos)
        across stacked/merged DVs is idempotent under anti-join set
        semantics. When the snapshot has no DVs and no provenance is
        asked, the plan is byte-identical to the pre-DV read (no
        `_metadata` reference, nothing blocks column pruning)."""
        schema = StructType.fromJson(json.loads(self._table_schema_of(m)))
        # logical→physical resolution (column mapping): files
        # store physical names; the projection relabels to the
        # snapshot's contemporaneous logical names — identity on tables
        # that never renamed/dropped
        mapping = m.get("column_mapping") or {}
        # StructType.add parses JSON type names — "long", not "bigint"
        # (the "bigint" spelling raises CANNOT_PARSE_DATATYPE on the
        # empty-snapshot branch, crashing a fully-pruned no-match
        # DELETE/UPDATE instead of no-opping)
        prov_fields = (
            [("_rel", "string"), ("_pos", "long")] if provenance else []
        )
        if not files:
            out_schema = StructType.fromJson(
                json.loads(schema.json())
            )
            for name, typ in prov_fields:
                out_schema = out_schema.add(name, typ)
            return spark.createDataFrame([], out_schema)

        def load(entries: list[dict], with_meta: bool) -> DataFrame:
            live = [e["path"] for e in entries]
            # Spark's file index pays ~0.1 ms of planning-time
            # glob/qualify/list work PER PATH — 1.9 s for a 16k-file
            # snapshot before a single task runs. Txn dirs are
            # immutable after commit, so when a directory's on-disk
            # parquet content EXACTLY equals its live set, one DIRECTORY
            # path replaces all its per-file paths: path count drops
            # from O(files) to O(commits). Dirs with dead/extra files
            # (CoW leftovers pre-vacuum, zombies) fall back to per-file
            # paths — result-identical by construction.
            rels, n_dirs = live, 0
            if self.data_dir is not None and len(live) >= 512:
                rels = self._coalesce_dirs(live)
                n_dirs = len(set(rels) - set(live))
            _log.debug(
                "manifest scan %s: %d live files, %d scan paths, "
                "%d txn dirs coalesced",
                self.root, len(live), len(rels), n_dirs,
            )
            base, paths = self.store.resolve_read(rels)
            # The snapshot's cumulative schema is KNOWN from the
            # manifest — declare it (under PHYSICAL names) instead of
            # mergeSchema, which fetches EVERY file footer at frame-
            # construction time: measured 100 s at 4096 files by
            # scripts/soak_planning.py, ~40 min extrapolated at 10^5.
            # The explicit-schema parquet reader gives the identical
            # semantics for free: absent columns (pre-evolution files)
            # read as NULL, partition-discovery types are pinned to the
            # committed types, extra (dropped) columns are ignored —
            # with ZERO footer reads at plan time.
            phys = StructType(
                [
                    StructField(mapping.get(f.name, f.name), f.dataType, True)
                    for f in schema.fields
                ]
            )
            df = (
                spark.read.schema(phys)
                .option("basePath", base)
                .parquet(*paths)
            )
            avail = set(df.columns)
            cols = [
                (
                    F.col(mapping.get(f.name, f.name))
                    if mapping.get(f.name, f.name) in avail
                    else F.lit(None)
                ).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ]
            if with_meta:
                cols += [
                    self._rel_expr().alias("_rel"),
                    F.col("_metadata.row_index").alias("_pos"),
                ]
            return df.select(*cols)

        dv_rels = sorted({p for e in files for p in e.get("dv", ())})
        if provenance or not dv_rels:
            # provenance wants meta on every row anyway; no DVs wants
            # meta on none — either way one branch, one scan
            out = load(files, provenance)
            plain = None
        else:
            # DIR-ALIGNED split: only the txn dirs that CONTAIN a
            # DV-carrying file pay the `_metadata` projection and the
            # anti-join probe; dirs untouched by deletes — the bulk of a
            # real table — read on the byte-identical plain path.
            # Splitting at DIRECTORY granularity (never inside a dir) is
            # what keeps `_coalesce_dirs` sound on both branches (see the
            # docstring). Loose (non-txn-dir) files split individually —
            # they never dir-coalesce anyway. The grouping rule is the
            # SHARED `_txn_dir_of`, so the split can never desynchronize
            # from what coalescing groups; one `_txn_dir_of` per entry
            # keeps this loop over the FULL file list cheap
            dirs = {e["path"]: _txn_dir_of(e["path"]) for e in files}
            dv_dirs = {
                d
                for e in files
                if e.get("dv") and (d := dirs[e["path"]]) is not None
            }
            dved, plain_entries = [], []
            for e in files:
                if e.get("dv") or dirs[e["path"]] in dv_dirs:
                    dved.append(e)
                else:
                    plain_entries.append(e)
            out = load(dved, True)
            plain = load(plain_entries, False) if plain_entries else None
        if dv_rels:
            _, dv_paths = self.store.resolve_read(dv_rels)
            dv = spark.read.parquet(*dv_paths).select("file", "pos")
            out = out.join(
                F.broadcast(dv),
                (F.col("_rel") == F.col("file"))
                & (F.col("_pos") == F.col("pos")),
                "left_anti",
            )
            if not provenance:
                out = out.drop("_rel", "_pos")
        if plain is not None:
            out = out.unionByName(plain)
        return out

    def _read_with_provenance(self, spark: SparkSession, m: dict):
        """The snapshot `m`'s rows (DV-applied, same contract as read())
        plus `_rel`/`_pos` provenance columns."""
        return self._load_snapshot(spark, m, m["files"], provenance=True)

    def _where_snapshot(self, spark: SparkSession, condition):
        """(latest version, its manifest, the files that can hold a row
        matching `condition`, `condition` as a Column): the discovery
        prelude of every row-level op. A WHERE string prunes through
        `prune.from_where`; Column conditions prune nothing."""
        latest = self._require_latest()
        pred = from_where(condition, spark)
        m = self.manifest(latest, prune=pred)
        cond = F.expr(condition) if isinstance(condition, str) else condition
        return latest, m, keep(m, m["files"], pred), cond

    def _rewrite_files(
        self,
        spark: SparkSession,
        condition,
        action: str,
        transform,
        range_filter=None,
    ) -> int:
        """Copy-on-write core for row-level DELETE/UPDATE: find the files
        holding at least one row matching `condition`, rewrite ONLY those
        files through `transform(rows_of_hit_files)`, and commit the
        swap as a `remove: files` delta entry — untouched files carry
        over by reference (their manifest entries, stats and all, are
        byte-identical), and every prior version still time-travels.

        The hit-file discovery is one predicate-pushed scan; its result
        (a list of file PATHS, bounded by the snapshot's file count, not
        its rows) is the single driver-side collect — the same class of
        metadata collect the streaming sink's day list makes. Concurrency
        is conservative-serializable: any commit landing after the
        snapshot read aborts this one with ConcurrentWriteConflict (a
        concurrent append could add rows the predicate should have seen —
        Delta's serializable DELETE). A no-match predicate is a no-op
        returning the current version (no empty commit).

        Discovery only scans the files a WHERE-string `condition` can
        match (`_where_snapshot`). `range_filter` is an explicit hint
        applied on top, with Delta's replaceWhere-hint contract: the
        ranges must OVER-APPROXIMATE `condition` (every row the condition
        can match lies inside them) — files without stats are always
        kept, so a correct hint can never change the result, only the
        work."""
        latest, m, files, cond = self._where_snapshot(spark, condition)
        files = keep(m, files, from_dicts(range_filter=range_filter))
        prov = self._load_snapshot(spark, m, files, provenance=True)
        hit = [
            r._rel
            for r in prov.filter(cond).select("_rel").distinct().collect()
        ]
        if not hit:
            return latest
        part_by = m["partition_by"] or None
        rewritten = transform(
            prov.filter(F.col("_rel").isin(hit)), cond
        ).drop("_rel", "_pos")
        return self._commit(
            rewritten,
            part_by,
            action,
            "files",
            base=latest,
            remove_paths=hit,
        )

    def delete_where(
        self, spark: SparkSession, condition, mode: str = "cow",
        range_filter=None,
    ) -> int:
        """Row-level DELETE FROM ... WHERE (Delta/Iceberg semantics):
        rows matching `condition` (SQL string or Column) disappear from
        the new latest version; rows whose predicate is NULL survive (SQL
        DELETE semantics). Returns the new version (or the current one on
        a no-match no-op).

        `mode` picks the physical strategy — the same knob Delta exposes:
        - **"cow"** (copy-on-write, default): only the files that CONTAIN
          matches are rewritten. Best for read-heavy tables; with
          `stats_cols`/Z-ordering keeping matches clustered, the rewrite
          touches a handful of files, not the table.
        - **"dv"** (merge-on-read deletion vectors): NO data file is
          rewritten — the matched (file, row position) pairs are recorded
          in a positions-only DV parquet and the affected entries
          re-committed with a `dv` reference; readers apply the DV as a
          broadcast anti-join. Best for write-heavy / huge-file tables:
          deleting 100 rows from a 1 GB file costs a KB-scale DV write
          instead of a 1 GB rewrite. `compact()` (or any CoW rewrite of
          the file) materializes the deletes and drops the DV.
        Both modes are serializable: any racing commit aborts this one."""
        if mode == "dv":
            return self._delete_where_dv(spark, condition)
        if mode != "cow":
            raise ValueError(f"delete_where mode must be 'cow' or 'dv', got {mode!r}")

        def keep_survivors(hit_rows, cond):
            return hit_rows.filter(
                ~F.coalesce(cond.cast("boolean"), F.lit(False))
            )

        return self._rewrite_files(
            spark, condition, "delete", keep_survivors,
            range_filter=range_filter,
        )

    def _write_dv(
        self, dv_df: DataFrame, files: list[dict]
    ) -> tuple[str, str, list[str]]:
        """Write a deletion-vector parquet (`file` string, `pos` bigint)
        into a fresh txn dir; return (txn name, table-relative DV path,
        sorted paths of the `files` entries the DV covers). coalesce(1): a
        DV is positions-only — two columns bounded by the DELETED row
        count, not table size — so one file keeps the reader's broadcast
        side a single footer fetch."""
        from .dv import dead_positions

        txn = uuid.uuid4().hex
        dv_df.coalesce(1).write.parquet(self.store.txn_stage_dir(txn))
        written = [
            rel for rel, _local in self.store.finalize_txn(txn)
        ]
        if len(written) != 1:  # coalesce(1) wrote exactly one part file
            raise RuntimeError(f"DV write produced {len(written)} files")
        local = self.store.resolve_read(written)[1][0]
        dead = dead_positions({e["path"]: [local] for e in files})
        return f"txn={txn}", written[0], sorted(f for f, p in dead.items() if len(p))

    def _drop_uncommitted_dv(self, dv_rel: str) -> None:
        """Best-effort delete of the txn dir holding a staged DV parquet
        (or a DV update's fresh data file) that a pre-publish commit
        abort left unreferenced. Best-effort: a failed delete only
        re-creates the orphan vacuum would have swept anyway."""
        d = _txn_dir_of(dv_rel)
        if d is None:
            return
        try:
            self.store.delete_txn_dir(d.split("/", 1)[1])
        except OSError:
            pass  # vacuum's min-age orphan sweep remains the backstop

    def _merge_stacked_dvs(
        self, txn: str, dv_rel: str, hit: list[str], m: dict
    ) -> str:
        """Fold stacked deletion vectors at commit time: when any hit
        file already carries DVs, each hit file's dead positions (its own
        DVs plus the fresh one) are written as ONE merged DV parquet, and
        the caller points every hit file's `dv` list at just it, so a
        repeatedly-deleted file keeps dv depth 1. Cost is
        O(previously-deleted rows of the hit files), never table data.
        Old DV parquets stay on disk for time travel; an old rel shared
        with a non-hit file keeps being referenced by that file. Returns
        the DV rel the commit should reference; when no hit file has
        prior DVs the fresh rel passes through untouched."""
        from .dv import write_positions

        by_path = {e["path"]: e for e in m["files"]}
        if not any(by_path[f].get("dv") for f in hit):
            return dv_rel
        dead = self._dead_positions(
            [{"path": f, "dv": [*by_path[f].get("dv", ()), dv_rel]} for f in hit]
        )
        mtxn = uuid.uuid4().hex
        stage = self.store.txn_stage_dir(mtxn)
        os.makedirs(stage, exist_ok=True)
        write_positions(os.path.join(stage, "dv-merged.parquet"), dead)
        written = [rel for rel, _local in self.store.finalize_txn(mtxn)]
        # the provisional un-merged DV was never referenced by any commit
        self.store.delete_txn_dir(txn)
        return written[0]

    def _delete_where_dv(self, spark: SparkSession, condition, apply_set=None) -> int:
        """Merge-on-read DELETE: record matched row positions in a DV
        parquet and re-commit the hit file entries with the DV attached
        (`remove: files` + re-add, so `_apply` needs no new replay kind).
        An UPDATE is the same DELETE plus the matched rows' images under
        `apply_set(matched, cond)`, appended as a fresh data file
        (written through the normal txn path, so it lands in the table's
        partition layout with footer stats like any commit).

        The file entries' recorded stats stay as written — after a DV
        they are OVER-approximations of the live rows, which is the sound
        direction for skipping (a pruned file never contains live
        matches). Conflict semantics match the CoW path: the DV was
        derived from a snapshot, so any racing commit aborts it."""
        latest, m, files, cond = self._where_snapshot(spark, condition)
        prov = self._load_snapshot(spark, m, files, provenance=True)
        matched = prov.filter(
            F.coalesce(cond.cast("boolean"), F.lit(False))
        )
        txn, dv_rel, hit = self._write_dv(
            matched.select(
                F.col("_rel").alias("file"), F.col("_pos").alias("pos")
            ),
            files,
        )
        if not hit:
            self.store.delete_txn_dir(txn)  # empty DV: no-op, no commit
            return latest
        p_entry = self._raw(latest)
        cons, mapping = self._constraints_of(p_entry), self._mapping_of(p_entry)
        part_by = m["partition_by"] or None
        new_files: list[dict] = []
        if apply_set is not None:
            updated = apply_set(matched, cond).drop("_rel", "_pos")
            # the updated images are NEW rows — same constraint surface as
            # a _commit write path (the CoW twin validates inside _commit)
            self._validate_constraints(updated, cons)
            _txn, new_files = self._write_txn(updated, part_by, mapping=mapping)
        dv_rel = self._merge_stacked_dvs(txn, dv_rel, hit, m)
        hitset = set(hit)
        add = [
            dict(e, dv=[dv_rel]) for e in m["files"] if e["path"] in hitset
        ]
        try:
            # schema, constraints and mapping carry over from the parent
            return self._commit_files(
                spark, None, add + new_files, self._table_schema_of(p_entry),
                part_by, "update_dv" if apply_set else "delete_dv", "files",
                latest, cons, remove_paths=hit, validate=False,
                column_mapping=mapping, base_mapping=mapping,
            )
        except ConcurrentWriteConflict:
            # a conflict abort is definitively pre-publish (raised by
            # _check_conflicts before _publish runs), so the staged dirs —
            # the DV parquet, fresh or merged, and any updated-row data
            # files — are unreferenced by any commit and only this process
            # knows their uuids: delete them instead of stranding orphans
            # until vacuum's min-age sweep. Other failure modes (ambiguous
            # _publish IO errors) deliberately leave them for vacuum —
            # deleting on an ambiguous failure could tear a commit that
            # actually landed.
            self._drop_uncommitted_dv(dv_rel)
            if new_files:  # all in one txn dir
                self._drop_uncommitted_dv(new_files[0]["path"])
            raise

    def update_where(
        self, spark: SparkSession, condition, set_exprs: dict,
        mode: str = "cow", range_filter=None,
    ) -> int:
        """Row-level UPDATE ... SET ... WHERE (same file selectivity and
        concurrency contract as delete_where): matched rows get each
        `set_exprs[col]` (SQL string or Column) applied, unmatched rows
        in the same files pass through byte-equal; the assigned value is
        cast to the column's existing type (an UPDATE never changes the
        table schema).

        `mode="cow"` rewrites the files containing matches; `mode="dv"`
        (merge-on-read) leaves them in place — the old positions of the
        matched rows go into a deletion vector and the UPDATED rows are
        appended as a fresh data file, so update cost scales with the
        matched ROWS, not the size of the files they sit in."""
        for c in set_exprs:
            if c not in self._read_schema_names():
                raise ValueError(
                    f"update_where SET references unknown column {c!r}"
                )

        def apply_set(hit_rows, cond):
            matched = F.coalesce(cond.cast("boolean"), F.lit(False))
            out = hit_rows
            for c, expr in set_exprs.items():
                val = F.expr(expr) if isinstance(expr, str) else expr
                ctype = dict(
                    (f.name, f.dataType) for f in hit_rows.schema.fields
                )[c]
                out = out.withColumn(
                    c, F.when(matched, val.cast(ctype)).otherwise(F.col(c))
                )
            return out

        if mode == "dv":
            return self._delete_where_dv(spark, condition, apply_set)
        if mode != "cow":
            raise ValueError(f"update_where mode must be 'cow' or 'dv', got {mode!r}")
        return self._rewrite_files(
            spark, condition, "update", apply_set, range_filter=range_filter,
        )

    def _read_schema_names(self) -> set:
        latest = self.latest_version()
        if latest is None:
            return set()
        schema = StructType.fromJson(
            json.loads(self._table_schema_of(self._raw(latest)))
        )
        return {f.name for f in schema.fields}

    def changes_since(
        self,
        spark: SparkSession,
        version: int,
        key_cols: list[str],
        include_preimage: bool = False,
    ) -> DataFrame:
        """Incremental-consumer sugar: the net change feed from
        `version` to the current latest (snapshot_diff against latest).
        A consumer stores the version it last processed and calls this
        each cycle — the polling form of a CDC subscription; per-commit
        granularity is `snapshot_diff(v, v+1)` over `history()`."""
        return self.snapshot_diff(
            spark,
            version,
            self.latest_version(),
            key_cols,
            include_preimage=include_preimage,
        )

    def _dead_positions(self, files: list[dict]) -> dict:
        """`dv.dead_positions` for the DV-carrying entries of `files`:
        {file path: sorted distinct deleted positions}."""
        from .dv import dead_positions

        rels = sorted({r for e in files for r in e.get("dv", ())})
        local = dict(zip(rels, self.store.resolve_read(rels)[1]))
        return dead_positions(
            {e["path"]: [local[r] for r in e["dv"]] for e in files if e.get("dv")}
        )

    def compact(
        self,
        spark: SparkSession,
        target_file_bytes: int = 128 * 1024 * 1024,
        small_file_bytes: int | None = None,
    ) -> int:
        """Small-files compaction THROUGH the commit log: rewrite the
        latest snapshot into ~target-size files and commit as a new
        version (action visible in history; old versions still
        time-travel until vacuum). The streaming sink's many per-batch
        txn dirs fold into one — readers switch atomically. Returns the
        new version. A commit landing between the snapshot read and the
        publish ABORTS this compaction with ConcurrentWriteConflict; just
        re-run it.

        With `small_file_bytes` set, compaction is FILE-SELECTIVE
        (Delta's OPTIMIZE shape): only files SMALLER than the
        threshold, plus any file carrying a deletion vector (whose
        deletes this rewrite materializes), are read and rewritten;
        every other file carries over by reference in a `remove: files`
        delta entry. This is the form that matters at 100 TB — a
        streaming table's compaction cost becomes O(recent small files),
        not O(table); the default full rewrite stays available for
        re-binning an entire snapshot. Fewer than two candidates and no
        DV → no-op (nothing to fold). Conflict semantics stay
        conservative either way: any racing commit aborts the
        compaction."""
        import math

        latest = self._require_latest()
        m = self.manifest(latest)
        part_by = m["partition_by"] or None
        if small_file_bytes is None:
            chosen = m["files"]
            df = self.read(spark, version=latest)
        else:
            chosen = [
                e
                for e in m["files"]
                if e["bytes"] < small_file_bytes or e.get("dv")
            ]
            if len(chosen) < 2 and not any(e.get("dv") for e in chosen):
                return latest
            df = self._load_snapshot(spark, m, chosen)
        n = max(
            1,
            math.ceil(sum(e["bytes"] for e in chosen) / target_file_bytes),
        )
        # On a partitioned table, hash-distribute BY the partition columns
        # so each value lands in one task → ~one file per partition; a
        # plain repartition(n) scatters every partition's rows across all
        # n tasks and the partitionBy write then emits up to n×values
        # files — compaction MULTIPLYING small files.
        df = df.repartition(n, *part_by) if part_by else df.repartition(n)
        # base=latest: the rewrite was derived from snapshot `latest`, so
        # the conflict gate must anchor there, not at _commit entry — a
        # commit landing between the read above and the publish would
        # otherwise be silently clobbered.
        if small_file_bytes is None:
            return self._commit(df, part_by, "compact", "all", base=latest)
        return self._commit(
            df,
            part_by,
            "compact",
            "files",
            base=latest,
            remove_paths=[e["path"] for e in chosen],
        )

    def reorg(
        self,
        spark: SparkSession,
        min_deleted_ratio: float = 0.0,
        target_file_bytes: int = 128 * 1024 * 1024,
    ) -> int:
        """REORG TABLE ... APPLY (PURGE) analog: materialize deletion
        vectors into rewritten data files for every file whose deleted-row
        fraction is ≥ `min_deleted_ratio` (0.0 = every DV-carrying file,
        a full purge; 0.3 = only files at least 30% dead). Chosen files
        are read DV-applied and rewritten into ~target-size files;
        everything else carries over by reference. Selection reads only
        the DV parquets (positions-only, bounded by deletes), never data,
        and keeps the read-side anti-join relation small on delete-heavy
        tables. No DV-carrying file past the threshold → no-op returning
        the current version. Conflict semantics match compact: any racing
        commit aborts with ConcurrentWriteConflict."""
        import math

        latest = self._require_latest()
        m = self.manifest(latest)
        dved = [e for e in m["files"] if e.get("dv")]
        if not dved:
            return latest
        if min_deleted_ratio <= 0:
            chosen = dved  # full purge: no need to count dead positions
        else:
            dead = self._dead_positions(dved)
            chosen = [
                e
                for e in dved
                if e["rows"]
                and len(dead[e["path"]]) / e["rows"] >= min_deleted_ratio
            ]
        if not chosen:
            return latest
        df = self._load_snapshot(spark, m, chosen)
        part_by = m["partition_by"] or None
        n = max(
            1,
            math.ceil(sum(e["bytes"] for e in chosen) / target_file_bytes),
        )
        df = df.repartition(n, *part_by) if part_by else df.repartition(n)
        return self._commit(
            df,
            part_by,
            "reorg",
            "files",
            base=latest,
            remove_paths=[e["path"] for e in chosen],
        )

    def optimize_zorder(
        self,
        spark: SparkSession,
        cols: list[str],
        n_files: int,
        bits: int = 16,
    ) -> int:
        """OPTIMIZE ZORDER BY through the commit log: rewrite the latest
        snapshot Morton-clustered on `cols` (operators/layout.py — one
        range exchange + local sort) into `n_files` files and commit as a
        new version. With `stats_cols` covering the z-columns, every
        rewritten file gets a tight multi-dim min/max box in the manifest,
        so `read(range_filter=...)` skips most files for ANY predicate on
        a subset of the z-columns — the Delta OPTIMIZE ZORDER + data-
        skipping pair. Like `compact`, aborts with
        ConcurrentWriteConflict if a commit races it."""
        from ..operators.layout import zorder_by

        latest = self._require_latest()
        # Preserve the table's partition spec: committing unpartitioned
        # would erase partition metadata, so a later partition_filter
        # read would silently return 0 rows and the streaming sink's
        # next replace_partitions would double-count.
        part_by = self._raw(latest).get("partition_by") or None
        df = zorder_by(self.read(spark, version=latest), cols, n_files, bits)
        # base=latest: anchor the conflict gate at the snapshot this
        # rewrite was derived from (see compact).
        return self._commit(df, part_by, "optimize", "all", base=latest)

    def row_count(self, version: int | None = None) -> int:
        """``SELECT count(*)`` answered from metadata, with no data-page
        scan: each entry's recorded footer row count minus its distinct
        DV positions, each DV parquet read once."""
        if version is None:
            version = self._require_latest()
        files = self.manifest(version)["files"]
        dead = self._dead_positions(files)
        return sum(e["rows"] for e in files) - sum(map(len, dead.values()))

    def describe_detail(self) -> dict:
        """Delta `DESCRIBE DETAIL`: one dict of table-level facts derived
        from the manifest alone (no data scan) — current version, file
        count, total bytes, partition columns, constraint map, DV debt
        (files carrying deletion vectors), and the commit timestamp."""
        latest = self._require_latest()
        e = self._raw(latest)
        files = self._snapshot_files(latest)
        return {
            "location": self.root,
            "version": latest,
            "num_files": len(files),
            "size_bytes": sum(f["bytes"] for f in files),
            # None under DV debt: recorded rows still count deleted ones
            # (row_count() subtracts them)
            "num_rows": (
                sum(f["rows"] for f in files)
                if files and not any(f.get("dv") for f in files)
                else None
            ),
            "partition_columns": e.get("partition_by") or [],
            "constraints": dict(self._constraints_of(e)),
            "column_mapping": self._mapping_of(e),
            "num_files_with_dv": sum(1 for f in files if f.get("dv")),
            "last_commit_action": e.get("action"),
            "last_commit_at": float(e["committed_at"]),
        }

    def clone_to(
        self,
        dest_root: str,
        version: int | None = None,
        log_store=None,
        checkpoint_interval: int = 10,
    ) -> "ManifestTable":
        """DEEP CLONE (Delta's `CLONE ... DEEP`): materialize `version`'s
        snapshot as a NEW independent table at `dest_root`. Plain files
        copy BYTE-IDENTICAL with their manifest [min, max] stats carried
        (zero decode, zero shuffle — no SparkSession needed); files
        carrying deletion vectors are materialized (deleted positions
        dropped via pyarrow, so the clone starts merge-on-read-debt
        free); CHECK constraints carry over; partition layout is
        preserved. The clone's log starts at v0 with action "clone" and
        shares NO storage with the source — vacuuming either table never
        touches the other, which is the deliberate reason a SHALLOW
        cross-root clone is not offered here (shared files would break
        the vacuum liveness contract both tables' readers rely on).

        Scale shape: O(snapshot bytes) sequential copy through the
        driver-local namespace (the logstore cache for S3 sources; the
        staged dir uploads on S3 destinations) — the env's single-node
        boundary; on a cluster with s3a jars this becomes a distcp-style
        object copy. Use for env promotion / disaster recovery, not as
        a read path."""
        if version is None:
            version = self._require_latest()
        m = self.manifest(version)
        src_entry = self._raw(version)
        cons = self._constraints_of(src_entry)
        dest = ManifestTable(
            dest_root,
            stats_cols=self.stats_cols,
            checkpoint_interval=checkpoint_interval,
            log_store=log_store,
        )
        txn = uuid.uuid4().hex
        stage = dest.store.txn_stage_dir(txn)
        # staged local path -> source entry to carry, None = materialized
        carried: dict[str, dict | None] = {}
        dead = self._dead_positions(m["files"])
        _b, paths = self.store.resolve_read([e["path"] for e in m["files"]])
        for e, src in zip(m["files"], paths):
            # keep the partition dirs (everything between txn=<id> and
            # the filename — already Hive-escaped in the source layout);
            # fresh filename so cross-txn name reuse can never collide
            segs = e["path"].split("/")[2:-1]
            d = os.path.join(stage, *segs)
            os.makedirs(d, exist_ok=True)
            out = os.path.join(d, f"part-{uuid.uuid4().hex}.parquet")
            if e.get("dv"):
                import pyarrow.parquet as pq

                from .dv import drop_dead

                pq.write_table(drop_dead(pq.read_table(src), dead[e["path"]]), out)
                carried[os.path.abspath(out)] = None
            else:
                shutil.copyfile(src, out)
                carried[os.path.abspath(out)] = e
        cmap = self._mapping_of(src_entry) or {}
        stats_cols = [cmap.get(c, c) for c in self.stats_cols]
        entries = []
        for rel, local in dest.store.finalize_txn(txn):
            e = carried[os.path.abspath(local)]
            if e is None:
                entries.append(
                    _file_entry(local, rel, _parse_partition(rel), stats_cols)
                )
                continue
            entry = {
                "path": rel,
                "partition": _parse_partition(rel),
                "bytes": e["bytes"],
                "rows": e["rows"],
            }
            if "stats" in e:
                entry["stats"] = e["stats"]
            entries.append(entry)
        dest._commit_files(
            None,
            txn,
            entries,
            self._table_schema_of(src_entry),
            m["partition_by"] or None,
            "clone",
            "all",
            dest.latest_version(),
            cons,
            validate=False,
            # files copied byte-identical keep their PHYSICAL names —
            # the source's mapping must travel or a renamed column
            # would read as all-null in the clone
            column_mapping=self._mapping_of(src_entry),
        )
        return dest

    def last_txn_version(self, app: str) -> int | None:
        """The highest `txn` version committed for `app` in the RETAINED
        log — Delta's txn action, the idempotence anchor for exactly-once
        streaming sinks: a restarted stream skips any batchId ≤ this.
        Driver-side O(retained log) JSON scan. Caveat (same as Delta's
        log retention): vacuum truncating the log past a batch's entry
        forgets that batch was committed — keep `keep_versions` above the
        longest possible restart lag for idempotent-writer tables.
        Scans NEWEST-first and stops at the first hit: the skip check
        itself makes per-app versions monotone with commit order, so the
        first match from the end IS the max — a long-lived txn stream
        pays O(distance to its last commit), not O(log) per batch.
        A MISS does not walk the whole retained log: the walk stops at
        the nearest checkpoint carrying the cumulative `txns` map (vacuum
        writes one before truncating, so idempotence memory survives log
        truncation) and answers from it, through `_read_checkpoint_body`
        like every checkpoint read; a checkpoint without the map (its
        writer could not prove it complete) falls through to the vacuum
        boundary."""
        latest = self.latest_version()
        if latest is None:
            return None
        # fast path: probe a bounded window of recent entries — NO log
        # listing (a live sink's last commit sits near the head; a LIST
        # here would put O(log) moto/S3 listing cost on every batch).
        # Hitting the vacuum truncation boundary falls THROUGH to the
        # checkpoint path (vacuum writes a txns-carrying checkpoint at
        # the lowest retained version before truncating).
        window = max(8, 2 * (self.checkpoint_interval or 10))
        v = latest
        while v >= 0 and latest - v < window:
            try:
                t = self._raw(v).get("txn")
            except FileNotFoundError:
                break  # vacuumed below here — checkpoints take over
            if t and t.get("app") == app:
                return t["version"]
            v -= 1
        if v < 0:
            return None
        # slow path (cold app / deep history / truncation): one listing.
        # Entries (v, latest] were walked with no hit, so ANY checkpoint
        # c ≤ latest answers soundly: a map value in (v, c] would have
        # been seen in the walk, hence the map's answer is ≤ v or None.
        # A floor BELOW v leaves the gap (floor, v] — walk it first.
        floor = -1
        for c in sorted(self.checkpoints(), reverse=True):
            if c <= latest:
                floor = c
                break
        if floor < v:
            # walk the gap (floor, v] the window did not reach
            for u in range(v, floor, -1):
                try:
                    t = self._raw(u).get("txn")
                except FileNotFoundError:
                    return None
                if t and t.get("app") == app:
                    return t["version"]
        if floor >= 0:
            try:
                cp = self._read_checkpoint_body(floor)
            except FileNotFoundError:
                cp = {}
            if "txns" in cp:
                return cp["txns"].get(app)
            # checkpoint without the map: walk the rest
            for u in range(min(floor, v), -1, -1):
                try:
                    t = self._raw(u).get("txn")
                except FileNotFoundError:
                    return None
                if t and t.get("app") == app:
                    return t["version"]
        return None

    def version_at(self, timestamp: float) -> int:
        """Timestamp-based time travel (Delta's TIMESTAMP AS OF): the
        newest version committed at or before `timestamp` (epoch
        seconds, matching `committed_at` / history()). Raises
        FileNotFoundError when the timestamp predates the table's oldest
        retained commit — same loud contract as a vacuumed version read.
        Driver-side log scan, O(retained versions)."""
        best = None
        for v in self.versions():
            if self._raw(v)["committed_at"] <= timestamp:
                best = v
        if best is None:
            raise FileNotFoundError(
                f"no version at or before timestamp {timestamp} in "
                f"{self.root} (oldest retained commit is later, or the "
                f"table is empty)"
            )
        return best

    def restore(self, version: int) -> int:
        """Delta RESTORE: republish version N's snapshot as the NEW
        latest — a metadata-only commit (the old data files are immutable
        and still on disk; the new log entry just lists them again), so
        rolling back a bad commit costs zero data movement. The rolled-
        back-over versions stay time-travelable until vacuum; the
        restored version's files become live again for vacuum liveness
        (they're referenced by the new head). Aborts with
        ConcurrentWriteConflict if any commit races it (overwrite
        semantics — the restored list was derived from a snapshot)."""
        # Capture the conflict base FIRST: the restored snapshot itself is
        # immutable, but a commit landing between this method's entry and
        # the base capture would otherwise make parent == base and skip
        # the conflict gate (same window as compact's).
        base = self.latest_version()
        files = self._snapshot_files(version)  # raises if vacuumed/unknown
        src = self._raw(version)
        entry = {
            "action": "restore",
            "restored_version": version,
            "partition_by": src.get("partition_by") or [],
            "table_schema": self._table_schema_of(src),
            "add": files,
            "remove": {"kind": "all"},
        }
        # RESTORE republishes the target version's METADATA too (Delta
        # restores schema and properties together): its constraint set
        # comes back with its data — consistent, and never resurrects
        # data violating a newer constraint. The contemporaneous column
        # mapping travels with it (the restored files' physical names
        # resolve under IT).
        if self._constraints_of(src):
            entry["constraints"] = self._constraints_of(src)
        if self._mapping_of(src) is not None:
            entry["column_mapping"] = self._mapping_of(src)
        return self._commit_entry("restore", "all", base, lambda _parent: entry)

    # ---------- maintenance ----------

    def vacuum(
        self,
        keep_versions: int = 1,
        min_age_seconds: float = 3600.0,
        dry_run: bool = False,
        deep: bool = False,
    ) -> list[str]:
        """Remove txn dirs referenced by NO retained snapshot — orphans
        from crashed/aborted commits and files superseded past the
        retention window. Retains the newest `keep_versions` log entries
        (≥1; readers of vacuumed history get a loud FileNotFoundError,
        same contract as Delta's VACUUM). Before dropping older log
        entries, a checkpoint is written at the oldest retained version
        so retained snapshots stay reconstructible. Returns removed txn
        dir names.

        `min_age_seconds` is the in-flight-writer guard: an
        unreferenced txn dir younger than this is indistinguishable from
        a commit BETWEEN its data write and its log publish — deleting it
        would let the writer publish an entry listing deleted files.
        Delta's retention window serves the same purpose; lower it only
        when no writer can be active (tests, sole owner).

        Reader hazard (pinned by tests/test_manifest_model.py): a reader
        holds a FILE LIST, not a lock. A reader whose version stays
        within the retention window is
        safe — its files remain referenced. `keep_versions` small + a
        long-running reader on an old version, or `min_age_seconds=0`
        with ANY concurrent reader/writer, is the documented unsafe
        combination: the reader's files can be deleted under it and its
        next action fails with a missing-file error (fail-loud, never
        wrong-answer).

        `dry_run=True` (Delta's VACUUM DRY RUN): report the txn dirs
        that WOULD be removed under these parameters — no deletion, no
        checkpoint write, no log truncation.

        `deep=True` additionally sweeps UNREFERENCED FILES inside LIVE
        txn dirs: a zombie speculative task whose write() completes
        its PUTs after the commit's pre-publish LIST leaves
        objects under a committed txn prefix that the dir-granular sweep
        never reaps. Each zombie file gets the same min_age guard (a
        younger unreferenced file could be an in-flight attempt of a
        commit racing THIS vacuum). Deep-removed paths are appended to
        the returned list (rel paths, distinguishable from `txn=` dir
        names). One extra LIST per live txn dir on S3 — live dirs are
        bounded by the retained snapshots, so this stays metadata-sized."""
        vs = self.versions()
        keep = vs[-max(1, keep_versions):] if vs else []
        live: set[str] = set()
        referenced: set[str] = set()
        files: list[dict] | None = None
        for v in keep:
            if files is None:
                files = self._snapshot_files(v)
            else:
                files = self._apply(self._raw(v), files)
            for e in files:
                first = e["path"].split("/")[1] if "/" in e["path"] else ""
                live.add(first)  # "txn=<id>"
                referenced.add(e["path"])
                # deletion vectors live in their own txn dirs and are
                # referenced by entries, not listed as data files — a
                # retained snapshot needs them to read correctly
                for dv in e.get("dv", ()):
                    live.add(dv.split("/")[1] if "/" in dv else "")
                    referenced.add(dv)
        zombies: list[str] = []
        if deep:
            for name in sorted(live):
                if not name.startswith("txn="):
                    continue
                for rel, age in self.store.list_txn_files(name):
                    base = rel.rsplit("/", 1)[-1]
                    if base.startswith((".", "_")):
                        # reader-invisible sidecars (.crc, _SUCCESS) —
                        # Delta's VACUUM skips hidden names the same way
                        continue
                    if rel not in referenced and age >= min_age_seconds:
                        zombies.append(rel)
        if dry_run:
            would = []
            for name in self.store.list_txn_dirs():
                if name in live:
                    continue
                age = self.store.txn_dir_age_seconds(name)
                if age is not None and age >= min_age_seconds:
                    would.append(name)
            return would + zombies
        if zombies:
            self.store.delete_files(zombies)
        removed = self.store.sweep_dead_txn_dirs(live, min_age_seconds)
        if keep and vs[0] < keep[0]:
            # retained snapshots must survive losing the older entries
            if keep[0] not in self.checkpoints():
                self._write_checkpoint(keep[0])
        # log truncation in ONE bulk call (one DELETE round-trip per dead
        # entry would dominate on S3)
        doomed = [self._version_name(v) for v in vs if v not in keep] + [
            self._checkpoint_name(c)
            for c in self.checkpoints()
            if keep and c < keep[0]
        ]
        self.store.delete_logs(doomed)
        return removed + zombies


class MergeBuilder:
    """Fluent clause collector for ManifestTable.merge() — the Delta
    `DeltaMergeBuilder` surface re-expressed over the manifest table's
    provenance machinery (`_read_with_provenance`'s `_rel`/`_pos`).

    Clause conditions and SET/VALUES expressions are SQL strings (or
    Columns) over the aliases `t` (target) and `s` (source). Matched
    clauses may reference both; not-matched (insert) clauses see only
    `s`; not-matched-by-source clauses see only `t` — the same scoping
    rules as Delta/ANSI MERGE.

    Physical plan (the shape that matters at 100 TB):
    - **Touched-file discovery** — one inner join target×source computing,
      per target row, how many source rows FIRE a matched clause
      (cardinality gate: >1 aborts) and which files contain firing rows;
      plus one anti-join for not-matched-by-source clauses. Driver state
      is O(files), never O(rows).
    - **Rewrite** — ONLY the touched files re-join the (broadcastable)
      source; every clause is a codegen'd CASE over a single action
      index, so one pass computes updates, deletes, and pass-through.
    - **Inserts** — source anti-join target, appended as fresh files.
    - Untouched files carry over BY REFERENCE in a `remove: files` delta
      entry; all prior versions still time-travel; racing commits abort
      (base pinned at the snapshot read).
    """

    def __init__(self, table: ManifestTable, spark: SparkSession, source: DataFrame, on):
        self._table = table
        self._spark = spark
        self._source = source
        self._on = on
        self._evolve = False
        self._matched: list[tuple] = []      # (kind, assigns, condition)
        self._not_matched: list[tuple] = []  # (values, condition)
        self._nms: list[tuple] = []          # (kind, assigns, condition)

    def with_schema_evolution(self) -> "MergeBuilder":
        """Delta `withSchemaEvolution()`: source columns absent from the
        target become NEW table columns (add-only evolution — the same
        commit-time contract appends already have). Pre-existing rows and
        carried-over files read the new columns as NULL; `*_all` clauses
        and explicit SET/VALUES may then assign them. Without this flag,
        unknown source columns are simply not part of the merge and an
        explicit assignment to an unknown column raises."""
        self._evolve = True
        return self

    # -- clause surface (each returns self for chaining) -------------------

    def when_matched_update(self, set: dict, condition=None) -> "MergeBuilder":
        """Matched rows (condition holding) get each `set[col]` applied;
        other columns keep their target value."""
        self._matched.append(("update", dict(set), condition))
        return self

    def when_matched_update_all(self, condition=None) -> "MergeBuilder":
        """UPDATE SET * — every target column present in the source (by
        name) takes the source value; target-only columns are kept."""
        self._matched.append(("update", "all", condition))
        return self

    def when_matched_delete(self, condition=None) -> "MergeBuilder":
        self._matched.append(("delete", None, condition))
        return self

    def when_not_matched_insert(self, values: dict, condition=None) -> "MergeBuilder":
        """Source rows with no target match insert a row built from
        `values` (target columns absent from `values` become NULL)."""
        self._not_matched.append((dict(values), condition))
        return self

    def when_not_matched_insert_all(self, condition=None) -> "MergeBuilder":
        """INSERT * — by-name from the source; target columns the source
        lacks become NULL."""
        self._not_matched.append(("all", condition))
        return self

    def when_not_matched_by_source_update(self, set: dict, condition=None) -> "MergeBuilder":
        """Target rows NO source row matches (condition over `t` only)."""
        self._nms.append(("update", dict(set), condition))
        return self

    def when_not_matched_by_source_delete(self, condition=None) -> "MergeBuilder":
        self._nms.append(("delete", None, condition))
        return self

    # -- execution ---------------------------------------------------------

    def _equi_keys(self) -> list[tuple[str, str]]:
        """(target col, source col) pairs for every simple `t.c = s.c`
        equality in a plain conjunction ON clause — the keys the
        automatic target-file skipping (see execute) can prune on.
        Conservative by construction: parentheses, OR, a quoted string
        literal (`re.split` on \\band\\b could otherwise
        split INSIDE a literal like `'a and b'` and the inner fragment
        fullmatch as a fake equality), or a non-string ON disable
        parsing entirely, and unparsed AND-conjuncts are simply ignored
        (extra conjuncts only REDUCE matches, so pruning on the parsed
        subset stays an over-approximation)."""
        import re

        if not isinstance(self._on, str):
            return []
        s = self._on
        if (
            "(" in s
            or ")" in s
            or "'" in s
            or '"' in s
            or re.search(r"\bor\b", s, re.I)
        ):
            return []
        pairs = []
        for atom in re.split(r"\band\b", s, flags=re.I):
            mm = re.fullmatch(
                r"\s*([ts])\s*\.\s*`?(\w+)`?\s*=\s*([ts])\s*\.\s*`?(\w+)`?\s*",
                atom,
            )
            if not mm:
                continue
            a_side, a_col, b_side, b_col = mm.groups()
            if {a_side, b_side} == {"t", "s"}:
                t_col = a_col if a_side == "t" else b_col
                s_col = a_col if a_side == "s" else b_col
                pairs.append((t_col, s_col))
        return pairs

    @staticmethod
    def _guard(condition):
        """Clause condition → boolean Column; NULL counts as no-match
        (ANSI MERGE); absent condition → always fires."""
        if condition is None:
            return F.lit(True)
        col = F.expr(condition) if isinstance(condition, str) else condition
        return F.coalesce(col.cast("boolean"), F.lit(False))

    def _value(self, v, dtype):
        col = F.expr(v) if isinstance(v, str) else v
        return col.cast(dtype)

    def execute(self) -> int:
        """Run the merge; returns the new committed version (or the
        current one if no clause fired on any row — no empty commit)."""
        if not (self._matched or self._not_matched or self._nms):
            raise ValueError("MERGE requires at least one WHEN clause")
        t, spark, src = self._table, self._spark, self._source
        # A non-deterministic source (rand(), un-ordered
        # LIMIT, a re-read of changing data) can yield DIFFERENT rows on
        # each of the merge's several evaluations — unsound for the
        # bounds prune below AND for the multi-pass merge itself (the
        # cardinality gate, the discovery join, and the insert anti-join
        # each re-evaluate src). Delta materializes the merge source for
        # exactly this reason; we localCheckpoint it eagerly so every
        # pass sees ONE pinned row set. If the plan cannot be proven
        # deterministic and cannot be checkpointed either, target-file
        # pruning is disabled (stay sound, keep Spark's usual
        # best-effort semantics for non-deterministic inputs).
        prune_ok = True
        if not _plan_deterministic(src):
            try:
                src = src.localCheckpoint(eager=True)
            except Exception:
                prune_ok = False
        reserved = {"_rel", "_pos", "__merge_src", "__merge_act", "__merge_rn"}
        bad = reserved & set(src.columns)
        if bad:
            raise ValueError(f"source carries reserved merge columns {sorted(bad)}")
        latest = t._require_latest()
        e0 = t._raw(latest)
        schema = StructType.fromJson(json.loads(t._table_schema_of(e0)))
        tcols = [f.name for f in schema.fields]
        ttypes = {f.name: f.dataType for f in schema.fields}
        if self._evolve:
            for f in src.schema.fields:
                if f.name not in ttypes and f.name not in reserved:
                    tcols.append(f.name)
                    ttypes[f.name] = f.dataType
        assigned = set()
        for _kind, assigns, _cond in self._matched + self._nms:
            if isinstance(assigns, dict):
                assigned |= set(assigns)
        for values, _cond in self._not_matched:
            if isinstance(values, dict):
                assigned |= set(values)
        unknown = assigned - set(tcols)
        if unknown:
            raise ValueError(
                f"merge assigns unknown column(s) {sorted(unknown)} — not in "
                f"the table schema (use with_schema_evolution() for new "
                f"source columns)"
            )
        on = F.expr(self._on) if isinstance(self._on, str) else self._on
        # ---- target-file skipping: when ON holds `t.c = s.c` equalities,
        # one agg over the source gives its key bounds, and target files
        # that cannot hold those keys drop out of the matched-discovery
        # join and the insert anti-join (a source row only matches equal
        # keys). One provenance frame is built up front and the prune
        # engages only past a 10% saving: building a full frame AND a
        # pruned one costs two driver file-index passes. Keys bound
        # anything only when the source type orders like the target's.
        stypes = {f.name: f.dataType for f in src.schema.fields}
        keys = [
            (tc, sc)
            for tc, sc in self._equi_keys()
            if tc in tcols
            and sc in stypes
            and (
                stypes[sc] == ttypes[tc]
                or isinstance(stypes[sc], NumericType)
                and isinstance(ttypes[tc], NumericType)
            )
        ]
        pred = None
        if keys and prune_ok:
            aggs = []
            for i, (_tc, sc) in enumerate(keys):
                aggs += [
                    F.min(F.col(f"`{sc}`")).alias(f"__lo{i}"),
                    F.max(F.col(f"`{sc}`")).alias(f"__hi{i}"),
                ]
            try:
                b = src.agg(*aggs).collect()[0]
            except Exception:
                b = None  # un-orderable key type — skip pruning, stay sound
            if b is not None:
                rf = {
                    tc: (b[f"__lo{i}"], b[f"__hi{i}"])
                    for i, (tc, _sc) in enumerate(keys)
                    if b[f"__lo{i}"] is not None and b[f"__hi{i}"] is not None
                }
                # collected timestamps are wall times in the session zone
                pred = Pred([rf], _session_tz_utc(spark)) if rf else None
        # NOT-MATCHED-BY-SOURCE needs every target file: no checkpoint
        # pre-filter then, and `prov` below reads the full list
        m = t.manifest(latest, prune=None if self._nms else pred)
        sel_files = m["files"]
        pf = keep(m, sel_files, pred)
        if len(pf) <= 0.9 * len(sel_files):
            sel_files = pf
        pruned_prov = t._load_snapshot(spark, m, sel_files, provenance=True)
        prov = pruned_prov if sel_files is m["files"] else None

        # ---- pass 1: touched files + cardinality gate (findTouchedFiles)
        hit: set = set()
        if self._matched:
            fire = F.lit(False)
            for _kind, _assigns, cond in self._matched:
                fire = fire | self._guard(cond)
            per_file = (
                pruned_prov.alias("t")
                .join(src.alias("s"), on, "inner")
                .groupBy("_rel", "_pos")
                .agg(F.sum(fire.cast("int")).alias("__nf"))
                .groupBy("_rel")
                .agg(F.max("__nf").alias("__mx"))
                .collect()
            )
            if any(r["__mx"] > 1 for r in per_file):
                raise MergeCardinalityError(
                    "a target row matched multiple source rows that would "
                    "modify it — deduplicate the source on the merge keys"
                )
            hit |= {r["_rel"] for r in per_file if r["__mx"] > 0}
        if self._nms:
            if prov is None:
                prov = t._read_with_provenance(spark, m)
            fire = F.lit(False)
            for _kind, _assigns, cond in self._nms:
                fire = fire | self._guard(cond)
            hit |= {
                r._rel
                for r in prov.alias("t")
                .join(src.alias("s"), on, "left_anti")
                .filter(fire)
                .select("_rel")
                .distinct()
                .collect()
            }
        hit_rels = sorted(hit)

        # ---- pass 2: new images for touched files (writeAllChanges)
        part_by = m["partition_by"] or None
        rewritten = None
        if hit_rels:
            # Load ONLY the touched files for the rewrite (their DVs still
            # apply). A filter on `_rel` over the full snapshot would scan
            # every file — `_rel` derives from _metadata.file_path, which
            # the parquet source cannot prune on; restricting the ENTRY
            # LIST is what makes pass 2 O(touched files) at 100 TB.
            hit_set = set(hit_rels)
            hit_entries = [e for e in m["files"] if e["path"] in hit_set]
            hit_tgt = t._load_snapshot(
                spark, m, hit_entries, provenance=True
            ).alias("t")
            srcm = src.withColumn("__merge_src", F.lit(True)).alias("s")
            joined = hit_tgt.join(srcm, on, "left")
            matched = F.col("__merge_src").isNotNull()
            # one action index per row; when-chain order = declaration
            # order, so the first clause that fires wins (ANSI MERGE)
            guards = []
            for kind, assigns, cond in self._matched:
                guards.append((len(guards), matched & self._guard(cond), kind, assigns))
            for kind, assigns, cond in self._nms:
                guards.append((len(guards), (~matched) & self._guard(cond), kind, assigns))
            chain = None
            for i, g, _kind, _assigns in guards:
                chain = F.when(g, F.lit(i)) if chain is None else chain.when(g, F.lit(i))
            with_act = joined.withColumn("__merge_act", chain.otherwise(F.lit(-1)))
            # A target row can match SEVERAL source rows of which at most
            # one fires (the cardinality gate bounds firing pairs, not
            # matching pairs) — without this reduction each non-firing
            # pair would emit a pass-through COPY of the row. Keep exactly
            # one pair per target row, preferring the firing one.
            from pyspark.sql.window import Window

            rn = F.row_number().over(
                Window.partitionBy("_rel", "_pos").orderBy(
                    F.when(F.col("__merge_act") == -1, F.lit(2**31)).otherwise(
                        F.col("__merge_act")
                    )
                )
            )
            with_act = (
                with_act.withColumn("__merge_rn", rn)
                .filter(F.col("__merge_rn") == 1)
                .drop("__merge_rn")
            )
            del_idx = [i for i, _g, kind, _a in guards if kind == "delete"]
            kept = (
                with_act.filter(~F.col("__merge_act").isin(del_idx))
                if del_idx
                else with_act
            )
            orig = {f.name for f in schema.fields}
            out_cols = []
            for c in tcols:
                # evolved columns have no target side yet: pre-existing
                # rows read them as NULL (add-only evolution contract)
                expr = (
                    F.col(f"t.`{c}`")
                    if c in orig
                    else F.lit(None).cast(ttypes[c])
                )
                for i, _g, kind, assigns in guards:
                    if kind != "update":
                        continue
                    amap = (
                        {cc: f"s.`{cc}`" for cc in tcols if cc in src.columns}
                        if assigns == "all"
                        else assigns
                    )
                    if c in amap:
                        expr = F.when(
                            F.col("__merge_act") == i,
                            self._value(amap[c], ttypes[c]),
                        ).otherwise(expr)
                out_cols.append(expr.alias(c))
            rewritten = kept.select(*out_cols)

        inserts = None
        if self._not_matched:
            ins_src = src.alias("s").join(
                pruned_prov.alias("t"), on, "left_anti"
            )
            chain = None
            for j, (_values, cond) in enumerate(self._not_matched):
                g = self._guard(cond)
                chain = F.when(g, F.lit(j)) if chain is None else chain.when(g, F.lit(j))
            kept = ins_src.withColumn(
                "__merge_act", chain.otherwise(F.lit(-1))
            ).filter(F.col("__merge_act") >= 0)
            out_cols = []
            for c in tcols:
                expr = F.lit(None).cast(ttypes[c])
                for j, (values, _cond) in enumerate(self._not_matched):
                    vmap = (
                        {cc: f"s.`{cc}`" for cc in tcols if cc in src.columns}
                        if values == "all"
                        else values
                    )
                    if c in vmap:
                        expr = F.when(
                            F.col("__merge_act") == j,
                            self._value(vmap[c], ttypes[c]),
                        ).otherwise(expr)
                out_cols.append(expr.alias(c))
            inserts = kept.select(*out_cols)

        if not hit_rels:
            # nothing rewrites; commit only if the merge actually inserts
            if inserts is None or inserts.limit(1).count() == 0:
                return latest
            result = inserts
        else:
            result = rewritten if inserts is None else rewritten.unionByName(inserts)
        # base=latest: the merge read snapshot `latest` — racing commits
        # must abort, they may contain rows the ON condition should have
        # seen (Delta's serializable MERGE; same anchor as delete_where)
        return t._commit(
            result, part_by, "merge", "files", base=latest, remove_paths=hit_rels
        )
