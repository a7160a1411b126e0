"""The manifest table as a Structured Streaming SOURCE.

Delta parity: `spark.readStream.format("delta")` turns a lake table into
an unbounded stream of its committed appends. This module gives the
manifest table the same role through Spark 4's Python Data Source API
(SPARK-44076, public): offsets ARE commit versions, and each micro-batch
is exactly the data files ADDED by versions (start, end]. Planning and
the executor-side read are the batch `manifest` reader's own
(`io/datasource.py`: `_plan` size-packs the files into `_ScanPartition`s,
`_scan` reads them), so a micro-batch parallelizes by data size like a
native parquet scan. The exactly-once contract falls out of the offset
log (Spark checkpoints the last processed version; a restart resumes
from it; replays re-read the same immutable files).

Change commits (overwrite / row-level delete-update / merge /
replace_partitions / compact / restore) REWRITE data, which an
append-only stream cannot represent — they fail the stream loudly, or
are skipped wholesale with `skipChangeCommits=true` (streaming only
later appends), exactly Delta's knob of the same name. Version 0 is the
initial snapshot and always streams (Delta's initial load). Metadata-only
commits (constraint add/drop) stream nothing and are skipped silently.

Reference tie-in: the reference has no streaming at all — its closest
notion is re-reading the clobbered bucket CSV (build/unpack_to_raw.py:57);
this is the subscribe-to-the-table form that replaces that polling.

Scale shape: offset resolution and partition planning are driver-side
O(Δ versions) metadata ops on the JSON log; the data path is
size-binned pyarrow batch reads (Arrow all the way into Spark),
no driver materialization. The local LogStore serves files in place;
object-store tables stream through the store's driver-local
immutable-file cache, so an S3-backed stream is a single-node
(local[N]) shape here, the same boundary io/logstore.py documents for
batch reads.
"""

from __future__ import annotations

import json

from pyspark.sql.datasource import DataSource, DataSourceStreamReader
from pyspark.sql.types import StructType

from ..io.datasource import _nullable, _open_table, _plan, _scan

# actions whose entries only ADD data relative to their parent — safe for
# an append-only stream. Everything else rewrites (or rolls back) rows.
_APPEND_ACTIONS = {"append"}
# metadata-only actions: no data motion either way; skipped silently.
# rename/drop_column qualify because the stream projects through the
# logical schema + mapping CAPTURED AT STREAM START: physical names are
# immutable, so files appended after a mid-stream rename still carry the
# same physical columns the captured mapping resolves (the relabel only
# becomes visible to a NEW stream, which captures the new schema —
# Delta's restart-on-rename semantics without the hard failure).
_METADATA_ACTIONS = {
    "add_constraint",
    "drop_constraint",
    "rename_column",
    "drop_column",
}


class ManifestStreamReader(DataSourceStreamReader):
    """Versions are offsets: {"version": N} means commits 0..N consumed."""

    def __init__(self, schema: StructType, options: dict):
        self._schema = schema
        self._root = options["path"]
        self._skip_changes = str(
            options.get("skipchangecommits", "false")
        ).lower() in ("true", "1")
        self._options = dict(options)
        # Delta's maxFilesPerTrigger analog at version granularity: caps
        # how many COMMITS one micro-batch may span, pacing steady-state
        # ingestion of a hot table. 0/absent = unbounded. The position is
        # learned from partitions()/commit() callbacks, so the FIRST
        # micro-batch of each run is uncapped BY DEFAULT — and that is
        # forced by the API, not a shortcut (measured with a call-order
        # probe): Spark calls the no-arg latestOffset BEFORE
        # initialOffset on a fresh query and never tells the reader the
        # restored checkpoint on restart, so any first-trigger cap
        # anchored at a guessed start can fall BELOW an unknown restart
        # checkpoint — Spark then runs a batch whose end offset regresses
        # the checkpoint and the re-climb REPLAYS committed versions
        # (duplicate rows in append sinks). `pacedInitialBackfill=true`
        # opts in for the one case the caller can assert — a FRESH
        # checkpoint (new pipeline over a deep log): the first trigger
        # then anchors at the initial offset and a 10^4-commit backfill
        # drains in bounded batches instead of one blob. Setting it on a
        # RESTART is caller error with the duplicate hazard above.
        # Trigger.AvailableNow caveat (measured): AvailableNow
        # pins its drain target from the FIRST latestOffset answer (the
        # Python API exposes no SupportsTriggerAvailableNow), so a
        # version cap truncates the drain at pos+cap — run AvailableNow
        # UNPACED (full drain, one batch per trigger semantics intact)
        # and use processing-time triggers when pacing matters.
        self._max_versions = int(options.get("maxversionspertrigger", 0))
        self._paced_backfill = str(
            options.get("pacedinitialbackfill", "false")
        ).lower() in ("true", "1")
        self._position: int | None = None
        self._table_obj = None
        # logical→physical mapping captured at first planning call,
        # alongside the (already captured) stream schema; None = not
        # yet resolved, {} = identity
        self._mapping: dict | None = None

    @property
    def _table(self):
        if self._table_obj is None:
            self._table_obj = _open_table(self._options)
        return self._table_obj

    def __getstate__(self):
        # the reader is pickled to executors for read(); the table (and
        # its S3 client, which holds thread locks) is DRIVER state —
        # executors only ever touch partition.path
        state = {k: v for k, v in self.__dict__.items() if k != "_table_obj"}
        state["_table_obj"] = None
        return state

    def initialOffset(self) -> dict:
        """Default: stream from the initial snapshot (version 0).
        `startingVersion=N` starts at commit N instead (the escape hatch
        for tables whose early log was vacuumed); `startingVersion=latest`
        subscribes to FUTURE commits only (Delta's same-named option)."""
        off = self._initial_version()
        self._position = off if self._position is None else self._position
        return {"version": off}

    def _initial_version(self) -> int:
        sv = self._options.get("startingversion")
        st = self._options.get("startingtimestamp")
        if sv is not None and st is not None:
            raise ValueError(
                "set startingVersion OR startingTimestamp, not both "
                "(Delta's same rule)"
            )
        if st is not None:
            # Delta's startingTimestamp: stream commits AT or AFTER the
            # timestamp — the initial offset is the newest version
            # committed STRICTLY BEFORE it (version_at's ≤ would exclude
            # an exactly-at-ts commit). Epoch seconds or ISO string,
            # same forms the batch reader's timestampAsOf takes; a ts
            # predating the retained log streams everything.
            try:
                ts = float(st)
            except ValueError:
                from datetime import datetime

                ts = datetime.fromisoformat(str(st)).timestamp()
            best = -1
            for v in self._table.versions():
                if self._table._raw(v)["committed_at"] < ts:
                    best = v
            return best
        if sv is None:
            return -1
        if str(sv).lower() == "latest":
            latest = self._table.latest_version()
            return -1 if latest is None else latest
        return int(sv) - 1

    def latestOffset(self) -> dict:
        latest = self._table.latest_version()
        if latest is None:
            return {"version": -1}
        if self._max_versions > 0:
            pos = self._position
            if pos is None and self._paced_backfill:
                # caller asserted a fresh checkpoint: anchor the first
                # trigger at the initial offset (see ctor comment for
                # why this cannot be the default)
                pos = self._initial_version()
                self._position = pos
            if pos is not None:
                latest = min(latest, pos + self._max_versions)
        return {"version": latest}

    def partitions(self, start: dict, end: dict):
        self._position = end["version"]
        if self._mapping is None:
            latest = self._table.latest_version()
            self._mapping = (
                (self._table._mapping_of(self._table._raw(latest)) or {})
                if latest is not None
                else {}
            )
        adds: list[dict] = []
        for v in range(start["version"] + 1, end["version"] + 1):
            entry = self._table._raw(v)
            action = entry.get("action", "?")
            added = entry["add"]
            if v > 0 and action not in _APPEND_ACTIONS:
                if action in _METADATA_ACTIONS or not (
                    added or entry["remove"]["kind"] != "none"
                ):
                    continue  # nothing moved — nothing to stream
                if self._skip_changes:
                    # Delta's skipChangeCommits: drop the rewrite. For a
                    # DV commit this means the stream KEEPS the
                    # pre-delete adds it already emitted — downstream
                    # may still see deleted rows (Delta's documented
                    # may-see-deleted-rows semantics); changes_since()
                    # is the CDC escape hatch that reflects the delete.
                    continue
                raise ValueError(
                    f"manifest stream at {self._root}: version {v} is a "
                    f"data-changing commit ({action}) — an append-only "
                    f"stream cannot represent it. Set skipChangeCommits="
                    f"true to stream only appends, or consume "
                    f"changes_since() for CDC semantics."
                )
            adds.extend(added)
        return _plan(self._table.store, adds, self._mapping)

    def read(self, partition):
        return _scan(self._schema, partition)

    def commit(self, end: dict) -> None:
        # durable progress lives in Spark's offset checkpoint; remember
        # the position locally for maxVersionsPerTrigger pacing
        self._position = end["version"]


class ManifestStreamDataSource(DataSource):
    """`spark.dataSource.register(ManifestStreamDataSource)` then
    `spark.readStream.format("manifest_stream").option("path", root)`."""

    @classmethod
    def name(cls) -> str:
        return "manifest_stream"

    def schema(self) -> StructType:
        table = _open_table(dict(self.options))
        latest = table._require_latest()
        # nullable like every file source: pre-evolution files are
        # null-padded for added columns, and a non-nullable field would
        # make Spark throw on the padded batches
        return _nullable(
            StructType.fromJson(
                json.loads(table._table_schema_of(table._raw(latest)))
            )
        )

    def streamReader(self, schema: StructType) -> ManifestStreamReader:
        return ManifestStreamReader(schema, dict(self.options))
