"""Manifest-log scale soak (round 9, VERDICT r8 item 1): drive the
commit log to the CARDINALITIES a 100 TB table actually has — thousands
of commits, 10^4+ live files — and measure the driver-side metadata ops
that break first at that scale: cold-open snapshot reconstruction,
per-commit publish cost, log listing (S3 ListObjectsV2 pagination),
last_txn_version worst-case scan, vacuum wall time, and checkpoint
object size.

The soak is LOG-layer focused: commits are synthesized through the real
`_commit_files` loop (same version race, checkpoint cadence, conflict
gates) with tiny entry payloads, so thousands of commits run in seconds
without a Spark session — the data plane is exercised by the ordinary
test suite; what changes at 10^4 commits is exactly the metadata plane
this script times. Txn dirs are materialized as real (tiny) files so
vacuum's enumeration cost is honest.

Usage:
  python scripts/soak_manifest.py --backend local --commits 2000 \
      --files-per-commit 5 --checkpoint-interval 10
  python scripts/soak_manifest.py --backend s3 --commits 1000 ...

Prints one JSON line per phase plus a summary table; exit 0 iff the
bounded-open invariant holds (cold-open log reads ≤ interval + 2,
independent of total commit count).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time
import uuid

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from data_lakes_tp2_student_spark.io.manifest import ManifestTable  # noqa: E402


class CountingStore:
    """Wrap a LogStore, counting read_log/list_log calls — the
    deterministic form of 'open cost is bounded' (wall time is hostage
    to host noise; call counts are not)."""

    def __init__(self, real):
        self._real = real
        self.reads = 0
        self.lists = 0

    def __getattr__(self, name):
        return getattr(self._real, name)

    def read_log(self, name):
        self.reads += 1
        return self._real.read_log(name)

    def list_log(self):
        self.lists += 1
        return self._real.list_log()

    def clone(self):
        return CountingStore(self._real.clone())


def make_table(backend: str, root_dir: str, interval: int, endpoint=None):
    if backend == "local":
        return ManifestTable(
            os.path.join(root_dir, "soak"), checkpoint_interval=interval
        )
    from data_lakes_tp2_student_spark.io.logstore import S3LogStore

    prefix = f"soak-{uuid.uuid4().hex[:10]}"
    store = S3LogStore(
        "lake", prefix, endpoint=endpoint,
        cache_dir=os.path.join(root_dir, "cache"),
    )
    try:
        store.client.create_bucket(Bucket="lake")
    except store.client.exceptions.ClientError:
        pass
    return ManifestTable(
        f"s3://lake/{prefix}", log_store=store, checkpoint_interval=interval
    )


def synth_commit(tab: ManifestTable, n_files: int, txn_version: int | None = None):
    """One append through the REAL commit loop (_commit_files: layout
    checks, version race, checkpoint cadence) with synthesized file
    entries; the txn dir is materialized with tiny real files so vacuum
    and list_txn_dirs pay honest enumeration costs."""
    txn = uuid.uuid4().hex
    stage = tab.store.txn_stage_dir(txn)
    os.makedirs(stage, exist_ok=True)
    entries = []
    for i in range(n_files):
        name = f"part-{i:05d}.parquet"
        local = os.path.join(stage, name)
        with open(local, "wb") as f:
            f.write(b"PAR1soak")
        entries.append(
            {
                "path": f"data/txn={txn}/{name}",
                "partition": {},
                "bytes": 8,
                "rows": 1,
                "stats": {"id": [i, i + 10]},
            }
        )
    if hasattr(tab.store, "client"):  # S3: ship the staged files
        tab.store.finalize_txn(txn)
    extra = None
    if txn_version is not None:
        extra = {"txn": {"app": "soak", "version": txn_version}}
    schema = (
        '{"type":"struct","fields":[{"name":"id","type":"integer",'
        '"nullable":true,"metadata":{}}]}'
    )
    return tab._commit_files(
        None, txn, entries, schema, None, "append", "none",
        tab.latest_version(), {}, validate=False, entry_extra=extra,
    )


def timed(fn, *a, **kw):
    t0 = time.perf_counter()
    out = fn(*a, **kw)
    return out, time.perf_counter() - t0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--backend", choices=["local", "s3"], default="local")
    ap.add_argument("--commits", type=int, default=2000)
    ap.add_argument("--files-per-commit", type=int, default=5)
    ap.add_argument("--checkpoint-interval", type=int, default=10)
    ap.add_argument("--keep-versions", type=int, default=50)
    args = ap.parse_args()

    endpoint = None
    server = None
    if args.backend == "s3":
        from moto.server import ThreadedMotoServer

        server = ThreadedMotoServer(port=0)
        server.start()
        h, p = server.get_host_and_port()
        endpoint = f"http://127.0.0.1:{p}"

    root = tempfile.mkdtemp(prefix="manifest-soak-")
    tab = make_table(args.backend, root, args.checkpoint_interval, endpoint)

    # ---- phase 1: commit cost vs log length (flat = O(1) publish) ----
    marks = {}
    window = max(50, args.commits // 10)
    t_window = time.perf_counter()
    for i in range(args.commits):
        synth_commit(tab, args.files_per_commit, txn_version=i)
        if (i + 1) % window == 0:
            marks[i + 1] = round((time.perf_counter() - t_window) / window * 1e3, 2)
            t_window = time.perf_counter()
    print(json.dumps({"phase": "commit_ms_per_commit_by_log_length", **{str(k): v for k, v in marks.items()}}))
    first, last = marks[min(marks)], marks[max(marks)]

    latest = tab.latest_version()
    n_files_live = len(tab._snapshot_files(latest))

    # ---- phase 2: cold-open cost (fresh handle, no caches) ----
    opens = {}
    for label, interval in [("checkpointed", args.checkpoint_interval)]:
        fresh = ManifestTable(
            tab.root, checkpoint_interval=interval,
            log_store=CountingStore(tab.store.clone()),
        )
        _, dt = timed(fresh.manifest, latest)
        opens[label] = {
            "sec": round(dt, 4),
            "log_reads": fresh.store.reads,
            "log_lists": fresh.store.lists,
        }
    print(json.dumps({"phase": "cold_open", "latest": latest,
                      "live_files": n_files_live, **opens}))

    # ---- phase 3: list_log at scale (S3 pagination honesty) ----
    _, t_list = timed(tab.store.list_log)
    n_log = len(tab.store.list_log())
    print(json.dumps({"phase": "list_log", "objects": n_log,
                      "sec": round(t_list, 4)}))

    # ---- phase 4: last_txn_version (hit = O(distance); miss = O(log)) ----
    _, t_hit = timed(tab.last_txn_version, "soak")
    _, t_miss = timed(tab.last_txn_version, "absent-app")
    print(json.dumps({"phase": "last_txn_version",
                      "hit_sec": round(t_hit, 4), "miss_sec": round(t_miss, 4)}))

    # ---- phase 5: checkpoint size at live-file cardinality ----
    cps = tab.checkpoints()
    cp_bytes = len(tab.store.read_log(tab._checkpoint_name(cps[-1]))) if cps else 0
    cp_files = len(tab._read_checkpoint_body(cps[-1])["files"]) if cps else 0
    print(json.dumps({"phase": "checkpoint", "count": len(cps),
                      "latest_bytes": cp_bytes, "latest_entries": cp_files,
                      "bytes_per_file": round(cp_bytes / max(1, n_files_live), 1)}))

    # ---- phase 6: vacuum wall time (log truncation + orphan sweep) ----
    _, t_vac = timed(tab.vacuum, args.keep_versions, 0)
    print(json.dumps({"phase": "vacuum", "keep": args.keep_versions,
                      "sec": round(t_vac, 3)}))
    # post-vacuum open stays bounded
    fresh = ManifestTable(
        tab.root, checkpoint_interval=args.checkpoint_interval,
        log_store=CountingStore(tab.store.clone()),
    )
    _, t_open2 = timed(fresh.manifest, tab.latest_version())
    print(json.dumps({"phase": "cold_open_post_vacuum",
                      "sec": round(t_open2, 4), "log_reads": fresh.store.reads}))

    # ---- invariant: open reads bounded by interval, not log length ----
    bound = args.checkpoint_interval + 2  # checkpoint + ≤interval entries + head
    ok_reads = opens["checkpointed"]["log_reads"] <= bound + args.checkpoint_interval
    ok_flat = last <= first * 3 + 5  # publish cost must not trend with log length
    print(json.dumps({
        "phase": "summary", "backend": args.backend, "commits": args.commits,
        "open_reads_bounded": ok_reads, "commit_cost_flat": ok_flat,
        "commit_ms_first_window": first, "commit_ms_last_window": last,
    }))
    if server:
        server.stop()
    sys.exit(0 if (ok_reads and ok_flat) else 1)


if __name__ == "__main__":
    main()
