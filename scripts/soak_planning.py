"""Driver-side planning soak at 10^4–10^5 manifest files: snapshot
planning is driver-side O(F) over the checkpoint. This script measures,
at each file count F, over the columnar checkpoint:

  - checkpoint load + snapshot reconstruction (`manifest(v)`) ms,
  - stats pruning over the full list (the dict evaluator `prune.keep`) ms,
  - checkpoint load with the coarse prune inside the checkpoint read
    (`manifest(v, prune=...)`) ms,
  - pruned-scan DataFrame construction (`_load_snapshot` on the
    pruned file subset) ms,
  - full-scan DataFrame construction ms (the unprunable worst case), on
    two layouts: COALESCED (the txn dir holds exactly its live files, so
    `_coalesce_dirs` hands Spark one directory path per commit from 512
    files up) and UNCOALESCED (one extra visible parquet that the log does
    not name sits in the dir, so every live file stays its own scan path),
  - the checkpoint's size in bytes.

The F data files are HARD LINKS of one tiny parquet (inode-only, so
10^5 files cost ~nothing to create); their manifest entries carry
synthetic DISJOINT id ranges so a point-lookup prune selects exactly
one file. This measures the metadata plane, not the data plane.

`--thresholds 32,session` repeats each full-scan build with
`spark.sql.sources.parallelPartitionDiscovery.threshold` set at runtime
to each value (`session` = what `get_spark` configured), interleaved
over `--reps` rounds: above the threshold Spark lists scan paths with a
distributed job instead of serially while planning.

Usage: python scripts/soak_planning.py [--files 4096,16384,65536,131072]
       [--thresholds 32,session] [--reps 3]
Prints one JSON line per F and a final summary line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from data_lakes_tp2_student_spark.io.manifest import ManifestTable  # noqa: E402
from data_lakes_tp2_student_spark.io.prune import Pred, keep  # noqa: E402
from data_lakes_tp2_student_spark.session import get_spark  # noqa: E402


def build_table(root: str, n_files: int) -> ManifestTable:
    """One commit of `n_files` hard-linked parquet files with synthetic
    disjoint [lo, hi] id stats, through the REAL commit machinery."""
    # interval 1: the giant v0 gets no checkpoint (v > 0 gate), the
    # final small v1 gets one
    tab = ManifestTable(root, stats_cols=["id"], checkpoint_interval=1)
    txn = "0" * 32
    stage = tab.store.txn_stage_dir(txn)
    os.makedirs(stage, exist_ok=True)
    seed = os.path.join(stage, "part-0000000-link.parquet")
    pq.write_table(
        pa.table({"id": pa.array([0], pa.int64()), "v": ["x"]}), seed
    )
    nbytes = os.path.getsize(seed)
    entries = []
    for i in range(n_files):
        name = f"part-{i:07d}-link.parquet"
        if i and i % 50_000 == 0:
            # ext4 caps hard links at ~65k per inode — re-seed
            import shutil as _sh

            _sh.copyfile(seed, os.path.join(stage, name))
            seed = os.path.join(stage, name)
        elif i:
            os.link(seed, os.path.join(stage, name))
        entries.append(
            {
                "path": f"data/txn={txn}/{name}",
                "partition": {},
                "bytes": nbytes,
                "rows": 1,
                "stats": {"id": [i * 10, i * 10 + 9]},
            }
        )
    schema_json = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True, "metadata": {}},
                {"name": "v", "type": "string", "nullable": True, "metadata": {}},
            ],
        }
    )
    tab._commit_files(
        None, txn, entries, schema_json, None, "overwrite", "all", None, {},
        validate=False,
    )
    # Round 13: plan at a SMALL v1 on top of the checkpoint, not at the
    # giant v0 — `manifest(v)` parses v's RAW log entry first, and the
    # fixture's single 10^6-entry commit makes that O(F) json work that
    # NO production table pays (real commits are small deltas over a
    # checkpointed history; the r12 10^6 row booked 5.0 s of which ~4.5 s
    # was the v0 entry parse). v1 carries one file; planning at v1 reads
    # v1's tiny entry + the checkpoint.
    txn2 = "1" * 32
    stage2 = tab.store.txn_stage_dir(txn2)
    os.makedirs(stage2, exist_ok=True)
    seed2 = os.path.join(stage2, "part-0000000-tail.parquet")
    pq.write_table(
        pa.table(
            {"id": pa.array([n_files * 10], pa.int64()), "v": ["x"]}
        ),
        seed2,
    )
    tab._commit_files(
        None,
        txn2,
        [
            {
                "path": f"data/txn={txn2}/part-0000000-tail.parquet",
                "partition": {},
                "bytes": os.path.getsize(seed2),
                "rows": 1,
                "stats": {"id": [n_files * 10, n_files * 10]},
            }
        ],
        schema_json,
        None,
        "append",
        "none",
        None,
        {},
        validate=False,
    )
    return tab


_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def full_frame_ms(
    spark, tab: ManifestTable, m: dict, thresholds: tuple[str, ...], reps: int
) -> dict[str, float]:
    """Median ms to build the full-scan frame (incl. Spark's file index
    listing) per listing threshold, the thresholds interleaved per rep."""
    session = spark.conf.get(_THRESHOLD)
    samples: dict[str, list[float]] = {t: [] for t in thresholds}
    try:
        for _ in range(reps):
            for t in thresholds:
                spark.conf.set(_THRESHOLD, session if t == "session" else t)
                t0 = time.perf_counter()
                full = tab._load_snapshot(spark, m, m["files"])
                _ = full.schema
                samples[t].append(time.perf_counter() - t0)
    finally:
        spark.conf.set(_THRESHOLD, session)
    return {
        t: round(statistics.median(v) * 1e3, 1) for t, v in samples.items()
    }


def add_unlogged_parquet(tab: ManifestTable) -> None:
    """Drop one visible parquet the log does not name into the big txn
    dir, so `_coalesce_dirs` keeps every live file a per-file scan path
    (the layout a pre-vacuum zombie or CoW leftover leaves)."""
    stage = tab.store.txn_stage_dir("0" * 32)
    pq.write_table(
        pa.table({"id": pa.array([-1], pa.int64()), "v": ["zombie"]}),
        os.path.join(stage, "part-zombie-unlogged.parquet"),
    )


def bench_once(
    spark,
    tab: ManifestTable,
    full_frame: bool = True,
    thresholds: tuple[str, ...] = ("session",),
    reps: int = 1,
) -> dict:
    t0 = time.perf_counter()
    m = tab.manifest(tab.latest_version())
    t_load = time.perf_counter() - t0
    n = len(m["files"])

    pred = Pred([{"id": (42, 42)}])
    t0 = time.perf_counter()
    pruned = keep(m, m["files"], pred)
    t_prune = time.perf_counter() - t0
    assert len(pruned) == 1, len(pruned)

    # the fused path: checkpoint load + COARSE prune in one step (the
    # checkpoint prunes columnar before decoding any entry)
    t0 = time.perf_counter()
    coarse = tab.manifest(tab.latest_version(), prune=pred)["files"]
    t_coarse = time.perf_counter() - t0
    assert 1 <= len(coarse) <= n

    # untimed warm-up: the session's first Spark job pays one-off start-up
    # costs that are not planning
    tab._load_snapshot(spark, m, pruned).count()
    t0 = time.perf_counter()
    df = tab._load_snapshot(spark, m, pruned)
    got = df.count()
    t_pruned_scan = time.perf_counter() - t0
    assert got == 1, got

    coalesced = uncoalesced = None
    if full_frame:
        coalesced = full_frame_ms(spark, tab, m, thresholds, reps)
        add_unlogged_parquet(tab)
        uncoalesced = full_frame_ms(spark, tab, m, thresholds, reps)

    return {
        "files": n,
        "checkpoint_bytes": len(
            tab.store.read_log(tab._checkpoint_name(tab.latest_version()))
        ),
        "load_ms": round(t_load * 1e3, 1),
        "prune_ms": round(t_prune * 1e3, 1),
        "coarse_plan_ms": round(t_coarse * 1e3, 1),
        "coarse_entries": len(coarse),
        "pruned_scan_ms": round(t_pruned_scan * 1e3, 1),
        "full_frame_ms_coalesced": coalesced,
        "full_frame_ms_uncoalesced": uncoalesced,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--files", default="4096,16384,65536,131072",
        help="comma-separated file counts",
    )
    ap.add_argument(
        "--skip-full-frame", action="store_true",
        help="skip the full-scan frame construction (O(F) by definition;"
             " at 10^6 files it alone dominates the soak wall)",
    )
    ap.add_argument(
        "--thresholds", default="session",
        help="comma-separated listing thresholds for the full-scan build"
             " (`session` = the get_spark value)",
    )
    ap.add_argument(
        "--reps", type=int, default=1,
        help="interleaved repetitions of each full-scan build (median)",
    )
    args = ap.parse_args()
    counts = [int(x) for x in args.files.split(",")]
    thresholds = tuple(args.thresholds.split(","))
    spark = get_spark(app_name="soak-planning", shuffle_partitions=8)
    rows = []
    with tempfile.TemporaryDirectory() as td:
        for f in counts:
            root = os.path.join(td, f"t{f}")
            t0 = time.perf_counter()
            tab = build_table(root, f)
            build_s = time.perf_counter() - t0
            # planning reads the FINAL (small) v1's tiny entry + its
            # checkpoint — the production shape
            r = bench_once(
                spark, tab, full_frame=not args.skip_full_frame,
                thresholds=thresholds, reps=args.reps,
            )
            r["build_s"] = round(build_s, 2)
            rows.append(r)
            print(json.dumps(r), flush=True)
    print(json.dumps({"planning_soak": rows}))
    spark.stop()


if __name__ == "__main__":
    main()
