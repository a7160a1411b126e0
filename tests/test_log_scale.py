"""Manifest-log scaling pins (round 9, VERDICT r8 item 1).

The soak harness (scripts/soak_manifest.py) MEASURES the metadata-plane
curves at 10^3-10^4 commits; these tests PIN the two structural
invariants the curves depend on, deterministically (call counts, not
wall time — wall time is hostage to host noise):

1. cold-open snapshot reconstruction reads O(checkpoint interval) log
   objects, INDEPENDENT of total commit count;
2. a warm writer's latest_version is O(Δ since last sync) — probe
   reads, zero full listings — so N-commit ingest is O(N), not O(N²)
   (the pre-round-9 full-list-per-commit shape).
"""

from __future__ import annotations

import uuid

from data_lakes_tp2_student_spark.io.manifest import ManifestTable


class _Counting:
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
        return _Counting(self._real.clone())


def _synth_commit(tab: ManifestTable, n_files: int = 2):
    """A real _commit_files append with tiny synthesized entries — the
    log-layer cost shape without a Spark write (same loop: version race,
    checkpoint cadence, layout checks)."""
    import os

    txn = uuid.uuid4().hex
    stage = tab.store.txn_stage_dir(txn)
    os.makedirs(stage, exist_ok=True)
    entries = []
    for i in range(n_files):
        local = os.path.join(stage, f"part-{i}.parquet")
        with open(local, "wb") as f:
            f.write(b"PAR1x")
        entries.append(
            {
                "path": f"data/txn={txn}/part-{i}.parquet",
                "partition": {},
                "bytes": 5,
                "rows": 1,
            }
        )
    schema = (
        '{"type":"struct","fields":[{"name":"id","type":"integer",'
        '"nullable":true,"metadata":{}}]}'
    )
    return tab._commit_files(
        None, txn, entries, schema, None, "append", "none",
        tab.latest_version(), {}, validate=False,
    )


def _build(tmp_path, name, n_commits, interval=10):
    tab = ManifestTable(str(tmp_path / name), checkpoint_interval=interval)
    for _ in range(n_commits):
        _synth_commit(tab)
    return tab


def test_cold_open_reads_bounded_by_interval_not_commit_count(tmp_path):
    interval = 10
    # same distance from the nearest checkpoint (4 delta entries each:
    # heads v34/v144 over checkpoints v30/v140) so the counts compare
    # the COMMIT-COUNT axis alone
    small = _build(tmp_path, "small", 35, interval)
    big = _build(tmp_path, "big", 145, interval)
    opens = {}
    for label, tab in [("small", small), ("big", big)]:
        fresh = ManifestTable(
            tab.root,
            checkpoint_interval=interval,
            log_store=_Counting(tab.store.clone()),
        )
        fresh.manifest(tab.latest_version())
        opens[label] = fresh.store.reads
        # checkpoint + ≤interval delta entries + the head entry itself
        assert fresh.store.reads <= interval + 2, (label, fresh.store.reads)
    # 4× the commits must NOT move the open cost (both land at the same
    # replay distance from their nearest checkpoint here)
    assert opens["big"] == opens["small"]


def test_warm_latest_version_is_o_delta_not_o_log(tmp_path):
    tab = _build(tmp_path, "t", 60, interval=0)  # no checkpoints: isolate
    counting = _Counting(tab.store)
    tab.store = counting
    tab.latest_version()  # sync once (may list)
    counting.lists = counting.reads = 0
    # nothing landed since: one probe miss + the hint-liveness verify,
    # zero listings
    assert tab.latest_version() == 59
    assert counting.lists == 0
    assert counting.reads <= 2
    # Δ=3 landed via an independent handle: probe forward Δ+1 reads
    other = ManifestTable(tab.root, checkpoint_interval=0)
    for _ in range(3):
        _synth_commit(other)
    counting.lists = counting.reads = 0
    assert tab.latest_version() == 62
    assert counting.lists == 0
    assert counting.reads <= 3 + 1 + 2  # Δ probes + final miss (+ entry reads)


def test_warm_commits_never_list_the_whole_log(tmp_path):
    """The O(N²) regression pin: N warm commits on one handle make
    ZERO full log listings outside checkpoint writes (which list once
    per interval to locate the replay base)."""
    tab = _build(tmp_path, "t", 25, interval=10)
    tab.latest_version()  # warm the hint
    counting = _Counting(tab.store)
    tab.store = counting
    n = 20
    for _ in range(n):
        _synth_commit(tab)
    n_checkpoints = n // 10 + 1
    assert counting.lists <= 2 * n_checkpoints, counting.lists


def test_stale_hint_falls_back_to_full_list_after_vacuum(tmp_path, spark):
    """A handle whose hint fell below vacuum's retention window must
    re-list instead of reporting a stale latest (the contiguous-suffix
    verify in latest_version)."""
    from tests.test_manifest import _df

    tab = ManifestTable(str(tmp_path / "t"))
    tab.commit_overwrite(_df(spark, [(1, "a", "d1")]))
    stale = ManifestTable(tab.root)
    assert stale.latest_version() == 0  # hint = 0
    for i in range(5):
        tab.commit_overwrite(_df(spark, [(i, "b", "d2")]))
    tab.vacuum(keep_versions=2, min_age_seconds=0)  # v0..v3 gone
    assert stale.latest_version() == 5  # NOT the stale hint


def _synth_txn_commit(tab, app, ver):
    import os

    txn = uuid.uuid4().hex
    stage = tab.store.txn_stage_dir(txn)
    os.makedirs(stage, exist_ok=True)
    local = os.path.join(stage, "part-0.parquet")
    with open(local, "wb") as f:
        f.write(b"PAR1x")
    schema = (
        '{"type":"struct","fields":[{"name":"id","type":"integer",'
        '"nullable":true,"metadata":{}}]}'
    )
    return tab._commit_files(
        None, txn,
        [
            {
                "path": f"data/txn={txn}/part-0.parquet",
                "partition": {},
                "bytes": 5,
                "rows": 1,
            }
        ],
        schema, None, "append", "none", tab.latest_version(), {},
        validate=False, entry_extra={"txn": {"app": app, "version": ver}},
    )


def test_checkpoint_txn_map_bounds_miss_cost(tmp_path):
    """Round 9: a last_txn_version MISS answers from the nearest
    checkpoint's cumulative txns map — O(Δ since checkpoint) entry
    reads, never a walk across the whole retained log."""
    tab = ManifestTable(str(tmp_path / "t"), checkpoint_interval=10)
    for i in range(25):
        _synth_txn_commit(tab, "appA", i)
    # the latest checkpoint carries the cumulative map
    cp = tab._read_checkpoint_body(20)
    assert cp["txns"] == {"appA": 20}
    counting = _Counting(tab.store)
    tab.store = counting
    tab.latest_version()
    counting.reads = 0
    assert tab.last_txn_version("appA") == 24
    # hit: 1 entry read + latest_version's probe/verify pair
    assert counting.reads <= 4
    counting.reads = 0
    assert tab.last_txn_version("no-such-app") is None
    # miss: bounded by the no-list probe window (2×interval) + the
    # checkpoint + the latest_version probe pair — O(interval), never
    # O(retained log); the window buys the HIT path zero listings
    assert counting.reads <= 2 * 10 + 4


def test_txn_memory_survives_vacuum(tmp_path):
    """Round 9 semantic upgrade: vacuum writes a txns-carrying
    checkpoint BEFORE truncating the log, so a restarted idempotent
    sink still skips batches whose entries were vacuumed away (the
    pre-r9 caveat was that truncation FORGOT them — a redelivered old
    batch would duplicate)."""
    tab = ManifestTable(str(tmp_path / "t"), checkpoint_interval=0)
    for i in range(8):
        _synth_txn_commit(tab, "sink", i)
    tab.vacuum(keep_versions=2, min_age_seconds=0)
    assert tab.versions() == [6, 7]                 # entries 0..5 gone
    fresh = ManifestTable(tab.root)                 # restarted handle
    assert fresh.last_txn_version("sink") == 7
    # and an app whose ONLY commits were vacuumed is still remembered
    tab2 = ManifestTable(str(tmp_path / "t2"), checkpoint_interval=0)
    _synth_txn_commit(tab2, "early", 41)
    for i in range(6):
        _synth_txn_commit(tab2, "late", i)
    tab2.vacuum(keep_versions=2, min_age_seconds=0)
    fresh2 = ManifestTable(tab2.root)
    assert fresh2.last_txn_version("early") == 41   # pre-r9: None (forgot)
