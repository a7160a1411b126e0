"""Baseline-booking gate (round 14, ADVICE r13): HOST_PROBE_REF and the
BASELINE_GOFORWARD rows may only be RE-booked from a capture whose host
probes — start, every round boundary, end — AGREE within
PROBE_AGREEMENT_TOL. The r13 booking violated this (start probe 2.05 vs
end 0.936: the host was draining while the per-query bests were being
sampled), so future host_factor / vs_baseline readings inherit a
baseline recorded under non-uniform host conditions.

Round 14 could not cure it — both r14 capture attempts were themselves
non-conforming (probe agreement 1.505 / 1.54 on the bursty
noisy-neighbor host) — so the r13 numbers stood grandfathered for one
round. Round 15's first capture CONFORMED (BENCH_local_clean_r15.json,
agreement 1.231 <= 1.25, bookable: true) and everything — REF (now the
capture's probe MEDIAN, the statistic host_factor divides) plus all 34
go-forward rows — is booked from it; the r14 x3c transfer row is
superseded by a directly captured one. These tests pin the booked
numbers to that artifact so a silent re-book from a non-conforming
capture fails the suite.
"""

from __future__ import annotations

import json
import os

import bench

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The capture the current HOST_PROBE_REF and the non-x3c
# BASELINE_GOFORWARD rows were booked from (named in bench.py's
# HOST_PROBE_REF comment). Update BOTH places on any re-book, and only
# from a capture whose computed agreement is <= PROBE_AGREEMENT_TOL.
BOOKING_CAPTURE = "BENCH_local_clean_r15.json"
# rows NOT booked from the capture, with their documented provenance
# (empty since the r15 re-book: every row comes from the capture)
TRANSFER_BASED = {}


def _capture():
    with open(os.path.join(REPO, BOOKING_CAPTURE)) as f:
        return json.load(f)


def _agreement(hp: dict) -> float:
    samples = [hp["start"], *hp.get("rounds", []), hp["end"]]
    return max(samples) / min(samples)


def test_booking_capture_conforms():
    """The booking capture must PASS the gate it exists to enforce —
    since the r15 re-book there is no grandfather clause: re-booking
    from a non-conforming capture fails here."""
    hp = _capture()["host_probe"]
    agreement = _agreement(hp)
    assert agreement <= bench.PROBE_AGREEMENT_TOL + 0.001, agreement
    assert hp.get("bookable") is True


def test_probe_ref_matches_booking_capture():
    """REF is the conforming booking capture's probe MEDIAN — the same
    statistic host_factor divides by, so identical conditions read
    factor 1.0."""
    hp = _capture()["host_probe"]
    booked = hp["median"] if "median" in hp else hp["end"]
    assert abs(bench.HOST_PROBE_REF - booked) <= 0.01, (
        bench.HOST_PROBE_REF,
        booked,
    )


def test_baselines_match_booking_capture_bests():
    """Every go-forward row equals the booking capture's best for that
    query — except the documented transfer-based rows, which must equal
    their pinned values. A future re-book updates BOOKING_CAPTURE (to a
    conforming capture) and empties TRANSFER_BASED."""
    bests = _capture()["best"]
    for name, booked in bench.BASELINE_GOFORWARD.items():
        if name in TRANSFER_BASED:
            assert booked == TRANSFER_BASED[name], (name, booked)
            continue
        assert name in bests, name
        assert abs(bests[name] - booked) <= 0.002, (name, bests[name], booked)


def test_capture_artifacts_carry_agreement():
    """bench.py publishes probe_agreement/bookable in the detail
    artifact — the fields the gate reads. Checked against the most
    recent local capture if one exists (they are produced by the same
    code path as the final stdout line)."""
    p = os.path.join(REPO, "BENCH_detail_last.json")
    if not os.path.exists(p):
        return
    with open(p) as f:
        d = json.load(f)
    hp = d["host_probe"]
    if "agreement" not in hp:
        return  # pre-r14 artifact still on disk
    assert hp["agreement"] >= 1.0
    assert hp["bookable"] == (
        hp["agreement"] <= bench.PROBE_AGREEMENT_TOL
    )


def test_final_line_carries_per_query_map():
    """VERDICT r15 item 1: the driver parses the LAST stdout line and
    reads its "queries" map for per-query regression/scaling analysis.
    PERF was blind (per_query: {}, now_bench_ok: false) for two rounds
    because the final line carried only aggregates. Pin that the payload
    carries the map AND, with its newline, fits the
    `bench.TAIL_CAPTURE_BYTES` stdout tail the captures keep (the r9
    overflow that motivated the compact line was a ~4.5 KB two-dict
    line)."""
    bests = {n: 1.234 for n in bench.HEADLINE}
    vs_b = {n: 1.01 for n in bench.HEADLINE}
    hp = {"factor": 1.0, "median": 1.104, "agreement": 1.1}
    payload = bench.final_line_payload(
        30.0, bests, 26.0, vs_b, 1.0, hp, 0.1
    )
    assert payload["queries"] == bests
    assert payload["metric"] == "headline_queries_total_wall"
    assert payload["unit"] == "sec"
    assert payload["n_queries"] == len(bench.HEADLINE)
    line = json.dumps(payload) + "\n"
    assert len(line.encode()) <= bench.TAIL_CAPTURE_BYTES, len(line)


def test_tail_capture_bound_matches_the_captures():
    """`bench.TAIL_CAPTURE_BYTES` is the measured window, not a guess:
    every BENCH_r*.json capture's `tail` is exactly that long, and the
    final line of the per-query-map captures (BENCH_r16*.json) fits in
    it whole and parses."""
    import glob

    caps = sorted(glob.glob(os.path.join(REPO, "BENCH_r*.json")))
    assert caps
    for path in caps:
        with open(path) as f:
            tail = json.load(f)["tail"]
        assert len(tail) == bench.TAIL_CAPTURE_BYTES, (path, len(tail))
    for path in glob.glob(os.path.join(REPO, "BENCH_r16*.json")):
        with open(path) as f:
            final = json.load(f)["tail"].rstrip("\n").rsplit("\n", 1)[-1]
        assert "queries" in json.loads(final), path


def test_headline_set_covered_by_baselines():
    """Every headline query that exists in the registry has a go-forward
    baseline row — a new headline entry without a booked row would
    silently drop out of vs_baseline_total."""
    from data_lakes_tp2_student_spark.catalog import REGISTRY

    missing = [
        n
        for n in bench.HEADLINE
        if REGISTRY.get(n) is not None and n not in bench.BASELINE_GOFORWARD
    ]
    assert not missing, missing
