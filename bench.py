"""Benchmark harness: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Each query is forced end-to-end with the noop sink (full computation, zero
serialization to the driver) after a warm-up of the session on a trivial
action.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from data_lakes_tp2_student_spark.catalog import REGISTRY  # noqa: E402
from data_lakes_tp2_student_spark.session import get_spark  # noqa: E402

# Headline set: flagship + the heaviest operators per group (only ids that
# exist in the registry are run, so this list can lead implementation).
HEADLINE = [
    "flagship_summary",
    "d3_group_sizes",
    "d7_d8_length_stats",
    "e2_stratified_split",
    "e3_window_functions",
    "j1_tokenize",
    "x1_exact_dedup",
    "x2_minhash_pairs",
    "x2b_jaccard_verify",
    "x2e_dup_clusters",
    "x2f_simhash_pairs",
    "x3_knn_bruteforce",
    "x3b_knn_lsh",
    "x3c_knn_ivf",
    "x4_quality_score",
    "x9_corpus_prep",
    "x6_tpch_q1",
    "x6_tpch_q3",
    "x6_tpch_q5",
    "x6_tpch_q6",
    "x6_tpch_q8",
    "x6_tpch_q19",
    "x6_tpch_q21",
    "c7_asof_join",
    "i1_tumbling_window",
    "i3_session_window",
    "x11_resample_gapfill",
    "x12_funnel",
    "x13_cohort_retention",
    "x15_embedding_centroids",
    "x16_pmi_cooccurrence",
    "x18_data_quality_audit",
    "e3c_ntile_buckets",
    "f6_stratified_sample",
]

# Go-forward per-query baseline (VERDICT r6 item 5): the round-1 best-of-2
# numbers (BENCH_r01.json — the BASELINE.md rows), with documented
# overrides: e3c's 0.30 s was produced by the driver-RED round-1 ntile whose
# plan sorted each group in a single task; the correct two-phase
# implementation's go-forward reference is 1.05 s (BASELINE.md footnote,
# PERF.md #14). Round 9 (VERDICT r8 item 4, same e3c precedent):
# i1/i3/x11/c7/x16's r1 rows were recorded under round-1 host conditions
# that no longer exist — every round since has booked their ≥1.5× ratios
# as host drift on unchanged plans; their go-forward rows are re-recorded
# from a clean isolated 8-rep session at the r9 HEAD (BASELINE.md r9
# footnote keeps both numbers). `vs_baseline` ratios in the output divide
# best-of-N by these; the legacy r1 rows stay in BASELINE.md for
# cross-round comparability.
# Round 13 (VERDICT r12 item 1b): ALL 34 rows re-recorded under the
# CURRENT host from a clean same-HEAD capture (BENCH_local_clean_r13,
# 2026-08-16; per-query best-of-5/8, interleaved protocol — the same
# statistic future captures produce), paired with HOST_PROBE_REF from
# the SAME capture so every future BENCH line's host_factor reads
# against these numbers.
# Round 15 (VERDICT r14 item 1): ALL 34 rows re-booked from the FIRST
# capture ever to pass the probe-agreement gate —
# BENCH_local_clean_r15.json (2026-08-16, probe_agreement 1.231 <=
# 1.25, bookable: true; probes start 1.112 / boundaries
# 0.954-1.174 / end 0.968, min-of-2 boundary statistic per ADVICE
# r14). The r13 rows were booked under a 2.19x probe spread
# (grandfathered through r14 because every capture attempt since read
# 1.5-2.3); these rows carry a MEASURED-uniform host. The r13 rows
# move to BASELINE.md footnote r15 (both-numbers policy; the r15/r13
# ratios sit at 1.0-1.37, median ~1.10 — consistent with the capture's
# own host_factor 1.179 vs the r13 reference state, i.e. plan-neutral
# host drift, no per-query regression story). x3c's r14
# transfer-based row is superseded by a directly captured one.
BASELINE_GOFORWARD = {
    "flagship_summary": 0.25,
    "d3_group_sizes": 0.122,
    "d7_d8_length_stats": 0.126,
    "e2_stratified_split": 0.257,
    "e3_window_functions": 0.707,
    "j1_tokenize": 0.203,
    "x1_exact_dedup": 0.186,
    "x2_minhash_pairs": 1.638,
    "x2b_jaccard_verify": 3.625,
    "x2e_dup_clusters": 3.321,
    "x2f_simhash_pairs": 1.612,
    "x3_knn_bruteforce": 0.583,
    "x3b_knn_lsh": 1.214,
    "x3c_knn_ivf": 1.21,
    "x4_quality_score": 0.186,
    "x9_corpus_prep": 0.73,
    "x6_tpch_q1": 1.244,
    "x6_tpch_q3": 0.689,
    "x6_tpch_q5": 0.647,
    "x6_tpch_q6": 0.225,
    "x6_tpch_q8": 0.775,
    "x6_tpch_q19": 0.362,
    "x6_tpch_q21": 1.139,
    "c7_asof_join": 0.392,
    "i1_tumbling_window": 0.409,
    "i3_session_window": 0.525,
    "x11_resample_gapfill": 0.349,
    "x12_funnel": 0.586,
    "x13_cohort_retention": 0.376,
    "x15_embedding_centroids": 0.215,
    "x16_pmi_cooccurrence": 1.557,
    "x18_data_quality_audit": 0.28,
    "e3c_ntile_buckets": 1.189,
    "f6_stratified_sample": 0.164,
}

# Round 13 (VERDICT r12 item 1a): a FIXED CPU+shuffle micro-task with a
# booked reference time, so host drift is MEASURED per capture instead of
# narrated per footnote. r12's story — driver capture 1.326×, a late
# "recovered host" 1.056× that did not reproduce — is exactly what this
# disambiguates: every BENCH line now carries host_factor = probe_best /
# HOST_PROBE_REF (>1 ⇒ the host is slower than when the go-forward
# baselines were recorded; per-query ratios should be read against it).
# The probe is pure engine work: 256M-row range → 8 chained xxhash64
# folds per row (CPU, whole-stage codegen) → 64-key groupBy bit_xor
# (one fixed small shuffle) → noop sink. No data files, no Python rows,
# same local[32] session as the queries. Statistic: 2 UNTIMED JIT warms
# + min of 5 timed reps — probe-design experiments showed sub-second
# tasks carry ±40% scheduling jitter on this host while this shape's
# min-of-5 reproduced across sessions within 3% (1.159 / 1.194 s).
# REF booked from the SAME capture that re-recorded BASELINE_GOFORWARD
# (round 15: BENCH_local_clean_r15.json, probe MEDIAN over start +
# round boundaries + end — the statistic host_factor divides, so a
# future capture under identical conditions reads factor 1.0).
# host_factor > 1 ⇒ the host is slower than at baseline-recording time;
# read per-query ratios against it.
#
# BOOKING GATE (round 14, ADVICE r13 — enforced by
# tests/test_bench_gate.py): REF and BASELINE_GOFORWARD may only be
# RE-booked from a capture whose probe samples (start, every round
# boundary, end) agree within PROBE_AGREEMENT_TOL; every BENCH line
# carries "probe_agreement" (max/min over all samples) and "bookable"
# so conformance is checkable from the artifact alone. History: the
# r13 booking capture read 2.19 on that metric and every r14 attempt
# read 1.5-2.3 (bursty noisy-neighbor host), so the r13 numbers stood
# grandfathered for one round; round 15's first capture CONFORMED
# (1.231) and everything is now booked from it — the gate has admitted
# a capture and the grandfather clause is retired.
HOST_PROBE_REF = 1.104
# A conforming capture's probes must agree within this factor before
# its numbers may be booked as REF/baselines (idle-host captures on
# this machine reproduce within ~3%; 1.25 leaves room for one mild
# scheduler wobble while rejecting the 2.19x spread the r13 booking
# capture had).
PROBE_AGREEMENT_TOL = 1.25


# The stdout tail a bench capture keeps: the `tail` of every BENCH_r*.json
# capture is exactly 2,000 characters, so the final line plus its newline
# must fit in it (the BENCH_r16*.json final lines measure 1,211 and 1,214
# bytes).
TAIL_CAPTURE_BYTES = 2000


def final_line_payload(
    total: float,
    bests: dict[str, float],
    total_best: float,
    vs_baseline: dict[str, float],
    vs_baseline_total: float | None,
    host_probe: dict,
    sf: float,
) -> dict:
    """The FINAL stdout line: carries the per-query best map as
    "queries" so a per-query comparison of two captures can populate
    per_query/geomean, while fitting the stdout tail a capture keeps
    (`TAIL_CAPTURE_BYTES` with its newline; ~1.2 KB for 34 queries,
    where the overflow line of BENCH_r09.json carried TWO 34-entry dicts
    plus spreads)."""
    worst = dict(sorted(vs_baseline.items(), key=lambda kv: -kv[1])[:3])
    return {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": bests,
        "total_best": total_best,
        "vs_baseline_total": vs_baseline_total,
        "worst_vs_baseline": worst,
        "host_factor": host_probe["factor"],
        "host_probe_sec": host_probe["median"],
        "probe_agreement": host_probe["agreement"],
        "n_queries": len(bests),
        "sf": sf,
    }


def _host_probe(spark, reps: int = 5, warms: int = 2) -> float:
    """Min-of-`reps` wall seconds for the fixed calibration task, after
    `warms` untimed JIT warm-up executions of the same plan."""
    expr = "id"
    for _ in range(8):
        expr = f"xxhash64({expr})"

    def run():
        (
            spark.range(0, 256_000_000, 1, 32)
            .selectExpr(f"pmod({expr}, 64) AS k", "xxhash64(id + 3) AS v")
            .groupBy("k")
            .agg({"v": "bit_xor"})
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

    for _ in range(warms):
        run()
    best = None
    for _ in range(reps):
        t0 = time.perf_counter()
        run()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 3)


def run_correctness(
    out_path: str, sample: int | None = None, seed: int | None = None
) -> int:
    """`bench.py --correctness [out.json]` — run EVERY registry query
    against its DuckDB oracle with the driver-grade local comparator
    (tests/oracle.py) and write one record per query in the driver's
    CORRECTNESS_r{N}.json shape. This is the full-registry artifact the
    driver's 50-query sample can be diffed against (VERDICT r5 item 3).

    `--sample N --seed S` (VERDICT r10 item 7): run a seed-rotated
    N-query subsample instead — a cheap self-sample whose composition
    ROTATES with the seed, catching sample-composition drift (queries
    that only ever pass because the fixed driver sample never draws
    them) before the driver does. Same comparator, same artifact shape."""
    from tests.oracle import (
        canon_strings,
        check_tolerance,
        run_duckdb_df,
        spark_nonportable_fields,
    )

    sf_dir = os.environ.get(
        "SPARK_GRAFT_CORRECTNESS_SF_DIR", "/root/testdata/sf0.01"
    )
    spark = get_spark(
        app_name="correctness",
        cpus=os.environ.get("SPARK_GRAFT_CPUS", "32"),
    )
    names = sorted(REGISTRY)
    if sample is not None:
        import random

        rng = random.Random(seed if seed is not None else 0)
        names = sorted(rng.sample(names, min(sample, len(names))))
        print(
            f"seed-rotated sample: {len(names)} queries (seed={seed})",
            file=sys.stderr,
        )
    results: dict[str, dict] = {}
    failures = 0
    for name in names:
        q = REGISTRY.get(name)
        rec = {
            "rows_match": False,
            "schema_match": False,
            "hash_match": False,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        try:
            sdf = q.fn(spark, sf_dir)
            bad = spark_nonportable_fields(sdf)
            if bad:
                raise AssertionError(f"non-portable output dtypes {bad}")
            spd = sdf.toPandas()
            rec["spark_rows"] = int(len(spd))
            if q.oracle is None:
                # rows-only check, mirroring the driver's weaker gate —
                # upgraded to a sketch-bound check when the registration
                # carries a tol_oracle (VERDICT r9 item 5): the exact
                # DuckDB bound must contain the sketch value, and a
                # violation counts as a failure like any hash mismatch.
                rec.update(
                    rows_match=True, schema_match=True, hash_match=None,
                    oracle_rows=None,
                )
                if q.tol_oracle is not None:
                    check_tolerance(name, spd, run_duckdb_df(q.tol_oracle, sf_dir))
                    rec["bound_match"] = True
            else:
                opd = run_duckdb_df(q.oracle, sf_dir)
                rec["oracle_rows"] = int(len(opd))
                s_cols, s_rows = canon_strings(spd)
                d_cols, d_rows = canon_strings(opd)
                rec["rows_match"] = len(s_rows) == len(d_rows)
                rec["schema_match"] = s_cols == d_cols
                rec["hash_match"] = rec["rows_match"] and s_rows == d_rows
                if not (rec["schema_match"] and rec["hash_match"]):
                    failures += 1
        except Exception as e:  # record, keep going — this is an audit
            rec["err"] = f"{type(e).__name__}: {e}"[:500]
            failures += 1
        finally:
            spark.catalog.clearCache()
        results[name] = rec
        # same predicate that increments `failures` (ADVICE r6: a
        # schema-mismatch row printed 'ok' while counting as a failure)
        ok = rec["err"] is None and (
            rec["hash_match"] is None
            or (rec["schema_match"] and rec["hash_match"])
        )
        status = "ok" if ok else "FAIL"
        print(f"  {name}: {status}", file=sys.stderr)
    with open(out_path, "w") as f:
        json.dump(results, f, indent=1)
    n_hash = sum(1 for r in results.values() if r["hash_match"] is True)
    n_rows_only = sum(1 for r in results.values() if r["hash_match"] is None)
    print(
        json.dumps(
            {
                "metric": "local_correctness",
                "queries_total": len(results),
                "hash_green": n_hash,
                "rows_only": n_rows_only,
                "failures": failures,
                "sf_dir": sf_dir,
                "artifact": out_path,
            }
        )
    )
    return 1 if failures else 0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0

    # 5 rounds (round 8, was 3): per-query numbers are best-of-N under the
    # matched-statistics rule, and on this host the sub-half-second queries
    # carry 50-150 ms of scheduling jitter per run — two more samples cost
    # ~70 s total and materially tighten the best for exactly the rows the
    # driver artifact kept printing ≥2× (i1/i3/c7/x11, VERDICT r7 item 2).
    rounds_n = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_ROUNDS", "5")))

    spark = get_spark(app_name="bench", cpus=cpus)
    # Warm up JVM/codegen paths outside the timed region.
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    # Host calibration (VERDICT r12 item 1a): measure drift, don't narrate
    # it. Probed at START and END of the capture so a mid-run degradation
    # is visible too.
    probe_start = _host_probe(spark)

    names_all = [n for n in HEADLINE if REGISTRY.get(n) is not None]
    warmup = os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1") != "0"
    if warmup:
        # One UNTIMED pass over every headline query (VERDICT r7 item 2):
        # the first execution of each query pays fixed one-time costs —
        # parquet schema inference (until the registry memo is hot),
        # codegen compilation, shuffle-service setup — that are noise, not
        # operator cost. On sub-half-second queries that overhead is the
        # whole story: i1/c7/x11 printed ≥2× on the driver artifact every
        # round purely from cold-start landing in the timed region. The
        # warm-up runs the same end-to-end noop-sink action so both the
        # plan and its compiled stages are hot before timing begins.
        for name in names_all:
            REGISTRY.get(name).fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            spark.catalog.clearCache()

    # Interleaved rounds (VERDICT r3 item 1): the host shows intermittent
    # multi-second stalls. Running each query's repetitions back-to-back let
    # one stall poison all reps of a single query (r3: 11.0 s spread on a
    # 0.66 s query). Instead run the FULL headline list `rounds_n` times and
    # take the per-query median ACROSS rounds — a stall now lands on one
    # round of many queries and the medians shrug it off. Per-round wall
    # times are recorded so a stalled round is visible in the artifact.
    names = names_all
    per_query: dict[str, list[float]] = {n: [] for n in names}
    round_walls: list[float] = []
    round_probes: list[float] = []
    for _ in range(rounds_n):
        r0 = time.perf_counter()
        for name in names:
            q = REGISTRY.get(name)
            t0 = time.perf_counter()
            q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            per_query[name].append(time.perf_counter() - t0)
            spark.catalog.clearCache()  # drop per-query persists between runs
        round_walls.append(round(time.perf_counter() - r0, 3))
        # One probe sample per ROUND BOUNDARY (~every 30 s): this host's
        # noisy-neighbor interference is BURSTY on a minutes timescale —
        # a confirmation capture measured round walls 49-65 s vs 26 s
        # clean while start/end probes both read ≈1.0×, so endpoint-only
        # calibration can miss the burst entirely. JIT is already warm
        # from the start probe; median-of-boundaries goes to host_factor.
        # min-of-2 (ADVICE r14): the start/end probes are min-of-5, so a
        # 1-rep boundary sample mixed statistics of different variance —
        # one 50-150 ms scheduler blip on a single boundary rep could
        # push max/min past the tol and flip bookable=false on an
        # otherwise-idle capture. Two reps damp the single-sample blip
        # while still catching a real multi-minute burst (which inflates
        # both reps); cost is ~1 s per round boundary.
        round_probes.append(_host_probe(spark, reps=2, warms=0))

    # Extra best-of samples for the SHORT queries (VERDICT r7 item 2):
    # per-run scheduling jitter on this host is 50-150 ms, which is the
    # same order as these queries' runtime, so their best-of-N converges
    # slowly — three extra samples each cost ~15 s total and sample the
    # same distribution (they fold into best AND median identically; this
    # is more data, not a different statistic).
    extra_n = max(0, int(os.environ.get("SPARK_GRAFT_BENCH_EXTRA_SHORT", "3")))
    short = [n for n in names if BASELINE_GOFORWARD.get(n, 1.0) < 0.6]
    for _ in range(extra_n):
        for name in short:
            q = REGISTRY.get(name)
            t0 = time.perf_counter()
            q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            per_query[name].append(time.perf_counter() - t0)
            spark.catalog.clearCache()

    probe_end = _host_probe(spark)
    samples = sorted([probe_start, *round_probes, probe_end])
    mid = len(samples) // 2
    probe_med = (
        samples[mid]
        if len(samples) % 2
        else (samples[mid - 1] + samples[mid]) / 2
    )
    host_probe = {
        "start": probe_start,
        "rounds": round_probes,
        "end": probe_end,
        "median": round(probe_med, 3),
        "ref": HOST_PROBE_REF,
        # median over (start, every round boundary, end): robust to a
        # quiet endpoint bracketing a loud run and vice versa
        "factor": (
            round(probe_med / HOST_PROBE_REF, 3) if HOST_PROBE_REF else None
        ),
        # max/min over ALL probe samples: 1.0 = perfectly uniform host.
        # Baseline/REF re-booking requires <= PROBE_AGREEMENT_TOL
        # (ADVICE r13 — the r13 booking capture read 2.19 here).
        # bookable derives from the SAME rounded value the artifact
        # publishes, so a reader recomputing the predicate from the
        # artifact can never disagree with the flag (review r14: a raw
        # ratio of 1.2503 used to print agreement=1.25, bookable=false).
        "agreement": round(samples[-1] / samples[0], 3),
        "agreement_tol": PROBE_AGREEMENT_TOL,
        "bookable": (
            round(samples[-1] / samples[0], 3) <= PROBE_AGREEMENT_TOL
        ),
    }

    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    bests: dict[str, float] = {}
    for name, runs in per_query.items():
        runs.sort()
        mid = len(runs) // 2
        # true median: average the two middle elements for an even count
        # (taking the upper-middle alone would bias every number high)
        med = runs[mid] if len(runs) % 2 else (runs[mid - 1] + runs[mid]) / 2
        timings[name] = round(med, 3)
        spreads[name] = round(runs[-1] - runs[0], 3)
        # best-of-N (VERDICT r4 item 1): BASELINE.md rows are r1 best-of-2,
        # so per-query baseline comparisons should read `best`, not the
        # median — medians over interleaved rounds carry a systematic
        # upward bias on sub-second queries when the host stalls. `queries`
        # and the total stay median-based so totals remain r1-comparable.
        bests[name] = round(runs[0], 3)

    total = round(sum(timings.values()), 3)
    total_best = round(sum(bests.values()), 3)
    # Per-query ratios vs the GO-FORWARD baseline (best-of-N on both
    # sides, per the matched-statistics rule standing since r4).
    vs_baseline = {
        n: round(bests[n] / BASELINE_GOFORWARD[n], 2)
        for n in names
        if n in BASELINE_GOFORWARD
    }
    base_total = sum(BASELINE_GOFORWARD[n] for n in names if n in BASELINE_GOFORWARD)
    vs_baseline_total = round(
        sum(bests[n] for n in names if n in BASELINE_GOFORWARD) / base_total, 3
    ) if base_total else None
    # Full detail (medians + spreads + per-round walls) goes to a FILE so
    # the final stdout line stays compact: the driver captures only a tail
    # window of stdout, and r5's all-in-one line overflowed it
    # ("parsed": null in BENCH_r05.json — VERDICT r5 item 1).
    detail_path = os.path.join(REPO, "BENCH_detail_last.json")
    with open(detail_path, "w") as f:
        json.dump(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "best": bests,
                "total_best": total_best,
                "spread": spreads,
                "round_walls": round_walls,
                "warmup_pass": warmup,
                "extra_short_reps": extra_n,
                # ids whose best-of-N pools more samples than the rest
                # (ADVICE r8: unequal sample counts favor these rows vs
                # baselines recorded under the old protocol — flagged so
                # cross-round readers can account for it; their
                # go-forward baselines are re-recorded under THIS
                # protocol, see BASELINE.md r9 footnote)
                "extra_sampled": sorted(short) if extra_n else [],
                "vs_baseline": vs_baseline,
                "vs_baseline_total": vs_baseline_total,
                "host_probe": host_probe,
                "host_factor": host_probe["factor"],
                "sf": sf,
            },
            f,
        )
    # Compact final line: totals + per-query BEST only (per-query baseline
    # comparisons read best-of-N — BASELINE.md rows are r1 best-of-2;
    # `value` stays the median-based total for r1-comparability).
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": bests,
                "total_best": total_best,
                "vs_baseline": vs_baseline,
                "vs_baseline_total": vs_baseline_total,
                "extra_sampled": sorted(short) if extra_n else [],
                "host_factor": host_probe["factor"],
                "sf": sf,
            }
        )
    )
    # FINAL compact line (VERDICT r9 item 2): the full line above outgrew
    # the driver's stdout tail-capture window in r9 ("parsed": null in
    # BENCH_r09.json — 34 queries x two dicts). The LAST printed line is
    # guaranteed small so whatever window the driver captures, the final
    # complete JSON line always parses and carries the headline numbers.
    # Round 16 (VERDICT r15 item 1): the driver's per-query comparison
    # reads THIS line's "queries" map — omitting it left PERF per_query
    # empty and prev/now_bench_ok false for two rounds. One 34-entry dict
    # (~1.2 KB; per-query best-of-N, the documented per-query statistic)
    # fits the tail window that truncated r9's TWO-dict line; everything
    # else stays in the line above + BENCH_detail_last.json.
    print(
        json.dumps(
            final_line_payload(
                total,
                bests,
                total_best,
                vs_baseline,
                vs_baseline_total,
                host_probe,
                sf,
            )
        )
    )


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--correctness":
        args = sys.argv[2:]
        sample = seed = None
        if "--sample" in args:
            i = args.index("--sample")
            sample = int(args[i + 1])
            del args[i : i + 2]
        if "--seed" in args:
            i = args.index("--seed")
            seed = int(args[i + 1])
            del args[i : i + 2]
        out = args[0] if args else os.path.join(
            REPO, "CORRECTNESS_local_last.json"
        )
        sys.exit(run_correctness(out, sample=sample, seed=seed))
    main()
