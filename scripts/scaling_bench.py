"""Scaling-exponent measurement for the heavy headline queries
(VERDICT r9 item 1, extended r11): run each at sf0.1 and at the Fx
replicated dataset (scripts/gen_scale_data.py), book wall-time ratios
against each query's theoretical ENGINE shape, and flag anything
super-linear beyond it.

The sf0.1 instrument is saturated by fixed overhead (PERF.md); this is
the measurement that turns "at 100 TB this holds" plan arguments into
numbers. Interpreting ratios at factor F=10:

- linear (scans, map-only, hash aggs, broadcast joins):   ~10
- n log n (sort/shuffle-bound, window sorts):             ~11.7
  (n log n factor = F * log(F*N)/log(N) with N = 6e5 rows)
- fixed-probe ANN (corpus grows, query count fixed):      ~10

Plus per-query session/plan fixed overhead (~0.1-0.5 s) that DEFLATES
small ratios — a ratio well under F means fixed overhead still
dominates, not sub-linear magic. The verdict line per query compares
the measured ratio to `expected * SLACK` (default 1.5, covering the
spill/cache-locality cliff a 10x working set legitimately crosses).

Round 11 (VERDICT r10 item 4): the `quadratic_output` taxonomy is now
MEASURED, not hand-assigned — every row records its OUTPUT row count at
both scales, and when the output itself grows faster than the declared
engine shape allows (pair relations over heavily-duplicated corpora:
a 10x corpus with the same dup rate holds ~100x true pairs), the
harness derives the label and the wall-time bound from the measured
output growth. An engine whose WORK is proportional to its output is
doing the best possible job on a quadratic relation; one whose wall
outgrows even the output is flagged.

Usage:
  python scripts/gen_scale_data.py 10
  python scripts/scaling_bench.py [out=SCALING_last.json] [factor=10] \
      [only=name1,name2]
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from data_lakes_tp2_student_spark.catalog import REGISTRY  # noqa: E402
from data_lakes_tp2_student_spark.session import get_spark  # noqa: E402

SMALL = "/root/testdata/sf0.1"
ROUNDS = 3
SLACK = 1.5

# (query, declared ENGINE-work shape). Shapes:
#   linear  — single scan + hash agg / map-only / broadcast join
#   nlogn   — sort- or shuffle-dominated (merge sorts grow log n)
#   fixedq  — corpus grows, probe count fixed (ANN paths)
# Output-bound behavior (pair relations that are quadratic by
# SEMANTICS) is NOT declared here — the harness measures output-row
# growth and derives it (VERDICT r10 item 4).
HEAVY = [
    # round 14 (VERDICT r13 item 4): the flagship scan/agg pair joins the
    # measured set so the 100x point covers every headline family
    ("flagship_summary", "linear"),
    ("d3_group_sizes", "linear"),
    ("x1_exact_dedup", "linear"),
    ("x2_minhash_pairs", "linear"),
    ("x2b_jaccard_verify", "linear"),
    ("x2e_dup_clusters", "nlogn"),
    ("x2f_simhash_pairs", "linear"),
    ("x3_knn_bruteforce", "fixedq"),
    ("x3b_knn_lsh", "fixedq"),
    ("x3c_knn_ivf", "fixedq"),
    ("x16_pmi_cooccurrence", "linear"),
    ("x9_corpus_prep", "linear"),
    ("e2_stratified_split", "nlogn"),
    ("e3_window_functions", "nlogn"),
    ("j1_tokenize", "linear"),
    ("x4_quality_score", "linear"),
    ("x6_tpch_q1", "linear"),
    ("x6_tpch_q3", "nlogn"),
    ("x6_tpch_q8", "nlogn"),
    ("x6_tpch_q21", "nlogn"),
    ("i1_tumbling_window", "linear"),
    ("i3_session_window", "nlogn"),
    ("x12_funnel", "nlogn"),
    ("x31b_image_neardup_pairs", "linear"),
    ("x31c_image_dedup", "linear"),
    ("x19_bm25_topk", "linear"),
    ("x22_decontamination", "linear"),
    ("x38_semdedup", "fixedq"),
    ("x42_entity_resolution", "nlogn"),
    ("x47_sparse_cosine", "linear"),
    # round-11 wave (VERDICT r10 item 1): the 9 heavy queries the r10
    # artifact never measured — x32 first (its window-hash equi-join's
    # document-frequency concentration is the exact mechanism behind
    # all three r10 quadratic catches)
    ("x32_substring_dedup", "nlogn"),
    ("x32b_substring_dedup_capped", "nlogn"),
    ("x44_containment", "linear"),
    ("x2g_neardup_dedup", "nlogn"),
    ("x24_incremental_dedup", "linear"),
    ("x34_pagerank", "nlogn"),
    ("x36_triangle_count", "nlogn"),
    ("x40_label_propagation", "nlogn"),
    ("x17_event_transitions", "nlogn"),
    ("x25_token_budget_selection", "nlogn"),
    # round-11 wave 2: the STREAMING drains — file source listing,
    # watermarked state ops, and memory-sink materialization all scale
    # with the event volume; previously the only family with no rows
    ("i4_stream_tumbling", "nlogn"),
    ("i5_stream_dedup", "nlogn"),
    ("i7_stream_interval_join", "nlogn"),
    ("i8_stream_session", "nlogn"),
]

N_SMALL = 600_000  # lineitem rows at sf0.1 (the dominant table)


def expected_factor(shape: str, factor: int) -> float:
    if shape == "nlogn":
        return factor * math.log(factor * N_SMALL) / math.log(N_SMALL)
    return float(factor)  # linear and fixedq


def run_side(spark, sf_dir: str, names: list[str]) -> tuple[dict, dict]:
    """(best wall seconds, output row count) per query. The count pass
    is untimed and separate from the noop-write timing pass: count()
    lets Catalyst prune columns, so it measures CARDINALITY (the label
    input), not the full-materialization wall the noop write measures."""
    rows: dict[str, int] = {}
    for n in names:
        REGISTRY[n].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()  # untimed warm-up (codegen + schema memo)
        spark.catalog.clearCache()
        rows[n] = REGISTRY[n].fn(spark, sf_dir).count()
        spark.catalog.clearCache()
    best: dict[str, float] = {n: float("inf") for n in names}
    for _ in range(ROUNDS):
        for n in names:
            t0 = time.perf_counter()
            REGISTRY[n].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            best[n] = min(best[n], time.perf_counter() - t0)
            spark.catalog.clearCache()
    return {n: round(v, 3) for n, v in best.items()}, rows


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        REPO, "SCALING_last.json"
    )
    # factor may carry a fixture-mode suffix, e.g. "10c" = the round-12
    # constant-dup-rate documents fixture (gen_scale_data.py ... constant)
    factor_s = sys.argv[2] if len(sys.argv) > 2 else "10"
    factor = int(factor_s.rstrip("c"))
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    big_dir = f"/tmp/scaledata/sfx{factor_s}"
    if not os.path.isdir(big_dir):
        sys.exit(
            f"{big_dir} missing — run scripts/gen_scale_data.py {factor} first"
        )
    spark = get_spark(
        app_name="scaling_bench", cpus=os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    names = [
        n
        for n, _ in HEAVY
        if n in REGISTRY and (only is None or n in only)
    ]
    small, small_rows = run_side(spark, SMALL, names)
    big, big_rows = run_side(spark, big_dir, names)

    # Round 13 (VERDICT r12 item 2): candidate FRACTION for the ANN rows
    # at both scales — candidates / (|corpus|·|queries|), the number
    # recall alone hides. Uses the registry queries' own configs.
    ann_fracs: dict[str, dict] = {}
    if {"x3b_knn_lsh", "x3c_knn_ivf"} & set(names):
        from pyspark.sql import functions as F

        from data_lakes_tp2_student_spark.catalog.near_dup import (
            _LSH_PLANES,
            _LSH_TABLES,
        )
        from data_lakes_tp2_student_spark.operators.similarity import (
            ivf_candidate_pairs,
            ann_candidate_pairs,
        )

        for side, d in (("small", SMALL), ("big", big_dir)):
            emb = spark.read.parquet(f"{d}/embeddings.parquet")
            q = emb.filter(F.col("vec_id") < 3)
            denom = emb.count() * 3
            if "x3b_knn_lsh" in names:
                c = ann_candidate_pairs(
                    emb, q, planes=_LSH_PLANES, dim=64, tables=_LSH_TABLES
                ).count()
                ann_fracs.setdefault("x3b_knn_lsh", {})[
                    f"candidate_fraction_{side}"
                ] = round(c / denom, 4)
            if "x3c_knn_ivf" in names:
                # registry defaults (32 cells / nprobe 4 since round 14)
                c = ivf_candidate_pairs(emb, q).count()
                ann_fracs.setdefault("x3c_knn_ivf", {})[
                    f"candidate_fraction_{side}"
                ] = round(c / denom, 4)
            spark.catalog.clearCache()
    rows = []
    for n, shape in HEAVY:
        if n not in small:
            continue
        ratio = round(big[n] / small[n], 2)
        base_exp = expected_factor(shape, factor)
        out_ratio = round(big_rows[n] / max(small_rows[n], 1), 2)
        # derived label (VERDICT r10 item 4): when the OUTPUT relation
        # grows faster than the declared engine shape allows, the wall
        # bound follows the output — writing k rows costs k — and the
        # row is labeled from the measurement, not by hand
        label = shape
        exp = base_exp
        if out_ratio > base_exp * 1.2:
            label = (
                "quadratic_output"
                if out_ratio >= factor ** 1.5
                else f"output_bound({shape})"
            )
            exp = max(base_exp, out_ratio)
        exp = round(exp, 1)
        verdict = "ok" if ratio <= exp * SLACK else "SUPER-LINEAR"
        rows.append(
            {
                "query": n,
                "sf0.1_s": small[n],
                f"sfx{factor}_s": big[n],
                "ratio": ratio,
                "rows_small": small_rows[n],
                "rows_big": big_rows[n],
                "out_ratio": out_ratio,
                "shape_declared": shape,
                "shape": label,
                "expected": exp,
                "verdict": verdict,
                **ann_fracs.get(n, {}),
            }
        )
        print(
            f"{n:28s} {small[n]:7.3f}s {big[n]:8.3f}s  x{ratio:<6} "
            f"rows x{out_ratio:<8} (exp {label} ~x{exp}) {verdict}"
        )
    with open(out_path, "w") as f:
        json.dump(
            {
                "factor": factor,
                "fixture": factor_s,
                "rounds": ROUNDS,
                "slack": SLACK,
                "queries": rows,
                "flagged": [r["query"] for r in rows if r["verdict"] != "ok"],
            },
            f,
            indent=1,
        )
    print("artifact:", out_path)


if __name__ == "__main__":
    main()
