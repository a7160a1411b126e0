"""Stage-by-stage wall profile of the x2 (near-dup) family + other hot
bench rows at $SPARK_GRAFT_SF_DIR (guide §1: apportion query time across
pipeline stages before changing anything). Each prefix is forced with the
noop sink; cache cleared between prefixes; best-of-N per prefix.

Usage: python scripts/profile_x2.py [reps]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from data_lakes_tp2_student_spark.functions.compute import spread  # noqa: E402
from data_lakes_tp2_student_spark.operators.dedup import (  # noqa: E402
    dup_clusters,
    exploded_shingles,
    jaccard_verify,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash,
    simhash_pairs,
)
from data_lakes_tp2_student_spark.registry import load  # noqa: E402
from data_lakes_tp2_student_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_HASHES, N_BANDS, ROWS_PER_BAND = 16, 4, 4


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(spark, label, build, reps) -> float:
    best = float("inf")
    for _ in range(reps):
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(label)
        t0 = time.perf_counter()
        noop(build())
        best = min(best, time.perf_counter() - t0)
    spark.sparkContext.setJobDescription(None)
    spark.catalog.clearCache()
    return round(best, 3)


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    spark = get_spark(app_name="profile-x2")
    docs = load(spark, SF_DIR, "documents")
    out: dict[str, float] = {}

    def stage(label, build):
        out[label] = timed(spark, label, build, reps)
        print(f"{out[label]:7.3f}  {label}", flush=True)

    stage("00_scan_docs", lambda: docs)
    stage("01_shingles", lambda: exploded_shingles(spread(docs), "doc_id", "text"))

    def _sigs():
        return minhash_signatures(docs, "doc_id", "text", N_HASHES)

    stage("02_sigs", _sigs)

    def _pairs():
        return lsh_candidate_pairs(_sigs(), "doc_id", N_BANDS, ROWS_PER_BAND)

    stage("03_lsh_pairs", _pairs)

    stage(
        "04_x2b_full", lambda: jaccard_verify(_pairs(), docs, "doc_id", "text")
    )
    stage("05_x2e_full", lambda: dup_clusters(_pairs()))
    def _fingerprints():
        # one bigint per document from the Arrow-batched kernel
        return simhash(docs, "text").select("doc_id", "simhash")

    stage("06_simhash", _fingerprints)
    stage("07_x2f_full", lambda: simhash_pairs(_fingerprints(), "doc_id"))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
