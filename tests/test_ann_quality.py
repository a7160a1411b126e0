"""ANN retrieval quality: recall@10 of the approximate paths (multi-table
sign-LSH, IVF) against the exact brute-force ground truth.

Correctness of each path vs its own oracle is the differential suite's job;
this guards the RETRIEVAL quality — an ANN that is "correct" but returns
near-nothing (the single-table trap: measured recall@10 ≈ 0.03) is a broken
similarity search at any scale. Thresholds sit well under measured values
(lsh 4×4 ≈ 0.40, ivf 32/4 ≈ 0.805) to stay robust to parameter noise.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_lakes_tp2_student_spark.operators.similarity import (
    knn_bruteforce,
    knn_ivf,
    knn_lsh,
    mean_recall,
    top_sets,
)

from .conftest import SF_SMALL

K = 10
N_QUERIES = 20


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")


# shared with scripts/ann_operating_points.py (round-13 review: one
# recall definition for both the gate and the booked curve)
_top_sets = top_sets


@pytest.fixture(scope="module")
def truth(corpus):
    q = corpus.filter(F.col("vec_id") < N_QUERIES)
    return _top_sets(knn_bruteforce(corpus, q, k=K))


_mean_recall = mean_recall


def test_multitable_lsh_recall(corpus, truth):
    q = corpus.filter(F.col("vec_id") < N_QUERIES)
    multi = _top_sets(knn_lsh(corpus, q, k=K, planes=4, tables=4))
    single = _top_sets(knn_lsh(corpus, q, k=K, planes=6, tables=1))
    r_multi, r_single = _mean_recall(truth, multi), _mean_recall(truth, single)
    assert r_multi >= 0.25, r_multi
    # the multi-table union is the recall lever over one long code
    assert r_multi > r_single + 0.15, (r_multi, r_single)


def test_default_lsh_config_recall(corpus, truth):
    """The x3b DEFAULT config (VERDICT r4 item 6) must retrieve, not just
    be self-consistent: recall@10 ≥ 0.8 (measured ≈ 0.905 at the 16×4-bit
    default promoted in r6 — 8×4 measured 0.645; threshold leaves noise
    margin)."""
    from data_lakes_tp2_student_spark.catalog.near_dup import (
        _LSH_PLANES,
        _LSH_TABLES,
    )

    assert _LSH_TABLES >= 16  # the promoted recall point (r6)
    q = corpus.filter(F.col("vec_id") < N_QUERIES)
    r = _mean_recall(
        truth,
        _top_sets(
            knn_lsh(corpus, q, k=K, planes=_LSH_PLANES, tables=_LSH_TABLES)
        ),
    )
    assert r >= 0.8, r


def test_ivf_recall(corpus, truth):
    """x3c's registry config (n_cells=32, nprobe=4 — the knn_ivf defaults
    since the round-14 flip to the dominating operating point) must
    retrieve: recall@10 >= 0.6 (measured ~0.805 at sf0.01; floor leaves
    noise margin, and sits ABOVE the old 16/2 default's 0.73-measured /
    0.5-floored point so a silent revert fails). VERDICT r9 item 6's
    pinned IVF floor, re-based per VERDICT r13 item 2."""
    q = corpus.filter(F.col("vec_id") < N_QUERIES)
    r = _mean_recall(truth, _top_sets(knn_ivf(corpus, q, k=K)))
    assert r >= 0.6, r


def test_semdedup_neighbor_recall(corpus):
    """x38 SemDeDup retrieval-quality gate (VERDICT r9 item 6): against the
    EXACT all-pairs ground truth (every vec_id with cosine >= threshold to
    some lower-id vector), the cell-bucketed path must (a) keep recall
    above a pinned floor — measured 0.303 at sf0.01/16 cells; recall < 1 is
    inherent to SemDeDup's within-cell-only comparisons (Abbas et al. 2023),
    but a cell-assignment bug that splits near-dup pairs across cells would
    tank it below 0.2 — and (b) have EXACT precision 1.0: in-cell cosine is
    exact, so a flagged dup that is not a true dup is always a bug."""
    import numpy as np

    from data_lakes_tp2_student_spark.catalog.near_dup import _SEM_THRESHOLD
    from data_lakes_tp2_student_spark.operators.similarity import semdedup

    pdf = corpus.toPandas().sort_values("vec_id")
    V = np.vstack(pdf["embedding"].to_numpy())
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    S = Vn @ Vn.T
    ids = pdf["vec_id"].to_numpy()
    iu, ju = np.triu_indices(len(ids), k=1)
    hit = S[iu, ju] >= _SEM_THRESHOLD
    true_dups = set(int(x) for x in np.unique(ids[ju[hit]]))

    res = semdedup(corpus, n_cells=16, threshold=_SEM_THRESHOLD).toPandas()
    detected = set(res.loc[~res["is_kept"], "vec_id"].astype(int))
    assert true_dups, "degenerate fixture: no true near-dup pairs"
    assert detected <= true_dups, (
        f"false positives: {sorted(detected - true_dups)[:5]}"
    )
    recall = len(detected & true_dups) / len(true_dups)
    assert recall >= 0.2, recall


def test_default_lsh_candidate_fraction_pinned(corpus):
    """VERDICT r12 item 2: recall alone can hide an ANN that 'finds' its
    neighbors by scoring most of the corpus. The 16×4-bit default's cost
    is now a PINNED operating point: candidate_fraction ≈ 0.63 measured
    (scripts/ann_operating_points.py, PERF.md #68) — the ceiling fails
    loudly if a parameter change silently buys recall with even more
    shuffle volume."""
    from data_lakes_tp2_student_spark.catalog.near_dup import (
        _LSH_PLANES,
        _LSH_TABLES,
    )
    from data_lakes_tp2_student_spark.operators.similarity import (
        ann_candidate_pairs,
    )

    q = corpus.filter(F.col("vec_id") < N_QUERIES)
    n = corpus.count()
    cand = ann_candidate_pairs(
        corpus, q, planes=_LSH_PLANES, dim=64, tables=_LSH_TABLES
    ).count()
    frac = cand / (n * N_QUERIES)
    assert frac <= 0.75, frac


def test_ivf_dominates_lsh_on_candidate_fraction(corpus):
    """The documented 100-TB guidance — IVF for unstructured embeddings —
    rests on a measured dominance: at comparable recall (0.805 vs 0.905),
    IVF scores ≤ 1/4 the candidates the default LSH point does.
    Pinning the ratio keeps the guidance honest if either side drifts."""
    from data_lakes_tp2_student_spark.catalog.near_dup import (
        _LSH_PLANES,
        _LSH_TABLES,
    )
    from data_lakes_tp2_student_spark.operators.similarity import (
        ann_candidate_pairs,
        ivf_candidate_pairs,
    )

    q = corpus.filter(F.col("vec_id") < N_QUERIES)
    lsh_c = ann_candidate_pairs(
        corpus, q, planes=_LSH_PLANES, dim=64, tables=_LSH_TABLES
    ).count()
    ivf_c = ivf_candidate_pairs(corpus, q).count()  # registry 32/4 defaults
    assert ivf_c * 4 <= lsh_c, (ivf_c, lsh_c)
    # and the IVF fraction itself stays near its nprobe/n_cells budget
    n = corpus.count()
    assert ivf_c / (n * N_QUERIES) <= 2.0 * 4 / 32, ivf_c
