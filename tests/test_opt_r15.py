"""Round-15 optimization pins: the rewritten operator internals must stay
value-identical to the shapes they replaced.

- simhash: the shipped Arrow-batched bigint kernel, rendered as the
  64-character bit string, vs an independent explode→64-sum-agg reference
  implementation, on edge inputs (null text, empty text, single word,
  duplicates, runs of spaces, tabs, CJK, emoji). The explode form was
  measured-REJECTED on wall time (see PERF.md, "SimHash: one bigint per
  document"); it stays here as a value oracle for the kernel.
- dup_clusters: the star-forest early exit must (a) converge on an
  already-star input within ONE round (the old fingerprint loop needed a
  second confirmation round — max_iter=1 pins the new behavior), and
  (b) keep emitting exact min-label components.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_lakes_tp2_student_spark.operators.dedup import dup_clusters, simhash


def _explode_simhash(df, text_col):
    """Independent reference: explode words, 64 codegen'd ±1 sum-aggs per
    doc, majority sign per bit (a rejected rewrite candidate; kept as a
    value oracle for the shipped kernel)."""
    words = df.select("doc_id", text_col).select(
        F.col("doc_id"),
        F.explode_outer(F.split(F.col(text_col), " ")).alias("_w"),
    )
    halves = words.select(
        "doc_id",
        F.expr("CAST(conv(substr(md5(_w), 1, 8), 16, 10) AS BIGINT)").alias("_wh"),
        F.expr("CAST(conv(substr(md5(_w), 9, 8), 16, 10) AS BIGINT)").alias("_wl"),
    )
    sums = halves.groupBy("doc_id").agg(
        *[
            F.sum(
                F.expr(
                    f"CASE WHEN ({'_wh' if b < 32 else '_wl'} div "
                    f"{1 << (31 - b % 32)}) % 2 = 1 THEN 1 ELSE -1 END"
                )
            ).alias(f"_b{b}")
            for b in range(64)
        ]
    )
    return sums.select(
        "doc_id",
        F.concat(
            *[
                F.when(F.col(f"_b{b}") > 0, F.lit("1")).otherwise(F.lit("0"))
                for b in range(64)
            ]
        ).alias("simhash"),
    )


def test_simhash_fold_matches_explode_reference(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "completely unrelated words about spark engines here"),
            (4, ""),
            (5, "oneword"),
            (6, None),
            (7, "a  b"),  # double space -> empty-string word
            (8, " lead and trail "),
            (9, "tab\tseparated words"),  # tabs do not split
            (10, "日本語 テスト 文書 です"),
            (11, "emoji 😀 in 🎉 text"),
            (12, "a b"),  # two words: every split bit is a tie -> 0
        ],
        "doc_id bigint, text string",
    )
    ref = {r.doc_id: r.simhash for r in _explode_simhash(df, "text").collect()}
    fps = simhash(df, "text")
    assert dict(fps.dtypes)["simhash"] == "bigint"
    got = {
        r.doc_id: r.simhash
        for r in fps.select(
            "doc_id", F.lpad(F.bin("simhash"), 64, "0").alias("simhash")
        ).collect()
    }
    assert got == ref
    assert len(got) == 12
    assert got[6] == "0" * 64  # NULL text keeps its row, fingerprint 0
    # some fingerprint has bit 0 set, i.e. a negative bigint
    assert any(v[0] == "1" for v in got.values())


def test_dup_clusters_star_forest_converges_in_one_round(spark):
    # Already a min-centered star forest: the star-forest test must detect
    # the fixed point on the FIRST round's output (the old fingerprint loop
    # needed a second, confirming round — it would raise under max_iter=1).
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (10, 11)], "id_a bigint, id_b bigint"
    )
    out = {r.doc_id: r.cluster_id for r in dup_clusters(pairs, max_iter=1).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_dup_clusters_chain_exact_min_labels(spark):
    # A 60-deep chain exercises several star rounds; every node must land
    # on the component minimum, and no node may be dropped or duplicated.
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 60)], "id_a bigint, id_b bigint"
    )
    rows = dup_clusters(chain).collect()
    assert len(rows) == 60
    assert all(r.cluster_id == 1 for r in rows)
    assert sorted(r.doc_id for r in rows) == list(range(1, 61))


def test_dup_clusters_non_convergence_still_raises(spark):
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 2000)], "id_a bigint, id_b bigint"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dup_clusters(chain, max_iter=1)


def test_ivf_cells_zero_vector_assigns_first_centroid(spark):
    # Shipped round-15 ivf_cells window path: a zero vector's sims are NULL
    # against every centroid (0/0 crosses Arrow as NULL); NULLs sort LAST
    # under desc(_cent_sim), so every centroid ties and the deterministic
    # tie-break (ascending centroid id) must pick centroid 0, while
    # non-degenerate vectors pick their true cell. (The element_at(arr,
    # NULL) quirk — it returns the LAST element, not NULL — belongs to the
    # measured-REJECTED matrix rewrite and is documented in ivf_cells'
    # docstring; this test pins the window form's NULL ordering instead.)
    from data_lakes_tp2_student_spark.operators.similarity import (
        ivf_cells,
        ivf_centroids,
    )

    dim = 8
    rows = [
        (0, [0.0] * dim),               # centroid 0 AND the zero vector
        (1, [1.0] + [0.0] * (dim - 1)),  # centroid 1
        (2, [0.0, 1.0] + [0.0] * (dim - 2)),  # centroid 2
        (10, [0.9, 0.1] + [0.0] * (dim - 2)),  # nearest centroid 1
        (11, [0.1, 0.9] + [0.0] * (dim - 2)),  # nearest centroid 2
        (12, [0.0] * dim),              # zero vector, all-NULL sims
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    cent = ivf_centroids(df, n_cells=3)
    got = {r["vec_id"]: r["_cell"] for r in ivf_cells(df, cent, nprobe=1).collect()}
    assert got[10] == 1 and got[11] == 2
    assert got[12] == 0  # all-NULL sims -> first centroid
    assert got[0] == 0
