"""Edge-case unit tests (SURVEY.md §5.2): empty input, all-null rows,
single-class weights, short-text tokenize/shingles."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_lakes_tp2_student_spark.operators.dedup import (
    exact_dedup,
    minhash_signatures,
    shingle_array,
)
from data_lakes_tp2_student_spark.operators.label import label_encode
from data_lakes_tp2_student_spark.operators.split import stratified_split
from data_lakes_tp2_student_spark.operators.stats import table_summary
from data_lakes_tp2_student_spark.operators.tokenize import tokenize_chars
from data_lakes_tp2_student_spark.operators.weights import class_weights


@pytest.fixture(scope="module")
def empty(spark):
    return spark.createDataFrame([], "pk bigint, cls string, text string")


def test_empty_input_flows_through(spark, empty):
    assert stratified_split(empty, "cls", "pk").count() == 0
    assert class_weights(empty, "cls").count() == 0
    assert label_encode(empty, "cls").count() == 0
    assert exact_dedup(empty, "text", "pk").count() == 0
    assert minhash_signatures(empty, "pk", "text").count() == 0
    row = table_summary(empty, "text", "cls").first()
    assert row["n_rows"] == 0 and row["n_classes"] == 0


def test_all_null_dropna(spark):
    df = spark.createDataFrame(
        [(None, None), (1, "a"), (None, "b")], "pk bigint, cls string"
    )
    assert df.na.drop("any").count() == 1


def test_single_class_weight_is_one(spark):
    df = spark.createDataFrame([(i, "only") for i in range(5)], "pk bigint, cls string")
    rows = class_weights(df, "cls").collect()
    assert len(rows) == 1 and rows[0]["weight"] == 1.0


def test_tokenize_short_and_exact_width(spark):
    df = spark.createDataFrame([(1, "ab"), (2, "abcd"), (3, "")], "pk bigint, t string")
    out = {r["pk"]: r["tokens"] for r in tokenize_chars(df, "t", max_len=4).collect()}
    assert out[1] == [97, 98, 0, 0]
    assert out[2] == [97, 98, 99, 100]
    assert out[3] == [0, 0, 0, 0]


def test_tokenize_esm2_known_vectors(spark):
    """Hand-computed ESM2 id vectors (public facebook/esm2_t6_8M_UR50D
    vocab): <cls>=0 + per-char ids + <eos>=2, <pad>=1 fill, <unk>=3 for
    out-of-vocab, body truncated to max_len-2."""
    from data_lakes_tp2_student_spark.operators.tokenize import tokenize_esm2

    df = spark.createDataFrame(
        [(1, "MKTAYIAKQR"), (2, ""), (3, "LAGVSERTIDPKQNFYX"), (4, "mz*")],
        "pk bigint, t string",
    )
    out = {r["pk"]: r["tokens"] for r in tokenize_esm2(df, "t", max_len=16).collect()}
    # M=20 K=15 T=11 A=5 Y=19 I=12 A=5 K=15 Q=16 R=10
    assert out[1] == [0, 20, 15, 11, 5, 19, 12, 5, 15, 16, 10, 2, 1, 1, 1, 1]
    assert out[2] == [0, 2] + [1] * 14
    # 17 chars truncate to 14 (= max_len - 2): L A G V S E R T I D P K Q N
    assert out[3] == [0, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 17, 2]
    # lowercase / symbols are out-of-vocab -> <unk>=3 (no case folding)
    assert out[4] == [0, 3, 3, 3, 2] + [1] * 11


def test_shingles_short_text_fallback(spark):
    df = spark.createDataFrame([(1, "one two")], "pk bigint, t string")
    words = df.select(F.split("t", " ").alias("_words"))
    row = words.select(shingle_array("_words").alias("shingles")).first()
    assert row["shingles"] == ["one two"]  # < 3 words -> whole text


def test_repetition_top_count_matches_counter(spark):
    """The in-row `aggregate(array_sort(...))` max-multiplicity expression
    (x27) must agree with collections.Counter on adversarial word lists:
    all-same, all-distinct, ties, and singletons at both array ends."""
    from collections import Counter

    from pyspark.sql import functions as F

    cases = [
        ["a"],
        ["a", "a", "a"],
        ["a", "b", "c"],
        ["b", "a", "b", "a"],          # tie
        ["z", "m", "m", "m", "a"],     # run in the middle after sort
        ["a", "z", "a", "z", "z"],
        ["x"] * 50 + ["y"] * 49,
    ]
    df = spark.createDataFrame(
        [(i, ws) for i, ws in enumerate(cases)], "pk bigint, words array<string>"
    )
    top = F.expr(
        """
        aggregate(
            array_sort(words),
            named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L),
            (acc, x) -> named_struct(
                'prev', x,
                'run', IF(acc.prev IS NOT NULL AND x = acc.prev,
                          acc.run + 1, 1L),
                'best', greatest(acc.best,
                                 IF(acc.prev IS NOT NULL AND x = acc.prev,
                                    acc.run + 1, 1L))),
            acc -> acc.best)
        """
    )
    out = {r.pk: r.top for r in df.select("pk", top.alias("top")).collect()}
    for i, ws in enumerate(cases):
        assert out[i] == max(Counter(ws).values()), f"case {i}: {ws}"


def test_scd2_merge_closes_changed_and_is_idempotent(spark):
    """A changed key yields closed+reopened rows; a no-op update and an
    untouched key pass through; replaying the SAME batch adds nothing."""
    from data_lakes_tp2_student_spark.operators.merge import scd2_merge
    from pyspark.sql import functions as F

    dim = spark.createDataFrame(
        [
            (1, "A", 0, None),
            (2, "B", 0, None),
            (3, "C", 0, None),
            (4, "X", 0, 1),      # closed history version...
            (4, "Y", 1, None),   # ...and the key's current open row
        ],
        "k bigint, v string, valid_from bigint, valid_to bigint",
    )
    upd = spark.createDataFrame(
        [(1, "A2"), (2, "B"), (4, "Z")],
        "k bigint, v string",  # change + no-op + change-on-history-key
    )
    out = scd2_merge(dim, upd, "k", "v", batch_id=2)
    rows = {(r.k, r.v, r.valid_from, r.valid_to) for r in out.collect()}
    assert rows == {
        (1, "A", 0, 2),      # closed
        (1, "A2", 2, None),  # reopened at the new value
        (2, "B", 0, None),   # no-op update untouched
        (3, "C", 0, None),   # no update untouched
        (4, "X", 0, 1),      # closed HISTORY row immutable — not re-closed
        (4, "Y", 1, 2),      # only the open row closes...
        (4, "Z", 2, None),   # ...and exactly one new open row appears
    }
    # replay on the full updated dim: every open row already carries the
    # new value, so the batch is a no-op — history byte-identical
    again = scd2_merge(out, upd, "k", "v", batch_id=3)
    rows_again = {
        (r.k, r.v, r.valid_from, r.valid_to) for r in again.collect()
    }
    assert rows_again == rows


def test_scd2_merge_null_attr_and_duplicate_updates(spark):
    """An open row whose tracked value is NULL must CLOSE (not vanish) when
    a non-null update arrives, and duplicate keys in a dirty CDC batch must
    not fan the open row out into several."""
    from data_lakes_tp2_student_spark.operators.merge import scd2_merge

    dim = spark.createDataFrame(
        [(1, None, 0, None), (2, "B", 0, None)],
        "k bigint, v string, valid_from bigint, valid_to bigint",
    )
    upd = spark.createDataFrame(
        [(1, "A"), (2, "B2"), (2, "B2")],  # NULL->A change + duplicated row
        "k bigint, v string",
    )
    out = scd2_merge(dim, upd, "k", "v", batch_id=5)
    rows = {(r.k, r.v, r.valid_from, r.valid_to) for r in out.collect()}
    assert rows == {
        (1, None, 0, 5),   # NULL-valued open row closes...
        (1, "A", 5, None), # ...and reopens at the update value
        (2, "B", 0, 5),
        (2, "B2", 5, None),
    }
    # exactly one open row per key even with duplicated update rows
    open_counts = sorted(
        (r.k, r.cnt)
        for r in out.filter("valid_to IS NULL").groupBy("k").count()
        .withColumnRenamed("count", "cnt").collect()
    )
    assert open_counts == [(1, 1), (2, 1)]


def test_exact_dedup_keeps_lowest_tiebreak(spark):
    df = spark.createDataFrame(
        [(3, "same"), (1, "same"), (2, "other")], "pk bigint, text string"
    )
    kept = sorted(r["pk"] for r in exact_dedup(df, "text", "pk").collect())
    assert kept == [1, 2]


def test_label_encode_dense_codes(spark):
    df = spark.createDataFrame(
        [(1, "b"), (2, "a"), (3, "c"), (4, "a")], "pk bigint, cls string"
    )
    codes = {
        r["cls"]: r["class_encoded"]
        for r in label_encode(df, "cls").select("cls", "class_encoded").collect()
    }
    assert codes == {"a": 0, "b": 1, "c": 2}


def test_dup_clusters_transitive_chain(spark):
    from data_lakes_tp2_student_spark.operators.dedup import dup_clusters

    # A~B, B~C chain plus a disjoint D~E pair: components {1,2,3} and {7,8}.
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a bigint, id_b bigint"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}


def test_dup_clusters_empty_pairs(spark):
    from data_lakes_tp2_student_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame([], "id_a bigint, id_b bigint")
    assert dup_clusters(pairs).count() == 0


def test_pack_sequences_chunk_boundaries(spark):
    from data_lakes_tp2_student_spark.operators.textops import pack_sequences

    # budget 10: offsets 0,4,8,14 -> chunks 0,0,0,1; second group restarts.
    df = spark.createDataFrame(
        [(1, "g1", 4), (2, "g1", 4), (3, "g1", 6), (4, "g1", 2), (5, "g2", 25)],
        "doc_id bigint, source string, est bigint",
    )
    out = {
        r["doc_id"]: (r["token_offset"], r["chunk_id"])
        for r in pack_sequences(df, "doc_id", "source", "est", budget=10).collect()
    }
    assert out == {1: (0, 0), 2: (4, 0), 3: (8, 0), 4: (14, 1), 5: (0, 0)}


def test_simhash_pairs_identical_and_disjoint(spark):
    from data_lakes_tp2_student_spark.operators.dedup import simhash, simhash_pairs

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "completely unrelated words about spark engines here"),
        ],
        "doc_id bigint, text string",
    )
    sh = simhash(df, "text").select("doc_id", "simhash")
    assert dict(sh.dtypes)["simhash"] == "bigint"
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(sh, "doc_id").collect()
    }
    # Identical texts -> identical fingerprints -> hamming 0; the unrelated
    # doc must not pair with either at radius 3.
    assert got == {(1, 2): 0}


def _signed64(u: int) -> int:
    return u - (1 << 64) if u >= 1 << 63 else u


def test_simhash_pairs_matches_brute_force_at_band_edges(spark):
    """Exact recall and precision of the two-level banding against an
    all-pairs popcount, on hand-built bigint fingerprints. Flip sets sit
    on the sign bit (bit 0 = MSB), on both sides of the 16-bit band edges
    (15|16, 31|32, 47|48) and of the 12-bit sub-band edges of each
    band's complement (11|12 and 15|32 for band 1; 27|28, 39|40, 51|52
    for band 0), at hamming 1-3 (kept) and 4 (dropped)."""
    from data_lakes_tp2_student_spark.operators.dedup import simhash_pairs

    flips = [
        (0,), (63,), (0, 63), (15, 16), (31, 32), (47, 48), (11, 12),
        (15, 32), (27, 28), (39, 40), (51, 52), (0, 16, 32), (15, 16, 47),
        (11, 12, 13), (0, 16, 32, 48), (15, 16, 31, 32), (27, 28, 39, 40),
    ]
    bases = [0, (1 << 64) - 1, 1 << 63, 0x0123456789ABCDEF, 0xF0E1D2C3B4A59687]
    fps = []
    for base in bases:
        fps.append(base)
        for fl in flips:
            fps.append(base ^ sum(1 << (63 - i) for i in fl))
    rows = [(i, _signed64(u)) for i, u in enumerate(fps)]
    df = spark.createDataFrame(rows, "doc_id bigint, simhash bigint")
    want = {
        (i, j): bin(fps[i] ^ fps[j]).count("1")
        for i in range(len(fps))
        for j in range(i + 1, len(fps))
        if bin(fps[i] ^ fps[j]).count("1") <= 3
    }
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(df, "doc_id").collect()
    }
    assert got == want
    # the sign bit counts as one flip, and four flips never pair
    assert got[(0, 1)] == 1
    assert (0, 15) not in got
    assert set(got.values()) == {0, 1, 2, 3}


def test_tfidf_rare_term_outranks_common(spark):
    from data_lakes_tp2_student_spark.operators.textops import tfidf_top_terms

    df = spark.createDataFrame(
        [(1, "common rare"), (2, "common x"), (3, "common y")],
        "doc_id bigint, text string",
    )
    top = {
        r["doc_id"]: r["term"]
        for r in tfidf_top_terms(df, "doc_id", "text", k=1).collect()
    }
    # 'common' appears in every doc -> idf 0; the unique term wins per doc.
    assert top == {1: "rare", 2: "x", 3: "y"}


# --------------------------------------------------- x10 packing properties
from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["s0", "s1"]),
            st.integers(min_value=0, max_value=900),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_pack_sequences_matches_prefix_sum_reference(spark, counts):
    """Property: chunk assignment equals the Python prefix-sum reference —
    offsets are the per-group cumulative token count in id order, chunks are
    offset // budget, and no document's START crosses a chunk boundary."""
    from data_lakes_tp2_student_spark.operators.textops import pack_sequences

    budget = 256
    rows = [(i, grp, n) for i, (grp, n) in enumerate(counts)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    got = {
        r["doc_id"]: (r["token_offset"], r["chunk_id"])
        for r in pack_sequences(
            df, "doc_id", "source", "n_tokens", budget=budget
        ).collect()
    }

    running: dict = {}
    for doc_id, grp, n in sorted(rows):
        off = running.get(grp, 0)
        assert got[doc_id] == (off, off // budget), (doc_id, got[doc_id], off)
        running[grp] = off + n


def test_lang_id_separates_real_language_text(spark):
    """x4 lang_id on text that actually carries language signal: marker-word
    argmax labels natural English/French/German sentences correctly. (On the
    driver's synthetic corpus the `lang` label is content-independent —
    every language draws from the same vocabulary — so accuracy there is
    chance by construction; this fixture is where the heuristic is
    falsifiable.)"""
    from data_lakes_tp2_student_spark.operators.textops import lang_id

    rows = [
        (1, "the cat sat on a mat in front of the fire", "en"),
        (2, "le chat dort sur la table pres de la fenetre", "fr"),
        (3, "der hund und die katze spielen in das haus", "de"),
        (4, "a tale of the sea and of the ships", "en"),
        (5, "la vie est belle et le soleil brille sur de la mer", "fr"),
        (6, "das wetter ist schoen und der himmel ist die blaue", "de"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string, expected string")
    got = {r["doc_id"]: r["pred_lang"] for r in lang_id(df, "text").collect()}
    for doc_id, _text, expected in rows:
        assert got[doc_id] == expected, (doc_id, got[doc_id], expected)


def test_sample_frames_bounded_and_deterministic(spark):
    from data_lakes_tp2_student_spark.operators.multimodal import (
        attach_fake_media,
        sample_frames,
    )

    df = spark.createDataFrame(
        [(1, "abcdefghijklmnopqrstuvwxyz0123456789"), (2, "ab"), (3, "")],
        "doc_id bigint, text string",
    )
    media = attach_fake_media(df, "doc_id", "text")
    rows = sample_frames(media, n_frames=4).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["frame_no"], bytes(r["frame"])))
    assert len(by_doc[1]) == 4  # long payload -> exactly n_frames
    assert by_doc[1][0] == (0, b"abcdefgh")  # deterministic first slice
    assert len(by_doc[2]) == 2  # short payload -> bounded by length
    assert 3 not in by_doc  # empty payload filtered, no explode of nothing


def test_substring_dedup_spans(spark):
    """x32 edges (VERDICT r4 item 5): identical docs -> one full-length
    span; shared-prefix-only -> the prefix span exactly; disjoint texts ->
    no rows; docs shorter than the window -> no windows; a window repeated
    INSIDE one doc must not duplicate span rows."""
    from data_lakes_tp2_student_spark.operators.textops import (
        duplicated_spans,
        windowed_fingerprints,
    )

    a = "one two three four five six seven eight"          # 8 words
    b = "one two three four five nine ten eleven"          # shares 5-word prefix
    c = "alpha beta gamma delta epsilon zeta"              # disjoint
    d = "tiny doc"                                          # < width
    e = "one two three four five one two three four five"  # internal repeat of a's prefix
    df = spark.createDataFrame(
        [(1, a), (2, a), (3, b), (4, c), (5, d), (6, e)],
        "doc_id bigint, text string",
    )
    wins = windowed_fingerprints(df, "doc_id", "text", width=5)
    out = {
        (r.id_a, r.id_b): (r.start_a, r.len_words)
        for r in duplicated_spans(wins, "doc_id", width=5).collect()
    }
    # identical docs: one span covering all 8 words
    assert out[(1, 2)] == (0, 8)
    # shared prefix only: exactly the 5-word prefix (positions {0}, len 5)
    assert out[(1, 3)] == (0, 5) and out[(2, 3)] == (0, 5)
    # doc e contains a's prefix twice -> positions 0 and 5 in e... but e is
    # id 6 > 1, so the span is reported in doc 1/2/3's coordinates: doc 1
    # positions {0} (only the prefix window of a matches e) -> (0, 5)
    assert out[(1, 6)] == (0, 5)
    # e vs e-self never appears (id_a < id_b strict); disjoint/short: no rows
    assert not any(4 in k or 5 in k for k in out)


def test_substring_dedup_policy_levers(spark):
    """x32b levers (round 11, VERDICT r10 item 1). `max_df` drops window
    hashes present in more than max_df docs BEFORE the join (ubiquitous
    boilerplate); `min_len` drops merged spans shorter than min_len
    words AFTER the islands pass (single-window coincidences). Both
    must subset the exact output, never invent rows."""
    from data_lakes_tp2_student_spark.operators.textops import (
        duplicated_spans,
        windowed_fingerprints,
    )

    boiler = "w1 w2 w3 w4 w5"  # ONE shared window, in EVERY doc (df=4)
    rows = [
        (1, boiler + " a1 a2 a3 a4 a5 a6"),
        (2, boiler + " a1 a2 a3 a4 a5 a6"),  # 1&2 share an 12-word span
        (3, boiler + " b1 b2 b3 b4 b5"),
        (4, boiler + " c1 c2 c3 c4 c5"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    wins = windowed_fingerprints(df, "doc_id", "text", width=5)
    exact = {
        (r.id_a, r.id_b): (r.start_a, r.len_words)
        for r in duplicated_spans(wins, "doc_id", width=5).collect()
    }
    # exact: every pair shares at least the boilerplate window
    assert set(exact) == {(a, b) for a in range(1, 5) for b in range(a + 1, 5)}
    assert exact[(1, 2)] == (0, 11)  # identical docs: full span
    # df-cap at 3: the boilerplate window (df=4) drops; only the real
    # near-dup pair (1,2) survives, its span now starting past the
    # boilerplate head (the first 5-word window whose words all sit in
    # the shared tail region... positions 1+ still match: the window at
    # pos 1 spans 'w2..a1' which both docs share) -> start 1, len 10
    capped = {
        (r.id_a, r.id_b): (r.start_a, r.len_words)
        for r in duplicated_spans(
            wins, "doc_id", width=5, max_df=3
        ).collect()
    }
    assert set(capped) == {(1, 2)} and capped[(1, 2)] == (1, 10)
    # min_len=6 keeps only runs of >=2 consecutive shared windows: the
    # lone boilerplate window (len 5) drops everywhere except (1,2)
    min6 = {
        (r.id_a, r.id_b): (r.start_a, r.len_words)
        for r in duplicated_spans(
            wins, "doc_id", width=5, min_len=6
        ).collect()
    }
    assert set(min6) == {(1, 2)} and min6[(1, 2)] == (0, 11)
    # subset property: each lever's output rows are exact-output rows
    # (possibly with trimmed spans under max_df), never new pairs
    assert set(capped) <= set(exact) and set(min6) <= set(exact)


def test_importance_sampling_empty_target_domain(spark, tmp_path):
    """x33 with NO documents in the target domain must stay defined
    (Laplace smoothing gives the target LM mass 1/(0+V) everywhere) and
    deterministic, rather than emitting NULL/-inf scores."""
    import data_lakes_tp2_student_spark.catalog  # noqa: F401
    from data_lakes_tp2_student_spark.registry import REGISTRY

    docs = spark.createDataFrame(
        [
            (1, "srcA", "alpha beta beta"),
            (2, "srcB", "alpha gamma"),
            (3, "srcB", "delta delta delta"),
        ],
        "doc_id bigint, source string, text string",
    )
    d = str(tmp_path / "sf_fake")
    docs.write.parquet(f"{d}/documents.parquet")
    out = REGISTRY["x33_importance_sampling"].fn(spark, d).collect()
    # no 'src0' rows exist -> every doc is pool; all scores finite
    assert len(out) == 3
    assert all(r.avg_log_ratio is not None for r in out)
    import math

    assert all(math.isfinite(r.avg_log_ratio) for r in out)
    # rarer pool words score HIGHER (less pool-typical, target flat):
    # doc 3 is all 'delta' (pool count 3) vs doc 1's beta/alpha mix
    by_id = {r.doc_id: r.avg_log_ratio for r in out}
    assert by_id[2] == max(by_id.values())  # gamma: rarest pool word


def test_pagerank_matches_python_recurrence(spark):
    """x34's DataFrame PageRank must equal an independently-written Python
    integer recurrence on a star + appendage graph, and an empty pair set
    yields an empty result."""
    from data_lakes_tp2_student_spark.operators.graph import pagerank

    pair_list = [(1, 2), (1, 3), (1, 4), (4, 5)]
    pairs = spark.createDataFrame(pair_list, "id_a bigint, id_b bigint")
    got = {r.doc_id: r.rank for r in pagerank(pairs, iterations=3).collect()}

    # independent reference: same fixed-point integer recurrence
    SCALE = 10**12
    edges = pair_list + [(b, a) for a, b in pair_list]
    nodes = sorted({x for e in edges for x in e})
    outdeg = {u: sum(1 for s, _ in edges if s == u) for u in nodes}
    n = len(nodes)
    base = SCALE // n
    teleport = (15 * base) // 100
    rank = {u: base for u in nodes}
    for _ in range(3):
        contrib = {u: 0 for u in nodes}
        for s, d in edges:
            contrib[d] += rank[s] // outdeg[s]
        rank = {u: teleport + (85 * contrib[u]) // 100 for u in nodes}
    assert got == rank
    # hub ordering: node 1 (degree 3) outranks the appendage node 5
    assert got[1] > got[4] > got[5] or got[1] > got[5]

    empty = spark.createDataFrame([], "id_a bigint, id_b bigint")
    assert pagerank(empty).count() == 0
