"""Deduplication operators (SURVEY.md §2 x1/x2) — the LLM-training-data
pipeline surface: exact dedup, MinHash+LSH near-dup candidates, exact
n-gram-Jaccard verification, and SimHash fingerprints.

All hashing is md5-based: portable across engines (the DuckDB oracle computes
identical signatures), stable under any repartitioning, with no driver-side
state.

Scale & execution design:
- exact dedup groups on md5(text) rather than the text itself, so the shuffle
  carries 32-byte keys instead of documents;
- MinHash signatures come from one Arrow kernel per batch of documents
  (`mapInArrow` after a round-robin spread): one md5 per distinct shingle
  of the batch, and the k rotated minima as fixed-width 128-bit integers
  in numpy. Per row, so the signature stage has no exchange and no
  aggregate at any scale. Spark's own shape, explode → md5 → k `min`
  aggregations over rotated hex strings, runs as a sort aggregate because
  strings are not fixed-width aggregation buffers: 1.50 s against the
  kernel's 0.27 s for the signature stage at sf0.1 on 4 cores (PERF.md
  "MinHash: one Arrow kernel per batch");
- LSH banding is the classic trick: the only join is an equi-join on
  (band_index, band_hash) — fan-out controlled by band width, never O(n²);
- candidate pairs are verified with exact shingle-set Jaccard or
  containment per pair: each pair joins its two texts, and the shingle
  sets are built and intersected as arrays in the row, so only candidate
  documents are shingled and no corpus-wide shingle table exists.

Cache contract: `eager()`/persist sites in this module (the banded tables
that feed both sides of the LSH and SimHash self-joins) are NOT
unpersisted before return — the returned DataFrames still read the cached
blocks. The verify stage caches nothing. Long sessions running many
queries are expected to `spark.catalog.clearCache()` after each query
materializes, which both the bench harness (bench.py) and the local
oracle gate (tests/oracle.py) do; see operators/graph.py for the same
documented contract.
"""

from __future__ import annotations

import sys
from hashlib import md5

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import cloudpickle
from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from ..functions.compute import eager, spread

# The MinHash kernel calls the module-level `rotated_minima` (module level
# for its unit test). Registered once here: UDFs pickle this module's
# functions by value, so Python workers never import this package (the
# `simhash` kernel gets the same by nesting its helpers).
cloudpickle.register_pickle_by_value(sys.modules[__name__])

# Word-shingle width for MinHash/Jaccard (3-word shingles).
SHINGLE_W = 3


def exact_dedup(df: DataFrame, text_col: str, tiebreak_col: str) -> DataFrame:
    """x1 — keep the first row (lowest tiebreak) per exact text; hash-groupBy
    on md5(text) so the shuffle key is fixed-width."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(tiebreak_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def shingle_array(words: str) -> Column:
    """The `SHINGLE_W`-word shingles of the split text in column `words`,
    in order: one `transform` lambda slices each out of the stored array.
    A text of fewer words is one shingle, its words joined: `concat_ws(' ',
    words)` is an exact roundtrip of the single-space split (empty words
    kept), so callers need not carry the text alongside its words.

    Callers project `words` once (`F.split(text, " ")`) and pass its name:
    Catalyst keeps that multiply-referenced non-cheap alias un-inlined, so
    the plan splits each text once, not once per shingle."""
    return F.when(
        F.size(words) < SHINGLE_W, F.array(F.concat_ws(" ", words))
    ).otherwise(
        F.expr(
            f"transform(sequence(0, size({words}) - {SHINGLE_W}), "
            f"i -> concat_ws(' ', slice({words}, i + 1, {SHINGLE_W})))"
        )
    )


def exploded_shingles(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, shingle) rows, one per shingle occurrence (`shingle_array`
    exploded): one split per doc, zero shuffles.

    Slicing the stored word array replaced a posexplode → Window `lead`
    stitching that shuffled every word row by id and sorted it just to see
    each word's two successors (sf0.1, best of 4: 0.95 s → 0.46 s for the
    explosion alone)."""
    w = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("_words"))
    return w.select(F.col(id_col), F.explode(shingle_array("_words")).alias("s"))


def rotated_minima(
    hi: np.ndarray, lo: np.ndarray, starts: np.ndarray, num_hashes: int
) -> np.ndarray:
    """Per group of rows, the minimum of each of `num_hashes` rotations of
    the 128-bit values ``hi * 2**64 + lo``: rotation j shifts left by 4j
    bits, which moves hex digit j of the value's 32-digit string to the
    front. A value's order is its high word's, ties broken by the low
    word, so the minimum is exact. Groups are the runs of rows beginning
    at each index in `starts` (ascending, none empty). Returns a
    (groups, num_hashes, 2) big-endian uint64 array whose bytes are the
    minima as 16-byte digests, in order."""
    group = np.repeat(np.arange(len(starts)), np.diff(starts, append=len(hi)))
    out = np.empty((len(starts), num_hashes, 2), ">u8")
    for j in range(num_hashes):
        h, l = (hi, lo) if 4 * j < 64 else (lo, hi)
        s = np.uint64(4 * j % 64)
        if s:
            r = np.uint64(64) - s
            h, l = (h << s) | (l >> r), (l << s) | (h >> r)
        top = np.minimum.reduceat(h, starts)
        out[:, j, 0] = top
        out[:, j, 1] = np.minimum.reduceat(
            np.where(h == top[group], l, np.uint64(2**64 - 1)), starts
        )
    return out


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    out_col: str = "sig",
) -> DataFrame:
    """x2 — MinHash signature per row with a non-null text: position j
    holds the minimum over the row's shingles of md5(shingle) as a 32-char
    hex string rotated left by j chars (j < 32). Hex strings compare as
    the 128-bit values they spell, so this is the order the DuckDB oracle
    takes with `min` over rotated md5 strings.

    `id_col` must be unique among rows with a non-null text: the oracle
    groups shingles by id, so a repeated id there gets one signature over
    the union of its texts, while here each row gets its own.

    One Arrow kernel per batch of documents, applied with `mapInArrow`
    after a round-robin `spread`: per row, so no exchange follows the
    spread at any scale, and no aggregate buffers a string. The kernel
    splits each text on a single space, builds the `SHINGLE_W`-word
    shingles (a text of fewer words is its own single shingle), md5-hashes
    each distinct shingle of the batch once, and takes each document's
    rotated minima in numpy (`rotated_minima`). See PERF.md ("MinHash:
    one Arrow kernel per batch") for the measured alternatives."""
    if not 0 < num_hashes <= 32:
        raise ValueError(f"num_hashes must be in 1..32, got {num_hashes}")
    schema = StructType(
        [
            StructField(id_col, df.schema[id_col].dataType),
            StructField(out_col, ArrayType(StringType())),
        ]
    )

    def kernel(batches):
        for batch in batches:
            batch = batch.filter(pc.is_valid(batch.column(1)))
            n = batch.num_rows
            if n == 0:
                continue
            words = pc.split_pattern(batch.column(1), " ")
            flat = pc.list_flatten(words)
            lens = pc.list_value_length(words).to_numpy()
            counts = np.maximum(lens - SHINGLE_W + 1, 1)
            starts = np.cumsum(counts) - counts
            # per shingle: its document, and the flat index of its first word
            doc = np.repeat(np.arange(n), counts)
            first = (np.cumsum(lens) - lens - starts)[doc] + np.arange(len(doc))
            # a text of fewer words is one shingle: its words joined, the
            # missing ones null and skipped (the text itself, never copied)
            width = np.minimum(lens, SHINGLE_W)[doc]
            shingles = pc.binary_join_element_wise(
                *[
                    flat.take(pa.array(first + i, mask=i >= width))
                    for i in range(SHINGLE_W)
                ],
                " ",
                null_handling="skip",
            )
            enc = pc.dictionary_encode(shingles)
            digests = b"".join(
                md5(s).digest() for s in enc.dictionary.cast(pa.binary()).to_pylist()
            )
            hi_lo = np.frombuffer(digests, ">u8").astype(np.uint64).reshape(-1, 2)
            hi_lo = hi_lo[enc.indices.to_numpy()]
            minima = rotated_minima(hi_lo[:, 0], hi_lo[:, 1], starts, num_hashes)
            n_hex = n * num_hashes
            sigs = pa.ListArray.from_arrays(
                np.arange(0, n_hex + 1, num_hashes, dtype=np.int32),
                pa.StringArray.from_buffers(
                    n_hex,
                    pa.py_buffer(np.arange(0, 32 * n_hex + 1, 32, dtype=np.int32)),
                    pa.py_buffer(minima.tobytes().hex().encode()),
                ),
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), sigs], names=[id_col, out_col]
            )

    return spread(df.select(id_col, text_col)).mapInArrow(kernel, schema)


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str,
    bands: int = 4,
    rows_per_band: int = 4,
    sig_col: str = "sig",
) -> DataFrame:
    """x2 — band the signatures and emit candidate pairs (id_a < id_b) that
    collide in at least one band. Equi-join on (band, band_hash) only.

    The banded side is persisted AND materialized (`eager`): it feeds both
    sides of the self-join, and with a lazy persist the two join inputs (and
    any downstream broadcast builds) race to compute the full signature
    pipeline concurrently — each doing the whole work."""
    band_hashes = F.expr(
        f"transform(sequence(0, {bands - 1}), "
        f"b -> md5(concat_ws('|', slice({sig_col}, b * {rows_per_band} + 1, {rows_per_band}))))"
    )
    banded = eager(
        sig_df.select(
            F.col(id_col), F.posexplode(band_hashes).alias("band", "band_hash")
        )
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def _pair_overlap(
    pairs: DataFrame, df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Shared verify core of `jaccard_verify` and `containment_verify`: per
    candidate pair (id_a, id_b), the size of the intersection of the two
    documents' distinct shingle sets and the two set sizes — (id_a, id_b,
    _inter, _na, _nb), all bigint.

    Each pair joins the non-null texts of `df` on id_a and on id_b; a pair
    naming an id with no such text is dropped. Each side's set is
    `array_distinct(shingle_array(...))` of its text split once, and the
    overlap is `size(array_intersect(...))` in the row, so the work is
    proportional to the candidates' text, never to the corpus, and runs
    in the JVM with no Python worker. A document in several pairs is
    shingled once per pair. `id_col` must be unique among rows with a
    non-null text: a repeated id joins each of its texts separately,
    where the oracle takes the union of their shingles. See PERF.md
    ("Verify per pair from its two texts") for the measured alternatives."""
    texts = df.where(F.col(text_col).isNotNull())
    a = texts.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("_ta"))
    b = texts.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("_tb"))
    sets = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.split("_ta", " ").alias("_wa"),
            F.split("_tb", " ").alias("_wb"),
        )
        .select(
            "id_a",
            "id_b",
            F.array_distinct(shingle_array("_wa")).alias("_sa"),
            F.array_distinct(shingle_array("_wb")).alias("_sb"),
        )
    )
    return sets.select(
        "id_a",
        "id_b",
        F.size(F.array_intersect("_sa", "_sb")).cast("bigint").alias("_inter"),
        F.size("_sa").cast("bigint").alias("_na"),
        F.size("_sb").cast("bigint").alias("_nb"),
    )


def jaccard_verify(
    pairs: DataFrame, df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """x2 — exact shingle-set Jaccard of each candidate pair (the verify
    stage after LSH; only candidates pay set costs): |A∩B| / (|A| + |B| −
    |A∩B|) over the pair's distinct shingle sets, rounded to 6 places. A
    pair with no common shingle scores 0. Per pair from its two texts
    (`_pair_overlap`)."""
    return _pair_overlap(pairs, df, id_col, text_col).select(
        "id_a",
        "id_b",
        F.round(
            F.col("_inter").cast("double")
            / (F.col("_na") + F.col("_nb") - F.col("_inter")),
            6,
        ).alias("jaccard"),
    )


def containment_verify(
    pairs: DataFrame, df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """x44 — exact shingle-set CONTAINMENT for candidate pairs, the
    asymmetric companion to `jaccard_verify`: containment_a = |A∩B|/|A|
    detects a short document embedded in a long one (quote, boilerplate
    wrapper, doc-in-doc), which symmetric Jaccard scores near zero when
    sizes differ. Pairs are classified on the ROUNDED scores (so any
    engine draws the same thresholds): both containments >= 0.9 →
    'duplicate'; one side → 'contained'; else 'overlap'.

    Same per-pair verify as `jaccard_verify` (`_pair_overlap`): only LSH
    candidates pay set costs."""
    ca = F.round(F.col("_inter").cast("double") / F.col("_na"), 6)
    cb = F.round(F.col("_inter").cast("double") / F.col("_nb"), 6)
    return (
        _pair_overlap(pairs, df, id_col, text_col)
        .select(
            "id_a",
            "id_b",
            F.col("_inter").cast("bigint").alias("n_common"),
            ca.alias("containment_a"),
            cb.alias("containment_b"),
            F.when((ca >= 0.9) & (cb >= 0.9), F.lit("duplicate"))
            .when((ca >= 0.9) | (cb >= 0.9), F.lit("contained"))
            .otherwise(F.lit("overlap"))
            .alias("relation"),
        )
    )


def dup_clusters(pairs: DataFrame, max_iter: int = 30) -> DataFrame:
    """x2 — connected components over near-dup candidate pairs: every doc in
    a duplicate cluster gets ``cluster_id`` = the minimum doc id reachable
    through candidate edges. This is the step between "pairs" and "keep one
    per cluster" — pairwise dedup alone breaks on A~B, B~C chains where A~C
    never collides.

    Two-phase large-star/small-star (Kiveris et al., "Connected Components
    in MapReduce and Beyond", SoCC'14), as DataFrame ops on an edge table:

    - **large-star**: every node links its strictly-LARGER neighbors to the
      minimum of its closed neighborhood;
    - **small-star**: every node links its smaller-or-equal neighbors (and
      itself) to its minimum neighbor.

    Alternating the two provably converges to per-component stars centered
    on the component minimum in O(log² n) rounds — in practice roughly half
    the rounds of min-label propagation + pointer jumping (the previous
    implementation here; VERDICT r4 item 2), because every round contracts
    the EDGE set itself rather than walking labels along it. State is
    O(edges), never O(corpus): singleton docs never enter the graph.

    Both operators keep edges in canonical (u > v) orientation, so each
    phase is one groupBy + one co-partitioned join + one distinct — three
    shuffles on fixed-width id pairs. Each round's edge set is
    `localCheckpoint`ed (lazily — the convergence aggregate is the action
    that materializes it): `persist` alone leaves the logical plan intact
    and the round-over-round self-reference builds an exponential plan tree
    that OOMs Catalyst analysis after ~10 rounds regardless of data size.
    (On a multi-executor cluster with unreliable nodes, swap for
    `sparkContext.setCheckpointDir` + `checkpoint()` — same contract,
    HDFS-backed.) Convergence (round 15): the loop stops at the FIRST
    round whose output is a star forest, instead of fingerprinting the
    edge set and re-running one full confirmation round to observe
    stability. A canonical (u > v) edge set is a star forest iff every
    `u` appears exactly once AND no `u` also appears as a `v`; a star
    forest is a fixed point of both operators (large-star: each leaf
    relinks to the center it already has; small-star: each center keeps
    its leaves), and the output join below this loop already RELIES on
    fixed points being exactly the min-centered star forests — so
    stopping here yields the IDENTICAL edge set one round (≈6 shuffles
    plus an agg job) earlier. The test is one groupBy job over the
    round's fixed-width edges, no driver-side edge list."""
    u, v, m = F.col("u"), F.col("v"), F.col("m")
    edges = (
        pairs.select(
            F.greatest("id_a", "id_b").alias("u"),
            F.least("id_a", "id_b").alias("v"),
        )
        .filter(u != v)
        .distinct()
        .localCheckpoint()
    )
    # All nodes that ever appear — the output contract covers every doc in
    # `pairs` even though star-contraction drops satisfied edges early.
    # Derived LAZILY from the already-checkpointed initial edge set: it is
    # only consumed by the final output join, so it costs no extra job here.
    nodes = (
        edges.select(u.alias("id"))
        .unionByName(edges.select(v.alias("id")))
        .distinct()
    )

    def large_star(e: DataFrame) -> DataFrame:
        # symmetric view: each undirected edge seen from both endpoints
        sym = e.select(u.alias("src"), v.alias("dst")).unionByName(
            e.select(v.alias("src"), u.alias("dst"))
        )
        mins = sym.groupBy("src").agg(
            F.least(F.col("src"), F.min("dst")).alias("m")
        )
        return (
            sym.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("u"), m.alias("v"))
            .filter(u != v)
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # canonical orientation already has u > v: node u's smaller
        # neighborhood IS its edge list
        mins = e.groupBy("u").agg(F.min("v").alias("m"))
        relink = (
            e.join(mins, "u")
            .select(v.alias("u"), m.alias("v"))
            .unionByName(mins.select(u, m.alias("v")))
            .filter(u != v)
            .distinct()
        )
        return relink

    converged = False
    for _ in range(max_iter):
        edges = small_star(large_star(edges)).localCheckpoint(eager=False)
        # Star-forest test (one scalar row; the action doubles as the
        # checkpoint materializer — one job per round): a violation is a
        # node appearing more than once as u, or as both u and v.
        roles = edges.select(
            u.alias("_node"), F.lit(1).alias("_nu"), F.lit(0).alias("_nv")
        ).unionByName(
            edges.select(
                v.alias("_node"), F.lit(0).alias("_nu"), F.lit(1).alias("_nv")
            )
        )
        violations = (
            roles.groupBy("_node")
            .agg(F.sum("_nu").alias("_cu"), F.max("_nv").alias("_anyv"))
            .filter(
                (F.col("_cu") > 1) | ((F.col("_cu") >= 1) & (F.col("_anyv") == 1))
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()[0]["n"]
        )
        if violations == 0:
            converged = True
            break
    if not converged:
        # The star-join below is only correct at the fixed point; a
        # non-star edge set would emit WRONG labels and duplicate doc
        # rows, silently corrupting downstream keep-one dedup. Chains
        # converge in ~2·log2(n) rounds (measured: 15 @ 10^4, 18 @ 10^5),
        # so 30 covers any realistic duplicate graph — fail loud, never
        # guess.
        raise RuntimeError(
            f"dup_clusters did not converge in {max_iter} rounds; "
            "raise max_iter for adversarially deep duplicate chains"
        )
    # At the fixed point every component is a star centered on its minimum:
    # non-root nodes appear exactly once as `u` with `v` = root; roots only
    # as `v`. Left join + coalesce folds roots back in as their own label.
    #
    # Round 16 measured-and-REJECTED: broadcasting the relabel map here
    # (exact row count piggybacked on the convergence aggregate, hinted
    # when provably tiny) read SLOWER at the 100c fixture in BOTH
    # interleave orders (on 27.4/28.8 vs off 25.4/25.9 best/median, and
    # 23.7/24.3 vs 21.7/23.2) and a wash at sf0.1 — the SMJ's probe-side
    # exchange is already shared with the `nodes` distinct, so the hint
    # only replaces one small star-side exchange with a driver
    # collect+broadcast build job. The planner-chosen join stands.
    return nodes.join(
        edges.select(u.alias("id"), v.alias("cluster_id")), "id", "left"
    ).select(
        F.col("id").alias("doc_id"),
        F.coalesce(F.col("cluster_id"), F.col("id")).alias("cluster_id"),
    )


def simhash_pairs(
    sh_df: DataFrame,
    id_col: str,
    sim_col: str = "simhash",
    bands: int = 4,
    max_hamming: int = 3,
    sub_bands: int = 4,
) -> DataFrame:
    """x2 — SimHash near-dup pairs (id_a < id_b, hamming) within
    `max_hamming` bit flips of the bigint fingerprints `simhash` emits.

    Candidates come from TWO-LEVEL banding: each `64 / bands`-bit band
    pairs with each of `sub_bands` equal slices of its complementary
    bits, and a pair is a candidate when it collides on one (band,
    sub-band) key. Pigeonhole at both levels: ≤3 diffs over 4 disjoint
    16-bit bands leave one band clean, and the complementary 48 bits
    then hold all ≤3 diffs, so one 12-bit sub-band is clean too — recall
    is exact for max_hamming ≤ min(bands, sub_bands) - 1, and the 28-bit
    effective key keeps candidates near n²/2^28 (Manku et al. 2007 use
    the same width and radius; raise bands/sub_bands at larger n). Keys
    are shift-and-mask integers (bit 0 = MSB, as in the fingerprint) and
    the distance is one bit_count(xor) — codegen'd integer ops only. The
    banded side is persisted and materialized: it feeds both sides of
    the self-join (see `eager`)."""
    nbits = 64
    width = nbits // bands
    cwidth = nbits - width
    swidth = cwidth // sub_bands
    fp = F.col(sim_col)

    def bits(v: Column, lo: int, n: int, total: int = nbits) -> Column:
        # bits [lo, lo + n) of a `total`-bit value, MSB first
        if n == 0:
            return F.lit(0).cast("bigint")
        return F.shiftrightunsigned(v, total - lo - n).bitwiseAND(
            F.lit((1 << n) - 1)
        )

    combos = []
    for b in range(bands):
        tail = nbits - (b + 1) * width
        comp = F.shiftleft(bits(fp, 0, b * width), tail).bitwiseOR(
            bits(fp, (b + 1) * width, tail)
        )
        for s in range(sub_bands):
            key = F.shiftleft(bits(fp, b * width, width), swidth).bitwiseOR(
                bits(comp, s * swidth, swidth, cwidth)
            )
            combos.append(
                F.struct(
                    F.lit(b * sub_bands + s).alias("band"), key.alias("bits")
                )
            )
    banded = eager(
        sh_df.select(
            F.col(id_col), fp, F.explode(F.array(*combos)).alias("k")
        ).select(F.col(id_col), fp, "k.band", "k.bits")
    )
    a = banded.select(
        F.col(id_col).alias("id_a"), fp.alias("_sa"), "band", "bits"
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), fp.alias("_sb"), "band", "bits"
    )
    ham = F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))).cast("bigint")
    return (
        a.join(b, ["band", "bits"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash(df: DataFrame, text_col: str, out_col: str = "simhash") -> DataFrame:
    """x2 — 64-bit SimHash fingerprint of each row's words as one signed
    bigint (bit 0 = MSB): bit b is set when a strict majority of the
    words have bit b in the first 8 bytes of md5(word) — the b-th MSB of
    md5's first 16 hex digits, the definition the DuckDB oracle spells
    out digit by digit. 64 bits is the published SimHash width (Manku et
    al. 2007) and what `simhash_pairs`' two-level banding needs; render
    the '0'/'1' string with `lpad(bin(fp), 64, '0')`.

    The fold runs in one Arrow-batched pandas UDF after a round-robin
    `spread`: per row, so no exchange follows the spread at any scale.
    Per batch, the kernel splits each text on a single space (as Spark's
    and DuckDB's split do), md5-hashes the UTF-8 bytes of each distinct
    word once, unpacks the first 8 digest bytes into bits and takes each
    document's strict majority per bit. Null text has no words and gives
    0; "" is one empty word; a tie gives 0. See PERF.md ("SimHash: one
    bigint per document") for the measured alternatives."""

    # Nested so that the UDF pickles by value: Python workers need not be
    # able to import this package.
    def kernel(texts: pd.Series) -> pd.Series:
        words = pc.split_pattern(pa.array(texts, pa.string()), " ")
        lens = pc.list_value_length(words).fill_null(0).to_numpy()
        enc = pc.dictionary_encode(pc.list_flatten(words))
        uniq = enc.dictionary.cast(pa.binary()).to_pylist()
        digests = b"".join(md5(w).digest()[:8] for w in uniq)
        word_bits = np.unpackbits(
            np.frombuffer(digests, np.uint8).reshape(-1, 8), axis=1
        )[enc.indices.to_numpy(zero_copy_only=False)]
        major = np.zeros((len(lens), 64), dtype=bool)
        has = lens > 0
        if has.any():
            starts = (np.cumsum(lens) - lens)[has]
            ones = np.add.reduceat(word_bits, starts, axis=0, dtype=np.int64)
            major[has] = 2 * ones > lens[has, None]
        fps = np.packbits(major, axis=1).view(">i8").ravel()
        return pd.Series(fps.astype(np.int64))

    return spread(df).withColumn(
        out_col, F.pandas_udf(kernel, "bigint")(F.col(text_col))
    )
