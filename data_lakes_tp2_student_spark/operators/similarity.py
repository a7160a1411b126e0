"""Vector similarity search (SURVEY.md §2 x3): brute-force cosine top-k as
the exact baseline, and a sign-LSH bucketed variant as the scale path.

Cosine is `cosine_batch`, an Arrow-vectorized pandas_udf: numpy columns,
looping over DIMENSIONS (64) while vectorizing over ROWS, which reproduces
the exact left-fold float64 addition order of the DuckDB oracle's list fold,
so scores are bit-identical to the oracle's.

Scale design: brute force is a broadcast of the (small) query set against the
corpus — linear scans parallelize perfectly but cost O(|corpus|·|queries|);
the LSH variant buckets both sides by deterministic random-hyperplane sign
bits and equi-joins on the bucket, pruning the candidate set before the
exact cosine — the standard ANN shape for billion-row corpora. IVF would
swap the bucketer for k-means cells; the join topology is identical.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import Window
from pyspark.sql.functions import pandas_udf

from ..functions.compute import spread


def _cosine_raw_fn(a: pd.Series, b: pd.Series) -> pd.Series:
    """Unrounded cosine per row, Arrow-batched.

    Sequential accumulation over dimension index (vectorized across the
    batch) = the exact IEEE-754 order of a left fold `acc + x_i*y_i` from
    0.0 — bit-identical to DuckDB's `list_sum(list_transform(...))`.
    float32 inputs are widened to float64 first (exact). Rounding stays
    OUTSIDE the UDF so engine-native `round` semantics keep matching the
    oracle."""
    import numpy as np

    if len(a) == 0:
        return pd.Series([], dtype="float64")

    def fold(u, v):  # per-row fallback, same left-fold order
        if len(u) != len(v):
            # a length mismatch is NULL (a `zip_with` fold pads with
            # null); truncating here would silently diverge
            return None
        d = na = nb = 0.0
        for x, y in zip(u, v):
            x, y = float(x), float(y)
            d, na, nb = d + x * y, na + x * x, nb + y * y
        return d / ((na**0.5) * (nb**0.5))

    try:
        A = np.stack(a.to_numpy()).astype(np.float64)
        B = np.stack(b.to_numpy()).astype(np.float64)
    except ValueError:  # ragged batch (mixed dims) — row-at-a-time
        return pd.Series([fold(u, v) for u, v in zip(a, b)], dtype=object)
    if A.shape[1] != B.shape[1]:
        # uniform but mismatched dims: NULL per row (B[:, i] would raise
        # IndexError mid-task)
        return pd.Series([None] * A.shape[0], dtype=object)
    n = A.shape[0]
    dot, na, nb = np.zeros(n), np.zeros(n), np.zeros(n)
    for i in range(A.shape[1]):
        x, y = A[:, i], B[:, i]
        dot = dot + x * y
        na = na + x * x
        nb = nb + y * y
    return pd.Series(dot / (np.sqrt(na) * np.sqrt(nb)))


_cosine_raw = None  # built lazily: pandas_udf needs an active SparkSession


def cosine_batch(a: str | Column, b: str | Column, decimals: int = 7) -> Column:
    """Cosine similarity between two float-array columns, computed in
    double by one Arrow-batched left fold per row, rounded to
    ``decimals`` by the engine."""
    global _cosine_raw
    if _cosine_raw is None:
        _cosine_raw = pandas_udf(_cosine_raw_fn, "double")
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.round(_cosine_raw(a, b), decimals)


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
) -> DataFrame:
    """x3 — exact top-k neighbors per query by cosine. The query side is
    broadcast; ranking is a per-query window (partitions = |queries|)."""
    q = queries.select(
        F.col(id_col).alias(query_id_col), F.col(vec_col).alias("_qvec")
    )
    scored = (
        spread(corpus)  # cosine folds run interpreted; parallelize the scan
        .crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            cosine_batch(vec_col, "_qvec").alias("cos_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cos_sim"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def hyperplane_coefficients(
    planes: int, dim: int, table: int = 0
) -> list[list[float]]:
    """Deterministic ±1 random-hyperplane matrix seeded by md5(plane,dim) —
    reproducible in any engine/language (the oracle embeds the same
    literals). ``table`` salts the seed so multi-table LSH gets independent
    hash families (table 0 keeps the original seeds)."""
    out = []
    for p in range(planes):
        row = []
        for d in range(dim):
            key = f"{p},{d}" if table == 0 else f"t{table}:{p},{d}"
            h = hashlib.md5(key.encode()).hexdigest()
            row.append(1.0 if int(h[0], 16) % 2 == 1 else -1.0)
        out.append(row)
    return out


def lsh_buckets_batch(
    vec_col: str, per_table: list[list[list[float]]]
) -> Column:
    """All tables' sign-LSH buckets in ONE Arrow-batched pass: returns an
    ``array<string>`` of bucket ids (index = table).

    Every projection accumulates in the sequential-over-dimensions float64
    left-fold order (vectorized across rows and planes), the `cosine_batch`
    trick — bit-identical signs to the DuckDB oracle's per-plane list fold,
    so a bucket can never flip. Coefficients are exact ±1.0."""
    import numpy as np

    flat = [row for coefs in per_table for row in coefs]
    ppt = len(per_table[0])
    ntab = len(per_table)
    C = np.array(flat, dtype=np.float64)  # (P, dim)

    def fold_row(u) -> list[str]:
        bits = []
        for row in flat:
            if len(u) != len(row):
                # a length mismatch is a null projection (a `zip_with`
                # fold pads with null) -> CASE WHEN null fails -> bit '0';
                # truncating the fold would bucket the vector differently
                bits.append(False)
                continue
            acc = 0.0
            for x, c in zip(u, row):
                acc = acc + float(x) * c
            bits.append(acc >= 0)
        return [
            "".join("1" if bits[t * ppt + j] else "0" for j in range(ppt))
            for t in range(ntab)
        ]

    @pandas_udf("array<string>")
    def _buckets(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        try:
            A = np.stack(v.to_numpy()).astype(np.float64)
        except ValueError:  # ragged batch — per-row left fold, same order
            return pd.Series([fold_row(u) for u in v])
        if A.shape[1] != C.shape[1]:
            return pd.Series([fold_row(u) for u in v])
        n = A.shape[0]
        acc = np.zeros((n, C.shape[0]))
        for i in range(C.shape[1]):  # sequential over dims = left fold
            acc = acc + A[:, i : i + 1] * C[None, :, i]
        bits = acc >= 0
        return pd.Series(
            [
                [
                    "".join(
                        "1" if bits[r, t * ppt + j] else "0"
                        for j in range(ppt)
                    )
                    for t in range(ntab)
                ]
                for r in range(n)
            ]
        )

    return _buckets(vec_col)


def ivf_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
) -> DataFrame:
    """Deterministic IVF centroids: the corpus vectors with `id < n_cells`.
    A k-means iteration would refine their positions, but the cell-assignment
    topology (the part that matters for the join shape) is identical, and
    determinism keeps the DuckDB oracle exact."""
    return corpus.filter(F.col(id_col) < n_cells).select(
        F.col(id_col).alias("_centroid"), F.col(vec_col).alias("_cvec")
    )


def ivf_cells(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
    out_col: str = "_cell",
) -> DataFrame:
    """Assign each vector to its `nprobe` nearest cells (by cosine to the
    centroid, deterministic tie-break on centroid id). Centroids are always
    broadcast — they are bounded by n_cells. One row per (vector, cell).
    `id_col` must be UNIQUE in `df`: the winners join back by id below, so
    a duplicated id would cross-multiply rows (the pre-r15 window form
    emitted exactly nprobe rows per INPUT row instead). Every caller in
    this package feeds vec_id-keyed frames, which are unique by schema.

    Round-15 shape (guide §2.3 "shuffle keys and metadata instead of
    payloads"): the rank-per-vector window used to run over the full
    crossJoin output — n_cells copies of EVERY df row, each carrying the
    embedding (and the rest of df's columns) through the window's exchange
    + sort just to pick the top cells of a (id, centroid, sim) triple.
    Now the window ranks only the narrow sims table and the winning
    (id, cell) rows are joined back to df — the payload crosses one join
    exchange once instead of riding the window n_cells times. Same window,
    same values, same tie-break ⇒ identical assignment; measured at sf0.1
    (2000×32 corpus assignment, same-session best-of-4): 1.73 s → 1.10 s.

    A further rewrite — ONE Arrow pass computing all n_cells sims per
    vector (matrix fold, bit-exact) + an argmax expression, removing the
    n_cells× embedding duplication through the Python boundary entirely —
    was measured-REJECTED end-to-end: x3c 2.3-2.5 s (this form) vs
    3.4-3.8 s (matrix form, same clean session) — the two bounded
    `centroids.collect()` jobs and per-call pandas_udf construction cost
    more than the duplicated Arrow transfer at this scale. Revisit only if
    the boundary bytes ever dominate (guide §4.1)."""
    w = Window.partitionBy(id_col).orderBy(
        F.desc("_cent_sim"), F.col("_centroid")
    )
    winners = (
        spread(df.select(id_col, vec_col))
        .crossJoin(F.broadcast(centroids))
        .withColumn("_cent_sim", cosine_batch(vec_col, "_cvec"))
        .select(id_col, "_centroid", "_cent_sim")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= nprobe)
        .select(id_col, F.col("_centroid").alias(out_col))
    )
    return df.join(winners, id_col).select(*df.columns, out_col)


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    n_cells: int = 32,
    nprobe: int = 4,
) -> DataFrame:
    """x3 scale path (IVF): corpus vectors live in their single nearest cell;
    a query probes its `nprobe` nearest cells and scores exact cosine only
    against those cells' members. The only join is an equi-join on the cell
    id — candidate cost ∝ corpus/n_cells × nprobe per query, never O(n²).
    At billion-row scale the assignment pass is one broadcast-scored scan and
    the cell table is written bucketed by cell. Each corpus vector lives in
    exactly one cell and a query's probed cells are distinct, so no
    (query, neighbor) pair can appear twice — no dedup stage needed.

    Defaults are the MEASURED dominating operating point (round-14 flip,
    VERDICT r13 item 2): on the sf0.01 corpus, 32 cells / nprobe 4 reaches
    recall@10 ≈ 0.805 at candidate fraction ≈ 0.122 — the SAME fraction the
    old 16 / 2 default paid for recall 0.730 (PERF.md #68's curve), so the
    extra recall is free shuffle-wise. nprobe/n_cells stays 1/8 either way;
    doubling the cell count halves each cell's population, canceling the
    doubled probe count."""
    cent = ivf_centroids(corpus, id_col, vec_col, n_cells)
    assigned = ivf_cells(corpus, cent, id_col, vec_col, nprobe=1)
    probes = ivf_cells(queries, cent, id_col, vec_col, nprobe=nprobe).select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("_qvec"),
        "_cell",
    )
    scored = (
        assigned.join(F.broadcast(probes), "_cell")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            cosine_batch(vec_col, "_qvec").alias("cos_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cos_sim"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def knn_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    planes: int = 6,
    dim: int = 64,
    tables: int = 1,
) -> DataFrame:
    """x3 scale path — approximate top-k: candidates share a sign-LSH
    bucket in ANY of `tables` independent hash tables (equi-join per table,
    union, pair-dedup), exact cosine only on the candidates.

    Recall scales as 1-(1-p^planes)^tables, so multiple short tables beat
    one long code — a single 6-bit table measured recall@10 ≈ 0.03 on the
    driver's near-isotropic synthetic embeddings; 4×4-bit tables ≈ 0.4,
    8×4-bit ≈ 0.65, and the 16×4-bit x3b default ≈ 0.90
    (tests/test_ann_quality.py gates ≥ 0.8).
    The candidate join stays an equi-join on (table, bucket) — the shuffle
    key at scale.

    Two hot-path choices (r5, measured): all tables' buckets come from ONE
    Arrow-batched numpy pass (`lsh_buckets_batch` — bit-identical signs to
    the oracle's fold, see its docstring) instead of tables×planes
    interpreted HOF folds; and the exact cosine is computed BEFORE the
    per-pair dedup, so the dedup shuffle carries (query, neighbor, score)
    scalars instead of two 64-dim vectors per row — a table-colliding pair
    is scored once per collision, but `cosine_batch` is cheap and the
    score is identical, so `dropDuplicates` keeps an arbitrary one."""
    per_table = [
        hyperplane_coefficients(planes, dim, table=t) for t in range(tables)
    ]
    c = spread(corpus).select(
        "*",
        F.posexplode(lsh_buckets_batch(vec_col, per_table)).alias(
            "_table", "_bucket"
        ),
    )
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("_qvec"),
        F.posexplode(lsh_buckets_batch(vec_col, per_table)).alias(
            "_table", "_bucket"
        ),
    )
    scored = (
        c.join(F.broadcast(q), ["_table", "_bucket"])
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            cosine_batch(vec_col, "_qvec").alias("cos_sim"),
        )
        .dropDuplicates([query_id_col, "neighbor_id"])
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cos_sim"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def top_sets(df: DataFrame) -> dict:
    """(query_id → set of neighbor_ids) from a kNN result frame — the
    shared shape `mean_recall` consumes. Lives here (not in the tests)
    so the gate in tests/test_ann_quality.py and the operating-point
    script scripts/ann_operating_points.py measure the SAME quantity
    (round-13 review: two drifting copies of the recall definition
    would let the booked curve and the gated threshold diverge)."""
    out: dict = {}
    for r in df.collect():
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def mean_recall(truth: dict, approx: dict) -> float:
    """Mean per-query recall of `approx` against exact `truth`
    (both `top_sets` shapes)."""
    return sum(
        len(truth[q] & approx.get(q, set())) / len(truth[q]) for q in truth
    ) / len(truth)


def ann_candidate_pairs(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    planes: int = 6,
    dim: int = 64,
    tables: int = 1,
) -> DataFrame:
    """The DISTINCT (query, neighbor) candidate pairs `knn_lsh` at the same
    (planes, tables) would score — the SELECTIVITY instrument (VERDICT r12
    item 2): recall alone can hide an ANN that "finds" its neighbors by
    scoring most of the corpus per query (each extra table unions another
    ~1/2^planes of the corpus into the candidate set). Callers divide
    count() by (|corpus|·|queries|) for the candidate fraction; the gate in
    tests/test_ann_quality.py pins the default operating point's fraction
    alongside its recall so a recall "win" bought purely with shuffle
    volume fails loudly. Shares `lsh_buckets_batch` with knn_lsh —
    bit-identical buckets, so the pair set IS the scored set.

    Named `ann_candidate_pairs` (round 14, VERDICT r13 item 3): this is a
    vector-ANN measurement INSTRUMENT, distinct from the text-dedup QUERY
    operator `operators.dedup.lsh_candidate_pairs` (MinHash band-bucket
    pairs) which shares neither semantics nor signature."""
    per_table = [
        hyperplane_coefficients(planes, dim, table=t) for t in range(tables)
    ]
    c = corpus.select(
        F.col(id_col),
        F.posexplode(lsh_buckets_batch(vec_col, per_table)).alias(
            "_table", "_bucket"
        ),
    )
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.posexplode(lsh_buckets_batch(vec_col, per_table)).alias(
            "_table", "_bucket"
        ),
    )
    return (
        c.join(F.broadcast(q), ["_table", "_bucket"])
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, F.col(id_col).alias("neighbor_id"))
        .distinct()
    )


def ivf_candidate_pairs(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_cells: int = 32,
    nprobe: int = 4,
) -> DataFrame:
    """IVF analog of `ann_candidate_pairs`: the distinct pairs scored by
    `knn_ivf` at the same (n_cells, nprobe) — expected fraction ≈
    nprobe / n_cells on balanced cells, the number the 100-TB sizing
    math uses."""
    cent = ivf_centroids(corpus, id_col, vec_col, n_cells)
    assigned = ivf_cells(corpus, cent, id_col, vec_col, nprobe=1)
    probes = ivf_cells(queries, cent, id_col, vec_col, nprobe=nprobe).select(
        F.col(id_col).alias(query_id_col), "_cell"
    )
    return (
        assigned.join(F.broadcast(probes), "_cell")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, F.col(id_col).alias("neighbor_id"))
        .distinct()
    )


def semdedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    threshold: float = 0.35,
) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023): cluster the
    embedding space into cells, then drop every vector whose cosine to a
    LOWER-ID vector in the same cell meets `threshold`. The kept set is the
    deterministic greedy representative per semantic-duplicate neighborhood
    (lowest id wins — the paper keeps one arbitrary member per ε-ball; the
    id-order greedy makes the choice reproducible and SQL-oracle-able).

    Scale shape: the clustering step bounds the quadratic term — pair
    generation is an equi-join on the cell id, so the candidate count is
    sum over cells of |cell|^2 / 2, never corpus^2. At 100 TB the cell
    table is written bucketed by cell id (shuffle-free self-join) and a
    pathologically hot cell is re-split by a second-level clustering on
    its members (same operator, recursively); the duplicate-id set is a
    broadcast-able fraction of the corpus at realistic thresholds.

    Output: one row per corpus vector — (id, cell, is_kept).

    The reference has no semantic layer at all (pandas ETL over protein
    strings); this is Layer-B extension surface for training-data curation
    (SURVEY.md §2 X).
    """
    from ..functions.compute import eager

    cent = ivf_centroids(corpus, id_col, vec_col, n_cells)
    # eager(): the assignment subtree (crossJoin + pandas-UDF cosine +
    # window) anchors BOTH sides of the self-join and the final output
    # join — unpersisted it recomputes up to three times, the cache
    # stampede functions/compute.eager documents (review r6)
    assigned = eager(
        ivf_cells(corpus, cent, id_col, vec_col, nprobe=1).select(
            id_col, vec_col, "_cell"
        )
    )
    a = assigned.select(
        F.col(id_col).alias("_ida"), F.col(vec_col).alias("_va"), "_cell"
    )
    b = assigned.select(
        F.col(id_col).alias("_idb"), F.col(vec_col).alias("_vb"), "_cell"
    )
    dups = (
        a.join(b, "_cell")
        .filter(F.col("_ida") < F.col("_idb"))
        .filter(cosine_batch("_va", "_vb") >= threshold)
        .select(F.col("_idb").alias(id_col))
        .distinct()
    )
    return assigned.join(
        dups.withColumn("_dup", F.lit(True)), id_col, "left"
    ).select(
        id_col,
        F.col("_cell").alias("cell"),
        F.col("_dup").isNull().alias("is_kept"),  # kept = not in the dup set
    )
