"""Deterministic inputs for the benchmark.

`write_tables` writes the ten relational, event and corpus tables the
registry queries read (one parquet file per table, the flat layout
`registry.load` expects) at scale factor 0.1: 600k lineitem rows, 100k
events, 5k documents, 2k embeddings. Shapes follow FIXTURES.md §2-4:
uniform keys and categories, day-granular dates stored as naive
microsecond timestamps, 30-word documents with 250 near-duplicates
(`<text> dup`) and 8 exact duplicates, unit-norm 64-d float embeddings.

`write_pfam_shards` writes the pipeline's input (FIXTURES.md §1):
headerless CSV shards under train/ test/ dev/, class sizes 1, 2, 3 and
larger, about 1% empty fields, lognormal sequence lengths (median near
119, a tail to 4000).

Both are pure functions of their seed; the benchmark fixes the table
seed so the query oracles stay fixed, and derives the pipeline shards
from the workload seed.
"""

from __future__ import annotations

import csv
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.1
AA = np.array(list("ACDEFGHIKLMNPQRSTVWY"))
WORDS = np.array(
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window".split()
)
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)


def _days(rng, n, lo_day, hi_day):
    """Naive midnight timestamps uniform over [lo_day, hi_day] days after 1995-01-01."""
    d = rng.integers(lo_day, hi_day + 1, n)
    return pa.array(_EPOCH_1995 + d * _DAY_US, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir, name, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, seed: int = 42) -> None:
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
    n_ord, n_li = int(1_500_000 * SF), int(6_000_000 * SF)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    colors = np.array(["blue", "cold", "hot", "large", "new"])
    nouns = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part)
    p_name = np.char.add(
        np.char.add(colors[rng.integers(0, 5, n_part)], " "),
        nouns[rng.integers(0, 8, n_part)],
    )
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": p_name,
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, 0, 2404),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_ord)],
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, 1, 2499),
    })

    n_ev = int(1_000_000 * SF)
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * _DAY_US, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)
        ],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    n_doc = int(50_000 * SF)
    texts = [
        " ".join(WORDS[rng.integers(0, len(WORDS), rng.integers(10, 101))])
        for _ in range(n_doc)
    ]
    for i in range(11, n_doc, n_doc // 250):  # near-duplicates of an earlier doc
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for _ in range(8):  # exact duplicates
        a, b = sorted(rng.choice(n_doc, 2, replace=False))
        texts[b] = texts[a]
    langs = np.array(["en"] * 11 + ["de", "es", "fr", "zh"] * 4)
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    n_vec, dim = int(20_000 * SF), 64
    v = rng.standard_normal((n_vec, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    })


def write_pfam_shards(root: str, seed: int, n_rows: int = 20_000) -> None:
    """Pfam-shaped headerless CSV under root/{train,test,dev}. The class
    sizes are the same for every seed, so the pipeline's work does not
    depend on it; the seed draws the sequences, their lengths, the empty
    fields and the shard split."""
    # classes of size 1, 2 and 3 (every split branch) plus a long tail of
    # larger classes drawn from a Zipf-like law
    tail = np.random.default_rng(0)
    sizes = [1, 1, 2, 2, 3, 3]
    while sum(sizes) < n_rows:
        sizes.append(int(min(n_rows - sum(sizes), 4 + tail.zipf(1.6))))
    rng = np.random.default_rng(seed)
    rows = []
    for c, n in enumerate(sizes):
        acc, fam = f"PF{c:05d}.{1 + c % 9}", f"Fam_{c:05d}"
        lens = np.clip(rng.lognormal(np.log(119), 0.6, n).astype(int), 8, 4000)
        for i, ln in enumerate(lens):
            seq = "".join(AA[rng.integers(0, 20, ln)])
            rows.append([seq, acc, f"{fam}_{i}/1-{ln}", seq.replace("A", "."), fam])
    for i in rng.choice(len(rows), len(rows) // 100, replace=False):
        rows[i][int(rng.integers(0, 5))] = ""
    order = rng.permutation(len(rows))
    rows = [rows[i] for i in order]
    cut_a, cut_b = int(len(rows) * 0.8), int(len(rows) * 0.9)
    for sub, part in (("train", rows[:cut_a]), ("dev", rows[cut_a:cut_b]), ("test", rows[cut_b:])):
        d = os.path.join(root, sub)
        os.makedirs(d, exist_ok=True)
        for k in range(4):
            with open(os.path.join(d, f"data-{k:05d}"), "w", newline="") as f:
                csv.writer(f).writerows(part[k::4])
