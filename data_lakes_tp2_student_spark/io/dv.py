"""Deletion-vector codec: the pyarrow side of the DV format.

A deletion vector (DV) is a parquet file of `(file string, pos int64)`
rows: row `pos` (0-based, in file order) of the data file whose
manifest-relative path is `file` is deleted. A manifest file entry lists
the DVs that apply to it under `dv`. One DV may hold rows for several
files, and a file counts only rows from the DVs it references: a file
re-pointed at a merged DV may still appear in an older DV that another
file keeps referencing, and those rows no longer apply to it.

Spark applies DVs as a broadcast anti-join on (file, pos)
(`ManifestTable._load_snapshot`), which yields the same rows. Every
reader and writer of DVs outside Spark goes through this module.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def dead_positions(refs: dict[str, list[str]]) -> dict[str, np.ndarray]:
    """`{file: [local DV paths the file references]}` → `{file: sorted
    distinct int64 positions}`, one entry per key of `refs` (empty for a
    file with no DV). Each distinct DV path is read once."""
    readers: dict[str, set[str]] = {}
    for f, paths in refs.items():
        for p in paths:
            readers.setdefault(p, set()).add(f)
    found: dict[str, list[np.ndarray]] = {f: [] for f in refs}
    for p, files in readers.items():
        t = pq.read_table(p, columns=["file", "pos"])
        col = t["file"].combine_chunks().dictionary_encode()
        idx = col.indices.to_numpy(zero_copy_only=False)
        pos = t["pos"].to_numpy().astype(np.int64, copy=False)
        order = np.argsort(idx, kind="stable")
        counts = np.bincount(idx, minlength=len(col.dictionary))
        groups = np.split(pos[order], np.cumsum(counts)[:-1])
        for name, group in zip(col.dictionary.to_pylist(), groups):
            if name in files:
                found[name].append(group)
    return {
        f: np.unique(np.concatenate(g)) if g else np.empty(0, np.int64)
        for f, g in found.items()
    }


def drop_dead(table: pa.Table, positions: np.ndarray) -> pa.Table:
    """`table` without the rows at `positions`."""
    if not len(positions):
        return table
    keep = np.ones(len(table), dtype=bool)
    keep[positions] = False
    return table.filter(pa.array(keep))


def write_positions(path: str, dead: dict[str, np.ndarray]) -> None:
    """Write `{file: sorted positions}` as one DV parquet, sorted by
    (file, pos)."""
    files = sorted(dead)
    pq.write_table(
        pa.table(
            {
                "file": pa.array(
                    [f for f in files for _ in range(len(dead[f]))],
                    pa.string(),
                ),
                "pos": pa.array(
                    np.concatenate([dead[f] for f in files])
                    if files
                    else np.empty(0, np.int64),
                    pa.int64(),
                ),
            }
        ),
        path,
    )
