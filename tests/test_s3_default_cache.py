"""The default local cache of `S3LogStore` belongs to the process that
made it: removed at exit, while a `cache_dir` the caller passes stays."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import data_lakes_tp2_student_spark

REPO = str(Path(data_lakes_tp2_student_spark.__file__).parent.parent)

_CACHE_USER = """
import os, sys
from data_lakes_tp2_student_spark.io.logstore import S3LogStore

a = S3LogStore("bucket", "table", client=object())
b = a.clone()
kept = S3LogStore("bucket", "table", client=object(), cache_dir=sys.argv[1])
for store in (a, b, kept):
    os.makedirs(os.path.join(store.cache_root, "data"), exist_ok=True)
    assert os.path.isdir(store.cache_root)
print(a.cache_root)
print(b.cache_root)
"""


def test_default_cache_is_removed_at_exit_and_a_passed_one_is_kept(tmp_path):
    kept = tmp_path / "kept"
    out = subprocess.run(
        [sys.executable, "-c", _CACHE_USER, str(kept)],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=60,
        check=True,
    ).stdout.split()
    assert len(out) == 2 and out[0] != out[1]
    roots = {os.path.dirname(p) for p in out}
    assert len(roots) == 1  # one per-process root holds every default cache
    for path in out + list(roots):
        assert not os.path.exists(path), path
    assert (kept / "data").is_dir()
