"""Catalog layout rules, checked without a Spark session: the registered id
set, one module per SURVEY.md §2 operator group with no cross-module private
imports, and the per-process scratch root behind the shared scratch-dir
helper."""

from __future__ import annotations

import ast
import os
import subprocess
import sys
from pathlib import Path

from data_lakes_tp2_student_spark import registry
from data_lakes_tp2_student_spark.catalog import REGISTRY

CATALOG = Path(registry.__file__).parent / "catalog"
REPO = str(Path(registry.__file__).parent.parent)
MODULES = sorted(p for p in CATALOG.glob("*.py") if p.name != "__init__.py")


def test_registry_holds_all_210_queries():
    assert len(REGISTRY) == 210
    assert all(q.name == name for name, q in REGISTRY.items())


def test_no_catalog_module_imports_a_private_name_from_a_sibling():
    offenders = []
    for path in MODULES:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ImportFrom) and node.level == 1:
                offenders += [
                    f"{path.name}: {a.name}"
                    for a in node.names
                    if a.name.startswith("_")
                ]
    assert offenders == []


def test_catalog_modules_are_named_by_group_not_round():
    assert 0 < len(MODULES) <= 12
    assert [p.stem for p in MODULES if p.stem[-1].isdigit()] == []
    for path in MODULES:
        assert ast.get_docstring(ast.parse(path.read_text())), path.name


def test_scratch_dir_second_call_returns_an_emptied_dir():
    first = registry.scratch_dir("snapshots", "x65")
    os.makedirs(first)
    Path(first, "leftover.parquet").write_bytes(b"stale")

    again = registry.scratch_dir("snapshots", "x65")
    assert again == first
    assert not os.path.exists(again)


# One process that asks for a2's scratch dir, writes a file into it, prints
# the path and exits once its stdin closes, so a caller can hold two alive.
_SCRATCH_USER = """
import os, sys
from data_lakes_tp2_student_spark import registry
path = registry.scratch_dir("ingest", "a2_nation")
os.makedirs(path)
with open(os.path.join(path, "part-0.csv"), "w") as fh:
    fh.write("0,ALGERIA,0\\n")
print(path, flush=True)
sys.stdin.read()
"""


def _start_scratch_user() -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, "-c", _SCRATCH_USER],
        cwd=REPO,
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        text=True,
    )


def _finish(proc: subprocess.Popen) -> None:
    proc.stdin.close()
    assert proc.wait(timeout=60) == 0


def _assert_nothing_left(paths: list[str]) -> None:
    scratch = os.path.join(REPO, ".tmp")
    for path in paths:
        assert path.startswith(scratch + os.sep), path
        root = os.path.join(scratch, os.path.relpath(path, scratch).split(os.sep)[0])
        assert not os.path.exists(root), root


def test_sequential_processes_get_disjoint_scratch_and_leave_none():
    paths = []
    for _ in range(2):
        proc = _start_scratch_user()
        paths.append(proc.stdout.readline().strip())
        _finish(proc)
    assert paths[0] != paths[1]
    _assert_nothing_left(paths)


def test_concurrent_processes_get_disjoint_scratch_and_leave_none():
    procs = [_start_scratch_user() for _ in range(2)]
    try:
        paths = [proc.stdout.readline().strip() for proc in procs]
        # both alive here: each still holds its own file
        assert paths[0] != paths[1]
        for path in paths:
            assert os.listdir(path) == ["part-0.csv"]
    finally:
        for proc in procs:
            _finish(proc)
    _assert_nothing_left(paths)
