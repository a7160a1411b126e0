"""Catalog layout rules, checked without a Spark session: the registered id
set, one module per SURVEY.md §2 operator group with no cross-module private
imports, and the shared scratch-dir helper."""

from __future__ import annotations

import ast
import hashlib
import os
from pathlib import Path

from data_lakes_tp2_student_spark import registry
from data_lakes_tp2_student_spark.catalog import REGISTRY

CATALOG = Path(registry.__file__).parent / "catalog"
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


def test_scratch_dir_is_stable_per_fixture_and_cleared(tmp_path, monkeypatch):
    monkeypatch.setattr(registry, "_SCRATCH", str(tmp_path))
    first = registry.scratch_dir("snapshots", "x65", "/data/sf0.01")
    digest = hashlib.md5(b"/data/sf0.01").hexdigest()[:12]
    assert first == os.path.join(str(tmp_path), "snapshots", f"x65_{digest}")
    os.makedirs(first)
    Path(first, "leftover.parquet").write_bytes(b"stale")

    again = registry.scratch_dir("snapshots", "x65", "/data/sf0.01")
    assert again == first
    assert not os.path.exists(again) or os.listdir(again) == []

    other = registry.scratch_dir("snapshots", "x65", "/data/sf0.1")
    assert other != first


def test_scratch_dir_keeps_contents_when_not_clearing(tmp_path, monkeypatch):
    monkeypatch.setattr(registry, "_SCRATCH", str(tmp_path))
    path = registry.scratch_dir("ingest", "a2_nation", clear=False)
    assert path == os.path.join(str(tmp_path), "ingest", "a2_nation")
    os.makedirs(path)
    Path(path, "part-0.csv").write_text("0,ALGERIA,0\n")
    assert registry.scratch_dir("ingest", "a2_nation", clear=False) == path
    assert os.listdir(path) == ["part-0.csv"]
