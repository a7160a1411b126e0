"""Per-process scratch roots: the one place that decides how long scratch
space lives. A root belongs to the process that made it; it is made on
first use and removed, with everything under it, at interpreter exit."""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

_roots: dict[tuple[str | None, str], str] = {}


def process_root(parent: str | None, prefix: str) -> str:
    """This process's root for ``(parent, prefix)``: a ``mkdtemp`` under
    ``parent`` (the system temp dir if ``None``), the same path on every
    call, removed at exit. No other process, concurrent or earlier, shares
    it."""
    key = (parent, prefix)
    root = _roots.get(key)
    if root is None:
        if parent is not None:
            os.makedirs(parent, exist_ok=True)
        root = _roots[key] = tempfile.mkdtemp(prefix=prefix, dir=parent)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root
