"""Every script under ``tools/`` still imports against the package.

The tools import private package APIs at module level, so a rename or
deletion in ``gomaxscale_spark`` breaks them silently until someone runs
one. Each tool keeps its Spark work behind a ``__name__`` guard, so an
import starts no session and this check costs about a second.
"""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

TOOLS = sorted((Path(__file__).resolve().parent.parent / "tools").glob("*.py"))


def test_every_tool_imports():
    assert TOOLS, "tools/ must hold scripts"
    saved_path = list(sys.path)
    failures = {}
    try:
        for path in TOOLS:
            spec = importlib.util.spec_from_file_location(f"_tool_{path.stem}", path)
            module = importlib.util.module_from_spec(spec)
            try:
                spec.loader.exec_module(module)
            except Exception as e:  # report every broken tool at once
                failures[path.name] = f"{type(e).__name__}: {e}"
    finally:
        sys.path[:] = saved_path
    assert not failures, failures
