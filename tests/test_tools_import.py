"""Every script under tools/ imports cleanly: a tool that still names a
deleted library function fails here instead of at its next manual run.
Each tool guards its work behind ``__main__``, so importing runs
nothing."""

from __future__ import annotations

import importlib
from pathlib import Path

import pytest

TOOLS = sorted(
    p.stem for p in (Path(__file__).resolve().parent.parent / "tools").glob("*.py")
)


def test_tools_found():
    assert "diffcheck" in TOOLS


@pytest.mark.parametrize("name", TOOLS)
def test_tool_imports(name):
    importlib.import_module(f"tools.{name}")
