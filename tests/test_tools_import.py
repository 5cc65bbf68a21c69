"""Every script under tools/ must import cleanly on its own, by file path
and without starting Spark: nothing else imports some of them, so a
deleted or renamed module they depend on would otherwise go unnoticed
until someone next runs the tool."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest
from pyspark import SparkContext

TOOLS = sorted((Path(__file__).resolve().parent.parent / "tools").glob("*.py"))


def test_tools_found():
    assert TOOLS


@pytest.mark.parametrize("path", TOOLS, ids=lambda p: p.name)
def test_tool_imports_without_spark(path):
    before = SparkContext._active_spark_context
    spec = importlib.util.spec_from_file_location(f"_tool_{path.stem}", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert SparkContext._active_spark_context is before, (
        f"importing {path.name} started a Spark context"
    )
