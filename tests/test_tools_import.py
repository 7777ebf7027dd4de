"""Every tools/*.py imports cleanly, so a tool that still names a
deleted helper fails here rather than at its next manual run."""

from __future__ import annotations

import glob
import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = sorted(glob.glob(os.path.join(REPO, "tools", "*.py")))


@pytest.mark.parametrize("path", TOOLS, ids=os.path.basename)
def test_tool_imports(path):
    from pyspark import SparkContext

    before = SparkContext._active_spark_context
    spec = importlib.util.spec_from_file_location(
        "tools_import_check_" + os.path.basename(path)[:-3], path
    )
    spec.loader.exec_module(importlib.util.module_from_spec(spec))
    assert SparkContext._active_spark_context is before  # import starts no session


def test_tools_found():
    assert len(TOOLS) >= 5
