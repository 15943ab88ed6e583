"""Every script under tools/ must import, and so must every module it
imports inside a function: a tool that names a module deleted from the
repository fails here, not the next time someone runs it."""

from __future__ import annotations

import ast
import importlib.util
from pathlib import Path

import pytest

TOOLS = sorted((Path(__file__).resolve().parent.parent / "tools").glob("*.py"))


@pytest.mark.parametrize("path", TOOLS, ids=[p.stem for p in TOOLS])
def test_tool_imports(path):
    # each tool keeps its main behind `if __name__ == "__main__"`, so
    # loading it under another name runs no Spark job
    spec = importlib.util.spec_from_file_location(f"tools_{path.stem}", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert callable(getattr(module, "main", None))
    # a function-local import only runs with the tool: resolve it here
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            names = [node.module]
        elif isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        else:
            continue
        for name in names:
            assert importlib.util.find_spec(name) is not None, f"{path.name} imports {name}"
