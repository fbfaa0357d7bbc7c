"""bench.py and every script under tools/ import cleanly (module level
only, main() is not run): deleting a helper from bench.py or hydra_spark
must not leave a script with a dangling import."""

import importlib.util
import pathlib

import pytest

REPO = pathlib.Path(__file__).resolve().parent.parent
SCRIPTS = [REPO / "bench.py", *sorted((REPO / "tools").glob("*.py"))]


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.name)
def test_script_imports(path):
    spec = importlib.util.spec_from_file_location(f"_script_{path.stem}", path)
    spec.loader.exec_module(importlib.util.module_from_spec(spec))
