"""Every tools/*.py imports cleanly (each guards ``main``, so importing runs
no Spark): a package rename that strands a tool fails here, not at the next
round's close. Also pins tools/registry_times.py's argument parsing."""

import glob
import importlib.util
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = sorted(glob.glob(os.path.join(ROOT, "tools", "*.py")))


def _load(path):
    name = "_tool_" + os.path.basename(path)[:-3]
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("path", TOOLS, ids=[os.path.basename(p) for p in TOOLS])
def test_tool_imports(path):
    if os.path.basename(path) == "golden_diff.py":
        from test_reference_corpus import CORPUS_DIR

        if not glob.glob(os.path.join(CORPUS_DIR, "*.sql")):
            pytest.skip("golden_diff.py needs the reference corpus")
    mod = _load(path)
    assert callable(getattr(mod, "main", None))


def test_registry_times_args():
    parse = _load(os.path.join(ROOT, "tools", "registry_times.py")).parse_args
    # the value of --runs is not the sf_dir, and any N is honoured
    rnd, sf_dir, runs = parse(["18", "--runs", "2"])
    assert (rnd, runs) == (18, 2) and sf_dir != "2"
    assert parse(["18", "--runs", "3"])[2] == 3
    assert parse(["18", "/data/sf1", "--runs", "2"]) == (18, "/data/sf1", 2)
    assert parse(["18", "--runs", "2", "/data/sf1"]) == (18, "/data/sf1", 2)
    assert parse(["18"])[2] == 1
