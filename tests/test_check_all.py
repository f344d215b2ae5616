"""scripts/check_all.py --changed-since: which queries a set of changed
files re-checks."""

from __future__ import annotations

import importlib.util
import inspect
import os

import dock_financial_data_pipelines_spark as engine

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "dock_financial_data_pipelines_spark")


def _check_all():
    spec = importlib.util.spec_from_file_location(
        "check_all", os.path.join(REPO, "scripts", "check_all.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_changed_paths_map_to_queries():
    check_all = _check_all()
    text = os.path.join(PKG, "operators", "text.py")
    text_queries = sorted(
        name for name, fn in engine.QUERIES.items()
        if os.path.normpath(inspect.getsourcefile(fn)) == text
    )
    assert text_queries
    assert check_all._queries_for({text}) == text_queries
    assert check_all._queries_for({os.path.join(REPO, "README.md")}) == []
    # A shared module that defines no query may feed any of them.
    for shared in ("shingles.py", "hashing.py"):
        assert check_all._queries_for(
            {text, os.path.join(PKG, shared)}
        ) == sorted(engine.QUERIES)
