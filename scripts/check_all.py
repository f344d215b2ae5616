"""Fast iteration harness: run every registered query against its DuckDB
oracle in one Spark session; print a pass/fail table (doesn't stop on
first failure, unlike pytest -x).

Usage:
    python scripts/check_all.py                    # full registry
    python scripts/check_all.py q1 q2 ...          # named queries only
    python scripts/check_all.py --changed-since REV
        # only queries whose defining source file changed vs REV
        # (git diff --name-only REV, mapped through each registered
        # callable's source file) — keeps per-commit loops fast while
        # the full drain stays the round gate. A changed package file
        # that defines no query re-checks the full registry, as does a
        # git failure (with a warning)."""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import dock_financial_data_pipelines_spark as engine
from dock_financial_data_pipelines_spark.observability import codegen_compiles
from dock_financial_data_pipelines_spark.session import get_spark
from tests._compare import compare_frames, duck_connection

engine.load_all()


def _changed_queries(rev: str) -> list[str]:
    """Registry names to re-check for the files that differ from ``rev``."""
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        ["git", "diff", "--name-only", rev, "--"],
        cwd=repo, capture_output=True, text=True, check=True,
    ).stdout
    return _queries_for({
        os.path.normpath(os.path.join(repo, p))
        for p in out.splitlines() if p.strip()
    })


def _queries_for(changed: set[str]) -> list[str]:
    """Registry names whose defining source file is in ``changed``
    (absolute paths).

    File-level granularity is deliberate: oracle strings are built by
    module-level helpers next to their queries, so any edit in a module
    re-checks every query that module defines. A changed package file
    that defines no query (a shared owner such as ``shingles.py``) may
    feed any query, so it re-checks the full registry. A query whose
    source cannot be found is always re-checked."""
    import inspect

    pkg = os.path.dirname(os.path.abspath(engine.__file__))
    sources = {}
    for name, fn in engine.QUERIES.items():
        try:
            sources[name] = os.path.normpath(inspect.getsourcefile(fn))
        except Exception:
            sources[name] = None  # unmappable → fail open, re-check
    defining = set(sources.values())
    if any(
        p.endswith(".py") and p.startswith(pkg + os.sep) and p not in defining
        for p in changed
    ):
        return sorted(engine.QUERIES)
    return sorted(
        name for name, src in sources.items() if src is None or src in changed
    )


def _report_codegen(spark) -> None:
    """Print the session's Janino compiles next to the codegen cache
    size. With no evictions the total is the sweep's working set of
    generated classes; a total above the size means the working set
    has outgrown session.CODEGEN_CACHE_MAX_ENTRIES."""
    compiles = codegen_compiles(spark)
    size = int(spark.conf.get("spark.sql.codegen.cache.maxEntries"))
    print(f"codegen: {compiles} classes compiled, cache holds {size}")
    if compiles is not None and compiles > size:
        print(
            f"WARNING: {compiles} compiles exceed the codegen cache size "
            f"{size}: raise session.CODEGEN_CACHE_MAX_ENTRIES",
            file=sys.stderr,
        )


def main() -> int:
    sf_dir = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")
    argv = sys.argv[1:]
    if argv[:1] == ["--changed-since"]:
        if len(argv) < 2:
            print("--changed-since needs a git rev", file=sys.stderr)
            return 2
        try:
            only = _changed_queries(argv[1])
        except Exception as e:  # pragma: no cover - git unavailable
            print(f"--changed-since failed open ({e}); full registry",
                  file=sys.stderr)
            only = sorted(engine.QUERIES)
        if not only:
            print(f"no registered query's source changed vs {argv[1]}")
            return 0
        print(f"{len(only)} queries changed vs {argv[1]}")
    else:
        only = argv or sorted(engine.QUERIES)
    spark = get_spark("check-all")
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connection(sf_dir)
    failures = []
    for name in only:
        fn = engine.QUERIES[name]
        t0 = time.time()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
            if name in engine.ORACLES:
                oracle_pdf = con.execute(engine.ORACLES[name]).df()
                compare_frames(spark_pdf, oracle_pdf, name)
                status = "OK   "
            else:
                status = "ROWS "
        except AssertionError as e:
            status = "DIFF "
            failures.append((name, str(e)))
        except Exception as e:
            status = "ERROR"
            failures.append((name, traceback.format_exc(limit=20)))
        print(f"{status} {name:40s} {time.time()-t0:6.1f}s", flush=True)
    print(f"\n{len(only) - len(failures)}/{len(only)} passed")
    _report_codegen(spark)
    for name, msg in failures:
        print(f"\n===== {name} =====\n{msg[:3000]}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
