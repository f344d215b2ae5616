"""Driver-side Python runners must import the package from any cwd.

A Python streaming source plans its offsets, and transformWithState
initializes its state, in Python processes the JVM starts on the
driver. Those processes take their path from the function's
environment, not from the driver's ``sys.path`` and not from the
shipped includes; they found the package only when the cwd happened to
be the repo root. The queries run in a fresh process whose cwd is a
temporary directory and whose ``sys.path`` is the only place naming the
package, as in a scheduler's worker."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERIES = ["x26_python_datasource_stream", "x10_transform_with_state"]


def test_stream_runners_import_the_package_from_another_cwd(
    tmp_path, sf_dir
):
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        import dock_financial_data_pipelines_spark as engine
        from dock_financial_data_pipelines_spark.session import get_spark

        engine.load_all()
        spark = get_spark("other-cwd")
        for name in {QUERIES!r}:
            n = engine.QUERIES[name](spark, {sf_dir!r}).count()
            print(name, n, flush=True)
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    run = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    counts = dict(line.split() for line in run.stdout.splitlines())
    assert set(counts) == set(QUERIES)
    assert all(int(n) > 0 for n in counts.values())
