"""The scratch owner (``scratch.py``): its two lifecycles across real
processes, and the guard that keeps every scratch path inside it.

Each case that is about processes runs its steps in fresh Python
processes whose ``TMPDIR`` is the test's own, so the owner's root is
private to the test."""

from __future__ import annotations

import os
import re
import signal
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "dock_financial_data_pipelines_spark")

_PRELUDE = (
    "import os, sys, time\n"
    "from pathlib import Path\n"
    "from dock_financial_data_pipelines_spark import scratch\n"
)


def _env(tmp) -> dict:
    return {**os.environ, "TMPDIR": str(tmp), "PYTHONPATH": REPO}


def _start(tmp, code: str, **kw) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, "-c", _PRELUDE + textwrap.dedent(code)],
        env=_env(tmp),
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        text=True,
        **kw,
    )


def _run(tmp, code: str) -> list:
    """Run ``code`` to completion; its stdout lines."""
    p = _start(tmp, code)
    out, _ = p.communicate(timeout=60)
    assert p.returncode == 0
    return out.split()


# Holds a work dir with a file in it: prints the dir, then waits for a
# line on stdin before exiting.
_HOLD = """
d = scratch.work_dir({sf!r}, "q")
Path(d, "part").write_text("x")
print(d, flush=True)
sys.stdin.readline()
"""


@pytest.fixture
def tmp(tmp_path):
    d = tmp_path / "tmp"
    d.mkdir()
    return d


def _fixture(path, payload: bytes = b"v1") -> str:
    os.makedirs(path / "orders.parquet", exist_ok=True)
    (path / "orders.parquet" / "part-0.parquet").write_bytes(payload)
    return str(path)


def test_work_dir_of_a_live_process_survives_another(tmp):
    sf = _fixture(tmp.parent / "sf")
    a = _start(tmp, _HOLD.format(sf=sf))
    a_dir = a.stdout.readline().strip()
    (b_dir,) = _run(tmp, f'print(scratch.work_dir({sf!r}, "q"))')
    assert b_dir != a_dir
    assert Path(a_dir, "part").read_text() == "x"
    a.communicate("\n", timeout=60)
    assert not os.path.exists(os.path.dirname(a_dir))  # gone at exit


def test_work_dir_is_emptied_on_entry(tmp):
    (left,) = _run(
        tmp,
        """
        Path(scratch.work_dir(None, "q"), "old").write_text("x")
        print(len(os.listdir(scratch.work_dir(None, "q"))))
        """,
    )
    assert left == "0"


def test_killed_run_root_goes_and_live_sibling_stays(tmp):
    dead = _start(tmp, _HOLD.format(sf=None))
    live = _start(tmp, _HOLD.format(sf=None))
    dead_root = os.path.dirname(dead.stdout.readline().strip())
    live_root = os.path.dirname(live.stdout.readline().strip())
    dead.send_signal(signal.SIGKILL)
    dead.communicate(timeout=60)
    assert os.path.isdir(dead_root)  # no exit handler ran
    (mine,) = _run(tmp, 'print(scratch.work_dir(None, "other"))')
    assert not os.path.exists(dead_root)
    assert os.path.isdir(live_root)
    live.communicate("\n", timeout=60)
    runs = os.path.join(str(tmp), "dock_fdp_spark", "run")
    assert os.listdir(runs) == []
    assert not os.path.exists(mine)


_BUILD = """
def build(d):
    Path(d, "f").write_text({text!r})
print(scratch.built_dir({sf!r}, "n", build))
"""


def test_new_tag_replaces_old_and_spares_same_basename(tmp):
    sf_a = _fixture(tmp.parent / "a" / "fix")
    sf_b = _fixture(tmp.parent / "b" / "fix")
    (old_a,) = _run(tmp, _BUILD.format(sf=sf_a, text="a1"))
    (b,) = _run(tmp, _BUILD.format(sf=sf_b, text="b1"))
    assert os.path.basename(os.path.dirname(os.path.dirname(old_a))) != (
        os.path.basename(os.path.dirname(os.path.dirname(b)))
    )
    _fixture(tmp.parent / "a" / "fix", b"v2, rewritten in place")
    (new_a,) = _run(tmp, _BUILD.format(sf=sf_a, text="a2"))
    assert new_a != old_a
    assert not os.path.exists(os.path.dirname(old_a))  # the old tag
    assert Path(new_a, "f").read_text() == "a2"
    assert Path(b, "f").read_text() == "b1"


def test_built_dirs_of_a_deleted_input_go(tmp):
    import shutil

    gone = _fixture(tmp.parent / "gone")
    kept = _fixture(tmp.parent / "kept")
    (gone_dir,) = _run(tmp, _BUILD.format(sf=gone, text="g"))
    shutil.rmtree(gone)
    (kept_dir,) = _run(tmp, _BUILD.format(sf=kept, text="k"))
    key_dir = os.path.dirname(os.path.dirname(gone_dir))
    assert not os.path.exists(key_dir)
    assert os.path.isdir(kept_dir)


def test_racing_builds_publish_one_complete_dir(tmp):
    sf = _fixture(tmp.parent / "sf")
    go = tmp.parent / "go"
    racer = f"""
    while not os.path.exists({str(go)!r}):
        time.sleep(0.01)

    def build(d):
        Path(d, "head").write_text(str(os.getpid()))
        time.sleep(1.0)
        Path(d, "tail").write_text(str(os.getpid()))

    path = scratch.built_dir({sf!r}, "slow", build)
    head, tail = (Path(path, n).read_text() for n in ("head", "tail"))
    print(path, head == tail)
    """
    procs = [_start(tmp, racer) for _ in range(2)]
    go.write_text("")
    outs = [p.communicate(timeout=60)[0].split() for p in procs]
    assert [p.returncode for p in procs] == [0, 0]
    assert outs[0] == outs[1]
    path, complete = outs[0]
    assert complete == "True"
    assert sorted(os.listdir(path)) == ["head", "tail"]
    assert os.listdir(os.path.dirname(path)) == ["slow"]
    runs = os.path.join(str(tmp), "dock_fdp_spark", "run")
    assert os.listdir(runs) == []  # no staging left in any run root


# Every path under the temp dir is the owner's: no other file names a
# fixed one (the package zip and the connect probe script included).
_ALLOWED = {"scratch.py"}
_SCRATCH_PATH = re.compile(r'gettempdir\(|"dock_fdp_spark"|"_built"|uuid4')


def test_no_scratch_path_outside_the_owner():
    hits = []
    for dirpath, _, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py") or name in _ALLOWED:
                continue
            path = os.path.join(dirpath, name)
            with open(path) as fh:
                for n, line in enumerate(fh, 1):
                    if _SCRATCH_PATH.search(line):
                        hits.append(f"{os.path.relpath(path, PKG)}:{n}")
    assert hits == []


def test_package_zips_of_different_trees_do_not_share_a_path(tmp_path):
    """Spark refuses a shipped file whose contents change under its
    path: two package trees that differ get two zips, a tree that does
    not gets its own zip back, and each zip is under this process's run
    root."""
    import zipfile

    from dock_financial_data_pipelines_spark import scratch
    from dock_financial_data_pipelines_spark.session import _package_zip

    trees = []
    for name, body in (("a", "A = 1\n"), ("b", "A = 2\n")):
        pkg = tmp_path / name / "pkg"
        pkg.mkdir(parents=True)
        (pkg / "__init__.py").write_text(body)
        (pkg / "notes.txt").write_text("not shipped")
        trees.append(str(pkg))
    a, b = (_package_zip(t) for t in trees)
    assert a != b
    assert _package_zip(trees[0]) == a
    run_root = os.path.dirname(scratch.work_path(None, "package"))
    for z, body in ((a, b"A = 1\n"), (b, b"A = 2\n")):
        assert z.startswith(run_root + os.sep)
        with zipfile.ZipFile(z) as zf:
            assert zf.namelist() == ["pkg/__init__.py"]
            assert zf.read("pkg/__init__.py") == body


def test_sink_location_default_is_under_the_owner_root():
    from dock_financial_data_pipelines_spark import scratch
    from dock_financial_data_pipelines_spark.sources.sinks import (
        SinkLocation,
    )

    assert SinkLocation().base_uri == "file://" + os.path.join(
        scratch.ROOT, "warehouse"
    )


def test_commit_storm_from_an_unguarded_script_finishes(tmp_path):
    """A driver script without an ``if __name__ == "__main__"`` guard:
    the storm's writers must not re-run it."""
    script = tmp_path / "unguarded.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {REPO!r})
            print("START", flush=True)
            from dock_financial_data_pipelines_spark.plans.pipeline import (
                run_commit_storm_mp,
            )
            stats = run_commit_storm_mp({str(tmp_path / "t")!r}, 2, 1)
            print("DONE", stats["commits"], flush=True)
            """
        )
    )
    os.makedirs(tmp_path / "t")
    p = subprocess.Popen(
        [sys.executable, str(script)],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
        start_new_session=True,
    )
    try:
        out, _ = p.communicate(timeout=120)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        out, _ = p.communicate()
    assert out.count("START") == 1
    assert "DONE 2" in out
    assert p.returncode == 0
