"""On-disk scratch: where the engine keeps it and when it goes.

Every scratch dir of the engine lives under ``ROOT`` (the engine's form
of the reference DAG's landing area, REPORT:172). The layout, spelled
here and nowhere else:

- ``run/<run id>/`` — one process's run root, made at its first use,
  holding ``.lock`` (``flock``ed for the process's life), the
  :func:`work_dir` dirs ``<name>_<key>/`` and :func:`built_dir`'s
  private staging ``.build-<name>-*/``;
- ``built/<key>/`` — the caches derived from one input dir: ``.source``
  (a symlink to it) and :func:`built_dir`'s ``<sf_tag>/<name>/``.

``<key>`` is the basename of ``abspath(sf_dir)`` plus a hash of that
path, so input dirs sharing a basename never share scratch; an
input-independent fixture (``sf_dir=None``) has key and tag ``none``.

The two lifecycles:

- **work**: process-private, emptied on entry. A result read lazily
  from a work dir stays valid until the same ``(sf_dir, name)`` is asked
  for again in the same process. A process removes its run root when it
  exits; the run root of one that died without exiting (SIGKILL) has a
  free lock, and the next process's first use removes it.
- **built**: a cache shared by every process. ``build(tmp)`` fills a
  private staging dir, published with one ``os.rename``; the loser of a
  race to publish discards its copy. A build under a new ``sf_tag`` (the
  input was rewritten) removes the key's other tags and every key whose
  input dir is gone.
"""

from __future__ import annotations

import atexit
import contextlib
import fcntl
import hashlib
import os
import shutil
import tempfile
import threading
import uuid

from dock_financial_data_pipelines_spark.catalog import sf_tag

ROOT = os.path.join(tempfile.gettempdir(), "dock_fdp_spark")
_RUNS = os.path.join(ROOT, "run")
_BUILT = os.path.join(ROOT, "built")

_lock = threading.Lock()
# pid → (run root, its lock's fd); a forked child makes its own.
_run_roots: dict = {}


def _key(sf_dir: str | None) -> str:
    if sf_dir is None:
        return "none"
    path = os.path.abspath(sf_dir.rstrip("/"))
    digest = hashlib.sha1(path.encode()).hexdigest()[:10]
    return f"{os.path.basename(path)}_{digest}"


def _run_root() -> str:
    with _lock:
        if os.getpid() in _run_roots:
            return _run_roots[os.getpid()][0]
        while True:
            run_id = f"{os.getpid()}-{uuid.uuid4().hex[:8]}"
            # Locked under a dot name, then renamed: no process sees the
            # run root of a live one unlocked.
            new = os.path.join(_RUNS, f".{run_id}")
            os.makedirs(new)
            fd = os.open(os.path.join(new, ".lock"), os.O_CREAT | os.O_RDWR)
            fcntl.flock(fd, fcntl.LOCK_EX)
            try:
                os.rename(new, os.path.join(_RUNS, run_id))
                break
            except FileNotFoundError:  # swept before the lock was taken
                os.close(fd)
        _run_roots[os.getpid()] = (os.path.join(_RUNS, run_id), fd)
    for name in os.listdir(_RUNS):
        if name != run_id:
            _remove_if_dead(os.path.join(_RUNS, name))
    return _run_roots[os.getpid()][0]


def _remove_if_dead(run_root: str) -> None:
    try:
        lock = open(os.path.join(run_root, ".lock"), "r+")
    except FileNotFoundError:  # still taking its lock, or being removed
        return
    with lock, contextlib.suppress(BlockingIOError):  # its process lives
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
        shutil.rmtree(run_root, ignore_errors=True)  # its process is gone


@atexit.register
def _remove_run_root() -> None:
    if os.getpid() in _run_roots:
        shutil.rmtree(_run_roots[os.getpid()][0], ignore_errors=True)


def work_path(sf_dir: str | None, name: str) -> str:
    """Where :func:`work_dir` keeps ``(sf_dir, name)``, left as it is."""
    return os.path.join(_run_root(), f"{name}_{_key(sf_dir)}")


def work_dir(sf_dir: str | None, name: str) -> str:
    """This process's scratch dir for ``(sf_dir, name)``, emptied."""
    path = work_path(sf_dir, name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def built_path(sf_dir: str | None, name: str) -> str:
    """Where :func:`built_dir` publishes ``(sf_dir, name)``, built or
    not; fixed at import for ``sf_dir=None``."""
    tag = "none" if sf_dir is None else sf_tag(sf_dir)
    return os.path.join(_BUILT, _key(sf_dir), tag, name)


def built_dir(sf_dir: str | None, name: str, build) -> str:
    """The shared dir of ``name`` derived from ``sf_dir`` as it is now;
    the first caller fills it with ``build(tmp)``."""
    path = built_path(sf_dir, name)
    if os.path.isdir(path):
        return path
    tag_dir = os.path.dirname(path)
    key_dir = os.path.dirname(tag_dir)
    os.makedirs(tag_dir, exist_ok=True)
    if sf_dir is not None:
        source = os.path.abspath(sf_dir.rstrip("/"))
        with contextlib.suppress(FileExistsError):
            os.symlink(source, os.path.join(key_dir, ".source"))
    for tag in os.listdir(key_dir):
        if tag not in (".source", os.path.basename(tag_dir)):
            shutil.rmtree(os.path.join(key_dir, tag), ignore_errors=True)
    for key in os.listdir(_BUILT):
        source = os.path.join(_BUILT, key, ".source")
        if os.path.islink(source) and not os.path.exists(source):
            shutil.rmtree(os.path.join(_BUILT, key), ignore_errors=True)
    tmp = tempfile.mkdtemp(prefix=f".build-{name}-", dir=_run_root())
    try:
        build(tmp)
        os.rename(tmp, path)
    except OSError:
        if not os.path.isdir(path):  # not a lost race
            raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path
