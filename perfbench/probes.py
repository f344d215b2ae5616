"""Outside-in measurement helpers: process-tree CPU and PSS from /proc,
Spark job/stage counters from the driver's status store, and files
written under a set of directories.

None of these touch the engine; they read what the OS and Spark already
record. Spark counters need the classic (py4j) session that
``session.get_spark`` builds.
"""

from __future__ import annotations

import hashlib
import os
import time

from py4j.protocol import Py4JJavaError

_TICK = os.sysconf("SC_CLK_TCK")
_MB = 1024.0 * 1024.0


def _stat(path: str) -> tuple[str, list[str]]:
    """(command name, fields after it) of a /proc stat file."""
    with open(path) as fh:
        raw = fh.read()
    # the command name sits in parentheses and may contain spaces
    return raw[raw.index("(") + 1:raw.rindex(")")], raw[raw.rindex(")") + 2:].split()


def _stat_fields(pid: int) -> list[str]:
    return _stat(f"/proc/{pid}/stat")[1]


def process_tree() -> list[int]:
    """This process and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name))[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while listing
        children.setdefault(ppid, []).append(int(name))
    tree, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def tree_cpu_s(pids: list[int]) -> float:
    """User plus system CPU seconds of ``pids``, including their reaped
    children."""
    total = 0
    for pid in pids:
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 of stat(5)
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def jit_cpu_s(pids: list[int]) -> float:
    """CPU seconds of the JVM's JIT compiler threads among ``pids``."""
    total = 0
    for pid in pids:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                name, f = _stat(f"/proc/{pid}/task/{tid}/stat")
            except OSError:
                continue
            if name.startswith(_JIT_THREADS):
                total += int(f[11]) + int(f[12])
    return total / _TICK


def wait_quiet(limit_s: float = 15.0, window_s: float = 0.25, cores: float = 0.2) -> float:
    """Wait until this process tree uses less than ``cores`` CPUs over a
    ``window_s`` window, or until ``limit_s`` has passed; return the
    seconds waited. Background work left by earlier calls (queued JIT
    compilation, a concurrent GC cycle) then ends before the next
    measurement instead of inside it."""
    t0 = time.perf_counter()
    before = tree_cpu_s(process_tree())
    while True:
        time.sleep(window_s)
        now = tree_cpu_s(process_tree())
        if now - before < cores * window_s or time.perf_counter() - t0 >= limit_s:
            return time.perf_counter() - t0
        before = now


def tree_pss_mb(pids: list[int]) -> float:
    """Summed proportional set size of ``pids`` in MB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def speed_probe_s() -> float:
    """Seconds one core takes for a fixed CPython md5 chain over 64 MB,
    a quarter of ``bench._calibrate_py``'s work. It runs no engine code,
    so it moves only with the machine: with neighbours that slow every
    core down, this probe and the engine's CPU time per pass rise
    together."""
    block = b"\x5a" * 65536
    t0 = time.perf_counter()
    h = hashlib.md5()
    for _ in range(1024):
        h.update(block)
    h.hexdigest()
    return time.perf_counter() - t0


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this VM since boot (all
    CPUs); a difference over a run shows noisy neighbours."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _TICK


def process_start_age_s() -> float:
    """Seconds since this process was started by the kernel."""
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - int(_stat_fields(os.getpid())[19]) / _TICK


class SparkCounters:
    """Per-op Spark execution counters read from the status store.

    Jobs are attributed by id range: the benchmark is a closed loop, so
    every job started between two reads belongs to the op in between.
    A job group alone would miss streaming micro-batches, which run
    under the stream's own group."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._no_quantiles = spark.sparkContext._gateway.new_array(
            spark.sparkContext._gateway.jvm.double, 0
        )
        self._next_job = 0
        self.skip()

    def _job(self, job_id: int):
        try:
            return self._store.job(job_id)
        except Py4JJavaError:  # NoSuchElementException: no such job yet
            return None

    def skip(self) -> None:
        """Disregard every job so far."""
        self._sc.listenerBus().waitUntilEmpty()
        while self._job(self._next_job) is not None:
            self._next_job += 1

    def collect(self) -> dict:
        """Counters for every job since the previous call."""
        self._sc.listenerBus().waitUntilEmpty()
        out = dict.fromkeys(("jobs", "stages", "tasks"), 0)
        out.update(dict.fromkeys(
            ("task_s", "task_cpu_s", "gc_s", "shuffle_write_mb",
             "shuffle_read_mb", "spill_mb"), 0.0
        ))
        stage_ids: set[int] = set()
        while (job := self._job(self._next_job)) is not None:
            out["jobs"] += 1
            it = job.stageIds().iterator()
            while it.hasNext():
                stage_ids.add(int(it.next()))
            self._next_job += 1
        for sid in sorted(stage_ids):
            attempts = self._store.stageData(
                sid, False, None, False, self._no_quantiles
            ).iterator()
            while attempts.hasNext():
                st = attempts.next()
                if st.status().toString() not in ("COMPLETE", "FAILED"):
                    continue  # skipped: its output was reused
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["task_s"] += st.executorRunTime() / 1e3
                out["task_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
                out["shuffle_read_mb"] += st.shuffleReadBytes() / _MB
                out["spill_mb"] += (
                    st.memoryBytesSpilled() + st.diskBytesSpilled()
                ) / _MB
        return out


def snapshot_files(dirs: list[str]) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) for every regular file under ``dirs``."""
    snap = {}
    for top in dirs:
        for root, _, files in os.walk(top):
            for name in files:
                path = os.path.join(root, name)
                try:
                    st = os.stat(path)
                except OSError:
                    continue
                snap[path] = (st.st_size, st.st_mtime_ns)
    return snap


def files_written(before: dict, after: dict) -> tuple[int, float]:
    """(count, MB) of files in ``after`` that are new or changed."""
    new = [meta for path, meta in after.items() if before.get(path) != meta]
    return len(new), sum(size for size, _ in new) / _MB
