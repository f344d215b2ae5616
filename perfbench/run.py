"""Engine benchmark: one workload per run, driven through public calls.

    python3 perfbench/run.py --workload publish --seed 1 --seconds 12 --trace 0

Run it from the repository root. Workloads (see perfbench/README.md):

- ``publish``: the scheduled daily jobs through ``driver.run_job`` plus
  snapshot-table commits from ``plans/pipeline.py``; every op writes;
- ``dedup``: pair-join dedup operators, which write nothing.

One process, one ``session.get_spark`` session on ``local[min(cores,4)]``,
one client in a closed loop. Set-up (JVM, fixture, warm-up passes)
happens before timing; a pass runs every op of the workload once in a
seed-chosen order, and passes repeat for ``--seconds``. Outputs are
checked against DuckDB outside the timed region. The last stdout line
is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` traced and untraced passes alternate, and the metrics are
the per-layer ones. The line before it holds the run's context: seed,
calibration probe, hypervisor steal, per-op latencies and counts.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

import fixture
import probes

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = min(len(os.sched_getaffinity(0)), 4)
PKG = "dock_financial_data_pipelines_spark."
DEADLINE_S = 170  # a run must end within 180 s
DRIVER_HEAP = "8g"  # session.get_spark's spark.driver.memory default

DAILY_JOBS = ("balance_report", "account_statement", "daily_events")
DAILY_DAY = "2024-01-15"
PUBLISH_OPS = (
    *((job, DAILY_DAY) for job in DAILY_JOBS),
    "pipeline_atomic_publish",
)
DEDUP_OPS = (
    "l_wrapper_pair_audit",
    "l3_exact_dedup_keep_first",
)
# Passes before timing: the cold one, then warm ones until pass CPU has
# mostly stopped falling; publish's ops take longer to settle (README
# "Noise").
WARMUP_PASSES = {"publish": 5, "dedup": 3}
# Timed passes per run, at the least.
MIN_PASSES = 3
WORKLOADS = {"publish": PUBLISH_OPS, "dedup": DEDUP_OPS}

END_TO_END = {
    "setup_s": "s",
    "pass_cpu_ref_s": "s",
}
# probes.speed_probe_s on the 4-vCPU VM the benchmark was built on, in a
# quiet period: pass_cpu_ref_s is pass CPU at that machine speed.
SPEED_REF_S = 0.12
LAYER_MODULES = ("plans.pipeline", "operators.dedup")
SPARK_COUNTERS = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
}
SETUP_SPANS = (
    "session.get_spark_s",
    "registry.load_all_s",
    "fixture.generate_s",
    "catalog.fixture_mirror_s",
    "warmup_s",
)
PER_LAYER = {
    **dict.fromkeys(SETUP_SPANS, "s"),
    "driver.build_s": "s",
    "driver.publish_s": "s",
    **{f"{m}.{part}_s": "s" for m in LAYER_MODULES for part in ("build", "sink")},
    **SPARK_COUNTERS,
    "spark.busy_frac": "ratio",
    "fs.files_written": "count",
    "fs.mb_written": "MB",
    "fs.kb_per_file": "KB",
    "proc.peak_pss_mb": "MB",
    "jvm.jit_cpu_s": "s",
    "trace.overhead_s": "s",
}
# Counts that must repeat exactly from pass to pass (the drift-free gate).
EXACT = ("jobs", "stages", "tasks", "files")


def op_name(op) -> str:
    return op if isinstance(op, str) else f"{op[0]}@{op[1]}"


def schedule(workload: str, seed: int):
    """Op order of each timed pass: a seed-determined permutation of the
    workload's op list, drawn afresh for every pass."""
    rng = random.Random(seed)
    ops = list(WORKLOADS[workload])
    while True:
        yield rng.sample(ops, len(ops))


def isolate(work: str, trace: bool) -> None:
    """Point every scratch location of this run into ``work``: Python's
    tempfile (table roots, package zip), Spark local dirs, the JVM temp
    dir and the working directory (spark-warehouse)."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    # engine defaults only, and never attach to someone else's JVM
    for var in ("SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_SF_DIR", "SPARK_DRIVER_MEM",
                "PYSPARK_GATEWAY_PORT"):
        os.environ.pop(var, None)
    # For every JVM started from here (the spark-submit launcher too): no
    # hsperfdata file under /tmp, and temp files in this run's directory.
    opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    if trace:
        # Fixed JIT compiler threads keep their CPU (jvm.jit_cpu_s) readable
        # per thread instead of vanishing with retired threads. Untraced
        # runs keep the JVM's own setting, so the gated metrics see it.
        opts += " -XX:-UseDynamicNumberOfCompilerThreads"
    os.environ["JAVA_TOOL_OPTIONS"] = opts
    # The driver JVM starts with its whole heap (the engine's default
    # spark.driver.memory), so G1 does not resize it while the run is
    # timed; a growing heap made pass CPU differ by up to a third from
    # run to run (README "Noise").
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Xms{DRIVER_HEAP} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    tempfile.tempdir = None
    os.chdir(work)


def _add(acc: dict, key: str, value: float) -> None:
    acc[key] = acc.get(key, 0.0) + value


class Bench:
    def __init__(self, workload: str, work: str):
        self.workload = workload
        self.work = work
        self.layer: dict[str, float] = {}  # set-up spans
        self.results: dict = {}  # warm-up query outputs for the oracle check
        self.speeds: list[float] = []  # speed probes of the warm-up passes
        self.spark = None

    # -- set-up ---------------------------------------------------------
    def timed(self, key: str, fn, *a):
        t = time.perf_counter()
        out = fn(*a)
        self.layer[key] = time.perf_counter() - t
        return out

    def setup(self) -> None:
        sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts"), os.path.join(ROOT, "tests")]
        import dock_financial_data_pipelines_spark as engine
        from dock_financial_data_pipelines_spark import driver, session
        from make_bench_fixture import ensure_bench_fixture

        self.engine, self.driver = engine, driver
        self.timed("registry.load_all_s", engine.load_all)
        src = self.timed("fixture.generate_s", fixture.write, os.path.join(self.work, "gen"))
        self.sf = self.timed(
            "catalog.fixture_mirror_s", ensure_bench_fixture, src,
            os.path.join(self.work, "sf0.1_8f"),
        )
        self.daily_out = os.path.join(self.work, "daily")
        self.written_dirs = [
            os.path.join(tempfile.gettempdir(), "dock_fdp_spark"),
            self.daily_out,
        ]
        # The oracles read only the fixture, so DuckDB runs them while the
        # JVM starts and warms up; they are done before timing starts.
        with ThreadPoolExecutor(1) as pool:
            oracles = pool.submit(self.oracle_frames)
            self.spark = self.timed("session.get_spark_s", session.get_spark, "perfbench")
            self.spark.sparkContext.setLogLevel("ERROR")
            self.timed("warmup_s", self.warmup)
            self.oracles = oracles.result()

    def warmup(self) -> None:
        """The workload's ``WARMUP_PASSES`` in canonical order. The first
        is cold and keeps each query's result for the oracle check."""
        self.spark.range(1).write.format("noop").mode("overwrite").save()  # first Spark job
        for op in WORKLOADS[self.workload]:
            if isinstance(op, tuple):
                self.run_daily(op)
                continue
            try:
                self.results[op] = self.engine.QUERIES[op](self.spark, self.sf).toPandas()
            except Exception as exc:  # noqa: BLE001 - reported by the check
                self.results[op] = exc
        for _ in range(WARMUP_PASSES[self.workload] - 1):
            self.speeds.append(self.run_pass(list(WORKLOADS[self.workload]), None)["speed"])

    # -- ops ------------------------------------------------------------
    def run_daily(self, op) -> None:
        job, day = op
        self.driver.run_job(
            self.spark, job, self.sf, day, os.path.join(self.daily_out, job), force=True
        )

    def run_op(self, op, spans: dict | None):
        """One op; returns a query op's collected result. In traced passes
        ``spans`` gets the time inside the public call (build) and the
        rest (sink, or the driver's publish)."""
        if isinstance(op, tuple):
            if spans is None:
                self.run_daily(op)
                return None
            job = self.driver.JOBS[op[0]]
            built = 0.0

            def timed_job(*a):
                nonlocal built
                t = time.perf_counter()
                try:
                    return job(*a)
                finally:
                    built += time.perf_counter() - t

            self.driver.JOBS[op[0]] = timed_job
            t0 = time.perf_counter()
            try:
                self.run_daily(op)
            finally:
                self.driver.JOBS[op[0]] = job
            _add(spans, "driver.build_s", built)
            _add(spans, "driver.publish_s", time.perf_counter() - t0 - built)
            return None
        fn = self.engine.QUERIES[op]
        t0 = time.perf_counter()
        df = fn(self.spark, self.sf)
        t1 = time.perf_counter()
        # collect sink: the result a caller gets, and the one the check reads
        rows = df.toPandas()
        if spans is not None:
            mod = fn.__module__.removeprefix(PKG)
            _add(spans, f"{mod}.build_s", t1 - t0)
            _add(spans, f"{mod}.sink_s", time.perf_counter() - t1)
        return rows

    # -- measurement ----------------------------------------------------
    def run_pass(self, order: list, counters: probes.SparkCounters | None) -> dict:
        """One pass; with ``counters`` it is traced."""
        traced = counters is not None
        # Each pass starts from the same heap: a full collection lets
        # Spark's ContextCleaner drop the earlier calls' checkpoints,
        # shuffles and broadcasts before the pass instead of during it.
        self.spark.sparkContext._jvm.System.gc()
        quiet = probes.wait_quiet()
        speed = probes.speed_probe_s()
        if traced:
            counters.skip()
        spans: dict[str, float] = {}
        per_op: dict[str, dict] = {}
        results: dict = {}  # query op -> collected result, or the exception
        lat, cpu, pss, failed = [], [], [], []
        tree = probes.process_tree()
        cpu_t = cpu0 = probes.tree_cpu_s(tree)
        jit0 = probes.jit_cpu_s(tree) if traced else 0.0
        t_pass = time.perf_counter()
        for op in order:
            before = probes.snapshot_files(self.written_dirs) if traced else None
            t = time.perf_counter()
            try:
                out = self.run_op(op, spans if traced else None)
            except Exception as exc:  # noqa: BLE001 - counted, run goes on
                out = exc
                failed.append(op_name(op))
                print(f"perfbench: op {op_name(op)} failed: {exc!r}", file=sys.stderr)
            if out is not None:
                results[op_name(op)] = out
            lat.append(time.perf_counter() - t)
            cpu.append(probes.tree_cpu_s(probes.process_tree()) - cpu_t)
            cpu_t += cpu[-1]
            if traced:
                c = counters.collect()
                after = probes.snapshot_files(self.written_dirs)
                c["files"], c["mb"] = probes.files_written(before, after)
                per_op[op_name(op)] = c
                pss.append(probes.tree_pss_mb(probes.process_tree()))
        wall = time.perf_counter() - t_pass
        jit = probes.jit_cpu_s(probes.process_tree()) - jit0 if traced else 0.0
        return {
            "order": [op_name(o) for o in order], "quiet": quiet, "wall": wall, "lat": lat,
            "op_cpu": cpu, "cpu": cpu_t - cpu0, "jit": jit, "failed": failed,
            "traced": traced, "speed": speed, "spans": spans, "per_op": per_op, "results": results,
            "pss": max(pss, default=0.0),
        }

    def measure(self, seed: int, seconds: float, trace: bool) -> list[dict]:
        """Passes until ``seconds`` have elapsed, and at least
        ``MIN_PASSES``. Traced runs alternate traced and untraced passes,
        starting traced, so a drift in pass time over the run cancels
        out of the tracing overhead."""
        passes = []
        counters = probes.SparkCounters(self.spark) if trace else None
        t_end = time.perf_counter() + seconds
        for order in schedule(self.workload, seed):
            traced = trace and len(passes) % 2 == 0
            passes.append(self.run_pass(order, counters if traced else None))
            if time.perf_counter() >= t_end and len(passes) >= MIN_PASSES:
                return passes

    # -- output check ---------------------------------------------------
    def oracle_frames(self) -> dict:
        """op name -> its DuckDB oracle's result, or the exception."""
        from _compare import duck_connection

        out: dict = {}
        con = duck_connection(self.sf)
        try:
            for op in WORKLOADS[self.workload]:
                sql = daily_oracle(*op) if isinstance(op, tuple) else self.engine.ORACLES[op]
                try:
                    out[op_name(op)] = con.execute(sql).df()
                except Exception as exc:  # noqa: BLE001 - reported by the check
                    out[op_name(op)] = exc
        finally:
            con.close()
        return out

    def check(self, passes: list[dict]) -> dict[str, str]:
        """op -> failure message, for every op whose output differs from
        its DuckDB oracle or raised. A query op is checked on its cold
        result from the warm-up pass and on the result of every
        timed call. A daily op is checked on the partition the timed
        passes left."""
        from _compare import compare_frames

        bad: dict[str, str] = {}
        for op in WORKLOADS[self.workload]:
            try:
                if isinstance(op, tuple):
                    got = {"timed": self.daily_partition(*op).toPandas()}
                else:
                    got = {"warm-up": self.results[op]}
                    for i, p in enumerate(passes, 1):
                        got[f"timed pass {i}"] = p["results"][op]
                want = self.oracles[op_name(op)]
                for res in [want, *got.values()]:
                    if isinstance(res, Exception):
                        raise res
                for call, res in got.items():
                    compare_frames(res, want, f"{op_name(op)} ({call})")
            except Exception as exc:  # noqa: BLE001 - a failed check
                bad[op_name(op)] = repr(exc)
        return bad

    def daily_partition(self, job: str, day: str):
        from pyspark.sql import functions as F

        df = self.spark.read.parquet(os.path.join(self.daily_out, job)).where(
            F.col("report_date").cast("string") == day
        ).drop("report_date")
        if "ts" in df.columns:
            df = df.withColumn("ts", F.unix_micros("ts"))
        return df

    def stop(self) -> None:
        """Stop Spark and wait for the JVM and Python workers to exit."""
        if self.spark is None:
            return
        children = [p for p in probes.process_tree() if p != os.getpid()]
        gateway = self.spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        deadline = time.monotonic() + 30
        while children and time.monotonic() < deadline:
            children = [p for p in children if os.path.exists(f"/proc/{p}")]
            time.sleep(0.1)
        for pid in children:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def daily_oracle(job: str, day: str) -> str:
    """DuckDB twin of one scheduled job's partition for ``day``."""
    nxt = f"{day[:8]}{int(day[8:]) + 1:02d}"
    return {
        "balance_report": f"""
            SELECT c.c_custkey AS custkey, c.c_mktsegment AS mktsegment,
                   round(c.c_acctbal, 2) AS acctbal,
                   count(o.o_orderkey) AS n_orders,
                   round(coalesce(sum(o.o_totalprice), 0.0), 2) AS total_billed
            FROM customer c LEFT JOIN orders o
              ON c.c_custkey = o.o_custkey
             AND o.o_orderdate <= TIMESTAMP '{day}'
            GROUP BY 1, 2, 3""",
        "account_statement": f"""
            SELECT user_id AS account_id, event_id,
                   strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                   event_type AS tx_type, round(value, 2) AS amount,
                   round(sum(CAST(value AS DECIMAL(27,6))) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ), 2) AS running_balance
            FROM events
            WHERE ts >= TIMESTAMP '{day}' AND ts < TIMESTAMP '{nxt}'""",
        "daily_events": f"""
            SELECT event_id, epoch_us(ts) AS ts, user_id, event_type,
                   value, props
            FROM events
            WHERE ts >= TIMESTAMP '{day}' AND ts < TIMESTAMP '{nxt}'""",
    }[job]


def pass_cpu_s(passes: list[dict]) -> float:
    """Median CPU of the run's timed passes."""
    return statistics.median(p["cpu"] for p in passes)


def end_to_end(setup_s: float, passes: list[dict], speeds: list[float]) -> dict[str, float]:
    """``pass_cpu_ref_s`` is ``pass_cpu_s`` scaled by how much slower
    than ``SPEED_REF_S`` the speed probe ran in this run (median of the
    probes before every pass, warm-up passes included)."""
    return {
        "setup_s": setup_s,
        "pass_cpu_ref_s": pass_cpu_s(passes) * SPEED_REF_S / statistics.median(speeds),
    }


def per_layer(setup: dict, passes: list[dict]) -> dict[str, float]:
    """Set-up spans as taken; everything else summed per traced pass,
    median over traced passes."""
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    totals = []
    for p in traced:
        tot = dict.fromkeys(PER_LAYER, 0.0)
        tot.update(p["spans"])
        for c in p["per_op"].values():
            for key in SPARK_COUNTERS:
                tot[key] += c[key.removeprefix("spark.")]
            tot["fs.files_written"] += c["files"]
            tot["fs.mb_written"] += c["mb"]
        tot["spark.busy_frac"] = tot["spark.task_s"] / (p["wall"] * CORES)
        tot["jvm.jit_cpu_s"] = p["jit"]
        files = tot["fs.files_written"]
        tot["fs.kb_per_file"] = tot["fs.mb_written"] * 1024 / files if files else 0.0
        totals.append(tot)
    out = {key: statistics.median(t[key] for t in totals) for key in PER_LAYER}
    out.update(setup)
    out["proc.peak_pss_mb"] = max(p["pss"] for p in traced)
    out["trace.overhead_s"] = statistics.median(p["wall"] for p in traced) - statistics.median(
        p["wall"] for p in plain
    )
    return out


def count_drift(passes: list[dict]) -> list[str]:
    """Ops whose exact counts differ between traced passes."""
    seen: dict[str, tuple] = {}
    drift = []
    for p in passes:
        for op, c in p["per_op"].items():
            sig = tuple(c[k] for k in EXACT)
            if seen.setdefault(op, sig) != sig:
                drift.append(f"count drift in {op}: {dict(zip(EXACT, seen[op]))} "
                             f"then {dict(zip(EXACT, sig))}")
    return drift


class Deadline(BaseException):
    """Raised by SIGALRM; a BaseException so per-op handlers let it through."""


def _deadline(signum, frame):
    raise Deadline(f"run exceeded {DEADLINE_S} s")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    # Outside a checkout of the engine: exit 1 with nothing on stdout.
    for need in ("dock_financial_data_pipelines_spark", "scripts/make_bench_fixture.py",
                 "tests/_compare.py", "bench.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 1

    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    isolate(work, bool(args.trace))
    bench = Bench(args.workload, work)
    try:
        bench.setup()
        setup_s = probes.process_start_age_s()
        steal0 = probes.steal_s()
        passes = bench.measure(args.seed, args.seconds, bool(args.trace))
        steal = probes.steal_s() - steal0
        from bench import _calibrate_py

        calib = _calibrate_py()
        bad = bench.check(passes)
    finally:
        bench.stop()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(base) and not os.listdir(base):
            os.rmdir(base)
        signal.alarm(0)

    drift = count_drift(passes)
    speeds = bench.speeds + [p["speed"] for p in passes]
    attempted = sum(len(p["order"]) for p in passes)
    # an op whose output failed the check counts as failed every time it ran
    failed = sum(op in bad or op in p["failed"] for p in passes for op in p["order"])
    for msg in [*bad.values(), *drift]:
        print(f"perfbench: {msg}", file=sys.stderr)
    if args.trace:
        values, units = per_layer(bench.layer, passes), PER_LAYER
    else:
        values, units = end_to_end(setup_s, passes, speeds), END_TO_END
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": CORES, "calib_py_s": calib, "steal_s": steal,
        "fail_frac": failed / attempted,
        "pass_cpu_s": pass_cpu_s(passes),
        "speed_probe_s": statistics.median(speeds),
        "pass_s": statistics.median(p["wall"] for p in passes),
        "op_s_p50": statistics.median(x for p in passes for x in p["lat"]),
        "passes": [
            {"order": p["order"], "traced": p["traced"], "quiet": p["quiet"],
             "wall": p["wall"], "cpu": p["cpu"], "speed": p["speed"],
             "lat": p["lat"], "op_cpu": p["op_cpu"],
             "counts": {op: {k: c[k] for k in EXACT} for op, c in p["per_op"].items()}}
            for p in passes
        ],
    }))
    print(json.dumps({
        "correct": not bad and not drift and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
