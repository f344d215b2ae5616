"""Per-query timing probe: warm, then time each named query's build
(the query-function call: stage writes, CAS commits, streaming drains)
and its noop-sink evaluation separately, with cumulative timers on the
snapshot-protocol helpers so the costly step inside a drain is
attributable.

Methodology: per scale and core count, one Spark process; bench.py's
two warmup queries, then per query one pass thrown away and ``--reps``
timed passes; medians reported. A scale dir whose tables are single
parquet files is read through the bench's 8-file mirror
(scripts/make_bench_fixture.py), as bench.py reads the shipped ones.

Usage:
    python scripts/probe.py --sf DIR [--sf DIR]... [--reps N] [--cpus N]...
        [--conf KEY=VALUE]... [--out FILE] [--explain-dir DIR]
        [--suffix TAG] [--no-helpers] name ...

``--sf`` (default ``$SPARK_GRAFT_SF_DIR``) and ``--cpus`` (default
``$SPARK_GRAFT_CPUS``) repeat: every query runs at every scale, and
each core count runs in its own process, one after another (the
master's core count is fixed per session; never run two probes at
once — core contention poisons both). ``--conf`` sets runtime SQL
confs for the whole run. ``--out`` merges medians into a JSON file as
``{query: {"<sf>@c<cpus>": seconds}}``. ``--explain-dir`` writes
``<name>_<suffix>.txt`` with the formatted plan of the first timed
pass, for diffing two checkouts' plans."""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

HELPERS = {
    "plans.pipeline": (
        "_stage_version", "_commit_cas", "_read_visible", "_read_version",
        "_publish_version", "_commit_mor_delete", "_read_mor",
        "_build_manifest", "_write_layout", "_append_commit_log",
    ),
    "sources.sinks": ("write_partitioned",),
}
_ACC: dict = defaultdict(lambda: [0, 0.0])  # helper -> [calls, seconds]


def _instrument() -> None:
    """Wrap each helper in a cumulative timer (module attribute swap, so
    callers that look the helper up at call time are timed)."""
    import importlib

    for mod_name, names in HELPERS.items():
        mod = importlib.import_module(
            f"dock_financial_data_pipelines_spark.{mod_name}"
        )
        for name in names:
            orig = getattr(mod, name)

            def timed(*a, _orig=orig, _name=name, **kw):
                t0 = time.perf_counter()
                try:
                    return _orig(*a, **kw)
                finally:
                    _ACC[_name][0] += 1
                    _ACC[_name][1] += time.perf_counter() - t0

            setattr(mod, name, timed)


def _run_one_process(args, cpus: str) -> None:
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    import dock_financial_data_pipelines_spark as engine
    from dock_financial_data_pipelines_spark.session import get_spark

    engine.load_all()
    spark = get_spark(f"probe-c{cpus}")
    spark.sparkContext.setLogLevel("ERROR")
    for kv in args.conf:
        spark.conf.set(*kv.split("=", 1))
    if not args.no_helpers:
        _instrument()
    res = {}
    for sf in args.sf:
        tag = os.path.basename(sf.rstrip("/"))
        sf_dir = sf
        if os.path.isfile(os.path.join(sf, "lineitem.parquet")):
            from scripts.make_bench_fixture import ensure_bench_fixture

            sf_dir = ensure_bench_fixture(
                sf, os.path.join(tempfile.gettempdir(), f"dock_bench_{tag}_8f")
            )
        for warm in ("a1_pricing_summary", "l_model_quality_scorer"):
            engine.QUERIES[warm](spark, sf_dir).collect()
        key = f"{tag}@c{cpus}"
        for name in args.names:
            fn = engine.QUERIES[name]
            totals = []
            for rep in range(args.reps + 1):  # rep 0 is the warm pass
                _ACC.clear()
                spark.sparkContext.setJobDescription(f"probe:{name}#{rep}")
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                if rep == 0:
                    continue
                totals.append(t2 - t0)
                helpers = "  ".join(
                    f"{k}={v[1]:.3f}s/{v[0]}x"
                    for k, v in sorted(_ACC.items(), key=lambda kv: -kv[1][1])
                    if v[1] >= 0.05
                )
                print(
                    f"{name} {key} rep{rep}: build={t1 - t0:.3f}s "
                    f"sink={t2 - t1:.3f}s total={t2 - t0:.3f}s  {helpers}",
                    flush=True,
                )
                if args.explain_dir and rep == 1:
                    _write_explain(spark, df, args, name)
            med = round(statistics.median(totals), 3)
            res.setdefault(name, {})[key] = med
            print(f"{name} {key}: median {med}s", flush=True)
    spark.sparkContext.setJobDescription(None)
    spark.stop()
    if args.out:
        _merge(args.out, res)


def _write_explain(spark, df, args, name: str) -> None:
    os.makedirs(args.explain_dir, exist_ok=True)
    path = os.path.join(args.explain_dir, f"{name}_{args.suffix}.txt")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
    with open(path, "w") as fh:
        fh.write(
            df._jdf.queryExecution().explainString(
                mode.fromString("formatted")
            )
        )
    print(f"  explain -> {path}", flush=True)


def _merge(path: str, res: dict) -> None:
    old = {}
    if os.path.exists(path):
        with open(path) as fh:
            old = json.load(fh)
    for name, by_key in res.items():
        old.setdefault(name, {}).update(by_key)
    with open(path, "w") as fh:
        json.dump(old, fh, indent=2, sort_keys=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", action="append")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--cpus", action="append")
    ap.add_argument("--conf", action="append", default=[])
    ap.add_argument("--out")
    ap.add_argument("--explain-dir")
    ap.add_argument("--suffix", default="probe")
    ap.add_argument("--no-helpers", action="store_true")
    args = ap.parse_args()
    args.sf = args.sf or [os.environ.get("SPARK_GRAFT_SF_DIR")]
    if args.sf == [None]:
        ap.error("give --sf DIR or set SPARK_GRAFT_SF_DIR")
    cpus = args.cpus or [os.environ.get("SPARK_GRAFT_CPUS", "*")]
    if len(cpus) == 1:
        _run_one_process(args, cpus[0])
        return 0
    argv = [*args.names, "--reps", str(args.reps), "--suffix", args.suffix]
    for flag, values in (("--sf", args.sf), ("--conf", args.conf)):
        argv += [x for v in values for x in (flag, v)]
    for flag, value in (("--out", args.out), ("--explain-dir",
                                              args.explain_dir)):
        argv += [flag, value] if value else []
    argv += ["--no-helpers"] if args.no_helpers else []
    for c in cpus:  # one process per core count, never concurrently
        subprocess.run(
            [sys.executable, __file__, *argv, "--cpus", c], check=True
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
