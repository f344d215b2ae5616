"""spark-submit-able job driver: the reference's scheduling/retry layer.

The reference runs its pipelines under Airflow with a daily cron,
``retries=3`` / 3-minute delay, ``max_active_runs=1`` and
``catchup=False`` (REPORT:21-22, 222-231). The engine keeps *business*
retries out of the query layer and restates those operational semantics
here, in a thin driver any external scheduler (cron, Airflow, Dagster)
can invoke:

    spark-submit --py-files dock_fdp_spark.zip \
        --conf spark.sql.codegen.cache.maxEntries=10000 \
        -m dock_financial_data_pipelines_spark.driver \
        --job balance_report --day 2024-01-01 --out /data/reports
    # or: python -m dock_financial_data_pipelines_spark.driver ...

(The codegen-cache size is a static conf, so ``session.tune`` cannot
apply it to a session it did not build: pass it with ``--conf`` as
above — ``session.CODEGEN_CACHE_MAX_ENTRIES`` — or warm runs recompile
the jobs' generated classes.)

Operational semantics:

- **Daily incremental key**: ``--day`` defaults to "yesterday"
  (REPORT:59's ``date.today() - timedelta(days=1)``), parameterizing
  the date-pruned read exactly as the reference parameterizes its URL.
- **Retries**: job-level retry loop (``--retries``, ``--retry-delay``),
  the reference's task policy at whole-job granularity — safe because
  every sink write is idempotent.
- **Idempotence / exactly-once effect**: output goes to a
  date-partitioned parquet target via dynamic partition overwrite, so
  re-running a day replaces exactly that day (the reference's
  ``replace=True``, REPORT:172). A ``_SUCCESS_DAY=<day>`` marker makes
  ``max_active_runs=1`` + skip-if-done (``catchup=False``) checkable by
  the scheduler.
- **Result**: each run returns a ``RunResult`` (attempts, wall time,
  published rows; the CLI prints it as one JSON line) and writes the
  rows into the day's marker. The rows are counted from the parquet
  footers of the day's partition directory, not by a Spark read-back
  (see ``_published_rows``).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time
from dataclasses import dataclass
from datetime import date, timedelta
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

JOBS: dict[str, Callable[[SparkSession, str, str], DataFrame]] = {}


def job(name: str):
    def deco(fn):
        JOBS[name] = fn
        return fn

    return deco


@job("balance_report")
def _balance_report(spark: SparkSession, sf_dir: str, day: str) -> DataFrame:
    from dock_financial_data_pipelines_spark.plans.pipeline import balance_report

    return balance_report(spark, sf_dir, day)


@job("account_statement")
def _account_statement(spark: SparkSession, sf_dir: str, day: str) -> DataFrame:
    from dock_financial_data_pipelines_spark.plans.pipeline import statement_pipeline

    nxt = (date.fromisoformat(day) + timedelta(days=1)).isoformat()
    return statement_pipeline(spark, sf_dir, day, nxt)


@job("daily_events")
def _daily_events(spark: SparkSession, sf_dir: str, day: str) -> DataFrame:
    from pyspark.sql import functions as F

    from dock_financial_data_pipelines_spark.catalog import load

    nxt = (date.fromisoformat(day) + timedelta(days=1)).isoformat()
    return (
        load(spark, sf_dir, "events")
        .where(
            (F.col("ts") >= F.lit(day).cast("timestamp"))
            & (F.col("ts") < F.lit(nxt).cast("timestamp"))
        )
        .withColumn("report_date", F.lit(day))
    )


@dataclass
class RunResult:
    job: str
    day: str
    attempts: int
    rows: int
    wall_s: float
    out_path: str
    skipped: bool = False


# Partition values Spark writes into a directory name verbatim.
_PLAIN_VALUE = re.compile(r"[0-9A-Za-z_.\-]+")


def _marker(out_dir: str, day: str) -> str:
    # Markers live NEXT TO the dataset, not inside it: a non-parquet file
    # under out_dir would break Spark's file-index scan of the target.
    d = f"{out_dir.rstrip('/')}_markers"
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, f"day_{day}.json")


def _published_rows(spark: SparkSession, out_dir: str, day: str, schema) -> int:
    """Rows under ``out_dir``'s ``report_date=<day>`` partition.

    Counted from the parquet footers of the partition's files — the
    files Spark would read, within the committer's byte bound — instead
    of a Spark read-back, which costs a schema-inference job over every
    day plus a two-job count. A day with no rows has no partition
    directory and counts 0. Spark counts instead past the byte bound,
    for a non-local target, and for a day Spark would escape in the
    directory name (or write as the null partition); that read takes
    ``schema``, so it needs no inference and an empty target reads as
    empty."""
    from pyspark.sql import functions as F

    from dock_financial_data_pipelines_spark.catalog import (
        read_parquet_or_empty,
    )
    from dock_financial_data_pipelines_spark.plans.pipeline import (
        parquet_footers,
    )

    if os.path.isdir(out_dir) and _PLAIN_VALUE.fullmatch(day):
        footers = parquet_footers(os.path.join(out_dir, f"report_date={day}"))
        if footers is not None:
            return footers[2]
    return (
        read_parquet_or_empty(spark, out_dir, schema)
        .where(F.col("report_date") == day)
        .count()
    )


def run_job(
    spark: SparkSession,
    job_name: str,
    sf_dir: str,
    day: str,
    out_dir: str,
    retries: int = 3,
    retry_delay_s: float = 0.0,
    force: bool = False,
) -> RunResult:
    """One scheduled run: skip-if-done, retry loop, idempotent publish."""
    if not force and os.path.exists(_marker(out_dir, day)):
        return RunResult(job_name, day, 0, 0, 0.0, out_dir, skipped=True)

    fn = JOBS[job_name]
    last: Exception | None = None
    t0 = time.monotonic()
    for attempt in range(1, retries + 2):
        try:
            df = fn(spark, sf_dir, day)
            if "report_date" not in df.columns:
                from pyspark.sql import functions as F

                df = df.withColumn("report_date", F.lit(day))
            # Per-write option, not a session conf: a session-wide
            # "dynamic" would silently leak into every later plain
            # overwrite on a shared session and leave stale partitions.
            (
                df.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("report_date")
                .parquet(out_dir)
            )
            rows = _published_rows(spark, out_dir, day, df.schema)
            with open(_marker(out_dir, day), "w") as fh:
                fh.write(json.dumps({"job": job_name, "day": day, "rows": rows}))
            return RunResult(
                job_name, day, attempt, rows, time.monotonic() - t0, out_dir
            )
        except Exception as exc:  # noqa: BLE001 - retry loop is the point
            last = exc
            if attempt <= retries and retry_delay_s:
                time.sleep(retry_delay_s)
    raise last  # type: ignore[misc]


def backfill(
    spark: SparkSession,
    job_name: str,
    sf_dir: str,
    days: list[str],
    out_dir: str,
    catchup: bool = True,
    **run_kw,
) -> list[RunResult]:
    """Replay a date range as ordinary per-day runs — the reference's
    Airflow ``catchup`` policy (REPORT:229, ``catchup=False``) restated
    at driver granularity.

    ``catchup=True`` runs EVERY day in the range (a backfill);
    ``catchup=False`` runs only the LATEST day (the reference's
    setting: a paused-then-resumed schedule does not replay history).
    Either way each day is one ``run_job``: the ``_SUCCESS_DAY``
    marker makes re-entry a skip, and dynamic partition overwrite
    makes forced re-execution replace exactly that day's partition —
    together they give ``backfill ∘ backfill == backfill`` (the
    idempotence a multi-day recovery actually needs; at 100 TB the
    days fan out as independent scheduler tasks, same semantics)."""
    todo = sorted(days) if catchup else sorted(days)[-1:]
    return [
        run_job(spark, job_name, sf_dir, d, out_dir, **run_kw)
        for d in todo
    ]


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="dock-fdp-spark job driver")
    p.add_argument("--job", choices=sorted(JOBS), required=True)
    p.add_argument("--day", default=None, help="ISO date; default: yesterday")
    p.add_argument("--backfill-start", default=None,
                   help="ISO date: replay [start, end] instead of one day")
    p.add_argument("--backfill-end", default=None)
    p.add_argument("--no-catchup", action="store_true",
                   help="with --backfill-*: run only the latest day "
                        "(the reference's catchup=False)")
    p.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    p.add_argument("--out", required=True, help="partitioned parquet target")
    p.add_argument("--retries", type=int, default=3)
    p.add_argument("--retry-delay", type=float, default=180.0)
    p.add_argument("--force", action="store_true",
                   help="re-run even if the day's success marker exists")
    args = p.parse_args(argv)

    day = args.day or (date.today() - timedelta(days=1)).isoformat()

    from dock_financial_data_pipelines_spark.session import get_spark

    spark = get_spark(f"dock-fdp-{args.job}")
    if args.backfill_start:
        end = args.backfill_end or day
        d0 = date.fromisoformat(args.backfill_start)
        d1 = date.fromisoformat(end)
        days = [
            (d0 + timedelta(days=i)).isoformat()
            for i in range((d1 - d0).days + 1)
        ]
        results = backfill(
            spark, args.job, args.sf_dir, days, args.out,
            catchup=not args.no_catchup,
            retries=args.retries, retry_delay_s=args.retry_delay,
            force=args.force,
        )
        for r in results:
            print(json.dumps(r.__dict__))
        return 0
    res = run_job(
        spark, args.job, args.sf_dir, day, args.out,
        retries=args.retries, retry_delay_s=args.retry_delay, force=args.force,
    )
    print(json.dumps(res.__dict__))
    return 0


if __name__ == "__main__":
    sys.exit(main())
