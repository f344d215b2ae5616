"""Custom Python Data Source (Spark 4 DataSource API) for the Dock
control-plane: ``spark.read.format("dock_manifest")`` yields one row per
(day, landed file), partitioned by day so each executor task fetches its
own day's manifest independently — the distributed generalization of the
reference's one-day-at-a-time extraction loop (REPORT:52-118).

This is the *engine-integrated* form of sources/rest.py: the same
auth→request→poll flow, but running inside Spark's scan machinery
(schema, partitions, per-partition readers) instead of a driver-side
loop, so a backfill over N days parallelizes across the cluster.
The transport is the deterministic in-memory fake (no network here);
a requests-backed transport drops in per partition at deployment.
"""

from __future__ import annotations

import os
from datetime import date, timedelta

from pyspark.sql import DataFrame, SparkSession

from dock_financial_data_pipelines_spark.registry import query

try:  # Python Data Source API requires pyspark >= 4
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    _HAS_PYDS = True
except ImportError:  # pragma: no cover
    _HAS_PYDS = False


if _HAS_PYDS:

    class DayPartition(InputPartition):
        def __init__(self, day: str):
            self.day = day

    class DockManifestDataSource(DataSource):
        """Options: start (YYYY-MM-DD), days (int)."""

        @classmethod
        def name(cls) -> str:
            return "dock_manifest"

        def schema(self) -> str:
            return "day string, ticket string, file_name string, n_keys int"

        def reader(self, schema) -> "DockManifestReader":
            return DockManifestReader(self.options)

    class DockManifestReader(DataSourceReader):
        def __init__(self, options):
            self.start = options.get("start", "2024-01-01")
            self.days = int(options.get("days", "3"))

        def partitions(self):
            y, m, d = map(int, self.start.split("-"))
            d0 = date(y, m, d)
            return [
                DayPartition((d0 + timedelta(days=i)).isoformat())
                for i in range(self.days)
            ]

        def read(self, partition: DayPartition):
            # Per-partition control-plane fetch: each task runs the
            # ticketed flow for its own day (fake transport here).
            from dock_financial_data_pipelines_spark.sources.rest import (
                DockIngestClient,
                FakeDockTransport,
            )

            client = DockIngestClient(transport=FakeDockTransport())
            ticket = client.request_balance_report(partition.day)
            file_name = client.poll_ticket(ticket)
            yield (partition.day, ticket, file_name, 1)


def register(spark: SparkSession) -> bool:
    if not _HAS_PYDS:
        return False
    from dock_financial_data_pipelines_spark.session import tune

    tune(spark)  # ships the package zip to executor python workers
    try:
        spark.dataSource.register(DockManifestDataSource)
    except Exception:
        pass  # already registered in this session
    return True


@query(
    "r_python_datasource_manifest",
    oracle="""
    SELECT * FROM (VALUES
        ('2024-01-01', 'T20240101', 'balance_T20240101.zip', 1),
        ('2024-01-02', 'T20240102', 'balance_T20240102.zip', 1),
        ('2024-01-03', 'T20240103', 'balance_T20240103.zip', 1),
        ('2024-01-04', 'T20240104', 'balance_T20240104.zip', 1)
    ) t(day, ticket, file_name, n_keys)
    """,
)
def r_python_datasource_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    if not register(spark):  # pragma: no cover - pyspark>=4 in this env
        raise NotImplementedError("Python Data Source API requires pyspark >= 4")
    return (
        spark.read.format("dock_manifest")
        .option("start", "2024-01-01")
        .option("days", "4")
        .load()
    )


# ---------------------------------------------------------------------------
# X26 — custom Python STREAMING data source (Spark 4
# DataSourceStreamReader): the batch manifest source above, made
# incremental. Offsets are day indices: initialOffset starts at day 0,
# latestOffset exposes however many days the control plane has
# published (the `days` option — in production, "what the API says
# exists now"), partitions() yields one InputPartition per unconsumed
# day, and each task runs the ticketed flow for its own day. The
# offset log in the CHECKPOINT is what turns the reference's
# "remember which days we already pulled" bookkeeping (REPORT:52-118's
# day loop) into engine-managed exactly-once: the query below drains
# twice against one checkpoint — first when 2 days exist, again when
# 4 do — and days 0-1 are NOT re-fetched on the second run. At 100 TB
# the same reader backfills N days across the cluster with per-day
# task parallelism, and a crash resumes from the committed offset.
# ---------------------------------------------------------------------------
if _HAS_PYDS:
    from pyspark.sql.datasource import DataSourceStreamReader

    class DockManifestStreamReader(DataSourceStreamReader):
        def __init__(self, options):
            self.start = options.get("start", "2024-01-01")
            self.days = int(options.get("days", "4"))

        def initialOffset(self):
            return {"i": 0}

        def latestOffset(self):
            return {"i": self.days}

        def partitions(self, start, end):
            y, m, d = map(int, self.start.split("-"))
            d0 = date(y, m, d)
            return [
                DayPartition((d0 + timedelta(days=i)).isoformat())
                for i in range(start["i"], end["i"])
            ]

        def read(self, partition: DayPartition):
            from dock_financial_data_pipelines_spark.sources.rest import (
                DockIngestClient,
                FakeDockTransport,
            )

            client = DockIngestClient(transport=FakeDockTransport())
            ticket = client.request_balance_report(partition.day)
            file_name = client.poll_ticket(ticket)
            yield (partition.day, ticket, file_name, 1)

        def commit(self, end):
            pass  # offset durability is the checkpoint's job

    class DockManifestStreamSource(DataSource):
        """Options: start (YYYY-MM-DD), days (int — the control
        plane's current horizon)."""

        @classmethod
        def name(cls) -> str:
            return "dock_manifest_stream"

        def schema(self) -> str:
            return "day string, ticket string, file_name string, n_keys int"

        def streamReader(self, schema) -> "DockManifestStreamReader":
            return DockManifestStreamReader(self.options)


def register_stream(spark: SparkSession) -> bool:
    if not _HAS_PYDS:
        return False
    from dock_financial_data_pipelines_spark.session import tune

    tune(spark)
    try:
        spark.dataSource.register(DockManifestStreamSource)
    except Exception:
        pass  # already registered in this session
    return True


@query(
    "x26_python_datasource_stream",
    # n_appearances = 1 for the early days even though TWO availableNow
    # drains ran over them: the checkpointed offset made the second run
    # start at day 2. A re-fetch would show 2 — the bug this pins.
    oracle="""
    SELECT * FROM (VALUES
        ('2024-01-01', 'T20240101', 'balance_T20240101.zip', 1),
        ('2024-01-02', 'T20240102', 'balance_T20240102.zip', 1),
        ('2024-01-03', 'T20240103', 'balance_T20240103.zip', 1),
        ('2024-01-04', 'T20240104', 'balance_T20240104.zip', 1)
    ) t(day, ticket, file_name, n_appearances)
    """,
)
def x26_python_datasource_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import functions as F

    from dock_financial_data_pipelines_spark.catalog import (
        read_parquet_or_empty,
    )
    from dock_financial_data_pipelines_spark.scratch import work_dir

    if not register_stream(spark):  # pragma: no cover - pyspark>=4 here
        raise NotImplementedError(
            "Python Data Source API requires pyspark >= 4"
        )
    scratch = work_dir(sf_dir, "pyds_stream")
    sink = os.path.join(scratch, "sink")
    ckpt = os.path.join(scratch, "ckpt")

    def drain(days: int) -> None:
        df = (
            spark.readStream.format("dock_manifest_stream")
            .option("start", "2024-01-01")
            .option("days", str(days))
            .load()
        )
        q = (
            df.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain(2)  # the control plane has published 2 days
    drain(4)  # later, 4 exist; the checkpoint resumes at day 2
    landed = read_parquet_or_empty(
        spark,
        sink,
        "day string, ticket string, file_name string, n_keys int",
    )
    return landed.groupBy("day", "ticket", "file_name").agg(
        F.count(F.lit(1)).cast("int").alias("n_appearances")
    )
