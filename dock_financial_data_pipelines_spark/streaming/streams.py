"""Structured Streaming surface (SURVEY.md §2-B X4, X5, X7, X8).

The reference's SFTP sensor + daily trigger (REPORT:121-148, REPORT:227)
generalize to file-arrival streaming with ``trigger(availableNow=True)``:
discover whatever landed, process it incrementally against a checkpoint,
stop. These queries run a real ``readStream`` to completion and return
the materialized result. Where the drained stream is deterministic —
single-batch complete/append sinks (x2/x3/x5/x6), the per-day
ingest/sink aggregates (x8/x9), the time-ordered multi-batch watermark
run (x4) and the eager inner stream-stream join (x11) — the REAL
streaming run carries its own SQL oracle; only the pandas-stateful runs
(x7/x10, whose float accumulation order is engine-private) stay
rows-only, with their semantics covered by the SQL-oracled batch twins.

All state (checkpoints, sinks) goes under a ``scratch.work_dir``, emptied
on entry, so re-runs start clean, mirroring the reference's
``catchup=False``.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from dock_financial_data_pipelines_spark.catalog import (
    dec_sum,
    events_stream_source,
    local_frame,
    read_parquet_or_empty,
)
from dock_financial_data_pipelines_spark.operators.training import (
    model_score_frame,
    quality_features_sql,
)
from dock_financial_data_pipelines_spark.registry import query
from dock_financial_data_pipelines_spark.scratch import built_dir, work_dir
from dock_financial_data_pipelines_spark.shingles import tokens, tokens_sql


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events_stream_source(spark, sf_dir)


def _chunk_stream(spark: SparkSession, schema, chunk_dir: str) -> DataFrame:
    """Stream a dir of ``chunk_*`` files one file per micro-batch, in
    name order."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(os.path.join(chunk_dir, "chunk_*"))
    )


_N_CHUNKS = 4


def _event_chunks(spark: SparkSession, sf_dir: str) -> str:
    """The events table as N time-ordered chunk files (a deterministic
    split, sorted by ts, event_id)."""
    from pyspark.sql import Window

    from dock_financial_data_pipelines_spark.catalog import load

    def build(tmp: str) -> None:
        ntile = F.ntile(_N_CHUNKS).over(Window.orderBy("ts", "event_id"))
        chunked = load(spark, sf_dir, "events").withColumn("chunk", ntile)
        for i in range(1, _N_CHUNKS + 1):
            (
                chunked.where(F.col("chunk") == i)
                .drop("chunk")
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(os.path.join(tmp, f"chunk_{i:02d}"))
            )

    return built_dir(sf_dir, "event_chunks", build)


def _events_stream_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream events as N time-ordered files with maxFilesPerTrigger=1 →
    N micro-batches, so watermark advancement / late-data handling and
    state transitions actually execute (a single file = a single batch
    never exercises them)."""
    from dock_financial_data_pipelines_spark.catalog import load

    ev = load(spark, sf_dir, "events")
    return _chunk_stream(spark, ev.schema, _event_chunks(spark, sf_dir))


_SENTINEL_USER = -1


def _events_stream_with_sentinel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multibatch event stream plus a final SENTINEL chunk: one
    purchase + one click for ``user_id = -1`` stamped 2 h past the real
    max ts. Streaming outer joins / late-data operators can only
    finalize rows the watermark has passed, so with real data alone the
    last 30 min of purchases stay pending forever; the sentinel batch
    is the watermark barrier that forces full finalization (the
    end-of-day "close the books" event every attribution pipeline
    ships). Callers filter ``user_id = -1`` rows out after the drain.

    Built as its own chunk dir (copies of the shared chunks + the
    sentinel written last, so latestFirst=false orders it as the final
    micro-batch); the shared dir used by every other streaming query is
    never polluted with synthetic rows."""
    from dock_financial_data_pipelines_spark.catalog import load

    base = _event_chunks(spark, sf_dir)
    ev = load(spark, sf_dir, "events")

    def build(tmp: str) -> None:
        for i in range(1, _N_CHUNKS + 1):
            name = f"chunk_{i:02d}"
            shutil.copytree(os.path.join(base, name), os.path.join(tmp, name))
        sentinel = ev.agg(
            F.max("ts").alias("max_ts"), F.max("event_id").alias("max_id")
        ).select(
            F.posexplode(
                F.array(F.lit("purchase"), F.lit("click"))
            ).alias("pos", "event_type"),
            (F.col("max_ts") + F.expr("INTERVAL 2 HOURS")).alias("ts"),
            F.lit(_SENTINEL_USER).cast("bigint").alias("user_id"),
            F.col("max_id"),
        )
        cols = [
            F.col(c)
            if c in ("event_type", "ts", "user_id")
            else (
                # distinct ids per sentinel row (max_id+1, max_id+2):
                # consumers that key/dedup on event_id must never see a
                # duplicate introduced by the barrier rows themselves.
                (F.col("max_id") + F.lit(1) + F.col("pos"))
                if c == "event_id"
                else F.lit(None)
            ).cast(dict(ev.dtypes)[c]).alias(c)
            for c in ev.columns
        ]
        sentinel.select(cols).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(tmp, "chunk_99")
        )

    sdir = built_dir(sf_dir, "event_chunks_sentinel", build)
    return _chunk_stream(spark, ev.schema, sdir)


class _stream_partitions:
    """Scope ``spark.sql.shuffle.partitions`` down for a micro-batch run.

    The conf doubles as the state-store partition count: every stateful
    micro-batch commits one state file per partition (plus a Python
    state-server round-trip for the pandas-state APIs), so at fixture
    scale 32 partitions × N batches is pure checkpoint overhead —
    measured: the first stateful query drops from ~17 s to ~7 s at
    n=4. On a real cluster the same knob is sized to key cardinality /
    cores (hundreds-plus); only the number differs, not the plan."""

    def __init__(self, spark: SparkSession, n: int = 4):
        self.spark, self.n = spark, n

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)


def _run_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str,
    progress_hook=None,
) -> DataFrame:
    """Drain a stream into a memory sink with availableNow.

    ``progress_hook``, when given, receives the completed query's
    ``recentProgress`` list after termination — used by queries whose
    oracle encodes measured engine behavior (e.g. x17's watermark
    propagation staircase) to fail fast with a clear message if a Spark
    upgrade changes that behavior, instead of surfacing as an opaque
    oracle hash mismatch."""
    with _stream_partitions(stream_df.sparkSession):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", work_dir(None, name))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if progress_hook is not None:
            progress_hook(q.recentProgress)
    result = stream_df.sparkSession.table(name)
    return result


# ---------------------------------------------------------------------------
# X4 — watermarked tumbling-window aggregation over a file stream
# ---------------------------------------------------------------------------
@query(
    "x4_stream_tumbling_watermark",
    # The multi-batch append run IS deterministic and therefore
    # oracle-able: chunks are time-ordered (nothing ever arrives late,
    # so no window loses events), and availableNow ends with a no-data
    # micro-batch that advances the watermark to global max(ts) - 10 min
    # and flushes every window whose end <= that watermark (Spark
    # truncates the watermark to milliseconds — the oracle reproduces
    # the µs → ms truncation exactly). The withheld tail windows are
    # precisely those the oracle's inequality excludes.
    oracle="""
    WITH agg AS (
        SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS window_start,
               count(*) AS n_events,
               round(sum(CAST(value AS DECIMAL(27,6))), 2)::DOUBLE AS total_value
        FROM events GROUP BY 1
    ),
    wm AS (
        SELECT (CAST(floor(epoch_us(max(ts)) / 1000) AS BIGINT) - 600000) * 1000
               AS w_us
        FROM events
    )
    SELECT a.window_start, a.n_events, a.total_value
    FROM agg a, wm
    WHERE (a.window_start + 300) * 1000000 <= wm.w_us
    """,
)
def x4_stream_tumbling_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Multi-batch source + append mode: the watermark advances between
    # micro-batches and emits each window only once it is final — the
    # actual late-data semantics, not a single-batch approximation.
    agg = (
        _events_stream_multibatch(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value", scale=6).alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).cast("bigint").alias("window_start"),
            "n_events",
            "total_value",
        )
    )
    return _run_to_memory(agg, "x4_windows", "append")


# ---------------------------------------------------------------------------
# X2/X3 streaming forms — sliding and session windows over the stream
# (batch twins x2_sliding_window / x3_session_window carry the oracles).
# ---------------------------------------------------------------------------
@query(
    "x2_stream_sliding_window",
    # The source is one parquet file → one micro-batch, and the sink is
    # complete-mode: the drained stream's result equals the batch
    # sliding-window aggregate, so the REAL readStream run is held to a
    # SQL oracle (each event belongs to exactly two 10-min/5-min
    # windows, which the oracle enumerates).
    oracle="""
    WITH shifted AS (
        SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) - k AS window_start
        FROM events CROSS JOIN (VALUES (0), (300)) offsets(k)
    )
    SELECT window_start, count(*) AS n_events
    FROM shifted GROUP BY 1
    """,
)
def x2_stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_timestamp(F.col("w.start")).cast("bigint").alias("window_start"),
            "n_events",
        )
    )
    return _run_to_memory(agg, "x2_sliding", "complete")


@query(
    "x3_stream_session_window",
    # Single-batch complete-mode run ≡ batch session windows; the
    # oracle rebuilds session_window(30 min) per user with the
    # lag→flag→cumsum identity (new session when the gap is >= the 30
    # min gap duration — session_window extends [ts, ts+gap)).
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) >= 1800
                    OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, ts,
               sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_no
        FROM flagged
    )
    SELECT user_id,
           CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
           count(*) AS n_events
    FROM sessions GROUP BY user_id, session_no
    """,
)
def x3_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "30 minutes")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).cast("bigint").alias("session_start"),
            "n_events",
        )
    )
    return _run_to_memory(agg, "x3_sessions", "complete")


# ---------------------------------------------------------------------------
# X5 — streaming dedup within the watermark
# ---------------------------------------------------------------------------
@query(
    "x5_stream_dedup_watermark",
    # event_id is unique in the fixture, so the watermark-bounded dedup
    # must pass every row through exactly once — the drained stream
    # equals a plain projection, independent of arrival order.
    oracle="SELECT event_id, user_id, event_type FROM events",
)
def x5_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    deduped = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    return _run_to_memory(deduped, "x5_dedup", "append")


# ---------------------------------------------------------------------------
# X7 — custom stateful per-key processing: running balance via
# applyInPandasWithState (final state per user after draining the stream).
# ---------------------------------------------------------------------------
@query(
    "x7_stateful_running_balance",
    # The custom stateful operator IS oracle-able: state accumulates
    # integer CENTS (money-rounded per event with the cross-engine
    # floor(x*100+0.5) primitive), so accumulation order cannot perturb
    # the result, and the update-mode sink emits exactly one row per
    # (user, micro-batch-with-activity). The micro-batches are the
    # deterministic ntile(4) time-split of the events table, so the
    # oracle reproduces the full update log: per-user cumulative counts
    # and cent totals at each chunk boundary where the user was active.
    oracle="""
    WITH chunked AS (
        SELECT user_id, value,
               ntile(4) OVER (ORDER BY ts, event_id) AS chunk
        FROM events
    ),
    per AS (
        SELECT user_id, chunk,
               count(*) AS n,
               sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents
        FROM chunked GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(sum(n) OVER (
               PARTITION BY user_id ORDER BY chunk
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_events,
           CAST(sum(cents) OVER (
               PARTITION BY user_id ORDER BY chunk
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) / 100.0 AS balance
    FROM per
    """,
)
def x7_stateful_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("balance", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("cents", LongType()),
        ]
    )

    def update(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import math

        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # integer-cent accumulation: order-independent, and the
            # same floor(x*100+0.5) per-event rounding the SQL side
            # applies — float-sum state would diverge by accumulation
            # order and could never be hash-checked.
            cents += int(
                sum(math.floor(v * 100 + 0.5) for v in pdf["value"].tolist())
            )
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "balance": [cents / 100.0]}
        )

    result = (
        _events_stream_multibatch(spark, sf_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )
    return _run_to_memory(result, "x7_state", "update")


# ---------------------------------------------------------------------------
# X6 — stream-static join: the streaming side joins the broadcastable
# customer dimension per micro-batch (batch twin: x6_stream_static_join_twin).
# ---------------------------------------------------------------------------
@query(
    "x6_stream_static_join",
    # Stateless per-row enrichment: the drained append-mode stream
    # equals the batch join row-for-row.
    oracle="""
    SELECT e.event_id, e.user_id, c.c_mktsegment, e.event_type, e.value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def x6_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dock_financial_data_pipelines_spark.catalog import load

    cust = load(spark, sf_dir, "customer")
    joined = (
        _events_stream(spark, sf_dir)
        .join(F.broadcast(cust), F.col("user_id") == F.col("c_custkey"))
        .select("event_id", "user_id", "c_mktsegment", "event_type", "value")
    )
    return _run_to_memory(joined, "x6_joined", "append")


# ---------------------------------------------------------------------------
# X9 — foreachBatch sink: per-micro-batch idempotent upsert into a
# partitioned parquet target. Each micro-batch owns the
# ``batch_id=<id>`` partition subtree and overwrites exactly that
# subtree — a replay of the same batch id (checkpoint recovery)
# replaces its own prior output and never touches other batches'
# rows, even when several batches share an ingest_date. This is the
# streaming form of the reference's replace=True (REPORT:172), made
# safe for >1 micro-batch.
# ---------------------------------------------------------------------------
@query(
    "x9_foreach_batch_sink",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS ingest_date,
           count(*) AS n_events,
           round(sum(CAST(value AS DECIMAL(27,6))), 2)::DOUBLE AS total_value
    FROM events GROUP BY 1
    """,
)
def x9_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    sink = work_dir(sf_dir, "x9_sink")

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn(
                "ingest_date", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
            )
            .write.mode("overwrite")
            .partitionBy("ingest_date")
            .parquet(os.path.join(sink, f"batch_id={batch_id}"))
        )

    stream = _events_stream_multibatch(spark, sf_dir)
    with _stream_partitions(spark):
        q = (
            stream.writeStream.foreachBatch(upsert)
            .option("checkpointLocation", work_dir(sf_dir, "x9_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # An empty source triggers no batches, so the batch_id=* glob can
    # match nothing — an empty sink, not an error. ingest_date is a
    # partition directory; naming it in the schema fills it on read.
    from pyspark.sql.types import StringType as _Str
    sink_schema = stream.schema.add("ingest_date", _Str())
    return (
        read_parquet_or_empty(
            spark, os.path.join(sink, "batch_id=*"), sink_schema,
            basePath=sink,
        )
        .groupBy("ingest_date")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value", scale=6).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# X10 — transformWithStateInPandas (Spark 4 stateful API): per-user
# running count/balance kept in a ValueState, emitted per batch.
# The TWS state-server protocol needs the google.protobuf runtime. When
# it is not pip-installed, the probe below also accepts a known VENDORED
# copy of the public protobuf library on this machine (the Google Cloud
# SDK ships one) — with it the PRIMARY transformWithStateInPandas branch
# runs even in containers without a protobuf install. Only when neither
# exists does the query fall back to an applyInPandasWithState
# formulation with IDENTICAL semantics and output schema, so the
# registered surface is always driver-checkable.
# ---------------------------------------------------------------------------
# Directories whose `google/protobuf` subpackage is a pure-Python build
# of the PUBLIC protobuf runtime (BSD-licensed, vendored verbatim by the
# publicly distributed google-cloud-sdk). Used only when `import
# google.protobuf` fails outright.
_VENDORED_PROTOBUF_DIRS = (
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
)


def _vendored_protobuf_dir():
    for d in _VENDORED_PROTOBUF_DIRS:
        if os.path.isdir(os.path.join(d, "google", "protobuf")):
            return d
    return None


def _probe_protobuf() -> bool:
    """Side-effect-free: would the native TWS branch run here? Used at
    registration time to bake the oracle's expected impl_path literal."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return _vendored_protobuf_dir() is not None


def _bootstrap_protobuf() -> bool:
    """Make google.protobuf importable in THIS process, activating the
    vendored runtime when no installed one exists. Returns True when
    google.protobuf is usable afterwards.

    Called on the driver before building the TWS query AND at processor
    deserialization time (__setstate__), which runs in every TWS Python
    process — executor workers and the driver-side PRE_INIT runner —
    strictly before the first lazy ``StateMessage_pb2`` import, so the
    activation lands wherever the state protocol runs with no reliance
    on worker env propagation."""
    import sys as _sys

    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        pass
    d = _vendored_protobuf_dir()
    if d is None:
        return False
    if d not in _sys.path:
        _sys.path.append(d)
    # Official protobuf escape hatch (protobuf's runtime_version.py):
    # the vendored runtime may be one MINOR behind Spark's gencode
    # (observed: runtime 6.32 vs gencode 6.33); the proto3 wire format
    # is unchanged within a major and the TWS StateMessage schema
    # predates both, so lifting the pinned-version check is safe here.
    os.environ.setdefault(
        "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK", "true"
    )
    # Spark's python workers carry spark-core.jar on sys.path (for the
    # py4j protocol); the jar's google/protobuf/*.proto RESOURCE
    # directory imports as an EMPTY namespace package, and once that is
    # cached in sys.modules the vendored regular package can never
    # resolve ("cannot import name 'descriptor' ... (unknown
    # location)"). Evict the stale namespace artifacts — modules under
    # google.* with no __file__ — so the retry re-scans sys.path, where
    # the vendored regular package now wins over the jar's portion.
    for name, mod in list(_sys.modules.items()):
        if (
            name == "google" or name.startswith("google.")
        ) and getattr(mod, "__file__", None) is None:
            del _sys.modules[name]
    try:
        import importlib

        importlib.invalidate_caches()
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:  # pragma: no cover - vendored copy unreadable
        return False


@query(
    "x10_transform_with_state",
    # Same hard check as x7: integer-cent state makes both the TWS and
    # the fallback branch emit the identical, order-independent update
    # log, reproducible in SQL at each deterministic ntile(4)
    # micro-batch boundary. The impl_path column makes the executed
    # branch auditable in the driver record: each branch literal-tags
    # its own rows ('native' in _x10_tws_native, 'fallback' in
    # _x10_tws_fallback), while the oracle's expected tag is baked at
    # registration time from the same protobuf probe that picks the
    # branch — so a green hash row proves the probed env and the
    # executed code path agree (round-3 verdict ask #6).
    oracle=f"""
    WITH chunked AS (
        SELECT user_id, value,
               ntile(4) OVER (ORDER BY ts, event_id) AS chunk
        FROM events
    ),
    per AS (
        SELECT user_id, chunk,
               count(*) AS n,
               sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents
        FROM chunked GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(sum(n) OVER (
               PARTITION BY user_id ORDER BY chunk
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_events,
           CAST(sum(cents) OVER (
               PARTITION BY user_id ORDER BY chunk
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) / 100.0 AS balance,
           '{"native" if _probe_protobuf() else "fallback"}' AS impl_path
    FROM per
    """,
)
def x10_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    if not _bootstrap_protobuf():  # pragma: no cover - env-dependent branch
        return _x10_tws_fallback(spark, sf_dir)
    return _x10_tws_native(spark, sf_dir)


def _x10_tws_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState twin of the TWS processor below — same
    per-key ValueState update rule, same (user_id, n_events, balance)
    output, different state API."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("balance", DoubleType()),
            StructField("impl_path", StringType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("cents", LongType())]
    )

    def update(key, pdfs, state: GroupState):
        import math

        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int(
                sum(math.floor(v * 100 + 0.5) for v in pdf["value"].tolist())
            )
        state.update((n, cents))
        # Branch-local literal, NOT the probe: proves this code ran.
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "balance": [cents / 100.0],
                "impl_path": ["fallback"],
            }
        )

    result = (
        _events_stream_multibatch(spark, sf_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )
    return _run_to_memory(result, "x10_tws", "update")


def _x10_tws_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("balance", DoubleType()),
            StructField("impl_path", StringType()),
        ]
    )

    class RunningBalance(StatefulProcessor):
        # The processor is deserialized in every TWS Python process (the
        # driver-side PRE_INIT runner and each executor worker) strictly
        # before the first lazy StateMessage_pb2 import — the PRE_INIT
        # runner calls set_handle_state (a proto call) BEFORE init(), so
        # unpickle time is the only hook early enough to activate the
        # vendored protobuf runtime where none is installed.
        def __getstate__(self):
            # Must be truthy or pickle skips __setstate__ entirely (the
            # instance is pickled BEFORE init(), with an empty __dict__).
            return {"_boot": True, **self.__dict__}

        def __setstate__(self, state):
            _bootstrap_protobuf()
            state.pop("_boot", None)
            self.__dict__.update(state)

        def init(self, handle: StatefulProcessorHandle) -> None:
            _bootstrap_protobuf()  # idempotent; covers non-pickled paths
            state_schema = StructType(
                [StructField("n", LongType()), StructField("cents", LongType())]
            )
            self.state = handle.getValueState("acct", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            import math

            n, cents = self.state.get() if self.state.exists() else (0, 0)
            for pdf in rows:
                n += len(pdf)
                cents += int(
                    sum(math.floor(v * 100 + 0.5) for v in pdf["value"].tolist())
                )
            self.state.update((n, cents))
            # Branch-local literal, NOT the probe: proves this code ran.
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "balance": [cents / 100.0],
                    "impl_path": ["native"],
                }
            )

        def close(self) -> None:
            pass

    result = (
        _events_stream_multibatch(spark, sf_dir)
        .groupBy("user_id")
        .transformWithStateInPandas(
            # timeMode "None": no timers are registered, and under
            # ProcessingTime the availableNow drain never terminates —
            # Spark keeps scheduling timer-advance micro-batches
            # (observed: 988 committed batches before the run was
            # killed). With "None" the drain is data-driven: 4 chunk
            # batches + the final no-data batch, then termination.
            RunningBalance(), out_schema, "Update", "None"
        )
    )
    # TWS state (multiple column families per key) requires the RocksDB
    # state store; the default HDFS-backed store rejects it outright
    # (STATE_STORE_MULTIPLE_COLUMN_FAMILIES_NOT_SUPPORTED). Scope the
    # provider to this run — the conf binds at query start, and other
    # streaming queries keep the default store.
    conf_key = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    prev = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, rocksdb)
    try:
        return _run_to_memory(result, "x10_tws", "update")
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)


# ---------------------------------------------------------------------------
# X8 — file-arrival ingest (the SFTP sensor restated): stream the landed
# files into a parquet sink with a checkpoint, then read the sink back.
# ---------------------------------------------------------------------------
@query(
    "x8_incremental_file_ingest",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS ingest_date,
           count(*) AS n_events,
           round(sum(CAST(value AS DECIMAL(27,6))), 2)::DOUBLE AS total_value
    FROM events GROUP BY 1
    """,
)
def x8_incremental_file_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    sink = work_dir(sf_dir, "x8_sink")
    enriched = _events_stream(spark, sf_dir).withColumn(
        "ingest_date", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    )
    with _stream_partitions(spark):
        q = (
            enriched.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", work_dir(sf_dir, "x8_ckpt"))
            .partitionBy("ingest_date")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # A 0-row stream leaves the parquet sink without data files; read
    # back with the stream's schema so an empty day is an empty sink.
    return (
        read_parquet_or_empty(spark, sink, enriched.schema)
        .groupBy("ingest_date")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value", scale=6).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# X11 — stream-stream join: purchases joined to the same user's clicks
# in the preceding 30 minutes, both sides watermarked so Spark can bound
# the join state and emit finalized pairs (the attribution join every
# event pipeline runs). Batch twin x11_stream_stream_join_twin carries
# the SQL oracle.
# ---------------------------------------------------------------------------
@query(
    "x11_stream_stream_join",
    # INNER stream-stream joins emit matches eagerly (the watermark only
    # bounds state eviction), and with time-ordered chunks no click a
    # later purchase still needs can be evicted: the click-state
    # watermark trails by the 30-minute join range, so every valid pair
    # survives. The drained stream therefore equals the batch interval
    # join, and the REAL streaming run carries the same oracle as its
    # batch twin.
    oracle="""
    SELECT p.event_id AS purchase_id,
           c.event_id AS click_id,
           p.user_id,
           CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_epoch,
           CAST(floor(epoch(c.ts)) AS BIGINT) AS click_epoch
    FROM events p
    JOIN events c
      ON c.user_id = p.user_id
     AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL 30 MINUTE
     AND c.ts <= p.ts
    WHERE p.event_type = 'purchase'
    """,
)
def x11_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_stream_multibatch(spark, sf_dir)
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "30 minutes")
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "30 minutes")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
    ).select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        F.unix_timestamp("p_ts").cast("bigint").alias("purchase_epoch"),
        F.unix_timestamp("c_ts").cast("bigint").alias("click_epoch"),
    )
    return _run_to_memory(joined, "x11_joined", "append")


# ---------------------------------------------------------------------------
# X12 — streaming dead-letter quarantine: the corrupt-CSV feed (S14's
# fixture) consumed as a STREAM, with every micro-batch split by the
# same explicit try_cast validity rule into a good parquet sink and a
# raw-text quarantine sink (the dead-letter queue). The audit row read
# back from the two sinks is deterministic — validation is row-local,
# so batching cannot change which side a row lands on — which is why
# this real foreachBatch run carries a full SQL oracle (the same
# numbers S14 computes directly from the file).
# ---------------------------------------------------------------------------
@query(
    "x12_stream_deadletter",
    oracle=None,  # replaced below: reuse s14's oracle verbatim
)
def x12_stream_deadletter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dock_financial_data_pipelines_spark.sources.readers import (
        _corrupt_csv_fixture,
    )

    path = _corrupt_csv_fixture()
    good_sink = work_dir(sf_dir, "x12_good")
    dead_sink = work_dir(sf_dir, "x12_dead")

    def split(batch_df: DataFrame, batch_id: int) -> None:
        ok = (
            F.expr("try_cast(k AS BIGINT)").isNotNull()
            & F.expr("try_cast(amount AS DOUBLE)").isNotNull()
            & F.expr("try_cast(day AS DATE)").isNotNull()
        )
        flagged = batch_df.withColumn("ok", ok)
        (
            flagged.where("ok")
            .selectExpr(
                "try_cast(k AS BIGINT) AS k",
                "try_cast(amount AS DOUBLE) AS amount",
                "try_cast(day AS DATE) AS day",
            )
            .write.mode("overwrite")
            .parquet(os.path.join(good_sink, f"batch_id={batch_id}"))
        )
        (
            flagged.where(~F.col("ok"))
            .selectExpr("concat_ws(',', k, amount, day) AS raw_line")
            .write.mode("overwrite")
            .parquet(os.path.join(dead_sink, f"batch_id={batch_id}"))
        )

    with _stream_partitions(spark):
        q = (
            spark.readStream.schema("k STRING, amount STRING, day STRING")
            .option("header", "true")
            .option("maxFilesPerTrigger", "1")
            .csv(os.path.dirname(path))
            .writeStream.foreachBatch(split)
            .option("checkpointLocation", work_dir(sf_dir, "x12_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    good = spark.read.parquet(os.path.join(good_sink, "batch_id=*"))
    dead = spark.read.parquet(os.path.join(dead_sink, "batch_id=*"))
    return (
        good.agg(
            F.count(F.lit(1)).cast("long").alias("n_good"),
            dec_sum("amount", scale=2).alias("good_amount"),
            F.date_format(F.min("day"), "yyyy-MM-dd").alias("first_day"),
        )
        .crossJoin(dead.agg(F.count(F.lit(1)).cast("long").alias("n_corrupt")))
        .select(
            (F.col("n_good") + F.col("n_corrupt")).alias("n_rows"),
            "n_good",
            "n_corrupt",
            "good_amount",
            "first_day",
        )
    )


# x12's result is definitionally s14's audit row: same file, same
# validity rule — so it shares the same oracle text. Import readers
# explicitly so this module is import-order independent (it must not
# rely on load_all() happening to import sources.readers first).
def _share_s14_oracle() -> None:
    import dock_financial_data_pipelines_spark.sources.readers  # noqa: F401

    from dock_financial_data_pipelines_spark.registry import ORACLES

    ORACLES["x12_stream_deadletter"] = ORACLES["s14_corrupt_csv_audit"]


_share_s14_oracle()


# ---------------------------------------------------------------------------
# X13 — streaming trending top-k: event-type counts per 10-minute
# tumbling window over the real readStream, then the per-window top-3
# ranking applied to the drained sink. Streaming aggregations cannot
# host window-rank functions (Spark restriction), so the rank runs on
# the memory-sink table — exactly how a production job does it: the
# stream maintains the (window, type) counts; the "trending" read is a
# cheap batch query over the continuously-updated state store / sink.
# Single-batch complete-mode drain ≡ the batch aggregate, so the whole
# pipeline carries a full SQL oracle; ranks tie-break by event_type so
# the top-3 cut is total-ordered.
# ---------------------------------------------------------------------------
@query(
    "x13_stream_trending_topk",
    oracle="""
    WITH agg AS (
        SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS window_start,
               event_type, count(*) AS n_events
        FROM events GROUP BY 1, 2
    ),
    ranked AS (
        SELECT window_start, event_type, n_events,
               row_number() OVER (PARTITION BY window_start
                                  ORDER BY n_events DESC, event_type) AS rk
        FROM agg
    )
    SELECT window_start, event_type, n_events, rk
    FROM ranked WHERE rk <= 3
    """,
)
def x13_stream_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(
            F.window("ts", "10 minutes").alias("w"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_timestamp(F.col("w.start")).cast("bigint").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
        )
    )
    sunk = _run_to_memory(agg, "x13_trending", "complete")
    rk = F.row_number().over(
        Window.partitionBy("window_start").orderBy(
            F.desc("n_events"), "event_type"
        )
    )
    return sunk.withColumn("rk", rk).where(F.col("rk") <= 3)


# ---------------------------------------------------------------------------
# X14 — stream-stream LEFT OUTER join: every purchase with its prior
# 30-minute clicks, AND the purchases with no such click as explicit
# null rows — the semantics x11's inner join cannot express (the
# "orphan conversions" every attribution pipeline must surface). Inner
# matches emit eagerly; a null row emits only once the watermark
# proves no qualifying click can still arrive. The drain appends a
# SENTINEL chunk (one purchase + one click for user_id -1, 2 h past
# the real max ts) as a 5th micro-batch: it advances both input
# watermarks past every real purchase, and the availableNow final
# no-data batch then evicts the whole outer-join state — so ALL real
# no-match purchases flush their null rows and the oracle covers the
# complete LEFT OUTER result, not just a conservative finalized
# region (sentinel rows are filtered out post-drain). This is the
# production "close the books" pattern: emit a max-timestamp barrier
# to force orphan finalization at end-of-day.
# ---------------------------------------------------------------------------
@query(
    "x14_stream_stream_left_join",
    oracle="""
    WITH matched AS (
        SELECT p.event_id AS purchase_id, c.event_id AS click_id,
               p.user_id,
               CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_epoch
        FROM events p JOIN events c
          ON c.user_id = p.user_id
         AND c.event_type = 'click'
         AND c.ts >= p.ts - INTERVAL 30 MINUTE
         AND c.ts <= p.ts
        WHERE p.event_type = 'purchase'
    ),
    unmatched AS (
        SELECT p.event_id AS purchase_id, CAST(NULL AS BIGINT) AS click_id,
               p.user_id,
               CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_epoch
        FROM events p
        WHERE p.event_type = 'purchase'
          AND NOT EXISTS (SELECT 1 FROM events c
                          WHERE c.user_id = p.user_id
                            AND c.event_type = 'click'
                            AND c.ts >= p.ts - INTERVAL 30 MINUTE
                            AND c.ts <= p.ts)
    )
    SELECT * FROM matched
    UNION ALL
    SELECT * FROM unmatched
    """,
)
def x14_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_stream_with_sentinel(spark, sf_dir)
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "30 minutes")
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "30 minutes")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "left_outer",
    ).select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        F.unix_timestamp("p_ts").cast("bigint").alias("purchase_epoch"),
    )
    drained = _run_to_memory(joined, "x14_left_joined", "append")
    # Drop the watermark-barrier sentinel; every REAL purchase row —
    # matched or null-flushed orphan — survives and is oracle-checked.
    return drained.where(F.col("user_id") != _SENTINEL_USER)


# ---------------------------------------------------------------------------
# X15 — streaming progress metrics: per-micro-batch input row counts
# read off the StreamingQuery progress API after an availableNow drain
# — the monitoring surface a stream operator watches (o_metrics_report
# is its batch sibling). With maxFilesPerTrigger=1 over the 4
# time-ordered chunk files, data batches map 1:1 onto chunks in file
# order, so the row counts are exactly the chunk sizes — the oracle
# recomputes them with the same ntile(4) split. Empty bookkeeping
# batches (the final watermark-advance batch) are filtered on
# numInputRows > 0.
# ---------------------------------------------------------------------------
@query(
    "x15_stream_progress_metrics",
    oracle="""
    WITH ranked AS (
        SELECT ntile(4) OVER (ORDER BY ts, event_id) AS chunk FROM events
    )
    SELECT CAST(chunk AS INT) AS batch_seq,
           count(*) AS num_input_rows
    FROM ranked GROUP BY 1 ORDER BY 1
    """,
)
def x15_stream_progress_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        _events_stream_multibatch(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    with _stream_partitions(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName("x15_progress")
            .outputMode("complete")
            .option("checkpointLocation", work_dir(sf_dir, "x15_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progress = [
            int(p["numInputRows"])
            for p in (q.recentProgress or [])
            if int(p["numInputRows"]) > 0
        ]
    rows = [(i + 1, n) for i, n in enumerate(progress)]
    return local_frame(spark, 
        rows, "batch_seq INT, num_input_rows BIGINT"
    )


# ---------------------------------------------------------------------------
# X16 — streaming velocity screen: the Structured-Streaming twin of
# q_fraud_velocity's batch rule — per-user event counts over sliding
# 30-minute windows (10-minute slide), users flagged when any window
# reaches the threshold. The windowed count is the stateful streaming
# aggregate (watermark bounds state); the flag rollup reads the drained
# sink — the state-store + cheap-batch-read production split, as in
# x13. Complete-mode single-batch drain ≡ the batch sliding-window
# aggregate (the x2 enumeration: each event lands in exactly 3
# windows), so the whole pipeline carries a full SQL oracle.
# ---------------------------------------------------------------------------
_VEL_STREAM_MIN = 2


@query(
    "x16_stream_velocity",
    oracle=f"""
    WITH wins AS (
        SELECT user_id,
               (CAST(floor(epoch(ts) / 600) AS BIGINT) - k.k) * 600 AS ws
        FROM events, (SELECT unnest(range(3)) AS k) k
    ),
    counts AS (
        SELECT user_id, ws, count(*) AS n FROM wins GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(max(n) AS BIGINT) AS peak_30min_events,
           CAST(sum(CASE WHEN n >= {_VEL_STREAM_MIN} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hot_windows
    FROM counts GROUP BY user_id
    HAVING max(n) >= {_VEL_STREAM_MIN}
    ORDER BY user_id
    """,
)
def x16_stream_velocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "30 minutes")
        .groupBy(
            F.window("ts", "30 minutes", "10 minutes").alias("w"),
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_timestamp(F.col("w.start")).cast("bigint").alias("ws"),
            "user_id",
            "n",
        )
    )
    sunk = _run_to_memory(agg, "x16_velocity", "complete")
    return (
        sunk.groupBy("user_id")
        .agg(
            F.max("n").cast("long").alias("peak_30min_events"),
            F.sum(F.when(F.col("n") >= _VEL_STREAM_MIN, 1).otherwise(0))
            .cast("long")
            .alias("n_hot_windows"),
        )
        .where(F.col("peak_30min_events") >= _VEL_STREAM_MIN)
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# X17 — watermark LATE-DATA DROP semantics. Every other streaming
# fixture streams time-ordered chunks, so nothing ever arrives late
# and the watermark only gates EMISSION (x4's contract). Here the
# events are split by event_id MOD 4 — each micro-batch spans the full
# time range, so batch 1 drives the watermark to (global max − 10 min)
# and most of batches 2-4 arrive LATE. The engine must drop exactly
# the rows whose 5-minute window was already finalized (window_end ≤
# watermark as of the batch start — i.e. the state was evicted by the
# append-mode flush) and absorb the rest. The oracle replays the
# 4-batch watermark staircase exactly — with the MEASURED one-batch
# propagation lag: the watermark enforced while batch k executes is
# derived from batches ≤ k−2 (batch 1 of this pipeline drops 0 rows —
# verified against StreamingQueryProgress numRowsDroppedByWatermark =
# [0, 0, 249, 249] at sf0.001 — because the update computed from batch
# k−1's stats reaches the offset log one trigger later). A batch-k row
# survives iff its window_end > wm_{k-2} (state for emitted windows is
# evicted; Spark's watermarkPredicateForData is window-end based), and
# a window emits iff window_end ≤ wm_final (all batches; the
# availableNow no-data batch applies it — the x4 idiom, ms-truncated).
# Deterministic because the batch order is the file order. This is the
# operator that proves the engine's late-data contract, not just its
# happy path.
# ---------------------------------------------------------------------------
def _events_stream_modsplit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events as N chunks split by event_id % N (NOT time-ordered):
    every chunk spans the whole time range, so chunks 2..N arrive
    largely behind the watermark — the late-data stress source."""
    from dock_financial_data_pipelines_spark.catalog import load

    ev = load(spark, sf_dir, "events")

    def build(tmp: str) -> None:
        for i in range(_N_CHUNKS):
            (
                ev.where(F.col("event_id") % _N_CHUNKS == i)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(os.path.join(tmp, f"chunk_{i:02d}"))
            )

    chunk_dir = built_dir(sf_dir, "event_chunks_modsplit", build)
    return _chunk_stream(spark, ev.schema, chunk_dir)


def _x17_check_progress(
    progress: list, chunk_counts: list, guaranteed_b2_drops: int
) -> None:
    """x17's runtime staircase pin, module-level so the armed-path test
    (tests/test_streaming_pins.py) can drive it with synthetic progress
    lists and prove each trip-wire actually raises. ``progress`` is the
    list of StreamingQueryProgress dicts the memory-sink drain observed;
    ``chunk_counts`` is the expected one-file-per-trigger batch
    composition; ``guaranteed_b2_drops`` is a data-derived lower bound
    on batch-2 watermark drops (0 ⇒ the third check goes quiet rather
    than false-alarming on cardinality-starved fixtures)."""
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    inputs = [p["numInputRows"] for p in data]
    drops = [
        (p.get("stateOperators") or [{}])[0].get(
            "numRowsDroppedByWatermark", 0
        )
        for p in data
    ]
    if inputs != chunk_counts:
        raise RuntimeError(
            "x17 oracle assumption broken: expected one micro-batch "
            f"per chunk with numInputRows={chunk_counts}, observed "
            f"{inputs} — the file source no longer batches one file "
            "per trigger (or a chunk was written as multiple part "
            "files); the oracle's staircase replay is invalid."
        )
    if any(drops[:2]):
        raise RuntimeError(
            "x17 oracle assumption broken: batches 0-1 dropped "
            f"{drops[:2]} rows — the one-batch watermark propagation "
            "lag (batch k gated by the staircase through k-2) no "
            "longer holds; Spark now enforces the watermark earlier."
        )
    if len(drops) >= 3 and drops[2] == 0 and guaranteed_b2_drops > 0:
        raise RuntimeError(
            "x17 oracle assumption broken: batch 2 dropped 0 rows "
            f"although the data guarantees >= {guaranteed_b2_drops} "
            "drops under the k-2 staircase — watermark propagation "
            "is now slower than the measured one-batch lag, so the "
            "oracle would under-drop."
        )


@query(
    "x17_stream_late_data_drop",
    oracle="""
    WITH chunked AS (
        SELECT ts, event_id % 4 AS chunk FROM events
    ),
    batch_max AS (
        SELECT chunk,
               (CAST(floor(epoch_us(max(ts)) / 1000) AS BIGINT) - 600000)
                   * 1000 AS bwm_us
        FROM chunked GROUP BY 1
    ),
    staircase AS (
        SELECT chunk,
               max(bwm_us) OVER (ORDER BY chunk
                   ROWS UNBOUNDED PRECEDING) AS wm_cum_us
        FROM batch_max
    ),
    accepted AS (
        -- one-batch propagation lag: batch k is gated by the watermark
        -- cumulated through batch k-2 (see docstring; measured)
        SELECT c.ts
        FROM chunked c
        LEFT JOIN staircase s ON s.chunk = c.chunk - 2
        WHERE s.chunk IS NULL  -- batches 0-1: no enforced watermark yet
           OR (CAST(floor(epoch(c.ts) / 300) * 300 + 300 AS BIGINT)
               * 1000000) > s.wm_cum_us
    ),
    agg AS (
        SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS window_start,
               count(*) AS n_events
        FROM accepted GROUP BY 1
    ),
    final_wm AS (SELECT max(wm_cum_us) AS w_us FROM staircase)
    SELECT a.window_start, a.n_events
    FROM agg a, final_wm
    WHERE (a.window_start + 300) * 1000000 <= final_wm.w_us
    ORDER BY a.window_start
    """,
)
def x17_stream_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dock_financial_data_pipelines_spark.catalog import load

    # The oracle replays two MEASURED Spark internals (see the block
    # comment above): one-file-per-chunk batch composition and the
    # one-batch watermark propagation lag. Pin both at runtime so a
    # Spark upgrade / file-source batching change surfaces as a clear
    # error here, not as an opaque oracle hash mismatch downstream.
    chunk_counts = [
        r["n"]
        for r in load(spark, sf_dir, "events")
        .groupBy((F.col("event_id") % 4).alias("c"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("c")
        .collect()  # bounded: exactly 4 rows
    ]
    # Lower bound on batch-2 drops that holds under ANY propagation
    # timing at least as fast as the k-2 staircase: a chunk-2 row whose
    # 5-min window END is already <= (chunk-0 max ts) - 10 min - 1 s
    # must be dropped in batch 2 (the 1 s margin absorbs the watermark's
    # ms truncation). A cardinality-starved fixture can legitimately
    # have zero such rows — then a zero-drop batch 2 proves nothing and
    # the staircase pin below goes quiet instead of false-alarming.
    ev = load(spark, sf_dir, "events").select(
        (F.col("event_id") % 4).alias("c"), "ts"
    )
    c0_max_unix = (
        ev.where(F.col("c") == 0)
        .agg(F.max(F.unix_timestamp("ts")))
        .collect()[0][0]
    )  # same session-tz frame as the chunk-2 comparison below
    if c0_max_unix is None:
        guaranteed_b2_drops = 0
    else:
        guaranteed_b2_drops = (
            ev.where(F.col("c") == 2)
            .where(
                (
                    F.floor(F.unix_timestamp("ts") / 300) * 300 + 300
                ).cast("long")
                <= F.lit(int(c0_max_unix) - 600 - 1)
            )
            .count()
        )

    def _pin_assumptions(progress: list) -> None:
        _x17_check_progress(progress, chunk_counts, guaranteed_b2_drops)

    agg = (
        _events_stream_modsplit(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_timestamp(F.col("w.start")).cast("bigint").alias(
                "window_start"
            ),
            "n_events",
        )
    )
    return _run_to_memory(
        agg, "x17_late_drop", "append", progress_hook=_pin_assumptions
    ).orderBy("window_start")


# ---------------------------------------------------------------------------
# X18 — UPDATE output mode contract (the third output mode: x4 proves
# append, x13 proves complete). Tumbling 10-min counts over the
# time-ordered 4-chunk stream with no watermark: every micro-batch
# re-emits the rows of whatever windows it touched, so the memory sink
# accumulates the full UPDATE HISTORY — (window, count-so-far) once
# per touching batch. That history is deterministic: chunks are
# time-ordered, so window w touched in chunks k..k+j yields its
# cumulative counts at each of those chunks. The oracle replays it
# with the same ntile(4) split — per (window, chunk) the cumulative
# count through that chunk, rows only where the chunk contributed.
# This is the changelog a downstream upsert sink (foreachBatch MERGE)
# actually consumes; proving its exact contents is what makes the
# x9-style idempotent-upsert story audit-complete.
# ---------------------------------------------------------------------------
@query(
    "x18_stream_update_mode",
    oracle="""
    WITH ranked AS (
        SELECT ts, ntile(4) OVER (ORDER BY ts, event_id) AS chunk
        FROM events
    ),
    per_chunk AS (
        SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS window_start,
               chunk, count(*) AS n
        FROM ranked GROUP BY 1, 2
    )
    SELECT window_start,
           CAST(sum(n) OVER (PARTITION BY window_start ORDER BY chunk
                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS n_events_so_far
    FROM per_chunk ORDER BY window_start, n_events_so_far
    """,
)
def x18_stream_update_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        _events_stream_multibatch(spark, sf_dir)
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events_so_far"))
        .select(
            F.unix_timestamp(F.col("w.start")).cast("bigint").alias(
                "window_start"
            ),
            "n_events_so_far",
        )
    )
    return _run_to_memory(agg, "x18_update_mode", "update").orderBy(
        "window_start", "n_events_so_far"
    )


# ---------------------------------------------------------------------------
# X19 — checkpoint RESUME / exactly-once across restarts: the property
# the reference's catchup=False daily reruns depend on. The query
# drains chunks 1-2 into a parquet sink, STOPS, then two more chunks
# land and a SECOND drain starts against the SAME checkpoint — it must
# process only the new files (file-source offsets) and append them
# exactly once. The final sink aggregate hash-matches the full batch
# aggregate ONLY if no file was skipped or double-processed: a
# reprocessing bug doubles counts, a lost-offset bug drops them, and
# either flips the oracle compare. Fresh scratch dirs per call, so the
# restart is a real cold restart, not a warm session artifact.
# ---------------------------------------------------------------------------
@query(
    "x19_stream_checkpoint_resume",
    oracle="""
    SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day_epoch,
           count(*) AS n_events,
           round(sum(CAST(value AS DECIMAL(27,6))), 2)::DOUBLE AS total_value
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def x19_stream_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dock_financial_data_pipelines_spark.catalog import load

    # Stage the shared time-ordered chunks in two waves into src.
    base = _event_chunks(spark, sf_dir)
    src = work_dir(sf_dir, "x19_src")
    sink = work_dir(sf_dir, "x19_sink")
    ckpt = work_dir(sf_dir, "x19_ckpt")
    ev_schema = load(spark, sf_dir, "events").schema

    def drain():
        with _stream_partitions(spark):
            q = (
                spark.readStream.schema(ev_schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(os.path.join(src, "chunk_*"))
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    for wave in ((1, 2), (3, 4)):
        for i in wave:
            shutil.copytree(
                os.path.join(base, f"chunk_{i:02d}"),
                os.path.join(src, f"chunk_{i:02d}"),
            )
        drain()  # second call restarts from the SAME checkpoint

    out = (
        spark.read.parquet(sink)
        .groupBy(
            F.expr("CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT)").alias(
                "day_epoch"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value", scale=6).alias("total_value"),
        )
        .orderBy("day_epoch")
    )
    # Materialize: the next call empties these work dirs.
    return out.localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# X20 — STREAMING MODEL INFERENCE: the round-11 quantized logistic
# quality scorer applied inside Structured Streaming micro-batches —
# the online half of the batch/stream scoring pair every production
# data pipeline runs (batch backfill + streaming front door, SAME
# model). The documents table is consumed as a file stream; each
# micro-batch runs the identical model_score_frame path (JVM feature
# extraction + ONE Arrow pandas UDF with closure-broadcast int-
# quantized weights — ArrowEvalPython inside the streaming plan); the
# per-doc scores drain append-mode to a memory sink and the summary
# (per language: docs, keeps, exact logit sum) is computed post-drain.
# Inference is row-local, so batching cannot change any score — which
# is why this REAL streaming run carries a full SQL oracle rather than
# a batch twin.
# ---------------------------------------------------------------------------
def _docs_stream_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents as 4 time-ordered chunk files, maxFilesPerTrigger=1 ->
    4 micro-batches, so per-doc operators actually run across BATCHES
    (the _events_stream_multibatch idiom; deterministic doc_id split).
    Shared by x20 (in-stream scoring) and x21 (gated ingest)."""
    from dock_financial_data_pipelines_spark.catalog import load

    docs = load(spark, sf_dir, "documents")

    def build(tmp: str) -> None:
        from pyspark.sql import Window

        ntile = F.ntile(4).over(Window.orderBy("doc_id"))
        chunked = docs.withColumn("chunk", ntile)
        for i in range(1, 5):
            (
                chunked.where(F.col("chunk") == i)
                .drop("chunk")
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(os.path.join(tmp, f"chunk_{i:02d}"))
            )

    chunk_dir = built_dir(sf_dir, "doc_chunks", build)
    return _chunk_stream(spark, docs.schema, chunk_dir)


@query(
    "x20_stream_model_scoring",
    oracle=f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(CASE WHEN logit_micro >= 0 THEN 1 END) AS BIGINT)
               AS n_keep,
           CAST(coalesce(sum(logit_micro), 0) AS BIGINT) AS sum_logit_micro
    FROM {quality_features_sql('lang')} GROUP BY 1
    """,
)
def x20_stream_model_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _docs_stream_multibatch(spark, sf_dir)
    scored = model_score_frame(stream, carry=("lang",))
    drained = _run_to_memory(scored, "x20_scored", "append")
    return drained.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count(F.when(F.col("pred_keep") == 1, F.lit(1)))
        .cast("long")
        .alias("n_keep"),
        F.coalesce(F.sum("logit_micro"), F.lit(0))
        .cast("long")
        .alias("sum_logit_micro"),
    )


# ---------------------------------------------------------------------------
# X21 — STREAMING GATED INGEST with a quality dead-letter: the
# front-door a streaming training-data pipeline actually runs. Each
# micro-batch of arriving documents is scored with the quantized model
# (the same model_score_frame as the batch backfill and x20), then
# SPLIT inside foreachBatch: keeps land in the accepted parquet sink
# (the corpus staging table), rejects land in a quarantine sink with
# their scores for review — the x12 dead-letter idiom applied to
# QUALITY rather than parse validity. The gate is row-local, so
# batching cannot move a doc across sinks; the read-back summary of
# both sinks carries a full SQL oracle. At 100 TB: per-batch map +
# two partitioned appends; no state, no shuffle.
# ---------------------------------------------------------------------------
@query(
    "x21_stream_gated_ingest",
    oracle=f"""
    SELECT CASE WHEN logit_micro >= 0 THEN 'keep' ELSE 'reject' END
               AS side,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS n_tokens,
           CAST(coalesce(sum(logit_micro), 0) AS BIGINT)
               AS sum_logit_micro
    FROM {quality_features_sql()} GROUP BY 1
    """,
)
def x21_stream_gated_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dock_financial_data_pipelines_spark.catalog import (
        read_parquet_or_empty,
    )

    keep_sink = work_dir(sf_dir, "x21_keep")
    dead_sink = work_dir(sf_dir, "x21_dead")

    def split(batch_df: DataFrame, batch_id: int) -> None:
        scored = model_score_frame(batch_df, carry=("text",)).select(
            "doc_id",
            "logit_micro",
            "pred_keep",
            F.size(tokens()).cast("long").alias("tokens"),
        )
        (
            scored.where(F.col("pred_keep") == 1)
            .drop("pred_keep")
            .write.mode("overwrite")
            .parquet(os.path.join(keep_sink, f"batch_id={batch_id}"))
        )
        (
            scored.where(F.col("pred_keep") == 0)
            .drop("pred_keep")
            .write.mode("overwrite")
            .parquet(os.path.join(dead_sink, f"batch_id={batch_id}"))
        )

    stream = _docs_stream_multibatch(spark, sf_dir)
    with _stream_partitions(spark):
        q = (
            stream.writeStream.foreachBatch(split)
            .option("checkpointLocation", work_dir(sf_dir, "x21_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    side_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("logit_micro", LongType()),
            StructField("tokens", LongType()),
        ]
    )

    def side(sink: str, label: str) -> DataFrame:
        return (
            read_parquet_or_empty(
                spark, os.path.join(sink, "batch_id=*"), side_schema
            )
            .agg(
                F.lit(label).alias("side"),
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.coalesce(F.sum("tokens"), F.lit(0))
                .cast("long")
                .alias("n_tokens"),
                F.coalesce(F.sum("logit_micro"), F.lit(0))
                .cast("long")
                .alias("sum_logit_micro"),
            )
            .select("side", "n_docs", "n_tokens", "sum_logit_micro")
        )

    out = side(keep_sink, "keep").unionAll(side(dead_sink, "reject"))
    # Aggregates-on-empty emit a zero row per side; the oracle emits no
    # row for an absent side — drop zero rows to match (count==0 has no
    # docs on that side by construction).
    return out.where(F.col("n_docs") > 0).localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# X22 — stream-stream FULL OUTER join, completing x14's left-outer
# contract: every purchase with its prior-30-minute clicks, PLUS
# purchases that saw no click (null click side, x14's orphan
# conversions), PLUS clicks that led to no purchase within 30 minutes
# (null purchase side — the "abandoned intent" rows a funnel report
# needs and a left join cannot produce). Inner matches emit eagerly;
# each null row emits only once the watermark proves the other side
# can no longer match, so BOTH state stores finalize. The same
# sentinel watermark-barrier chunk as x14 (user -1, 2 h past the real
# max ts, filtered post-drain) pushes both input watermarks past every
# real event and the availableNow final no-data batch flushes both
# orphan regions — the oracle is the complete FULL OUTER result, not a
# conservative finalized prefix. Reference semantics: the engine's
# attribution surface over the reference's event ledger; cites
# REPORT:25-269's daily close-the-books barrier pattern.
# ---------------------------------------------------------------------------
@query(
    "x22_stream_stream_full_outer",
    oracle="""
    WITH matched AS (
        SELECT p.event_id AS purchase_id, c.event_id AS click_id,
               p.user_id,
               CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_epoch,
               CAST(floor(epoch(c.ts)) AS BIGINT) AS click_epoch
        FROM events p JOIN events c
          ON c.user_id = p.user_id
         AND c.event_type = 'click'
         AND c.ts >= p.ts - INTERVAL 30 MINUTE
         AND c.ts <= p.ts
        WHERE p.event_type = 'purchase'
    ),
    orphan_purchases AS (
        SELECT p.event_id AS purchase_id, CAST(NULL AS BIGINT) AS click_id,
               p.user_id,
               CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_epoch,
               CAST(NULL AS BIGINT) AS click_epoch
        FROM events p
        WHERE p.event_type = 'purchase'
          AND NOT EXISTS (SELECT 1 FROM events c
                          WHERE c.user_id = p.user_id
                            AND c.event_type = 'click'
                            AND c.ts >= p.ts - INTERVAL 30 MINUTE
                            AND c.ts <= p.ts)
    ),
    orphan_clicks AS (
        SELECT CAST(NULL AS BIGINT) AS purchase_id,
               c.event_id AS click_id, c.user_id,
               CAST(NULL AS BIGINT) AS purchase_epoch,
               CAST(floor(epoch(c.ts)) AS BIGINT) AS click_epoch
        FROM events c
        WHERE c.event_type = 'click'
          AND NOT EXISTS (SELECT 1 FROM events p
                          WHERE p.user_id = c.user_id
                            AND p.event_type = 'purchase'
                            AND p.ts >= c.ts
                            AND p.ts <= c.ts + INTERVAL 30 MINUTE)
    )
    SELECT * FROM matched
    UNION ALL SELECT * FROM orphan_purchases
    UNION ALL SELECT * FROM orphan_clicks
    """,
)
def x22_stream_stream_full_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = _events_stream_with_sentinel(spark, sf_dir)
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "30 minutes")
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "30 minutes")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "full_outer",
    ).select(
        "purchase_id",
        "click_id",
        F.coalesce(F.col("p_user"), F.col("c_user")).alias("user_id"),
        F.unix_timestamp("p_ts").cast("bigint").alias("purchase_epoch"),
        F.unix_timestamp("c_ts").cast("bigint").alias("click_epoch"),
    )
    drained = _run_to_memory(joined, "x22_full_joined", "append")
    # Drop the watermark-barrier sentinel pair; every REAL row —
    # matched, orphan purchase, orphan click — survives the filter and
    # is oracle-checked.
    return drained.where(F.col("user_id") != _SENTINEL_USER)


# ---------------------------------------------------------------------------
# X23 — streaming snapshot publisher: every micro-batch lands as a NEW
# CAS-committed version of a per-user running-total table through the
# round-12 snapshot protocol (plans/pipeline.py). This is the streaming
# half of the table-format story: the batch compactor/publisher and the
# streaming writer share ONE commit primitive, so readers get the same
# atomic visibility regardless of who wrote last. Versions are keyed by
# micro-batch id (version = batch_id + 1): a checkpoint-recovery REPLAY
# of an already-committed batch is detected in the log and skipped —
# the Delta txnAppId/txnVersion idempotence contract — so exactly-once
# table state survives writer crashes without exactly-once transport.
# ---------------------------------------------------------------------------
def _x23_publish_batch(
    spark: SparkSession, root: str, batch_df: DataFrame, batch_id: int
) -> bool:
    """Merge one micro-batch into the published per-user cents table
    and commit it as version batch_id+1. Returns False on a detected
    replay (already committed), True after a successful commit."""
    from dock_financial_data_pipelines_spark.plans.pipeline import (
        _commit_cas,
        _committed_versions,
        _fast_forward,
        _read_visible,
        _resolve_current,
        _stage_version,
    )

    ver = batch_id + 1
    if ver in _committed_versions(root):
        # Checkpoint replay of an already-committed batch. If the
        # previous writer crashed in _commit_cas's log-to-pointer
        # window, the version is logged but CURRENT still trails —
        # ROLL FORWARD (finish the interrupted swing) so the batch's
        # data becomes visible and the next batch's CAS base holds;
        # without this the stream would wedge in a skip-then-
        # CAS-mismatch loop forever.
        cur = _resolve_current(root)
        if cur is None or cur < ver:
            _fast_forward(root, ver)
        return False
    delta = (
        batch_df.select(
            F.col("user_id").cast("long").alias("doc_id"),
            F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias(
                "cents"
            ),
        )
        .groupBy("doc_id")
        .agg(F.sum("cents").cast("long").alias("delta"))
    )
    old = _read_visible(spark, root).select("doc_id", "tokens")
    merged = old.join(delta, "doc_id", "full_outer").select(
        "doc_id",
        (
            F.coalesce(F.col("tokens"), F.lit(0))
            + F.coalesce(F.col("delta"), F.lit(0))
        )
        .cast("long")
        .alias("tokens"),
    )
    state = merged.select(
        "doc_id",
        "tokens",
        F.md5(F.concat_ws(":", F.col("doc_id"), F.col("tokens"))).alias(
            "dg"
        ),
        F.pmod(F.col("doc_id"), F.lit(8)).cast("long").alias("shard"),
    )
    _stage_version(spark, state, root, ver)
    committed = _commit_cas(root, None if ver == 1 else ver - 1, ver)
    assert committed, f"single-writer CAS cannot lose (version {ver})"
    return True


_X23_ORACLE = """
WITH ev AS (
    SELECT user_id,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
           ntile(4) OVER (ORDER BY ts, event_id) AS chunk
    FROM events
),
ks AS (SELECT * FROM (VALUES (1), (2), (3), (4)) t(k)),
cum AS (
    SELECT k,
           CAST(count(DISTINCT ev.user_id) AS BIGINT) AS n_docs,
           CAST(coalesce(sum(ev.cents), 0) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT ev.user_id % 8) AS BIGINT) AS n_shards
    FROM ks LEFT JOIN ev ON ev.chunk <= ks.k
    GROUP BY k
)
SELECT CAST(k AS INT) AS stage_ord,
       'asof_v' || CAST(k AS VARCHAR) AS stage,
       n_docs, n_tokens, n_shards
FROM cum
UNION ALL
SELECT 5, 'final_visible', n_docs, n_tokens, n_shards
FROM cum WHERE k = 4
UNION ALL
SELECT 6, 'snapshot_log', CAST(4 AS BIGINT), CAST(0 AS BIGINT),
       CAST(4 AS BIGINT)
"""


@query("x23_stream_snapshot_publish", oracle=_X23_ORACLE)
def x23_stream_snapshot_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the 4-chunk event stream through a foreachBatch writer that
    publishes each micro-batch as CAS-committed snapshot version
    batch_id+1 of a per-user running value-cents table (cents as
    int64: floor(value*100+0.5) per EVENT, so accumulation is exact
    and order-free). After the drain, TIME-TRAVEL over the log
    reconstructs the table as-of every batch — the oracle recomputes
    each prefix independently from raw events (chunk = the same
    ntile(4) the stream was cut with), pins the final visible state to
    the full-corpus totals, and the log to exactly 4 commits. The
    mid-stream versions double as the consistent-snapshot guarantee: a
    reader at any point saw SOME complete batch prefix, never a torn
    merge."""
    root = work_dir(sf_dir, "x23_stream_publish")

    def publish(batch_df: DataFrame, batch_id: int) -> None:
        _x23_publish_batch(spark, root, batch_df, batch_id)

    stream = _events_stream_multibatch(spark, sf_dir)
    with _stream_partitions(spark):
        q = (
            stream.writeStream.foreachBatch(publish)
            .option("checkpointLocation", work_dir(sf_dir, "x23_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    from dock_financial_data_pipelines_spark.plans.pipeline import (
        _committed_versions,
        _read_version,
        _read_visible,
        _resolve_current,
        _snap_const_row,
        _snap_stat,
    )

    out = None
    for v in _committed_versions(root):
        row = _snap_stat(_read_version(spark, root, v), v, f"asof_v{v}")
        out = row if out is None else out.unionAll(row)
    out = out.unionAll(
        _snap_stat(_read_visible(spark, root), 5, "final_visible")
    )
    return out.unionAll(
        _snap_const_row(
            spark,
            6,
            "snapshot_log",
            len(_committed_versions(root)),
            _resolve_current(root),
        )
    )


# ---------------------------------------------------------------------------
# x24 — streaming CDC deletes applied as merge-on-read DV commits
# ---------------------------------------------------------------------------
_X24_ORACLE = f"""
WITH d AS (
    SELECT doc_id, len({tokens_sql('duckdb')}) AS tokens,
           ntile(4) OVER (ORDER BY doc_id) AS chunk
    FROM documents
),
ks AS (SELECT * FROM (VALUES (0), (1), (2), (3), (4)) t(k)),
prefix AS (
    SELECT k,
           CAST(count(d.doc_id) AS BIGINT) AS n_docs,
           CAST(coalesce(sum(d.tokens), 0) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT d.doc_id % 8) AS BIGINT) AS n_shards
    FROM ks LEFT JOIN d
      ON NOT (d.doc_id % 5 = 0 AND d.chunk <= k)
    GROUP BY k
)
SELECT CAST(k AS INT) AS stage_ord,
       CASE WHEN k = 0 THEN 'base_v1'
            ELSE 'asof_v' || CAST(k + 1 AS VARCHAR) END AS stage,
       n_docs, n_tokens, n_shards
FROM prefix
UNION ALL
SELECT 5, 'final_visible', n_docs, n_tokens, n_shards
FROM prefix WHERE k = 4
UNION ALL
SELECT 6, 'data_versions', CAST(1 AS BIGINT), CAST(0 AS BIGINT),
       CAST(0 AS BIGINT)
UNION ALL
SELECT 7, 'snapshot_log', CAST(5 AS BIGINT), CAST(0 AS BIGINT),
       CAST(5 AS BIGINT)
"""


@query("x24_stream_mor_delete_feed", oracle=_X24_ORACLE)
def x24_stream_mor_delete_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC DELETES at METADATA GRAIN: v1 batch-publishes the
    full documents table, then the 4-chunk document stream drives a
    foreachBatch writer that turns each micro-batch's delete keys
    (doc_id % 5 = 0) into one MERGE-ON-READ DV commit — versions 2-5
    stage only a delete-key file + layout record through the ordinary
    CAS, rewriting ZERO data shards across the whole drain (row 6 pins
    exactly one data version on disk at the end). Checkpoint replays
    are absorbed exactly like x23: an already-committed version is
    skipped, and an interrupted log-to-pointer window is rolled
    forward. The oracle reconstructs every as-of view independently
    (chunk = the same ntile(4) the stream was cut with) and pins the
    commit log to exactly 5 entries. This is the streaming shape of a
    GDPR/erasure feed at 100 TB: each micro-batch of tombstones costs
    its own size, and the data rewrite happens once, on the
    compactor's schedule — not per batch."""
    from dock_financial_data_pipelines_spark.catalog import load
    from dock_financial_data_pipelines_spark.plans.pipeline import (
        _commit_cas,
        _commit_mor_delete,
        _committed_versions,
        _fast_forward,
        _read_mor,
        _read_version,
        _resolve_current,
        _snap_const_row,
        _snap_stat,
        _stage_version,
    )

    root = work_dir(sf_dir, "x24_stream_mor")
    docs = load(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.size(tokens()).cast("long").alias("tokens"),
        F.md5("text").alias("dg"),
        F.pmod(F.col("doc_id"), F.lit(8)).cast("long").alias("shard"),
    )
    _stage_version(spark, base, root, 1)
    assert _commit_cas(root, None, 1)

    def apply_deletes(batch_df: DataFrame, batch_id: int) -> None:
        ver = batch_id + 2
        if ver in _committed_versions(root):
            cur = _resolve_current(root)
            if cur is None or cur < ver:
                _fast_forward(root, ver)
            return
        dels = batch_df.where("doc_id % 5 = 0").select("doc_id")
        committed = _commit_mor_delete(spark, dels, root, ver, ver - 1)
        assert committed, f"single-writer CAS cannot lose (version {ver})"

    with _stream_partitions(spark):
        q = (
            _docs_stream_multibatch(spark, sf_dir)
            .writeStream.foreachBatch(apply_deletes)
            .option("checkpointLocation", work_dir(sf_dir, "x24_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    out = _snap_stat(_read_version(spark, root, 1), 0, "base_v1")
    for v in _committed_versions(root):
        if v == 1:
            continue
        out = out.unionAll(
            _snap_stat(_read_mor(spark, root, version=v), v - 1, f"asof_v{v}")
        )
    out = out.unionAll(
        _snap_stat(_read_mor(spark, root), 5, "final_visible")
    )
    n_data = len(
        [
            n
            for n in os.listdir(os.path.join(root, "data"))
            if n.startswith("v=")
        ]
    )
    out = out.unionAll(_snap_const_row(spark, 6, "data_versions", n_data, 0))
    return out.unionAll(
        _snap_const_row(
            spark,
            7,
            "snapshot_log",
            len(_committed_versions(root)),
            _resolve_current(root),
        )
    )


# ---------------------------------------------------------------------------
# x25 — streaming CDC UPSERTS applied as merge-on-read MERGE commits
# ---------------------------------------------------------------------------
_X25_ORACLE = """
WITH ev AS (
    SELECT user_id, ts, event_id,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
           ntile(4) OVER (ORDER BY ts, event_id) AS chunk
    FROM events
),
ks AS (SELECT * FROM (VALUES (1), (2), (3), (4)) t(k)),
latest AS (
    SELECT k, user_id, cents
    FROM (
        SELECT ks.k, ev.user_id, ev.cents,
               row_number() OVER (
                   PARTITION BY ks.k, ev.user_id
                   ORDER BY ev.ts DESC, ev.event_id DESC
               ) AS rn
        FROM ks JOIN ev ON ev.chunk <= ks.k
    ) WHERE rn = 1
),
prefix AS (
    SELECT ks.k,
           CAST(count(l.user_id) AS BIGINT) AS n_docs,
           CAST(coalesce(sum(l.cents), 0) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT l.user_id % 8) AS BIGINT) AS n_shards
    FROM ks LEFT JOIN latest l ON l.k = ks.k GROUP BY ks.k
)
SELECT CAST(k AS INT) AS stage_ord,
       'asof_v' || CAST(k AS VARCHAR) AS stage,
       n_docs, n_tokens, n_shards
FROM prefix
UNION ALL
SELECT 5, 'final_visible', n_docs, n_tokens, n_shards
FROM prefix WHERE k = 4
UNION ALL
SELECT 6, 'layout_census', CAST(4 AS BIGINT), CAST(4 AS BIGINT),
       CAST(4 AS BIGINT)
UNION ALL
SELECT 7, 'snapshot_log', CAST(4 AS BIGINT), CAST(0 AS BIGINT),
       CAST(4 AS BIGINT)
"""


@query("x25_stream_mor_upsert_feed", oracle=_X25_ORACLE)
def x25_stream_mor_upsert_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC UPSERTS at CHANGESET GRAIN: each micro-batch of
    the 4-chunk event stream maintains a last-write-wins per-user
    value table through ONE merge-on-read MERGE commit — the batch's
    per-user latest rows land as an append data version, and a DV
    tombstones the superseded copies of users already visible. No
    batch rewrites any earlier batch's files (row 6 pins the layout:
    4 data versions, 4 DVs, 4 commits); the sequence rule keeps each
    batch's own appends alive through its own tombstones. Replays are
    absorbed exactly like x23/x24. The oracle reconstructs every
    as-of view as the per-user latest event over the same ntile(4)
    chunk prefix — if any tombstone missed a superseded copy, the
    prefix counts would double-count and the hash would diverge. This
    is the lakehouse streaming-upsert ingest path (Delta/Iceberg CDC
    apply) priced per batch: changeset-sized writes, zero rewrite."""
    from dock_financial_data_pipelines_spark.plans.pipeline import (
        _SNAP_DDL,
        _census_rows,
        _commit_mor_merge,
        _committed_versions,
        _fast_forward,
        _read_layout,
        _read_mor,
        _resolve_current,
        _snap_const_row,
        _snap_stat,
    )
    from pyspark.sql import Window

    root = work_dir(sf_dir, "x25_stream_mor_upsert")

    def apply_upserts(batch_df: DataFrame, batch_id: int) -> None:
        ver = batch_id + 1
        if ver in _committed_versions(root):
            cur = _resolve_current(root)
            if cur is None or cur < ver:
                _fast_forward(root, ver)
            return
        rn = F.row_number().over(
            Window.partitionBy("user_id").orderBy(
                F.col("ts").desc(), F.col("event_id").desc()
            )
        )
        latest = (
            batch_df.withColumn("rn", rn)
            .where("rn = 1")
            .select(
                F.col("user_id").cast("long").alias("doc_id"),
                F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias(
                    "tokens"
                ),
            )
            .select(
                "doc_id",
                "tokens",
                F.md5(F.concat_ws(":", "doc_id", "tokens")).alias("dg"),
                F.pmod(F.col("doc_id"), F.lit(8)).cast("long").alias(
                    "shard"
                ),
            )
        )
        visible = _read_mor(spark, root).select("doc_id")
        dv = latest.select("doc_id").join(visible, "doc_id", "left_semi")
        committed = _commit_mor_merge(
            spark, dv, latest, root, ver, None if ver == 1 else ver - 1
        )
        assert committed, f"single-writer CAS cannot lose (version {ver})"

    with _stream_partitions(spark):
        q = (
            _events_stream_multibatch(spark, sf_dir)
            .writeStream.foreachBatch(apply_upserts)
            .option("checkpointLocation", work_dir(sf_dir, "x25_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    out = None
    for v in _committed_versions(root):
        row = _snap_stat(_read_mor(spark, root, version=v), v, f"asof_v{v}")
        out = row if out is None else out.unionAll(row)
    out = out.unionAll(
        _snap_stat(_read_mor(spark, root), 5, "final_visible")
    )
    cur = _resolve_current(root)
    data_vs, dvs = (
        _read_layout(root, cur) if cur is not None else ([], [])
    )
    n_data_dirs = len(
        [
            n
            for n in os.listdir(os.path.join(root, "data"))
            if n.startswith("v=")
        ]
    )
    out = out.unionAll(
        _census_rows(
            spark,
            [(6, "layout_census", len(data_vs), len(dvs), n_data_dirs)],
            _SNAP_DDL,
        )
    )
    return out.unionAll(
        _snap_const_row(
            spark,
            7,
            "snapshot_log",
            len(_committed_versions(root)),
            cur,
        )
    )
