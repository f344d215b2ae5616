"""Observability surface (SURVEY.md §2-A R15).

The reference logs every pipeline stage with structured messages
(REPORT:34, :69, :106, :144, :177, :215); the engine restates that as
*query-execution metrics*: every query run under ``run_with_metrics``
records wall time, output rows, and physical-plan execution metrics
(shuffle bytes/records, spilled bytes) into an in-process
``MetricsStore`` that is itself queryable as a DataFrame.

Two mechanisms, both Spark-native and cluster-safe:

- ``pyspark.sql.Observation`` — named aggregates collected piggyback on
  the action (no extra job), the Structured-Streaming-compatible path.
- Executed-plan metrics — after the action, walk
  ``df.queryExecution().executedPlan()`` via the py4j handle and sum the
  ``SQLMetric`` values Spark already collected per operator (the same
  numbers the SQL UI tab shows). Read-only, no listener callback server,
  so it works on any driver-owned session.

At 100 TB nothing changes: SQLMetrics are aggregated executor-side by
the existing Spark machinery; reading them is a driver-side constant.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dock_financial_data_pipelines_spark.registry import query

# SQLMetric map keys we aggregate across the executed plan. These are
# Spark's own metric keys (ShuffleExchangeExec / HashAggregateExec /
# FileSourceScanExec), stable public API surface of the SQL UI.
_METRIC_KEYS = {
    "shuffleBytesWritten": "shuffle_bytes_written",
    "shuffleRecordsWritten": "shuffle_records_written",
    "spillSize": "spill_bytes",
    "numFiles": "files_read",
}


@dataclass
class QueryMetrics:
    query_name: str
    wall_ms: float
    n_rows: int
    shuffle_bytes_written: int = 0
    shuffle_records_written: int = 0
    spill_bytes: int = 0
    files_read: int = 0
    plan_metrics_ok: bool = False


@dataclass
class MetricsStore:
    """Append-only per-session run log (the engine's 'structured log')."""

    runs: list[QueryMetrics] = field(default_factory=list)

    def record(self, m: QueryMetrics) -> None:
        self.runs.append(m)

    def to_df(self, spark: SparkSession) -> DataFrame:
        rows = [
            (
                m.query_name,
                float(m.wall_ms),
                int(m.n_rows),
                int(m.shuffle_bytes_written),
                int(m.shuffle_records_written),
                int(m.spill_bytes),
                int(m.files_read),
                bool(m.plan_metrics_ok),
            )
            for m in self.runs
        ]
        from dock_financial_data_pipelines_spark.catalog import local_frame

        return local_frame(spark, 
            rows,
            "query_name string, wall_ms double, n_rows long, "
            "shuffle_bytes_written long, shuffle_records_written long, "
            "spill_bytes long, files_read long, plan_metrics_ok boolean",
        )


def _walk_plan_metrics(jplan, acc: dict, seen: set | None = None) -> None:
    """Sum SQLMetric values over a JVM SparkPlan tree (py4j, read-only).

    AQE wraps the plan in AdaptiveSparkPlanExec (whose ``children()`` is
    empty — the real tree hangs off ``executedPlan()``), and materialized
    stages appear as QueryStageExec nodes wrapping their stage via
    ``plan()``; descend through both. Node ids already visited are
    skipped so a subtree reachable twice — a ReusedExchangeExec pointing
    at an exchange also walked via its original parent, or a node
    exposing both an unwrap and children — is summed exactly once."""
    if seen is None:
        seen = set()
    try:
        node_id = jplan.id()
        if node_id in seen:
            return
        seen.add(node_id)
    except Exception:
        pass  # id() missing on some wrappers: walk it, unwraps still dedup
    it = jplan.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        key = kv._1()
        if key in _METRIC_KEYS:
            acc[_METRIC_KEYS[key]] += max(0, kv._2().value())
    for unwrap in ("executedPlan", "plan"):
        try:
            inner = getattr(jplan, unwrap)()
            _walk_plan_metrics(inner, acc, seen)
        except Exception:
            pass
    kids = jplan.children().iterator()
    while kids.hasNext():
        _walk_plan_metrics(kids.next(), acc, seen)


def codegen_compiles(spark: SparkSession) -> int | None:
    """Janino classes compiled so far in this session's JVM (Spark's
    ``CodegenMetrics`` compilation-time histogram count; JVM-wide, so it
    also counts other sessions sharing the context). A warm call whose
    generated code is still cached adds 0. On Spark Connect there is no
    py4j gateway: warn once and return None, never a measured-looking 0."""
    from dock_financial_data_pipelines_spark import connect_compat

    if not connect_compat.is_connect(spark):
        jvm = spark.sparkContext._jvm
        metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
        return int(metrics.METRIC_COMPILATION_TIME().getCount())
    connect_compat.warn_once(
        connect_compat.session_key(spark),
        "codegen-compiles",
        "no py4j gateway (Spark Connect?): the server JVM's codegen "
        "compile count is unavailable; returning None.",
    )
    return None


def run_with_metrics(
    name: str, df: DataFrame, store: MetricsStore, max_rows: int = 100_000
) -> int:
    """Execute ``df`` and record wall time, rows, and executed-plan
    metrics into ``store``. Returns the row count.

    The action is ``collect()`` on *this* DataFrame: ``count()`` or a
    noop write would run a different QueryExecution, leaving the metrics
    of ``df.queryExecution()`` untouched (all zeros). Because of that,
    the recorder is for *bounded* results (aggregates, reports, samples).
    Before collecting, a ``limit(max_rows + 1).count()`` probe (a
    CollectLimit plan — it stops producing past the cap, so the probe
    itself is bounded) rejects oversized results, so an unbounded result
    is never materialized on the driver — pre-aggregate or ``limit`` the
    measured query instead (raise the cap explicitly if a larger bounded
    result is intended). The probe runs the plan an extra time; for a
    recorder that's the right trade — metrics runs are measurements, not
    the production path."""
    probe = df.limit(max_rows + 1).count()
    if probe > max_rows:
        raise ValueError(
            f"run_with_metrics({name!r}): result exceeds max_rows="
            f"{max_rows} (probe saw {probe} rows before collecting). The "
            "recorder collects the measured plan to the driver; aggregate "
            "or limit the query, or pass an explicit larger max_rows."
        )
    t0 = time.monotonic()
    rows = df.collect()
    n_rows = len(rows)
    del rows
    wall_ms = (time.monotonic() - t0) * 1000.0
    acc = {v: 0 for v in _METRIC_KEYS.values()}
    # connect_compat warns ONCE per session when the py4j plan handle
    # is missing (Spark Connect) — the degradation is loud in the log
    # AND recorded per-row as plan_metrics_ok=False, never a silent
    # zero that reads as a measured zero.
    from dock_financial_data_pipelines_spark import connect_compat

    ok = connect_compat.plan_metrics(df, _walk_plan_metrics, acc)
    store.record(QueryMetrics(name, wall_ms, n_rows, plan_metrics_ok=ok, **acc))
    return n_rows


# ---------------------------------------------------------------------------
# o_metrics_report — run a representative query mix under the metrics
# recorder and return the run log. Wall times and shuffle bytes are
# non-deterministic, so the query projects only the stable columns —
# which ARE SQL-derivable (each n_rows is the cardinality of the
# measured aggregate), so the run log is held to a real oracle.
# ---------------------------------------------------------------------------
@query(
    "o_metrics_report",
    oracle="""
    SELECT 'scan_filter' AS query_name, CAST(1 AS BIGINT) AS n_rows,
           TRUE AS plan_metrics_ok
    UNION ALL
    SELECT 'group_agg', (SELECT count(DISTINCT o_orderstatus) FROM orders), TRUE
    UNION ALL
    SELECT 'join_dim',
           (SELECT count(DISTINCT c.c_mktsegment)
            FROM customer c WHERE EXISTS (
                SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)),
           TRUE
    """,
)
def o_metrics_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dock_financial_data_pipelines_spark.catalog import load, local_frame

    store = MetricsStore()

    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")

    # Keep every collected result bounded (aggregates / tiny projections):
    # the recorder's action is collect() on the measured plan itself.
    run_with_metrics(
        "scan_filter",
        orders.where(F.col("o_totalprice") > 1000).agg(
            F.count(F.lit(1)).alias("n")
        ),
        store,
    )
    run_with_metrics(
        "group_agg",
        orders.groupBy("o_orderstatus").agg(F.sum("o_totalprice").alias("t")),
        store,
    )
    run_with_metrics(
        "join_dim",
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n")),
        store,
    )
    return store.to_df(spark).select(
        "query_name", "n_rows", "plan_metrics_ok"
    )


# ---------------------------------------------------------------------------
# o_connect_compat_report — the Spark Connect degrade contract,
# oracle-checked without a Connect server: every feature that
# historically reached into py4j internals (plan metrics, cache
# session keys, localCheckpoint release, package shipping) is driven
# once through the live classic session and once through a
# Connect-shaped facade (ConnectFacadeSession/DataFrame: no
# sparkContext, no _jdf — the exact surface pyspark.sql.connect
# exposes). The facade runs must take the documented fallback
# (loudly: exactly one warning per feature, counted via a handler on
# the compat logger), the classic runs must take the native path, and
# the measured row counts must agree between the two. The env-gated
# tests/test_connect_smoke.py repeats this against a REAL Connect
# session where grpcio + a server exist; this query pins the contract
# everywhere else. All census values are protocol constants.
# ---------------------------------------------------------------------------
@query(
    "o_connect_compat_report",
    oracle="""
    SELECT 0 AS stage_ord, 'classic_is_connect' AS stage,
           CAST(0 AS BIGINT) AS value
    UNION ALL SELECT 1, 'facade_is_connect', CAST(1 AS BIGINT)
    UNION ALL SELECT 2, 'facade_session_key_is_client_id', CAST(1 AS BIGINT)
    UNION ALL SELECT 3, 'classic_plan_metrics_ok', CAST(1 AS BIGINT)
    UNION ALL SELECT 4, 'facade_plan_metrics_ok', CAST(0 AS BIGINT)
    UNION ALL SELECT 5, 'rows_agree_classic_vs_facade', CAST(1 AS BIGINT)
    UNION ALL SELECT 6, 'degrade_warnings_emitted', CAST(1 AS BIGINT)
    UNION ALL SELECT 7, 'classic_ship_mechanism_pyfile', CAST(1 AS BIGINT)
    UNION ALL SELECT 8, 'facade_ship_mechanism_artifact', CAST(1 AS BIGINT)
    UNION ALL SELECT 9, 'classic_checkpoint_released', CAST(1 AS BIGINT)
    UNION ALL SELECT 10, 'facade_checkpoint_release_refused',
           CAST(0 AS BIGINT)
    """,
)
def o_connect_compat_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    import logging

    from dock_financial_data_pipelines_spark import connect_compat as cc
    from dock_financial_data_pipelines_spark.catalog import load

    facade = cc.ConnectFacadeSession(spark)
    orders = load(spark, sf_dir, "orders")
    agg = orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n")
    )

    # deterministic start state for the exactly-once warning census
    cc.reset_warnings()
    records: list = []

    class _Capture(logging.Handler):
        def emit(self, record):
            records.append(record.getMessage())

    cap = _Capture()
    cc.log.addHandler(cap)
    try:
        store = MetricsStore()
        run_with_metrics("classic", agg, store)
        # TWO degraded runs: the warning must fire exactly once
        run_with_metrics("facade_1", cc.ConnectFacadeDataFrame(agg), store)
        run_with_metrics("facade_2", cc.ConnectFacadeDataFrame(agg), store)
    finally:
        cc.log.removeHandler(cap)
    by_name = {m.query_name: m for m in store.runs}

    # a uniquely-named probe file: addPyFile lands files on executor
    # sys.path, so shipping a generically-named module would pollute it
    import tempfile

    probe_py = os.path.join(
        tempfile.gettempdir(), "dock_fdp_connect_compat_probe.py"
    )
    with open(probe_py, "w") as fh:
        fh.write("PROBE = True\n")
    classic_ship = cc.ship_package(spark, probe_py)
    facade_ship = cc.ship_package(facade, probe_py)

    ckpt = agg.localCheckpoint()
    released = cc.release_local_checkpoint(ckpt)
    ckpt2 = agg.localCheckpoint()
    facade_release = cc.release_local_checkpoint(
        cc.ConnectFacadeDataFrame(ckpt2)
    )
    cc.release_local_checkpoint(ckpt2)  # real cleanup

    rows = [
        (0, "classic_is_connect", int(cc.is_connect(spark))),
        (1, "facade_is_connect", int(cc.is_connect(facade))),
        (2, "facade_session_key_is_client_id",
         int(cc.session_key(facade) == "facade-session-0001")),
        (3, "classic_plan_metrics_ok",
         int(by_name["classic"].plan_metrics_ok)),
        (4, "facade_plan_metrics_ok",
         int(by_name["facade_1"].plan_metrics_ok
             or by_name["facade_2"].plan_metrics_ok)),
        (5, "rows_agree_classic_vs_facade",
         int(by_name["classic"].n_rows == by_name["facade_1"].n_rows
             == by_name["facade_2"].n_rows)),
        (6, "degrade_warnings_emitted",
         sum("plan-metrics" in m for m in records)),
        (7, "classic_ship_mechanism_pyfile",
         int(classic_ship == "pyfile")),
        (8, "facade_ship_mechanism_artifact",
         int(facade_ship == "artifact"
             and facade.artifacts == [(probe_py, True)])),
        (9, "classic_checkpoint_released", int(released)),
        (10, "facade_checkpoint_release_refused", int(facade_release)),
    ]
    from dock_financial_data_pipelines_spark.catalog import local_frame

    return local_frame(spark, 
        rows, "stage_ord int, stage string, value long"
    )
