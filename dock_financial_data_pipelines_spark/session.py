"""SparkSession construction + per-session tuning.

Scale policy (SURVEY.md §4.3): AQE on (runtime re-planning, skew-join
splitting, shuffle-partition coalescing), explicit broadcast threshold,
UTC session timezone so date semantics match the oracle, Arrow for every
pandas interchange. These are all *runtime-settable* SQL confs, so
``tune()`` can also be applied to an externally provided session (the
driver creates its own ``SparkSession`` for ``__spark_entry__``).

The generated-code cache size (``CODEGEN_CACHE_MAX_ENTRIES``) is a
*static* conf: only ``get_spark`` can set it, when the JVM context is
built. ``tune()`` cannot apply it to an external session; such callers
pass it at launch, e.g. ``spark-submit --conf
spark.sql.codegen.cache.maxEntries=10000``. Without it the warm calls of
the daily jobs recompile generated classes on every run.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs applied to every session we touch. At 100 TB these
# same settings hold; only shuffle.partitions scales with cluster size
# (rule of thumb: 2-3× total executor cores; AQE coalesces the excess).
_RUNTIME_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    # events.parquet stores TIMESTAMP(NANOS) which Spark has no native
    # type for; read as long and convert in catalog.load (floor to µs,
    # matching DuckDB's own ns→µs truncation).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Fixture timestamps carry no isAdjustedToUTC flag; by default Spark 4
    # infers TIMESTAMP_NTZ for those, which watermarks reject outright
    # (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE) and which refuses numeric
    # casts. Read them as session-timezone TIMESTAMP instead — with the
    # UTC session timezone the wall-clock values are identical and match
    # DuckDB's naive-timestamp reading. catalog.load() also casts any
    # NTZ column that slips through (e.g. a session where this conf was
    # captured before tune() ran).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # The codegen cache is keyed by the generated source, and by default
    # the source names its class after the whole-stage codegen id. AQE
    # numbers stages in the order they are re-planned, which follows
    # which stage finishes first, so the same pipeline came back under a
    # new class name on some warm calls and compiled again
    # (pipeline_atomic_publish: 2-10 classes on 3 of 9 warm calls). The
    # id stays in the generated code's comment.
    "spark.sql.codegen.useIdInClassName": "false",
}


# Janino classes kept compiled per JVM (spark.sql.codegen.cache.maxEntries,
# Spark default 100, a segmented LRU). One pass of the daily publish jobs
# needs ~100 distinct classes, so with the default every warm pass
# recompiled (and the JVM re-JITted) 59-79 of them. Sized to hold
# the largest measured working set, the full scripts/check_all.py sweep
# (5,581 classes at sf0.001, 5,638 at sf0.01), with headroom;
# check_all prints the session's compile total next to this size and
# warns past it.
CODEGEN_CACHE_MAX_ENTRIES = 10000


def release_local_checkpoint(df) -> None:
    """Free the executor-storage blocks behind a ``localCheckpoint``-ed
    DataFrame that has no remaining consumers.

    ``DataFrame.unpersist()`` is a no-op here: localCheckpoint persists
    the *internal* RDD behind a ``LogicalRDD`` node without registering
    anything in the cache manager, so the blocks survive until session
    end (or driver GC, nondeterministically). Iterative trainers that
    checkpoint each round (BPE, k-means) must release superseded rounds
    explicitly or storage memory grows linearly with rounds × reruns.
    Safe ONLY when ``df`` is never evaluated again — the lineage is
    truncated, so the data cannot be recomputed.

    On a Spark Connect session (no ``_jdf``) this degrades to a no-op
    with a once-per-session warning (connect_compat) — the blocks are
    released when the server-side session closes."""
    from dock_financial_data_pipelines_spark import connect_compat

    connect_compat.release_local_checkpoint(df)


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent)."""
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf may be static in some envs
            pass
    _ship_package(spark)
    return spark


def _package_zip(pkg_dir: str) -> str:
    """A zip of the ``.py`` files of the package at ``pkg_dir``, in this
    process's scratch (so it lives as long as any session shipping it)
    and named by a hash of their paths and contents: Spark refuses a
    shipped file whose contents change under its path, so no other
    process or package tree may write to it."""
    import hashlib
    import tempfile
    import zipfile

    from dock_financial_data_pipelines_spark.scratch import work_path

    top = os.path.dirname(pkg_dir)
    files = sorted(
        os.path.relpath(os.path.join(root, f), top)
        for root, _, names in os.walk(pkg_dir)
        for f in names
        if f.endswith(".py")
    )
    digest = hashlib.sha1()
    for rel in files:
        with open(os.path.join(top, rel), "rb") as fh:
            digest.update(rel.encode() + b"\0" + fh.read())
    out_dir = work_path(None, "package")
    final = os.path.join(out_dir, f"pkg-{digest.hexdigest()[:16]}.zip")
    if not os.path.exists(final):
        os.makedirs(out_dir, exist_ok=True)
        fd, staging = tempfile.mkstemp(dir=out_dir, suffix=".tmp")
        with os.fdopen(fd, "wb") as raw, zipfile.ZipFile(raw, "w") as zf:
            for rel in files:
                zf.write(os.path.join(top, rel), rel)
        os.replace(staging, final)
    return final


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Anything pickled by reference — the Python Data Source class, any
    module-level function captured by a mapInPandas/UDF closure — needs
    the package on the workers' sys.path. A driver-owned session (the
    round driver's, a notebook's) won't have it, so ship a zip via
    addPyFile once per SparkContext — or via addArtifacts on a Spark
    Connect session, which has no context (connect_compat routes to
    whichever the session supports and warns loudly when neither
    works). On a real cluster this is the same mechanism
    (--py-files / session artifacts)."""
    from dock_financial_data_pipelines_spark import connect_compat

    try:
        sc = spark.sparkContext
    except Exception:  # Spark Connect: no context; dedupe on the session
        sc = None
    carrier = sc if sc is not None else spark
    if getattr(carrier, "_dock_fdp_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    final = _package_zip(pkg_dir)
    connect_compat.ship_package(spark, final)
    if sc is not None:
        # Driver-side Python runners (a Python streaming source's
        # offset planner, transformWithState's driver worker) start
        # from the function's env PYTHONPATH and skip the shipped
        # includes: put the package's parent directory there too.
        paths = [os.path.dirname(pkg_dir), sc.environment.get("PYTHONPATH")]
        sc.environment["PYTHONPATH"] = os.pathsep.join(p for p in paths if p)
    try:
        carrier._dock_fdp_shipped = True
    except Exception:  # pragma: no cover - slotted session object
        pass


def get_spark(app_name: str = "dock-fdp-spark") -> SparkSession:
    """Build the engine's own local session (tests, bench, CLI drivers)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # Overridable for the partitioning-invariance check (scripts/
    # check_all.py under local[5]/7 partitions must hash identically —
    # the determinism policy is only real if parallelism can't move a
    # result).
    shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.schemaInference", "true")
        # Pin worker reuse (the documented default, but static — it
        # cannot be tune()d later): ArrowEvalPython stages must hit a
        # warm python-worker pool, not per-stage spawns. r12 measured
        # 0.37-3.7 s spread on identical Arrow-UDF work when spawn cost
        # leaked into samples. A cold worker costs ~6.9 s on this
        # container (process + pandas/pyarrow imports); steady-state
        # identity round-trips are ~0.6 s — so any idle reaping between
        # queries re-inflicts the 10x cliff. Spark 4.1 can reap idle
        # workers (idleTimeoutSeconds / killOnIdleTimeout); pin both
        # off so the pool survives the ~90 s between Arrow queries in
        # a bench pass.
        .config("spark.python.worker.reuse", "true")
        .config("spark.python.worker.idleTimeoutSeconds", "0")
        .config("spark.python.worker.killOnIdleTimeout", "false")
        .config(
            "spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES)
        )
    )
    for k, v in _RUNTIME_CONF.items():
        builder = builder.config(k, v)
    return tune(builder.getOrCreate())
