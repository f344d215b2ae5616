"""Fixture catalog: load driver-generated parquet tables.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file per table under
``{sf_dir}/{name}.parquet``.

At 100 TB these would be multi-file partitioned datasets; ``load`` keeps
the read declarative (``spark.read.parquet``) so Catalyst's column
pruning / predicate pushdown / partition pruning apply unchanged.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession

from dock_financial_data_pipelines_spark.connect_compat import (
    session_key as _session_key,
)
from dock_financial_data_pipelines_spark.session import tune

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def sf_tag(sf_dir: str) -> str:
    """Collision-proof cache key for fixture scratch dirs: basename plus a
    hash of the absolute path and each table's file listing, so (a) two
    sf_dirs sharing a basename never collide and (b) regenerated source
    data invalidates stale caches."""
    import hashlib

    root = os.path.abspath(sf_dir.rstrip("/"))
    sig = [root]
    for name in TABLES:
        # The listing `load` keys its cache on: nanosecond mtime + size of
        # every file under the table, so a part file rewritten in place
        # (directory mtime unchanged) or a fixture regenerated within the
        # same second still produces a fresh tag, or memo_index would
        # serve a stale persisted LSH/MinHash/centroid index.
        listing = _listing(os.path.join(root, f"{name}.parquet"))
        if listing:
            sig.append(f"{name}:{listing!r}")
    digest = hashlib.sha1("|".join(sig).encode()).hexdigest()[:10]
    return f"{os.path.basename(root)}_{digest}"


def dec_sum(col, scale: int = 4, out: int = 2):
    """Order-independent money sum.

    round(sum(double), 2) is flaky across engines: different
    accumulation orders yield doubles a few ulp apart, and when the true
    sum sits near a .xx5 boundary the rounded cent differs (observed on
    the flagship revenue at sf0.1). Per-row cast to DECIMAL is exact for
    products of 2-decimal money terms (price × (1±rate) has ≤4–6
    decimal digits), decimal accumulation is exact and
    order-independent, and the final cast back to double keeps the
    output schema. The SQL twin is
    ``round(sum(CAST(expr AS DECIMAL(27,scale))), out)::DOUBLE``."""
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c.cast(f"decimal(27,{scale})")), out).cast("double")


def maybe_broadcast(df: DataFrame) -> DataFrame:
    """Broadcast hint that bench's skew-probe mode can switch off
    (``spark.dock.disableBroadcastHints=true``) to force the
    SortMergeJoin/AQE-skew path — at 100 TB a "dimension" can outgrow
    the broadcast threshold and the plan must stay viable without the
    hint."""
    from pyspark.sql import functions as F

    spark = df.sparkSession
    disabled = "false"
    try:
        disabled = spark.conf.get("spark.dock.disableBroadcastHints", "false")
    except Exception:  # pragma: no cover
        pass
    return df if disabled == "true" else F.broadcast(df)


# (session key, path) → (listing, analyzed DataFrame). spark.read.parquet
# costs ~100-130 ms per call (file listing + a schema-inference job) and
# the bench/driver call load() 1-4× per query run; the logical plan is
# immutable, so reusing it is exactly what a warehouse catalog does with
# table metadata. The listing — (relative path, mtime_ns, size) of every
# file under the table — decides whether the entry still holds: one rule
# for single files and directory tables, and it sees a part file
# rewritten in place even when the directory's own mtime does not move.
# A changed listing replaces the entry, so rewrites do not grow the dict.
_LOAD_CACHE: dict = {}


def _listing(path: str, rel: str = "") -> list:
    """(relative path, mtime_ns, size) of every file under ``path`` (a
    file lists itself); empty when nothing is there locally."""
    try:
        st = os.stat(path)
    except OSError:  # missing, or not a local path (s3a://, hdfs://…)
        return []
    if not stat.S_ISDIR(st.st_mode):
        return [(rel, st.st_mtime_ns, st.st_size)]
    return [
        entry
        for name in sorted(os.listdir(path))
        for entry in _listing(os.path.join(path, name), os.path.join(rel, name))
    ]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Also (re-)applies runtime tuning confs so
    engine semantics (UTC timezone, AQE) hold on driver-owned sessions."""
    tune(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    listing = _listing(path)
    key = (_session_key(spark), path)
    hit = _LOAD_CACHE.get(key)
    if hit is not None and hit[0] == listing:
        return hit[1]
    df = _normalize_nanos(spark.read.parquet(path))
    if listing:  # nothing local to key on: read afresh every call
        _LOAD_CACHE[key] = (listing, df)
    return df


def read_parquet_or_empty(
    spark: SparkSession, path: str, schema, **options
) -> DataFrame:
    """Read back a parquet path/glob written by this engine, returning
    an empty DataFrame with the given schema when nothing was written.

    A 0-row dynamic-partitioned write produces no partition directories
    and a foreachBatch sink with no triggered batches produces no
    batch_id dirs, so a bare ``spark.read.parquet`` on the round-trip
    path throws UNABLE_TO_INFER_SCHEMA / PATH_NOT_FOUND. Empty daily
    partitions are routine at production scale — a publish-then-read
    pipeline must treat them as empty relations, not errors. The
    explicit schema also decouples read-back from schema inference.
    """
    from pyspark.errors.exceptions.captured import AnalysisException

    try:
        return spark.read.options(**options).schema(schema).parquet(path)
    except AnalysisException:
        return spark.createDataFrame([], schema)


def _normalize_nanos(df: DataFrame) -> DataFrame:
    """Normalize fixture timestamp flavors to session-timezone TIMESTAMP:

    - TIMESTAMP(NANOS) parquet columns arrive as long (nanosAsLong);
      floor-truncate to microsecond timestamps, matching DuckDB.
    - TIMESTAMP_NTZ columns (no isAdjustedToUTC flag, inferred when the
      inferTimestampNTZ conf wasn't applied before the scan) are cast to
      TIMESTAMP — identical wall-clock under the UTC session timezone,
      and required by watermarks and numeric epoch casts."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(field.dataType, TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def local_frame(spark: SparkSession, rows: list, ddl) -> DataFrame:
    """Small literal DataFrame built as a pure-JVM plan.

    ``spark.createDataFrame(rows, ddl)`` routes tiny Python lists
    through ``applySchemaToPythonRDD``: every evaluation of the plan
    then launches a Python worker task just to unpickle a handful of
    literal rows — measured ~0.25 s per occurrence per run at r14, paid
    again on every bench pass. Constant report rows (census frames,
    probe level tables, per-step trainer rows) are plan LITERALS, so
    build them as one ``range(1) → inline(array(struct(...)))``
    projection: evaluated entirely in the JVM, no Python boundary.

    Values are cast to the DDL's exact types (``None`` included), so
    the result is column-name and type identical to the
    ``createDataFrame`` form. Frames beyond 64 rows (or non-tuple
    rows) fall back to ``createDataFrame`` — a literal plan that big
    costs more in Catalyst than the worker round-trip saves."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType, _parse_datatype_string

    schema = ddl
    if isinstance(schema, str):
        parsed = _parse_datatype_string(schema)
        schema = (
            parsed if isinstance(parsed, StructType)
            else StructType.fromDDL(ddl)
        )
    if not rows:
        return spark.createDataFrame([], schema)
    if len(rows) > 64:  # pragma: no cover - no current caller
        return spark.createDataFrame(rows, schema)
    # Shape guard (r15, ADVICE): zip() would silently truncate a short
    # row or iterate a dict's keys — fall back to createDataFrame for
    # anything that is not a full-width tuple/list/Row, matching the
    # docstring's promise (createDataFrame errors on bad shapes).
    if not all(
        isinstance(r, (tuple, list)) and len(r) == len(schema.fields)
        for r in rows
    ):
        return spark.createDataFrame(rows, schema)
    structs = []
    for r in rows:
        cols = []
        for field, v in zip(schema.fields, r):
            c = F.lit(None) if v is None else F.lit(v)
            cols.append(c.cast(field.dataType).alias(field.name))
        structs.append(F.struct(*cols))
    # range(..., numPartitions=1): the default splits the 1-row range
    # across every core, scheduling 31 empty tasks per evaluation.
    return spark.range(0, 1, 1, 1).select(F.inline(F.array(*structs)))


# (applicationId, tag) → materialized index DataFrame. The LSH / MinHash
# / SimHash operators build a signature index over a fixture table and
# probe it; at 100 TB that index is a persisted table built once — this
# memo is the local analogue, keyed on sf_tag (which hashes source
# mtimes, so regenerated data rebuilds). Also prevents the per-run
# .cache() leak: every query invocation used to pin a fresh copy.
_INDEX_CACHE: dict = {}


def memo_index(spark: SparkSession, tag: str, build) -> DataFrame:
    """Return the materialized index for ``tag``, building it once per
    session. ``build`` must return an eagerly-materialized DataFrame
    (localCheckpoint) so cached plans don't chain lineage."""
    key = (_session_key(spark), tag)
    df = _INDEX_CACHE.get(key)
    if df is None:
        df = build()
        _INDEX_CACHE[key] = df
    return df


def events_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over events.parquet with the raw (nanos-as-long) schema,
    converted to microsecond timestamps — the streaming twin of load()."""
    from pyspark.sql import functions as F

    tune(spark)
    path = os.path.join(sf_dir, "events.parquet")
    raw_schema = spark.read.parquet(path).schema
    if os.path.isdir(path):
        # Spark-written table (directory of part files): the directory
        # itself is the stream source. pathGlobFilter would match leaf
        # FILE names and see nothing called 'events.parquet' inside.
        # No maxFilesPerTrigger: part files carry no time order, so
        # per-file triggering would make the watermark from one part
        # late-drop the others — one trigger = one batch preserves the
        # single-file contract below. (Time-ordered MULTI-batch arrival
        # is _events_stream_multibatch's job.)
        stream = spark.readStream.schema(raw_schema).parquet(path)
    else:
        # single-file table: FileStreamSource wants a directory — stream
        # the sf_dir with a glob pinned to the events file (one file →
        # one micro-batch).
        stream = (
            spark.readStream.schema(raw_schema)
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    return _normalize_nanos(stream.withColumn("ts", F.col("ts")))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for the SQL surface."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
