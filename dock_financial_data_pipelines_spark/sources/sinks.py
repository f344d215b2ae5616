"""Sinks (SURVEY.md §2-B S5): partitioned parquet with dynamic
partition-overwrite — the engine restatement of the reference's
idempotent SFTP→S3 copy (`replace=True, confirm=True`, REPORT:172-174):
re-running a day replaces exactly that day's partition and nothing else.

At 100 TB the same write shape holds: partition by ingest date (and
bucket by the join key if downstream joins dominate); dynamic overwrite
keeps re-runs O(one day), not O(table).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dock_financial_data_pipelines_spark.catalog import (
    load,
    read_parquet_or_empty,
)
from dock_financial_data_pipelines_spark.registry import query
from dock_financial_data_pipelines_spark.scratch import ROOT, work_dir
from dock_financial_data_pipelines_spark.shingles import tokens, tokens_sql


def write_partitioned(
    df: DataFrame, path: str, partition_col: str, mode: str = "overwrite"
) -> None:
    """Idempotent partitioned write (dynamic overwrite).

    Dynamic mode is a per-write option, not a session conf: a session-
    wide setting would leak into every later plain overwrite on a shared
    session and leave stale partitions behind."""
    (
        df.write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )


_METADATA_MAX_ROWS = 65536

# DDL type name (a Spark ``simpleString``, or the ``long`` alias) ->
# its pyarrow type: the committer-side writers' one type map.
_PA_TYPES = {
    "long": "int64",
    "bigint": "int64",
    "int": "int32",
    "string": "string",
    "double": "float64",
    "boolean": "bool_",
}


def pa_fields(ddl: str) -> list | None:
    """The pyarrow fields of a flat ``name type, ...`` DDL string, or
    None when a column has a type outside ``_PA_TYPES``."""
    import pyarrow as pa

    fields = []
    for col in ddl.split(","):
        name, t = col.split()
        if t not in _PA_TYPES:
            return None
        fields.append(pa.field(name, getattr(pa, _PA_TYPES[t])()))
    return fields


def write_metadata_parquet(
    df: DataFrame,
    path: str,
    partition_col: str | None = None,
    max_rows: int = _METADATA_MAX_ROWS,
) -> None:
    """Driver-side parquet write for a METADATA-SIZED frame (the bloom
    index; the snapshot manifests go through the pipeline's manifest
    builder).

    A Spark write job pays the whole commit protocol (task launch,
    dynamic-overwrite listing, one Hadoop commit per partition
    directory — ~0.4 s per call measured at r14) to land a few KB; this
    is one bounded collect plus a direct pyarrow write that reproduces
    the distributed writer's layout — ``partition_col=N/`` hive
    subdirectories holding the remaining columns, or a flat single file.

    Guarded: a frame larger than ``max_rows`` falls back to the
    distributed writer (a manifest that big deserves a real job, and
    the driver must never hold unbounded rows — guide §5)."""
    rows = df.limit(max_rows + 1).collect()
    fields = pa_fields(
        ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in df.schema.fields
            if f.name != partition_col
        )
    )
    # Hive-path guard: f"{col}={value}" has no hive escaping — strings
    # with '/', '=' or escape-worthy chars would corrupt the path.
    # Integral partition values round-trip exactly; anything else, like
    # an exotic column type, keeps the distributed writer (which escapes
    # properly).
    if (
        len(rows) > max_rows
        or fields is None
        or partition_col is not None
        and not all(
            isinstance(r[partition_col], int)
            and not isinstance(r[partition_col], bool)
            for r in rows
        )
    ):  # pragma: no cover - scale fallback
        if partition_col:
            write_partitioned(df, path, partition_col)
        else:
            df.coalesce(1).write.mode("overwrite").parquet(path)
        return
    names = [f.name for f in fields] + (
        [partition_col] if partition_col else []
    )
    write_rows_pyarrow(
        [{n: r[n] for n in names} for r in rows], fields, path, partition_col
    )


def write_rows_pyarrow(
    rows: list, fields: list, path: str, partition_col: str | None = None
) -> None:
    """The layout half of :func:`write_metadata_parquet`: land already-
    collected plain-Python rows (dicts keyed by data-column name, the
    partition value under ``partition_col``) as the distributed
    writer's exact file layout — ``partition_col=N/`` hive
    subdirectories or a flat single file; no rows → no partition
    directories. ``fields`` are the pyarrow data fields (the partition
    column excluded). Shared by the collect path above and the
    snapshot tables' manifest builder (``plans.pipeline``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(fields)
    names = [f.name for f in fields]
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    if partition_col is None:
        tbl = pa.Table.from_pylist(
            [{n: r[n] for n in names} for r in rows], schema=schema
        )
        pq.write_table(tbl, os.path.join(path, "part-00000.parquet"))
        return
    groups: dict = {}
    for r in rows:
        groups.setdefault(r[partition_col], []).append(
            {n: r[n] for n in names}
        )
    # No rows -> no partition directories, matching the dynamic
    # partitioned writer's behavior on an empty frame.
    for pv, grp in groups.items():
        # a NULL partition value lands where Spark's writer puts it
        pv = "__HIVE_DEFAULT_PARTITION__" if pv is None else pv
        sub = os.path.join(path, f"{partition_col}={pv}")
        os.makedirs(sub, exist_ok=True)
        pq.write_table(
            pa.Table.from_pylist(grp, schema=schema),
            os.path.join(sub, "part-00000.parquet"),
        )


@dataclass
class SinkLocation:
    """The filesystem knob for every sink path (reference: the S3 output
    bucket, REPORT:166-178).

    The engine writes through Hadoop's FileSystem API, so pointing the
    same jobs at an object store is configuration, not code: set
    ``base_uri="s3a://bucket/prefix"`` (plus the ``hadoop-aws`` jars and
    the confs from :func:`s3a_conf` on the cluster) and every
    ``write_partitioned`` / ``driver.run_job`` path becomes an object-
    store path. In this sandbox the default stays a local ``file://``
    root; tests exercise the resolution logic, not a network."""

    base_uri: str = "file://" + os.path.join(ROOT, "warehouse")

    def path(self, *dataset: str) -> str:
        parts = [p.strip("/") for p in dataset if p]
        return "/".join([self.base_uri.rstrip("/")] + parts)


def s3a_conf(
    bucket_region: str | None = None, anonymous: bool = False
) -> dict[str, str]:
    """The Spark/Hadoop confs an ``s3a://`` SinkLocation needs — returned
    as data (apply with ``spark.conf.set`` or ``--conf``) so the sandbox
    never has to reach a network to cover the logic. Credentials come
    from the standard provider chain (env/instance profile); nothing here
    embeds a secret."""
    conf = {
        # Committer: the magic committer avoids the O(files) rename that
        # makes classic FileOutputCommitter quadratic on object stores.
        "spark.sql.sources.commitProtocolClass": (
            "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol"
        ),
        "spark.sql.parquet.output.committer.class": (
            "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter"
        ),
        "spark.hadoop.fs.s3a.committer.name": "magic",
        # Multipart upload sized for large parquet parts.
        "spark.hadoop.fs.s3a.multipart.size": "134217728",
        "spark.hadoop.fs.s3a.fast.upload": "true",
        "spark.hadoop.fs.s3a.connection.maximum": "96",
    }
    if bucket_region:
        conf["spark.hadoop.fs.s3a.endpoint.region"] = bucket_region
    if anonymous:
        conf["spark.hadoop.fs.s3a.aws.credentials.provider"] = (
            "org.apache.hadoop.fs.s3a.AnonymousAWSCredentialsProvider"
        )
    return conf


@query(
    "s5_partitioned_sink_roundtrip",
    oracle="""
    SELECT year(o_orderdate) AS order_year,
           count(*) AS n,
           round(sum(CAST(o_totalprice AS DECIMAL(27,2))), 2)::DOUBLE AS total
    FROM orders GROUP BY 1
    """,
)
def s5_partitioned_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = work_dir(sf_dir, "sink")
    orders = load(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    write_partitioned(orders, out, "order_year")
    # Write the last year again: dynamic overwrite must replace in place,
    # leaving the read-back identical to the source (idempotence check).
    last_year = orders.agg(F.max("order_year")).collect()[0][0]
    write_partitioned(orders.where(F.col("order_year") == last_year), out, "order_year")
    return (
        read_parquet_or_empty(spark, out, orders.schema)
        .groupBy(F.col("order_year").cast("bigint").alias("order_year"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(27,2)")), 2)
            .cast("double")
            .alias("total"),
        )
    )


# ---------------------------------------------------------------------------
# l_shard_export_writer — the dataset-RELEASE last mile: write the
# corpus as token-bounded shard files plus a manifest row per shard
# (shard, docs, tokens, payload bytes, content digest). s17/s19 and
# l_dataset_card ADVISE on shard counts; this operator actually EMITS
# the artifact and proves it round-trips.
#
# Shard assignment is a deterministic greedy pack: docs in doc_id order
# accumulate tokens, and a doc opens shard k when its running total
# STARTS at or past k*budget — every shard holds ~budget tokens
# (overshoot bounded by one doc), and the assignment is a pure window
# cumsum both engines replay exactly. The write is a REAL partitioned
# parquet sink (one file per shard via repartition("shard"), into a
# scratch work dir); the manifest is then
# recomputed FROM THE READ-BACK, while the oracle recomputes it from
# the source table — hash-equality proves the writer wrote every doc
# exactly once (no loss, no duplication, no stale partitions).
#
# The digest is order-independent and engine-portable: per-doc
# md5(doc_id '#' md5(text)), sorted, comma-joined, md5'd again — a
# release consumer can re-derive it from the shard files alone.
# At 100 TB: the cumsum is one global-ordered window over (doc_id,
# tokens) pairs — metadata grain, not text; text moves once, straight
# to its shard file; per-shard digest lists are bounded by
# budget/min_doc_tokens docs.
# ---------------------------------------------------------------------------
_EXPORT_TOKEN_BUDGET = 4000


@query(
    "l_shard_export_writer",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               len({tokens_sql('duckdb')}) AS tokens,
               strlen(text) AS bytes,
               md5(CAST(doc_id AS VARCHAR) || '#' || md5(text)) AS dg
        FROM documents
    ),
    c AS (
        SELECT *, sum(tokens) OVER (ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) AS cum
        FROM t
    ),
    s AS (
        SELECT *, (cum - tokens) // {_EXPORT_TOKEN_BUDGET} AS shard FROM c
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(tokens) AS BIGINT) AS n_tokens,
           CAST(sum(bytes) AS BIGINT) AS n_bytes,
           md5(string_agg(dg, ',' ORDER BY dg)) AS digest
    FROM s GROUP BY 1
    """,
)
def l_shard_export_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.size(tokens()).cast("long").alias("tokens"),
        F.octet_length("text").cast("long").alias("bytes"),
        F.md5(
            F.concat(F.col("doc_id").cast("string"), F.lit("#"),
                     F.md5("text"))
        ).alias("dg"),
    )
    cum = F.sum("tokens").over(
        Window.orderBy("doc_id").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
    )
    sharded = docs.withColumn("cum", cum).withColumn(
        "shard",
        F.expr(f"(cum - tokens) div {_EXPORT_TOKEN_BUDGET}").cast("long"),
    ).drop("cum")
    out = work_dir(sf_dir, "shard_export")
    # One file per shard: the release artifact a consumer downloads.
    write_partitioned(sharded.repartition("shard"), out, "shard")
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("tokens", LongType()),
            StructField("bytes", LongType()),
            StructField("dg", StringType()),
            StructField("shard", LongType()),
        ]
    )
    back = read_parquet_or_empty(spark, out, schema)
    return back.groupBy(F.col("shard").cast("long").alias("shard")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("tokens").cast("long").alias("n_tokens"),
        F.sum("bytes").cast("long").alias("n_bytes"),
        F.md5(
            F.concat_ws(",", F.sort_array(F.collect_list("dg")))
        ).alias("digest"),
    )
