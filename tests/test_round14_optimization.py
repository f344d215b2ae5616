"""Round-14 optimization invariants.

The r14 round changed HOW three internals produce bytes, never WHAT any
query computes. These tests pin the equivalences the optimizations rely
on:

- ``write_metadata_parquet`` (driver-side manifest writer) must be
  layout- and content-identical to the distributed writer it replaced,
  for both the hive-partitioned and flat shapes, including the 0-row
  edge every empty-fixture drain exercises.
- ``_stage_version``'s manifest must equal a recount of the data it
  staged.
- ``file_rows`` small-file debris must be physically real (many files)
  without a one-task-per-file shuffle.
"""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from dock_financial_data_pipelines_spark.catalog import (
    read_parquet_or_empty,
)
from dock_financial_data_pipelines_spark.sources.sinks import (
    write_metadata_parquet,
    write_partitioned,
)

pytestmark = pytest.mark.usefixtures("spark")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_metadata_writer_matches_distributed_partitioned_layout(
    spark, tmp_path
):
    man = spark.createDataFrame(
        [(0, 10, 100, -7), (1, 20, 200, 8), (2, 5, 50, 0), (5, 1, 9, 3)],
        "shard long, n_docs long, n_tokens long, digest long",
    ).withColumn("part", (F.col("shard") % 4).cast("long"))
    spark_dir = str(tmp_path / "spark_man")
    meta_dir = str(tmp_path / "meta_man")
    write_partitioned(man, spark_dir, "part")
    write_metadata_parquet(man, meta_dir, "part")
    # identical hive directory shape
    assert sorted(
        n for n in os.listdir(meta_dir) if n.startswith("part=")
    ) == sorted(n for n in os.listdir(spark_dir) if n.startswith("part="))
    # identical content through the explicit-schema protocol reader
    ddl = "shard long, n_docs long, n_tokens long, digest long"
    a = read_parquet_or_empty(spark, spark_dir, ddl).drop("part")
    b = read_parquet_or_empty(spark, meta_dir, ddl).drop("part")
    assert _rows(a) == _rows(b)
    assert a.schema == b.schema


def test_metadata_writer_flat_and_string_columns(spark, tmp_path):
    man = spark.createDataFrame(
        [("2024-01", 3, 2, "2024-01-01", "2024-01-31")],
        "p string, n_rows long, n_days long, min_day string, max_day string",
    )
    d = str(tmp_path / "flat_man")
    write_metadata_parquet(man, d)
    back = spark.read.parquet(d)  # schema-inferred read path
    assert _rows(back.select("p", "n_rows", "n_days", "min_day", "max_day")) \
        == _rows(man)
    assert dict(back.dtypes)["n_rows"] == "bigint"
    assert dict(back.dtypes)["min_day"] == "string"


def test_metadata_writer_empty_frame_reads_back_empty(spark, tmp_path):
    ddl = "shard long, n_docs long, n_tokens long, digest long"
    empty = spark.createDataFrame([], ddl)
    flat = str(tmp_path / "empty_flat")
    part = str(tmp_path / "empty_part")
    write_metadata_parquet(empty, flat)
    write_metadata_parquet(
        empty.withColumn("part", F.lit(0).cast("long")), part, "part"
    )
    assert read_parquet_or_empty(spark, flat, ddl).count() == 0
    # partitioned empty: no partition dirs, like the dynamic writer
    assert not glob.glob(os.path.join(part, "part=*"))
    assert read_parquet_or_empty(spark, part, ddl).count() == 0


def test_metadata_writer_falls_back_over_max_rows(spark, tmp_path):
    df = spark.range(10).select(
        F.col("id").alias("shard"), (F.col("id") * 2).alias("n")
    )
    d = str(tmp_path / "fallback")
    write_metadata_parquet(df, d, max_rows=3)  # over the cap
    back = spark.read.parquet(d)
    assert back.count() == 10
    assert _rows(back.select("shard", "n")) == _rows(df)


def test_stage_version_manifest_matches_recount(spark, tmp_path):
    from dock_financial_data_pipelines_spark.plans.pipeline import (
        _MANIFEST_DDL,
        _REL_SCHEMA_DDL,
        _SHARD_AGGS,
        _manifest_frame,
        _stage_version,
    )

    df = spark.createDataFrame(
        [(i, 10 + i, f"dg{i}", i % 3) for i in range(20)],
        "doc_id long, tokens long, dg string, shard long",
    )
    root = str(tmp_path / "root")
    staged = _stage_version(spark, df, root, 1)
    assert _rows(staged) == _rows(df)
    # shard is a data column: no shard= dirs
    assert not glob.glob(os.path.join(root, "data", "v=1", "shard=*"))
    # the manifest equals a recount of the staged data
    man = read_parquet_or_empty(
        spark, os.path.join(root, "manifest", "v=1"), _MANIFEST_DDL
    ).drop("part")
    recount = _manifest_frame(
        read_parquet_or_empty(
            spark, os.path.join(root, "data", "v=1"), _REL_SCHEMA_DDL
        ),
        _MANIFEST_DDL,
        _SHARD_AGGS,
    )
    assert _rows(man) == _rows(recount)
    assert len(_rows(man)) == 3


def test_stage_version_file_rows_debris_is_many_real_files(spark, tmp_path):
    from dock_financial_data_pipelines_spark.plans.pipeline import (
        _stage_version,
    )

    df = spark.createDataFrame(
        [(i, 1, f"dg{i}", i) for i in range(200)],
        "doc_id long, tokens long, dg string, shard long",
    )
    root = str(tmp_path / "debris_root")
    staged = _stage_version(spark, df, root, 1, file_rows=5)
    files = glob.glob(os.path.join(root, "data", "v=1", "*.parquet"))
    # physically real small-file debris: far more files than cores,
    # every row present exactly once
    assert len(files) >= 200 // 5
    assert staged.count() == 200
