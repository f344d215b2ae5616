"""Source readers (SURVEY.md §2-B S1-S4, S6).

The reference ingests opaque files from SFTP to S3 and fans a Lambda out
to unzip them (REPORT:151-220). The engine equivalents:

- S1 parquet scan (columnar, pushdown) — the landed-data fast path.
- S2 CSV with an explicit schema — the statement-file format.
- S3 JSON-lines — the API landing zone (REPORT:39 response envelopes).
- S4 binaryFile + distributed in-engine unzip via mapInPandas — replaces
  the Lambda fan-out entirely (REPORT:209-215): the cluster IS the
  decompression fleet, data never funnels through a single worker.
- S6 date-pruned incremental read — the engine form of pushing the day
  predicate into the source request (REPORT:59-62).

Roundtrip queries write a temp copy in the target format first, then
read it back through the engine path; the oracle states the same
semantics over the original table, so the format conversion itself is
what gets verified.
"""

from __future__ import annotations

import io
import os
import zipfile
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
    load,
    read_parquet_or_empty,
)
from dock_financial_data_pipelines_spark.hashing import h60_sql
from dock_financial_data_pipelines_spark.registry import query
from dock_financial_data_pipelines_spark.scratch import (
    built_dir,
    built_path,
    work_dir,
)
from dock_financial_data_pipelines_spark.shingles import tokens, tokens_sql


# ---------------------------------------------------------------------------
# S1 — parquet scan with pushdown-friendly filter + projection
# ---------------------------------------------------------------------------
@query(
    "s1_parquet_scan",
    oracle="""
    SELECT count(*) AS n_rows,
           round(sum(l_quantity), 2) AS total_qty,
           count(DISTINCT l_orderkey) AS n_orders
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1999-01-01'
    """,
)
def s1_parquet_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
        .select("l_orderkey", "l_quantity")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
            F.countDistinct("l_orderkey").alias("n_orders"),
        )
    )


# ---------------------------------------------------------------------------
# S2 — CSV scan with an explicit schema (no inference job at scale)
# ---------------------------------------------------------------------------
_CSV_SCHEMA = StructType(
    [
        StructField("o_orderkey", LongType()),
        StructField("o_custkey", LongType()),
        StructField("o_orderstatus", StringType()),
        StructField("o_totalprice", DoubleType()),
        StructField("o_orderdate", StringType()),
    ]
)


@query(
    "s2_csv_roundtrip",
    oracle="""
    SELECT o_orderstatus, count(*) AS n,
           round(sum(CAST(o_totalprice AS DECIMAL(27,2))), 2)::DOUBLE AS total
    FROM orders GROUP BY 1
    """,
)
def s2_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = work_dir(sf_dir, "csv")
    (
        load(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        )
        .write.mode("overwrite")
        .option("header", "true")
        .csv(out)
    )
    return (
        spark.read.schema(_CSV_SCHEMA)
        .option("header", "true")
        .csv(out)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dec_sum("o_totalprice", scale=2).alias("total"),
        )
    )


# ---------------------------------------------------------------------------
# S3 — JSON-lines scan (API landing-zone envelopes, REPORT:39)
# ---------------------------------------------------------------------------
@query(
    "s3_jsonl_roundtrip",
    oracle="""
    SELECT event_type, count(*) AS n, round(sum(CAST(value AS DECIMAL(27,6))), 2)::DOUBLE AS total_value
    FROM events GROUP BY 1
    """,
)
def s3_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = work_dir(sf_dir, "jsonl")
    (
        load(spark, sf_dir, "events")
        .select("event_id", "event_type", "value")
        .write.mode("overwrite")
        .json(out)
    )
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    return (
        spark.read.schema(schema)
        .json(out)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dec_sum("value", scale=6).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# S4 — binary/ZIP ingest + distributed unzip (replaces the reference's
# Lambda fan-out, REPORT:209-215). ZIP archives are built once per
# sf_dir from the documents table (one archive per 100 docs — the
# "daily landed file"), then read back via binaryFile and exploded by a
# mapInPandas unzip running on executors.
# ---------------------------------------------------------------------------
_UNZIP_SCHEMA = StructType(
    [
        StructField("archive", StringType()),
        StructField("entry_name", StringType()),
        StructField("entry_bytes", LongType()),
    ]
)


def _build_zip_fixture(spark: SparkSession, sf_dir: str) -> str:
    def build(out: str) -> None:
        docs = load(spark, sf_dir, "documents").select("doc_id", "text")
        # fixture-building only; bounded by the docs table (≤5k at sf0.1)
        docs = docs.toPandas().sort_values("doc_id")
        for chunk_start in range(0, len(docs), 100):
            chunk = docs.iloc[chunk_start : chunk_start + 100]
            zpath = os.path.join(out, f"docs_{chunk_start:06d}.zip")
            with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
                for _, row in chunk.iterrows():
                    zf.writestr(f"doc_{int(row.doc_id):08d}.txt", row.text)

    return built_dir(sf_dir, "zips", build)


def unzip_binary_files(binary_df: DataFrame) -> DataFrame:
    """Distributed unzip: each executor opens its own archives."""

    def unzip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"archive": [], "entry_name": [], "entry_bytes": []}
            for path, content in zip(pdf["path"], pdf["content"]):
                with zipfile.ZipFile(io.BytesIO(content)) as zf:
                    for info in zf.infolist():
                        rows["archive"].append(os.path.basename(path))
                        rows["entry_name"].append(info.filename)
                        rows["entry_bytes"].append(len(zf.read(info)))
            yield pd.DataFrame(rows)

    return binary_df.mapInPandas(unzip, _UNZIP_SCHEMA)


@query(
    "s4_zip_ingest_unzip",
    oracle="""
    SELECT count(*) AS n_entries,
           CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
           count(DISTINCT doc_id) AS n_docs
    FROM documents
    """,
)
def s4_zip_ingest_unzip(spark: SparkSession, sf_dir: str) -> DataFrame:
    zip_dir = _build_zip_fixture(spark, sf_dir)
    binary = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.zip")
        .load(zip_dir)
        .select("path", "content")
    )
    entries = unzip_binary_files(binary)
    return entries.agg(
        F.count(F.lit(1)).alias("n_entries"),
        F.sum("entry_bytes").alias("total_bytes"),
        F.countDistinct("entry_name").alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# S8 — ORC roundtrip (second columnar format; same pushdown machinery)
# ---------------------------------------------------------------------------
@query(
    "s8_orc_roundtrip",
    oracle="""
    SELECT c_mktsegment, count(*) AS n,
           round(sum(CAST(c_acctbal AS DECIMAL(27,2))), 2)::DOUBLE AS total_bal
    FROM customer GROUP BY 1
    """,
)
def s8_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = work_dir(sf_dir, "orc")
    load(spark, sf_dir, "customer").write.mode("overwrite").orc(out)
    return (
        spark.read.orc(out)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dec_sum("c_acctbal", scale=2).alias("total_bal"),
        )
    )


# ---------------------------------------------------------------------------
# S6 — date-partition-pruned incremental read: the engine form of the
# reference's "request only yesterday" URL predicate (REPORT:59-62).
# ---------------------------------------------------------------------------
@query(
    "s6_date_pruned_read",
    oracle="""
    SELECT o_orderpriority, count(*) AS n,
           round(sum(CAST(o_totalprice AS DECIMAL(27,2))), 2)::DOUBLE AS total
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-07-01'
    GROUP BY 1
    """,
)
def s6_date_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dec_sum("o_totalprice", scale=2).alias("total"),
        )
    )


# ---------------------------------------------------------------------------
# S9 — schema-evolution read (mergeSchema): a landed dataset whose later
# days gained a column. The reference's dynamic JSON envelopes
# (REPORT:39, dict.get with null-guards) become additive parquet schema
# evolution: old files stay valid, new columns are null for old days,
# and one mergeSchema read serves both. At 100 TB the merged-footer
# read is a one-time planning cost; data files are untouched.
# ---------------------------------------------------------------------------
@query(
    "s9_schema_evolution_read",
    oracle="""
    WITH early AS (
        SELECT o_orderkey, o_totalprice, NULL::VARCHAR AS priority_class
        FROM orders WHERE year(o_orderdate) <= 1996
    ),
    late AS (
        SELECT o_orderkey, o_totalprice,
               CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                    THEN 'expedite' ELSE 'standard' END AS priority_class
        FROM orders WHERE year(o_orderdate) > 1996
    ),
    unioned AS (SELECT * FROM early UNION ALL SELECT * FROM late)
    SELECT coalesce(priority_class, 'unknown') AS priority_class,
           count(*) AS n,
           round(sum(CAST(o_totalprice AS DECIMAL(27,2))), 2)::DOUBLE AS total
    FROM unioned GROUP BY 1
    """,
)
def s9_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build(out: str) -> None:
        orders = load(spark, sf_dir, "orders")
        (
            orders.where(F.year("o_orderdate") <= 1996)
            .select("o_orderkey", "o_totalprice")
            .write.mode("overwrite")
            .parquet(os.path.join(out, "day=old"))
        )
        (
            orders.where(F.year("o_orderdate") > 1996)
            .select(
                "o_orderkey",
                "o_totalprice",
                F.when(
                    F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "expedite"
                )
                .otherwise("standard")
                .alias("priority_class"),
            )
            .write.mode("overwrite")
            .parquet(os.path.join(out, "day=new"))
        )

    out = built_dir(sf_dir, "evolve", build)
    merged = (
        spark.read.option("mergeSchema", "true")
        .option("basePath", out)
        .parquet(os.path.join(out, "day=*"))
    )
    return (
        merged.groupBy(
            F.coalesce("priority_class", F.lit("unknown")).alias("priority_class")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            dec_sum("o_totalprice", scale=2).alias("total"),
        )
    )


# ---------------------------------------------------------------------------
# S10 — small-file compaction: the maintenance job every date-partitioned
# 100 TB dataset needs. A fragmented write (many files per partition)
# is rewritten 1-file-per-partition via repartition on the partition
# key; the oracle checks the data survived compaction byte-exact, and
# the query output carries the before/after file counts.
# ---------------------------------------------------------------------------
@query(
    "s10_compact_small_files",
    oracle="""
    SELECT count(*) AS n_rows,
           count(DISTINCT strftime(date_trunc('day', ts), '%Y-%m-%d')) AS n_days,
           round(sum(CAST(value AS DECIMAL(27,6))), 2)::DOUBLE AS total_value,
           TRUE AS compacted_fewer_files
    FROM events
    """,
)
def s10_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob

    ev = load(spark, sf_dir, "events").withColumn(
        "day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    )

    def build(base: str) -> None:
        frag, tight = os.path.join(base, "frag"), os.path.join(base, "tight")
        # Fragmented layout: default parallelism → many files per day.
        ev.repartition(8).write.mode("overwrite").partitionBy("day").parquet(frag)
        # Compaction: repartition BY the partition column → exactly one
        # task (one file) per day partition. An empty source writes no
        # partition dirs at all — read back with the source schema so
        # the compaction of an empty day is an empty relation.
        (
            read_parquet_or_empty(spark, frag, ev.schema)
            .repartition("day")
            .write.mode("overwrite")
            .partitionBy("day")
            .parquet(tight)
        )

    base = built_dir(sf_dir, "compact", build)
    frag, tight = os.path.join(base, "frag"), os.path.join(base, "tight")
    n_frag = len(glob.glob(os.path.join(frag, "day=*", "*.parquet")))
    n_tight = len(glob.glob(os.path.join(tight, "day=*", "*.parquet")))
    return (
        read_parquet_or_empty(spark, tight, ev.schema)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("day").alias("n_days"),
            dec_sum("value", scale=6).alias("total_value"),
        )
        # Vacuously true when there was nothing to compact.
        .withColumn(
            "compacted_fewer_files", F.lit(n_frag == 0 or n_tight < n_frag)
        )
    )


# ---------------------------------------------------------------------------
# S12 — incremental rollup + merge (the materialized-view pattern): daily
# pre-aggregates are maintained incrementally, and a period query merges
# rollups instead of rescanning raw events. The oracle computes the same
# period directly from raw data — proving rollup-merge ≡ direct scan,
# which is the correctness obligation of any incremental MV.
# ---------------------------------------------------------------------------
@query(
    "s12_rollup_merge",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           round(sum(CAST(value AS DECIMAL(27,6))), 2)::DOUBLE AS total_value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-22'
    GROUP BY 1
    """,
)
def s12_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load(spark, sf_dir, "events")
        .groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            "user_id",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(27,6)")).alias("sum_value"),
        )
    )
    def build(base: str) -> None:
        daily.write.mode("overwrite").partitionBy("day").parquet(
            os.path.join(base, "daily")
        )

    base = built_dir(sf_dir, "rollup", build)
    # An empty source day writes no partition dirs — an empty MV, not an
    # error (daily.schema keeps the read-back contract explicit).
    rollups = read_parquet_or_empty(
        spark, os.path.join(base, "daily"), daily.schema
    )
    # Partition-pruned merge: only the 14 daily rollups in range are read.
    return (
        rollups.where((F.col("day") >= "2024-01-08") & (F.col("day") < "2024-01-22"))
        .groupBy("user_id")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.round(F.sum("sum_value"), 2).cast("double").alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# S11 — XML roundtrip (Spark 4 built-in XML source): the
# bank-statement-interchange format classic. Explicit schema on read (no
# inference job at scale), same aggregation oracle discipline as CSV/ORC.
# ---------------------------------------------------------------------------
@query(
    "s11_xml_roundtrip",
    oracle="""
    SELECT s_nationkey,
           count(*) AS n_suppliers,
           round(sum(CAST(s_acctbal AS DECIMAL(27,2))), 2)::DOUBLE AS total_bal
    FROM supplier GROUP BY 1
    """,
)
def s11_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build(out: str) -> None:
        (
            load(spark, sf_dir, "supplier")
            .select("s_suppkey", "s_nationkey", "s_acctbal")
            .coalesce(1)
            .write.mode("overwrite")
            .format("xml")
            .option("rootTag", "suppliers")
            .option("rowTag", "supplier")
            .save(os.path.join(out, "suppliers"))
        )

    data_dir = os.path.join(built_dir(sf_dir, "xml", build), "suppliers")
    xml_schema = StructType(
        [
            StructField("s_suppkey", LongType()),
            StructField("s_nationkey", LongType()),
            StructField("s_acctbal", DoubleType()),
        ]
    )
    return (
        spark.read.format("xml")
        .option("rowTag", "supplier")
        .schema(xml_schema)
        .load(data_dir)
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            dec_sum("s_acctbal", scale=2).alias("total_bal"),
        )
    )


# ---------------------------------------------------------------------------
# S13 — plain-text source (spark.read/write.text): the rawest landing
# format a corpus arrives in (one document per line). The roundtrip
# writes the documents table out as UTF-8 lines and recomputes corpus
# stats from the re-read lines alone — proving the text path loses
# nothing (fixture text contains no newlines; a production reader would
# escape them at write time). One map-only write + one scan.
# ---------------------------------------------------------------------------
@query(
    "s13_text_roundtrip",
    oracle=f"""
    SELECT count(*) AS n_lines,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           CAST(sum(len({tokens_sql('duckdb')})) AS BIGINT) AS total_words,
           CAST(max(length(text)) AS BIGINT) AS max_line_chars
    FROM documents
    """,
)
def s13_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = work_dir(sf_dir, "text")
    load(spark, sf_dir, "documents").select("text").write.mode(
        "overwrite"
    ).text(out)
    lines = spark.read.text(out)  # single `value` column
    return lines.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.length("value")).cast("long").alias("total_chars"),
        F.sum(F.size(tokens("value"))).cast("long").alias("total_words"),
        F.max(F.length("value")).cast("long").alias("max_line_chars"),
    )


# ---------------------------------------------------------------------------
# S14 — malformed-row CSV audit: the ingest-hygiene reader every CSV
# feed needs (the reference moves CSV report files; a consumer must
# quarantine bad rows, not crash or silently drop them). Validation is
# EXPLICIT try_cast rules — read every field as string (structurally
# always parseable), a row is good iff every typed cast succeeds —
# rather than parser-dependent error handling: Spark's PERMISSIVE
# quarantine and DuckDB's ignore_errors draw the good/bad line in
# genuinely different places for value-level errors (found empirically
# by this operator's own oracle check), while try_cast semantics are
# identical on both engines AND give the pipeline a declarative,
# auditable validity rule. One scan; the quarantine rows stay
# addressable for a dead-letter sink.
# ---------------------------------------------------------------------------
_CSV_GOOD_ROWS = 24
# Fixture content is sf-independent (synthetic corrupt rows), so the
# path is static — the oracle SQL must be a fixed string and DuckDB
# reads the same file the engine just audited.
_CORRUPT_CSV = os.path.join(built_path(None, "corrupt_csv"), "feed.csv")


def _corrupt_csv_fixture() -> str:
    """Deterministic CSV with value-level corrupt rows interleaved."""

    def build(tmp: str) -> None:
        lines = ["k,amount,day"]
        for k in range(_CSV_GOOD_ROWS):
            lines.append(f"{k},{(k * 137 % 1000) / 100:.2f},2024-01-{1 + k % 28:02d}")
        lines.insert(5, "100,not_a_number,2024-01-05")
        lines.insert(11, "101,3.50,not_a_date")
        lines.insert(17, "102,12.34,2024-02-30")  # impossible date Feb 30
        with open(os.path.join(tmp, "feed.csv"), "w") as fh:
            fh.write("\n".join(lines) + "\n")

    built_dir(None, "corrupt_csv", build)
    return _CORRUPT_CSV


@query(
    "s14_corrupt_csv_audit",
    oracle=f"""
    WITH raw AS (
        SELECT TRY_CAST(k AS BIGINT) AS k_v,
               TRY_CAST(amount AS DOUBLE) AS amount_v,
               TRY_CAST(day AS DATE) AS day_v
        FROM read_csv('{_CORRUPT_CSV}',
            columns={{'k': 'VARCHAR', 'amount': 'VARCHAR', 'day': 'VARCHAR'}},
            header=true)
    ),
    flagged AS (
        SELECT *, (k_v IS NOT NULL AND amount_v IS NOT NULL
                   AND day_v IS NOT NULL) AS ok
        FROM raw
    )
    SELECT count(*) AS n_rows,
           CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
           CAST(sum(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT) AS n_corrupt,
           round(sum(CASE WHEN ok THEN CAST(amount_v AS DECIMAL(27,2))
                          ELSE 0 END), 2)::DOUBLE AS good_amount,
           strftime(min(CASE WHEN ok THEN day_v END), '%Y-%m-%d')
               AS first_day
    FROM flagged
    """,
)
def s14_corrupt_csv_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _corrupt_csv_fixture()
    raw = (
        spark.read.schema("k STRING, amount STRING, day STRING")
        .option("header", "true")
        .csv(path)
        .select(
            F.expr("try_cast(k AS BIGINT)").alias("k_v"),
            F.expr("try_cast(amount AS DOUBLE)").alias("amount_v"),
            F.expr("try_cast(day AS DATE)").alias("day_v"),
        )
    )
    ok = (
        F.col("k_v").isNotNull()
        & F.col("amount_v").isNotNull()
        & F.col("day_v").isNotNull()
    )
    return raw.withColumn("ok", ok).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("ok"), 1).otherwise(0)).cast("long").alias("n_good"),
        F.sum(F.when(F.col("ok"), 0).otherwise(1))
        .cast("long")
        .alias("n_corrupt"),
        F.round(
            F.sum(
                F.when(
                    F.col("ok"), F.col("amount_v").cast("decimal(27,2)")
                ).otherwise(F.lit(0).cast("decimal(27,2)"))
            ),
            2,
        )
        .cast("double")
        .alias("good_amount"),
        F.date_format(
            F.min(F.when(F.col("ok"), F.col("day_v"))), "yyyy-MM-dd"
        ).alias("first_day"),
    )


# ---------------------------------------------------------------------------
# S16 — JSON-lines ingest hygiene, the JSON sibling of s14: a feed
# with malformed lines, wrong-typed values, and missing keys is
# classified in one scan. Both engines extract fields AS STRINGS from
# the raw line (get_json_object ↔ ->> — null iff the line is not valid
# JSON or the key is absent) and validate with the same try_cast
# chain, so the verdict never depends on either engine's JSON-parser
# recovery behavior — the s14 lesson applied to JSON.
# ---------------------------------------------------------------------------
_JSONL_GOOD_ROWS = 24
_CORRUPT_JSONL = os.path.join(built_path(None, "corrupt_jsonl"), "feed.jsonl")


def _corrupt_jsonl_fixture() -> str:
    """Deterministic JSONL with malformed / wrong-typed / missing-key
    rows interleaved."""

    def build(tmp: str) -> None:
        lines = []
        for k in range(_JSONL_GOOD_ROWS):
            amount = (k * 137 % 1000) / 100
            lines.append(
                '{"k": %d, "amount": "%.2f", "day": "2024-01-%02d"}'
                % (k, amount, 1 + k % 28)
            )
        lines.insert(3, '{broken json, no quotes')
        lines.insert(9, '{"k": 100, "amount": "not_a_number", "day": "2024-01-05"}')
        lines.insert(15, '{"k": 101, "amount": "3.50", "day": "2024-02-30"}')
        lines.insert(21, '{"k": 102, "amount": "7.77"}')  # missing day
        with open(os.path.join(tmp, "feed.jsonl"), "w") as fh:
            fh.write("\n".join(lines) + "\n")

    built_dir(None, "corrupt_jsonl", build)
    return _CORRUPT_JSONL


@query(
    "s16_corrupt_jsonl_audit",
    oracle=f"""
    WITH raw AS (
        SELECT line,
               json_extract_string(TRY_CAST(line AS JSON), '$') IS NOT NULL
                   AS is_json,
               TRY_CAST(json_extract_string(TRY_CAST(line AS JSON), '$.k')
                        AS BIGINT) AS k_v,
               TRY_CAST(json_extract_string(TRY_CAST(line AS JSON),
                        '$.amount') AS DOUBLE) AS amount_v,
               TRY_CAST(json_extract_string(TRY_CAST(line AS JSON), '$.day')
                        AS DATE) AS day_v
        FROM read_csv('{_CORRUPT_JSONL}',
            columns={{'line': 'VARCHAR'}}, header=false, sep=chr(1),
            quote='')
    ),
    flagged AS (
        SELECT is_json,
               (k_v IS NOT NULL AND amount_v IS NOT NULL
                AND day_v IS NOT NULL) AS ok
        FROM raw
    )
    SELECT count(*) AS n_rows,
           CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
           CAST(sum(CASE WHEN NOT is_json THEN 1 ELSE 0 END) AS BIGINT)
               AS n_malformed,
           CAST(sum(CASE WHEN is_json AND NOT ok THEN 1 ELSE 0 END)
                AS BIGINT) AS n_bad_value
    FROM flagged
    """,
)
def s16_corrupt_jsonl_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _corrupt_jsonl_fixture()
    raw = spark.read.text(path).select(
        F.get_json_object(F.col("value"), "$").isNotNull().alias("is_json"),
        F.expr("try_cast(get_json_object(value, '$.k') AS BIGINT)").alias(
            "k_v"
        ),
        F.expr(
            "try_cast(get_json_object(value, '$.amount') AS DOUBLE)"
        ).alias("amount_v"),
        F.expr("try_cast(get_json_object(value, '$.day') AS DATE)").alias(
            "day_v"
        ),
    )
    ok = (
        F.col("k_v").isNotNull()
        & F.col("amount_v").isNotNull()
        & F.col("day_v").isNotNull()
    )
    return raw.withColumn("ok", ok).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("ok"), 1).otherwise(0)).cast("long").alias("n_good"),
        F.sum(F.when(~F.col("is_json"), 1).otherwise(0))
        .cast("long")
        .alias("n_malformed"),
        F.sum(F.when(F.col("is_json") & ~F.col("ok"), 1).otherwise(0))
        .cast("long")
        .alias("n_bad_value"),
    )


# ---------------------------------------------------------------------------
# s17_compaction_binpack — the small-files compaction PLAN, computed
# from table metadata scale: monthly partitions of the orders table
# are first-fit bin-packed (in month order) into output bins of a
# 2 000-row target by a cumulative-sum assignment — bin =
# floor(running_rows_before / target). This is the planning step of
# s10's compaction executor at 100 TB: the plan works on the
# per-partition row-count aggregate (thousands of rows of metadata,
# never the data), so it is driver-light and shuffle-light no matter
# the corpus size. Output: one row per output bin with its month span
# and row total. Cumulative window over the month-ordered partition
# list (calendar-bounded — the a25 contract).
# ---------------------------------------------------------------------------
_COMPACT_TARGET = 2000


@query(
    "s17_compaction_binpack",
    oracle=f"""
    WITH parts AS (
        SELECT strftime(o_orderdate, '%Y-%m') AS mon,
               CAST(count(*) AS BIGINT) AS rows_
        FROM orders GROUP BY 1
    ),
    packed AS (
        SELECT mon, rows_,
               CAST(coalesce(sum(rows_) OVER (
                   ORDER BY mon ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) // {_COMPACT_TARGET} AS BIGINT)
                   AS bin
        FROM parts
    )
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n_partitions,
           min(mon) AS first_month,
           max(mon) AS last_month,
           CAST(sum(rows_) AS BIGINT) AS total_rows
    FROM packed GROUP BY 1 ORDER BY 1
    """,
)
def s17_compaction_binpack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    parts = (
        load(spark, sf_dir, "orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("mon"))
        .agg(F.count(F.lit(1)).cast("long").alias("rows_"))
    )
    w = Window.orderBy("mon").rowsBetween(Window.unboundedPreceding, -1)
    packed = parts.select(
        "mon",
        "rows_",
        F.floor(
            F.coalesce(F.sum("rows_").over(w), F.lit(0)) / _COMPACT_TARGET
        )
        .cast("long")
        .alias("bin"),
    )
    return (
        packed.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_partitions"),
            F.min("mon").alias("first_month"),
            F.max("mon").alias("last_month"),
            F.sum("rows_").cast("long").alias("total_rows"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# s18_rowgroup_pruning_probe — how effective column min/max statistics
# are for scan pruning: the orders table is cut into synthetic "row
# groups" of 1 000 rows in orderkey order (the layout a writer
# produces), per-group o_orderdate min/max stats are computed (exactly
# what a parquet footer stores), and a literal one-year predicate is
# evaluated against the STATS vs against the ROWS. Groups split into
# pruned (stats exclude the range), true-positive (stats overlap and
# rows match) and false-positive (stats overlap but NO row matches —
# the clustering-quality signal: high FP means the table needs a sort
# by date before write). The decision input for choosing a layout at
# 100 TB; everything reduces on group keys, corpus-bounded / 1000.
# ---------------------------------------------------------------------------
@query(
    "s18_rowgroup_pruning_probe",
    oracle="""
    WITH rg AS (
        SELECT (row_number() OVER (ORDER BY o_orderkey) - 1) // 1000 AS rg,
               o_orderdate,
               CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
                     AND o_orderdate < TIMESTAMP '1998-01-01'
                    THEN 1 ELSE 0 END AS hit
        FROM orders
    ),
    stats AS (
        SELECT rg,
               min(o_orderdate) AS mn, max(o_orderdate) AS mx,
               CAST(sum(hit) AS BIGINT) AS matching_rows,
               CAST(count(*) AS BIGINT) AS rows_
        FROM rg GROUP BY 1
    ),
    classed AS (
        SELECT rg, rows_, matching_rows,
               CASE WHEN mx < TIMESTAMP '1997-01-01'
                      OR mn >= TIMESTAMP '1998-01-01' THEN 'pruned'
                    WHEN matching_rows > 0 THEN 'scan_hit'
                    ELSE 'scan_false_positive' END AS outcome
        FROM stats
    )
    SELECT outcome,
           CAST(count(*) AS BIGINT) AS n_rowgroups,
           CAST(sum(rows_) AS BIGINT) AS rows_scanned,
           CAST(sum(matching_rows) AS BIGINT) AS rows_matching
    FROM classed GROUP BY 1 ORDER BY 1
    """,
)
def s18_rowgroup_pruning_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    lo, hi = "1997-01-01", "1998-01-01"
    o = load(spark, sf_dir, "orders")
    rg = o.select(
        F.floor(
            (F.row_number().over(Window.orderBy("o_orderkey")) - 1) / 1000
        ).alias("rg"),
        "o_orderdate",
        F.when(
            (F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(hi).cast("timestamp")),
            1,
        )
        .otherwise(0)
        .alias("hit"),
    )
    stats = rg.groupBy("rg").agg(
        F.min("o_orderdate").alias("mn"),
        F.max("o_orderdate").alias("mx"),
        F.sum("hit").cast("long").alias("matching_rows"),
        F.count(F.lit(1)).cast("long").alias("rows_"),
    )
    classed = stats.select(
        "rg",
        "rows_",
        "matching_rows",
        F.when(
            (F.col("mx") < F.lit(lo).cast("timestamp"))
            | (F.col("mn") >= F.lit(hi).cast("timestamp")),
            "pruned",
        )
        .when(F.col("matching_rows") > 0, "scan_hit")
        .otherwise("scan_false_positive")
        .alias("outcome"),
    )
    return (
        classed.groupBy("outcome")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rowgroups"),
            F.sum("rows_").cast("long").alias("rows_scanned"),
            F.sum("matching_rows").cast("long").alias("rows_matching"),
        )
        .orderBy("outcome")
    )


# ---------------------------------------------------------------------------
# s19_partition_size_advisor — the layout-maintenance input s17's
# bin-packer consumes, computed from row content instead of assumed:
# per ingest-month partition of orders, the estimated on-disk bytes
# (fixed-width columns at 8 bytes + actual UTF-8 byte lengths of the
# string columns) and the file count a 128 KB-target writer should
# emit (the fixture-scale stand-in for the 128 MB production target —
# same arithmetic, smaller constant). The verdict column separates
# partitions to coalesce (small-files problem), to split (row-group
# oversize), and to leave alone. Metadata-grain output (months), one
# hash aggregate over a byte-width projection — the scan never
# shuffles row content, only (month, bytes).
# ---------------------------------------------------------------------------
_S19_TARGET = 131072  # bytes per output file at fixture scale


@query(
    "s19_partition_size_advisor",
    oracle=f"""
    WITH rows_ AS (
        SELECT strftime(o_orderdate, '%Y-%m') AS mon,
               32 + strlen(o_orderstatus) + strlen(o_orderpriority)
                   AS row_bytes
        FROM orders
    ),
    m AS (
        SELECT mon, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(row_bytes) AS BIGINT) AS est_bytes
        FROM rows_ GROUP BY 1
    )
    SELECT mon, n_rows, est_bytes,
           greatest(CAST(ceil(CAST(est_bytes AS DOUBLE)
                              / {_S19_TARGET}.0) AS BIGINT), 1)
               AS target_files,
           CASE WHEN est_bytes < {_S19_TARGET} // 2 THEN 'coalesce'
                WHEN est_bytes > {_S19_TARGET} * 2 THEN 'split'
                ELSE 'ok' END AS verdict
    FROM m ORDER BY mon
    """,
)
def s19_partition_size_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    rows_ = o.select(
        F.date_format("o_orderdate", "yyyy-MM").alias("mon"),
        (
            F.lit(32)
            + F.octet_length("o_orderstatus")
            + F.octet_length("o_orderpriority")
        ).alias("row_bytes"),
    )
    m = rows_.groupBy("mon").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("row_bytes").cast("long").alias("est_bytes"),
    )
    b = F.col("est_bytes")
    return m.select(
        "mon",
        "n_rows",
        "est_bytes",
        F.greatest(
            F.ceil(b.cast("double") / F.lit(float(_S19_TARGET))).cast("long"),
            F.lit(1),
        ).alias("target_files"),
        F.when(b < _S19_TARGET // 2, "coalesce")
        .when(b > _S19_TARGET * 2, "split")
        .otherwise("ok")
        .alias("verdict"),
    ).orderBy("mon")


# ---------------------------------------------------------------------------
# s20_sort_layout_advisor — which write-time sort order to choose for
# a two-predicate scan workload (the decision s18's false-positive
# signal motivates): the orders table is laid out three ways —
# insertion order (o_orderkey), date-sorted (o_orderdate), and
# customer-then-date — cut into synthetic 1000-row row groups per
# layout, and the workload predicate (one-year date range AND a
# custkey prefix) is evaluated against each layout's per-group
# min/max stats for BOTH columns. A group is pruned when EITHER
# column's stats exclude its predicate (the conjunctive pruning a
# parquet reader performs). Output per layout: groups pruned / groups
# scanned that match / false-positive groups + rows scanned — the
# rows_matching column is layout-invariant (a built-in conservation
# check). Same manufactured-row-group contract as s18 (SCALE.md
# global-sort ledger): production reads real footer stats; the probe
# exists to CHOOSE the layout before paying the write-time sort.
# All ordering keys carry explicit tiebreakers so row_number is
# deterministic on both engines.
# ---------------------------------------------------------------------------
_S20_DATE_LO, _S20_DATE_HI = "1997-01-01", "1998-01-01"
_S20_CUST_HI = 500


def _s20_layout_sql(label: str, order_by: str) -> str:
    return f"""
        SELECT '{label}' AS layout,
               (row_number() OVER (ORDER BY {order_by}) - 1) // 1000 AS rg,
               o_orderdate, o_custkey,
               CASE WHEN o_orderdate >= TIMESTAMP '{_S20_DATE_LO}'
                     AND o_orderdate < TIMESTAMP '{_S20_DATE_HI}'
                     AND o_custkey < {_S20_CUST_HI}
                    THEN 1 ELSE 0 END AS hit
        FROM orders
    """


@query(
    "s20_sort_layout_advisor",
    oracle=f"""
    WITH laid AS (
        {_s20_layout_sql('a_insertion', 'o_orderkey')}
        UNION ALL {_s20_layout_sql('b_by_date', 'o_orderdate, o_orderkey')}
        UNION ALL {_s20_layout_sql(
            'c_by_cust_date', 'o_custkey, o_orderdate, o_orderkey')}
    ),
    stats AS (
        SELECT layout, rg,
               min(o_orderdate) AS dmn, max(o_orderdate) AS dmx,
               min(o_custkey) AS cmn, max(o_custkey) AS cmx,
               CAST(sum(hit) AS BIGINT) AS matching_rows,
               CAST(count(*) AS BIGINT) AS rows_
        FROM laid GROUP BY 1, 2
    ),
    classed AS (
        SELECT layout, rows_, matching_rows,
               CASE WHEN dmx < TIMESTAMP '{_S20_DATE_LO}'
                      OR dmn >= TIMESTAMP '{_S20_DATE_HI}'
                      OR cmn >= {_S20_CUST_HI} THEN 'pruned'
                    WHEN matching_rows > 0 THEN 'scan_hit'
                    ELSE 'scan_false_positive' END AS outcome
        FROM stats
    )
    SELECT layout,
           CAST(count(*) AS BIGINT) AS n_rowgroups,
           CAST(count(CASE WHEN outcome = 'pruned' THEN 1 END) AS BIGINT)
               AS groups_pruned,
           CAST(count(CASE WHEN outcome = 'scan_false_positive' THEN 1 END)
                AS BIGINT) AS groups_false_positive,
           CAST(coalesce(sum(CASE WHEN outcome <> 'pruned'
                                  THEN rows_ ELSE 0 END), 0) AS BIGINT)
               AS rows_scanned,
           CAST(coalesce(sum(matching_rows), 0) AS BIGINT) AS rows_matching
    FROM classed GROUP BY 1 ORDER BY 1
    """,
)
def s20_sort_layout_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders")
    date_lo = F.lit(_S20_DATE_LO).cast("timestamp")
    date_hi = F.lit(_S20_DATE_HI).cast("timestamp")
    layouts = [
        ("a_insertion", [F.col("o_orderkey")]),
        ("b_by_date", [F.col("o_orderdate"), F.col("o_orderkey")]),
        (
            "c_by_cust_date",
            [F.col("o_custkey"), F.col("o_orderdate"), F.col("o_orderkey")],
        ),
    ]
    hit = (
        F.when(
            (F.col("o_orderdate") >= date_lo)
            & (F.col("o_orderdate") < date_hi)
            & (F.col("o_custkey") < _S20_CUST_HI),
            1,
        )
        .otherwise(0)
        .alias("hit")
    )
    laid = None
    for label, order_cols in layouts:
        part = o.select(
            F.lit(label).alias("layout"),
            F.floor(
                (F.row_number().over(Window.orderBy(*order_cols)) - 1) / 1000
            ).alias("rg"),
            "o_orderdate",
            "o_custkey",
            hit,
        )
        laid = part if laid is None else laid.unionAll(part)
    stats = laid.groupBy("layout", "rg").agg(
        F.min("o_orderdate").alias("dmn"),
        F.max("o_orderdate").alias("dmx"),
        F.min("o_custkey").alias("cmn"),
        F.sum("hit").cast("long").alias("matching_rows"),
        F.count(F.lit(1)).cast("long").alias("rows_"),
    )
    outcome = (
        F.when(
            (F.col("dmx") < date_lo)
            | (F.col("dmn") >= date_hi)
            | (F.col("cmn") >= _S20_CUST_HI),
            "pruned",
        )
        .when(F.col("matching_rows") > 0, "scan_hit")
        .otherwise("scan_false_positive")
        .alias("outcome")
    )
    classed = stats.select("layout", "rows_", "matching_rows", outcome)
    return (
        classed.groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rowgroups"),
            F.count(F.when(F.col("outcome") == "pruned", F.lit(1)))
            .cast("long")
            .alias("groups_pruned"),
            F.count(
                F.when(F.col("outcome") == "scan_false_positive", F.lit(1))
            )
            .cast("long")
            .alias("groups_false_positive"),
            F.coalesce(
                F.sum(
                    F.when(F.col("outcome") != "pruned", F.col("rows_"))
                    .otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("rows_scanned"),
            F.coalesce(F.sum("matching_rows"), F.lit(0))
            .cast("long")
            .alias("rows_matching"),
        )
        .orderBy("layout")
    )


# ---------------------------------------------------------------------------
# s20_sort_layout_advisor_sampled — the PRODUCTION form of the layout
# probe. The exact advisor (above) manufactures THREE global sort
# layouts of the full table to compare them — 8.9x wall at 10x data by
# design (SCALE.md), fine as an oracle twin but not the plan you run at
# 100 TB. The production answer is: sort a deterministic ~1% sample
# (md5(o_orderkey) mod 100 == 0 — engine-portable, reproducible, no
# RNG), cut it into PROPORTIONALLY scaled synthetic row groups (10
# sampled rows stand in for a 1000-row group), and report pruning
# RATIOS, not absolutes — the quantities that transfer from sample to
# full table. The three sorts now touch 1% of rows, so cost scales
# with the sample, not the table; the sample filter sits BELOW every
# sort in the plan. rows_matching-layout-invariance still holds within
# the sample (same conservation check as the exact form). Ratios are
# IEEE double division of identical BIGINTs on both engines — exact.
# ---------------------------------------------------------------------------
_S20S_MOD = 100  # keep 1 of every 100 keys, by md5 bucket
_S20S_RG = 10    # 1000-row groups x 1% sample


def _s20s_layout_sql(label: str, order_by: str) -> str:
    return f"""
        SELECT '{label}' AS layout,
               (row_number() OVER (ORDER BY {order_by}) - 1) // {_S20S_RG}
                   AS rg,
               o_orderdate, o_custkey,
               CASE WHEN o_orderdate >= TIMESTAMP '{_S20_DATE_LO}'
                     AND o_orderdate < TIMESTAMP '{_S20_DATE_HI}'
                     AND o_custkey < {_S20_CUST_HI}
                    THEN 1 ELSE 0 END AS hit
        FROM (SELECT * FROM orders
              WHERE {h60_sql("CAST(o_orderkey AS VARCHAR)", "duckdb")}
                    % {_S20S_MOD} = 0)
    """


@query(
    "s20_sort_layout_advisor_sampled",
    oracle=f"""
    WITH laid AS (
        {_s20s_layout_sql('a_insertion', 'o_orderkey')}
        UNION ALL {_s20s_layout_sql('b_by_date', 'o_orderdate, o_orderkey')}
        UNION ALL {_s20s_layout_sql(
            'c_by_cust_date', 'o_custkey, o_orderdate, o_orderkey')}
    ),
    stats AS (
        SELECT layout, rg,
               min(o_orderdate) AS dmn, max(o_orderdate) AS dmx,
               min(o_custkey) AS cmn,
               CAST(sum(hit) AS BIGINT) AS matching_rows,
               CAST(count(*) AS BIGINT) AS rows_
        FROM laid GROUP BY 1, 2
    ),
    classed AS (
        SELECT layout, rows_, matching_rows,
               CASE WHEN dmx < TIMESTAMP '{_S20_DATE_LO}'
                      OR dmn >= TIMESTAMP '{_S20_DATE_HI}'
                      OR cmn >= {_S20_CUST_HI} THEN 'pruned'
                    WHEN matching_rows > 0 THEN 'scan_hit'
                    ELSE 'scan_false_positive' END AS outcome
        FROM stats
    )
    SELECT layout,
           CAST(count(*) AS BIGINT) AS n_rowgroups_sampled,
           CAST(sum(rows_) AS BIGINT) AS rows_sampled,
           count(CASE WHEN outcome = 'pruned' THEN 1 END)
               / CAST(count(*) AS DOUBLE) AS pruned_ratio,
           count(CASE WHEN outcome = 'scan_false_positive' THEN 1 END)
               / CAST(count(*) AS DOUBLE) AS false_positive_ratio,
           coalesce(sum(CASE WHEN outcome <> 'pruned'
                             THEN rows_ ELSE 0 END), 0)
               / CAST(sum(rows_) AS DOUBLE) AS scan_ratio,
           coalesce(sum(matching_rows), 0)
               / CAST(sum(rows_) AS DOUBLE) AS match_ratio
    FROM classed GROUP BY 1 ORDER BY 1
    """,
)
def s20_sort_layout_advisor_sampled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    sample = load(spark, sf_dir, "orders").where(
        F.expr(
            f"{h60_sql('CAST(o_orderkey AS STRING)', 'spark')}"
            f" % {_S20S_MOD} = 0"
        )
    )
    date_lo = F.lit(_S20_DATE_LO).cast("timestamp")
    date_hi = F.lit(_S20_DATE_HI).cast("timestamp")
    layouts = [
        ("a_insertion", [F.col("o_orderkey")]),
        ("b_by_date", [F.col("o_orderdate"), F.col("o_orderkey")]),
        (
            "c_by_cust_date",
            [F.col("o_custkey"), F.col("o_orderdate"), F.col("o_orderkey")],
        ),
    ]
    hit = (
        F.when(
            (F.col("o_orderdate") >= date_lo)
            & (F.col("o_orderdate") < date_hi)
            & (F.col("o_custkey") < _S20_CUST_HI),
            1,
        )
        .otherwise(0)
        .alias("hit")
    )
    laid = None
    for label, order_cols in layouts:
        part = sample.select(
            F.lit(label).alias("layout"),
            F.floor(
                (F.row_number().over(Window.orderBy(*order_cols)) - 1)
                / _S20S_RG
            ).alias("rg"),
            "o_orderdate",
            "o_custkey",
            hit,
        )
        laid = part if laid is None else laid.unionAll(part)
    stats = laid.groupBy("layout", "rg").agg(
        F.min("o_orderdate").alias("dmn"),
        F.max("o_orderdate").alias("dmx"),
        F.min("o_custkey").alias("cmn"),
        F.sum("hit").cast("long").alias("matching_rows"),
        F.count(F.lit(1)).cast("long").alias("rows_"),
    )
    outcome = (
        F.when(
            (F.col("dmx") < date_lo)
            | (F.col("dmn") >= date_hi)
            | (F.col("cmn") >= _S20_CUST_HI),
            "pruned",
        )
        .when(F.col("matching_rows") > 0, "scan_hit")
        .otherwise("scan_false_positive")
        .alias("outcome")
    )
    classed = stats.select("layout", "rows_", "matching_rows", outcome)
    n_groups = F.count(F.lit(1)).cast("long")
    n_rows = F.sum("rows_").cast("long")
    return (
        classed.groupBy("layout")
        .agg(
            n_groups.alias("n_rowgroups_sampled"),
            n_rows.alias("rows_sampled"),
            (
                F.count(F.when(F.col("outcome") == "pruned", F.lit(1)))
                / n_groups.cast("double")
            ).alias("pruned_ratio"),
            (
                F.count(
                    F.when(
                        F.col("outcome") == "scan_false_positive", F.lit(1)
                    )
                )
                / n_groups.cast("double")
            ).alias("false_positive_ratio"),
            (
                F.coalesce(
                    F.sum(
                        F.when(F.col("outcome") != "pruned", F.col("rows_"))
                        .otherwise(0)
                    ),
                    F.lit(0),
                )
                / n_rows.cast("double")
            ).alias("scan_ratio"),
            (
                F.coalesce(F.sum("matching_rows"), F.lit(0))
                / n_rows.cast("double")
            ).alias("match_ratio"),
        )
        .orderBy("layout")
    )


# ---------------------------------------------------------------------------
# S21 — Z-ORDER (space-filling-curve) layout probe (round 12
# continuation). s20 prices single-axis sort layouts; real 100 TB
# tables get probed on MORE THAN ONE dimension, and a linear sort can
# only serve one of them. The multi-dimensional answer every lake
# engine ships (Delta OPTIMIZE ZORDER BY, Iceberg sort-order with
# z-curves) is to sort by the MORTON INTERLEAVE of the dimensions'
# rank-space buckets: nearby (custkey, date) pairs land in the same
# row groups, so min/max stats prune a 2-D box probe on BOTH axes.
#
# Rank-space bucketing (ntile over a total ordering) rather than raw
# bit-slicing keeps the curve resolution scale-free — 256 buckets per
# dimension at every SF, no data-dependent min/max constants — and is
# exactly expressible in both engines, so the oracle runs the
# identical statement. The probe box is a 25% x 25% quantile box:
# per-(layout, rowgroup) min/max of the two bucket axes decide
# pruning, matching how parquet row-group stats behave. Expected and
# measured: each linear layout prunes ~one axis' worth (~75%), the
# z-order layout prunes on both (>90%) with strictly fewer scanned
# rows — the advisor's output is the evidence a table owner needs to
# justify the (one-off) clustering rewrite.
# ---------------------------------------------------------------------------
_S21_BITS = 8  # 256 rank buckets per dimension
_S21_RG_ROWS = 1000


def _s21_interleave_sql(cb: str, db: str) -> str:
    """Morton interleave of two _S21_BITS-wide non-negative ints as
    pure div/mod arithmetic (identical semantics in Spark and DuckDB
    modulo the integer-division spelling, handled by the caller)."""
    terms = []
    for j in range(_S21_BITS):
        terms.append(f"((({cb}) IDIV {1 << j}) % 2) * {1 << (2 * j + 1)}")
        terms.append(f"((({db}) IDIV {1 << j}) % 2) * {1 << (2 * j)}")
    return " + ".join(terms)


_S21_STMT = f"""
WITH ranked AS (
    SELECT o_orderkey,
           ntile({1 << _S21_BITS}) OVER (ORDER BY o_custkey, o_orderkey)
               - 1 AS cb,
           ntile({1 << _S21_BITS}) OVER (ORDER BY o_orderdate, o_orderkey)
               - 1 AS db
    FROM orders
),
zed AS (
    SELECT o_orderkey, cb, db,
           {_s21_interleave_sql('cb', 'db')} AS z,
           CASE WHEN cb < {1 << (_S21_BITS - 2)}
                 AND db >= {3 * (1 << (_S21_BITS - 2))}
                THEN 1 ELSE 0 END AS hit
    FROM ranked
),
laid AS (
    SELECT 'a_lin_cust' AS layout,
           (row_number() OVER (ORDER BY cb, o_orderkey) - 1)
               IDIV {_S21_RG_ROWS} AS rg,
           cb, db, hit
    FROM zed
    UNION ALL
    SELECT 'b_lin_date',
           (row_number() OVER (ORDER BY db, o_orderkey) - 1)
               IDIV {_S21_RG_ROWS},
           cb, db, hit
    FROM zed
    UNION ALL
    SELECT 'c_zorder',
           (row_number() OVER (ORDER BY z, o_orderkey) - 1)
               IDIV {_S21_RG_ROWS},
           cb, db, hit
    FROM zed
),
stats AS (
    SELECT layout, rg,
           min(cb) AS cmn, max(cb) AS cmx,
           min(db) AS dmn, max(db) AS dmx,
           CAST(sum(hit) AS BIGINT) AS matching_rows,
           CAST(count(*) AS BIGINT) AS rows_
    FROM laid GROUP BY 1, 2
),
classed AS (
    SELECT layout, rows_, matching_rows,
           CASE WHEN cmn >= {1 << (_S21_BITS - 2)}
                  OR dmx < {3 * (1 << (_S21_BITS - 2))}
                THEN 'pruned'
                WHEN matching_rows > 0 THEN 'scan_hit'
                ELSE 'scan_false_positive' END AS outcome
    FROM stats
)
SELECT layout,
       CAST(count(*) AS BIGINT) AS n_rowgroups,
       CAST(count(CASE WHEN outcome = 'pruned' THEN 1 END) AS BIGINT)
           AS groups_pruned,
       CAST(count(CASE WHEN outcome = 'scan_false_positive' THEN 1 END)
            AS BIGINT) AS groups_false_positive,
       CAST(coalesce(sum(CASE WHEN outcome <> 'pruned'
                              THEN rows_ ELSE 0 END), 0) AS BIGINT)
           AS rows_scanned,
       CAST(coalesce(sum(matching_rows), 0) AS BIGINT) AS rows_matching
FROM classed GROUP BY 1
"""


@query(
    "s21_zorder_layout_probe",
    oracle=_S21_STMT.replace(" IDIV ", " // "),
)
def s21_zorder_layout_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_S21_STMT.replace(" IDIV ", " div "))


# ---------------------------------------------------------------------------
# S21s — sampled z-order advisor (production form). Like s20s: run the
# advisor on a deterministic 1% md5-bucket sample with proportionally
# shrunk row groups and report RATIOS — rank buckets (ntile) and prune
# ratios are quantile-stable under uniform sampling, so the sampled
# read is the estimate a 100 TB table owner actually pays for. The
# global rank windows in the exact form (s21) serialize into
# single-task sorts by design; here they sort 1% of the table.
# ---------------------------------------------------------------------------
_S21S_MOD = 100  # keep 1 of every 100 keys, by md5 bucket
_S21S_RG = 10    # 1000-row groups x 1% sample


def _s21s_stmt(dialect: str) -> str:
    n = 1 << _S21_BITS
    sample = (
        "SELECT * FROM orders WHERE "
        f"{h60_sql('CAST(o_orderkey AS STRING)', dialect)} % {_S21S_MOD} = 0"
    )
    return f"""
WITH ranked AS (
    SELECT o_orderkey,
           ntile({n}) OVER (ORDER BY o_custkey, o_orderkey) - 1 AS cb,
           ntile({n}) OVER (ORDER BY o_orderdate, o_orderkey) - 1 AS db
    FROM ({sample})
),
zed AS (
    SELECT o_orderkey, cb, db,
           {_s21_interleave_sql('cb', 'db')} AS z,
           CASE WHEN cb < {1 << (_S21_BITS - 2)}
                 AND db >= {3 * (1 << (_S21_BITS - 2))}
                THEN 1 ELSE 0 END AS hit
    FROM ranked
),
laid AS (
    SELECT 'a_lin_cust' AS layout,
           (row_number() OVER (ORDER BY cb, o_orderkey) - 1)
               IDIV {_S21S_RG} AS rg, cb, db, hit
    FROM zed
    UNION ALL
    SELECT 'b_lin_date',
           (row_number() OVER (ORDER BY db, o_orderkey) - 1)
               IDIV {_S21S_RG}, cb, db, hit
    FROM zed
    UNION ALL
    SELECT 'c_zorder',
           (row_number() OVER (ORDER BY z, o_orderkey) - 1)
               IDIV {_S21S_RG}, cb, db, hit
    FROM zed
),
stats AS (
    SELECT layout, rg,
           min(cb) AS cmn, max(db) AS dmx,
           CAST(sum(hit) AS BIGINT) AS matching_rows,
           CAST(count(*) AS BIGINT) AS rows_
    FROM laid GROUP BY 1, 2
),
classed AS (
    SELECT layout, rows_, matching_rows,
           CASE WHEN cmn >= {1 << (_S21_BITS - 2)}
                  OR dmx < {3 * (1 << (_S21_BITS - 2))}
                THEN 'pruned'
                WHEN matching_rows > 0 THEN 'scan_hit'
                ELSE 'scan_false_positive' END AS outcome
    FROM stats
)
SELECT layout,
       CAST(count(*) AS BIGINT) AS n_rowgroups_sampled,
       CAST(sum(rows_) AS BIGINT) AS rows_sampled,
       count(CASE WHEN outcome = 'pruned' THEN 1 END)
           / CAST(count(*) AS DOUBLE) AS pruned_ratio,
       coalesce(sum(CASE WHEN outcome <> 'pruned'
                         THEN rows_ ELSE 0 END), 0)
           / CAST(sum(rows_) AS DOUBLE) AS scan_ratio
FROM classed GROUP BY 1
"""


@query(
    "s21_zorder_layout_probe_sampled",
    oracle=_s21s_stmt("duckdb").replace(" IDIV ", " // "),
)
def s21_zorder_layout_probe_sampled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_s21s_stmt("spark").replace(" IDIV ", " div "))


# ---------------------------------------------------------------------------
# S22 — hidden file-metadata column (_metadata): row→file lineage off
# the scan itself, no path parsing. The reference's forensics question
# is "which landed S3 object produced this row?" (REPORT:166-178, one
# object per day per source); Spark answers it for free on any
# file-based source via the _metadata struct (public API since 3.2:
# file_path / file_name / file_size / row_index). The query writes a
# status-partitioned copy (repartition by the partition key → exactly
# one file per directory), reads it back, and audits per-partition:
# row count, the row_index span inside the single file (dense 0..n-1,
# so span == count), and the file census. At 100 TB this is the
# ingest-audit join — rows to landed objects — done by the scan
# operator, not a bookkeeping sidecar table.
# ---------------------------------------------------------------------------
@query(
    "s22_file_metadata_lineage",
    oracle="""
    SELECT o_orderstatus AS part_key,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS row_index_span,
           CAST(1 AS BIGINT) AS n_files
    FROM orders GROUP BY 1
    """,
)
def s22_file_metadata_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = os.path.join(work_dir(sf_dir, "meta"), "orders_by_status")
    (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartition("o_orderstatus")  # one task → one file per dir
        .write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .parquet(out)
    )
    from pyspark.errors.exceptions.captured import AnalysisException

    try:
        back = spark.read.parquet(out).select(
            "o_orderstatus",
            F.col("_metadata.file_path").alias("fp"),
            F.col("_metadata.row_index").alias("ri"),
        )
    except AnalysisException:
        # 0-row source -> no partition dirs were written; _metadata
        # only exists on real file scans, so return the empty result
        # relation directly (same contract as read_parquet_or_empty)
        return spark.createDataFrame(
            [],
            "part_key string, n_rows long, row_index_span long, "
            "n_files long",
        )
    return back.groupBy(
        F.col("o_orderstatus").alias("part_key")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        (F.max("ri") - F.min("ri") + F.lit(1))
        .cast("long")
        .alias("row_index_span"),
        F.countDistinct("fp").cast("long").alias("n_files"),
    )


# ---------------------------------------------------------------------------
# S23 — type-widened read (Iceberg v3 type promotion / Spark 4 parquet
# widening): a landed dataset whose early generation wrote a column as
# INT32 and whose later generation — after values outgrew the type —
# writes INT64. One read with the widened schema serves both
# generations: Spark 4's vectorized parquet reader up-casts INT32
# pages to the requested LongType in place, so the old files are
# NEVER rewritten (the type evolution is a schema-registry edit, not
# a 100 TB rewrite — the same economics as S9's additive columns).
# The fixture cuts orders in half by key parity: gen1 writes
# (o_orderkey, cents) as int32, gen2 as int64; the pytest audits the
# parquet footers to prove the physical types really differ. The
# oracle states the same aggregate over the unsplit table — the
# split+widen mechanism is what is under test.
# ---------------------------------------------------------------------------
@query(
    "s23_type_widened_read",
    oracle="""
    SELECT o_orderstatus AS status,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
               AS DECIMAL(27,0))) AS BIGINT) AS cents_total,
           CAST(max(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
               AS BIGINT) AS cents_max
    FROM orders GROUP BY 1
    """,
)
def s23_type_widened_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build(out: str) -> None:
        orders = load(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_orderstatus",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        # gen1: the narrow era — key parity 0, physically int32. The
        # values all fit (fixture cents < 2^31); the WIDTH is what the
        # era got wrong, which is exactly the production incident.
        (
            orders.where(F.col("o_orderkey") % 2 == 0)
            .select(
                F.col("o_orderkey").cast("int").alias("o_orderkey"),
                "o_orderstatus",
                F.col("cents").cast("int").alias("cents"),
            )
            .write.mode("overwrite")
            .parquet(os.path.join(out, "gen=1"))
        )
        # gen2: the widened era — key parity 1, physically int64.
        (
            orders.where(F.col("o_orderkey") % 2 == 1)
            .select("o_orderkey", "o_orderstatus", "cents")
            .write.mode("overwrite")
            .parquet(os.path.join(out, "gen=2"))
        )

    out = built_dir(sf_dir, "widen", build)
    widened = spark.read.schema(
        "o_orderkey long, o_orderstatus string, cents long"
    ).parquet(os.path.join(out, "gen=1"), os.path.join(out, "gen=2"))
    return widened.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.col("cents").cast("decimal(27,0)"))
        .cast("long")
        .alias("cents_total"),
        F.max("cents").cast("long").alias("cents_max"),
    )
