"""The 60-bit hash has one owner (``hashing``), and its four forms must
agree value for value: the Spark SQL text, the DuckDB SQL text, the
Spark Column and the Python function. This is the "same query, two
paths" check, run over four paths on real corpus values."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dock_financial_data_pipelines_spark.catalog import load
from dock_financial_data_pipelines_spark.hashing import h60_col, h60_py, h60_sql
from tests._compare import duck_connection

SF = "/root/testdata/sf0.001"
# The empty string and a multi-byte string, keyed by negative doc_ids
# so they cannot collide with corpus rows.
_EXTRA = [(-1, ""), (-2, "naïve café — 価格 ✓")]


def test_h60_four_forms_agree(spark):
    extra = spark.createDataFrame(_EXTRA, "doc_id long, text string")
    src = load(spark, SF, "documents").select("doc_id", "text").unionByName(extra)
    got = src.select(
        "doc_id",
        "text",
        F.expr(h60_sql("text", "spark")).alias("t_sql"),
        h60_col("text").alias("t_col"),
        F.expr(h60_sql("CAST(doc_id AS STRING)", "spark")).alias("i_sql"),
        h60_col(F.col("doc_id").cast("string")).alias("i_col"),
    ).collect()

    con = duck_connection(SF)
    con.execute("CREATE TEMP TABLE extra (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO extra VALUES (?, ?)", _EXTRA)
    duck = {
        doc_id: (t, i)
        for doc_id, t, i in con.execute(
            f"""
            SELECT doc_id, {h60_sql("text", "duckdb")},
                   {h60_sql("CAST(doc_id AS VARCHAR)", "duckdb")}
            FROM (SELECT doc_id, text FROM documents
                  UNION ALL SELECT doc_id, text FROM extra)
            """
        ).fetchall()
    }

    assert len(got) == len(duck) > len(_EXTRA)
    for r in got:
        t_py = h60_py(r["text"].encode())
        i_py = h60_py(str(r["doc_id"]).encode())
        assert r["t_sql"] == r["t_col"] == duck[r["doc_id"]][0] == t_py
        assert r["i_sql"] == r["i_col"] == duck[r["doc_id"]][1] == i_py
        assert 0 <= t_py < 1 << 60 and 0 <= i_py < 1 << 60


def test_h60_null_maps_to_null(spark):
    row = spark.range(1).select(
        F.expr(h60_sql("CAST(NULL AS STRING)", "spark")).alias("s"),
        h60_col(F.lit(None).cast("string")).alias("c"),
    ).first()
    assert row["s"] is None and row["c"] is None
    con = duck_connection(SF)
    duck = con.execute(
        f"SELECT {h60_sql('CAST(NULL AS VARCHAR)', 'duckdb')}"
    ).fetchone()
    assert duck == (None,)


def test_h60_sql_rejects_unknown_dialect():
    with pytest.raises(ValueError):
        h60_sql("x", "postgres")
