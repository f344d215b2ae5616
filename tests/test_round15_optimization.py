"""Round-15 optimization invariants.

The r15 round again changed HOW internals produce bytes, never WHAT any
query computes. These tests pin the equivalences the optimizations rely
on:

- the manifest builder's committer form (``_manifest_local``) must be
  bit-identical to its Spark form (``_manifest_frame``) over the same
  staged files — including null-token rows (digest/sum skip
  semantics) and the hive ``part=`` layout of the manifest write.
- the fused single-scan matview deltas must equal the per-slice
  ``_mv_agg`` frames they replaced.
- the argmin-as-aggregate (min over struct(d, cell)) must equal the
  row_number-window form, ties and all.
- q_duplicate_payments_fuzzy's candidate join must be duplicate-free
  without the DISTINCT (each pair matches exactly one probe offset).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dock_financial_data_pipelines_spark.catalog import (
    load,
    read_parquet_or_empty,
)

pytestmark = pytest.mark.usefixtures("spark")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _stage_sample(spark, tmp_path, rows):
    """Stage `rows` (doc_id, tokens, dg, shard) as version 1 under a
    fresh root and return (root, data_dir, man_dir)."""
    from dock_financial_data_pipelines_spark.plans.pipeline import (
        _stage_version,
    )

    root = str(tmp_path / "root")
    os.makedirs(root, exist_ok=True)
    df = spark.createDataFrame(
        rows, "doc_id long, tokens long, dg string, shard long"
    )
    _stage_version(spark, df, root, 1)
    return (
        root,
        os.path.join(root, "data", "v=1"),
        os.path.join(root, "manifest", "v=1"),
    )


_SAMPLE = [
    (1, 10, "a", 0),
    (2, 20, "b", 0),
    (3, None, "c", 1),  # null tokens: skipped by sum AND digest
    (4, 7, "d", 5),     # part = 5 % 4 = 1
    (None, 9, "e", 2),  # null doc_id: digest-null row, counted in n_docs
    (6, 0, "f", 2),
]


def test_local_manifest_matches_spark_aggregate(spark, tmp_path):
    from dock_financial_data_pipelines_spark.plans.pipeline import (
        _MANIFEST_DDL,
        _REL_SCHEMA_DDL,
        _SHARD_AGGS,
        _manifest_frame,
        _manifest_local,
    )

    _root, data_dir, man_dir = _stage_sample(spark, tmp_path, _SAMPLE)
    staged = read_parquet_or_empty(spark, data_dir, _REL_SCHEMA_DDL)
    want = {
        r["shard"]: (r["n_docs"], r["n_tokens"], r["digest"])
        for r in _manifest_frame(staged, _MANIFEST_DDL, _SHARD_AGGS).collect()
    }
    got_rows = _manifest_local(data_dir, _MANIFEST_DDL, _SHARD_AGGS, False)
    assert got_rows is not None
    got = {
        r["shard"]: (r["n_docs"], r["n_tokens"], r["digest"])
        for r in got_rows
    }
    assert got == want
    # and the manifest actually written by _stage_version reads back
    # identically through the protocol reader
    back = read_parquet_or_empty(spark, man_dir, _MANIFEST_DDL)
    assert {
        r["shard"]: (r["n_docs"], r["n_tokens"], r["digest"])
        for r in back.collect()
    } == want
    # hive layout: one part=N dir per distinct part value (non-negative
    # shards here)
    parts = sorted(
        n for n in os.listdir(man_dir) if n.startswith("part=")
    )
    assert parts == sorted({f"part={shard % 4}" for shard in want})


def test_local_manifest_zero_rows_writes_no_partitions(spark, tmp_path):
    _root, _data_dir, man_dir = _stage_sample(spark, tmp_path, [])
    assert [n for n in os.listdir(man_dir) if n.startswith("part=")] == []


def test_local_manifest_row_cap_falls_back(tmp_path, spark):
    from dock_financial_data_pipelines_spark.plans import pipeline as pl

    _root, data_dir, _man_dir = _stage_sample(spark, tmp_path, _SAMPLE)
    old = pl._LOCAL_MANIFEST_MAX_ROWS
    try:
        pl._LOCAL_MANIFEST_MAX_ROWS = 2
        assert pl._manifest_local(
            data_dir, pl._MANIFEST_DDL, pl._SHARD_AGGS, False
        ) is None
    finally:
        pl._LOCAL_MANIFEST_MAX_ROWS = old


def _write_pe(spark, data_dir, rows):
    from dock_financial_data_pipelines_spark.plans.pipeline import _PE_DDL
    from dock_financial_data_pipelines_spark.sources.sinks import (
        write_partitioned,
    )

    df = spark.createDataFrame(rows, _PE_DDL)
    write_partitioned(df.repartition("p"), data_dir, "p")


def test_readback_row_cap_reads_no_column_data(spark, tmp_path, monkeypatch):
    """An over-cap staged version falls back on its footer row count
    alone: no column data is read for either manifest."""
    import pyarrow.dataset as ds

    from dock_financial_data_pipelines_spark.plans import pipeline as pl

    _root, data_dir, _man_dir = _stage_sample(spark, tmp_path, _SAMPLE)
    pe_dir = str(tmp_path / "pe_data")
    _write_pe(spark, pe_dir, [(1, 10, "1998-01-01", "1998-01-01")] * 3)

    real_dataset = ds.dataset

    class FootersOnly:
        def __init__(self, dataset):
            self._dataset = dataset

        def count_rows(self):
            return self._dataset.count_rows()

        def to_table(self, *args, **kwargs):
            raise AssertionError("column data read past the row cap")

    monkeypatch.setattr(
        ds, "dataset", lambda *a, **k: FootersOnly(real_dataset(*a, **k))
    )
    # the guard is live: an under-cap read-back does hit the reader
    shard = (pl._MANIFEST_DDL, pl._SHARD_AGGS, False)
    pe = (pl._PE_MAN_DDL, pl._PE_AGGS, True)
    with pytest.raises(AssertionError, match="column data read"):
        pl._manifest_local(data_dir, *shard)
    with pytest.raises(AssertionError, match="column data read"):
        pl._manifest_local(pe_dir, *pe)
    monkeypatch.setattr(pl, "_LOCAL_MANIFEST_MAX_ROWS", 2)
    assert pl._manifest_local(data_dir, *shard) is None
    assert pl._manifest_local(pe_dir, *pe) is None


def test_pe_local_manifest_default_partition_falls_back(spark, tmp_path):
    """A null p lands in p=__HIVE_DEFAULT_PARTITION__; the committer
    must not publish that dir name as a value, so the Spark aggregate
    (which reads it back as a null p) runs instead."""
    from dock_financial_data_pipelines_spark.plans.pipeline import (
        _PE_AGGS,
        _PE_DDL,
        _PE_MAN_DDL,
        _build_manifest,
        _manifest_local,
    )

    data_dir = str(tmp_path / "pe_data")
    _write_pe(
        spark,
        data_dir,
        [(1, 10, "1998-01-01", "1998-01-01"), (2, 11, "1998-01-02", None)],
    )
    assert "p=__HIVE_DEFAULT_PARTITION__" in os.listdir(data_dir)
    assert _manifest_local(data_dir, _PE_MAN_DDL, _PE_AGGS, True) is None
    back = read_parquet_or_empty(spark, data_dir, _PE_DDL)
    assert sorted(
        (r["p"] is None, r["n"])
        for r in back.groupBy("p").agg(F.count(F.lit(1)).alias("n")).collect()
    ) == [(False, 1), (True, 1)]
    rows = _build_manifest(
        back, data_dir, str(tmp_path / "pe_man"), _PE_MAN_DDL, _PE_AGGS,
        hive=True,
    )
    assert [(r["p"], r["n_rows"], r["min_day"]) for r in rows] == [
        (None, 1, "1998-01-02"),
        ("1998-01-01", 1, "1998-01-01"),
    ]


def test_pe_local_manifest_matches_spark_aggregate(spark, tmp_path):
    from dock_financial_data_pipelines_spark.plans.pipeline import (
        _PE_AGGS,
        _PE_DDL,
        _PE_MAN_DDL,
        _manifest_frame,
        _manifest_local,
    )
    from dock_financial_data_pipelines_spark.sources.sinks import (
        write_partitioned,
    )

    df = spark.createDataFrame(
        [
            (1, 10, "1998-01-01", "1998-01-01"),
            (2, 11, "1998-01-01", "1998-01-01"),
            (3, 12, "1998-01-02", "1998-01-02"),
            (4, 13, None, "1998-01-02"),  # null day: skipped by
            (5, 14, "1998-02-03", "1998-02"),  # distinct/min/max
        ],
        _PE_DDL,
    )
    data_dir = str(tmp_path / "pe_data")
    write_partitioned(df.repartition("p"), data_dir, "p")
    staged = read_parquet_or_empty(spark, data_dir, _PE_DDL)
    want = {
        r["p"]: (r["n_rows"], r["n_days"], r["min_day"], r["max_day"])
        for r in _manifest_frame(staged, _PE_MAN_DDL, _PE_AGGS).collect()
    }
    got_rows = _manifest_local(data_dir, _PE_MAN_DDL, _PE_AGGS, True)
    assert got_rows is not None
    got = {
        r["p"]: (r["n_rows"], r["n_days"], r["min_day"], r["max_day"])
        for r in got_rows
    }
    assert got == want
    assert want["1998-01-02"] == (2, 1, "1998-01-02", "1998-01-02")


def test_matview_fused_deltas_match_mv_agg(spark, sf_dir):
    from dock_financial_data_pipelines_spark.plans.pipeline import _mv_agg

    orders = load(spark, sf_dir, "orders")
    ym = F.date_format("o_orderdate", "yyyy-MM").alias("ym")

    def signed(df, sgn):
        return df.select(
            "o_orderpriority", ym, F.lit(sgn).alias("sgn"), "o_totalprice"
        )

    base = orders.where("o_orderkey % 4 < 2")
    b1 = orders.where("o_orderkey % 4 = 2")
    b2i = orders.where("o_orderkey % 4 = 3")
    b2d = base.where("o_orderkey % 8 = 0")

    dec = F.col("o_totalprice").cast("decimal(27,2)")
    in_base = F.expr("o_orderkey % 4 < 2")
    in_b1 = F.expr("o_orderkey % 4 = 2")
    in_b2i = F.expr("o_orderkey % 4 = 3")
    in_b2d = F.expr("o_orderkey % 8 = 0")
    wide = orders.groupBy("o_orderpriority", ym).agg(
        F.count(F.when(in_base, 1)).cast("long").alias("c0"),
        F.sum(F.when(in_base, dec)).cast("decimal(27,2)").alias("r0"),
        F.count(F.when(in_b1, 1)).cast("long").alias("c1"),
        F.sum(F.when(in_b1, dec)).cast("decimal(27,2)").alias("r1"),
        F.count(F.when(in_b2i, 1)).cast("long").alias("c2i"),
        F.sum(F.when(in_b2i, dec)).cast("decimal(27,2)").alias("r2i"),
        F.count(F.when(in_b2d, 1)).cast("long").alias("c2d"),
        F.sum(F.when(in_b2d, dec)).cast("decimal(27,2)").alias("r2d"),
    )
    zero = F.lit(0).cast("decimal(27,2)")
    keys = ["o_orderpriority", "ym"]
    fused_mv0 = wide.where(F.col("c0") > 0).select(
        *keys, F.col("c0").alias("n_orders"), F.col("r0").alias("revenue")
    )
    fused_d1 = wide.where(F.col("c1") > 0).select(
        *keys, F.col("c1").alias("n_orders"), F.col("r1").alias("revenue")
    )
    fused_d2 = wide.where((F.col("c2i") + F.col("c2d")) > 0).select(
        *keys,
        (F.col("c2i") - F.col("c2d")).cast("long").alias("n_orders"),
        (F.coalesce(F.col("r2i"), zero) - F.coalesce(F.col("r2d"), zero))
        .cast("decimal(27,2)")
        .alias("revenue"),
    )
    assert _rows(fused_mv0) == _rows(_mv_agg(signed(base, 1)))
    assert _rows(fused_d1) == _rows(_mv_agg(signed(b1, 1)))
    assert _rows(fused_d2) == _rows(
        _mv_agg(signed(b2i, 1).unionAll(signed(b2d, -1)))
    )


def test_argmin_struct_agg_matches_row_number(spark):
    from pyspark.sql import Window

    # ties on d (rows (1,0,d=5) vs (1,0,...)): the struct min must pick
    # the lowest cell, exactly like ORDER BY d, cell / rk = 1.
    d = spark.createDataFrame(
        [
            (1, 0, 0, 7),
            (1, 0, 1, 5),
            (1, 0, 2, 5),
            (1, 1, 0, 9),
            (2, 0, 3, 1),
            (2, 0, 0, 1),
        ],
        "vec_id long, sub int, cell int, d long",
    )
    wv = Window.partitionBy("vec_id", "sub").orderBy(F.col("d"), F.col("cell"))
    want = _rows(
        d.withColumn("rk", F.row_number().over(wv))
        .where(F.col("rk") == 1)
        .select("vec_id", "sub", "cell", "d")
    )
    got = _rows(
        d.groupBy("vec_id", "sub")
        .agg(F.min(F.struct("d", "cell")).alias("m"))
        .select(
            "vec_id",
            "sub",
            F.col("m.cell").alias("cell"),
            F.col("m.d").alias("d"),
        )
    )
    assert got == want


def test_fuzzy_candidates_unique_without_distinct(spark, sf_dir):
    # the r15 proof: a pair (a, b) joins for exactly ONE probe offset,
    # so candidate rows are unique before any DISTINCT.
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_custkey").alias("cust"),
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).alias("dd"),
    )
    probes = o.select(
        "okey", "cust", "dd",
        F.explode(F.sequence(F.lit(-1), F.lit(1))).alias("b"),
    ).withColumn("bucket", F.expr("(dd div 7) + b"))
    c = o.select(
        F.col("okey").alias("okey_b"),
        F.col("cust").alias("cust_b"),
        F.col("dd").alias("dd_b"),
    )
    cand = probes.join(
        c,
        (F.col("cust") == F.col("cust_b"))
        & (F.col("bucket") == F.expr("dd_b div 7"))
        & (F.col("okey") < F.col("okey_b")),
    ).select("cust", "okey", "okey_b")
    assert cand.count() == cand.distinct().count()
