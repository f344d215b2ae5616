"""Metrics surface (SURVEY §2-A R15): run_with_metrics must record wall
time, row counts, and executed-plan SQLMetrics (shuffle bytes) for real
queries on a live session."""

from __future__ import annotations

import logging

import pytest
from pyspark.sql import functions as F

from dock_financial_data_pipelines_spark.catalog import load
from dock_financial_data_pipelines_spark.observability import (
    MetricsStore,
    codegen_compiles,
    run_with_metrics,
)


def test_metrics_captured_for_shuffle_query(spark, sf_dir):
    store = MetricsStore()
    agg = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("t"))
    )
    n = run_with_metrics("per_customer_agg", agg, store)
    assert n > 0 and len(store.runs) == 1
    m = store.runs[0]
    assert m.query_name == "per_customer_agg"
    assert m.n_rows == n
    assert m.wall_ms > 0
    assert m.plan_metrics_ok, "executed-plan metrics were not readable"
    # A wide groupBy must have shuffled something.
    assert m.shuffle_bytes_written > 0
    assert m.shuffle_records_written > 0


def test_unbounded_collect_is_guarded(spark, sf_dir):
    import pytest

    store = MetricsStore()
    wide = load(spark, sf_dir, "lineitem")  # 60k rows at sf0.001
    # Prove the oversized result is never materialized on the driver:
    # the guard must fire off the limit(max_rows+1) probe, BEFORE any
    # collect() on the measured DataFrame.
    wide.collect = lambda *a, **k: pytest.fail(
        "run_with_metrics collected an oversized result"
    )
    with pytest.raises(ValueError, match="max_rows"):
        run_with_metrics("unbounded_scan", wide, store, max_rows=1000)
    assert store.runs == []  # a rejected run is not recorded
    # The same query passes with an explicit, intentional cap.
    n = run_with_metrics("bounded_scan", wide.limit(10), store, max_rows=1000)
    assert n == 10 and len(store.runs) == 1


def test_reused_exchange_not_double_counted(spark, sf_dir):
    """A self-join over one shuffled aggregate reuses the exchange; the
    walker must sum its shuffle metrics once, not once per reference."""
    agg = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("t"))
    )
    store = MetricsStore()
    run_with_metrics("agg_once", agg.agg(F.count(F.lit(1)).alias("n")), store)
    joined = agg.alias("a").join(agg.alias("b"), "o_custkey").agg(
        F.count(F.lit(1)).alias("n")
    )
    run_with_metrics("agg_selfjoin", joined, store)
    once, twice = store.runs
    assert once.plan_metrics_ok and twice.plan_metrics_ok
    # With dedup the reused side contributes 0 extra shuffle-write bytes:
    # the self-join writes at most ~1 aggregate's worth more than the
    # single run (join-side exchanges), never the 2x of double-counting
    # plus join shuffles.
    assert twice.shuffle_bytes_written < 2.5 * max(once.shuffle_bytes_written, 1)


def test_empty_result_counts_the_stage_that_ran(spark, sf_dir):
    """When a stage comes back empty, AQE swaps the executed plan for an
    EmptyRelation leaf. The walk follows that leaf to the stages that
    ran, so their scans are counted, not read as a measured 0: the last
    stage empty (a filtered aggregate), and a broadcast build side
    empty (the join and everything above it become nested
    EmptyRelations)."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    empty_agg = orders.where(F.col("o_totalprice") < 0).groupBy(
        "o_orderstatus"
    ).count()
    empty_build = (
        orders.join(
            F.broadcast(cust.where(F.col("c_acctbal") < -1e9)),
            orders.o_custkey == cust.c_custkey,
        )
        .groupBy("c_mktsegment")
        .count()
    )
    store = MetricsStore()
    assert run_with_metrics("empty_agg", empty_agg, store) == 0
    assert run_with_metrics("empty_build", empty_build, store) == 0
    for m in store.runs:
        assert m.plan_metrics_ok, m.query_name
        assert m.files_read >= 1, m.query_name


def test_metrics_store_accumulates_and_exports(spark, sf_dir):
    store = MetricsStore()
    run_with_metrics("scan", load(spark, sf_dir, "region"), store)
    run_with_metrics("scan2", load(spark, sf_dir, "nation"), store)
    df = store.to_df(spark)
    rows = {r.query_name: r for r in df.collect()}
    assert set(rows) == {"scan", "scan2"}
    assert rows["scan"].n_rows == 5 and rows["scan2"].n_rows == 25
    assert rows["scan"].files_read >= 1


def test_hashed_shingle_join_shuffles_less_than_raw(spark, sf_dir):
    """The contamination audit's xxhash64(shingle) join key must shuffle
    measurably fewer bytes than joining on the raw 8-gram string — the
    100 TB shuffle-width claim in SCALE.md, held by a live measurement
    (broadcast disabled so both variants take the shuffle-join path)."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        w = 8
        docs = load(spark, sf_dir, "documents").withColumn(
            "split",
            F.when(
                F.ascii(F.substring(F.md5("text"), 1, 1)) % 10 < 8, "train"
            ).otherwise("test"),
        )
        shingled = docs.select(
            "doc_id",
            "split",
            F.explode(
                F.expr(
                    f"transform(sequence(1, greatest(size(split(text,' ')) - {w-1}, 1)),"
                    f" i -> concat_ws(' ', slice(split(text,' '), i, {w})))"
                )
            ).alias("sh_raw"),
        )

        def audit(sh_col, label, store):
            s = shingled.select("doc_id", "split", sh_col.alias("sh"))
            test_side = s.where(F.col("split") == "test").select("doc_id", "sh")
            train_side = (
                s.where(F.col("split") == "train")
                .select(F.col("sh").alias("sh_tr"))
                .distinct()
            )
            contaminated = (
                test_side.join(train_side, test_side.sh == train_side.sh_tr)
                .select("doc_id")
                .distinct()
                .agg(F.count(F.lit(1)).alias("n"))
            )
            run_with_metrics(label, contaminated, store)

        store = MetricsStore()
        audit(F.col("sh_raw"), "raw_string_join", store)
        audit(F.xxhash64("sh_raw"), "hashed_join", store)
        raw, hashed = store.runs
        assert raw.shuffle_records_written == hashed.shuffle_records_written
        assert hashed.shuffle_bytes_written < 0.6 * raw.shuffle_bytes_written, (
            f"hashed join shuffled {hashed.shuffle_bytes_written} B vs raw "
            f"{raw.shuffle_bytes_written} B — expected <60%"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


@pytest.mark.parametrize(
    "op",
    ["balance_report", "account_statement", "daily_events",
     "pipeline_atomic_publish"],
)
def test_warm_call_compiles_no_classes(spark, sf_dir, tmp_path, op):
    """The daily publish path keeps its generated code compiled: a
    second identical call adds no Janino compile (the codegen cache set
    by session.get_spark holds the whole working set)."""
    import dock_financial_data_pipelines_spark as engine
    from dock_financial_data_pipelines_spark import driver

    def call():
        if op in driver.JOBS:
            driver.run_job(
                spark, op, sf_dir, "2024-01-15", str(tmp_path / op), force=True
            )
        else:
            engine.QUERIES[op](spark, sf_dir).toPandas()

    call()
    before = codegen_compiles(spark)
    call()
    assert before > 0 and codegen_compiles(spark) == before


def test_codegen_compiles_is_none_on_connect(spark):
    from dock_financial_data_pipelines_spark import connect_compat as cc

    cc.reset_warnings()
    records: list = []

    class _Capture(logging.Handler):
        def emit(self, record):
            records.append(record.getMessage())

    cap = _Capture()
    cc.log.addHandler(cap)
    try:
        facade = cc.ConnectFacadeSession(spark)
        assert codegen_compiles(facade) is None
        assert codegen_compiles(facade) is None
    finally:
        cc.log.removeHandler(cap)
    assert sum("codegen-compiles" in m for m in records) == 1
