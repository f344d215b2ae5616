"""Job driver: skip-if-done, retry, and idempotent-rerun semantics
(the reference's Airflow task policies restated at job granularity —
REPORT:21-22 retries, :172 replace=True, :229 catchup/max_active_runs)."""

from __future__ import annotations

import json
import os

import pytest

from dock_financial_data_pipelines_spark import driver


def test_run_publishes_day_partition_and_marker(spark, sf_dir, tmp_path):
    out = str(tmp_path / "events_out")
    res = driver.run_job(spark, "daily_events", sf_dir, "2024-01-05", out)
    assert not res.skipped and res.attempts == 1 and res.rows > 0
    assert os.path.isdir(os.path.join(out, "report_date=2024-01-05"))
    marker = json.load(open(driver._marker(out, "2024-01-05")))
    assert marker["rows"] == res.rows


def test_second_run_skips_via_marker(spark, sf_dir, tmp_path):
    out = str(tmp_path / "events_out")
    driver.run_job(spark, "daily_events", sf_dir, "2024-01-05", out)
    res2 = driver.run_job(spark, "daily_events", sf_dir, "2024-01-05", out)
    assert res2.skipped


def test_forced_rerun_is_idempotent(spark, sf_dir, tmp_path):
    out = str(tmp_path / "events_out")
    r1 = driver.run_job(spark, "daily_events", sf_dir, "2024-01-05", out)
    r2 = driver.run_job(spark, "daily_events", sf_dir, "2024-01-05", out, force=True)
    assert r2.rows == r1.rows  # dynamic overwrite replaced, not appended
    total = spark.read.parquet(out).where("report_date = '2024-01-05'").count()
    assert total == r1.rows


def test_reruns_other_day_leaves_first_day_intact(spark, sf_dir, tmp_path):
    out = str(tmp_path / "events_out")
    r1 = driver.run_job(spark, "daily_events", sf_dir, "2024-01-05", out)
    driver.run_job(spark, "daily_events", sf_dir, "2024-01-06", out)
    kept = spark.read.parquet(out).where("report_date = '2024-01-05'").count()
    assert kept == r1.rows


def test_retries_absorb_transient_failures(spark, sf_dir, tmp_path, monkeypatch):
    out = str(tmp_path / "bal_out")
    calls = {"n": 0}
    real = driver.JOBS["daily_events"]

    def flaky(spark_, sf, day):
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("transient executor loss")
        return real(spark_, sf, day)

    monkeypatch.setitem(driver.JOBS, "daily_events", flaky)
    res = driver.run_job(spark, "daily_events", sf_dir, "2024-01-05", out, retries=3)
    assert res.attempts == 3 and res.rows > 0


def test_retries_exhausted_reraises(spark, sf_dir, tmp_path, monkeypatch):
    def always_fail(spark_, sf, day):
        raise RuntimeError("hard failure")

    monkeypatch.setitem(driver.JOBS, "daily_events", always_fail)
    with pytest.raises(RuntimeError, match="hard failure"):
        driver.run_job(
            spark, "daily_events", sf_dir, "2024-01-05",
            str(tmp_path / "x"), retries=1,
        )


def test_balance_report_job_runs(spark, sf_dir, tmp_path):
    out = str(tmp_path / "bal")
    res = driver.run_job(spark, "balance_report", sf_dir, "1998-12-31", out)
    assert res.rows > 0
    pdf = (
        spark.read.parquet(out)
        .where("report_date = '1998-12-31'")
        .limit(5)
        .toPandas()
    )
    assert {"custkey", "mktsegment", "acctbal"} <= set(pdf.columns)


def test_sweep_rotation_self_updates():
    """The registry order must follow driver-check recency
    automatically: never-checked names first, then oldest latest
    verdict first — and when a simulated new CORRECTNESS round lands
    for the 50-slot head, those names demote behind everything else
    without any manual list edit. Round-3 regression: this test
    hardcoded r01+r02 while the runtime globs CORRECTNESS_r*.json, so
    it broke the moment r03 landed; it uses the runtime's loader."""
    import dock_financial_data_pipelines_spark as engine

    engine.load_all()
    last_round = engine._load_driver_last_round()
    saved = dict(engine.QUERIES)
    try:
        order = list(engine.QUERIES)
        rounds = [last_round.get(n, 0) for n in order]
        assert rounds == sorted(rounds), "registry must be in recency order"

        head = order[:50]
        landed = max(last_round.values(), default=0) + 1
        engine._reorder_registry(dict(last_round, **dict.fromkeys(head, landed)))
        order2 = list(engine.QUERIES)
        assert order2[-len(head):] == head, "verified head must demote"
        assert order2[: -len(head)] == order[len(head):]
    finally:
        engine.QUERIES.clear()
        engine.QUERIES.update(saved)


def test_sweep_head_is_fully_oracled():
    """The committed plan promises the driver 50 hash-checkable slots."""
    import dock_financial_data_pipelines_spark as engine

    engine.load_all()
    head = list(engine.QUERIES)[:50]
    missing = [n for n in head if n not in engine.ORACLES]
    assert missing == [], f"sweep head entries without oracles: {missing}"


def test_backfill_catchup_true_replays_every_day(spark, sf_dir, tmp_path):
    out = str(tmp_path / "bf_out")
    days = ["2024-01-01", "2024-01-02", "2024-01-03"]
    first = driver.backfill(spark, "daily_events", sf_dir, days, out)
    assert [r.day for r in first] == days
    assert not any(r.skipped for r in first)
    # double-replay == single-replay: every day skips on its marker,
    # published partitions untouched
    counts1 = {
        str(r["report_date"]): r["count"]
        for r in spark.read.parquet(out).groupBy("report_date")
        .count().collect()
    }
    second = driver.backfill(spark, "daily_events", sf_dir, days, out)
    assert all(r.skipped for r in second)
    counts2 = {
        str(r["report_date"]): r["count"]
        for r in spark.read.parquet(out).groupBy("report_date")
        .count().collect()
    }
    assert counts1 == counts2 and set(counts1) == set(days)


def test_backfill_no_catchup_runs_only_latest(spark, sf_dir, tmp_path):
    out = str(tmp_path / "bf_out")
    days = ["2024-01-02", "2024-01-01", "2024-01-03"]  # unsorted input
    res = driver.backfill(
        spark, "daily_events", sf_dir, days, out, catchup=False
    )
    assert [r.day for r in res] == ["2024-01-03"]
    got = sorted(
        str(r["report_date"])
        for r in spark.read.parquet(out).select("report_date")
        .distinct().collect()
    )
    assert got == ["2024-01-03"]


def test_backfill_cli_mode(sf_dir, tmp_path):
    """--backfill-start/--backfill-end drive the same path through
    main(); one JSON line per day."""
    import io
    from contextlib import redirect_stdout

    out = str(tmp_path / "bf_cli")
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = driver.main([
            "--job", "daily_events", "--sf-dir", sf_dir, "--out", out,
            "--backfill-start", "2024-01-01",
            "--backfill-end", "2024-01-02",
            "--retries", "0", "--retry-delay", "0",
        ])
    assert rc == 0
    lines = [json.loads(x) for x in buf.getvalue().strip().splitlines()]
    assert [x["day"] for x in lines] == ["2024-01-01", "2024-01-02"]
    assert all(not x["skipped"] for x in lines)


def test_empty_day_into_fresh_target_publishes_zero_rows(spark, sf_dir, tmp_path):
    """An empty daily partition is routine: the run counts 0 rows and
    writes its marker on the first attempt, with no Spark read-back of
    a target that has no partition to infer a schema from."""
    out = str(tmp_path / "fresh")
    res = driver.run_job(
        spark, "daily_events", sf_dir, "2031-01-01", out, retries=1
    )
    assert (res.attempts, res.rows, res.skipped) == (1, 0, False)
    assert json.load(open(driver._marker(out, "2031-01-01")))["rows"] == 0


def test_forced_empty_rerun_clears_the_day(spark, sf_dir, tmp_path, monkeypatch):
    """Dynamic overwrite writes no partition for an empty frame, so the
    driver itself removes the day's old rows; other days stay."""
    out = str(tmp_path / "events_out")
    kept = driver.run_job(spark, "daily_events", sf_dir, "2024-01-06", out)
    first = driver.run_job(spark, "daily_events", sf_dir, "2024-01-05", out)
    assert first.rows > 0 and kept.rows > 0
    real = driver.JOBS["daily_events"]
    monkeypatch.setitem(
        driver.JOBS, "daily_events",
        lambda spark_, sf, day: real(spark_, sf, day).limit(0),
    )
    res = driver.run_job(
        spark, "daily_events", sf_dir, "2024-01-05", out, force=True
    )
    assert (res.attempts, res.rows) == (1, 0)
    assert json.load(open(driver._marker(out, "2024-01-05")))["rows"] == 0
    assert not os.path.exists(os.path.join(out, "report_date=2024-01-05"))
    assert _spark_count(spark, out, "2024-01-05") == 0
    assert _spark_count(spark, out, "2024-01-06") == kept.rows


def _multi_file_events(monkeypatch):
    real = driver.JOBS["daily_events"]
    monkeypatch.setitem(
        driver.JOBS, "daily_events",
        lambda spark_, sf, day: real(spark_, sf, day).repartition(3),
    )


@pytest.fixture
def spark_reads(monkeypatch):
    """Records every Spark read-back the driver's row count makes."""
    from dock_financial_data_pipelines_spark import catalog

    calls: list = []
    real_read = catalog.read_parquet_or_empty
    monkeypatch.setattr(
        catalog, "read_parquet_or_empty",
        lambda *a, **k: calls.append(a) or real_read(*a, **k),
    )
    return calls


def _spark_count(spark, out, day):
    return spark.read.parquet(out).where(f"report_date = '{day}'").count()


def test_footer_count_equals_spark_count_for_multi_file_day(
    spark, sf_dir, tmp_path, monkeypatch, spark_reads
):
    _multi_file_events(monkeypatch)
    out = str(tmp_path / "events_out")
    driver.run_job(spark, "daily_events", sf_dir, "2024-01-06", out)
    res = driver.run_job(spark, "daily_events", sf_dir, "2024-01-05", out)
    day_dir = os.path.join(out, "report_date=2024-01-05")
    parts = [f for f in os.listdir(day_dir) if f.endswith(".parquet")]
    assert len(parts) > 1
    assert res.rows == _spark_count(spark, out, "2024-01-05") > 0
    assert spark_reads == []  # counted from the footers


def test_count_falls_back_to_spark_past_the_byte_bound(
    spark, sf_dir, tmp_path, monkeypatch, spark_reads
):
    from dock_financial_data_pipelines_spark.plans import pipeline as pl

    _multi_file_events(monkeypatch)
    monkeypatch.setattr(pl, "_LOCAL_MANIFEST_MAX_BYTES", 0)
    out = str(tmp_path / "events_out")
    res = driver.run_job(spark, "daily_events", sf_dir, "2024-01-05", out)
    assert len(spark_reads) == 1
    assert res.rows == _spark_count(spark, out, "2024-01-05") > 0


def test_count_falls_back_to_spark_for_an_escaped_day(
    spark, sf_dir, tmp_path, monkeypatch, spark_reads
):
    """Spark writes report_date 'a:b' as the directory report_date=a%3Ab,
    so no directory is named after the day verbatim: Spark counts."""
    from pyspark.sql import functions as F

    from dock_financial_data_pipelines_spark.catalog import load

    monkeypatch.setitem(
        driver.JOBS, "daily_events",
        lambda spark_, sf, day: load(spark_, sf, "region")
        .withColumn("report_date", F.lit(day)),
    )
    out = str(tmp_path / "odd_out")
    res = driver.run_job(spark, "daily_events", sf_dir, "a:b", out)
    assert os.path.isdir(os.path.join(out, "report_date=a%3Ab"))
    assert len(spark_reads) == 1
    assert res.rows == load(spark, sf_dir, "region").count() == 5
