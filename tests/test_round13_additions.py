"""Round-13 continuation additions: collated compare (f11), type-widened
read (s23), CBO broadcast advisor (j18), and the shallow-clone protocol.

Brute-force references recomputed from raw parquet with plain
pandas/Python (no Spark, no DuckDB) so a defect shared by the engine
query and its oracle twin would still surface; plus pure-protocol tests
for the clone primitives and filesystem audits that the clone really is
zero-copy and that materialization really copies."""

from __future__ import annotations

import os

import pandas as pd
import pytest

import dock_financial_data_pipelines_spark as engine
from dock_financial_data_pipelines_spark.plans.pipeline import (
    _clone_local_parquet_count,
    _clone_materialize,
    _clone_src_path,
    _commit_cas,
    _commit_mor_delete,
    _read_clone,
    _resolve_current,
    _shallow_clone,
    _storm_stage_raw,
    _write_layout,
)
from dock_financial_data_pipelines_spark.scratch import built_path, work_path

SF = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")

engine.load_all()


def _skip_if_empty(table: str) -> None:
    import pyarrow.parquet as pq

    if pq.read_metadata(f"{SF}/{table}.parquet").num_rows == 0:
        pytest.skip(f"{table} empty: covered by the empty-fixture sweep")


# ---------------------------------------------------------------------------
# f11 — collated compare vs a plain-Python case-fold reference
# ---------------------------------------------------------------------------
def test_collated_compare_matches_pandas(spark):
    _skip_if_empty("customer")
    cust = pd.read_parquet(f"{SF}/customer.parquet")

    def variant(row):
        s = row["c_mktsegment"]
        m = int(row["c_custkey"]) % 3
        if m == 0:
            return s.lower()
        if m == 1:
            return s
        return s[:1].upper() + s[1:].lower()

    cust = cust.assign(seg=cust.apply(variant, axis=1))
    cust["ci"] = cust["seg"].str.lower()
    exp = (
        cust.groupby("ci")
        .agg(
            n_customers=("seg", "size"),
            n_case_variants=("seg", "nunique"),
            n_prefix_b=("ci", lambda s: int(s.str.startswith("b").sum())),
        )
        .reset_index()
    )
    got = (
        engine.QUERIES["f11_collated_compare"](spark, SF)
        .toPandas()
        .sort_values("segment")
        .reset_index(drop=True)
    )
    exp = exp.sort_values("ci").reset_index(drop=True)
    assert list(got["segment"]) == list(exp["ci"])
    assert list(got["n_customers"]) == list(exp["n_customers"])
    assert list(got["n_case_variants"]) == list(exp["n_case_variants"])
    assert list(got["n_prefix_b"]) == list(exp["n_prefix_b"])


def test_collation_actually_folds_case(spark):
    """Each case-class must have seen >1 binary variant somewhere
    (custkey parities guarantee it at any non-trivial SF) — proves the
    collation did the folding, not already-uniform data."""
    _skip_if_empty("customer")
    cust = pd.read_parquet(f"{SF}/customer.parquet")
    if cust["c_custkey"].astype(int).mod(3).nunique() < 2:
        pytest.skip("fixture too small for multiple parities")
    got = engine.QUERIES["f11_collated_compare"](spark, SF).toPandas()
    assert (got["n_case_variants"] > 1).any()


# ---------------------------------------------------------------------------
# s23 — type-widened read: footer audit + pandas reference
# ---------------------------------------------------------------------------
def test_widened_read_matches_pandas(spark):
    _skip_if_empty("orders")
    got = (
        engine.QUERIES["s23_type_widened_read"](spark, SF)
        .toPandas()
        .sort_values("status")
        .reset_index(drop=True)
    )
    orders = pd.read_parquet(f"{SF}/orders.parquet")
    cents = (orders["o_totalprice"] * 100 + 0.5).apply(
        lambda x: int(x // 1)
    )
    exp = (
        orders.assign(cents=cents)
        .groupby("o_orderstatus")
        .agg(n_orders=("cents", "size"), cents_total=("cents", "sum"),
             cents_max=("cents", "max"))
        .reset_index()
        .sort_values("o_orderstatus")
        .reset_index(drop=True)
    )
    assert list(got["status"]) == list(exp["o_orderstatus"])
    assert list(got["n_orders"]) == list(exp["n_orders"])
    assert list(got["cents_total"]) == list(exp["cents_total"])
    assert list(got["cents_max"]) == list(exp["cents_max"])


def test_widened_read_physical_types_differ(spark):
    """The generations really are int32 vs int64 on disk — otherwise
    the query proves nothing about widening."""
    import glob

    import pyarrow.parquet as pq

    _skip_if_empty("orders")
    engine.QUERIES["s23_type_widened_read"](spark, SF).collect()
    out = built_path(SF, "widen")
    g1 = sorted(glob.glob(os.path.join(out, "gen=1", "*.parquet")))
    g2 = sorted(glob.glob(os.path.join(out, "gen=2", "*.parquet")))
    assert g1 and g2
    s1 = pq.read_schema(g1[0])
    s2 = pq.read_schema(g2[0])
    assert str(s1.field("cents").type) == "int32"
    assert str(s2.field("cents").type) == "int64"
    assert str(s1.field("o_orderkey").type) == "int32"
    assert str(s2.field("o_orderkey").type) == "int64"


# ---------------------------------------------------------------------------
# j18 — CBO advisor vs a plain-Python stats recompute
# ---------------------------------------------------------------------------
def test_cbo_advisor_matches_pandas(spark):
    from dock_financial_data_pipelines_spark.operators.joins import (
        _J18_TABLES,
        _J18_THRESH,
    )

    stats = {}
    for tbl, (fixed, strs) in _J18_TABLES.items():
        df = pd.read_parquet(f"{SF}/{tbl}.parquet")
        sbytes = sum(
            int(df[c].str.encode("utf-8").str.len().sum()) if len(df) else 0
            for c in strs
        )
        stats[tbl] = (len(df), fixed * len(df) + sbytes)
    got = (
        engine.QUERIES["j18_cbo_broadcast_advisor"](spark, SF)
        .toPandas()
        .set_index("tbl")
    )
    for tbl, (n, b) in stats.items():
        assert int(got.loc[tbl, "n_rows"]) == n
        assert int(got.loc[tbl, "est_bytes"]) == b
        assert got.loc[tbl, "strategy"] == (
            "broadcast" if b <= _J18_THRESH else "shuffle"
        )
    # exactly the largest table(s) are the fact; ranks are a permutation
    mx = max(b for _, b in stats.values())
    for tbl, (_, b) in stats.items():
        assert got.loc[tbl, "role"] == ("fact" if b == mx else "dim")
    assert sorted(got["join_rank"]) == list(range(1, len(stats) + 1))
    order = sorted(stats, key=lambda t: (stats[t][1], t))
    assert list(got.sort_values("join_rank").index) == order


# ---------------------------------------------------------------------------
# Shallow clone — pure protocol
# ---------------------------------------------------------------------------
def _mk_src(root: str, n: int = 3) -> None:
    os.makedirs(root, exist_ok=True)
    rows = [(i, 1, f"c{i}", 0) for i in range(1, n + 1)]
    _storm_stage_raw(root, 1, rows)
    assert _commit_cas(root, None, 1)


def test_clone_of_empty_source_refused(tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    assert not _shallow_clone(src, str(tmp_path / "c"))


def test_clone_is_zero_copy_and_reads_source(tmp_path, spark):
    src, c = str(tmp_path / "src"), str(tmp_path / "c")
    _mk_src(src)
    assert _shallow_clone(src, c)
    assert _clone_local_parquet_count(c) == 0
    assert _read_clone(spark, c).count() == 3
    assert _resolve_current(c) == 1


def test_clone_of_clone_refused(tmp_path):
    src, c1, c2 = (str(tmp_path / x) for x in ("src", "c1", "c2"))
    _mk_src(src)
    assert _shallow_clone(src, c1)
    assert not _shallow_clone(c1, c2)


def test_clone_of_mor_head_refused(tmp_path, spark):
    src, c = str(tmp_path / "src"), str(tmp_path / "c")
    _mk_src(src)
    deletes = spark.createDataFrame([(1,)], "doc_id long")
    assert _commit_mor_delete(spark, deletes, src, 2, base=1)
    assert not _shallow_clone(src, c)


def test_materialize_is_idempotent_and_local(tmp_path, spark):
    src, c = str(tmp_path / "src"), str(tmp_path / "c")
    _mk_src(src)
    assert _shallow_clone(src, c)
    assert _clone_materialize(c)
    first = _clone_src_path(c)
    assert first.startswith(os.path.abspath(c)) or first.startswith(c)
    assert _clone_local_parquet_count(c) >= 1
    assert _clone_materialize(c)  # second call: no-op, same pointer
    assert _clone_src_path(c) == first
    assert _read_clone(spark, c).count() == 3


def test_unmaterialized_clone_loses_rows_on_source_expire(tmp_path, spark):
    from dock_financial_data_pipelines_spark.plans.pipeline import (
        _expire_snapshot,
    )

    src, c = str(tmp_path / "src"), str(tmp_path / "c")
    _mk_src(src)
    assert _shallow_clone(src, c)
    rows = [(i, 1, f"c{i}", 0) for i in range(1, 5)]
    _storm_stage_raw(src, 2, rows)
    assert _commit_cas(src, 1, 2)
    assert _expire_snapshot(src, 1)
    assert _read_clone(spark, c).count() == 0  # the documented hazard


# ---------------------------------------------------------------------------
# SQL-surface batch: pipe syntax, parameter markers, session variables,
# SQL-body UDFs, arrow-native UDF — each vs a plain-pandas reference
# ---------------------------------------------------------------------------
def _orders_customer():
    o = pd.read_parquet(f"{SF}/orders.parquet")
    c = pd.read_parquet(f"{SF}/customer.parquet")
    return o.merge(c, left_on="o_custkey", right_on="c_custkey")


def test_pipe_syntax_matches_pandas(spark):
    _skip_if_empty("orders")
    m = _orders_customer()
    m = m[m["o_totalprice"] > 5000]
    m["yr"] = pd.to_datetime(m["o_orderdate"]).dt.year
    exp = (
        m.groupby(["c_mktsegment", "yr"])
        .size()
        .reset_index(name="n")
    )
    exp = exp[exp["n"] > 2].sort_values(["c_mktsegment", "yr"])
    got = (
        engine.QUERIES["sql_pipe_syntax_report"](spark, SF)
        .toPandas()
        .sort_values(["mktsegment", "yr"])
    )
    assert list(got["mktsegment"]) == list(exp["c_mktsegment"])
    assert [int(x) for x in got["yr"]] == [int(x) for x in exp["yr"]]
    assert [int(x) for x in got["n_orders"]] == [int(x) for x in exp["n"]]


def test_parameterized_query_binds_args(spark):
    _skip_if_empty("orders")
    m = _orders_customer()
    sel = m[
        (m["c_mktsegment"] == "BUILDING")
        & (pd.to_datetime(m["o_orderdate"]) >= pd.Timestamp("1996-01-01"))
        & (m["o_totalprice"] > 1000.0)
    ]
    exp = sel.groupby("o_orderpriority").size().sort_index()
    got = (
        engine.QUERIES["sql_parameterized_query"](spark, SF)
        .toPandas()
        .set_index("priority")["n_orders"]
        .sort_index()
    )
    assert list(got.index) == list(exp.index)
    assert [int(x) for x in got] == [int(x) for x in exp]


def test_parameterized_rebind_changes_result(spark):
    """The SAME statement text with different args must produce the
    other segment's numbers — proves values ride the args channel."""
    from dock_financial_data_pipelines_spark.catalog import load
    from dock_financial_data_pipelines_spark.operators.relational import (
        _SQL_PARAM_STMT,
    )

    _skip_if_empty("orders")
    m = _orders_customer()
    load(spark, SF, "orders").createOrReplaceTempView("orders")
    load(spark, SF, "customer").createOrReplaceTempView("customer")
    for seg in ("MACHINERY", "AUTOMOBILE"):
        sel = m[
            (m["c_mktsegment"] == seg)
            & (pd.to_datetime(m["o_orderdate"]) >= pd.Timestamp("1996-01-01"))
            & (m["o_totalprice"] > 1000.0)
        ]
        got = spark.sql(
            _SQL_PARAM_STMT,
            args={"seg": seg, "since": "1996-01-01", "floor_total": 1000.0},
        ).toPandas()
        assert int(got["n_orders"].sum()) == len(sel)


def test_session_variables_match_pandas(spark):
    _skip_if_empty("orders")
    o = pd.read_parquet(f"{SF}/orders.parquet")
    cutoff = pd.to_datetime(o["o_orderdate"]).max() - pd.Timedelta(days=90)
    sel = o[
        (pd.to_datetime(o["o_orderdate"]) >= cutoff)
        & (o["o_totalprice"] > 500.0)
    ]
    exp = sel.groupby("o_orderpriority").size().sort_index()
    got = (
        engine.QUERIES["sql_session_variables"](spark, SF)
        .toPandas()
        .set_index("priority")["n_recent"]
        .sort_index()
    )
    assert list(got.index) == list(exp.index)
    assert [int(x) for x in got] == [int(x) for x in exp]


def test_sql_body_udf_matches_pandas_and_parameterizes(spark):
    _skip_if_empty("lineitem")
    li = pd.read_parquet(f"{SF}/lineitem.parquet")

    def bands(min_qty):
        sel = li[li["l_quantity"] >= min_qty]
        b = pd.cut(
            sel["l_discount"],
            bins=[-1, 0.0299999, 0.0699999, 10],
            labels=["thin", "mid", "deep"],
        ).astype(str)
        return sel.groupby(b, observed=True).size().sort_index()

    got = (
        engine.QUERIES["d9_sql_body_udf"](spark, SF)
        .toPandas()
        .set_index("discount_band")["n_lines"]
        .sort_index()
    )
    exp = bands(10)
    assert [int(x) for x in got] == [int(x) for x in exp]
    # parameter flows: a different min_qty through the registered TVF
    got30 = (
        spark.sql("SELECT * FROM band_revenue(30)")
        .toPandas()
        .set_index("discount_band")["n_lines"]
        .sort_index()
    )
    exp30 = bands(30)
    assert [int(x) for x in got30] == [int(x) for x in exp30]


def test_arrow_udf_agrees_with_pandas_udf_twin(spark):
    """d10 (arrow_udf) and d2 (pandas_udf) implement the same money
    convention — their outputs must agree to the cent."""
    _skip_if_empty("lineitem")
    d2 = (
        engine.QUERIES["d2_pandas_udf_net_price"](spark, SF)
        .toPandas()
        .sort_values("l_returnflag")
        .reset_index(drop=True)
    )
    d10 = (
        engine.QUERIES["d10_arrow_native_udf"](spark, SF)
        .toPandas()
        .sort_values("l_returnflag")
        .reset_index(drop=True)
    )
    assert list(d2["l_returnflag"]) == list(d10["l_returnflag"])
    assert list(d2["net_revenue"]) == list(d10["net_revenue"])
    assert list(d2["n"]) == list(d10["n"])


# ---------------------------------------------------------------------------
# Commit-time constraints — pure protocol + Spark validation pass
# ---------------------------------------------------------------------------
def test_constraint_validator_counts(spark):
    from dock_financial_data_pipelines_spark.plans.pipeline import (
        _validate_constraints,
    )

    df = spark.createDataFrame(
        [(None, 5, "a", 0), (1, -1, "b", 0), (2, None, "c", 0), (3, 3, "d", 0)],
        "doc_id long, tokens long, dg string, shard long",
    )
    n_null, n_check = _validate_constraints(df)
    assert (n_null, n_check) == (1, 2)  # NULL tokens counts as CHECK


def test_constraint_refusal_stages_nothing(tmp_path, spark):
    from dock_financial_data_pipelines_spark.plans.pipeline import (
        _commit_checked,
    )

    root = str(tmp_path / "t")
    os.makedirs(root)
    bad = spark.createDataFrame(
        [(None, 5, "a", 0)], "doc_id long, tokens long, dg string, shard long"
    )
    landed, n_null, n_check = _commit_checked(spark, bad, root, 1, None)
    assert not landed and n_null == 1
    assert not os.path.exists(os.path.join(root, "data", "v=1"))
    assert _resolve_current(root) is None


def test_constraint_empty_batch_is_clean(tmp_path, spark):
    from dock_financial_data_pipelines_spark.plans.pipeline import (
        _commit_checked,
    )

    root = str(tmp_path / "t")
    os.makedirs(root)
    empty = spark.createDataFrame(
        [], "doc_id long, tokens long, dg string, shard long"
    )
    landed, n_null, n_check = _commit_checked(spark, empty, root, 1, None)
    assert landed and (n_null, n_check) == (0, 0)


# ---------------------------------------------------------------------------
# Row lineage — pure protocol
# ---------------------------------------------------------------------------
def test_row_lineage_watermark_monotone(tmp_path):
    from dock_financial_data_pipelines_spark.plans.pipeline import (
        _rl_hwm,
        _rl_set_hwm,
    )

    root = str(tmp_path / "t")
    os.makedirs(root)
    assert _rl_hwm(root) == 0
    _rl_set_hwm(root, 7)
    assert _rl_hwm(root) == 7


def test_row_lineage_compaction_preserves_ids(tmp_path):
    from dock_financial_data_pipelines_spark.plans.pipeline import (
        _rl_files,
        _rl_read,
        _rl_write,
    )

    root = str(tmp_path / "t")
    os.makedirs(root)
    rows = [(i + 1, 10 * (i + 1), 100 * (i + 1)) for i in range(6)]
    _rl_write(root, 1, rows, n_files=3)
    assert _rl_files(root, 1) == 3
    _rl_write(root, 2, sorted(rows, key=lambda r: -r[1]), n_files=1)
    assert _rl_files(root, 2) == 1
    assert _rl_read(root, 1) == _rl_read(root, 2)


# ---------------------------------------------------------------------------
# x26 — streaming Python data source: resume proof beyond the oracle
# ---------------------------------------------------------------------------
def test_pyds_stream_checkpoint_resumes(spark):
    """The query's own census proves n_appearances=1; here the sink's
    raw row count is pinned too (4 rows total, not 6 — days 0-1 were
    not re-read by the second drain)."""
    from dock_financial_data_pipelines_spark.catalog import (
        read_parquet_or_empty,
    )

    got = (
        engine.QUERIES["x26_python_datasource_stream"](spark, SF)
        .toPandas()
        .sort_values("day")
    )
    assert list(got["n_appearances"]) == [1, 1, 1, 1]
    sink = os.path.join(work_path(SF, "pyds_stream"), "sink")
    raw = read_parquet_or_empty(
        spark, sink,
        "day string, ticket string, file_name string, n_keys int",
    )
    assert raw.count() == 4
