"""Protocol-level tests for the snapshot log / CAS / time-travel /
compaction layer (plans/pipeline.py round-12 section): drive the
primitives directly against a temp root — crash windows, refusal
semantics, log shape — plus a plain-Python packing reference so a
defect shared by the Spark query and its DuckDB oracle twin would
still surface."""

from __future__ import annotations

import os

import pandas as pd
import pytest

import dock_financial_data_pipelines_spark as engine
from dock_financial_data_pipelines_spark.plans.pipeline import (
    _COMPACT_SMALL_BUDGET,
    _commit_cas,
    _committed_versions,
    _pack_where,
    _read_version,
    _read_visible,
    _repack,
    _resolve_current,
    _stage_version,
)

SF = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# CAS semantics (pure protocol, no data)
# ---------------------------------------------------------------------------
def test_cas_refuses_stale_base_and_logs_append_only(tmp_path):
    root = str(tmp_path / "t")
    os.makedirs(root)
    assert _commit_cas(root, None, 1) is True
    assert _commit_cas(root, 1, 2) is True
    # a writer still holding base=1 must be refused…
    assert _commit_cas(root, 1, 3) is False
    # …and a refused CAS must leave NO trace: no log entry, no swing
    assert _committed_versions(root) == [1, 2]
    assert _resolve_current(root) == 2
    # retry with the fresh base lands
    assert _commit_cas(root, 2, 3) is True
    assert _committed_versions(root) == [1, 2, 3]
    assert _resolve_current(root) == 3


def test_cas_refuses_commit_onto_empty_table_with_wrong_base(tmp_path):
    root = str(tmp_path / "t")
    os.makedirs(root)
    # nothing committed yet: only base=None may land
    assert _commit_cas(root, 1, 2) is False
    assert _committed_versions(root) == []
    assert _resolve_current(root) is None


def test_log_entries_record_parent_chain(tmp_path):
    root = str(tmp_path / "t")
    os.makedirs(root)
    _commit_cas(root, None, 1)
    _commit_cas(root, 1, 2)
    parents = {}
    for n in os.listdir(os.path.join(root, "log")):
        if not n.endswith(".commit"):
            continue  # e.g. the .cas.lock serialization file
        v, p = open(os.path.join(root, "log", n)).read().split(",")[:2]
        parents[int(v)] = int(p)
    assert parents == {1: -1, 2: 1}


# ---------------------------------------------------------------------------
# Staging + crash windows (Spark)
# ---------------------------------------------------------------------------
def test_staged_but_uncommitted_version_is_invisible(spark, tmp_path):
    root = str(tmp_path / "t")
    os.makedirs(root)
    df = spark.createDataFrame(
        [(1, 10, "a", 0), (2, 20, "b", 0)],
        "doc_id long, tokens long, dg string, shard long",
    )
    _stage_version(spark, df, root, 1)
    # crash before _commit_cas: the reader sees an EMPTY table
    assert _read_visible(spark, root).count() == 0
    assert _committed_versions(root) == []
    # the recovery commit makes the staged bytes visible unchanged
    assert _commit_cas(root, None, 1)
    assert _read_visible(spark, root).count() == 2


def test_restage_replaces_leftover_shards(spark, tmp_path):
    """A failed attempt staged MORE shards than the retry produces; the
    restage must not blend them (the dynamic-overwrite hazard)."""
    root = str(tmp_path / "t")
    os.makedirs(root)
    wide = spark.createDataFrame(
        [(i, 10, "x", i) for i in range(5)],
        "doc_id long, tokens long, dg string, shard long",
    )
    _stage_version(spark, wide, root, 1)  # shards 0..4, never committed
    narrow = spark.createDataFrame(
        [(1, 10, "x", 0)],
        "doc_id long, tokens long, dg string, shard long",
    )
    _stage_version(spark, narrow, root, 1)  # retry: one shard
    assert _commit_cas(root, None, 1)
    got = _read_visible(spark, root).toPandas()
    assert len(got) == 1 and set(got["shard"]) == {0}


def test_time_travel_reads_survive_later_commits(spark, tmp_path):
    root = str(tmp_path / "t")
    os.makedirs(root)
    a = spark.createDataFrame(
        [(1, 5, "a", 0)], "doc_id long, tokens long, dg string, shard long"
    )
    b = spark.createDataFrame(
        [(2, 7, "b", 0), (3, 9, "c", 1)],
        "doc_id long, tokens long, dg string, shard long",
    )
    _stage_version(spark, a, root, 1)
    assert _commit_cas(root, None, 1)
    _stage_version(spark, b, root, 2)
    assert _commit_cas(root, 1, 2)
    v1 = _read_version(spark, root, 1).toPandas()
    assert list(v1["doc_id"]) == [1]
    cur = _read_visible(spark, root).toPandas()
    assert sorted(cur["doc_id"]) == [2, 3]


# ---------------------------------------------------------------------------
# Packing reference (plain Python, textbook loop)
# ---------------------------------------------------------------------------
def _pack_reference(rows, budget):
    """Sequential first-fit packing: shard = floor(cum_before/budget)."""
    out, cum = {}, 0
    for doc_id, tokens in sorted(rows):
        out[doc_id] = (cum) // budget
        cum += tokens
    return out


@pytest.mark.parametrize("budget", [_COMPACT_SMALL_BUDGET, 4000])
def test_repack_matches_plain_python_reference(spark, budget):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    packed = _pack_where(docs, "doc_id % 2 = 0", budget).toPandas()
    if packed.empty:
        pytest.skip("empty fixture")
    ref = _pack_reference(
        list(zip(packed["doc_id"], packed["tokens"])), budget
    )
    got = dict(zip(packed["doc_id"], packed["shard"]))
    assert got == ref


def test_compaction_preserves_logical_content(spark):
    """Doc-grain content identity between the small-budget and the
    compacted packing, checked row-for-row (stronger than the xor
    digest the query publishes)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    small = _pack_where(docs, "doc_id % 2 = 0", _COMPACT_SMALL_BUDGET)
    big = _repack(small, 4000).toPandas()
    small_pd = small.toPandas()
    if small_pd.empty:
        pytest.skip("empty fixture")
    left = small_pd[["doc_id", "tokens", "dg"]].sort_values("doc_id")
    right = big[["doc_id", "tokens", "dg"]].sort_values("doc_id")
    pd.testing.assert_frame_equal(
        left.reset_index(drop=True), right.reset_index(drop=True)
    )
    assert big["shard"].nunique() <= small_pd["shard"].nunique()


def test_concurrent_query_registered_with_oracle():
    for n in (
        "pipeline_snapshot_timetravel",
        "pipeline_concurrent_commit_cas",
        "pipeline_compact_snapshot",
    ):
        assert n in engine.QUERIES and n in engine.ORACLES


# ---------------------------------------------------------------------------
# Retention / vacuum
# ---------------------------------------------------------------------------
def test_expire_refuses_current_and_unknown_versions(tmp_path):
    from dock_financial_data_pipelines_spark.plans.pipeline import (
        _expire_snapshot,
        _live_versions,
    )

    root = str(tmp_path / "t")
    os.makedirs(root)
    _commit_cas(root, None, 1)
    _commit_cas(root, 1, 2)
    assert _expire_snapshot(root, 2) is False  # CURRENT protected
    assert _expire_snapshot(root, 9) is False  # never committed
    assert _expire_snapshot(root, 1) is True
    assert _expire_snapshot(root, 1) is True  # idempotent re-run
    assert _live_versions(root) == [2]
    assert _committed_versions(root) == [1, 2]  # history retained


def test_expired_version_reads_empty_current_unaffected(spark, tmp_path):
    from dock_financial_data_pipelines_spark.plans.pipeline import (
        _expire_snapshot,
    )

    root = str(tmp_path / "t")
    os.makedirs(root)
    a = spark.createDataFrame(
        [(1, 5, "a", 0)], "doc_id long, tokens long, dg string, shard long"
    )
    b = spark.createDataFrame(
        [(2, 7, "b", 0)], "doc_id long, tokens long, dg string, shard long"
    )
    _stage_version(spark, a, root, 1)
    assert _commit_cas(root, None, 1)
    _stage_version(spark, b, root, 2)
    assert _commit_cas(root, 1, 2)
    assert _expire_snapshot(root, 1)
    assert _read_version(spark, root, 1).count() == 0
    assert list(_read_visible(spark, root).toPandas()["doc_id"]) == [2]


# ---------------------------------------------------------------------------
# Streaming publisher replay idempotence (the Delta txn contract)
# ---------------------------------------------------------------------------
def test_x23_batch_replay_is_skipped(spark, tmp_path):
    from dock_financial_data_pipelines_spark.streaming.streams import (
        _x23_publish_batch,
    )

    root = str(tmp_path / "t")
    os.makedirs(root)
    batch = spark.createDataFrame(
        [(1, 10.0), (1, 2.505), (2, 7.0)], "user_id long, value double"
    )
    assert _x23_publish_batch(spark, root, batch, 0) is True
    got = _read_visible(spark, root).toPandas().set_index("doc_id")
    # floor(10.0*100+0.5)=1000, floor(2.505*100+0.5)=251 -> 1251
    assert int(got.loc[1, "tokens"]) == 1251
    assert int(got.loc[2, "tokens"]) == 700
    # checkpoint-recovery replay of batch 0: must NOT double-apply
    assert _x23_publish_batch(spark, root, batch, 0) is False
    again = _read_visible(spark, root).toPandas().set_index("doc_id")
    assert int(again.loc[1, "tokens"]) == 1251
    assert _committed_versions(root) == [1]
    # the next batch merges on top
    batch2 = spark.createDataFrame([(2, 1.0)], "user_id long, value double")
    assert _x23_publish_batch(spark, root, batch2, 1) is True
    final = _read_visible(spark, root).toPandas().set_index("doc_id")
    assert int(final.loc[2, "tokens"]) == 800
    assert _committed_versions(root) == [1, 2]


# ---------------------------------------------------------------------------
# Branch refs / fast-forward (Write-Audit-Publish plumbing)
# ---------------------------------------------------------------------------
def test_fast_forward_only_to_committed_versions(tmp_path):
    from dock_financial_data_pipelines_spark.plans.pipeline import (
        _fast_forward,
    )

    root = str(tmp_path / "t")
    os.makedirs(root)
    _commit_cas(root, None, 1)
    assert _fast_forward(root, 7) is False  # never committed
    assert _resolve_current(root) == 1
    _commit_cas(root, None, 2, ref="BRANCH_audit")  # branch-only commit
    # main hasn't moved, but v2 IS committed (in the log) → ff allowed
    assert _resolve_current(root) == 1
    assert _fast_forward(root, 2) is True
    assert _resolve_current(root) == 2
    # the branch head and main are independent pointers
    assert _resolve_current(root, "BRANCH_audit") == 2


def test_branch_commits_are_invisible_to_main_readers(spark, tmp_path):
    root = str(tmp_path / "t")
    os.makedirs(root)
    a = spark.createDataFrame(
        [(1, 5, "a", 0)], "doc_id long, tokens long, dg string, shard long"
    )
    b = spark.createDataFrame(
        [(2, 7, "b", 0)], "doc_id long, tokens long, dg string, shard long"
    )
    _stage_version(spark, a, root, 1)
    assert _commit_cas(root, None, 1)
    _stage_version(spark, b, root, 2)
    assert _commit_cas(root, None, 2, ref="BRANCH_audit")
    # main readers still see v1; branch readers see v2
    assert list(_read_visible(spark, root).toPandas()["doc_id"]) == [1]
    assert list(
        _read_visible(spark, root, "BRANCH_audit").toPandas()["doc_id"]
    ) == [2]


# ---------------------------------------------------------------------------
# Change data feed classification (plain-Python reference)
# ---------------------------------------------------------------------------
def test_cdf_classes_match_plain_python(spark):
    import duckdb

    docs = pd.read_parquet(f"{SF}/documents.parquet")[["doc_id", "text"]]
    if docs.empty:
        pytest.skip("empty fixture")
    import hashlib

    v1 = {
        int(r.doc_id): hashlib.md5(r.text.encode()).hexdigest()
        for r in docs.itertuples()
        if r.doc_id % 2 == 0
    }
    v2 = {}
    for r in docs.itertuples():
        if r.doc_id % 4 in (0, 3):
            t = r.text + " cdc" if r.doc_id % 3 == 0 else r.text
            v2[int(r.doc_id)] = hashlib.md5(t.encode()).hexdigest()
    from collections import Counter

    ref = Counter()
    for d in set(v1) | set(v2):
        if d not in v1:
            ref["insert"] += 1
        elif d not in v2:
            ref["delete"] += 1
        elif v1[d] == v2[d]:
            ref["unchanged"] += 1
        else:
            ref["update"] += 1
    got = (
        engine.QUERIES["pipeline_snapshot_changes"](spark, SF)
        .toPandas()
        .set_index("change_type")["n_rows"]
        .to_dict()
    )
    assert {k: v for k, v in got.items() if v} == {
        k: v for k, v in ref.items() if v
    }


# ---------------------------------------------------------------------------
# Manifest pruning: the skipped shards provably contain no matches
# ---------------------------------------------------------------------------
def test_manifest_bounds_are_sound_for_pruning(spark, tmp_path):
    from dock_financial_data_pipelines_spark.plans.pipeline import (
        _PRUNE_AGGS,
        _PRUNE_HI,
        _PRUNE_LO,
        _PRUNE_MAN_DDL,
        _REL_SCHEMA_DDL,
        _build_manifest,
    )
    from dock_financial_data_pipelines_spark.sources.sinks import (
        write_partitioned,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    packed = _pack_where(docs, "doc_id % 2 = 0", _COMPACT_SMALL_BUDGET)
    pdf = packed.toPandas()
    if pdf.empty:
        pytest.skip("empty fixture")
    data_dir = str(tmp_path / "data")
    write_partitioned(packed.repartition("shard"), data_dir, "shard")
    staged = spark.read.schema(_REL_SCHEMA_DDL).parquet(data_dir)
    man = pd.DataFrame(
        _build_manifest(
            staged, data_dir, str(tmp_path / "man"), _PRUNE_MAN_DDL,
            _PRUNE_AGGS, hive=True,
        )
    )
    assert sorted(man["shard"]) == sorted(set(pdf["shard"]))
    pruned_out = set(
        man[(man["max_doc"] < _PRUNE_LO) | (man["min_doc"] > _PRUNE_HI)][
            "shard"
        ]
    )
    # no row in a pruned-out shard may fall inside the range
    hits = pdf[(pdf["doc_id"] >= _PRUNE_LO) & (pdf["doc_id"] <= _PRUNE_HI)]
    assert set(hits["shard"]).isdisjoint(pruned_out)
    # bounds are exact, not conservative-loose: every kept shard
    # really overlaps the range (packing clusters by doc_id)
    kept = man[~man["shard"].isin(pruned_out)]
    for r in kept.itertuples():
        assert r.max_doc >= _PRUNE_LO and r.min_doc <= _PRUNE_HI


# ---------------------------------------------------------------------------
# Log-tail consumer offsets
# ---------------------------------------------------------------------------
def test_consumer_offset_replay_is_deterministic(spark, tmp_path):
    from dock_financial_data_pipelines_spark.plans.pipeline import (
        _advance_consumer,
        _consumer_offset,
        _version_delta,
    )

    root = str(tmp_path / "t")
    os.makedirs(root)
    a = spark.createDataFrame(
        [(1, 5, "a", 0), (2, 6, "b", 0)],
        "doc_id long, tokens long, dg string, shard long",
    )
    b = spark.createDataFrame(
        [(1, 5, "a", 0), (2, 9, "B", 0), (3, 1, "c", 0)],
        "doc_id long, tokens long, dg string, shard long",
    )
    _stage_version(spark, a, root, 1)
    assert _commit_cas(root, None, 1)
    _stage_version(spark, b, root, 2)
    assert _commit_cas(root, 1, 2)

    assert _consumer_offset(root, "A") == 0
    d = _version_delta(spark, root, 1, 2).collect()[0]
    assert (d.n_ins, d.n_del, d.n_upd) == (1, 0, 1)
    # crash BEFORE advancing: offset still 0, replay gives same delta
    d2 = _version_delta(spark, root, 1, 2).collect()[0]
    assert (d2.n_ins, d2.n_del, d2.n_upd) == (1, 0, 1)
    _advance_consumer(root, "A", 2)
    assert _consumer_offset(root, "A") == 2
    # independent consumers do not share offsets
    assert _consumer_offset(root, "B") == 0


# ---------------------------------------------------------------------------
# Orphan GC
# ---------------------------------------------------------------------------
def test_orphan_gc_removes_only_uncommitted(spark, tmp_path):
    from dock_financial_data_pipelines_spark.plans.pipeline import (
        _gc_orphans,
    )

    root = str(tmp_path / "t")
    os.makedirs(root)
    a = spark.createDataFrame(
        [(1, 5, "a", 0)], "doc_id long, tokens long, dg string, shard long"
    )
    _stage_version(spark, a, root, 1)
    assert _commit_cas(root, None, 1)
    _stage_version(spark, a, root, 2)  # crashed writer: never committed
    assert _gc_orphans(root) == [2]
    # both the data and the manifest dirs of the orphan are gone
    assert not os.path.exists(os.path.join(root, "data", "v=2"))
    assert not os.path.exists(os.path.join(root, "manifest", "v=2"))
    # committed version untouched; GC idempotent
    assert _read_visible(spark, root).count() == 1
    assert _gc_orphans(root) == []
    # a fresh stage+commit of the SAME number works after GC
    _stage_version(spark, a, root, 2)
    assert _commit_cas(root, 1, 2)
    assert _read_visible(spark, root).count() == 1


# ---------------------------------------------------------------------------
# Protocol-invariant guards (round-12 review fixes)
# ---------------------------------------------------------------------------
def test_stage_refuses_committed_version(spark, tmp_path):
    """Two optimistic writers racing to the same version number: the
    loser must NOT be able to clobber the winner's committed files."""
    root = str(tmp_path / "t")
    os.makedirs(root)
    a = spark.createDataFrame(
        [(1, 5, "a", 0)], "doc_id long, tokens long, dg string, shard long"
    )
    _stage_version(spark, a, root, 1)
    assert _commit_cas(root, None, 1)
    # loser (also derived version=1 from the same base) tries to stage
    with pytest.raises(ValueError):
        _stage_version(spark, a, root, 1)
    # winner's committed bytes untouched
    assert _read_visible(spark, root).count() == 1


def test_commit_cas_refuses_already_committed_version(tmp_path):
    """O_EXCL log create: a version number can be committed once, ever
    — even via a different ref."""
    root = str(tmp_path / "t")
    os.makedirs(root)
    assert _commit_cas(root, None, 1)
    assert _commit_cas(root, None, 1, ref="BRANCH_x") is False
    assert _committed_versions(root) == [1]


def test_fast_forward_refuses_expired_version(tmp_path):
    from dock_financial_data_pipelines_spark.plans.pipeline import (
        _expire_snapshot,
        _fast_forward,
    )

    root = str(tmp_path / "t")
    os.makedirs(root)
    _commit_cas(root, None, 1)
    _commit_cas(root, 1, 2)
    assert _expire_snapshot(root, 1)
    # v1 is committed history but vacuumed: a ref may not resolve it
    assert _fast_forward(root, 1) is False
    assert _resolve_current(root) == 2


def test_x23_rolls_forward_interrupted_commit(spark, tmp_path):
    """Crash in _commit_cas's log-to-pointer window: the replay must
    finish the swing, not skip-and-wedge."""
    from dock_financial_data_pipelines_spark.plans.pipeline import (
        _append_commit_log,
    )
    from dock_financial_data_pipelines_spark.streaming.streams import (
        _x23_publish_batch,
    )

    root = str(tmp_path / "t")
    os.makedirs(root)
    batch = spark.createDataFrame([(1, 1.0)], "user_id long, value double")
    assert _x23_publish_batch(spark, root, batch, 0) is True
    # simulate batch 1 crashing between log append and pointer swing
    b2 = spark.createDataFrame([(2, 2.0)], "user_id long, value double")
    from dock_financial_data_pipelines_spark.plans.pipeline import (
        _stage_version as _sv,
    )
    delta = b2.selectExpr(
        "user_id AS doc_id", "CAST(200 AS LONG) AS tokens",
        "'x' AS dg", "CAST(2 AS LONG) AS shard",
    )
    _sv(spark, delta, root, 2)
    assert _append_commit_log(root, 2, 1)  # logged...
    assert _resolve_current(root) == 1  # ...but pointer never swung
    # replay of batch 1: must roll the pointer forward and skip
    assert _x23_publish_batch(spark, root, b2, 1) is False
    assert _resolve_current(root) == 2
    # and the NEXT batch lands normally on the repaired base
    b3 = spark.createDataFrame([(3, 3.0)], "user_id long, value double")
    assert _x23_publish_batch(spark, root, b3, 2) is True
    assert _resolve_current(root) == 3


# ---------------------------------------------------------------------------
# Merge-on-read deletion vectors (round-12 continuation)
# ---------------------------------------------------------------------------
def _dv_fixture(spark, tmp_path):
    from dock_financial_data_pipelines_spark.plans.pipeline import (
        _stage_version as sv,
    )

    root = str(tmp_path / "t")
    os.makedirs(root)
    df = spark.createDataFrame(
        [(i, 10 * (i + 1), f"d{i}", i % 2) for i in range(6)],
        "doc_id long, tokens long, dg string, shard long",
    )
    sv(spark, df, root, 1)
    assert _commit_cas(root, None, 1)
    return root


def test_mor_delete_rewrites_no_data(spark, tmp_path):
    from dock_financial_data_pipelines_spark.plans.pipeline import (
        _commit_mor_delete,
        _read_mor,
    )

    root = _dv_fixture(spark, tmp_path)
    dels = spark.createDataFrame([(1,), (4,)], "doc_id long")
    assert _commit_mor_delete(spark, dels, root, 2, 1)
    # the commit wrote ZERO data shards: data/ still holds only v=1
    assert sorted(os.listdir(os.path.join(root, "data"))) == ["v=1"]
    got = _read_mor(spark, root).toPandas()
    assert sorted(got["doc_id"]) == [0, 2, 3, 5]
    # time travel to v1 is unaffected by the delete
    v1 = _read_version(spark, root, 1).toPandas()
    assert sorted(v1["doc_id"]) == [0, 1, 2, 3, 4, 5]


def test_layout_defaults_for_plain_versions(spark, tmp_path):
    from dock_financial_data_pipelines_spark.plans.pipeline import (
        _read_layout,
        _read_mor,
    )

    root = _dv_fixture(spark, tmp_path)
    # a pre-DV version has no layout record: reads itself, no DV chain
    assert _read_layout(root, 1) == ([1], [])
    assert _read_mor(spark, root, version=1).count() == 6


def test_dv_chain_stacks_and_compaction_is_bit_identical(spark, tmp_path):
    from dock_financial_data_pipelines_spark.plans.pipeline import (
        _commit_mor_delete,
        _read_layout,
        _read_mor,
        _stage_version as sv,
        _write_layout,
    )

    root = _dv_fixture(spark, tmp_path)
    assert _commit_mor_delete(
        spark, spark.createDataFrame([(0,)], "doc_id long"), root, 2, 1
    )
    assert _commit_mor_delete(
        spark, spark.createDataFrame([(5,)], "doc_id long"), root, 3, 2
    )
    # both layouts point at v1's data; the DV chain stacks
    assert _read_layout(root, 2) == ([1], [2])
    assert _read_layout(root, 3) == ([1], [2, 3])
    mor3 = _read_mor(spark, root, version=3)
    assert sorted(mor3.toPandas()["doc_id"]) == [1, 2, 3, 4]
    # compaction folds the chain back to copy-on-write, bit-identically
    sv(spark, mor3, root, 4)
    assert _write_layout(root, 4, 4, [])
    assert _commit_cas(root, 3, 4)
    a = mor3.toPandas().sort_values("doc_id").reset_index(drop=True)
    b = (
        _read_mor(spark, root)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        a[["doc_id", "tokens", "dg", "shard"]],
        b[["doc_id", "tokens", "dg", "shard"]],
    )


def test_refused_mor_cas_is_invisible_and_gc_sweeps_it(spark, tmp_path):
    from dock_financial_data_pipelines_spark.plans.pipeline import (
        _commit_mor_delete,
        _gc_orphans,
        _read_mor,
    )

    root = _dv_fixture(spark, tmp_path)
    dels = spark.createDataFrame([(2,)], "doc_id long")
    assert _commit_mor_delete(spark, dels, root, 2, 1)
    # a writer still holding base=1 loses the race: nothing lands
    stale = spark.createDataFrame([(3,)], "doc_id long")
    assert _commit_mor_delete(spark, stale, root, 3, 1) is False
    assert sorted(_read_mor(spark, root).toPandas()["doc_id"]) == [
        0, 1, 3, 4, 5,
    ]
    # …and GC sweeps the loser's staged dv file + layout record
    assert _gc_orphans(root) == [3]
    assert not os.path.exists(os.path.join(root, "dv", "v=3"))
    assert not os.path.exists(os.path.join(root, "layout", "v3.layout"))
    # the winner's DV artifacts are committed and untouched
    assert os.path.exists(os.path.join(root, "dv", "v=2"))
    assert os.path.exists(os.path.join(root, "layout", "v2.layout"))


def test_stage_dv_refuses_committed_version(spark, tmp_path):
    from dock_financial_data_pipelines_spark.plans.pipeline import _stage_dv

    root = _dv_fixture(spark, tmp_path)
    with pytest.raises(ValueError):
        _stage_dv(
            spark, spark.createDataFrame([(1,)], "doc_id long"), root, 1
        )


# ---------------------------------------------------------------------------
# Incremental MV maintenance: edge cases the fixture may not exercise
# ---------------------------------------------------------------------------
def test_mv_merge_cancel_out_still_touches_and_empty_drops(spark):
    from dock_financial_data_pipelines_spark.plans.pipeline import (
        _mv_agg,
        _mv_merge,
    )
    from pyspark.sql import functions as F

    def rows(data, sgn_col=True):
        return spark.createDataFrame(
            data,
            "o_orderpriority string, ym string, sgn int, "
            "o_totalprice double",
        )

    mv0 = _mv_agg(
        rows(
            [
                ("HI", "2024-01", 1, 10.0),
                ("HI", "2024-01", 1, 20.0),
                ("LO", "2024-02", 1, 5.0),
            ]
        )
    ).withColumn("last_touched_batch", F.lit(0).cast("int"))

    # batch 1: insert+delete that cancel in group HI (net 0 rows), and
    # a delete that EMPTIES group LO entirely
    delta1 = _mv_agg(
        rows(
            [
                ("HI", "2024-01", 1, 7.0),
                ("HI", "2024-01", -1, 10.0),
                ("LO", "2024-02", -1, 5.0),
            ]
        )
    )
    got = (
        _mv_merge(mv0, delta1, 1)
        .toPandas()
        .sort_values(["o_orderpriority", "ym"])
        .reset_index(drop=True)
    )
    # LO emptied -> dropped; HI count unchanged but revenue moved and
    # the high-water mark advanced (a cancelling batch still touched it)
    assert list(got["o_orderpriority"]) == ["HI"]
    assert int(got["n_orders"][0]) == 2
    assert float(got["revenue"][0]) == 27.0
    assert int(got["last_touched_batch"][0]) == 1


def test_mv_merge_untouched_groups_pass_through(spark):
    from dock_financial_data_pipelines_spark.plans.pipeline import (
        _mv_agg,
        _mv_merge,
    )
    from pyspark.sql import functions as F

    mk = lambda data: spark.createDataFrame(
        data,
        "o_orderpriority string, ym string, sgn int, o_totalprice double",
    )
    mv0 = _mv_agg(mk([("A", "m1", 1, 1.5), ("B", "m2", 1, 2.5)])).withColumn(
        "last_touched_batch", F.lit(0).cast("int")
    )
    # delta touches only A and creates C
    delta = _mv_agg(mk([("A", "m1", 1, 1.0), ("C", "m3", 1, 9.0)]))
    got = (
        _mv_merge(mv0, delta, 3)
        .toPandas()
        .set_index("o_orderpriority")
        .to_dict("index")
    )
    assert got["B"]["last_touched_batch"] == 0  # untouched passes through
    assert got["A"]["last_touched_batch"] == 3
    assert got["C"]["last_touched_batch"] == 3  # new group born at batch 3
    assert float(got["A"]["revenue"]) == 2.5
    assert int(got["C"]["n_orders"]) == 1


def test_mor_merge_sequence_rule(spark, tmp_path):
    """The DV committed WITH an append (same version) must not delete
    the append's replacement rows, and a LATER DV must reach both data
    versions — the Iceberg sequence-number semantics _read_mor
    enforces."""
    from dock_financial_data_pipelines_spark.plans.pipeline import (
        _commit_mor_delete,
        _commit_mor_merge,
        _read_layout,
        _read_mor,
    )

    root = _dv_fixture(spark, tmp_path)  # docs 0..5, tokens 10*(i+1)
    # merge: update doc 2 (tombstone old copy + append new), insert 9
    dv = spark.createDataFrame([(2,)], "doc_id long")
    app = spark.createDataFrame(
        [(2, 999, "new2", 0), (9, 90, "d9", 1)],
        "doc_id long, tokens long, dg string, shard long",
    )
    assert _commit_mor_merge(spark, dv, app, root, 2, 1)
    assert _read_layout(root, 2) == ([1, 2], [2])
    got = (
        _read_mor(spark, root)
        .toPandas()
        .set_index("doc_id")["tokens"]
        .to_dict()
    )
    # doc 2 survives its own commit's tombstone with the NEW value
    assert got[2] == 999 and got[9] == 90 and len(got) == 7
    # a later DV reaches both data versions: delete 2 (in the append
    # file) and 3 (in the base file) in one commit
    later = spark.createDataFrame([(2,), (3,)], "doc_id long")
    assert _commit_mor_delete(spark, later, root, 3, 2)
    got3 = sorted(_read_mor(spark, root).toPandas()["doc_id"])
    assert got3 == [0, 1, 4, 5, 9]


def test_commit_timestamps_strictly_monotone_and_asof_resolves(tmp_path):
    from dock_financial_data_pipelines_spark.plans.pipeline import (
        _commit_ts,
        _resolve_asof_ts,
    )

    root = str(tmp_path / "t")
    os.makedirs(root)
    # commits landing inside one clock tick must still get distinct,
    # increasing timestamps (the max(now, last+1) rule)
    assert _commit_cas(root, None, 1)
    assert _commit_cas(root, 1, 2)
    assert _commit_cas(root, 2, 3)
    t1, t2, t3 = (_commit_ts(root, v) for v in (1, 2, 3))
    assert t1 < t2 < t3
    # AS OF semantics: latest version with ts <= probe
    assert _resolve_asof_ts(root, t1 - 1) is None
    assert _resolve_asof_ts(root, t1) == 1
    assert _resolve_asof_ts(root, (t1 + t2) // 2) == 1
    assert _resolve_asof_ts(root, t2) == 2
    assert _resolve_asof_ts(root, t3 + 1_000_000) == 3
    # legacy two-field entries fall back to the version number
    with open(os.path.join(root, "log", "v9.commit"), "w") as fh:
        fh.write("9,3")
    assert _commit_ts(root, 9) == 9


def test_expire_refuses_versions_referenced_by_live_mor_layouts(
    spark, tmp_path
):
    """ADVICE r12 (medium): with merge-on-read, CURRENT can be a
    DV-only commit whose layout still reads an OLDER data version.
    Expiring that older version must be refused while any live layout
    references it — otherwise the pointer stays healthy but _read_mor
    silently loses rows. Once a copy-on-write compaction supersedes
    the MoR chain, both old versions become expirable and the DV
    bytes are reclaimed."""
    from dock_financial_data_pipelines_spark.plans.pipeline import (
        _commit_mor_delete,
        _expire_snapshot,
        _read_mor,
    )

    root = _dv_fixture(spark, tmp_path)
    dels = spark.createDataFrame([(1,), (4,)], "doc_id long")
    assert _commit_mor_delete(spark, dels, root, 2, 1)

    # v2 (CURRENT) is layout data=[1], dv=[2]: v1's bytes are live
    assert _expire_snapshot(root, 1) is False
    assert os.path.isdir(os.path.join(root, "data", "v=1"))
    assert sorted(_read_mor(spark, root).toPandas()["doc_id"]) == [
        0, 2, 3, 5,
    ]

    # compact back to copy-on-write: v3 is a plain staged version
    cur = _read_mor(spark, root)
    _stage_version(spark, cur, root, 3)
    assert _commit_cas(root, 2, 3)

    # v2 is no longer referenced by any live layout → expirable,
    # and its DV dir goes with it
    assert os.path.isdir(os.path.join(root, "dv", "v=2"))
    assert _expire_snapshot(root, 2) is True
    assert not os.path.isdir(os.path.join(root, "dv", "v=2"))

    # with v2 expired nothing live references v1 anymore
    assert _expire_snapshot(root, 1) is True
    assert not os.path.isdir(os.path.join(root, "data", "v=1"))
    # the compacted CURRENT is untouched
    assert sorted(_read_mor(spark, root).toPandas()["doc_id"]) == [
        0, 2, 3, 5,
    ]


def test_expire_refuses_data_version_shared_by_mor_merge(spark, tmp_path):
    """A MoR MERGE's layout lists MULTIPLE data versions; every one of
    them is protected while that version is live."""
    from dock_financial_data_pipelines_spark.plans.pipeline import (
        _commit_mor_merge,
        _expire_snapshot,
        _read_mor,
    )

    root = _dv_fixture(spark, tmp_path)
    dv = spark.createDataFrame([(0,), (2,)], "doc_id long")
    app = spark.createDataFrame(
        [(0, 999, "d0v2", 0)], "doc_id long, tokens long, dg string, "
        "shard long",
    )
    assert _commit_mor_merge(spark, dv, app, root, 2, 1)
    # layout of CURRENT=v2 is data=[1, 2], dv=[2]: both protected
    assert _expire_snapshot(root, 1) is False
    assert _expire_snapshot(root, 2) is False  # CURRENT anyway
    got = sorted(_read_mor(spark, root).toPandas()["doc_id"])
    assert got == [0, 1, 3, 4, 5]


def test_gc_orphans_is_idempotent_under_concurrency(spark, tmp_path):
    """ADVICE r12 (low): two GCs racing on the same orphan layout
    record must both complete without FileNotFoundError."""
    import threading

    from dock_financial_data_pipelines_spark.plans.pipeline import (
        _gc_orphans,
        _write_layout,
    )

    root = str(tmp_path / "t")
    os.makedirs(root)
    assert _commit_cas(root, None, 1)
    for v in range(10, 60):  # 50 orphaned layout records, no log entry
        assert _write_layout(root, v, v, [])
    errs = []

    def run():
        try:
            _gc_orphans(root)
        except Exception as e:  # pragma: no cover - the failure mode
            errs.append(e)

    ts = [threading.Thread(target=run) for _ in range(4)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert errs == []
    left = [
        n for n in os.listdir(os.path.join(root, "layout"))
        if n.endswith(".layout")
    ]
    assert left == []


def test_commit_storm_linear_lineage_no_lost_commits(tmp_path):
    """8 writers x 5 commits racing the CAS from plain threads: every
    commit lands, the lineage is one linear chain (no forks), losers'
    staged dirs are swept, and commit timestamps are strictly monotone
    along version order (the AS-OF invariant) despite the races."""
    from dock_financial_data_pipelines_spark.plans.pipeline import (
        _commit_ts,
        run_commit_storm,
    )

    root = str(tmp_path / "t")
    os.makedirs(root)
    stats = run_commit_storm(root, writers=8, commits=5)
    assert stats["commits"] == 40
    assert stats["chain_len"] == 40
    assert stats["forks"] == 0
    assert stats["orphan_dirs_left"] == 0
    ts = [_commit_ts(root, v) for v in _committed_versions(root)]
    assert ts == sorted(ts) and len(set(ts)) == len(ts)


def test_commit_cas_refuses_version_below_committed_max(tmp_path):
    """Version numbers are allocated above every committed one — the
    discipline that keeps version order == commit order == ts order."""
    root = str(tmp_path / "t")
    os.makedirs(root)
    assert _commit_cas(root, None, 5)
    assert _commit_cas(root, 5, 3) is False  # below max → refused
    assert _committed_versions(root) == [5]
    assert _commit_cas(root, 5, 6) is True
