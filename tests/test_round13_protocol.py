"""Round-13 additions: partition-spec evolution and _metadata lineage.

Brute-force references recomputed from raw parquet with plain
pandas/Python (no Spark, no DuckDB) so a defect shared by the engine
query and its oracle twin would still surface, plus pure-protocol
tests for the spec-record / pruning primitives and a filesystem audit
that spec evolution really leaves v1's files untouched."""

from __future__ import annotations

import os

import pandas as pd
import pytest

import dock_financial_data_pipelines_spark as engine
from dock_financial_data_pipelines_spark.plans.pipeline import (
    _PE_DOM_SPLIT,
    _pe_dirs,
    _pe_prune,
    _pe_read_spec,
    _pe_write_spec,
)
from dock_financial_data_pipelines_spark.scratch import work_path

SF = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


def _skip_if_empty(table: str) -> None:
    import pyarrow.parquet as pq

    if pq.read_metadata(f"{SF}/{table}.parquet").num_rows == 0:
        pytest.skip(f"{table} empty: covered by the empty-fixture sweep")


# ---------------------------------------------------------------------------
# Pure protocol: spec records + spec-aware pruning
# ---------------------------------------------------------------------------
def test_spec_record_roundtrip(tmp_path):
    root = str(tmp_path / "t")
    _pe_write_spec(root, 1, 1, "identity")
    _pe_write_spec(root, 2, 2, "month")
    assert _pe_read_spec(root, 1) == {
        "spec_id": 1, "transform": "identity", "source": "day",
    }
    assert _pe_read_spec(root, 2)["transform"] == "month"


def test_prune_identity_exact_and_month_coarse():
    days = ["2024-01-02", "2024-01-03", "2024-02-01"]
    months = ["2024-01", "2024-02"]
    ident = {"transform": "identity"}
    month = {"transform": "month"}
    assert _pe_prune(days, ident, "2024-01-03") == ["2024-01-03"]
    assert _pe_prune(days, ident, "2024-01-31") == []
    # the month transform matches the day's month — coarser on purpose
    assert _pe_prune(months, month, "2024-01-17") == ["2024-01"]
    assert _pe_prune(months, month, "2024-03-01") == []


def test_pe_dirs_missing_version_is_empty(tmp_path):
    assert _pe_dirs(str(tmp_path / "nope"), 7) == []


# ---------------------------------------------------------------------------
# Brute-force: the full query vs a pandas recomputation
# ---------------------------------------------------------------------------
def _events_days() -> pd.DataFrame:
    df = pd.read_parquet(f"{SF}/events.parquet", columns=["event_id", "ts"])
    ts = pd.to_datetime(df["ts"])
    out = pd.DataFrame(
        {
            "day": ts.dt.strftime("%Y-%m-%d"),
            "ym": ts.dt.strftime("%Y-%m"),
            "dom": ts.dt.day,
        }
    )
    return out


def test_partition_evolution_matches_pandas(spark):
    _skip_if_empty("events")
    got = (
        engine.QUERIES["pipeline_partition_evolution"](spark, SF)
        .toPandas()
        .set_index("stage_ord")
    )
    e = _events_days()
    v1 = e[e["dom"] <= _PE_DOM_SPLIT]
    v2 = e[e["dom"] > _PE_DOM_SPLIT]

    assert got.loc[0, "n_rows"] == len(v1)
    assert got.loc[0, "n_dirs"] == v1["day"].nunique()
    assert got.loc[1, "n_rows"] == len(v2)
    assert got.loc[1, "n_dirs"] == v2["ym"].nunique()
    assert got.loc[2, "n_rows"] == len(e)
    assert got.loc[2, "n_dirs"] == v1["day"].nunique() + v2["ym"].nunique()

    if len(v1):
        p1 = v1["day"].min()
        assert got.loc[3, "n_rows"] == int((v1["day"] == p1).sum())
        assert got.loc[3, "n_dirs"] == 1
    if len(v2):
        p2 = v2["day"].max()
        scanned = v2[v2["ym"] == p2[:7]]
        assert got.loc[4, "n_rows"] == int((v2["day"] == p2).sum())
        assert got.loc[4, "n_dirs"] == 1
        assert got.loc[5, "n_rows"] == len(scanned)
        assert got.loc[5, "n_dirs"] == scanned["day"].nunique()
        # the honest trade: the coarse era scans >= what it returns
        assert got.loc[5, "n_rows"] >= got.loc[4, "n_rows"]

    # spec_id column: one per era, current spec on the merged read
    assert list(got["spec_id"]) == [1, 2, 2, 1, 2, 2]


def test_partition_evolution_layout_on_disk(spark):
    """After the query runs, the physical layout must show the
    evolution: v1 dirs are day-named, v2 dirs month-named, both spec
    records present — and v1's data files were committed BEFORE v2
    (spec evolution never rewrites history)."""
    _skip_if_empty("events")
    engine.QUERIES["pipeline_partition_evolution"](spark, SF).collect()
    root = work_path(SF, "partition_evolution")
    d1, d2 = _pe_dirs(root, 1), _pe_dirs(root, 2)
    assert d1 and all(len(p) == 10 for p in d1)      # yyyy-MM-dd
    if d2:
        assert all(len(p) == 7 for p in d2)          # yyyy-MM
    assert _pe_read_spec(root, 1)["spec_id"] == 1
    if d2:
        assert _pe_read_spec(root, 2)["spec_id"] == 2
    # every v1 data file predates (or equals) the v2 commit's files:
    # nothing in v1 was rewritten when the spec evolved
    def newest(version):
        mt = 0.0
        base = os.path.join(root, "data", f"v={version}")
        for dirpath, _, names in os.walk(base):
            for n in names:
                if n.endswith(".parquet"):
                    mt = max(mt, os.stat(os.path.join(dirpath, n)).st_mtime)
        return mt

    if d2:
        assert newest(1) <= newest(2)


def test_file_metadata_lineage_matches_pandas(spark):
    _skip_if_empty("orders")
    got = (
        engine.QUERIES["s22_file_metadata_lineage"](spark, SF)
        .toPandas()
        .set_index("part_key")
        .sort_index()
    )
    raw = pd.read_parquet(f"{SF}/orders.parquet", columns=["o_orderstatus"])
    want = raw["o_orderstatus"].value_counts().sort_index()
    assert list(got.index) == list(want.index)
    assert list(got["n_rows"]) == list(want)
    # one task per partition dir -> dense row_index 0..n-1 in one file
    assert (got["row_index_span"] == got["n_rows"]).all()
    assert (got["n_files"] == 1).all()


# ---------------------------------------------------------------------------
# Commit-log checkpoint + compaction (pure protocol, no Spark)
# ---------------------------------------------------------------------------
from dock_financial_data_pipelines_spark.plans.pipeline import (  # noqa: E402
    _append_commit_log,
    _commit_cas,
    _commit_parent,
    _commit_ts,
    _committed_versions,
    _compact_log,
    _read_last_checkpoint,
    _resolve_asof_ts,
    _resolve_current,
    _write_log_checkpoint,
)


def _land(root, n, start=1):
    for v in range(start, start + n):
        assert _commit_cas(root, v - 1 if v > 1 else None, v)


def test_checkpoint_roundtrip_and_compaction(tmp_path):
    root = str(tmp_path / "t")
    os.makedirs(root)
    _land(root, 5)
    ts3 = _commit_ts(root, 3)
    parents = {v: _commit_parent(root, v) for v in range(1, 6)}

    assert _write_log_checkpoint(root) == 5
    n, entries = _read_last_checkpoint(root)
    assert n == 5 and set(entries) == {1, 2, 3, 4, 5}

    _land(root, 2, start=6)                     # tail beyond checkpoint
    assert _compact_log(root) == 5              # five files removed
    names = os.listdir(os.path.join(root, "log"))
    assert sorted(
        x for x in names if x.endswith(".commit")
    ) == ["v6.commit", "v7.commit"]

    # everything still resolves through checkpoint + tail
    assert _committed_versions(root) == [1, 2, 3, 4, 5, 6, 7]
    assert _resolve_current(root) == 7
    assert _commit_ts(root, 3) == ts3
    for v, p in parents.items():
        assert _commit_parent(root, v) == p
    assert _resolve_asof_ts(root, ts3) == 3


def test_compacted_version_number_stays_unrepeatable(tmp_path):
    root = str(tmp_path / "t")
    os.makedirs(root)
    _land(root, 3)
    _write_log_checkpoint(root)
    _compact_log(root)
    # the O_EXCL file is gone; the checkpoint belt must refuse anyway
    assert _append_commit_log(root, 2, 1) is False
    assert _commit_cas(root, _resolve_current(root), 2) is False
    # a FRESH number above the head still lands
    assert _commit_cas(root, 3, 4) is True


def test_compact_refuses_without_checkpoint(tmp_path):
    root = str(tmp_path / "t")
    os.makedirs(root)
    _land(root, 3)
    assert _compact_log(root) == 0
    assert _committed_versions(root) == [1, 2, 3]


def test_orphaned_checkpoint_file_is_invisible(tmp_path):
    """Crash between writing checkpoint.vN.json and swinging
    _last_checkpoint: readers must not see the orphan."""
    import json

    root = str(tmp_path / "t")
    os.makedirs(root)
    _land(root, 2)
    with open(
        os.path.join(root, "log", "checkpoint.v2.json"), "w"
    ) as fh:
        json.dump({"version": 2, "entries": [[1, -1, 10], [2, 1, 20]]}, fh)
    assert _read_last_checkpoint(root) == (None, {})
    assert _commit_ts(root, 9) == -1            # no phantom entries


def test_second_checkpoint_spans_compacted_history(tmp_path):
    """checkpoint -> compact -> more commits -> checkpoint again: the
    new checkpoint must carry the OLD checkpoint's entries too (it
    reads them through the fallback), so compacting twice never loses
    the head of history."""
    root = str(tmp_path / "t")
    os.makedirs(root)
    _land(root, 4)
    _write_log_checkpoint(root)
    _compact_log(root)
    _land(root, 3, start=5)
    assert _write_log_checkpoint(root) == 7
    _, entries = _read_last_checkpoint(root)
    assert set(entries) == {1, 2, 3, 4, 5, 6, 7}
    # only 5/6/7's files still exist — compaction counts real deletes
    assert _compact_log(root) == 3
    assert _committed_versions(root) == [1, 2, 3, 4, 5, 6, 7]
    assert _commit_parent(root, 5) == 4


def test_checkpoint_races_live_committers(tmp_path):
    """A checkpointer+compactor loop racing a committer thread must
    never lose an entry: entries <= N are immutable, so checkpoint(N)
    ∪ tail(>N) is the full log under ANY interleaving. The committer
    lands 40 sequential commits while the maintenance thread
    checkpoints and compacts as fast as it can; afterwards the log
    must resolve every version, the full parent chain, and CURRENT."""
    import threading

    root = str(tmp_path / "t")
    os.makedirs(root)
    stop = threading.Event()
    errs = []

    def maintain():
        try:
            while not stop.is_set():
                _write_log_checkpoint(root)
                _compact_log(root)
        except Exception as e:  # pragma: no cover - surfaced below
            errs.append(e)

    t = threading.Thread(target=maintain)
    t.start()
    try:
        _land(root, 40)
    finally:
        stop.set()
        t.join()
    assert not errs
    # one final maintenance pass, then full resolution
    _write_log_checkpoint(root)
    _compact_log(root)
    assert _committed_versions(root) == list(range(1, 41))
    assert _resolve_current(root) == 40
    chain = []
    cur = 40
    while cur != -1:
        chain.append(cur)
        cur = _commit_parent(root, cur)
    assert chain == list(range(40, 0, -1))
    # timestamps stay strictly monotone across the whole lineage
    tss = [_commit_ts(root, v) for v in range(1, 41)]
    assert all(b > a for a, b in zip(tss, tss[1:]))


# ---------------------------------------------------------------------------
# Tags + branches ref catalog (pure protocol, no Spark)
# ---------------------------------------------------------------------------
from dock_financial_data_pipelines_spark.plans.pipeline import (  # noqa: E402
    _create_tag,
    _delete_branch,
    _expire_unless_ref,
    _list_branches,
    _list_tags,
    _commit_pointer,
)


def test_tags_are_immutable_and_never_dangle(tmp_path):
    root = str(tmp_path / "t")
    os.makedirs(root)
    _land(root, 3)
    assert _create_tag(root, "rel", 2) is True
    assert _create_tag(root, "rel", 3) is False      # immutable
    assert _list_tags(root) == {"rel": 2}
    assert _create_tag(root, "oops", 9) is False     # not committed
    assert "oops" not in _list_tags(root)


def test_branch_listing_excludes_dirs_and_tmp(tmp_path):
    root = str(tmp_path / "t")
    os.makedirs(root)
    _land(root, 2)
    _commit_pointer(root, 1, "nightly")
    # an in-flight tmp file and the data/log dirs must not be refs
    with open(os.path.join(root, "stale.tmp"), "w") as fh:
        fh.write("1")
    b = _list_branches(root)
    assert b == {"CURRENT": 2, "nightly": 1}


def test_ref_aware_expiry_policy(tmp_path):
    root = str(tmp_path / "t")
    os.makedirs(root)
    # data dirs so _expire_snapshot has something to sweep
    for v in (1, 2, 3):
        os.makedirs(os.path.join(root, "data", f"v={v}"))
        assert _commit_cas(root, v - 1 if v > 1 else None, v)
    assert _create_tag(root, "keep", 1)
    _commit_pointer(root, 2, "wip")
    assert _expire_unless_ref(root, 1) is False      # tagged
    assert _expire_unless_ref(root, 2) is False      # branch head
    assert _delete_branch(root, "wip") is True
    assert _delete_branch(root, "wip") is False      # idempotent
    assert _expire_unless_ref(root, 2) is True       # freed
    assert not os.path.isdir(os.path.join(root, "data", "v=2"))
    # the tag still pins v1 forever
    assert _expire_unless_ref(root, 1) is False
    assert os.path.isdir(os.path.join(root, "data", "v=1"))
