"""The snapshot tables' one manifest builder (``_build_manifest`` in
plans/pipeline.py): its committer form and its Spark form give the same
rows and dtypes for every manifest the engine writes, on hostile data,
and no other code builds or writes a manifest."""

from __future__ import annotations

import ast
import os

import pytest

from dock_financial_data_pipelines_spark.plans import pipeline as pl
from dock_financial_data_pipelines_spark.sources.sinks import (
    write_partitioned,
)

pytestmark = pytest.mark.usefixtures("spark")

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "dock_financial_data_pipelines_spark",
)

# doc_id, tokens, dg, shard: NULL tokens and doc_ids, a shard whose
# tokens and doc_ids are all NULL, negative shards (Java remainder
# parts -1 and -3)
_REL = [
    (1, 10, "a", 0),
    (2, 20, "b", 0),
    (3, None, "c", 1),
    (None, 9, "d", 1),
    (None, None, "e", 2),
    (4, 7, "f", -3),
    (5, 8, "g", -5),
]
# the zorder table: cb/tb cluster keys, a shard whose cb is all NULL
_ZC = [
    (1, 10, "a", 3, 200, 0),
    (2, 20, "b", 70, 100, 0),
    (3, None, "c", None, 5, 1),
    (4, 7, "d", 10, None, -2),
]
# the partition-evolution table: non-ASCII days, a dir whose days are
# all NULL
_PE = [
    (1, 10, "1998-01-01", "1998-01-01"),
    (2, 11, "1998-01-0é", "1998-01-01"),
    (3, 12, "1998-01-0ÿ", "1998-01"),
    (4, 13, "1998-01-01", "1998-01"),
    (5, 14, None, "1998-02"),
    (6, 15, "日本", "1998-02-x"),
]

# name -> (data DDL, manifest DDL, aggregates, hive key?, parts)
MANIFESTS = {
    "shard": (pl._REL_SCHEMA_DDL, pl._MANIFEST_DDL, pl._SHARD_AGGS, False, 4),
    "pruned": (pl._REL_SCHEMA_DDL, pl._PRUNE_MAN_DDL, pl._PRUNE_AGGS, True,
               None),
    "zorder": (pl._ZC_DDL, pl._ZC_MAN_DDL, pl._ZC_AGGS, True, None),
    "pe": (pl._PE_DDL, pl._PE_MAN_DDL, pl._PE_AGGS, True, None),
}
SAMPLES = {"shard": _REL, "pruned": _REL, "zorder": _ZC, "pe": _PE}


def _stage(spark, tmp_path, name, rows):
    data_ddl, man_ddl, _aggs, hive, _parts = MANIFESTS[name]
    key = man_ddl.split()[0]
    data_dir = str(tmp_path / "data")
    df = spark.createDataFrame(rows, data_ddl)
    if hive:
        write_partitioned(df.repartition(key), data_dir, key)
    else:
        df.repartition(key).write.mode("overwrite").parquet(data_dir)
    return data_dir, spark.read.schema(data_ddl).parquet(data_dir)


def _both(spark, tmp_path, monkeypatch, name, rows):
    """The builder's rows and written manifest, committer form then
    Spark form: ``(rows, read-back rows, dtypes, part dirs)`` each."""
    _data_ddl, man_ddl, aggs, hive, parts = MANIFESTS[name]
    data_dir, staged = _stage(spark, tmp_path, name, rows)
    out = []
    for form in ("committer", "spark"):
        man_dir = str(tmp_path / f"man_{form}")
        with monkeypatch.context() as m:
            if form == "spark":
                m.setattr(pl, "_manifest_local", lambda *a: None)
            got = pl._build_manifest(
                staged, data_dir, man_dir, man_ddl, aggs, hive, parts
            )
        written = any(files for _, _, files in os.walk(man_dir))
        back = spark.read.parquet(man_dir) if written else None
        out.append(
            (
                [[(k, type(v), v) for k, v in r.items()] for r in got],
                sorted(map(tuple, back.collect()), key=repr) if back else [],
                back.dtypes if back else None,
                sorted(n for n in os.listdir(man_dir) if "=" in n),
            )
        )
    return data_dir, out


@pytest.mark.parametrize("name", sorted(MANIFESTS))
def test_committer_and_spark_forms_agree(spark, tmp_path, monkeypatch, name):
    _data_ddl, man_ddl, aggs, hive, _parts = MANIFESTS[name]
    data_dir, (committer, fallback) = _both(
        spark, tmp_path, monkeypatch, name, SAMPLES[name]
    )
    # the committer form really ran on this sample
    assert pl._manifest_local(data_dir, man_ddl, aggs, hive) is not None
    assert committer == fallback
    assert len(committer[0]) == len({r[-1] for r in SAMPLES[name]})
    # DDL types, not inferred ones
    want = [(c.split()[0], c.split()[1]) for c in man_ddl.split(",")]
    assert [
        (n, t) for n, t in committer[2] if n != "part"
    ] == [(n, {"long": "bigint"}.get(t, t)) for n, t in want]


def test_shard_manifest_values(spark, tmp_path, monkeypatch):
    from dock_financial_data_pipelines_spark.hashing import h60_py

    _data_dir, (committer, _spark) = _both(
        spark, tmp_path, monkeypatch, "shard", _REL
    )
    rows = {r[0][2]: {k: v for k, _t, v in r} for r in committer[0]}
    assert rows[0]["n_tokens"] == 30
    assert rows[0]["digest"] == h60_py(b"1:10") ^ h60_py(b"2:20")
    assert rows[1] == {"shard": 1, "n_docs": 2, "n_tokens": 9,
                       "digest": 0, "part": 1}
    assert rows[2]["n_tokens"] == 0 and rows[2]["digest"] == 0
    assert (rows[-3]["part"], rows[-5]["part"]) == (-3, -1)
    assert committer[3] == ["part=-1", "part=-3", "part=0", "part=1",
                            "part=2"]


@pytest.mark.parametrize("name", sorted(MANIFESTS))
def test_zero_rows(spark, tmp_path, monkeypatch, name):
    _data_dir, (committer, fallback) = _both(
        spark, tmp_path, monkeypatch, name, []
    )
    assert committer == fallback
    assert committer[0] == committer[1] == committer[3] == []


@pytest.mark.parametrize(
    "p", ["__HIVE_DEFAULT_PARTITION__", "1998:01", "a%b"]
)
def test_unparsable_hive_key_falls_back(spark, tmp_path, monkeypatch, p):
    """A NULL p and a p Spark %-escapes in its dir name: the committer
    declines, and the builder's rows are the Spark form's."""
    value = None if p.startswith("__") else p
    rows = [(1, 10, "1998-01-01", "1998-01"), (2, 11, None, value)]
    data_dir, (built, fallback) = _both(
        spark, tmp_path, monkeypatch, "pe", rows
    )
    assert any("%" in n or "DEFAULT" in n for n in os.listdir(data_dir))
    _d, man_ddl, aggs, hive, _p = MANIFESTS["pe"]
    assert pl._manifest_local(data_dir, man_ddl, aggs, hive) is None
    assert built == fallback
    assert [r[0][2] for r in built[0]] == sorted(
        ["1998-01", value], key=lambda v: (v is not None, v)
    )


def test_null_stored_key_falls_back(spark, tmp_path, monkeypatch):
    rows = [(1, 10, "a", 0), (2, 5, "b", None)]
    data_dir, (built, fallback) = _both(
        spark, tmp_path, monkeypatch, "shard", rows
    )
    _d, man_ddl, aggs, hive, _p = MANIFESTS["shard"]
    assert pl._manifest_local(data_dir, man_ddl, aggs, hive) is None
    assert built == fallback
    assert built[3] == ["part=0", "part=__HIVE_DEFAULT_PARTITION__"]


# --- the guard -------------------------------------------------------------
# The one builder of every manifest, and the bloom index, a bit matrix
# rather than per-key stats, which writes its own.
_WRITERS = {"write_rows_pyarrow", "write_metadata_parquet"}
_ALLOWED = {
    "_build_manifest", "_manifest_frame", "pipeline_manifest_bloom_skipping"
}


def _functions(tree):
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef):
            yield node


def _calls(node, names):
    return [
        n.lineno
        for n in ast.walk(node)
        if isinstance(n, ast.Call)
        and getattr(n.func, "id", getattr(n.func, "attr", None)) in names
    ]


def _is_manifest_dir(node) -> bool:
    return any(
        isinstance(n, ast.Constant) and n.value == "manifest"
        for n in ast.walk(node)
    )


def test_no_manifest_is_built_outside_the_builder():
    hits = []
    for dirpath, _, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py") or name == "sinks.py":
                continue
            path = os.path.join(dirpath, name)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            for fn in _functions(tree):
                if fn.name in _ALLOWED:
                    continue
                # a manifest writer, or a groupBy in a function that
                # names a manifest dir or is named for one
                lines = _calls(fn, _WRITERS)
                if "manifest" in fn.name or _is_manifest_dir(fn):
                    lines += _calls(fn, {"groupBy"})
                hits += [f"{name}:{fn.name}:{n}" for n in lines]
    assert sorted(set(hits)) == []
    # the allowed functions are real: the guard watches live names
    with open(os.path.join(PKG, "plans", "pipeline.py")) as fh:
        names = {fn.name for fn in _functions(ast.parse(fh.read()))}
    assert _ALLOWED <= names
