"""The snapshot protocol's census rows, version paths and table schemas
each have one owner in plans/pipeline.py: the census builders
(``_census``, ``_census_rows`` and the ``_snap_stat`` preset), the path
helper ``_version_dir`` and the DDL strings. These tests pin what the
builders return and that no other module spells the same decision."""

from __future__ import annotations

import ast
import os
import re

import pytest
from pyspark.sql import functions as F

from dock_financial_data_pipelines_spark.plans.pipeline import (
    _MANIFEST_DDL,
    _REL_SCHEMA_DDL,
    _SNAP_DDL,
    _census,
    _census_rows,
    _snap_const_row,
    _snap_stat,
    _value_census,
    _version_dir,
)
from dock_financial_data_pipelines_spark.sources.sinks import pa_fields

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "dock_financial_data_pipelines_spark",
)
SNAP_DTYPES = [
    ("stage_ord", "int"),
    ("stage", "string"),
    ("n_docs", "bigint"),
    ("n_tokens", "bigint"),
    ("n_shards", "bigint"),
]
DIGEST_DTYPES = SNAP_DTYPES + [("digest", "bigint")]


def _rel(spark, rows):
    return spark.createDataFrame(rows, _REL_SCHEMA_DDL)


@pytest.mark.parametrize(
    "rows, want",
    [
        ([], (0, 0, 0, 0)),
        # NULL token counts: summed and digested as nothing, so zeros
        ([(1, None, "a", 0), (2, None, "b", 1)], (2, 0, 2, 0)),
    ],
    ids=["empty", "all_null_tokens"],
)
def test_snap_stat_gives_zeros_and_exact_dtypes(spark, rows, want):
    row = _snap_stat(_rel(spark, rows), 3, "s", digest=True)
    assert row.dtypes == DIGEST_DTYPES
    assert [tuple(r) for r in row.collect()] == [(3, "s", *want)]
    plain = _snap_stat(_rel(spark, rows), 3, "s")
    assert plain.dtypes == SNAP_DTYPES
    assert [tuple(r) for r in plain.collect()] == [(3, "s", *want[:3])]


def test_snap_stat_measures_replace_drop_and_append_in_order(spark):
    df = _rel(spark, [(1, 5, "a", 0), (2, 7, "b", 0), (3, None, "c", 1)])
    keys = _snap_stat(df, 1, "keys", n_tokens=0, n_shards=0, digest=0)
    assert keys.dtypes == DIGEST_DTYPES
    assert tuple(keys.first()) == (1, "keys", 3, 0, 0, 0)
    no_shards = _snap_stat(df, 2, "docs", n_shards=None)
    assert no_shards.dtypes == SNAP_DTYPES[:4]
    assert tuple(no_shards.first()) == (2, "docs", 3, 12)
    extra = _snap_stat(df, 4, "x", n_docs=F.max("doc_id"), n_max_tok=9)
    assert extra.dtypes == SNAP_DTYPES + [("n_max_tok", "bigint")]
    assert tuple(extra.first()) == (4, "x", 3, 12, 2, 9)


def test_census_keeps_column_types_and_widens_int_literals(spark):
    df = _rel(spark, [])
    row = _census(
        df, 0, "probe",
        resolved=F.lit(-1).cast("int"),
        n_docs=F.count(F.lit(1)),
        n_cols=len(df.columns),
    )
    assert row.dtypes == [
        ("stage_ord", "int"),
        ("stage", "string"),
        ("resolved", "int"),
        ("n_docs", "bigint"),
        ("n_cols", "bigint"),
    ]
    assert tuple(row.first()) == (0, "probe", -1, 0, 4)


def test_constant_census_rows_are_typed_by_their_ddl(spark):
    snap = _snap_const_row(spark, 4, "log", 3, 2)
    assert snap.dtypes == SNAP_DTYPES
    assert tuple(snap.first()) == (4, "log", 3, 0, 2)
    day = _census_rows(spark, [(0, "published", "2024-01-01", 7)],
                       "day string, value long")
    assert day.dtypes == [
        ("stage_ord", "int"), ("stage", "string"),
        ("day", "string"), ("value", "bigint"),
    ]
    value = _value_census(spark, [(0, "a", True), (1, "b", 5)])
    assert value.dtypes == [
        ("stage_ord", "int"), ("stage", "string"), ("value", "bigint"),
    ]
    assert [tuple(r) for r in value.collect()] == [(0, "a", 1), (1, "b", 5)]
    assert _census_rows(spark, [], _SNAP_DDL).dtypes == SNAP_DTYPES


def test_version_dir_and_pa_fields():
    assert _version_dir("/t", 3) == os.path.join("/t", "data", "v=3")
    assert _version_dir("/t", 3, "manifest") == os.path.join(
        "/t", "manifest", "v=3"
    )
    fields = pa_fields(_MANIFEST_DDL)
    assert [(f.name, str(f.type)) for f in fields] == [
        ("shard", "int64"), ("n_docs", "int64"),
        ("n_tokens", "int64"), ("digest", "int64"),
    ]
    assert [str(f.type) for f in pa_fields("a int, b string")] == [
        "int32", "string",
    ]
    assert pa_fields("a bigint, b double, c boolean") is not None
    assert pa_fields("a long, b array<int>") is None


# (pattern, the one function allowed to contain it, or None for nowhere)
_OWNED = [
    (r'alias\("stage_ord"\)', "_census"),
    (r'"stage_ord int, stage string', "_census_rows"),
    (r'f["\']v=\{[^}]*\}["\']', "_version_dir"),
    (r'["\'](?:data|manifest|dv)["\'],\s*f?["\']v=', None),
    (r"\b_(?:rel_schema|manifest_schema|manifest_pa_fields)\b", None),
]


def _sources():
    for sub in ("plans", "streaming"):
        d = os.path.join(PKG, sub)
        for name in sorted(os.listdir(d)):
            if name.endswith(".py"):
                yield os.path.join(d, name)


def _function_spans(tree) -> dict:
    return {
        node.name: (node.lineno, node.end_lineno)
        for node in tree.body
        if isinstance(node, ast.FunctionDef)
    }


@pytest.mark.parametrize("pattern, owner", _OWNED)
def test_census_paths_and_schemas_have_one_owner(pattern, owner):
    hits = []
    owner_hits = 0
    for path in _sources():
        with open(path) as fh:
            src = fh.read()
        spans = _function_spans(ast.parse(src))
        for m in re.finditer(pattern, src):
            line = src.count("\n", 0, m.start()) + 1
            lo, hi = spans.get(owner, (0, -1))
            if path.endswith("pipeline.py") and lo <= line <= hi:
                owner_hits += 1
            else:
                hits.append(f"{os.path.relpath(path, PKG)}:{line}")
    assert hits == [], f"{pattern!r} spelled outside {owner}: {hits}"
    if owner is not None:
        assert owner_hits == 1
