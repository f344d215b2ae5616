"""shingles.word_shingles against the interpreted lambda it replaced.

The reference is the ``transform(sequence(0, greatest(size(ws) - k, 0)),
i -> concat_ws(' ', slice(ws, i + 1, k)))`` expression the operators
exploded before, kept here only as the reference. Both must give the
same rows — shingle and position — for k = 3 (the dedup and text
operators) and k = 8 (l_substring_span_pairs's positional index)."""

from __future__ import annotations

import pytest
from conftest import SF_SMOKE
from pyspark.sql import functions as F

from dock_financial_data_pipelines_spark.catalog import load
from dock_financial_data_pipelines_spark.shingles import word_shingles


def _lambda_shingles(df, k: int):
    arr = F.expr(
        f"transform(sequence(0, greatest(size(ws) - {k}, 0)),"
        f" i -> concat_ws(' ', slice(ws, i + 1, {k})))"
    )
    return df.select("doc_id", F.split("text", " ").alias("ws")).select(
        "doc_id", F.posexplode(arr).alias("i", "shingle")
    )


def _edge_texts(k: int) -> list:
    words = [f"w{j}" for j in range(k + 2)]
    return [
        None,
        "",
        "one",
        "one two",
        " ".join(words[: k - 1]),
        " ".join(words[:k]),
        " ".join(words[: k + 1]),
        "a  b   c d  ",
        " lead and trail ",
        "naïve café 数据 ßtraße ёж 🙂 x",
    ]


def _rows(df):
    return sorted(
        (r["doc_id"], r["i"], r["shingle"]) for r in df.collect()
    )


@pytest.mark.parametrize("k", [3, 8])
def test_word_shingles_equal_the_lambda_on_edge_texts(spark, k):
    texts = _edge_texts(k)
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    want = _rows(_lambda_shingles(df, k))
    got = _rows(word_shingles(df, k, "doc_id", pos="i"))
    assert got == want
    # a NULL text is one '' shingle; a text shorter than k tokens is one
    # shingle of all its tokens
    assert (0, 0, "") in got and (2, 0, "one") in got
    plain = word_shingles(df, k, "doc_id")
    assert plain.columns == ["doc_id", "shingle"]
    assert sorted(plain.collect()) == sorted(
        (d, s) for d, _, s in want
    )


@pytest.mark.parametrize("k", [3, 8])
def test_word_shingles_equal_the_lambda_on_documents(spark, k):
    docs = load(spark, SF_SMOKE, "documents")
    ref = _lambda_shingles(docs, k)
    got = word_shingles(docs, k, "doc_id", pos="i")
    assert [f.dataType for f in got.schema] == [f.dataType for f in ref.schema]
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0
    assert got.count() == ref.count() > 0


def test_word_shingles_keep_columns_and_rename(spark):
    df = spark.createDataFrame(
        [("s0", "a b c d"), ("s1", "e f")], "source string, text string"
    )
    got = word_shingles(df, 3, "source", out="s")
    assert got.columns == ["source", "s"]
    assert sorted(map(tuple, got.collect())) == [
        ("s0", "a b c"), ("s0", "b c d"), ("s1", "e f")
    ]
