"""The token rule and the quality scores, each spelled once per dialect.

``shingles.tokens`` / ``tokens_sql`` and ``training.quality_features`` /
``quality_features_sql`` / ``heuristic_quality(_sql)`` must agree across
Spark, DuckDB and the model's numpy UDF, on the fixture and on hostile
texts; and no other spelling of them may come back into the package."""

from __future__ import annotations

import ast
import io
import os
import re
import tokenize

import duckdb
import pandas as pd
import pytest

import dock_financial_data_pipelines_spark as engine
from dock_financial_data_pipelines_spark.operators.training import (
    _MODEL_STOPS,
    heuristic_quality,
    heuristic_quality_sql,
    model_score_frame,
    quality_features,
    quality_features_sql,
)
from dock_financial_data_pipelines_spark.shingles import tokens, tokens_sql

PKG = os.path.dirname(os.path.abspath(engine.__file__))

HOSTILE = [
    "",
    None,
    " ",
    "  ",
    "a  b",
    " lead",
    "trail ",
    " both  ends ",
    "tab\there",
    "naïve café – 東京 😀",
    "the of and to in a",
    "1, 2; 3! is it on for?",
]


def _documents(out_dir, texts) -> str:
    """A ``documents`` table of ``texts`` in ``out_dir``; its path."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    pd.DataFrame(
        {"doc_id": range(len(texts)), "text": texts, "lang": "en"}
    ).to_parquet(path, index=False)
    return path


@pytest.fixture(params=["fixture", "hostile"])
def docs_path(request, sf_dir, tmp_path) -> str:
    if request.param == "fixture":
        return os.path.join(sf_dir, "documents.parquet")
    return _documents(tmp_path, HOSTILE)


def _duck(path: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    return con


def _by_doc(pdf: pd.DataFrame, col: str) -> dict:
    """doc_id -> token list; a NULL array (None, or NaN from DuckDB) is None."""
    return {
        int(d): None if v is None or isinstance(v, float) else list(v)
        for d, v in zip(pdf["doc_id"], pdf[col])
    }


def test_tokens_agree_across_dialects(spark, docs_path):
    docs = spark.read.parquet(docs_path)
    got = _by_doc(docs.select("doc_id", tokens().alias("ws")).toPandas(), "ws")
    sql = _by_doc(
        docs.selectExpr("doc_id", f"{tokens_sql('spark')} AS ws").toPandas(),
        "ws",
    )
    oracle = _by_doc(
        _duck(docs_path)
        .execute(f"SELECT doc_id, {tokens_sql('duckdb')} AS ws FROM documents")
        .df(),
        "ws",
    )
    assert got == sql == oracle


def test_token_rule_on_hostile_texts(spark, tmp_path):
    path = _documents(tmp_path, HOSTILE)
    got = _by_doc(
        spark.read.parquet(path).select("doc_id", tokens().alias("ws"))
        .toPandas(),
        "ws",
    )
    assert got == {
        i: None if t is None else t.split(" ") for i, t in enumerate(HOSTILE)
    }


def test_tokens_sql_rejects_unknown_dialect():
    with pytest.raises(ValueError, match="dialect"):
        tokens_sql("postgres")


def _non_null(path: str, tmp_path) -> str:
    """The model's UDF takes no NULL feature: score the non-NULL texts."""
    texts = pd.read_parquet(path, columns=["text"])["text"].dropna()
    return _documents(tmp_path / "non_null", list(texts))


def test_quality_scores_agree_across_forms(spark, docs_path, tmp_path):
    path = _non_null(docs_path, tmp_path)
    docs = spark.read.parquet(path)
    spark_pdf = (
        quality_features(docs, "doc_id")
        .select(
            "doc_id",
            "logit_micro",
            heuristic_quality().alias("quality"),
        )
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    udf_pdf = (
        model_score_frame(docs)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    duck_pdf = (
        _duck(path)
        .execute(
            f"SELECT doc_id, logit_micro, {heuristic_quality_sql()} AS quality"
            f" FROM {quality_features_sql('doc_id')}"
        )
        .df()
        .set_index("doc_id")
        .sort_index()
    )
    assert len(spark_pdf) == len(udf_pdf) == len(duck_pdf) > 0
    assert spark_pdf["logit_micro"].tolist() == duck_pdf["logit_micro"].tolist()
    assert spark_pdf["logit_micro"].tolist() == udf_pdf["logit_micro"].tolist()
    # Same IEEE operations in the same order: equal bits, not close.
    assert spark_pdf["quality"].tolist() == duck_pdf["quality"].tolist()


def test_quality_score_counts_the_six_stopwords(spark, tmp_path):
    """l_quality_score counts the six model stopwords on the Spark side as
    its oracle does: "is", "it", "on" and "for" are words here, not
    stopwords."""
    texts = [
        "the cat is on the mat",
        "it is for the data and the query",
        "on is it for",
        "a row of the table is in the batch",
        "spark stream on window for the run",
        "the",
        "is",
    ]
    path = _documents(tmp_path, texts)
    got = (
        engine.QUERIES["l_quality_score"](spark, str(tmp_path))
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    oracle = (
        _duck(path)
        .execute(engine.ORACLES["l_quality_score"])
        .df()
        .set_index("doc_id")
        .sort_index()
    )
    want = [
        round(sum(w in _MODEL_STOPS for w in t.split(" ")) / len(t.split(" ")), 6)
        for t in texts
    ]
    assert oracle["stopword_ratio"].tolist() == want
    assert got["stopword_ratio"].tolist() == want
    assert got["quality"].tolist() == oracle["quality"].tolist()


def test_null_text_scores_null(spark, tmp_path):
    """A NULL text has NULL features: the model scores it NULL and does
    not keep it, on the UDF side as in its oracle."""
    from tests._compare import compare_frames

    path = _documents(tmp_path, ["the cat sat", None, "a b c d e", "x"])
    for name in ("l_model_quality_scorer", "l_scorer_drift_monitor"):
        got = engine.QUERIES[name](spark, str(tmp_path)).toPandas()
        want = _duck(path).execute(engine.ORACLES[name]).df()
        compare_frames(got, want, name)
    scored = (
        engine.QUERIES["l_model_quality_scorer"](spark, str(tmp_path))
        .toPandas()
        .set_index("doc_id")
    )
    assert pd.isna(scored.loc[1, "logit_micro"])
    assert pd.isna(scored.loc[1, "score"])
    assert scored.loc[1, "pred_keep"] == 0
    assert scored.drop(index=1)["logit_micro"].notna().all()


# --- the guard -------------------------------------------------------------
# Splits that make a different decision than the token rule: characters,
# sentences, the order priority's "-" and the U+FFFD count.
_OTHER_SPLITS = {
    'F.split("w", "")',
    'F.split("text", "[.!?]+")',
    'F.split(F.col("text"), "�", -1)',
    'F.split("o_orderpriority", "-")',
    "split(w,'')",
    "string_split(w, '')",
    "string_split(text, chr(65533))",
    "string_split(o_orderpriority, '-')",
}
# The model's weights and intercept as an oracle would spell them.
_WEIGHT_LITERALS = re.compile(
    r"\b1800\s*\*|\b120000\b|\b900\s*\*|\b420\s*\*|\b260\s*\*"
)
_SIX = ("the", "a", "of", "and", "to", "in")


def _package_files():
    for root, _, files in os.walk(PKG):
        for f in sorted(files):
            if f.endswith(".py"):
                yield os.path.join(root, f)


def _calls(text: str, pattern: str):
    """Each call ``pattern(...)`` in ``text``, up to its closing paren."""
    for m in re.finditer(pattern, text):
        depth, i = 0, m.end() - 1
        while i < len(text):
            depth += {"(": 1, ")": -1}.get(text[i], 0)
            if depth == 0:
                break
            i += 1
        yield text[m.start(): i + 1]


def _strings(src: str):
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.STRING:
            yield tok.string


def test_no_other_token_rule_in_the_package():
    found = []
    for path in _package_files():
        if path.endswith("shingles.py"):
            continue
        src = open(path, encoding="utf-8").read()
        rel = os.path.relpath(path, PKG)
        found += [(rel, c) for c in _calls(src, r"\bF\.split\(")]
        for s in _strings(src):
            found += [(rel, c) for c in _calls(s, r"(?<![\w.])split\(")]
            found += [(rel, c) for c in _calls(s, r"(?<![\w.])string_split\(")]
    stray = [(rel, c) for rel, c in found if c not in _OTHER_SPLITS]
    assert not stray, stray


def test_quality_model_read_only_by_its_three_forms():
    path = os.path.join(PKG, "operators", "training.py")
    tree = ast.parse(open(path, encoding="utf-8").read())
    readers = set()
    for top in tree.body:
        for node in ast.walk(top):
            if (
                isinstance(node, ast.Name)
                and node.id in ("_MODEL_W", "_MODEL_B", "_MODEL_STOPS")
                and isinstance(node.ctx, ast.Load)
            ):
                readers.add(getattr(top, "name", "<module>"))
    assert readers == {
        "quality_features",
        "quality_features_sql",
        "model_score_frame",
    }
    six = 0
    for file in _package_files():
        src = open(file, encoding="utf-8").read()
        rel = os.path.relpath(file, PKG)
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.Tuple) and all(
                isinstance(e, ast.Constant) for e in node.elts
            ):
                six += tuple(e.value for e in node.elts) == _SIX
        if rel == os.path.join("operators", "training.py"):
            continue
        assert "_MODEL_" not in src, rel
        assert not _WEIGHT_LITERALS.search(src), rel
        for s in _strings(src):
            assert "'the','a','of','and','to','in'" not in s.replace(" ", ""), rel
    assert six == 1
