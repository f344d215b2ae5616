"""Brute-force references for the round-11 batch, recomputed from raw
parquet with textbook plain-Python (no Spark, no DuckDB) so a defect
shared by both engines' twin implementations would still surface."""

from __future__ import annotations

import hashlib
import os

import pandas as pd
import pytest

import dock_financial_data_pipelines_spark as engine
from dock_financial_data_pipelines_spark.scratch import work_path

SF = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


def _run(spark, name: str) -> pd.DataFrame:
    return engine.QUERIES[name](spark, SF).toPandas()


def _skip_if_empty(table: str) -> None:
    import pyarrow.parquet as pq

    if pq.read_metadata(f"{SF}/{table}.parquet").num_rows == 0:
        pytest.skip(f"{table} empty: contract covered by the empty-fixture sweep")


def _md5_bucket(key) -> int:
    """The engine's md5-60bit idiom, replayed with hashlib: top 15 hex
    chars of md5(str(key)) as an integer."""
    return int(hashlib.md5(str(key).encode()).hexdigest()[:15], 16)


def test_s20_sampled_matches_plain_python_replay(spark):
    """Replay the sampled layout probe with explicit Python loops:
    hashlib sample selection, three explicit sorts, fixed-width group
    cutting, per-group min/max pruning — then compare every ratio."""
    _skip_if_empty("orders")
    from dock_financial_data_pipelines_spark.sources.readers import (
        _S20_CUST_HI,
        _S20_DATE_HI,
        _S20_DATE_LO,
        _S20S_MOD,
        _S20S_RG,
    )

    orders = pd.read_parquet(
        f"{SF}/orders.parquet",
        columns=["o_orderkey", "o_orderdate", "o_custkey"],
    )
    sample = orders[
        orders["o_orderkey"].map(lambda k: _md5_bucket(k) % _S20S_MOD == 0)
    ]
    got = _run(spark, "s20_sort_layout_advisor_sampled")
    if sample.empty:
        assert got.empty
        return
    lo = pd.Timestamp(_S20_DATE_LO)
    hi = pd.Timestamp(_S20_DATE_HI)
    layouts = {
        "a_insertion": ["o_orderkey"],
        "b_by_date": ["o_orderdate", "o_orderkey"],
        "c_by_cust_date": ["o_custkey", "o_orderdate", "o_orderkey"],
    }
    expected = {}
    for label, order_cols in layouts.items():
        laid = sample.sort_values(order_cols).reset_index(drop=True)
        n_groups = pruned = false_pos = rows_scanned = matching = 0
        for start in range(0, len(laid), _S20S_RG):
            g = laid.iloc[start : start + _S20S_RG]
            n_groups += 1
            hits = (
                (g["o_orderdate"] >= lo)
                & (g["o_orderdate"] < hi)
                & (g["o_custkey"] < _S20_CUST_HI)
            ).sum()
            if (
                g["o_orderdate"].max() < lo
                or g["o_orderdate"].min() >= hi
                or g["o_custkey"].min() >= _S20_CUST_HI
            ):
                pruned += 1
            else:
                rows_scanned += len(g)
                matching += int(hits)
                if hits == 0:
                    false_pos += 1
        expected[label] = {
            "n_rowgroups_sampled": n_groups,
            "rows_sampled": len(laid),
            "pruned_ratio": pruned / n_groups,
            "false_positive_ratio": false_pos / n_groups,
            "scan_ratio": rows_scanned / len(laid),
            "match_ratio": matching / len(laid),
        }
    assert sorted(got["layout"]) == sorted(expected)
    for _, row in got.iterrows():
        exp = expected[row["layout"]]
        for col, val in exp.items():
            assert row[col] == pytest.approx(val, abs=1e-12), (
                row["layout"],
                col,
            )


def test_s20_sampled_rows_and_match_rate_layout_invariant(spark):
    """Conservation: every layout sees the SAME sampled rows, so
    rows_sampled and match_ratio (matching rows / sampled rows) must be
    identical across layouts — only pruning/scan ratios may differ."""
    _skip_if_empty("orders")
    got = _run(spark, "s20_sort_layout_advisor_sampled")
    if got.empty:
        return
    assert got["rows_sampled"].nunique() == 1
    assert got["match_ratio"].nunique() == 1


def test_pairs2_is_exact_beyond_double_precision(spark):
    """The ADVICE-fix contract: C(n,2) stays exact where double
    division would drift. 2^53 has no exact double neighbors at odd
    offsets, so c = 2^27 + 3 makes c*(c-1) land beyond 2^53 where
    double arithmetic rounds; shiftright must still give the exact
    integer."""
    from pyspark.sql import functions as F

    from dock_financial_data_pipelines_spark.operators.dedup import _pairs2

    cases = [0, 1, 2, 3, (1 << 27) + 3, (1 << 31) + 7]
    df = spark.createDataFrame([(c,) for c in cases], "c long")
    got = {
        r["c"]: r["p"]
        for r in df.select("c", _pairs2("c").alias("p")).collect()
    }
    for c in cases:
        assert got[c] == c * (c - 1) // 2, c
        # and show the double path WOULD have drifted for the big ones
    big = (1 << 31) + 7
    assert int(big * (big - 1) / 2) != big * (big - 1) // 2


def test_model_quality_scorer_matches_plain_python(spark):
    """Replay the whole inference path — feature extraction, int64 dot
    product, fast-sigmoid link — with plain Python string ops and
    arithmetic (no regex engine, no numpy), then compare bit-for-bit."""
    _skip_if_empty("documents")
    from dock_financial_data_pipelines_spark.operators.training import (
        _MODEL_B,
        _MODEL_STOPS,
        _MODEL_W,
    )

    docs = pd.read_parquet(
        f"{SF}/documents.parquet", columns=["doc_id", "text"]
    )
    got = (
        _run(spark, "l_model_quality_scorer")
        .set_index("doc_id")
        .sort_index()
    )
    assert len(got) == len(docs)
    for _, d in docs.iterrows():
        text = d["text"]
        feats = {
            "n_tokens": len(text.split(" ")) if text != "" else 1,
            "n_chars": len(text),
            "n_digits": sum(ch.isdigit() and ch.isascii() for ch in text),
            "n_punct": sum(ch in ".,!?;:" for ch in text),
            "n_stop": sum(
                w in _MODEL_STOPS for w in text.split(" ")
            ),
        }
        logit = sum(_MODEL_W[k] * v for k, v in feats.items()) + _MODEL_B
        x = float(logit) / 1000000.0
        score = 0.5 + x / (2.0 * (1.0 + abs(x)))
        row = got.loc[d["doc_id"]]
        assert row["logit_micro"] == logit, (d["doc_id"], feats)
        assert row["score"] == score, d["doc_id"]  # bit-exact contract
        assert row["pred_keep"] == (1 if logit >= 0 else 0)


def test_shard_export_writer_readback_identity(spark):
    """Verify the written release artifact DIRECTLY with pyarrow (not
    through Spark): every source doc appears in exactly one shard file,
    each shard dir holds exactly one parquet file, shard k's docs are
    exactly those whose greedy-pack cumsum starts in [k*B, (k+1)*B),
    and the manifest the query returns matches a hashlib replay."""
    _skip_if_empty("documents")
    import glob

    import pyarrow.parquet as pq

    from dock_financial_data_pipelines_spark.sources.sinks import (
        _EXPORT_TOKEN_BUDGET,
    )

    manifest = _run(spark, "l_shard_export_writer")
    out = work_path(SF, "shard_export")
    docs = pd.read_parquet(f"{SF}/documents.parquet",
                           columns=["doc_id", "text"])
    # greedy-pack replay in plain python
    docs = docs.sort_values("doc_id").reset_index(drop=True)
    cum = 0
    expect: dict[int, list] = {}
    for _, d in docs.iterrows():
        tokens = len(d["text"].split(" "))
        shard = cum // _EXPORT_TOKEN_BUDGET
        expect.setdefault(shard, []).append((d["doc_id"], d["text"], tokens))
        cum += tokens
    shard_dirs = sorted(glob.glob(os.path.join(out, "shard=*")))
    assert len(shard_dirs) == len(expect)
    seen_ids = []
    for sd in shard_dirs:
        k = int(sd.rsplit("=", 1)[1])
        files = glob.glob(os.path.join(sd, "*.parquet"))
        assert len(files) == 1, f"shard {k}: expected ONE release file"
        tbl = pq.read_table(files[0]).to_pandas()
        exp = expect[k]
        assert sorted(tbl["doc_id"]) == sorted(i for i, _, _ in exp)
        seen_ids.extend(tbl["doc_id"].tolist())
        # manifest row replay with hashlib
        dgs = sorted(
            hashlib.md5(
                (str(i) + "#" + hashlib.md5(t.encode()).hexdigest()).encode()
            ).hexdigest()
            for i, t, _ in exp
        )
        row = manifest[manifest["shard"] == k].iloc[0]
        assert row["n_docs"] == len(exp)
        assert row["n_tokens"] == sum(tk for _, _, tk in exp)
        assert row["n_bytes"] == sum(len(t.encode()) for _, t, _ in exp)
        assert row["digest"] == hashlib.md5(
            ",".join(dgs).encode()
        ).hexdigest()
    assert sorted(seen_ids) == sorted(docs["doc_id"])


def test_shard_export_token_budget_respected(spark):
    """Every shard except possibly the last STARTS under its budget
    boundary, so n_tokens < budget + max single-doc tokens (greedy-pack
    overshoot bound)."""
    _skip_if_empty("documents")
    from dock_financial_data_pipelines_spark.sources.sinks import (
        _EXPORT_TOKEN_BUDGET,
    )

    manifest = _run(spark, "l_shard_export_writer")
    docs = pd.read_parquet(f"{SF}/documents.parquet", columns=["text"])
    max_doc = max(len(t.split(" ")) for t in docs["text"])
    assert (manifest["n_tokens"] < _EXPORT_TOKEN_BUDGET + max_doc).all()


def test_bpe_train_multistep_matches_textbook_trainer(spark):
    """Textbook BPE trainer in plain Python (dict of word tuples,
    explicit greedy left-to-right merge application, max() with
    lexicographic tiebreak) — the classic Sennrich et al. reference
    loop — must produce the same K merges, pair counts, and token
    totals as the distributed island-parity implementation."""
    _skip_if_empty("documents")
    from dock_financial_data_pipelines_spark.operators.text import _BPE_K

    docs = pd.read_parquet(f"{SF}/documents.parquet", columns=["text"])
    vocab: dict[tuple, int] = {}
    for t in docs["text"]:
        for w in t.split(" "):
            if w:
                key = tuple(w)
                vocab[key] = vocab.get(key, 0) + 1
    expected = []
    for step in range(1, _BPE_K + 1):
        counts: dict[tuple, int] = {}
        for syms, cnt in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + cnt
        if not counts:
            break
        # max count, then lexicographically smallest pair
        best = min(counts, key=lambda p: (-counts[p], p[0], p[1]))
        new_vocab: dict[tuple, int] = {}
        for syms, cnt in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and (syms[i], syms[i + 1]) == best
                ):
                    out.append(syms[i] + syms[i + 1])
                    i += 2  # left-greedy: consume both
                else:
                    out.append(syms[i])
                    i += 1
            k = tuple(out)
            new_vocab[k] = new_vocab.get(k, 0) + cnt
        vocab = new_vocab
        tokens_after = sum(len(s) * c for s, c in vocab.items())
        expected.append(
            {
                "step": step,
                "merge_left": best[0],
                "merge_right": best[1],
                "pair_count": counts[best],
                "tokens_after": tokens_after,
            }
        )
    got = _run(spark, "l_bpe_train_multistep").sort_values("step")
    assert len(got) == len(expected)
    for row, exp in zip(got.to_dict("records"), expected):
        for col, val in exp.items():
            assert row[col] == val, (exp["step"], col, row, exp)


def test_bpe_encode_stats_matches_textbook_encoder(spark):
    """Train K merges with the textbook loop, ENCODE every word by
    applying the merges in learned order (greedy left-to-right scans),
    then recompute the per-language stats table in plain Python."""
    _skip_if_empty("documents")
    from dock_financial_data_pipelines_spark.operators.text import _BPE_K

    docs = pd.read_parquet(f"{SF}/documents.parquet",
                           columns=["lang", "text"])
    vocab: dict[tuple, int] = {}
    for t in docs["text"]:
        for w in t.split(" "):
            if w:
                key = tuple(w)
                vocab[key] = vocab.get(key, 0) + 1
    merges = []
    cur = dict(vocab)
    for _ in range(_BPE_K):
        counts: dict[tuple, int] = {}
        for syms, cnt in cur.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + cnt
        if not counts:
            break
        best = min(counts, key=lambda p: (-counts[p], p[0], p[1]))
        merges.append(best)
        nxt: dict[tuple, int] = {}
        for syms, cnt in cur.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nxt[tuple(out)] = nxt.get(tuple(out), 0) + cnt
        cur = nxt

    def encode(word: str) -> int:
        syms = list(word)
        for a, b in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    stats: dict[str, dict] = {}
    seen_words: dict[str, set] = {}
    for _, d in docs.iterrows():
        lang = d["lang"]
        s = stats.setdefault(
            lang, {"inst": 0, "chars": 0, "tokens": 0}
        )
        sw = seen_words.setdefault(lang, set())
        for w in d["text"].split(" "):
            if not w:
                continue
            s["inst"] += 1
            s["chars"] += len(w)
            s["tokens"] += encode(w)
            sw.add(w)
    got = _run(spark, "l_bpe_encode_stats").set_index("lang")
    assert sorted(got.index) == sorted(stats)
    for lang, s in stats.items():
        row = got.loc[lang]
        assert row["n_word_instances"] == s["inst"]
        assert row["n_distinct_words"] == len(seen_words[lang])
        assert row["n_chars"] == s["chars"]
        assert row["n_bpe_tokens"] == s["tokens"], lang
        assert row["fertility"] == s["tokens"] / s["inst"]
        assert row["chars_per_token"] == s["chars"] / s["tokens"]


def test_release_pipeline_funnel_matches_plain_python(spark):
    """Replay the whole release funnel in plain Python: feature logit,
    gate, first-seen dedup by exact text, greedy token pack — and
    compare every stage row."""
    _skip_if_empty("documents")
    from dock_financial_data_pipelines_spark.operators.training import (
        _MODEL_B,
        _MODEL_STOPS,
        _MODEL_W,
    )
    from dock_financial_data_pipelines_spark.sources.sinks import (
        _EXPORT_TOKEN_BUDGET,
    )

    docs = (
        pd.read_parquet(f"{SF}/documents.parquet",
                        columns=["doc_id", "text"])
        .sort_values("doc_id")
        .reset_index(drop=True)
    )

    def logit(text: str) -> int:
        toks = text.split(" ")
        feats = {
            "n_tokens": len(toks),
            "n_chars": len(text),
            "n_digits": sum(c.isdigit() and c.isascii() for c in text),
            "n_punct": sum(c in ".,!?;:" for c in text),
            "n_stop": sum(w in _MODEL_STOPS for w in toks),
        }
        return sum(_MODEL_W[k] * v for k, v in feats.items()) + _MODEL_B

    tok = {r["doc_id"]: len(r["text"].split(" "))
           for _, r in docs.iterrows()}
    raw = (len(docs), sum(tok.values()))
    gated = [r for _, r in docs.iterrows() if logit(r["text"]) >= 0]
    seen, deduped = set(), []
    for r in gated:  # doc_id order: first occurrence survives
        if r["text"] not in seen:
            seen.add(r["text"])
            deduped.append(r)
    cum, shards = 0, set()
    for r in deduped:
        shards.add(cum // _EXPORT_TOKEN_BUDGET)
        cum += tok[r["doc_id"]]
    got = (
        _run(spark, "pipeline_training_data_release")
        .set_index("stage_ord")
        .sort_index()
    )
    assert list(got["stage"]) == [
        "raw", "model_gate", "exact_dedup", "packed_export",
    ]
    assert (got.loc[0, "n_docs"], got.loc[0, "n_tokens"]) == raw
    assert got.loc[1, "n_docs"] == len(gated)
    assert got.loc[1, "n_tokens"] == sum(tok[r["doc_id"]] for r in gated)
    assert got.loc[2, "n_docs"] == len(deduped)
    assert got.loc[3, "n_docs"] == len(deduped)  # pack drops nothing
    assert got.loc[3, "n_tokens"] == got.loc[2, "n_tokens"]
    assert got.loc[3, "n_shards"] == len(shards)
    # monotone funnel
    assert (
        got.loc[0, "n_docs"] >= got.loc[1, "n_docs"] >= got.loc[2, "n_docs"]
    )


def test_release_gate_agrees_with_model_scorer(spark):
    """Cross-operator consistency: the funnel's model_gate doc count
    must equal the standalone scorer's sum(pred_keep) — two plans
    measuring the same quantity must agree exactly."""
    _skip_if_empty("documents")
    funnel = _run(spark, "pipeline_training_data_release")
    scorer = _run(spark, "l_model_quality_scorer")
    gate = funnel.loc[funnel["stage"] == "model_gate", "n_docs"].iloc[0]
    assert gate == scorer["pred_keep"].sum()


def test_stream_scoring_agrees_with_batch_scorer(spark):
    """Batch/stream parity: the streaming micro-batch scorer (x20) and
    the batch scorer must agree exactly per language — same model, same
    weights, inference is row-local so batching cannot move a score."""
    _skip_if_empty("documents")
    docs = pd.read_parquet(f"{SF}/documents.parquet",
                           columns=["doc_id", "lang"])
    batch = _run(spark, "l_model_quality_scorer").merge(
        docs, on="doc_id"
    )
    stream = _run(spark, "x20_stream_model_scoring").set_index("lang")
    grouped = batch.groupby("lang").agg(
        n_docs=("doc_id", "count"),
        n_keep=("pred_keep", "sum"),
        sum_logit_micro=("logit_micro", "sum"),
    )
    assert sorted(stream.index) == sorted(grouped.index)
    for lang, row in grouped.iterrows():
        srow = stream.loc[lang]
        assert srow["n_docs"] == row["n_docs"]
        assert srow["n_keep"] == row["n_keep"]
        assert srow["sum_logit_micro"] == row["sum_logit_micro"]


def test_incremental_release_matches_plain_python(spark):
    """Replay the incremental publish in plain Python: pack the even
    half (the existing release), gate the odd half with the model,
    drop batch docs whose digest already exists in the release,
    keep-first within the batch, verify every funnel row AND that the
    on-disk combined artifact is the disjoint union."""
    _skip_if_empty("documents")
    import glob

    from dock_financial_data_pipelines_spark.operators.training import (
        _MODEL_B,
        _MODEL_STOPS,
        _MODEL_W,
    )
    from dock_financial_data_pipelines_spark.sources.sinks import (
        _EXPORT_TOKEN_BUDGET,
    )

    docs = (
        pd.read_parquet(f"{SF}/documents.parquet",
                        columns=["doc_id", "text"])
        .sort_values("doc_id")
        .reset_index(drop=True)
    )

    def logit(text: str) -> int:
        toks = text.split(" ")
        feats = {
            "n_tokens": len(toks),
            "n_chars": len(text),
            "n_digits": sum(c.isdigit() and c.isascii() for c in text),
            "n_punct": sum(c in ".,!?;:" for c in text),
            "n_stop": sum(w in _MODEL_STOPS for w in toks),
        }
        return sum(_MODEL_W[k] * v for k, v in feats.items()) + _MODEL_B

    tokens = {r["doc_id"]: len(r["text"].split(" "))
              for _, r in docs.iterrows()}
    base = docs[docs["doc_id"] % 2 == 0]
    batch = docs[docs["doc_id"] % 2 == 1]
    cum, base_shards = 0, set()
    base_dgs = set()
    for _, r in base.iterrows():
        base_shards.add(cum // _EXPORT_TOKEN_BUDGET)
        cum += tokens[r["doc_id"]]
        base_dgs.add(hashlib.md5(r["text"].encode()).hexdigest())
    gated = [r for _, r in batch.iterrows() if logit(r["text"]) >= 0]
    nodup = [
        r for r in gated
        if hashlib.md5(r["text"].encode()).hexdigest() not in base_dgs
    ]
    seen, bdedup = set(), []
    for r in nodup:
        dg = hashlib.md5(r["text"].encode()).hexdigest()
        if dg not in seen:
            seen.add(dg)
            bdedup.append(r)
    cum2, incr_shards = 0, set()
    for r in bdedup:
        incr_shards.add(cum2 // _EXPORT_TOKEN_BUDGET)
        cum2 += tokens[r["doc_id"]]

    got = (
        _run(spark, "pipeline_incremental_release")
        .set_index("stage_ord")
        .sort_index()
    )
    assert got.loc[0, "n_docs"] == len(base)
    assert got.loc[0, "n_shards"] == len(base_shards)
    assert got.loc[1, "n_docs"] == len(batch)
    assert got.loc[2, "n_docs"] == len(gated)
    assert got.loc[3, "n_docs"] == len(nodup)
    assert got.loc[4, "n_docs"] == len(bdedup)
    assert got.loc[5, "n_docs"] == len(base) + len(bdedup)
    exp_shards = len(base_shards) + (len(incr_shards) if bdedup else 0)
    assert got.loc[5, "n_shards"] == exp_shards
    # on-disk artifact: doc sets are disjoint and complete
    out = work_path(SF, "incr_release")
    files = glob.glob(os.path.join(out, "shard=*", "*.parquet"))
    assert files
    disk = pd.concat(pd.read_parquet(f) for f in files)
    assert sorted(disk["doc_id"]) == sorted(
        list(base["doc_id"]) + [r["doc_id"] for r in bdedup]
    )


def test_bpe_trainer_and_encoder_agree_on_corpus_tokens(spark):
    """Cross-operator consistency (two plans, one quantity): the
    trainer's tokens_after at the LAST executed merge must equal the
    encoder's corpus-wide n_bpe_tokens sum — the former comes from the
    round-K symbol-table aggregate, the latter from the per-word
    dictionary join back to (lang, word) frequencies."""
    _skip_if_empty("documents")
    steps = _run(spark, "l_bpe_train_multistep")
    enc = _run(spark, "l_bpe_encode_stats")
    if steps.empty:
        # no pair ever existed (e.g. all 1-char words): encoder must
        # still report the trivial 1-symbol-per-char tokenization
        docs = pd.read_parquet(f"{SF}/documents.parquet",
                               columns=["text"])
        n_chars = sum(
            len(w) for t in docs["text"] for w in t.split(" ") if w
        )
        assert enc["n_bpe_tokens"].sum() == n_chars
        return
    last = steps.sort_values("step").iloc[-1]
    assert enc["n_bpe_tokens"].sum() == last["tokens_after"]


def test_incremental_release_conserves_tokens(spark):
    """Conservation: combined-release tokens == base tokens + the
    incremental survivors' tokens (stage 0 + stage 4) — the append can
    neither lose nor duplicate a token."""
    _skip_if_empty("documents")
    got = (
        _run(spark, "pipeline_incremental_release")
        .set_index("stage_ord")
    )
    assert (
        got.loc[5, "n_tokens"]
        == got.loc[0, "n_tokens"] + got.loc[4, "n_tokens"]
    )
    assert got.loc[5, "n_docs"] == got.loc[0, "n_docs"] + got.loc[4, "n_docs"]


def test_sampled_layout_advisor_picks_same_winner_as_exact(spark):
    """The production claim behind the sampled advisor: the DECISION
    (which write-time sort layout to pay for) transfers from the 1%
    sample to the full table. Compare the per-layout ranking by pruning
    effectiveness between the exact and sampled probes — the argmax
    must match whenever the sampled probe has enough groups to rank
    (the layouts differ coarsely: date-sorted prunes most of a
    one-year predicate, insertion order prunes ~nothing)."""
    _skip_if_empty("orders")
    exact = _run(spark, "s20_sort_layout_advisor")
    sampled = _run(spark, "s20_sort_layout_advisor_sampled")
    if sampled.empty or exact.empty:
        return
    if (sampled["n_rowgroups_sampled"] < 5).any():
        return  # too few synthetic groups to rank meaningfully
    exact = exact.set_index("layout")
    exact_rate = exact["groups_pruned"] / exact["n_rowgroups"]
    samp_rate = sampled.set_index("layout")["pruned_ratio"]
    assert exact_rate.idxmax() == samp_rate.idxmax()


def test_stream_gated_ingest_agrees_with_release_funnel(spark):
    """Cross-operator consistency: the streaming gate (x21) must route
    exactly the docs the batch release funnel keeps — keep-side docs ==
    funnel model_gate stage; keep+reject == raw corpus."""
    _skip_if_empty("documents")
    gated = _run(spark, "x21_stream_gated_ingest").set_index("side")
    funnel = (
        _run(spark, "pipeline_training_data_release")
        .set_index("stage")
    )
    keep_docs = gated.loc["keep", "n_docs"] if "keep" in gated.index else 0
    rej_docs = (
        gated.loc["reject", "n_docs"] if "reject" in gated.index else 0
    )
    assert keep_docs == funnel.loc["model_gate", "n_docs"]
    assert keep_docs + rej_docs == funnel.loc["raw", "n_docs"]
    if "keep" in gated.index:
        assert gated.loc["keep", "n_tokens"] == funnel.loc[
            "model_gate", "n_tokens"
        ]


def test_scorer_agreement_audit_cells_partition_the_corpus(spark):
    """The 2x2 agreement matrix must partition the corpus exactly, its
    model-side margins must match the standalone scorer, and a plain
    Python replay of both verdicts must reproduce every cell."""
    _skip_if_empty("documents")
    from dock_financial_data_pipelines_spark.operators.training import (
        _HEUR_KEEP_THRESHOLD,
        _MODEL_B,
        _MODEL_STOPS,
        _MODEL_W,
    )

    docs = pd.read_parquet(f"{SF}/documents.parquet",
                           columns=["doc_id", "text"])
    got = _run(spark, "l_scorer_agreement_audit")
    assert got["n_docs"].sum() == len(docs)
    scorer = _run(spark, "l_model_quality_scorer")
    assert (
        got.loc[got["model_keep"] == 1, "n_docs"].sum()
        == scorer["pred_keep"].sum()
    )
    cells: dict[tuple, list] = {}
    for _, d in docs.iterrows():
        text = d["text"]
        toks = text.split(" ")
        nt = len(toks)
        feats = {
            "n_tokens": nt,
            "n_chars": len(text),
            "n_digits": sum(c.isdigit() and c.isascii() for c in text),
            "n_punct": sum(c in ".,!?;:" for c in text),
            "n_stop": sum(w in _MODEL_STOPS for w in toks),
        }
        logit = sum(_MODEL_W[k] * v for k, v in feats.items()) + _MODEL_B
        nd = len(set(toks))
        q = (
            0.4 * (nd / nt)
            + 0.3 * (1.0 - feats["n_stop"] / nt)
            + 0.3 * min(nt / 100.0, 1.0)
        )
        key = (
            1 if logit >= 0 else 0,
            1 if q >= _HEUR_KEEP_THRESHOLD else 0,
        )
        cells.setdefault(key, [0, 0])
        cells[key][0] += 1
        cells[key][1] += nt
    assert len(got) == len(cells)
    for _, row in got.iterrows():
        exp = cells[(row["model_keep"], row["heuristic_keep"])]
        assert row["n_docs"] == exp[0]
        assert row["n_tokens"] == exp[1]
