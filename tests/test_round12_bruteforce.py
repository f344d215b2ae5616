"""Brute-force references for the round-12 batch, recomputed from raw
parquet with textbook plain-Python (no Spark, no DuckDB) so a defect
shared by both engines' twin implementations would still surface."""

from __future__ import annotations

import hashlib
import math
import os

import pandas as pd
import pytest

import dock_financial_data_pipelines_spark as engine

SF = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


def _run(spark, name: str) -> pd.DataFrame:
    return engine.QUERIES[name](spark, SF).toPandas()


def _skip_if_empty(table: str) -> None:
    import pyarrow.parquet as pq

    if pq.read_metadata(f"{SF}/{table}.parquet").num_rows == 0:
        pytest.skip(f"{table} empty: contract covered by the empty-fixture sweep")


# ---------------------------------------------------------------------------
# PNG codec
# ---------------------------------------------------------------------------
def test_png_codec_roundtrips_every_filter_type():
    """The decoder must invert all five PNG scanline filters, not just
    the two our encoder emits: build filtered streams by hand for each
    type and check the recovered pixels."""
    import struct
    import zlib

    from dock_financial_data_pipelines_spark.operators.multimodal import (
        _PNG_SIG,
        _png_chunk,
        _png_decode,
        _png_encode,
    )

    # Our encoder (Sub/Up alternating) round-trips arbitrary payloads.
    for payload in (
        b"",
        b"a",
        b"hello png world",
        bytes(range(256)) * 5,
        "héllo wörld \U0001f389 テスト".encode(),
    ):
        w, h, px = _png_decode(_png_encode(payload))
        assert px[: len(payload)] == payload
        assert all(b == 0 for b in px[len(payload):])
        assert w * h == len(px)

    # Hand-built single-row images, one per filter type, with the
    # filtered bytes computed by the textbook definitions.
    width = 8
    rows = [bytes([10, 20, 30, 40, 50, 60, 70, 80]),
            bytes([5, 15, 25, 35, 45, 55, 65, 75])]

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    for ftype in range(5):
        raw = bytearray()
        prior = bytes(width)
        for row in rows:
            raw.append(ftype)
            for i in range(width):
                left = row[i - 1] if i else 0
                up = prior[i]
                ul = prior[i - 1] if i else 0
                pred = {
                    0: 0,
                    1: left,
                    2: up,
                    3: (left + up) // 2,
                    4: paeth(left, up, ul),
                }[ftype]
                raw.append((row[i] - pred) & 0xFF)
            prior = row
        ihdr = struct.pack(">IIBBBBB", width, len(rows), 8, 0, 0, 0, 0)
        png = (
            _PNG_SIG
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _png_chunk(b"IEND", b"")
        )
        w, h, px = _png_decode(png)
        assert (w, h) == (width, len(rows)), ftype
        assert px == b"".join(rows), f"filter {ftype} mis-decoded"


def test_png_codec_rejects_corruption():
    from dock_financial_data_pipelines_spark.operators.multimodal import (
        _png_decode,
        _png_encode,
    )

    good = _png_encode(b"payload bytes here")
    with pytest.raises(ValueError):
        _png_decode(b"NOTAPNG" + good)
    flipped = bytearray(good)
    flipped[40] ^= 0xFF  # inside a chunk payload -> CRC must catch it
    with pytest.raises(ValueError):
        _png_decode(bytes(flipped))


def test_png_decode_audit_matches_plain_python(spark):
    """Per-language stats recomputed with hashlib over the raw text
    bytes; every decoded md5 must equal the source md5."""
    _skip_if_empty("documents")
    docs = pd.read_parquet(f"{SF}/documents.parquet",
                           columns=["lang", "text"])
    got = _run(spark, "l7_png_decode_audit").set_index("lang")
    exp: dict[str, list[int]] = {}
    for lang, text in zip(docs["lang"], docs["text"]):
        raw = text.encode("utf-8")
        n = len(raw)
        padded = max(1, -(-n // 16)) * 16
        e = exp.setdefault(lang, [0, 0, 0])
        e[0] += 1
        e[1] += n
        e[2] += padded
    assert set(got.index) == set(exp)
    for lang, (n_assets, pixel_bytes, padded_bytes) in exp.items():
        row = got.loc[lang]
        assert row["n_assets"] == n_assets
        assert row["pixel_bytes"] == pixel_bytes
        assert row["padded_bytes"] == padded_bytes
        assert row["md5_matches"] == n_assets, "a decode lost pixels"


def test_phash_decoded_matches_all_pairs_bruteforce(spark):
    """O(n^2) all-pairs reference: 60-bit md5 of every document's full
    utf-8 bytes, every pair with Hamming <= 3 — the banded join must
    find exactly these (pigeonhole guarantees no pair is lost)."""
    _skip_if_empty("documents")
    docs = pd.read_parquet(f"{SF}/documents.parquet",
                           columns=["doc_id", "text"])
    hs = {
        int(d): int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
        for d, t in zip(docs["doc_id"], docs["text"])
    }
    ids = sorted(hs)
    expected = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            ham = bin(hs[a] ^ hs[b]).count("1")
            if ham <= 3:
                expected.add((a, b, ham))
    got = _run(spark, "l7_phash_decoded_neardup")
    got_set = {
        (int(r.asset_a), int(r.asset_b), int(r.hamming))
        for r in got.itertuples()
    }
    assert got_set == expected


# ---------------------------------------------------------------------------
# BPE convergence
# ---------------------------------------------------------------------------
def test_bpe_converged_matches_textbook_with_early_stop(spark):
    """Textbook trainer (the Sennrich reference loop) with the K=16
    budget and the pair-count >= 2 convergence floor."""
    _skip_if_empty("documents")
    from dock_financial_data_pipelines_spark.operators.text import (
        _BPE_CONV_K,
    )

    docs = pd.read_parquet(f"{SF}/documents.parquet", columns=["text"])
    vocab: dict[tuple, int] = {}
    for t in docs["text"]:
        for w in t.split(" "):
            if w:
                key = tuple(w)
                vocab[key] = vocab.get(key, 0) + 1
    expected = []
    for step in range(1, _BPE_CONV_K + 1):
        counts: dict[tuple, int] = {}
        for syms, cnt in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + cnt
        if not counts:
            break
        best = min(counts, key=lambda p: (-counts[p], p[0], p[1]))
        if counts[best] < 2:
            break
        new_vocab: dict[tuple, int] = {}
        for syms, cnt in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            k = tuple(out)
            new_vocab[k] = new_vocab.get(k, 0) + cnt
        vocab = new_vocab
        expected.append(
            {
                "step": step,
                "merge_left": best[0],
                "merge_right": best[1],
                "pair_count": counts[best],
                "tokens_after": sum(len(s) * c for s, c in vocab.items()),
            }
        )
    got = _run(spark, "l_bpe_train_converged").sort_values("step")
    assert len(got) == len(expected)
    for row, exp in zip(got.to_dict("records"), expected):
        for col, val in exp.items():
            assert row[col] == val, (exp["step"], col, row, exp)


def test_bpe_converged_extends_the_k8_trainer(spark):
    """Cross-operator consistency: the convergence floor never changes
    WHICH merge a round picks (only whether a round runs), so the two
    trainers must agree step-for-step on their common prefix."""
    _skip_if_empty("documents")
    k8 = _run(spark, "l_bpe_train_multistep").sort_values("step")
    k16 = _run(spark, "l_bpe_train_converged").sort_values("step")
    k8 = k8[k8["pair_count"] >= 2]  # rounds the floor would skip
    n = min(len(k8), len(k16))
    common = ["step", "merge_left", "merge_right", "pair_count",
              "tokens_after"]
    pd.testing.assert_frame_equal(
        k8.head(n)[common].reset_index(drop=True),
        k16.head(n)[common].reset_index(drop=True),
    )


# ---------------------------------------------------------------------------
# Mixture waterfilling
# ---------------------------------------------------------------------------
def test_mixture_schedule_matches_greedy_waterfill(spark):
    """Reference waterfill by direct search: g(L) = sum min(A_s, L) is
    monotone, so binary-search the largest L with g(L) <= B and check
    every per-source allocation column."""
    _skip_if_empty("documents")
    docs = pd.read_parquet(f"{SF}/documents.parquet",
                           columns=["source", "text"])
    avail: dict[str, int] = {}
    for s, t in zip(docs["source"], docs["text"]):
        avail[s] = avail.get(s, 0) + len(t.split(" "))
    total = sum(avail.values())
    budget = total // 2

    def g(level: int) -> int:
        return sum(min(a, level) for a in avail.values())

    if g(max(avail.values())) <= budget:
        level = max(avail.values())
    else:
        lo, hi = 0, max(avail.values())
        while lo < hi:  # largest L with g(L) <= B
            mid = (lo + hi + 1) // 2
            if g(mid) <= budget:
                lo = mid
            else:
                hi = mid - 1
        level = lo

    got = _run(spark, "l_mixture_epoch_schedule").set_index("source")
    assert set(got.index) == set(avail)
    for s, a in avail.items():
        row = got.loc[s]
        alloc = min(a, level)
        assert row["avail_tokens"] == a
        assert row["per_epoch_alloc"] == alloc, (s, level)
        assert bool(row["is_capped"]) == (a > level)
        assert row["coverage_ppm"] == (alloc * 1000000 // a if a else 0)
        assert row["epochs_to_cover"] == (
            (a + alloc - 1) // alloc if alloc else 0
        )
    # the schedule never overspends the epoch budget
    assert got["per_epoch_alloc"].sum() <= budget or level == max(
        avail.values()
    )


# ---------------------------------------------------------------------------
# Scorer drift monitor
# ---------------------------------------------------------------------------
def test_scorer_drift_monitor_matches_plain_python(spark):
    """Replay the quantized model + decile bucketing + Laplace PSI in
    plain Python (math.log); counts and shares must match exactly,
    PSI terms to the DECIMAL(27,9) quantum."""
    _skip_if_empty("documents")
    from dock_financial_data_pipelines_spark.operators.training import (
        _MODEL_B,
        _MODEL_STOPS,
        _MODEL_W,
    )

    docs = pd.read_parquet(f"{SF}/documents.parquet",
                           columns=["doc_id", "text"])
    counts = {b: [0, 0] for b in range(10)}
    for d, t in zip(docs["doc_id"], docs["text"]):
        toks = t.split(" ")
        logit = (
            _MODEL_W["n_tokens"] * len(toks)
            + _MODEL_W["n_chars"] * len(t)
            + _MODEL_W["n_digits"] * sum(c.isdigit() for c in t)
            + _MODEL_W["n_punct"] * sum(c in ".,!?;:" for c in t)
            + _MODEL_W["n_stop"] * sum(w in _MODEL_STOPS for w in toks)
            + _MODEL_B
        )
        x = logit / 1000000.0
        score = 0.5 + x / (2.0 * (1.0 + abs(x)))
        counts[int(score * 10)][int(d) % 2] += 1
    t_ref = sum(v[0] for v in counts.values())
    t_cur = sum(v[1] for v in counts.values())
    got = _run(spark, "l_scorer_drift_monitor").set_index("bucket")
    assert list(got.index) == list(range(10))
    psi_total = 0.0
    for b in range(10):
        sr = (counts[b][0] + 1.0) / (t_ref + 10)
        sc = (counts[b][1] + 1.0) / (t_cur + 10)
        term = (sr - sc) * math.log(sr / sc)
        psi_total += term
        row = got.loc[b]
        assert row["n_ref"] == counts[b][0]
        assert row["n_cur"] == counts[b][1]
        assert row["share_ref"] == math.floor(sr * 1e6 + 0.5) / 1e6
        assert row["share_cur"] == math.floor(sc * 1e6 + 0.5) / 1e6
        assert abs(row["psi_term"] - term) < 1e-9
    assert abs(got["psi_total"].iloc[0] - psi_total) < 1e-8
    verdict = (
        "stable" if psi_total < 0.1 - 1e-9
        else ("moderate" if psi_total < 0.25 - 1e-9 else "drift")
    )
    assert (got["verdict"] == verdict).all() or abs(
        psi_total - 0.1
    ) < 1e-9 or abs(psi_total - 0.25) < 1e-9


# ---------------------------------------------------------------------------
# Atomic publish protocol
# ---------------------------------------------------------------------------
def test_atomic_publish_crash_is_invisible(spark):
    got = _run(spark, "pipeline_atomic_publish").set_index("stage")
    v1 = got.loc["v1_manifest"]
    vis = got.loc["visible_after_crash"]
    # the reader's view after the crashed v2 writer is EXACTLY v1
    for col in ("n_docs", "n_tokens", "n_shards"):
        assert vis[col] == v1[col], col
    # manifest reconciles with the visible data, shard for shard
    audit = got.loc["manifest_audit"]
    assert audit["n_docs"] == 0, "manifest/data mismatch shards"
    assert audit["n_shards"] == v1["n_shards"]
    # the crashed writer staged at most one shard
    assert got.loc["v2_staged_partial"]["n_shards"] <= 1


def test_atomic_publish_pointer_swap_is_atomic(spark, tmp_path):
    """Drive the protocol primitives directly: stage two versions,
    crash one, and check the reader resolves only committed state."""
    from dock_financial_data_pipelines_spark.plans.pipeline import (
        _commit_pointer,
        _resolve_current,
    )

    root = str(tmp_path)
    assert _resolve_current(root) is None  # nothing committed yet
    _commit_pointer(root, 1)
    assert _resolve_current(root) == 1
    _commit_pointer(root, 2)
    assert _resolve_current(root) == 2
    _commit_pointer(root, 1)  # rollback is the same primitive
    assert _resolve_current(root) == 1
    assert not os.path.exists(os.path.join(root, "CURRENT.tmp"))


def test_release_rollback_restores_v1_exactly(spark):
    got = _run(spark, "pipeline_release_rollback").set_index("stage")
    for col in ("n_docs", "n_tokens", "n_shards"):
        assert (
            got.loc["visible_after_rollback"][col]
            == got.loc["v1_published"][col]
        ), col
        assert (
            got.loc["visible_before_rollback"][col]
            == got.loc["v2_published"][col]
        ), col
    assert got.loc["retained_versions"]["n_docs"] == 2


def test_release_diff_matches_pandas_manifest_diff(spark):
    """Replay both packings + the manifest diff in pandas/hashlib."""
    _skip_if_empty("documents")
    from dock_financial_data_pipelines_spark.sources.sinks import (
        _EXPORT_TOKEN_BUDGET,
    )

    docs = pd.read_parquet(f"{SF}/documents.parquet",
                           columns=["doc_id", "text"]).sort_values("doc_id")

    def manifest(parity: int) -> dict[int, tuple[int, int, int]]:
        half = docs[docs["doc_id"] % 2 == parity]
        out: dict[int, list[int]] = {}
        cum = 0
        for d, t in zip(half["doc_id"], half["text"]):
            tokens = len(t.split(" "))
            shard = cum // _EXPORT_TOKEN_BUDGET
            cum += tokens
            dig = int(
                hashlib.md5(f"{d}:{tokens}".encode()).hexdigest()[:15], 16
            )
            e = out.setdefault(shard, [0, 0, 0])
            e[0] += 1
            e[1] += tokens
            e[2] ^= dig
        return {k: tuple(v) for k, v in out.items()}

    m1, m2 = manifest(0), manifest(1)
    exp: dict[str, list[int]] = {}
    for shard in sorted(set(m1) | set(m2)):
        a, b = m1.get(shard), m2.get(shard)
        status = (
            "added" if a is None
            else "removed" if b is None
            else "unchanged" if a == b
            else "changed"
        )
        e = exp.setdefault(status, [0, 0, 0, 0, 0])
        e[0] += 1
        e[1] += a[0] if a else 0
        e[2] += b[0] if b else 0
        e[3] += a[1] if a else 0
        e[4] += b[1] if b else 0
    got = _run(spark, "pipeline_release_diff").set_index("status")
    assert set(got.index) == set(exp)
    for status, (n, d1, d2, t1, t2) in exp.items():
        row = got.loc[status]
        assert row["n_shards"] == n
        assert row["docs_v1"] == d1
        assert row["docs_v2"] == d2
        assert row["tokens_delta"] == t2 - t1


# ---------------------------------------------------------------------------
# x22 stream-stream full outer
# ---------------------------------------------------------------------------
def test_x22_full_outer_matches_bruteforce(spark):
    """Nested-loop full-outer reference over the raw events table."""
    _skip_if_empty("events")
    ev = pd.read_parquet(f"{SF}/events.parquet",
                         columns=["event_id", "user_id", "event_type", "ts"])
    purchases = ev[ev["event_type"] == "purchase"]
    clicks = ev[ev["event_type"] == "click"]
    win = pd.Timedelta(minutes=30)
    expected = set()
    matched_p, matched_c = set(), set()
    for p in purchases.itertuples():
        for c in clicks[clicks["user_id"] == p.user_id].itertuples():
            if p.ts - win <= c.ts <= p.ts:
                expected.add(
                    (p.event_id, c.event_id, p.user_id,
                     int(p.ts.timestamp()), int(c.ts.timestamp()))
                )
                matched_p.add(p.event_id)
                matched_c.add(c.event_id)
    for p in purchases.itertuples():
        if p.event_id not in matched_p:
            expected.add(
                (p.event_id, None, p.user_id, int(p.ts.timestamp()), None)
            )
    for c in clicks.itertuples():
        if c.event_id not in matched_c:
            expected.add(
                (None, c.event_id, c.user_id, None, int(c.ts.timestamp()))
            )
    got = _run(spark, "x22_stream_stream_full_outer")

    def norm(v):
        return None if pd.isna(v) else int(v)

    got_set = {
        (norm(r.purchase_id), norm(r.click_id), int(r.user_id),
         norm(r.purchase_epoch), norm(r.click_epoch))
        for r in got.itertuples()
    }
    assert got_set == expected


# ---------------------------------------------------------------------------
# Round-12 continuation: plain-Python references for the algorithm-twin
# oracles added this session (bloom bit matrix, Morton interleave) —
# these are exactly the cases where a defect shared by the Spark query
# and its DuckDB twin would otherwise hide.
# ---------------------------------------------------------------------------
def _py_hexdec(h: str) -> int:
    return int(h, 16)


def _py_bloom_pos(j: int, doc_id: int, bits: int) -> int:
    return (
        _py_hexdec(hashlib.md5(f"{j}:{doc_id}".encode()).hexdigest()[:15])
        % bits
    )


def test_bloom_bit_matrix_matches_plain_python(spark):
    from dock_financial_data_pipelines_spark.plans.pipeline import (
        _BLM_BITS,
        _BLM_K,
        _BLM_SHARDS,
        _BLM_WORD,
    )
    from pyspark.sql import functions as F
    from dock_financial_data_pipelines_spark.plans.pipeline import (
        _blm_pos,
        _blm_shard,
    )

    doc_ids = [0, 1, 7, 42, 101, 500, 9999, 123456]
    df = spark.createDataFrame([(d,) for d in doc_ids], "doc_id long")

    # shard assignment twin
    got_shard = {
        r.doc_id: r.s
        for r in df.select(
            "doc_id",
            F.expr(_blm_shard("spark")).alias("s"),
        ).collect()
    }
    for d in doc_ids:
        exp = (
            _py_hexdec(hashlib.md5(f"s:{d}".encode()).hexdigest()[:8])
            % _BLM_SHARDS
        )
        assert got_shard[d] == exp, d

    # bloom word/bit twin: build the full bit matrix both ways
    posed = df.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.expr(_blm_pos(j, "spark")).cast("long")
                    for j in range(_BLM_K)
                ]
            )
        ).alias("pos"),
    )
    got = (
        posed.select(
            F.expr(f"pos div {_BLM_WORD}").alias("word"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), "
                f"CAST(pmod(pos, {_BLM_WORD}) AS INT))"
            ).alias("mask"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(mask)").alias("bits"))
        .toPandas()
        .set_index("word")["bits"]
        .to_dict()
    )
    exp_words: dict = {}
    for d in doc_ids:
        for j in range(_BLM_K):
            pos = _py_bloom_pos(j, d, _BLM_BITS)
            exp_words[pos // _BLM_WORD] = exp_words.get(
                pos // _BLM_WORD, 0
            ) | (1 << (pos % _BLM_WORD))
    assert got == exp_words


def test_morton_interleave_matches_plain_python():
    import duckdb

    from dock_financial_data_pipelines_spark.sources.readers import (
        _S21_BITS,
        _s21_interleave_sql,
    )

    def py_morton(cb: int, db: int) -> int:
        z = 0
        for j in range(_S21_BITS):
            z |= ((cb >> j) & 1) << (2 * j + 1)
            z |= ((db >> j) & 1) << (2 * j)
        return z

    con = duckdb.connect()
    expr = _s21_interleave_sql("cb", "db").replace(" IDIV ", " // ")
    cases = [(0, 0), (1, 0), (0, 1), (255, 255), (170, 85), (3, 200)]
    for cb, db in cases:
        got = con.execute(
            f"SELECT {expr} FROM (SELECT {cb} AS cb, {db} AS db)"
        ).fetchone()[0]
        assert got == py_morton(cb, db), (cb, db)
    # locality sanity: adjacent cells in either axis stay within the
    # 4-cell Morton block (the property pruning relies on)
    assert py_morton(2, 2) // 4 == py_morton(3, 3) // 4


def test_zorder_pruning_is_sound_bruteforce(spark):
    """Min/max pruning soundness: every shard that CONTAINS a matching
    row must survive the census' hit predicate, for BOTH layouts, on a
    small synthetic frame (the invariant the query's census rows rely
    on; checked here without either engine's SQL)."""
    from dock_financial_data_pipelines_spark.plans.pipeline import (
        _ZC_BOX_CB,
        _ZC_BOX_TB,
    )

    import random

    rng = random.Random(7)
    rows = [
        (i, rng.randrange(256), rng.randrange(256)) for i in range(400)
    ]
    for order_key in (
        lambda r: r[1],
        lambda r: r[2],
    ):
        laid = sorted(rows, key=lambda r: (order_key(r), r[0]))
        shards = [laid[i : i + 50] for i in range(0, len(laid), 50)]
        for shard in shards:
            has_match = any(
                cb < _ZC_BOX_CB and tb >= _ZC_BOX_TB for _, cb, tb in shard
            )
            survives = min(cb for _, cb, _t in shard) < _ZC_BOX_CB and max(
                tb for _, _c, tb in shard
            ) >= _ZC_BOX_TB
            if has_match:
                assert survives
