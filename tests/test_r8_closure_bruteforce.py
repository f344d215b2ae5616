"""Brute-force references for the last round-8 registrations without
one (dispersion, Brown-Forsythe, reorder point, Ulcer index,
tokens-per-char, Unicode audit, centroid drift, the MinHash S-curve
planner, the wrapper-pair containment audit, intercompany elimination,
keyset pagination). With this module every round-8 registration has an
independent plain-Python reference alongside its SQL twin oracle."""

from __future__ import annotations

import hashlib
import math
import os
import re
from collections import defaultdict

import numpy as np
import pandas as pd

import dock_financial_data_pipelines_spark as engine

# Respect the harness fixture override so the hostile-fixture sweeps
# (adversarial/minimal/empty, other SFs) drive these references too.
SF = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


def _run(spark, name: str) -> pd.DataFrame:
    return engine.QUERIES[name](spark, SF).toPandas()


def _skip_if_empty(table: str) -> None:
    """The empty-input contracts are oracle-checked (check_all on the
    empty fixture + tests/test_degenerate_fixtures.py); a brute-force
    reference adds nothing there, so skip rather than re-derive every
    empty shape."""
    import pyarrow.parquet as pq
    import pytest

    if pq.read_metadata(f"{SF}/{table}.parquet").num_rows == 0:
        pytest.skip(f"{table} empty: contract covered by the empty-fixture sweep")



def test_poisson_dispersion_matches_direct_formula(spark):
    _skip_if_empty("orders")
    got = _run(spark, "a56_poisson_dispersion").iloc[0]
    o = pd.read_parquet(f"{SF}/orders.parquet", columns=["o_orderdate"])
    daily = o.groupby(o["o_orderdate"].dt.strftime("%Y-%m-%d")).size()
    n, s = len(daily), int(daily.sum())
    var_num = n * int((daily**2).sum()) - s * s
    chi2 = var_num / s
    assert got["n_days"] == n and got["total_orders"] == s
    assert abs(got["mean_per_day"] - s / n) < 2e-6
    assert abs(got["dispersion_index"] - var_num / ((n - 1) * s)) < 2e-6
    assert abs(got["chi2_stat"] - chi2) < max(2e-6, chi2 * 1e-9)
    assert got["overdispersed"] == int(
        chi2 > (n - 1) + 2 * math.sqrt(2.0 * (n - 1))
    )


def test_brown_forsythe_matches_direct_formula(spark):
    """Levene W about interpolated group medians, recomputed with
    numpy's quantile and explicit between/within sums."""
    _skip_if_empty("orders")
    got = _run(spark, "a58_levene_brown_forsythe").iloc[0]
    o = pd.read_parquet(
        f"{SF}/orders.parquet", columns=["o_orderpriority", "o_totalprice"]
    )
    groups = {
        g: grp["o_totalprice"].to_numpy()
        for g, grp in o.groupby("o_orderpriority")
    }
    zs = {
        g: np.abs(x - np.quantile(x, 0.5)) for g, x in groups.items()
    }
    k = len(zs)
    nn = sum(len(z) for z in zs.values())
    grand = sum(z.sum() for z in zs.values()) / nn
    between = sum(len(z) * (z.mean() - grand) ** 2 for z in zs.values())
    within = sum(((z - z.mean()) ** 2).sum() for z in zs.values())
    assert got["k_groups"] == k and got["n_orders"] == nn
    assert abs(got["between_ss"] - between) < 0.05
    assert abs(got["within_ss"] - within) < 0.05
    if k < 2 or within == 0:
        # degenerate design: W undefined on both engines
        assert pd.isna(got["w_stat"]) and pd.isna(got["heteroscedastic_95"])
    else:
        w = (nn - k) / (k - 1) * between / within
        assert abs(got["w_stat"] - w) < 1e-4
        assert got["heteroscedastic_95"] == int(w > 2.372)


def test_reorder_point_matches_direct_formula(spark):
    got = _run(spark, "q_reorder_point_policy").set_index("partkey")
    li = pd.read_parquet(
        f"{SF}/lineitem.parquet",
        columns=["l_partkey", "l_shipdate", "l_quantity"],
    )
    li["day"] = li["l_shipdate"].dt.normalize()
    daily = (
        li.groupby(["l_partkey", "day"])["l_quantity"].sum().reset_index()
    )
    stats = daily.groupby("l_partkey")["l_quantity"].agg(
        ["count", "sum"]
    )
    stats = stats[stats["count"] >= 8]
    top = stats.sort_values(
        ["sum", "l_partkey"], ascending=[False, True]
    ).head(20)
    assert set(got.index) == set(top.index)
    for pk in top.index:
        q = daily[daily["l_partkey"] == pk]["l_quantity"].to_numpy()
        n = len(q)
        mean, sd = q.mean(), q.std(ddof=1)
        ss = 1.65 * sd * math.sqrt(7.0)
        row = got.loc[pk]
        assert row["n_days"] == n, pk
        assert abs(row["mean_daily"] - mean) < 2e-6, pk
        assert abs(row["sd_daily"] - sd) < 2e-6, pk
        assert abs(row["safety_stock"] - ss) < 1e-5, pk
        assert abs(row["reorder_point"] - (mean * 7.0 + ss)) < 1e-5, pk


def _daily_bars() -> pd.DataFrame:
    ev = pd.read_parquet(
        f"{SF}/events.parquet", columns=["ts", "value", "event_id"]
    ).sort_values(["ts", "event_id"])
    ev["day"] = ev["ts"].dt.strftime("%Y-%m-%d")
    g = ev.groupby("day")["value"]
    return pd.DataFrame(
        {"high": g.max(), "low": g.min(), "close": g.last()}
    ).sort_index()


def test_ulcer_index_matches_rolling_scan(spark):
    got = _run(spark, "w30_ulcer_index").set_index("day")
    bars = _daily_bars()
    bars = bars[bars["close"] > 0]
    closes = bars["close"].tolist()
    days = bars.index.tolist()
    dd = []
    for i in range(len(closes)):
        mx = max(closes[max(0, i - 13) : i + 1])
        dd.append(100.0 * (closes[i] - mx) / mx)
    for i in range(26, len(days)):
        msq = sum(d * d for d in dd[i - 13 : i + 1]) / 14
        row = got.loc[days[i]]
        assert abs(row["drawdown_pct"] - dd[i]) < 2e-6, days[i]
        assert abs(row["ulcer_index"] - math.sqrt(msq)) < 2e-6, days[i]
    assert len(got) == max(0, len(days) - 26)


def test_tokens_per_char_matches_dict_counting(spark):
    got = _run(spark, "l_tokens_per_char_by_source").set_index(
        ["source", "lang"]
    )
    docs = pd.read_parquet(
        f"{SF}/documents.parquet", columns=["source", "lang", "text"]
    )
    agg = defaultdict(lambda: [0, 0, 0])
    for _, d in docs.iterrows():
        st = agg[(d["source"], d["lang"])]
        st[0] += 1
        st[1] += len(d["text"].split(" "))
        st[2] += len(d["text"])
    assert set(got.index) == set(agg)
    for key, (n, tk, ch) in agg.items():
        row = got.loc[key]
        assert row["n_docs"] == n and row["total_tokens"] == tk
        assert row["total_chars"] == ch
        assert abs(row["tokens_per_100_chars"] - tk / ch * 100) < 2e-4
        assert abs(row["chars_per_token"] - ch / tk) < 2e-4


def test_unicode_anomaly_audit_matches_regex_counting(spark):
    got = _run(spark, "l_unicode_anomaly_audit").set_index("source")
    docs = pd.read_parquet(
        f"{SF}/documents.parquet", columns=["source", "text"]
    )
    agg = defaultdict(lambda: [0, 0, 0, 0, 0, 0])
    nonp_re = re.compile(r"[^ -~]")
    for _, d in docs.iterrows():
        t = d["text"]
        st = agg[d["source"]]
        nonp = len(nonp_re.findall(t))
        st[0] += 1
        st[1] += nonp
        st[2] += int(nonp > 0)
        st[3] += t.count("�")
        st[4] += int(t.strip() != t)
        st[5] += int("  " in t)
    assert set(got.index) == set(agg)
    for src, (n, nonp, ndocs, repl, untrim, multi) in agg.items():
        row = got.loc[src]
        assert row["n_docs"] == n, src
        assert row["non_printable_ascii_chars"] == nonp, src
        assert row["n_docs_non_ascii"] == ndocs, src
        assert row["replacement_chars"] == repl, src
        assert row["n_untrimmed"] == untrim, src
        assert row["n_multispace"] == multi, src


def test_centroid_drift_matches_numpy(spark):
    _skip_if_empty("embeddings")
    got = _run(spark, "l_embedding_centroid_drift").set_index("label")
    emb = pd.read_parquet(
        f"{SF}/embeddings.parquet", columns=["label", "embedding"]
    )
    vecs = np.stack(emb["embedding"].to_numpy()).astype(float)
    g = vecs.mean(axis=0)
    for label, idx in emb.groupby("label").groups.items():
        c = vecs[emb.index.get_indexer(idx)].mean(axis=0)
        row = got.loc[label]
        assert row["n_vectors"] == len(idx), label
        assert abs(row["centroid_norm"] - np.linalg.norm(c)) < 2e-6
        cos = float(c @ g / (np.linalg.norm(c) * np.linalg.norm(g)))
        assert abs(row["cos_to_global"] - cos) < 2e-6, label


def test_minhash_planner_matches_closed_form(spark):
    got = _run(spark, "l_minhash_param_planner")
    want = []
    for b, r in ((2, 6), (3, 4), (4, 3), (6, 2), (12, 1)):
        for gidx in range(1, 20):
            j = gidx * 0.05
            want.append(
                (
                    b,
                    r,
                    math.floor(j * 1e2 + 0.5) / 1e2,
                    1 - (1 - j**r) ** b,
                    (1.0 / b) ** (1.0 / r),
                    1 - (1 - 0.8**r) ** b,
                )
            )
    want.sort(key=lambda t: (t[0], t[2]))
    assert len(got) == len(want)
    for row, (b, r, j, pc, thr, p080) in zip(got.itertuples(), want):
        assert row.bands == b and row.rows_per_band == r
        assert abs(row.jaccard - j) < 1e-9
        assert abs(row.p_candidate - pc) < 2e-6
        assert abs(row.family_threshold - thr) < 2e-6
        assert abs(row.p_catch_at_080 - p080) < 2e-6


def _wrapper_pairs(docs: pd.DataFrame) -> dict:
    """(doc_a, doc_b) → (n_common, size_a, size_b, jaccard, containment)
    of every pair passing the audit, from Python set arithmetic over
    df-capped distinct 3-gram shingle hash sets."""
    sets = {}
    for _, d in docs.iterrows():
        ws = d["text"].split(" ")
        n_sh = max(len(ws) - 3, 0) + 1
        hs = {
            int(
                hashlib.md5(
                    " ".join(ws[i : i + 3]).encode()
                ).hexdigest()[:15],
                16,
            )
            for i in range(n_sh)
        }
        sets[d["doc_id"]] = hs
    df = defaultdict(int)
    for hs in sets.values():
        for h in hs:
            df[h] += 1
    capped = {
        doc: {h for h in hs if df[h] <= 64} for doc, hs in sets.items()
    }
    want = {}
    ids = sorted(capped)
    # invert to bound the pair scan like the operator does
    postings = defaultdict(list)
    for doc in ids:
        for h in capped[doc]:
            postings[h].append(doc)
    pair_common = defaultdict(int)
    for h, ds in postings.items():
        for i, a in enumerate(ds):
            for b in ds[i + 1 :]:
                pair_common[(a, b)] += 1
    for (a, b), nc in pair_common.items():
        sa, sb = len(capped[a]), len(capped[b])
        cont = nc / min(sa, sb)
        jac = nc / (sa + sb - nc)
        if cont >= 0.8 and jac < 0.5:
            want[(a, b)] = (nc, sa, sb, jac, cont)
    return want


def _assert_wrapper_pairs(got: pd.DataFrame, want: dict) -> None:
    got = got.set_index(["doc_a", "doc_b"])
    assert set(got.index) == set(want)
    for key, (nc, sa, sb, jac, cont) in want.items():
        row = got.loc[key]
        assert row["n_common"] == nc and row["size_a"] == sa
        assert row["size_b"] == sb
        assert abs(row["jaccard"] - jac) < 2e-6
        assert abs(row["containment"] - cont) < 2e-6


def test_wrapper_pair_audit_matches_set_arithmetic(spark):
    """Containment/Jaccard over df-capped distinct 3-gram shingle hash
    SETS recomputed with Python set arithmetic."""
    docs = pd.read_parquet(
        f"{SF}/documents.parquet", columns=["doc_id", "text"]
    )
    _assert_wrapper_pairs(_run(spark, "l_wrapper_pair_audit"), _wrapper_pairs(docs))


# (size of the smaller shingle set m, of the larger M, shared n): pairs
# on each edge of the audit's predicates and of the size band 5·M > 7·m
# they imply. True = the pair passes the audit.
_BAND_EDGES = [
    ((5, 8, 4), True),     # 5·n = 4·m; M = 7/5·m + 1, just inside the band
    ((10, 15, 8), True),   # the same edges at twice the size
    ((10, 18, 9), True),   # 3·n = m + M − 1: jaccard just below 0.5
    ((5, 7, 4), False),    # 3·n = m + M (jaccard exactly 0.5), 5·M = 7·m
    ((10, 14, 8), False),  # 5·n = 4·m and 3·n = m + M on the band's edge
    ((5, 7, 5), False),    # 5·M = 7·m, containment 1: the band drops it
    ((10, 17, 9), False),  # 3·n = m + M well inside the band
    ((6, 8, 5), False),    # 5·M = 40 < 42 = 7·m: outside the band
]


def _band_edge_documents() -> pd.DataFrame:
    """Two docs per edge, sharing nothing with any other edge: the
    smaller holds m 3-shingles (m + 2 tokens), the larger starts with
    n + 2 of them (n shared shingles) and adds its own tokens up to M."""
    rows = []
    for e, ((m, big, n), _) in enumerate(_BAND_EDGES):
        small = [f"e{e}s{i}" for i in range(m + 2)]
        large = small[: n + 2] + [f"e{e}l{i}" for i in range(big - n)]
        for k, toks in enumerate((small, large)):
            text = " ".join(toks)
            rows.append((2 * e + k, text, "en", "src0", len(text)))
    return pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )


def test_wrapper_pair_audit_keeps_size_band_edges(spark, tmp_path):
    """The size band in the pair join drops no pair the audit keeps: on
    pairs sitting exactly on each edge the operator, its DuckDB oracle
    and Python set arithmetic agree, and the kept pairs are the ones
    the edges predict."""
    import duckdb

    from dock_financial_data_pipelines_spark.registry import ORACLES

    docs = _band_edge_documents()
    docs.to_parquet(tmp_path / "documents.parquet", index=False)
    want = _wrapper_pairs(docs)
    assert sorted(want) == [
        (2 * e, 2 * e + 1) for e, (_, ok) in enumerate(_BAND_EDGES) if ok
    ]
    for e, ((m, big, n), ok) in enumerate(_BAND_EDGES):
        if ok:
            assert want[(2 * e, 2 * e + 1)][:3] == (n, m, big)
    got = engine.QUERIES["l_wrapper_pair_audit"](spark, str(tmp_path)).toPandas()
    _assert_wrapper_pairs(got, want)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path / 'documents.parquet'}'"
    )
    oracle = con.execute(ORACLES["l_wrapper_pair_audit"]).df()
    assert oracle[["doc_a", "doc_b"]].values.tolist() == sorted(
        [list(k) for k in want]
    )
    _assert_wrapper_pairs(oracle, want)


def test_intercompany_elimination_matches_dict_rollup(spark):
    got = _run(spark, "q_intercompany_elimination").set_index("nation")
    li = pd.read_parquet(
        f"{SF}/lineitem.parquet",
        columns=["l_orderkey", "l_suppkey", "l_extendedprice"],
    )
    o = pd.read_parquet(
        f"{SF}/orders.parquet", columns=["o_orderkey", "o_custkey"]
    ).set_index("o_orderkey")
    c = pd.read_parquet(
        f"{SF}/customer.parquet", columns=["c_custkey", "c_nationkey"]
    ).set_index("c_custkey")
    s = pd.read_parquet(
        f"{SF}/supplier.parquet", columns=["s_suppkey", "s_nationkey"]
    ).set_index("s_suppkey")
    agg = defaultdict(lambda: [0, 0, 0])  # gross, eliminated, n_ic
    for _, r in li.iterrows():
        cust = o.loc[r["l_orderkey"], "o_custkey"]
        nat = int(c.loc[cust, "c_nationkey"])
        cents = int(math.floor(r["l_extendedprice"] * 100 + 0.5))
        ic = int(s.loc[r["l_suppkey"], "s_nationkey"]) == nat
        st = agg[nat]
        st[0] += cents
        if ic:
            st[1] += cents
            st[2] += 1
    assert set(got.index) == set(agg)
    for nat, (gross, elim, n_ic) in agg.items():
        row = got.loc[nat]
        assert abs(row["gross_revenue"] - gross / 100.0) < 1e-6, nat
        assert abs(row["eliminated"] - elim / 100.0) < 1e-6, nat
        assert (
            abs(row["external_revenue"] - (gross - elim) / 100.0) < 1e-6
        ), nat
        assert row["n_ic_lines"] == n_ic, nat


def test_keyset_pagination_matches_sorted_slice(spark):
    got = _run(spark, "t4_keyset_pagination")
    o = pd.read_parquet(
        f"{SF}/orders.parquet",
        columns=["o_orderkey", "o_orderdate", "o_totalprice"],
    ).sort_values(["o_orderdate", "o_orderkey"])
    page3 = o.iloc[200:300]
    assert got["o_orderkey"].tolist() == page3["o_orderkey"].tolist()
    for g, (_, w) in zip(got.itertuples(), page3.iterrows()):
        assert abs(g.totalprice - round(w["o_totalprice"], 2)) < 1e-9
