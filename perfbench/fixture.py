"""The sf0.1 input tables, regenerated for the benchmark.

The benchmark reads nothing outside its checkout, so it rebuilds its
input instead of reading the shipped fixture. This module replays the
generator behind the shipped sf0.1 tables (FIXTURES.md, TESTDATA.md):
one ``numpy.random.default_rng(42)`` stream, drawn table by table in
the order below, with the same value lists and formulas. The result is
value-for-value the shipped sf0.1 data, with the same arrow types:

    region 5, nation 25, customer 15k, supplier 1k, part 20k,
    orders 150k, lineitem 600k, events 100k (30 days from 2024-01-01),
    documents 5k (250 near-duplicates: an earlier or later text plus
    " dup"), embeddings 2k (unit-norm 64-d float32 vectors).

Timestamps are ``timestamp[us]`` without a time zone (parquet
``isAdjustedToUTC=false``), as in the shipped sf0.1 footers. The events
clock is drawn in nanoseconds and truncated to microseconds, which is
how the shipped file stores it.

Each table is one parquet file with one row group, like the shipped
fixture; ``scripts/make_bench_fixture.ensure_bench_fixture`` then
mirrors the large ones into part-files. The benchmark's ``--seed``
never reaches this module: the seed orders operations, while every run
sees the same tables.

    python3 perfbench/fixture.py OUT_DIR [--compare SHIPPED_DIR]

writes the tables, and with ``--compare`` checks them against a shipped
fixture directory, table by table.
"""

from __future__ import annotations

import argparse
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
DAY_US = 86_400_000_000

SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
ADJECTIVES = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
NOUNS = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
ORDER_STATUS = ["O", "F", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["R", "A", "N"]
LINE_STATUS = ["O", "F"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = (
    "the a spark query table join group filter window data order customer "
    "part line fast slow big small hash sort merge scan agg stream batch "
    "vector key value row column"
).split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]  # en 3/7, the rest 1/7 each


def _pick(values: list[str], idx: np.ndarray) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _timestamps(start: str, offsets_us: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + offsets_us.astype(np.int64), pa.timestamp("us"))


def _documents(rng, n: int = 5000, n_dup: int = 250) -> pa.Table:
    texts = [
        " ".join(VOCAB[j] for j in rng.integers(0, 30, int(rng.integers(10, 100))))
        for _ in range(n)
    ]
    # near-duplicates: a chosen doc becomes another doc's text plus " dup"
    targets = rng.choice(n, n_dup, replace=False)
    for i, j in zip(targets, rng.integers(0, n, n_dup)):
        texts[i] = texts[j] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(LANGS, rng.integers(0, len(LANGS), n)),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": i32(np.arange(5)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    out["nation"] = pa.table({
        "n_nationkey": i32(np.arange(25)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": i32(np.arange(25) % 5),
    })
    n = 15_000
    out["customer"] = pa.table({
        "c_custkey": i64(np.arange(n)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": i32(rng.integers(0, 25, n)),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": _pick(SEGMENTS, rng.integers(0, 5, n)),
    })
    n = 1_000
    out["supplier"] = pa.table({
        "s_suppkey": i64(np.arange(n)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": i32(rng.integers(0, 25, n)),
        "s_acctbal": _money(rng, n, -999.99, 9999.99),
    })
    n = 20_000
    adj, noun = rng.integers(0, 8, n), rng.integers(0, 8, n)
    out["part"] = pa.table({
        "p_partkey": i64(np.arange(n)),
        "p_name": pa.array([f"{ADJECTIVES[a]} {NOUNS[b]}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": _pick(PART_TYPES, rng.integers(0, 6, n)),
        "p_size": i32(rng.integers(1, 51, n)),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 1),
    })
    n = 150_000
    out["orders"] = pa.table({
        "o_orderkey": i64(np.arange(n)),
        "o_custkey": i64(rng.integers(0, 15_000, n)),
        "o_orderstatus": _pick(ORDER_STATUS, rng.integers(0, 3, n)),
        "o_totalprice": _money(rng, n, 1000.0, 500000.0),
        "o_orderdate": _timestamps("1995-01-01", rng.integers(0, 2405, n) * DAY_US),
        "o_orderpriority": _pick(PRIORITIES, rng.integers(0, 5, n)),
    })
    n = 600_000
    out["lineitem"] = pa.table({
        "l_orderkey": i64(rng.integers(0, 150_000, n)),
        "l_partkey": i64(rng.integers(0, 20_000, n)),
        "l_suppkey": i64(rng.integers(0, 1_000, n)),
        "l_linenumber": i32(rng.integers(1, 8, n)),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900.0, 105000.0),
        "l_discount": _money(rng, n, 0.0, 0.1),
        "l_tax": _money(rng, n, 0.0, 0.08),
        "l_returnflag": _pick(RETURN_FLAGS, rng.integers(0, 3, n)),
        "l_linestatus": _pick(LINE_STATUS, rng.integers(0, 2, n)),
        "l_shipdate": _timestamps("1995-01-01", rng.integers(1, 2500, n) * DAY_US),
    })
    n = 100_000
    clock_ns = (np.sort(rng.uniform(0, 30 * 86_400, n)) * 1e9).astype(np.int64)
    out["events"] = pa.table({
        "event_id": i64(np.arange(n)),
        "ts": _timestamps("2024-01-01", clock_ns // 1000),
        "user_id": i64(rng.integers(0, 1_500, n)),
        "event_type": _pick(EVENT_TYPES, rng.integers(0, 5, n)),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    out["documents"] = _documents(rng)
    n = 2_000
    vec = rng.standard_normal((n, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": i64(np.arange(n)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n)),
    })
    return out


def write(out_dir: str) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables().items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), version="2.6")
    return out_dir


def compare(gen_dir: str, shipped_dir: str) -> list[str]:
    """Tables whose schema or values differ between two fixture dirs."""
    bad = []
    for name in sorted(os.listdir(gen_dir)):
        if not name.endswith(".parquet"):
            continue
        a = pq.read_table(os.path.join(gen_dir, name))
        b = pq.read_table(os.path.join(shipped_dir, name))
        if not a.equals(b):
            bad.append(name)
    return bad


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="write the benchmark's sf0.1 tables")
    p.add_argument("out_dir")
    p.add_argument("--compare", metavar="SHIPPED_DIR")
    args = p.parse_args(argv)
    write(args.out_dir)
    if args.compare:
        bad = compare(args.out_dir, args.compare)
        print("differ: " + ", ".join(bad) if bad else "identical")
        return 1 if bad else 0
    return 0


if __name__ == "__main__":
    sys.exit(main())
