"""Checks on perfbench/run.py that need no Spark session.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import itertools
import json
import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402


def passes(workload: str, seed: int, n: int = 6) -> list[list]:
    return list(itertools.islice(run.schedule(workload, seed), n))


def test_same_seed_gives_same_schedule():
    for w in run.WORKLOADS:
        assert passes(w, 7) == passes(w, 7)


def test_seeds_reorder_the_same_ops():
    for w in run.WORKLOADS:
        a, b = passes(w, 1), passes(w, 2)
        assert a != b
        for pa, pb in zip(a, b):
            assert Counter(pa) == Counter(pb) == Counter(run.WORKLOADS[w])


def test_benchmark_json_names_what_run_reports():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def _run_output(tmp_path, name: str, counts: dict) -> str:
    context = {"passes": [
        {"traced": False, "counts": {}},
        {"traced": True, "counts": counts},
    ]}
    path = tmp_path / name
    path.write_text(json.dumps(context) + "\n" + json.dumps({"correct": True}) + "\n")
    return str(path)


def test_counts_compares_traced_runs(tmp_path):
    import counts

    same = {"op": {"jobs": 3, "stages": 4, "tasks": 9, "files": 2}}
    a = _run_output(tmp_path, "a.out", same)
    b = _run_output(tmp_path, "b.out", same)
    c = _run_output(tmp_path, "c.out", {"op": {**same["op"], "tasks": 10}})
    assert counts.main([a, b]) == 0
    assert counts.main([a, c]) == 1


def test_fixture_is_the_shipped_sf01_data():
    import fixture

    t = fixture.tables()
    assert {k: v.num_rows for k, v in t.items()} == {
        "region": 5, "nation": 25, "customer": 15_000, "supplier": 1_000,
        "part": 20_000, "orders": 150_000, "lineitem": 600_000,
        "events": 100_000, "documents": 5_000, "embeddings": 2_000,
    }
    # first values and frequencies as read from the shipped sf0.1 files
    assert t["customer"]["c_acctbal"][:3].to_pylist() == [4516.95, 7056.35, 1070.49]
    assert t["part"]["p_name"][:3].to_pylist() == ["large ring", "hot bolt", "blue ring"]
    assert str(t["events"]["ts"][0]) == "2024-01-01 00:00:11.172425"
    assert str(t["events"].schema.field("ts").type) == "timestamp[us]"
    assert str(t["lineitem"]["l_shipdate"][0]) == "1996-09-13 00:00:00"
    assert t["documents"]["text"][1].as_py() == (
        "vector column line part scan fast query agg spark spark table query "
        "table hash line slow"
    )
    docs = t["documents"].to_pandas()
    assert docs["text"].str.endswith(" dup").sum() == 250
    assert docs["text"].nunique() == 4992
    assert docs["lang"].value_counts().to_dict() == {
        "en": 2059, "zh": 753, "es": 744, "fr": 742, "de": 702,
    }
    assert round(float(t["embeddings"]["embedding"][0][0].as_py()), 6) == 0.019056
