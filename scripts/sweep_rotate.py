"""Emit the COVERAGE.md driver-verification ledger.

One markdown row per registry entry with every driver verdict on file
(round: hash-green / rows-only / FAIL) and the entry's slot in the
NEXT round's 50-slot sweep (from the live `_reorder_registry` order,
see pkg/__init__.py). Because rows derive from the actual
CORRECTNESS_r*.json keys, the ledger can never drift from the driver
record (the round-6 defect: hand-predicted slots the driver did not
take). Paste between the LEDGER-BEGIN/LEDGER-END markers in
COVERAGE.md:

    python scripts/sweep_rotate.py --ledger
"""

from __future__ import annotations

import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import dock_financial_data_pipelines_spark as engine

BUDGET = 50


def ledger() -> int:
    engine.load_all()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    verdicts: dict[str, list[str]] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        rnd = os.path.basename(path)[len("CORRECTNESS_"):-len(".json")]
        with open(path) as fh:
            rows = json.load(fh)
        for name, row in rows.items():
            if not isinstance(row, dict):
                status = "recorded"
            elif row.get("hash_match"):
                status = "hash-green"
            elif row.get("err") == "no_oracle" or row.get("oracle_rows") is None:
                status = "rows-only"
            else:
                status = "FAIL"
            verdicts.setdefault(name, []).append(f"{rnd}: {status}")

    slot = {n: i + 1 for i, n in enumerate(list(engine.QUERIES)[:BUDGET])}
    nxt = 1 + max(
        (int(os.path.basename(p)[len("CORRECTNESS_r"):-len(".json")])
         for p in glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))),
        default=0,
    )
    greens = sum(
        1 for v in verdicts.values()
        if any(s.endswith("hash-green") for s in v)
    )
    print(f"One row per registry entry, generated from the actual")
    print(f"`CORRECTNESS_r*.json` keys by `scripts/sweep_rotate.py --ledger`")
    print(f"(never hand-predicted), plus the entry's slot in the round-{nxt}")
    print(f"50-slot sweep as the live registry order stands. Cumulative")
    print(f"driver record: **{greens}/{len(engine.QUERIES)} hash-green, 0")
    print(f"failed verdicts**. Entries marked `— (never sampled)` without")
    print(f"a slot queue for round {nxt + 1}.")
    print()
    print(f"| Query | Driver verdicts (round: status) | r{nxt} sweep slot |")
    print("|---|---|---|")
    for name in sorted(engine.QUERIES):
        v = "; ".join(verdicts.get(name, [])) or "— (never sampled)"
        s = str(slot.get(name, ""))
        print(f"| `{name}` | {v} | {s} |")
    return 0


if __name__ == "__main__":
    if "--ledger" not in sys.argv[1:]:
        print(__doc__, file=sys.stderr)
        raise SystemExit(2)
    raise SystemExit(ledger())
