"""Compare the exact per-op counts of traced benchmark runs.

    python3 perfbench/run.py --workload dedup --seed 1 --seconds 12 --trace 1 > a.out
    python3 perfbench/run.py --workload dedup --seed 2 --seconds 12 --trace 1 > b.out
    python3 perfbench/counts.py a.out b.out

Each file is the standard output of one traced run; the counts are in
its context line, the line before the result. The script exits 1 and
names the ops whose ``spark.jobs``, ``spark.stages``, ``spark.tasks``
or ``fs.files_written`` differ between any two traced passes of the
given runs, and exits 0 when they all agree.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from run import count_drift  # noqa: E402


def traced_passes(path: str) -> list[dict]:
    with open(path) as fh:
        lines = [line for line in fh.read().splitlines() if line.strip()]
    context = json.loads(lines[-2])
    return [{"per_op": p["counts"]} for p in context["passes"] if p["traced"]]


def main(argv: list[str]) -> int:
    if len(argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    passes = [p for path in argv for p in traced_passes(path)]
    if not passes:
        print("counts: no traced pass in the given runs", file=sys.stderr)
        return 2
    drift = count_drift(passes)
    for msg in drift:
        print(f"counts: {msg}", file=sys.stderr)
    if drift:
        return 1
    print(f"counts: identical over {len(passes)} traced passes")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
