"""Compare benchmark records (the JSON files under .perfbench/results/).

    python3 perfbench/compare.py BASE.json HEAD.json   # per-metric ratio
    python3 perfbench/compare.py --spread A.json B.json ...   # steadiness

Both forms refuse records whose shapes differ (workload, cores, master,
default parallelism, scale, pass count, traced or not).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import stats  # noqa: E402


def main(argv: list[str]) -> int:
    spread = argv[:1] == ["--spread"]
    paths = argv[1:] if spread else argv
    if len(paths) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    records = []
    for p in paths:
        with open(p) as f:
            records.append(json.load(f))
    try:
        out = stats.spread(records) if spread else stats.compare_results(*records[:2])
    except ValueError as e:
        print(f"refused: {e}", file=sys.stderr)
        return 1
    for name, row in out.items():
        print(name, json.dumps(row))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
