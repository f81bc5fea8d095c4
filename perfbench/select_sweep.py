"""The rule that picks sweep_light's queries, and the frozen list it made.

    python3 perfbench/select_sweep.py   # re-derive and rewrite sweep_light.json

Population: every registered query outside the llm/streaming/mm/er/docs/
basket/pref/graph/rec families whose median in ``BENCH_FULL.json`` (the r13
bench: local[8], sf 0.1, three reps) is under 1.2 s. Checkable: those whose
registry oracle is DuckDB SQL, less the warm-up query and those listed in
``MISMATCH`` (their SQL oracle disagrees with the program on generated
inputs). Selected: the checkable queries sorted by (median, name), every
``STEP``-th from the first, so the sample spans the population's latency
range. ``ADDITIONS`` then add the layers no light query reaches.
Warm-up: the warm-up query, then every ``WARM_STEP``-th checkable query from
rank ``WARM_OFFSET`` (never a selected one); set-up runs them untimed so the
JIT has compiled Spark's planning and codegen paths before the clock starts.

The benchmark reads the frozen ``sweep_light.json``, not ``BENCH_FULL.json``:
a later bench run rewrites that file, and the workload must not move with it.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FROZEN = os.path.join(HERE, "sweep_light.json")

EXCLUDED_FAMILIES = ("llm", "streaming", "mm", "er", "docs", "basket", "pref", "graph", "rec")
MAX_MEDIAN_S = 1.2
STEP = 5
#: run once in set-up to warm the JVM, so never timed
WARM_UP_QUERY = "flagship_scoped_members"
WARM_OFFSET, WARM_STEP = 2, 10
MISMATCH = {
    "events_ctr_wilson": "Wilson bounds differ from the DuckDB oracle in the last digit "
                         "on generated inputs (0.5415073349225439 vs ...438 at seed 1)",
}
ADDITIONS = {
    "llm_dedup_span_coverage": "shared_df consumer of the dup_grams8 artifact: one miss, one hit per pass",
    "llm_dedup_span_exposure": "second consumer of the same dup_grams8 artifact",
    "streaming_distinct_users": "a stateful stream (dedup within a watermark): the streaming layer and its state store",
}


def population(medians: dict[str, float | None]) -> dict[str, float]:
    return {q: v for q, v in medians.items()
            if q.split("_")[0] not in EXCLUDED_FAMILIES and v is not None and v < MAX_MEDIAN_S}


def ranked(pop: dict[str, float], sql_oracle: set[str]) -> list[str]:
    """The checkable queries by (median, name)."""
    return [q for _, q in sorted((v, q) for q, v in pop.items()
                                 if q in sql_oracle and q != WARM_UP_QUERY and q not in MISMATCH)]


def pick(pop: dict[str, float], sql_oracle: set[str]) -> list[str]:
    """Every STEP-th checkable query by (median, name)."""
    return ranked(pop, sql_oracle)[::STEP]


def warm_up(pop: dict[str, float], sql_oracle: set[str]) -> list[str]:
    """The untimed warm-up queries of set-up, in the order they run."""
    return [WARM_UP_QUERY] + ranked(pop, sql_oracle)[WARM_OFFSET::WARM_STEP]


def derive() -> dict:
    sys.path.insert(0, ROOT)
    from aci_export_spark import harness

    harness._ensure_all_registered()
    with open(os.path.join(ROOT, "BENCH_FULL.json")) as f:
        full = json.load(f)
    pop = population(full["queries"])
    sql = {q for q in pop if isinstance(harness.REGISTRY[q].oracle, str)}
    return {
        "source": {k: full[k] for k in ("master", "sf", "reps")} | {"file": "BENCH_FULL.json"},
        "population": dict(sorted(pop.items())),
        "sql_oracle": sorted(sql),
        "selected": pick(pop, sql),
        "additions": ADDITIONS,
        "warm_up": warm_up(pop, sql),
    }


def load() -> dict:
    """The frozen op set (``selected``, ``additions``) and ``warm_up``."""
    with open(FROZEN) as f:
        return json.load(f)


def main() -> int:
    fresh = derive()
    with open(FROZEN, "w") as f:
        json.dump(fresh, f, indent=1)
        f.write("\n")
    print(f"{len(fresh['population'])} in the population, {len(fresh['sql_oracle'])} with an SQL "
          f"oracle, {len(fresh['selected'])} selected + {len(ADDITIONS)} additions, "
          f"{len(fresh['warm_up'])} warm-up")
    return 0


if __name__ == "__main__":
    sys.exit(main())
