"""Benchmark harness (driver contract, see repo instructions).

Runs every registered query at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints exactly ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
"sf": ...}.

Each query is fully executed via the noop sink (whole plan runs, nothing
collects to the driver — the honest way to time a distributed plan).
"""

from __future__ import annotations

import json
import os
import sys
import time


def _tree_cpu_seconds() -> float:
    """Total CPU-seconds consumed so far by this process TREE: the driver
    python, the JVM it spawned, and every pyspark daemon/worker under it —
    summed from /proc/<pid>/stat (utime+stime of live tree members plus
    cutime+cstime so reaped children keep counting).

    Why this and not the Spark status API: executorCpuTime only meters JVM
    task threads, so Python-heavy stages (mapInPandas, pandas UDFs) would
    under-report; the /proc tree catches both sides. And unlike wall time,
    CPU time does not inflate when sandbox neighbors steal the cores — two
    of the last three rounds' wall totals were contention-polluted (r7
    verdict #1), so per-query CPU is the number regressions are judged on.
    """
    tick = os.sysconf("SC_CLK_TCK")
    me = os.getpid()
    ppid: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                s = f.read().decode("ascii", "replace")
        except OSError:
            continue  # raced a process exit
        # comm may contain spaces/parens: fields resume after the last ')'
        rest = s[s.rindex(")") + 2 :].split()
        pid = int(d)
        ppid[pid] = int(rest[1])
        ticks[pid] = int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p > 1:
            if p == me:
                total += t
                break
            p = ppid.get(p, 0)
    return total / tick


def _system_busy_seconds() -> float:
    """CPU-seconds consumed so far by EVERYTHING on the box (all cores,
    all processes): /proc/stat's aggregate line minus idle+iowait. The
    delta over the bench run, minus our own tree's delta, is CPU burned
    by sandbox neighbors — the contention the wall numbers keep
    inheriting (r7/r8 verdicts)."""
    tick = os.sysconf("SC_CLK_TCK")
    with open("/proc/stat", "rb") as f:
        fields = f.readline().split()[1:]
    vals = [int(x) for x in fields]
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)  # idle + iowait
    return (sum(vals) - idle) / tick


def classify_quiet(
    foreign_cpu_sec: float, wall_sec: float, n_cpus: int,
    threshold: float = 0.15,
) -> tuple[float, bool]:
    """(foreign_cpu_fraction, quiet): the fraction of the box's total
    CPU capacity that OTHER processes consumed during the sweep. Above
    ``threshold`` the run is contended — wall totals are not
    engine-representative and regressions must be judged on the CPU
    column. Machine-checkable replacement for the r8 prose convention."""
    capacity = max(wall_sec, 1e-9) * max(n_cpus, 1)
    frac = max(0.0, foreign_cpu_sec) / capacity
    return round(frac, 4), frac < threshold


def classify_cpu_regressions(
    prev_cpu: dict, now_cpu: dict, ratio: float = 1.5, floor: float = 0.2,
    min_delta: float = 0.5,
) -> dict:
    """Per-query CPU-seconds moves > ``ratio``× vs the prior committed
    run — the contention-immune regression gate (r8 verdict #2). Skipped:
    queries new this round (no baseline); baselines under ``floor``
    CPU-seconds (a clamped/near-zero prev cannot support a ratio — r8's
    committed file carries a 0.0 for streaming_hourly_agg from the
    orphan-clamp, which read as a 3e9× "regression"); and moves under
    ``min_delta`` absolute core-seconds (sub-half-second deltas on cheap
    queries are rep jitter, not engine work — the first r9 run flagged
    three +0.2-0.4s moves). Returns {name: {prev, now, ratio}}."""
    flagged = {}
    for name, now in now_cpu.items():
        prev = prev_cpu.get(name)
        if prev is None or prev < floor or (now - prev) < min_delta:
            continue
        r = now / prev
        if r > ratio:
            flagged[name] = {"prev": prev, "now": now, "ratio": round(r, 3)}
    return flagged


def baseline_cpu(prev_full: dict, shape: dict) -> dict:
    """The prior run's per-query CPU column, or {} when that run had a
    different shape. ``shape`` holds this run's sf, reps, cpus and master:
    CPU-seconds move with all four (another scale; a reps=1 run has no
    median to absorb first-run classloading; more cores spread the same
    work over more, less busy threads), so only a like-for-like prior run
    can serve as the regression baseline."""
    if any(str(prev_full.get(k)) != str(v) for k, v in shape.items()):
        return {}
    return prev_full.get("queries_cpu", {})


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    from aci_export_spark.session import get_spark
    from aci_export_spark import harness

    spark = get_spark("aci-export-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    harness._ensure_all_registered()  # pull in llm/temporal harness modules

    # warm the JVM/codegen once so per-query numbers measure the plan, not
    # first-run classloading
    harness.flagship_scoped_members(spark, sf_dir).write.format("noop").mode("overwrite").save()
    # fork the Python/Arrow worker daemons up front (one per core) so the
    # first mapInPandas/pandas-UDF query isn't billed ~2s of worker spawn
    import pandas as _pd  # noqa: F401

    spark.range(0, 64, 1, 64).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()
    # ...and the driver-side Arrow collect path (first toPandas in a process
    # pays ~1.5s of one-time init that would otherwise bill to one query)
    spark.range(1).toPandas()

    # Median of N interleaved repetitions per query: one contended rep (GC,
    # sandbox neighbors, page cache) can no longer inflate a query's number —
    # round 3 recorded a uniform 1.75× on byte-identical code from exactly
    # that. Reps are interleaved (full sweep, then repeat) so a transient
    # stall decorrelates from any single query.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    samples: dict[str, list[float]] = {name: [] for name in harness.REGISTRY}
    cpu_samples: dict[str, list[float]] = {name: [] for name in harness.REGISTRY}
    from aci_export_spark import harness_llm

    from aci_export_spark import artifacts

    # prior committed run's CPU column, read BEFORE this run overwrites the
    # file: the baseline for the machine regression check below
    bench_full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"
    )
    eff_master = spark.sparkContext.master
    eff_cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    prev_cpu: dict = {}
    try:
        with open(bench_full_path) as f:
            prev_full = json.load(f)
        prev_cpu = baseline_cpu(prev_full, {
            "sf": float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]),
            "reps": reps,
            "cpus": eff_cpus,
            "master": eff_master,
        })
    except (OSError, ValueError):
        pass

    rep_totals: list[dict] = []
    sweep_busy0 = _system_busy_seconds()
    sweep_tree0 = _tree_cpu_seconds()
    sweep_t0 = time.perf_counter()
    for _ in range(reps):
        rep_busy0, rep_tree0 = _system_busy_seconds(), _tree_cpu_seconds()
        rep_t0 = time.perf_counter()
        # reset cross-call artifact caches (near-dup pairs, CC components,
        # kmeans centroids) so every sweep pays the full build cost — within
        # a sweep the FIRST consumer pays it (pipeline semantics: artifacts
        # are built once per corpus snapshot), but reps 2..N must not hit a
        # previous sweep's cache or the median under-reports the real cost
        artifacts._CACHE.clear()
        harness_llm._KMEANS_MODEL_CACHE.clear()
        harness_llm._PQ_CODEBOOK_CACHE.clear()
        harness_llm._FIT_SAMPLE_CACHE.clear()
        # billing order (BENCH_BILLING_ORDER head, then registration order),
        # NOT the driver correctness window and NOT alphabetical: the head
        # places each shared artifact's PRODUCING query before its
        # audit/consumer queries, so per-query numbers attribute artifact
        # builds to their owners instead of whichever consumer sorts first
        # (pipeline semantics: the pair join runs once per corpus snapshot,
        # inside the query that publishes it). Frozen at the r7 order so
        # round-over-round diffs are attribution-stable.
        for name in harness._bench_ordered_names():
            c0 = _tree_cpu_seconds()
            t0 = time.perf_counter()
            harness.REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            samples[name].append(time.perf_counter() - t0)
            # clamp at 0: a pyspark worker orphaned between snapshots
            # (reparented to init) leaves the tree with its lifetime CPU,
            # which can push a raw delta slightly negative; the median
            # across reps absorbs the corresponding under-count
            cpu_samples[name].append(max(0.0, _tree_cpu_seconds() - c0))
        # per-rep paired totals: wall, our tree's CPU, and CPU burned by
        # sandbox neighbors in the same interval — each rep carries its own
        # quiet/contended verdict, so the JSON self-classifies without the
        # prose convention (r8 verdict #2)
        rep_wall = time.perf_counter() - rep_t0
        rep_tree = max(0.0, _tree_cpu_seconds() - rep_tree0)
        rep_busy = max(0.0, _system_busy_seconds() - rep_busy0)
        foreign = max(0.0, rep_busy - rep_tree)
        frac, quiet = classify_quiet(foreign, rep_wall, os.cpu_count() or 1)
        rep_totals.append(
            {
                "wall": round(rep_wall, 3),
                "tree_cpu": round(rep_tree, 3),
                "foreign_cpu": round(foreign, 3),
                "foreign_cpu_fraction": frac,
                "quiet": quiet,
            }
        )

    sweep_wall = time.perf_counter() - sweep_t0
    sweep_foreign = max(
        0.0,
        (_system_busy_seconds() - sweep_busy0)
        - (_tree_cpu_seconds() - sweep_tree0),
    )
    sweep_frac, sweep_quiet = classify_quiet(
        sweep_foreign, sweep_wall, os.cpu_count() or 1
    )

    from statistics import median

    timings = {name: round(median(v), 3) for name, v in samples.items()}
    best = {name: round(min(v), 3) for name, v in samples.items()}
    cpu = {name: round(median(v), 3) for name, v in cpu_samples.items()}
    cpu_best = {name: round(min(v), 3) for name, v in cpu_samples.items()}

    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = None

    # Full per-query timings go to a file; the stdout line stays compact
    # (headline queries only) because the driver captures a bounded tail of
    # stdout — round 1's 68-query line overflowed it and parsed as null.
    # Make the $SPARK_GRAFT_CPUS contract driver-visible (r12 PERF flagged
    # scaling.suspect_cpus_ignored because nothing in the bench output
    # carried the effective core count): record the resolved master, the
    # env-derived cpus, and the context's actual defaultParallelism in both
    # the stdout line and BENCH_FULL. Pure reporting — timing methodology
    # is unchanged.
    full = {
        "metric": "total_query_wall_seconds",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "cpus": eff_cpus,
        "master": eff_master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "queries": timings,
        "queries_best": best,
        # contention-immune companion metric (r7 verdict #1): process-tree
        # CPU-seconds per query (JVM + python workers). Wall >> cpu/cores on
        # a quiet box is scheduler wait, not engine work — compare cpu
        # round-over-round to separate machine noise from engine change.
        "queries_cpu": cpu,
        "queries_cpu_best": cpu_best,
        "value_cpu": round(sum(cpu.values()), 3),
        "reps": reps,
        "n_queries": len(timings),
        "sf": sf,
        # machine-checkable contention classification (r8 verdict #2):
        # per-rep paired totals + a sweep-level quiet flag. quiet=false ⇒
        # wall totals are contention-polluted; judge on queries_cpu.
        "rep_totals": rep_totals,
        "foreign_cpu_fraction": sweep_frac,
        "quiet": sweep_quiet,
        # per-query CPU-second moves >1.5× vs the PRIOR committed run —
        # genuine engine regressions (CPU is contention-immune); empty
        # means no regression regardless of what wall did
        "cpu_regressions": classify_cpu_regressions(prev_cpu, cpu),
    }
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"), "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)

    print(compact_summary_line(full))
    spark.stop()


#: headline queries for the stdout line (detail lives in BENCH_FULL.json)
HEADLINE = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q18_large_volume_customers", "flagship_scoped_members",
    "j1_wide_pivot_nullpad", "llm_dedup_exact", "llm_dedup_minhash_lsh",
    "llm_dedup_ngram_jaccard", "llm_dedup_simhash",
    "llm_dedup_embedding_cosine", "llm_sim_bruteforce_topk",
    "llm_sim_ivf_kmeans_topk", "llm_dedup_clusters",
    "llm_dedup_cluster_canonical", "llm_decontaminate_overlap",
    "llm_quality_gopher", "llm_boilerplate_spans", "llm_pack_sequences",
    "events_hourly_agg", "events_sessionization",
    "streaming_hourly_agg", "asof_click_to_view",
    "llm_dedup_semantic", "llm_repetition_signals",
    "er_fuzzy_name_pairs", "q6_forecast_revenue", "q21_waiting_suppliers",
]

#: the driver records only the last 2000 chars of bench stdout; the r9 line
#: (headline wall + headline cpu + rep_totals + cpu_regressions) outgrew it
#: and BENCH_r09.json landed with parsed:null (r9 verdict #3). Budget with
#: margin for the driver's own wrapping.
STDOUT_LINE_BUDGET = 1800


def compact_summary_line(full: dict) -> str:
    """ONE parseable JSON line for the driver: the contract keys
    (metric/value/unit/queries/sf) plus the small scalar summary fields —
    never the per-query cpu/best maps, rep totals, or regression detail
    (those live in BENCH_FULL.json). Headline queries are dropped from the
    end until the line fits STDOUT_LINE_BUDGET, so the driver-side
    artifact can never lose its parsed totals to a long registry again."""
    timings = full["queries"]
    compact = {
        "metric": full["metric"],
        "value": full["value"],
        "unit": full["unit"],
        "queries": {k: timings[k] for k in HEADLINE if k in timings},
        "sf": full["sf"],
        "n_queries": full["n_queries"],
        "value_cpu": full["value_cpu"],
        "reps": full["reps"],
        "quiet": full["quiet"],
        "foreign_cpu_fraction": full["foreign_cpu_fraction"],
        "n_cpu_regressions": len(full.get("cpu_regressions", {})),
        # the effective $SPARK_GRAFT_CPUS contract, driver-visible (r12
        # PERF scaling block asked for exactly this)
        "cpus": full.get("cpus"),
        "master": full.get("master"),
        "default_parallelism": full.get("default_parallelism"),
        "queries_full": "BENCH_FULL.json",
    }
    line = json.dumps(compact)
    while len(line) > STDOUT_LINE_BUDGET and compact["queries"]:
        compact["queries"].popitem()
        line = json.dumps(compact)
    return line


if __name__ == "__main__":
    main()
