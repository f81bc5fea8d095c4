"""Machine-checkable bench conventions (r8 verdict #2): the quiet-box
classifier (foreign-CPU fraction of box capacity) and the CPU-seconds
regression gate (>1.5x vs the prior committed run, jitter floor, new
queries skipped). Pure functions in bench.py — no Spark session."""

from __future__ import annotations

import bench


def test_classify_quiet_thresholds():
    # 10 foreign core-seconds over 100 s on 32 cores: 0.3% — quiet
    frac, quiet = bench.classify_quiet(10.0, 100.0, 32)
    assert quiet and frac == 0.0031
    # a neighbor burning 10 cores for the whole run: 31% — contended
    frac, quiet = bench.classify_quiet(1000.0, 100.0, 32)
    assert not quiet and frac == 0.3125
    # boundary: exactly the threshold is NOT quiet (strict <)
    frac, quiet = bench.classify_quiet(0.15 * 3200, 100.0, 32)
    assert not quiet
    # negative deltas (orphan-reparenting artifacts) clamp to quiet-zero
    frac, quiet = bench.classify_quiet(-5.0, 100.0, 32)
    assert quiet and frac == 0.0


def test_classify_cpu_regressions_gate():
    prev = {"a": 1.0, "b": 0.05, "c": 2.0, "gone": 4.0, "z": 0.0}
    now = {"a": 1.7, "b": 0.12, "c": 2.9, "new": 9.9, "z": 3.0}
    out = bench.classify_cpu_regressions(prev, now)
    # a: 1.7x and +0.7s — flagged; b: baseline under the 0.2s floor —
    # skipped; c: 1.45x — under the ratio gate; new: no baseline —
    # skipped; z: prev=0.0 is a clamp artifact, not a baseline — skipped
    # (the first r9 run printed ratio 3e9 for exactly this case)
    assert set(out) == {"a"}
    assert out["a"] == {"prev": 1.0, "now": 1.7, "ratio": 1.7}
    # sub-min_delta absolute moves are jitter even at ratio > 1.5
    out = bench.classify_cpu_regressions({"d": 0.57}, {"d": 1.01})
    assert out == {}
    # a real move on a cheap query still flags once it clears both gates
    out = bench.classify_cpu_regressions({"d": 0.4}, {"d": 1.2})
    assert out["d"]["ratio"] == 3.0


def test_classify_cpu_regressions_empty_baseline():
    assert bench.classify_cpu_regressions({}, {"a": 5.0}) == {}


def test_system_busy_seconds_monotonic():
    a = bench._system_busy_seconds()
    b = bench._system_busy_seconds()
    assert b >= a >= 0.0


def test_compact_summary_line_fits_driver_tail():
    """r9 verdict #3: the driver keeps only the last 2000 chars of bench
    stdout — the summary line must parse even for a huge registry, keeping
    the contract keys and dropping headline queries before overflowing."""
    import json

    timings = {f"query_with_a_rather_long_name_{i:04d}": 1.234 for i in range(400)}
    timings.update({k: 0.5 for k in bench.HEADLINE})
    full = {
        "metric": "total_query_wall_seconds",
        "value": 123.4,
        "unit": "sec",
        "queries": timings,
        "sf": 0.1,
        "n_queries": len(timings),
        "value_cpu": 456.7,
        "reps": 3,
        "quiet": True,
        "foreign_cpu_fraction": 0.013,
        "cpu_regressions": {f"r{i}": {"prev": 1, "now": 2, "ratio": 2} for i in range(40)},
    }
    line = bench.compact_summary_line(full)
    assert len(line) <= bench.STDOUT_LINE_BUDGET
    parsed = json.loads(line)
    for key in ("metric", "value", "unit", "queries", "sf", "n_queries"):
        assert key in parsed
    assert parsed["queries"]  # headline subset survives the budget
    assert parsed["n_cpu_regressions"] == 40
    assert "rep_totals" not in parsed and "queries_cpu" not in parsed


def test_cpu_baseline_requires_same_run_shape():
    """The committed baseline is used only for a run of the same sf, reps,
    core count and master: an 8-core baseline must not judge a 32-core run."""
    prev = {"sf": 0.1, "reps": 3, "cpus": 8, "master": "local[8]",
            "queries_cpu": {"a": 1.0}}
    same = {"sf": 0.1, "reps": 3, "cpus": 8, "master": "local[8]"}
    assert bench.baseline_cpu(prev, same) == {"a": 1.0}
    for key, other in (("sf", 0.01), ("reps", 1), ("cpus", 32), ("master", "local[32]")):
        assert bench.baseline_cpu(prev, {**same, key: other}) == {}, key
    # a baseline written before the file recorded its core count matches nothing
    legacy = {k: v for k, v in prev.items() if k not in ("cpus", "master")}
    assert bench.baseline_cpu(legacy, same) == {}
