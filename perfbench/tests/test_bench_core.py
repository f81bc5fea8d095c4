"""Tests for the benchmark's own code (no Spark session needed).

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os

import pandas as pd
import pytest

from perfbench import gen, probes, select_sweep, stats
from perfbench.run import Client
from perfbench.trace import Span, Tracer, self_times
from perfbench.workloads import Frame, Op, ordered


# ---------------------------------------------------------------- percentiles

def test_percentile_needs_ten_samples_beyond():
    assert stats.min_samples_for(90) == 100
    assert stats.min_samples_for(50) == 20
    samples = [float(i) for i in range(1, 101)]
    assert stats.percentile(samples, 90) == 90.0  # 10 samples beyond
    with pytest.raises(ValueError, match="need 10"):
        stats.percentile(samples[:99], 90)  # only 9 beyond
    assert stats.percentile(samples[:20], 50) == 10.0
    with pytest.raises(ValueError):
        stats.percentile(samples[:19], 50)


def test_percentile_nearest_rank_without_the_rule():
    assert stats.percentile([3.0, 1.0, 2.0], 50, min_beyond=0) == 2.0
    assert stats.percentile([float(i) for i in range(10)], 90, min_beyond=0) == 8.0


def test_quartile_spread():
    assert stats.quartile_spread([10.0] * 10) == 0.0
    assert stats.quartile_spread([8.0, 9.0, 10.0, 11.0, 12.0]) == pytest.approx(0.3)


def test_compare_refuses_other_shapes():
    base = {"workload": "sweep_light", "cpus": 4, "master": "local[4]",
            "default_parallelism": 4, "sf": 0.01, "passes": 3, "trace": 0,
            "seed": 1, "git_commit": "a", "e2e": {"wall_s": 2.0}}
    head = dict(base, seed=2, git_commit="b", e2e={"wall_s": 3.0})
    # seed and commit are recorded, not part of the shape
    assert stats.compare_results(base, head)["wall_s"]["ratio"] == 1.5
    for key, other in (("cpus", 8), ("master", "local[8]"), ("sf", 0.1), ("passes", 5),
                       ("default_parallelism", 8), ("workload", "aci_sync")):
        with pytest.raises(ValueError, match=key):
            stats.compare_results(base, dict(head, **{key: other}))
    runs = [dict(base, e2e={"wall_s": v}) for v in (1.0, 2.0, 3.0, 4.0, 5.0)]
    assert stats.spread(runs)["wall_s"]["median"] == 3.0


# ---------------------------------------------------------------- generators

def _digest(d: str) -> dict[str, str]:
    return {f: hashlib.md5(open(os.path.join(d, f), "rb").read()).hexdigest()
            for f in sorted(os.listdir(d))}


def test_star_generator_is_seeded(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    sizes = gen.write_star(a, 0.001, seed=5)
    gen.write_star(b, 0.001, seed=5)
    gen.write_star(c, 0.001, seed=6)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)
    # the seed moves values, never sizes
    assert sizes == gen.write_star(str(tmp_path / "d"), 0.001, seed=6)
    assert pd.read_parquet(os.path.join(a, "lineitem.parquet")).shape[0] == sizes["lineitem"]


def test_aci_generator_is_seeded_with_fixed_mutation_sizes(tmp_path):
    one = gen.write_aci(str(tmp_path / "1"), seed=3, tiles=2)
    two = gen.write_aci(str(tmp_path / "2"), seed=3, tiles=2)
    other = gen.write_aci(str(tmp_path / "3"), seed=4, tiles=2)
    assert _digest(one[0]) == _digest(two[0]) and _digest(one[1]) == _digest(two[1])
    assert _digest(one[1]) != _digest(other[1])
    for run in (one, other):
        cat, mut = run[2], run[3]
        assert len(mut["users"]) - len(cat["users"]) == 2 * gen.N_INSERT
        assert len(cat["member_search"]) - len(mut["member_search"]) == 2 * (gen.N_DELETE - gen.N_INSERT)
        # tiles never share a person key or an email
        assert cat["users"]["uid"].is_unique
        mails = cat["users"]["mail"].dropna()
        assert mails[mails.str.contains("@")].str.strip().str.lower().is_unique


def test_op_order_is_a_seeded_permutation():
    names = list("abcdefgh")
    orders = {tuple(ordered(names, seed)) for seed in range(20)}
    assert all(sorted(o) == names for o in orders)
    assert len(orders) > 10
    assert ordered(names, 7) == ordered(names, 7)


# ---------------------------------------------------------------- sweep_light's op set

def test_sweep_pick_takes_every_step_th_checkable_query():
    pop = {f"q{i:02d}": i / 100 for i in range(20)}
    pop.update({"a99": 0.0, select_sweep.WARM_UP_QUERY: 0.05, "events_ctr_wilson": 0.0})
    got = select_sweep.pick(pop, sql_oracle=set(pop) - {"q04"})
    checkable = ["a99"] + [f"q{i:02d}" for i in range(20) if i != 4]
    assert got == checkable[::select_sweep.STEP]
    assert select_sweep.population({"q1_x": 1.19, "q2_x": 1.2, "llm_x": 0.1, "q3_x": None}) == {"q1_x": 1.19}


def test_frozen_sweep_light_follows_its_rule():
    with open(select_sweep.FROZEN) as f:
        frozen = json.load(f)
    assert select_sweep.population(frozen["population"]) == frozen["population"]
    assert select_sweep.pick(frozen["population"], set(frozen["sql_oracle"])) == frozen["selected"]
    assert frozen["additions"] == select_sweep.ADDITIONS
    assert select_sweep.warm_up(frozen["population"], set(frozen["sql_oracle"])) == frozen["warm_up"]
    assert select_sweep.load() == frozen
    ops = frozen["selected"] + list(frozen["additions"])
    assert len(set(ops)) == len(ops) and not set(frozen["warm_up"]) & set(ops)


# ---------------------------------------------------------------- fail_ratio

class _Ctx:
    def setJobGroup(self, *a):
        pass

    def setLocalProperty(self, *a):
        pass


class _Spark:
    sparkContext = _Ctx()
    _jvm = None


def test_wrong_op_counts_as_failed(monkeypatch):
    from tests.oracle_compare import compare

    monkeypatch.setattr(probes, "gc_reading", lambda jvm: (0, 0.0))
    oracle = pd.DataFrame({"k": [1, 2], "v": [10.0, 20.0]})
    right = Op("right", lambda: oracle.copy(), lambda out: compare(Frame(out), Frame(oracle)))
    wrong = Op("wrong", lambda: oracle.assign(v=[10.0, 21.0]),
               lambda out: compare(Frame(out), Frame(oracle)))
    crash = Op("crash", lambda: 1 / 0)
    client = Client(_Spark(), Tracer(enabled=False))
    rec = client.run_pass([right, wrong, crash], traced=False)
    assert rec["failed"] == 2
    errors = {o["op"]: o["error"] for o in rec["ops"]}
    assert errors["right"] is None
    assert "21.0" in errors["wrong"]
    assert errors["crash"].startswith("ZeroDivisionError")
    assert rec["failed"] / len(rec["ops"]) == pytest.approx(2 / 3)


# ---------------------------------------------------------------- spans

def test_self_time_subtracts_merged_children():
    spans = [
        Span(0, "op", 0.0, 10.0, None, "x"),
        Span(1, "build", 1.0, 4.0, 0, "x"),
        Span(2, "read", 2.0, 3.0, 1, "x"),
        Span(3, "exec", 3.5, 6.0, 0, "x"),  # overlaps build: merged, not double-counted
        Span(4, "late", 9.0, 12.0, 0, "x"),  # clipped to the parent's end
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (6.0 - 1.0) - (10.0 - 9.0))
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(1.0)


def test_tracer_nests_and_disables():
    t = iter(range(100))
    tr = Tracer(clock=lambda: float(next(t)))
    tr.op = "op1"
    with tr.span("outer"):
        with tr.span("inner"):
            assert tr.inside("out")
        tr.count("calls")
    assert [(s.name, s.parent, s.op) for s in tr.spans] == [("outer", None, "op1"), ("inner", 0, "op1")]
    assert tr.totals() == {"outer": 3.0, "inner": 1.0}
    off = Tracer(enabled=False)
    with off.span("x"):
        off.count("y")
    assert off.spans == [] and not off.counts
