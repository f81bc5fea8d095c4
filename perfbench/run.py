"""Benchmark entry point.

    python3 perfbench/run.py --workload {aci_sync,sweep_light} --seed N \
        [--seconds S] --trace {0,1}

Run from the repository root. One closed-loop client in this process drives
the program on ``local[<cores>]``: it generates the workload's inputs from
the seed, sets up (Spark session, program imports, JVM warm-up for
sweep_light), runs one timed pass, checks every operation's output
untimed, and prints as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones.
The full record (run shape, every op's latency and error, spans) goes to
``.perfbench/results/``. A pass is a fixed amount of work; ``--seconds``
is recorded and does not change it. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS = os.path.join(ROOT, ".perfbench", "results")
sys.path.insert(0, ROOT)

from perfbench import probes, stats  # noqa: E402
from perfbench.trace import Tracer, instrument  # noqa: E402
from perfbench.workloads import AciSync, SweepLight  # noqa: E402

#: files of the program the benchmark drives; without them it cannot run
REQUIRED = ("aci_export_spark/harness.py", "aci_export_spark/sync/app_sync.py",
            "tests/aci_fixtures.py", "tests/oracle_compare.py")

WORKLOADS = {"aci_sync": AciSync, "sweep_light": SweepLight}

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "cpu_s": "s", "rows_per_s": "1/s"}
ENTITIES = ("regions", "clubs", "users", "members", "addresses", "brns", "leadership_club")
LAYER_UNITS = {
    "harness.build_s": "s", "harness.plan_s": "s", "harness.eager_actions": "count",
    "harness.eager_s": "s", "sources.read_table_calls": "count", "sources.read_table_s": "s",
    "localrows.calls": "count", "localrows.s": "s", "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms", "scheduler.jobs": "count",
    "scheduler.stages": "count", "scheduler.tasks": "count", "codegen.compiles": "count",
    "codegen.compile_ms": "ms", "executor.run_s": "s", "executor.cpu_s": "s",
    "shuffle.read_mb": "MB", "shuffle.write_mb": "MB", "spill.mb": "MB", "driver.cpu_s": "s",
    "jvm.cpu_s": "s", "pyworker.cpu_s": "s", "artifacts.hits": "count",
    "artifacts.misses": "count", "artifacts.persists": "count", "streaming.batches": "count",
    "streaming.input_rows": "count", "streaming.state_rows": "count", "streaming.batch_ms": "ms",
    **{f"app_sync.entity_s.{e}": "s" for e in ENTITIES},
    "app_sync.upserted": "count", "app_sync.deleted": "count", "mirror.bytes_written": "bytes",
    "mail_sync.job_s": "s", "rest.batches": "count", "rest.items": "count",
    "rest.retries": "count", "queries.lookup_s": "s", "trace.overhead_s": "s",
}


class LeakError(RuntimeError):
    pass


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def git_commit() -> str | None:
    """HEAD of the checkout when it is its own git work tree, else None."""
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    lines = out.stdout.split()
    if out.returncode or len(lines) != 2 or os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return None
    return lines[1]


def source_digest() -> str:
    """sha256 over the sources of the program and of this benchmark (its
    frozen op list included), so a record names the code it measured even
    where there is no git history."""
    import hashlib

    h = hashlib.sha256()
    paths = [os.path.join(ROOT, f) for f in REQUIRED if f.startswith("tests/")]
    for top in ("aci_export_spark", "perfbench"):
        for d, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(x for x in dirs if x != "tests")
            paths += [os.path.join(d, f) for f in sorted(files) if f.endswith((".py", ".json"))]
    for path in paths:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def start_spark(work: str, event_log: str | None):
    from aci_export_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if event_log:
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_log,
                     "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def reset(spark) -> dict:
    """Before the timed pass: drop every shared artifact, tracked persist
    and cached plan left by set-up, then wait for Spark to release their
    blocks. A persisted plan that survives fails the run: it is the leak
    that lets a later query read earlier work (the CacheManager matches
    plans). A surviving local checkpoint cannot be matched by any plan; it
    is released here and counted in the record."""
    from aci_export_spark import artifacts, harness_llm

    t0 = time.monotonic()
    artifacts._CACHE.clear()
    harness_llm._KMEANS_MODEL_CACHE.clear()
    harness_llm._PQ_CODEBOOK_CACHE.clear()
    harness_llm._FIT_SAMPLE_CACHE.clear()
    artifacts.release_tracked()
    spark.catalog.clearCache()
    # Python drops its proxies lazily: py4j's finalizer thread tells the JVM
    # asynchronously, and only then can a JVM GC let the ContextCleaner
    # unpersist. Wait for both before judging.
    client = spark.sparkContext._gateway._gateway_client
    deadline = t0 + 1
    while True:
        gc.collect()
        while getattr(client, "finalizer_deque", None) and time.monotonic() < deadline:
            time.sleep(0.05)
        spark._jvm.System.gc()
        time.sleep(0.05)
        left = spark.sparkContext._jsc.getPersistentRDDs()
        if not left or time.monotonic() > deadline:
            break
    survivors = {k: left[k].rdd().toDebugString() for k in list(left.keys())}
    persisted = [d for d in survivors.values() if "LocalCheckpointRDD" not in d]
    if persisted:
        raise LeakError(f"{len(persisted)} persisted RDDs survive the reset: "
                        f"{[d[:300] for d in persisted[:3]]}")
    for k in survivors:
        left[k].unpersist(True)
    return {"reset_s": time.monotonic() - t0, "checkpoints_released": len(survivors)}


class Client:
    """The closed-loop client: one op at a time, each under its own Spark
    job group, latencies held in memory."""

    def __init__(self, spark, tracer: Tracer):
        self.spark, self.sc, self.tracer = spark, spark.sparkContext, tracer
        self.stream_groups: dict[str, str] = {}
        self.phases_ms = {p: 0.0 for p in probes.PHASES}

    def on_action(self, df) -> None:
        try:
            for k, v in probes.catalyst_phases_ms(df).items():
                self.phases_ms[k] += v
        except Exception:  # noqa: BLE001 - a frame without a QueryExecution has no phases
            pass

    def run_pass(self, ops, traced: bool, w=None) -> dict:
        tr = self.tracer
        tr.enabled = traced
        span0, counts0 = len(tr.spans), dict(tr.counts)
        phases0 = dict(self.phases_ms)
        code0 = probes.codegen_reading(self.spark._jvm) if traced else (0, 0.0)
        cpu0 = probes.cpu_split()
        gc0 = probes.gc_reading(self.spark._jvm)
        t0 = time.perf_counter()
        done = []
        for i, op in enumerate(ops):
            gid = f"pb-{i}-{op.name}"
            self.sc.setJobGroup(gid, op.name)
            tr.op = gid
            a = time.perf_counter()
            try:
                out, err = op.run(), None
            except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                out, err = None, f"{type(e).__name__}: {e}"
            done.append((op, out, err, gid, time.perf_counter() - a))
        wall = time.perf_counter() - t0
        cpu1 = probes.cpu_split()
        gc1 = probes.gc_reading(self.spark._jvm)
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        tr.op = None
        rec = {
            "traced": traced, "wall_s": wall,
            "cpu_s": cpu1["total"] - cpu0["total"],
            "jvm_gc": {"collections": gc1[0] - gc0[0], "s": gc1[1] - gc0[1]},
            "ops": [{"op": op.name, "group": gid, "latency_s": lat, "error": err}
                    for op, _, err, gid, lat in done],
        }
        if traced:
            # streaming progress reaches the listener through the bus
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
            code1 = probes.codegen_reading(self.spark._jvm)
            counts = {k: v - counts0.get(k, 0.0) for k, v in tr.counts.items()}
            totals = tr.totals(span0)
            rec["layers"] = layer_metrics(counts, totals, rec, cpu0, cpu1, code0, code1,
                                          {k: self.phases_ms[k] - phases0[k] for k in phases0})
        # untimed correctness checks
        c0 = time.perf_counter()
        rows = failed = 0
        for (op, out, err, _, _), o in zip(done, rec["ops"]):
            if err is None:
                try:
                    problems = op.check(out)
                    rows += op.rows(out)
                except Exception as e:  # noqa: BLE001 - a check that crashes is a failed op
                    problems = [f"check raised {type(e).__name__}: {e}"]
                if problems:
                    o["error"] = "; ".join(map(str, problems[:3]))
            failed += o["error"] is not None
        rec["rows"], rec["failed"], rec["check_s"] = rows, failed, time.perf_counter() - c0
        if traced:
            rec["layers"].update(w.pass_counts({op.name: out for op, out, *_ in done}))
        return rec


def layer_metrics(counts, totals, rec, cpu0, cpu1, code0, code1, phases) -> dict:
    build = totals.get("harness.build", 0.0)
    eager = counts.get("harness.eager_s", 0.0)
    lookups = sum(o["latency_s"] for o in rec["ops"] if o["op"].startswith("lookup_"))
    out = {
        "harness.build_s": build, "harness.plan_s": build - eager,
        "harness.eager_actions": counts.get("harness.eager_actions", 0.0), "harness.eager_s": eager,
        "sources.read_table_calls": counts.get("sources.read_table.calls", 0.0),
        "sources.read_table_s": totals.get("sources.read_table", 0.0),
        "localrows.calls": counts.get("localrows.calls", 0.0), "localrows.s": totals.get("localrows", 0.0),
        "catalyst.analysis_ms": phases["analysis"], "catalyst.optimization_ms": phases["optimization"],
        "catalyst.planning_ms": phases["planning"],
        "codegen.compiles": code1[0] - code0[0], "codegen.compile_ms": code1[1] - code0[1],
        "driver.cpu_s": cpu1["driver"] - cpu0["driver"], "jvm.cpu_s": cpu1["jvm"] - cpu0["jvm"],
        "pyworker.cpu_s": cpu1["pyworker"] - cpu0["pyworker"],
        "artifacts.hits": counts.get("artifacts.hits", 0.0),
        "artifacts.misses": counts.get("artifacts.misses", 0.0),
        "artifacts.persists": counts.get("artifacts.persists", 0.0),
        "mail_sync.job_s": totals.get("mail_sync.job", 0.0), "queries.lookup_s": lookups,
        "mirror.bytes_written": counts.get("mirror.bytes_written", 0.0),
    }
    for k in ("streaming.batches", "streaming.input_rows", "streaming.state_rows", "streaming.batch_ms"):
        out[k] = counts.get(k, 0.0)
    # the sync layers' own numbers come from Workload.pass_counts; these
    # are their values on a workload that does not sync
    for k in ("app_sync.upserted", "app_sync.deleted", "rest.batches", "rest.items", "rest.retries",
              *(f"app_sync.entity_s.{e}" for e in ENTITIES)):
        out[k] = 0.0
    return out


def scheduler_counts(client: Client, rec: dict) -> dict:
    """Jobs/stages/tasks of the pass's ops, streams they started included."""
    groups = pass_groups(client, rec)
    c = probes.group_counts(client.sc, groups)
    return {"scheduler.jobs": c["jobs"], "scheduler.stages": c["stages"], "scheduler.tasks": c["tasks"]}


def pass_groups(client: Client, rec: dict) -> set[str]:
    gids = {o["group"] for o in rec["ops"]}
    return gids | {run for run, gid in client.stream_groups.items() if gid in gids}


def end_to_end(rec: dict, setup_s: float) -> dict:
    return {
        "setup_s": setup_s,
        "wall_s": rec["wall_s"],
        "cpu_s": rec["cpu_s"],
        "rows_per_s": rec["rows"] / rec["wall_s"],
    }


def stored_untraced_wall(results_dir: str, match: dict) -> float | None:
    """Median wall_s of the untraced results already recorded in this
    checkout that match the traced run's workload, shape and source digest,
    so only untraced runs of the same code count (a cold pass cannot be
    repeated in-process to pair it with the traced one)."""
    walls = []
    for name in os.listdir(results_dir) if os.path.isdir(results_dir) else ():
        try:
            with open(os.path.join(results_dir, name)) as f:
                r = json.load(f)
        except (OSError, ValueError):
            continue
        if r.get("trace") == 0 and all(r.get(k) == v for k, v in match.items()):
            walls.append(r["e2e"]["wall_s"])
    return statistics.median(walls) if walls else None


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM (it exits when its stdin
    closes) so no process outlives the run."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None and getattr(gw, "proc", None) is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def run(w, args, work: str) -> dict:
    t_in = time.perf_counter()
    inputs = w.inputs(work, args.seed)  # input generation is not set-up
    inputs_s = time.perf_counter() - t_in
    tracer = Tracer(enabled=False)
    event_log = os.path.join(work, "events") if args.trace else None
    if event_log:
        os.makedirs(event_log)
    t0 = time.perf_counter()
    spark = start_spark(work, event_log)
    patches = None
    try:
        w.setup(spark)
        reset_info = reset(spark)
        setup_s = time.perf_counter() - t0
        client = Client(spark, tracer)
        ops = w.ops(args.seed, tracer)
        if args.trace:
            patches = instrument(tracer, client.on_action)
            spark.streams.addListener(probes.streaming_listener(tracer, client.stream_groups))
        rec = client.run_pass(ops, traced=bool(args.trace), w=w)
        if args.trace:
            patches.restore()
            patches = None
            rec["layers"].update(scheduler_counts(client, rec))
        # recorded, not reported: the JVM's heap growth makes it spread
        # 16-32% from run to run on a small shared box
        rss_peak_mb = probes.rss_peak_mb()
        shape = {
            "cpus": int(os.environ["SPARK_GRAFT_CPUS"]), "master": spark.sparkContext.master,
            "default_parallelism": spark.sparkContext.defaultParallelism,
        }
        e2e = {} if args.trace else end_to_end(rec, setup_s)
    finally:
        if patches is not None:
            patches.restore()
        t_stop = time.perf_counter()
        stop_spark(spark)
        stop_s = time.perf_counter() - t_stop
    layers, overhead_ref, digest = {}, None, source_digest()
    if args.trace:
        layers = rec["layers"]
        by_group = probes.parse_event_log(event_log)
        for k in ("executor.run_s", "executor.cpu_s", "shuffle.read_mb", "shuffle.write_mb", "spill.mb"):
            layers[k] = sum(by_group.get(g, {}).get(k, 0.0) for g in pass_groups(client, rec))
        untraced = stored_untraced_wall(RESULTS, {"workload": w.name, **shape, "sf": w.sf,
                                                  "source_digest": digest})
        # without an untraced reference the overhead is not measured; the
        # record says so and the metric reads 0
        overhead_ref = untraced is not None
        layers["trace.overhead_s"] = rec["wall_s"] - untraced if overhead_ref else 0.0
    lat = [o["latency_s"] for o in rec["ops"]]
    return {
        "workload": w.name, "seed": args.seed, "trace": args.trace, "seconds": args.seconds,
        # one pass per run, recorded so results of another pass count are refused
        **shape, "sf": w.sf, "passes": 1, "git_commit": git_commit(),
        "source_digest": digest, "inputs": inputs,
        "attempted": len(rec["ops"]), "failed": rec["failed"],
        "fail_ratio": rec["failed"] / len(rec["ops"]),
        "trace_overhead_measured": overhead_ref,
        "timeline_s": {"inputs": inputs_s, "setup": setup_s, "stop": stop_s,
                       "total": time.perf_counter() - t_in},
        "reset": reset_info, "rss_peak_mb": rss_peak_mb,
        # a run holds too few ops for a percentile with ten samples beyond
        # it, so per-op latency is recorded with its sample count, not reported
        "op_latency": {
            "samples": len(lat), "p50_s": stats.percentile(lat, 50, min_beyond=0),
            "p90_s": stats.percentile(lat, 90, min_beyond=0),
            "p50_meets_rule": len(lat) >= stats.min_samples_for(50),
            "p90_meets_rule": len(lat) >= stats.min_samples_for(90),
        },
        "e2e": e2e, "layers": layers, "pass": rec, "spans": tracer.dump(),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [f for f in REQUIRED if not os.path.exists(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: program files missing under {ROOT}: {missing}", file=sys.stderr)
        return 2
    w = WORKLOADS[args.workload]()
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work", f"{w.name}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cores()))
    try:
        record = run(w, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(RESULTS, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    path = os.path.join(RESULTS, f"{w.name}-s{args.seed}-t{args.trace}-{stamp}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    metrics = record["layers"] if args.trace else record["e2e"]
    units = LAYER_UNITS if args.trace else E2E_UNITS
    print(json.dumps({"record": os.path.relpath(path, ROOT), "fail_ratio": record["fail_ratio"],
                      "op_latency": record["op_latency"], "timeline_s": record["timeline_s"]}))
    print(json.dumps({
        "correct": record["failed"] == 0, "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
