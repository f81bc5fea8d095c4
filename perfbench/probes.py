"""Readings taken from outside the program: the /proc process tree and
Spark's own counters (status tracker, Catalyst phase tracker, codegen
metrics, the event log and streaming progress)."""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

# ---------------------------------------------------------------------------
# /proc
# ---------------------------------------------------------------------------


def _proc_table() -> dict[int, dict]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                s = f.read().decode("ascii", "replace")
        except OSError:
            continue  # raced a process exit
        # comm may hold spaces or parens: fields resume after the last ')'
        rest = s[s.rindex(")") + 2:].split()
        out[int(d)] = {
            "comm": s[s.index("(") + 1: s.rindex(")")],
            "ppid": int(rest[1]),
            "self": int(rest[11]) + int(rest[12]),
            "children": int(rest[13]) + int(rest[14]),
        }
    return out


def _descendants(table: dict[int, dict], root: int) -> set[int]:
    kids = defaultdict(list)
    for pid, p in table.items():
        kids[p["ppid"]].append(pid)
    out, todo = set(), [root]
    while todo:
        pid = todo.pop()
        out.add(pid)
        todo.extend(kids[pid])
    return out


def cpu_split() -> dict[str, float]:
    """CPU-seconds so far of this process tree, split into the driver
    (this Python process), the JVM, and Python workers (everything below
    the JVM). Reaped children count through their parent's cutime/cstime."""
    tick = os.sysconf("SC_CLK_TCK")
    table = _proc_table()
    me = os.getpid()
    tree = _descendants(table, me)
    jvms = [pid for pid in tree if table[pid]["comm"] == "java"]
    below_jvm: set[int] = set()
    for j in jvms:
        below_jvm |= _descendants(table, j) - {j}
    driver = table[me]["self"]
    jvm = sum(table[j]["self"] for j in jvms)
    workers = sum(table[p]["self"] + table[p]["children"] for p in below_jvm)
    other = sum(table[p]["self"] + table[p]["children"] for p in tree - below_jvm - set(jvms) - {me})
    return {
        "driver": driver / tick,
        "jvm": jvm / tick,
        "pyworker": workers / tick,
        "total": (driver + jvm + workers + other) / tick,
    }


def rss_peak_mb() -> float:
    """Sum of peak resident set size (VmHWM) over the live process tree."""
    total_kb = 0
    table = _proc_table()
    for pid in _descendants(table, os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


# ---------------------------------------------------------------------------
# Spark counters
# ---------------------------------------------------------------------------


def group_counts(sc, groups) -> dict[str, int]:
    """Jobs, stages and tasks started under the given job groups."""
    st = sc.statusTracker()
    jobs = stages = tasks = 0
    seen: set[int] = set()
    for g in groups:
        for jid in st.getJobIdsForGroup(g):
            info = st.getJobInfo(jid)
            jobs += 1
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                si = st.getStageInfo(sid)
                stages += 1
                tasks += si.numTasks if si else 0
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


PHASES = ("analysis", "optimization", "planning")


def catalyst_phases_ms(df) -> dict[str, float]:
    """Catalyst phase durations recorded by the DataFrame's QueryExecution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for p in PHASES:
        opt = phases.get(p)
        out[p] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def codegen_reading(jvm) -> tuple[int, float]:
    """(compiles so far, compile ms so far) from CodegenMetrics. The
    histogram keeps every sample until its reservoir (1028) fills; past that
    the sum is estimated from the count and the sampled mean."""
    h = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    n = h.getCount()
    snap = h.getSnapshot()
    total = float(sum(snap.getValues())) if n <= 1028 else n * snap.getMean()
    return int(n), total


def gc_reading(jvm) -> tuple[int, float]:
    """(collections so far, collection seconds so far) of the driver JVM,
    summed over its garbage collectors."""
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return (sum(b.getCollectionCount() for b in beans),
            sum(b.getCollectionTime() for b in beans) / 1000.0)


def parse_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: executor run/CPU seconds, shuffle read/write and spill
    MB, summed over task-end events of the stages the group's jobs ran."""
    stage_group: dict[int, str] = {}
    per = defaultdict(lambda: defaultdict(float))
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    for sid in ev.get("Stage IDs", ()):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    g = per[stage_group.get(ev.get("Stage ID"), "")]
                    g["executor.run_s"] += m.get("Executor Run Time", 0) / 1e3
                    g["executor.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    r = m.get("Shuffle Read Metrics") or {}
                    g["shuffle.read_mb"] += (r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)) / 2**20
                    w = m.get("Shuffle Write Metrics") or {}
                    g["shuffle.write_mb"] += w.get("Shuffle Bytes Written", 0) / 2**20
                    g["spill.mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 2**20
    return {k: dict(v) for k, v in per.items()}


def streaming_listener(tracer, run_groups: dict[str, str]):
    """A StreamingQueryListener that counts micro-batches, input rows,
    state rows and batch time, and maps each stream's run id (its job
    group) to the op that started it."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            run_groups[str(event.runId)] = tracer.op or ""

        def onQueryProgress(self, event):
            p = event.progress
            tracer.count("streaming.batches")
            tracer.count("streaming.input_rows", p.numInputRows)
            tracer.count("streaming.batch_ms", p.batchDuration)
            tracer.count("streaming.state_rows", sum(s.numRowsTotal for s in p.stateOperators))

        def onQueryTerminated(self, event):
            pass

    return Listener()
