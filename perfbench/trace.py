"""Outside-in tracing: spans and counters recorded around calls into the
program's public functions, without changing the program.

A span has a name, start, end, parent span and op id. Spans are held in
memory and written out when the run ends. ``instrument`` wraps module
functions (in every ``aci_export_spark`` module that imported them by name)
and DataFrame actions, so each layer's busy time and call count is measured
at its boundary.
"""

from __future__ import annotations

import functools
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Span and counter store. With ``enabled=False`` every call is a no-op,
    so untraced runs pay nothing but the attribute lookup."""

    def __init__(self, enabled: bool = True, clock=time.perf_counter):
        self.enabled = enabled
        self.clock = clock
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.op: str | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        s = Span(sid, name, self.clock(), 0.0, self._stack[-1] if self._stack else None, self.op)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = self.clock()

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counts[name] += n

    def inside(self, prefix: str) -> bool:
        """True when an open span's name starts with ``prefix``."""
        return any(self.spans[i].name.startswith(prefix) for i in self._stack)

    def totals(self, since: int = 0) -> dict[str, float]:
        """Summed duration per span name over spans[since:]."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans[since:]:
            out[s.name] += s.dur
        return out

    def dump(self) -> list[dict]:
        own = self_times(self.spans)
        return [
            {"id": s.id, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "op": s.op, "self": own[s.id]}
            for s in self.spans
        ]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span id: its duration minus the part of its interval
    covered by its children (overlapping children are merged first)."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted((max(c.start, s.start), min(c.end, s.end)) for c in kids[s.id]):
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = s.dur - covered
    return out


# ---------------------------------------------------------------------------
# instrumentation
# ---------------------------------------------------------------------------


class Patches:
    """Replaces a function everywhere it is bound by name in the program's
    modules; ``restore`` puts every original back."""

    def __init__(self):
        self._undo: list[tuple[object, str, object]] = []

    def replace(self, owner, attr: str, make):
        orig = getattr(owner, attr)
        new = functools.wraps(orig)(make(orig))
        targets = [owner]
        if isinstance(owner, type(sys)):
            targets += [
                m for name, m in list(sys.modules.items())
                if m is not None and name.startswith("aci_export_spark")
                and m is not owner and getattr(m, attr, None) is orig
            ]
        for t in targets:
            self._undo.append((t, attr, orig))
            setattr(t, attr, new)
        return orig

    def restore(self) -> None:
        for t, attr, orig in reversed(self._undo):
            setattr(t, attr, orig)
        self._undo.clear()


def timed(tracer: Tracer, name: str):
    """Wrapper factory: a span around every call, plus a call counter."""
    def make(orig):
        def wrapper(*a, **kw):
            tracer.count(name + ".calls")
            with tracer.span(name):
                return orig(*a, **kw)
        return wrapper
    return make


#: DataFrame / RDD methods that run a Spark job on the caller's behalf
DF_ACTIONS = ("collect", "count", "toPandas", "take", "first", "head", "localCheckpoint",
              "checkpoint", "foreach", "foreachPartition", "toLocalIterator")
RDD_ACTIONS = ("collect", "count", "take", "first", "foreachPartition", "foreach", "reduce",
               "collectAsMap", "isEmpty")


def instrument(tracer: Tracer, on_action=None) -> Patches:
    """Wrap each layer's public entry points. ``on_action(df)`` is called
    after every outermost DataFrame action (for Catalyst phase times)."""
    from pyspark import RDD
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    from aci_export_spark import artifacts, localrows, sources
    from aci_export_spark.sync import mail_sync, rest

    p = Patches()
    p.replace(sources, "read_table", timed(tracer, "sources.read_table"))
    p.replace(localrows, "local_rows_df", timed(tracer, "localrows"))
    p.replace(mail_sync, "run_job", timed(tracer, "mail_sync.job"))
    for sink in ("upsert_documents_sink", "retain_audience_sink", "update_tags_sink"):
        p.replace(rest, sink, timed(tracer, "rest." + sink))

    def persist_counter(orig):
        def wrapper(df):
            tracer.count("artifacts.persists")
            return orig(df)
        return wrapper

    p.replace(artifacts, "persist_tracked", persist_counter)

    def cache_probe(n_keys):
        # a shared artifact is a miss when its builder runs, a hit otherwise
        def make(orig):
            def wrapper(spark, key, build, *a, **kw):
                built = []

                def build_probe():
                    built.append(1)
                    return build()

                out = orig(spark, key, build_probe, *a, **kw)
                keys = n_keys(key)
                tracer.count("artifacts.misses" if built else "artifacts.hits", keys)
                return out
            return wrapper
        return make

    p.replace(artifacts, "shared_df", cache_probe(lambda key: 1))
    p.replace(artifacts, "shared_many", cache_probe(lambda keys: len(keys)))

    def write_parquet(orig):
        def wrapper(self, path, *a, **kw):
            out = orig(self, path, *a, **kw)
            if on_action is not None:
                on_action(self._df)
            # app_sync writes each entity's post-state to <mirror>/<entity>.parquet.tmp
            if str(path).endswith(".parquet.tmp"):
                tracer.count("mirror.bytes_written", sum(
                    os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs))
            return out
        return wrapper

    p.replace(DataFrameWriter, "parquet", write_parquet)

    def action(kind):
        def make(orig):
            def wrapper(self, *a, **kw):
                if not tracer.enabled or tracer.inside("action."):
                    return orig(self, *a, **kw)
                eager = tracer.inside("harness.build")
                if eager:
                    tracer.count("harness.eager_actions")
                with tracer.span("action." + kind) as s:
                    out = orig(self, *a, **kw)
                if eager:
                    tracer.count("harness.eager_s", s.dur)
                if on_action is not None and isinstance(self, DataFrame):
                    on_action(self)
                return out
            return wrapper
        return make

    for m in DF_ACTIONS:
        p.replace(DataFrame, m, action(m))
    for m in RDD_ACTIONS:
        p.replace(RDD, m, action("rdd." + m))
    return p
