"""The workloads: what each pass runs, and the untimed checks that
decide whether each operation's output was right.

An ``Op`` is one closed-loop client request: ``run`` is timed, ``check``
is not and returns a list of problems (empty = correct).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
import pandas as pd

from perfbench import gen, select_sweep


@dataclass
class Op:
    name: str
    run: Callable[[], Any]
    check: Callable[[Any], list[str]] = field(default=lambda out: [])
    rows: Callable[[Any], int] = field(default=lambda out: 0)


class Frame:
    """Hands an already-collected pandas frame to ``oracle_compare.compare``
    in place of a Spark DataFrame / DuckDB relation, so checking a result
    never runs the query a second time."""

    def __init__(self, pdf: pd.DataFrame):
        self.pdf = pdf

    def toPandas(self) -> pd.DataFrame:
        return self.pdf

    df = toPandas


def ordered(names: list[str], seed: int) -> list[str]:
    """A seeded permutation of ``names``; no op it is applied to produces
    what another consumes, so any order is valid."""
    rng = np.random.default_rng(seed)
    return [names[i] for i in rng.permutation(len(names))]


# ---------------------------------------------------------------------------
# sweeps
# ---------------------------------------------------------------------------

class SweepLight:
    """One pass over short registered queries (perfbench/select_sweep.py
    says which and why), each at its first invocation in a JVM that other
    registered queries have already warmed up."""

    name = "sweep_light"
    sf = 0.02

    def __init__(self):
        frozen = select_sweep.load()
        self.selected, self.additions = frozen["selected"], list(frozen["additions"])
        self.queries, self.warm_up = self.selected + self.additions, frozen["warm_up"]

    def inputs(self, work: str, seed: int) -> dict:
        self.sf_dir = os.path.join(work, "star")
        return gen.write_star(self.sf_dir, self.sf, seed)

    def setup(self, spark) -> None:
        from aci_export_spark import harness

        harness._ensure_all_registered()
        missing = [q for q in self.queries + self.warm_up if q not in harness.REGISTRY]
        if missing:
            raise RuntimeError(f"queries not registered: {missing}")
        self.spark, self.registry, self._oracle = spark, harness.REGISTRY, {}
        # JVM warm-up (class loading, the Arrow collect path, the JIT of
        # planning and codegen) on queries outside the timed set
        for name in self.warm_up:
            self.registry[name].fn(spark, self.sf_dir).toPandas()

    def ops(self, seed: int, tracer) -> list[Op]:
        out = []
        # the seed orders the selected queries; the additions follow in a
        # fixed order (the first artifact consumer builds it), since their
        # first-run cost depends on how warm the JVM is where they run
        for name in ordered(self.selected, seed) + self.additions:
            out.append(Op(name, self._runner(name, tracer), self._checker(name),
                          rows=len))
        return out

    def pass_counts(self, outputs: dict) -> dict:
        return {}

    def _runner(self, name: str, tracer):
        fn = self.registry[name].fn

        def run():
            with tracer.span("harness.build"):
                df = fn(self.spark, self.sf_dir)
            with tracer.span("harness.exec"):
                return df.toPandas()
        return run

    def _checker(self, name: str):
        def check(pdf):
            from tests.oracle_compare import compare

            return compare(Frame(pdf), Frame(self.oracle(name)))
        return check

    def oracle(self, name: str) -> pd.DataFrame:
        """The query's DuckDB oracle result over the same parquet files."""
        if name not in self._oracle:
            import duckdb

            from aci_export_spark.sources import TEST_TABLES

            sql = self.registry[name].oracle
            if not isinstance(sql, str):
                raise RuntimeError(f"{name} has no SQL oracle")
            con = duckdb.connect()
            try:
                for t in TEST_TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
                self._oracle[name] = con.sql(sql).df()
            finally:
                con.close()
        return self._oracle[name]


# ---------------------------------------------------------------------------
# aci_sync
# ---------------------------------------------------------------------------

TODAY = "2026-08-13"  # the fixture's frozen "today" (tests/aci_fixtures.TODAY)


class AciSync:
    """One cold pass of the reference's job in a fresh process."""

    name = "aci_sync"
    sf = None
    tiles = 2

    def inputs(self, work: str, seed: int) -> dict:
        self.work = work
        self.v1, self.v2, cat, self.mut = gen.write_aci(work, seed, self.tiles)
        # lookups hit members that joined in the mutation and the two clubs
        # with leadership rows
        rng = np.random.default_rng(seed + 1)
        users = self.mut["users"]
        joiners = users[users["mail"].str.startswith("joiner", na=False)]
        self.probes = [
            ("email", str(rng.choice(joiners["mail"].to_numpy()))),
            ("number", int(rng.choice([101, 102]))),
            ("history", int(rng.choice(joiners["uid"].to_numpy()))),
        ]
        return {"users": len(cat["users"]), "users_mutated": len(users), "tiles": self.tiles}

    def setup(self, spark) -> None:
        # program imports are part of a cold set-up
        from aci_export_spark.queries import leadership, members  # noqa: F401
        from aci_export_spark.queries.catalog import load_catalog  # noqa: F401
        from aci_export_spark.sync import app_sync, mail_sync, rest  # noqa: F401

        self.spark = spark
        self.mirror = os.path.join(self.work, "mirror")
        self.journal = os.path.join(self.work, "journal")

    def ops(self, seed: int, tracer) -> list[Op]:
        from aci_export_spark.queries import leadership as L
        from aci_export_spark.queries import members as M
        from aci_export_spark.queries.catalog import load_catalog
        from aci_export_spark.sync import app_sync, mail_sync
        from aci_export_spark.sync.rest import JournalingMailchimpClient

        spark, mirror = self.spark, self.mirror
        os.makedirs(mirror, exist_ok=True)
        tables = {}

        def sync(version_dir):
            def run():
                tables.clear()
                tables.update(load_catalog(spark, version_dir))
                return app_sync.run_mirror_sync_and_write(tables, spark, mirror, today=TODAY)
            return run

        def mail(job):
            def run():
                base = os.path.join(self.journal, str(job["id"]))
                out = mail_sync.run_jobs(
                    tables, [job], lambda j: (lambda: JournalingMailchimpClient(base)),
                    today=TODAY)
                return out[str(job["id"])]
            return run

        def lookup(kind, arg):
            def run():
                if kind == "email":
                    df = M.member_by_email(tables, arg, today=TODAY)
                elif kind == "number":
                    df = L.leadership_by_number(tables, L.ENTITY_CLUB, arg)
                else:
                    df = M.membership_history(tables, user_uid=arg)
                return df.toPandas()
            return run

        ops = [
            Op("sync_initial", sync(self.v1), self._check_initial, rows=_sync_rows),
            Op("sync_incremental", sync(self.v2), self._check_incremental, rows=_sync_rows),
        ]
        job = {"id": "all"}
        ops.append(Op("mail_all", mail(job), self._mail_checker(job),
                      rows=lambda out: int(out.get("upserted", 0))))
        for kind, arg in self.probes:
            ops.append(Op(f"lookup_{kind}", lookup(kind, arg), self._lookup_checker(kind, arg)))
        return ops

    def pass_counts(self, outputs: dict) -> dict:
        """Sync stats as returned by app_sync (per-entity time: the entity's
        sync through its mirror write), REST traffic as journaled."""
        syncs = [outputs[k] for k in ("sync_initial", "sync_incremental") if outputs.get(k)]
        files = items = retries = 0
        for d, _, fs in os.walk(self.journal):
            kind = os.path.basename(d)
            if kind in ("upserts", "tags"):
                files += len(fs)
            if kind == "upserts":
                items += sum(_lines(os.path.join(d, f)) for f in fs)
            if kind == "attempts":  # one file per batch, holding its attempt count
                retries += sum(max(0, _lines_int(os.path.join(d, f)) - 1) for f in fs)
        entity_s: dict[str, float] = {}
        for s in syncs:
            for t, st in s.items():
                key = f"app_sync.entity_s.{t}"
                entity_s[key] = entity_s.get(key, 0.0) + st["duration_s"]
        return {
            **entity_s,
            "app_sync.upserted": sum(s[t]["upserted"] for s in syncs for t in s),
            "app_sync.deleted": sum(s[t]["deleted"] for s in syncs for t in s),
            "rest.batches": files, "rest.items": items, "rest.retries": retries,
        }

    # ---- checks ----------------------------------------------------------

    @staticmethod
    def _check_initial(stats) -> list[str]:
        from aci_export_spark.sync.app_sync import LOAD_ORDER

        bad = [f"{t}: {stats.get(t)}" for t in LOAD_ORDER
               if t not in stats or stats[t]["upserted"] <= 0 or stats[t]["deleted"]]
        return [f"first sync into an empty mirror: {b}" for b in bad]

    def _check_incremental(self, stats) -> list[str]:
        """The incrementally synced mirror must equal a fresh sync of the
        mutated catalog into an empty mirror."""
        from aci_export_spark.queries.catalog import load_catalog
        from aci_export_spark.sync.app_sync import LOAD_ORDER, run_mirror_sync_and_write

        fresh = os.path.join(self.work, "mirror_fresh")
        os.makedirs(fresh, exist_ok=True)
        run_mirror_sync_and_write(load_catalog(self.spark, self.v2), self.spark, fresh, today=TODAY)
        problems = []
        for t in LOAD_ORDER:
            a = _sorted_frame(os.path.join(self.mirror, f"{t}.parquet"))
            b = _sorted_frame(os.path.join(fresh, f"{t}.parquet"))
            if not a.equals(b):
                problems.append(f"{t}: incremental mirror ({len(a)} rows) != fresh sync ({len(b)} rows)")
        if sum(s["deleted"] for s in stats.values()) <= 0:
            problems.append("mutation deleted members but the sync deleted nothing")
        return problems

    def _mail_checker(self, job):
        def check(out) -> list[str]:
            """Journaled upserts equal the scope's documents, each landed
            once; journaled deletes equal the audience members (not
            'cleaned') that have no document."""
            from aci_export_spark.queries.catalog import load_catalog
            from aci_export_spark.sync.mail_sync import documents_for_scope
            from aci_export_spark.sync.rest import JournalingMailchimpClient

            if "error" in out:
                return [f"job failed: {out['error']}"]
            docs = documents_for_scope(load_catalog(self.spark, self.v2), club=job.get("club"),
                                       today=TODAY).toPandas()
            client = JournalingMailchimpClient(os.path.join(self.journal, str(job["id"])))
            landed = sorted((r["id"], r["email_address"], tuple(sorted(r["merge_fields"].items())))
                            for r in client.upserted_rows())
            want = sorted((r.id, r.email_address, tuple(sorted(dict(r.merge_fields or {}).items())))
                          for r in docs.itertuples())
            problems = []
            if landed != want:
                problems.append(f"journal holds {len(landed)} documents, expected {len(want)}")
            aud = self.mut["mailchimp_audience"]
            expect_del = set(aud[aud["status"] != "cleaned"]["id"]) - set(docs["id"])
            if client.deleted_ids() != expect_del:
                problems.append(f"deleted {len(client.deleted_ids())} audience members, expected {len(expect_del)}")
            if out.get("upserted") != len(want) or out.get("deleted") != len(expect_del):
                problems.append(f"job stats {out} disagree with the journal")
            return problems
        return check

    def _lookup_checker(self, kind, arg):
        def check(pdf) -> list[str]:
            if kind == "email":
                ok = len(pdf) == 1 and pdf["email"].str.strip().str.lower().iloc[0] == arg.strip().lower()
            elif kind == "number":
                ok = len(pdf) > 0 and (pdf["entity_type"] == "ssp_club").all()
            else:
                ok = len(pdf) > 0 and (pdf["user_uid"] == arg).all()
            return [] if ok else [f"lookup {kind}={arg!r} returned {len(pdf)} unexpected rows"]
        return check


def _lines(path: str) -> int:
    with open(path) as f:
        return sum(1 for line in f if line.strip())


def _lines_int(path: str) -> int:
    with open(path) as f:
        return int(f.read() or 0)


def _sync_rows(stats) -> int:
    return int(sum(s["upserted"] + s["deleted"] for s in stats.values()))


def _sorted_frame(path: str) -> pd.DataFrame:
    import pyarrow.parquet as pq

    df = pq.read_table(path).to_pandas().astype(str)
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(list(df.columns), ignore_index=True)
