"""The benchmark workloads.

One iteration of a workload is a fixed sequence of operations run
back to back by one client (a closed loop). An operation is one
registry query (build plus ``collect``) or one ``run_sync`` call.
Each iteration is split into a ``full`` part, which processes whole
inputs from scratch, and an ``incremental`` part, which works against
state or indexes that already exist:

- sync-run: full = the first ``run_sync`` of patients and rois into a
  fresh control workdir; incremental = the re-run of both.
- corpus-dedup: full = the batch dedup keys and ``corpus-prep-pipeline``;
  incremental = ``corpus-refresh-pipeline`` over the same chain.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

from . import api, gate

SYNC_JOBS = ("patients", "rois")


@dataclass
class Iteration:
    wall_s: float
    full_s: float
    incremental_s: float
    op_s: dict = field(default_factory=dict)
    failures: list = field(default_factory=list)
    writes: int = 0

    @property
    def ops(self) -> int:
        return len(self.op_s)


@dataclass
class Context:
    spark: object
    sf_dir: str
    work_dir: str
    seed: int
    tracer: object
    plant_wrong: bool = False


class RegistryWorkload:
    """A fixed list of registry keys, each gated by its DuckDB oracle."""

    def __init__(self, full: tuple, incremental: tuple, tables: tuple):
        self.full = full
        self.incremental = incremental
        self.tables = tables
        self.expected: dict = {}
        self.fingerprints: dict = {}

    def prepare(self, ctx: Context, con) -> None:
        from reverse_etl_homebrew_spark import queries as Q

        for key in self.full + self.incremental:
            self.expected[key] = gate.oracle_answer(con, Q.ORACLE[key])

    def iterate(self, ctx: Context) -> Iteration:
        from reverse_etl_homebrew_spark import queries as Q

        from .trace import plan_fingerprint

        tr = ctx.tracer
        outputs, op_s, phase_s = [], {}, {"full": 0.0, "incremental": 0.0}
        t0 = time.perf_counter()
        for phase, keys in (("full", self.full), ("incremental", self.incremental)):
            for key in keys:
                ts = time.perf_counter()
                with tr.span("queries.build", "queries", key):
                    df = Q.QUERIES[key](ctx.spark, ctx.sf_dir)
                if tr.active:
                    with tr.span("catalyst.plan", "catalyst", key):
                        plan = df._jdf.queryExecution().executedPlan().toString()
                    self.fingerprints[key] = plan_fingerprint(plan)
                with tr.span("action.collect", "action", key):
                    rows = df.collect()
                op_s[key] = time.perf_counter() - ts
                phase_s[phase] += op_s[key]
                outputs.append((key, df.columns, rows))
        it = Iteration(time.perf_counter() - t0, phase_s["full"], phase_s["incremental"], op_s)
        for i, (key, cols, rows) in enumerate(outputs):
            rows = [tuple(r) for r in rows]
            if ctx.plant_wrong and i == 0:
                rows = rows[:-1]
            problem = gate.check_rows(key, self.expected[key], cols, rows)
            if problem:
                it.failures.append(problem)
        return it


class SyncWorkload:
    """The paper's job: full load then re-run of both sync plans."""

    tables = ("customer", "orders")

    def __init__(self):
        self.factories: dict = {}
        self.expected: dict = {}
        self.accs: dict = {}
        self.sleeper = None

    def prepare(self, ctx: Context, con) -> None:
        from reverse_etl_homebrew_spark import queries as Q

        sc = ctx.spark.sparkContext
        self.accs = {name: sc.accumulator(0) for name in api.COUNTERS}
        self.accs["backoff_s"] = sc.accumulator(0.0)
        self.sleeper = api.BackoffRecorder(self.accs["backoff_s"])
        for job in SYNC_JOBS:
            outcomes = gate.sync_outcomes(con, Q.ORACLE, job)
            write_keys = [k for k, o in outcomes.items() if o in gate.WRITES]
            schedule, exhausted = api.failure_schedule(ctx.seed, job, write_keys)
            self.factories[job] = api.TransportFactory(schedule, self.accs)
            self.expected[job] = gate.expected_sync(outcomes, exhausted)

    def iterate(self, ctx: Context) -> Iteration:
        from reverse_etl_homebrew_spark.streaming import incremental

        workdir = os.path.join(ctx.work_dir, "control")
        shutil.rmtree(workdir, ignore_errors=True)
        results, op_s, phase_s = [], {}, [0.0, 0.0]
        t0 = time.perf_counter()
        for rnd, phase in enumerate(("full", "rerun")):
            ts = time.perf_counter()
            for job in SYNC_JOBS:
                to = time.perf_counter()
                res = incremental.run_sync(
                    ctx.spark,
                    job,
                    ctx.sf_dir,
                    workdir,
                    transport_factory=self.factories[job],
                    sleeper=self.sleeper,
                )
                op_s[f"{phase}:{job}"] = time.perf_counter() - to
                results.append((rnd, f"{phase}:{job}", res))
            phase_s[rnd] = time.perf_counter() - ts
        it = Iteration(time.perf_counter() - t0, phase_s[0], phase_s[1], op_s)
        shutil.rmtree(workdir, ignore_errors=True)
        for i, (rnd, name, res) in enumerate(results):
            if ctx.plant_wrong and i == 0:
                res = dict(res, created=res["created"] + 1)
            it.writes += res["created"] + res["updated"]
            job = name.split(":")[1]
            problem = gate.check_sync(name, self.expected[job][rnd], res)
            if problem:
                it.failures.append(problem)
        return it


#: Keys chosen from the families named in the design; see README.md for
#: the keys and the workload left out and why.
WORKLOADS = {
    "sync-run": SyncWorkload,
    "corpus-dedup": lambda: RegistryWorkload(
        full=("ngram-jaccard", "containment-dedup", "corpus-prep-pipeline"),
        incremental=("corpus-refresh-pipeline",),
        tables=("documents", "embeddings"),
    ),
}
