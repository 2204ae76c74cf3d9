"""Benchmark entry point.

    python3 perfbench/run.py --workload sync-run --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It generates the workload's inputs from
the seed under ``perfbench/_work``, starts the engine session on
``local[nproc]``, runs one untimed warm-up iteration, then timed
iterations until ``--seconds`` have passed, at least one. Every
operation is checked against its oracle. With ``--trace 1`` the run
then runs one more iteration with per-layer tracing and the Spark event
log on, and prints the per-layer metrics instead of the end-to-end
ones.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

DRIVER_MEMORY = "2g"

END_TO_END = {"setup_s": "s", "run_s": "s", "peak_rss_mb": "MB"}


def _parse(argv):
    from perfbench.inputs import SIZES
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=sorted(SIZES), default="full",
                   help="input size; 'small' is for the self-test")
    p.add_argument("--plant-wrong", action="store_true",
                   help="corrupt one result before the gate (self-test)")
    return p.parse_args(argv)


def _environment(work: str, trace: bool, cores: int) -> str:
    """Point every scratch path of Python, Spark and the JVM into the
    run's work dir, so the run writes only inside the checkout."""
    tmp = os.path.join(work, "tmp")
    eventlog = os.path.join(work, "eventlog")
    os.makedirs(tmp)
    os.makedirs(eventlog)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # the inputs are a few MB; the engine's 8g default lets the heap
    # grow to several GB on a host shared with other work
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # no JVM may write its perf-data file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    confs = {
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": eventlog,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return eventlog


def _eventlog_size(eventlog: str) -> int:
    return sum(os.path.getsize(os.path.join(eventlog, f)) for f in os.listdir(eventlog))


def _stop(spark) -> None:
    """Stop the session, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    from perfbench import host

    kids = host.descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    host.wait_gone(kids, timeout=20)


def _heap_after_gc(spark) -> float:
    """JVM heap in use after a full collection, in MB: what the program
    retains, independent of how far the collector has grown the heap."""
    import gc

    gc.collect()  # drop Python references that keep JVM objects alive
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return usage.getUsed() / 2**20


def _layer_metrics(spans, ev, it, overhead_s) -> dict:
    from perfbench import trace as T

    kids = T.children(spans)

    def incl(match) -> float:
        return sum(T.duration(s) for s in T.outermost(spans, match))

    def jobs(match) -> int:
        groups = set()
        for s in T.outermost(spans, match):
            groups |= T.subtree_groups(s, kids)
        return sum(ev["jobs_by_group"].get(g, 0) for g in groups)

    def layer(name):
        return lambda s: s["layer"] == name

    def named(*names):
        return lambda s: s["name"] in names

    m = {
        "sources.load_table_calls": (sum(1 for s in spans if s["layer"] == "sources"), "count"),
        "sources.load_table_s": (incl(layer("sources")), "s"),
        "sources.load_table_jobs": (jobs(layer("sources")), "count"),
        "queries.build_s": (incl(layer("queries")), "s"),
        "queries.build_jobs": (jobs(layer("queries")), "count"),
        "plans.build_s": (incl(layer("plans")), "s"),
        "catalyst.plan_s": (incl(layer("catalyst")), "s"),
        "action.collect_s": (incl(layer("action")), "s"),
    }
    for op in ("dedup", "refresh", "similarity"):
        m[f"operators.{op}.build_s"] = (incl(layer(f"operators.{op}")), "s")
        m[f"operators.{op}.build_jobs"] = (jobs(layer(f"operators.{op}")), "count")
    for key in ("jobs", "stages", "tasks"):
        m[f"exec.{key}"] = (ev[key], "count")
    for key in ("task_s", "cpu_s", "gc_s"):
        m[f"exec.{key}"] = (ev[key], "s")
    m["exec.shuffle_write_mb"] = (ev["shuffle_write_mb"], "MB")
    m["exec.spill_mb"] = (ev["spill_mb"], "MB")
    m["vectorized.python_s"] = (ev["python_s"], "s")
    m["vectorized.to_python_mb"] = (ev["to_python_mb"], "MB")
    m["vectorized.from_python_mb"] = (ev["from_python_mb"], "MB")
    m["sinks.write_plan_s"] = (incl(named("sinks.write_plan")), "s")
    m["sinks.read_results_s"] = (incl(named("sinks.read_results")), "s")
    m["control.merge_idmap_s"] = (incl(named("control.merge_idmap")), "s")
    m["control.append_dlq_s"] = (incl(named("control.append_dlq")), "s")
    m["control.append_ledger_s"] = (incl(named("control.append_ledger")), "s")
    m["control.ensure_s"] = (incl(named("control.ensure")), "s")
    control = T.outermost(spans, layer("control"))
    m["control.read_s"] = (sum(T.duration(s) for s in control if s["name"] == "control.read"), "s")
    m["control.write_mb"] = (sum(s.get("write_bytes", 0) for s in control) / 1e6, "MB")
    for name in T.LAYERS:
        m[f"{name}.self_s"] = (sum(T.self_time(s, kids) for s in spans if s["layer"] == name), "s")
    top = sum(T.duration(s) for s in spans if s["parent"] is None)
    m["trace.unattributed_s"] = (max(0.0, it.wall_s - top), "s")
    m["trace.overhead_s"] = (overhead_s, "s")
    return m


def main(argv=None) -> int:
    try:
        import reverse_etl_homebrew_spark.queries  # noqa: F401  (fills the registry)
    except ImportError as exc:
        print(f"perfbench: the program is not importable here: {exc}", file=sys.stderr)
        return 2
    args = _parse(argv)
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    eventlog = _environment(work, bool(args.trace), cores)
    try:
        return _run(args, work, eventlog, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work, eventlog, cores) -> int:
    from pyspark import cloudpickle
    from reverse_etl_homebrew_spark.session import get_spark

    from perfbench import api, gate, host, inputs
    from perfbench import trace as T
    from perfbench.workloads import WORKLOADS, Context

    cloudpickle.register_pickle_by_value(api)
    cpu0 = host.cpu_times()
    excluded = 0.0  # benchmark-side work inside the set-up window

    t = time.perf_counter()
    workload = WORKLOADS[args.workload]()
    sf_dir = os.path.join(work, "inputs")
    inputs.generate(sf_dir, args.seed, args.scale, workload.tables)
    excluded += time.perf_counter() - t

    t = time.perf_counter()
    spark = get_spark("perfbench")
    get_spark_s = time.perf_counter() - t
    try:
        jvm_pid = int(spark.sparkContext._jvm.ProcessHandle.current().pid())
        tracer = T.Tracer(spark, jvm_pid, lambda: _eventlog_size(eventlog))
        ctx = Context(spark, sf_dir, work, args.seed, tracer, args.plant_wrong)

        t = time.perf_counter()
        con = gate.connect(sf_dir, workload.tables)
        workload.prepare(ctx, con)
        con.close()
        excluded += time.perf_counter() - t

        iters = []
        t = time.perf_counter()
        warm = workload.iterate(ctx)
        warm_s = time.perf_counter() - t
        setup_s = time.perf_counter() - T_START - excluded
        t_loop = time.perf_counter()
        while not iters or time.perf_counter() - t_loop < args.seconds:
            iters.append(workload.iterate(ctx))

        traced, counters = None, {}
        if args.trace:
            counters = _counters(workload)
            tracer.install()
            tracer.active = True
            traced = workload.iterate(ctx)
            tracer.active = False
            now = _counters(workload)
            counters = {k: now[k] - counters[k] for k in now}
        hwm_mb = (host.vm_hwm_kb(os.getpid()) + host.vm_hwm_kb(jvm_pid)) / 1024
        heap_live_mb = _heap_after_gc(spark)
    finally:
        _stop(spark)
    steal = host.steal_pct(cpu0, host.cpu_times())
    load = host.load1()
    contended = host.contended(steal, load, cores)

    done = [warm] + iters + ([traced] if traced else [])
    attempted = sum(i.ops for i in done)
    failures = [f for i in done for f in i.failures]
    run_s = statistics.median(i.wall_s for i in iters)

    if args.trace:
        spans = tracer.spans
        groups = {s["group"] for s in spans}
        log = [os.path.join(eventlog, f) for f in os.listdir(eventlog)]
        ev = T.read_event_log(log[0], groups)
        overhead_s = traced.wall_s - iters[-1].wall_s
        raw = _layer_metrics(spans, ev, traced, overhead_s)
        raw["phase.full_s"] = (statistics.median(i.full_s for i in iters), "s")
        raw["phase.incremental_s"] = (statistics.median(i.incremental_s for i in iters), "s")
        raw["session.get_spark_s"] = (get_spark_s, "s")
        raw["sinks.api_requests"] = (counters["requests"], "count")
        raw["sinks.api_retries"] = (counters["retries"], "count")
        raw["sinks.api_exhausted"] = (counters["exhausted"], "count")
        raw["sinks.backoff_requested_s"] = (counters["backoff_s"], "s")
        raw["sinks.requests_per_write"] = (
            traced.writes / counters["requests"] if counters["requests"] else 0.0, "ratio")
        prints = getattr(workload, "fingerprints", {}).values()
        for k in ("exchange", "broadcast", "arrow_eval", "python_udf", "generate", "scan", "join"):
            raw[f"plan.{k}"] = (sum(fp[k] for fp in prints), "count")
        raw["plan.kb"] = (sum(fp["kb"] for fp in prints), "kB")
        raw["jvm.heap_live_mb"] = (heap_live_mb, "MB")
        raw["host.steal_pct"] = (steal, "%")
        raw["host.load1"] = (load, "load")
        raw["host.contended"] = (int(contended), "flag")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in raw.items()}
        _write_trace(args, spans, ev, workload, metrics)
    else:
        values = {"setup_s": [setup_s], "run_s": [i.wall_s for i in iters], "peak_rss_mb": [hwm_mb]}
        metrics = {}
        for name, unit in END_TO_END.items():
            v = values[name]
            metrics[name] = {"value": statistics.median(v), "unit": unit}
            print(f"{name}: median {statistics.median(v):.4f} {unit} over {len(v)} sample(s)")
    print(f"set-up: get_spark {get_spark_s:.2f} s, warm-up iteration {warm_s:.2f} s, "
          f"inputs and oracle {excluded:.2f} s (not counted)")
    for label, it in [("warm-up", warm)] + [(f"iteration {i}", x) for i, x in enumerate(iters)]:
        print(f"{label}: full {it.full_s:.2f} s, incremental {it.incremental_s:.2f} s; "
              + ", ".join(f"{k} {v:.2f}" for k, v in it.op_s.items()))
    print(f"memory: peak RSS {hwm_mb:.1f} MB, JVM heap after a full GC {heap_live_mb:.1f} MB")
    print(f"failed_share: {len(failures)}/{attempted} = {len(failures) / attempted:.4f}")
    print(f"host: steal {steal:.2f}% load1 {load:.2f} contended {contended}")
    for f in failures[:10]:
        print(f"GATE FAILED {f}")
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": metrics,
    }))
    return 0


def _counters(workload) -> dict:
    """Current values of the transport's accumulators (0 without a sink)."""
    from perfbench import api

    accs = getattr(workload, "accs", {})
    return {k: (accs[k].value if k in accs else 0) for k in (*api.COUNTERS, "backoff_s")}


def _write_trace(args, spans, ev, workload, metrics) -> None:
    out_dir = os.path.join(HERE, "_work", "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
    t0 = min((s["start"] for s in spans), default=0.0)
    with open(path, "w") as f:
        json.dump({
            "workload": args.workload,
            "seed": args.seed,
            "spans": [dict(s, start=s["start"] - t0, end=s["end"] - t0) for s in spans],
            "jobs_by_group": ev["jobs_by_group"],
            "python_node_metrics": ev["python_metrics"],
            "plan_fingerprints": getattr(workload, "fingerprints", {}),
            "metrics": metrics,
        }, f, indent=1)
    print(f"trace written to {os.path.relpath(path, ROOT)}")


if __name__ == "__main__":
    # import the benchmark as the ``perfbench`` package from the checkout
    # root, never its modules as top-level names
    sys.path[0] = ROOT
    sys.exit(main())
