"""Each generated Java class is compiled once per JVM (session.py's
codegen posture): a repeated query finds every class of its plan in
the compiled-class cache, so a warm call compiles nothing.

`corpus-refresh-pipeline` plans over 200 classes a run, more than
Spark's default cache of 100 holds, and AQE plans them under fresh
codegen stage ids on every run; with the default cache and stage ids
in class names its second run recompiles over 200 of them.
"""

from __future__ import annotations

import time

from reverse_etl_homebrew_spark import queries as Q


def _compiles(spark) -> int:
    """Classes compiled so far in this JVM (one timer update per compile)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _settled_compiles(spark, timeout_s: float = 30.0) -> int:
    """The JVM-wide compile count once no job runs and no class has been
    compiled for half a second, so work an earlier test left running is
    not billed to this one."""
    tracker = spark.sparkContext.statusTracker()
    last, deadline = -1, time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        now = _compiles(spark)
        if now == last and not tracker.getActiveJobsIds():
            break
        last = now
        time.sleep(0.5)
    return _compiles(spark)


def test_warm_run_reuses_compiled_classes(spark, sf_dir):
    def run():
        before = _settled_compiles(spark)
        rows = Q.QUERIES["corpus-refresh-pipeline"](spark, sf_dir).collect()
        return _settled_compiles(spark) - before, rows

    cold, cold_rows = run()
    compiled, warm_rows = run()
    assert sorted(map(tuple, warm_rows)) == sorted(map(tuple, cold_rows))
    # Isolated warm runs compile 0 classes. The bound leaves room for a
    # few the JVM-wide counter can pick up inside the full suite (4 were
    # seen once); with Spark's default cache and stage ids in class
    # names every warm run recompiles over 200.
    assert compiled <= 10, (cold, compiled)
