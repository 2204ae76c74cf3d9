"""Self-test of the benchmark.

    python3 perfbench/selftest.py

Run from the root of a checkout; takes about five minutes on 4 cores.

1. Gate unit checks without Spark: a dropped row, a changed value and a
   wrong sync count are each reported; the sync expectation arithmetic
   and the plan fingerprint give known answers on small inputs.
2. Every workload runs on small generated inputs, untraced and traced;
   each run must print every metric named in BENCHMARK.json with its
   unit, and the traced run must pass its gate.
3. Each workload's untraced run carries a planted wrong result and must
   report ``correct: false``.
4. In a directory holding only BENCHMARK.json and the benchmark's files,
   the benchmark must exit non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _unit_checks() -> None:
    from perfbench import gate, trace

    expected = gate.expected_answer(["a", "b"], [(1, 2.5), (2, None)])
    assert gate.check_rows("k", expected, ["b", "a"], [(None, 2), (2.5, 1)]) is None
    assert gate.check_rows("k", expected, ["a", "b"], [(1, 2.5)]) is not None
    assert gate.check_rows("k", expected, ["a", "b"], [(1, 2.5), (2, 0.0)]) is not None
    assert gate.check_rows("k", expected, ["a", "c"], [(1, 2.5), (2, None)]) is not None

    outcomes = {"1": "create", "2": "create", "3": "update", "4": "adopt",
                "5": "dlq_no_email", "6": "skip_override"}
    full, rerun = gate.expected_sync(outcomes, {"2", "4"})
    assert full == {"status": "partial", "read": 6, "created": 1, "updated": 1,
                    "skipped": 1, "errors": 3}, full
    assert rerun == dict(full, created=0, updated=2), rerun
    assert gate.check_sync("s", full, dict(full, created=2)) is not None

    plan = "\n".join([
        "AdaptiveSparkPlan isFinalPlan=false",
        "+- SortMergeJoin [a#1], [b#2], Inner",
        "   :- Exchange hashpartitioning(a#1, 8)",
        "   :  +- ArrowEvalPython [f(x#3)#4], [y#5], 200",
        "   :     +- FileScan parquet [x#3]",
        "   +- BroadcastExchange HashedRelationBroadcastMode",
        "      +- *(1) Generate explode(z#6), false, [w#7]",
        "         +- Scan ExistingRDD[z#6]",
    ])
    fp = trace.plan_fingerprint(plan)
    assert (fp["join"], fp["exchange"], fp["broadcast"], fp["arrow_eval"],
            fp["generate"], fp["scan"]) == (1, 1, 1, 1, 1, 2), fp
    print("gate and fingerprint unit checks: ok")


def _run(workload: str, trace: int, plant: bool = False, cwd: str = ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace)]
    if cwd == ROOT:
        cmd += ["--scale", "small"] + (["--plant-wrong"] if plant else [])
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None)


def _end_to_end_checks() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = {0: bench["end_to_end"], 1: bench["per_layer"]}
    # each workload's untraced run carries a planted wrong result; its
    # traced run must pass the gate
    runs = [(w["name"], t, t == 0) for w in bench["workloads"] for t in (0, 1)]
    for workload, trace, plant in runs:
        rc, res = _run(workload, trace, plant)
        assert rc == 0 and res is not None, (workload, trace, rc)
        if plant:
            assert not res["correct"] and res["failed"] >= 1, (workload, res)
        else:
            assert res["correct"] and res["failed"] == 0, (workload, trace, res)
        for m in wanted[trace]:
            got = res["metrics"].get(m["name"])
            assert got is not None, (workload, trace, m["name"])
            assert got["unit"] == m["unit"], (workload, m["name"], got["unit"])
        assert set(res["metrics"]) == {m["name"] for m in wanted[trace]}, workload
        print(f"{workload} trace={trace} planted={plant}: ok, {res['attempted']} operations")


def _empty_dir_check() -> None:
    bare = os.path.join(HERE, "_work", "bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("_work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        rc, res = _run("sync-run", 0, cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert rc != 0 and res is None, (rc, res)
    print("bare checkout without the program: exits", rc, "without a result")


def main() -> None:
    _unit_checks()
    _empty_dir_check()
    _end_to_end_checks()
    print("selftest: all checks passed")


if __name__ == "__main__":
    # import the benchmark as the ``perfbench`` package from the checkout
    # root, never its modules as top-level names
    sys.path[0] = ROOT
    main()
