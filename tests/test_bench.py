"""bench.py sweep harness: a scaling family runs each host-derived level
in its own child JVM and reports one record per (op, size, level), its
checks and the derived scaling efficiency."""

from __future__ import annotations

import json
import os
import subprocess
import sys

BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "bench.py")


def test_strpack_sweep_runs_each_level_in_a_child():
    # without SPARK_GRAFT_CPUS the sweep picks its own levels
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    env["SPARK_GRAFT_BENCH_REPEAT"] = "1"
    out = subprocess.run(
        [sys.executable, BENCH, "--sweep", "strpack", "20000"], env=env,
        stdout=subprocess.PIPE, text=True, timeout=600, check=True).stdout
    lines = [json.loads(x) for x in out.splitlines() if x.startswith("{")]
    runs = [r for r in lines if "best" in r]

    nproc = len(os.sched_getaffinity(0))
    levels = sorted({max(1, nproc // 4), nproc})
    ops = ["bucketed", "naive_single_window"]
    assert sorted((r["op"], r["level"]) for r in runs) == \
        [(op, lv) for op in ops for lv in levels]
    for r in runs:
        assert r["size"] == 20000 and r["nproc"] == nproc
        assert len(r["reps"]) == 1 and r["best"] == min(r["reps"]) > 0
        assert len(r["load_start"]) == len(r["load_end"]) == 3
    assert all(r["rank_parity"] == "ok" for r in runs if r["op"] == "bucketed")

    eff = {r["op"]: r for r in lines if "efficiency" in r}
    if len(levels) == 2:
        assert sorted(eff) == ops
        for op, r in eff.items():
            lo, hi = (next(x["best"] for x in runs
                           if x["op"] == op and x["level"] == lv)
                      for lv in levels)
            assert r["levels"] == levels
            assert abs(r["speedup"] - lo / hi) < 0.02
    assert sum("contaminated" in r for r in lines) == 1
