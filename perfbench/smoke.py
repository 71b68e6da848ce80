"""Smoke test of the benchmark itself: ``python3 perfbench/run.py --smoke``.

Runs every workload of BENCHMARK.json at tiny size, untraced and
traced, and checks that each run is correct and reports every metric
BENCHMARK.json names for its mode, with that metric's unit and a finite
number.  Takes about four minutes on 4 cores (six JVM launches, and
the traced chat_turns run also runs the crawl_job pass and the SQL
operators).
"""

from __future__ import annotations

import json
import math
import time


def check(out: dict, want: list) -> list:
    "Problems with one printed result object, as strings."
    problems = [] if out["correct"] else ["run was not correct"]
    for m in want:
        got = out["metrics"].get(m["name"])
        if got is None:
            problems.append(f"missing {m['name']}")
        elif got["unit"] != m["unit"] or not isinstance(got["value"], (int, float)) or not math.isfinite(got["value"]):
            problems.append(f"bad {m['name']}: {got}")
    return problems


def main(run_workload, report) -> int:
    from perfbench.run import spec

    bench = spec()
    failures = 0
    for workload in (w["name"] for w in bench["workloads"]):
        for trace in (0, 1):
            t0 = time.monotonic()
            out = report(run_workload(workload, 0, 1, trace, "tiny"), trace)
            problems = check(out, bench["per_layer" if trace else "end_to_end"])
            failures += bool(problems)
            status = "ok  " if not problems else "FAIL"
            print(f"{status} {workload} trace={trace} {time.monotonic() - t0:.0f}s {len(out['metrics'])} metrics {problems}")
    print(json.dumps({"smoke": "ok" if not failures else "failed", "failures": failures}))
    return 1 if failures else 0
