"""Extraction benchmark for trafilatura_spark.

    python3 perfbench/run.py --workload chat_turns --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --smoke

Runs one workload (see perfbench/README.md) in a subprocess whose whole
process tree is pinned to at most 4 of this process's CPUs, checks the
outputs, and prints as its last stdout line one JSON object with the
keys correct, attempted, failed and metrics.  ``--trace 0`` reports the
end-to-end metrics of BENCHMARK.json, ``--trace 1`` the per-layer ones.
Inputs are generated from the seed and cached under .perfbench/ in the
checkout; every file the run writes stays there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
REQUIRED = [
    os.path.join("trafilatura_spark", "__init__.py"),
    os.path.join("tests", "fixtures", "cascade_turns_expected.parquet"),
    "BENCHMARK.json",
]
MAX_CORES = 4
JOB_TIMEOUT_S = 165
# untimed jobs before the timed loop (JIT warm-up), and timed jobs at least
WARM_JOBS = 3
MIN_JOBS = 3


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _stop_group(proc: subprocess.Popen) -> None:
    "Stop every process of the job's process group and wait for them."
    from perfbench import procs

    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            pass
        if proc.poll() is None:
            try:
                proc.wait(timeout=5)
            except subprocess.TimeoutExpired:
                pass
        deadline = time.monotonic() + 5
        while procs.group_alive(proc.pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if not procs.group_alive(proc.pid) and proc.poll() is not None:
            return


def run_workload(workload: str, seed: int, seconds: float, trace: int, size: str = "full") -> dict:
    "One benchmark run; returns the result object (before printing)."
    from perfbench import corpus, procs

    cpus = sorted(os.sched_getaffinity(0))[:MAX_CORES]
    meta = corpus.materialize(os.path.join(WORK, "corpus"), workload, seed, size, len(cpus))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cfg = {
        "root": ROOT,
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "size": size,
        "cpus": cpus,
        "corpus": meta,
        "work_dir": run_dir,
        "tables_dir": os.path.join(WORK, "tables"),
        "result_path": os.path.join(run_dir, "result.json"),
        "warm_jobs": 0 if size == "tiny" else WARM_JOBS,
        "min_jobs": 1 if size == "tiny" else MIN_JOBS,
    }
    if trace and workload == "chat_turns":
        cfg["crawl_corpus"] = corpus.materialize(os.path.join(WORK, "corpus"), "crawl_job", seed, size, len(cpus))
    cfg_path = os.path.join(run_dir, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    env = dict(
        os.environ,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        PYSPARK_PYTHON=sys.executable,
        # keep the JVMs' temporary and perf-data files inside the checkout
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    env["PYTHONPATH"] = os.pathsep.join([ROOT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p])

    spin_before = procs.spin_rate(cpus[0])
    steal0 = procs.cpu_times()
    log_path = os.path.join(run_dir, "job.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.job", cfg_path],
            cwd=ROOT,
            env=env,
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
            preexec_fn=lambda: os.sched_setaffinity(0, set(cpus)),
        )
        try:
            proc.wait(timeout=JOB_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            _stop_group(proc)
    steal1 = procs.cpu_times()
    spin_after = procs.spin_rate(cpus[0])
    try:
        with open(cfg["result_path"]) as f:
            result = json.load(f)
    except (OSError, ValueError):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"{workload} job produced no result (exit {proc.returncode}):\n{tail}")
    result["context"].update(
        host_spin_per_s=[spin_before, spin_after],
        host_steal_share=procs.steal_share(steal0, steal1),
        cpus=cpus,
        corpus={k: meta[k] for k in ("n_turns", "n_convs", "n_files", "chars_total", "chars", "params")},
    )
    shutil.rmtree(run_dir, ignore_errors=True)
    return result


def report(result: dict, trace: int) -> dict:
    """The printed object; metric names must be exactly those BENCHMARK.json
    lists for this mode."""
    want = spec()["per_layer" if trace else "end_to_end"]
    metrics = result.get("metrics", {})
    names = {m["name"] for m in want}
    if result.get("correct") and set(metrics) != names:
        raise RuntimeError(f"metrics differ from BENCHMARK.json: missing {sorted(names - set(metrics))}, extra {sorted(set(metrics) - names)}")
    units = {m["name"]: m["unit"] for m in want}
    return {
        "correct": bool(result.get("correct")),
        "attempted": int(result.get("attempted", 0)) or 1,
        "failed": int(result.get("failed", 0)),
        "metrics": {k: {"value": v[0], "unit": units.get(k, v[1])} for k, v in metrics.items() if k in names},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    ap.add_argument("--smoke", action="store_true", help="every workload at tiny size, both modes")
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: run from a trafilatura_spark checkout; missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.smoke:
        from perfbench import smoke

        return smoke.main(run_workload, report)
    names = [w["name"] for w in spec()["workloads"]]
    if args.workload not in names:
        ap.error(f"--workload must be one of {names}")
    seconds = spec()["run_seconds"] if args.seconds is None else args.seconds
    result = run_workload(args.workload, args.seed, seconds, args.trace, args.size)
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    record = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}.json")
    with open(record, "w") as f:
        json.dump({"args": vars(args), **result}, f, indent=1)
    print(json.dumps({"context": result["context"], "error": result.get("error")}, default=str), file=sys.stderr)
    out = report(result, args.trace)
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
