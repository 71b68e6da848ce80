"""The traced run: per-layer metrics of one workload.

Spans are recorded from the benchmark's own files, around calls into
each layer's public functions; the package itself is not instrumented.

- sources.tables: ``read_transcripts`` into a noop sink (``scan.s``);
- operators.extract: the same scan through an identity ``mapInPandas``
  (``crossing.s``, minus the scan) and the wrapped batch function
  (``batch_fn.*``, see batchtrace.py);
- Spark scheduling: task times from the event log of the traced job,
  and ``scaling_eff`` (see ``Bench.scaling_eff``);
- kernel: an in-process pass on one pinned core (kernel_trace.py);
- plans.lineage and assembly (chat_turns only): one crawl_job pass,
  ``run_resumable_extraction`` then assemble, postprocess and write,
  over a transcript corpus of its own;
- queries (chat_turns only): the SQL operators of ops.py.

Metrics of a layer the workload does not run are reported as 0.
"""

from __future__ import annotations

import importlib
import json
import os
import shutil
import statistics
import time

from perfbench import batchtrace, checks, kernel_trace, ops

SCAN_COLUMNS = ["conv_id", "turn_idx", "text"]
KERNEL_SAMPLE = {"chat_turns": 400, "web_pages_meta": 60}
LINEAGE = {"n_buckets": 16, "wave_size": 4}
SCALING_JOBS = 3  # untraced N-core jobs for scaling_eff, after the traced one
POSTPROCESS = {"dedup_lines": 10, "c4_clean": True, "scrub_pii": True}


def _identity(iterator):
    yield from iterator


def _timed(fn, repeats: int = 3) -> float:
    walls = []
    for _ in range(repeats):
        t0 = time.monotonic()
        fn()
        walls.append(time.monotonic() - t0)
    return statistics.median(walls)


def _probes(spark, files: str) -> dict:
    from trafilatura_spark.sources import read_transcripts

    def scan():
        read_transcripts(spark, files).select(*SCAN_COLUMNS).write.format("noop").mode("overwrite").save()

    def crossing():
        df = read_transcripts(spark, files).select(*SCAN_COLUMNS)
        df.mapInPandas(_identity, schema=df.schema).write.format("noop").mode("overwrite").save()

    scan_s = _timed(scan)
    return {"scan.s": scan_s, "crossing.s": _timed(crossing) - scan_s}


def _traced_job(bench, files: str, trace_dir: str) -> tuple:
    "One job with the batch function wrapped; returns (rows, wall, epoch at call)."
    ox = importlib.import_module("trafilatura_spark.operators.extract")
    names = ("make_extract_batch_fn", "make_extract_with_metadata_batch_fn")
    real = {n: getattr(ox, n) for n in names}
    for n in names:
        setattr(ox, n, batchtrace.traced_factory(real[n], trace_dir))
    sc = bench.spark.sparkContext
    sc.setJobGroup("perfbench-job", "traced job")
    try:
        t_call, t0 = time.time(), time.monotonic()
        rows = bench.run_job(files)
        wall = time.monotonic() - t0
    finally:
        # later jobs of this thread must not count as the traced job's
        sc.setLocalProperty("spark.jobGroup.id", None)
        for n in names:
            setattr(ox, n, real[n])
    return rows, wall, t_call


def _crawl_pass(spark, corpus: dict, out_dir: str) -> dict:
    from trafilatura_spark.operators.extract import assemble_conversations, postprocess_conversations
    from trafilatura_spark.plans.lineage import run_resumable_extraction
    from trafilatura_spark.sources import read_transcripts

    files = os.path.join(corpus["path"], "files")
    spark.sparkContext.setJobGroup("perfbench-crawl", "crawl_job pass")
    t0 = time.monotonic()
    run_resumable_extraction(spark, read_transcripts(spark, files), out_dir, **LINEAGE)
    t1 = time.monotonic()
    turns = spark.read.parquet(os.path.join(out_dir, "data"))
    convs = postprocess_conversations(assemble_conversations(turns), **POSTPROCESS)
    convs.write.mode("overwrite").parquet(os.path.join(out_dir, "conversations"))
    t2 = time.monotonic()
    n_convs = spark.read.parquet(os.path.join(out_dir, "conversations")).count()
    if n_convs != corpus["n_convs"]:
        raise checks.Mismatch(f"crawl_job wrote {n_convs} conversations for {corpus['n_convs']}")
    rows = turns.select(*checks.collected_columns("crawl_job")).collect()
    checks.verify("crawl_job", rows, corpus, corpus["seed"])
    size = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(out_dir) for f in fs)
    return {"lineage.s": t1 - t0, "assemble.s": t2 - t1, "output.bytes": size}


def _event_tasks(evdir: str) -> dict:
    "Job group -> list of (launch ms, finish ms, shuffle bytes written)."
    stage_group, tasks = {}, []
    logs = [os.path.join(d, f) for d, _, fs in os.walk(evdir) for f in fs if f.startswith("events_")]
    for name in sorted(logs):
        with open(name) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                    written = (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    tasks.append((ev["Stage ID"], info["Launch Time"], info["Finish Time"], written))
    out: dict = {}
    for sid, launch, finish, written in tasks:
        out.setdefault(stage_group.get(sid), []).append((launch, finish, written))
    return out


def _task_metrics(tasks: list, wall: float, t_call: float, cores: int) -> dict:
    """Task figures of the traced job.  Its tasks run inside its wall on
    at most ``cores`` slots, so a busy share outside [0, 1] or a first
    task outside the wall means tasks of other jobs were counted."""
    durs = sorted((f - l) / 1000 for l, f, _ in tasks)
    p50 = statistics.median(durs)
    m = {
        "task.count": len(durs),
        "task.p50_s": p50,
        "task.max_s": durs[-1],
        "task.skew": durs[-1] / p50 if p50 > 0 else 0.0,
        "slots.idle_frac": 1 - sum(durs) / (wall * cores),
        "driver.first_task_s": min(l for l, _, _ in tasks) / 1000 - t_call,
    }
    if not (0 <= m["slots.idle_frac"] <= 1 and 0 <= m["driver.first_task_s"] <= wall):
        raise RuntimeError(f"task figures outside the traced job's wall ({wall:.3f} s): {m}")
    return m


def _kernel_texts(bench) -> list:
    texts = checks.input_texts(bench.corpus)
    keys = checks.sample_keys(texts, bench.cfg["seed"], KERNEL_SAMPLE[bench.workload])
    return [texts[k] for k in keys]


def traced_run(bench) -> None:
    from trafilatura_spark.kernel import DEFAULT_OPTIONS

    cfg = bench.cfg
    evdir = os.path.join(bench.work, "eventlog")
    trace_dir = os.path.join(bench.work, "batch_trace")
    os.makedirs(evdir)
    os.makedirs(trace_dir)
    bench.start(bench.cores, eventlog=evdir)
    m = _probes(bench.spark, bench.files)

    rows, wall, t_call = _traced_job(bench, bench.files, trace_dir)
    failed = checks.verify(bench.workload, rows, bench.corpus, cfg["seed"])
    first = {bench.files: checks.fingerprint(rows)}
    scaling_walls = [bench.job_checked(bench.files, first) for _ in range(SCALING_JOBS)]
    bt = batchtrace.collect(trace_dir)
    m.update({
        "batch_fn.busy_s": bt["busy_s"],
        "batch_fn.kernel_s": bt["kernel_s"],
        "batch_fn.overhead_s": bt["busy_s"] - bt["kernel_s"],
        "batch_fn.batches": bt["batches"],
        "batch_fn.rows": bt["rows"],
    })
    m.update({"lineage.s": 0.0, "assemble.s": 0.0, "output.bytes": 0, "shuffle.write_bytes": 0})
    m.update({"ops.build_s": 0.0, "ops.plan_s": 0.0, "ops.exec_s": 0.0})
    from bench import BENCH_QUERIES

    for q in BENCH_QUERIES:
        m[f"ops.{q}.s"] = 0.0
        m[f"ops.{q}.exchanges"] = 0
    if bench.workload == "chat_turns":
        m.update(_crawl_pass(bench.spark, cfg["crawl_corpus"], os.path.join(bench.work, "crawl_out")))
        bench.spark.sparkContext.setJobGroup("perfbench-ops", "corpus operators")
        ops_m, failures = ops.run_queries(bench.spark, ops.make_tables(cfg["tables_dir"]), cfg["seed"])
        if failures:
            raise checks.Mismatch(f"SQL operators differ from their DuckDB twins: {failures}")
        m.update(ops_m)
    m["scaling_eff"] = bench.scaling_eff(scaling_walls)

    groups = _event_tasks(evdir)
    m.update(_task_metrics(groups["perfbench-job"], wall, t_call, bench.cores))
    m["shuffle.write_bytes"] += sum(w for _, _, w in groups.get("perfbench-crawl", []))
    covered = m["scan.s"] + m["crossing.s"] + m["batch_fn.busy_s"] / bench.cores + m["driver.first_task_s"]
    m["unattributed_frac"] = 1 - covered / wall
    m["error_frac"] = failed / bench.corpus["n_turns"]

    options = DEFAULT_OPTIONS.copy(with_metadata=True) if bench.workload == "web_pages_meta" else DEFAULT_OPTIONS
    m.update(kernel_trace.kernel_pass(_kernel_texts(bench), options, cfg["cpus"][0], os.path.join(bench.work, "spans.jsonl")))
    spans_keep = os.path.join(cfg["root"], ".perfbench", "traces")
    os.makedirs(spans_keep, exist_ok=True)
    shutil.copy(os.path.join(bench.work, "spans.jsonl"), os.path.join(spans_keep, f"{bench.workload}-s{cfg['seed']}.jsonl"))

    bench.result["metrics"] = {k: (v, None) for k, v in m.items()}
    bench.result.update(attempted=bench.corpus["n_turns"], failed=failed)
    bench.result["context"].update(traced_job_wall=wall, setups=bench.setups, batch_tasks=bt["tasks"])
