"""Workload subprocess: one Spark driver pinned with its whole process
tree, running one workload in a closed loop.

Started by ``perfbench/run.py`` as ``python3 -m perfbench.job CONFIG``;
writes its result to the JSON file named in the config.  Order of a run:

1. a cold start: JVM launch, SparkSession at local[N] and the warm-up
   pass (recorded in the run record, not a metric);
2. (untraced) the timed closed loop at N cores, then ``RESTARTS``
   session restarts whose median is setup_s (see ``Bench.untraced``);
   every output is checked;
3. (traced) instead of 2: layer probes, one traced job, on chat_turns a
   crawl_job pass and the SQL operators, the 1-core leg of scaling_eff
   in a JVM of its own, and the kernel pass (layers.py).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

from perfbench import checks, procs

RESTARTS = 3  # session restarts after the timed loop; setup_s is their median


class Bench:
    "State of one workload run: config, session, timings."

    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.workload = cfg["workload"]
        self.cores = len(cfg["cpus"])
        self.corpus = cfg["corpus"]
        self.work = cfg["work_dir"]
        self.files = os.path.join(self.corpus["path"], "files")
        self.failed = 0
        self.cpu: list = []  # process-tree CPU seconds per job, for the run record
        self.spark = None
        self.setups: list = []
        self.result: dict = {"metrics": {}, "context": {}}

    # -- sessions -------------------------------------------------------------
    def start(self, cores: int, eventlog: str = None) -> None:
        """SparkSession at local[``cores``] plus the warm-up pass over
        ``warm/``; appends its time to ``setups``.  Launches a JVM unless
        one is running."""
        from pyspark.sql import SparkSession

        t0 = time.monotonic()
        builder = (
            SparkSession.builder.master(f"local[{cores}]")
            .appName(f"perfbench-{self.workload}")
            .config("spark.ui.enabled", "false")
            .config("spark.driver.memory", "1g")
            .config("spark.local.dir", os.path.join(self.work, "spark-local"))
            .config("spark.sql.warehouse.dir", os.path.join(self.work, "warehouse"))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.shuffle.partitions", str(4 * cores))
            # one input split per corpus file: files_per_core files per core
            .config("spark.sql.leafNodeDefaultParallelism", str(4 * cores))
            .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
            .config("spark.eventLog.enabled", "true" if eventlog else "false")
        )
        if eventlog:
            builder = builder.config("spark.eventLog.dir", "file://" + eventlog).config("spark.eventLog.compress", "false")
        self.spark = builder.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.run_job(os.path.join(self.corpus["path"], "warm"), collect=False)
        self.setups.append(time.monotonic() - t0)

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def stop_jvm(self) -> None:
        """Stop the session and the JVM and wait for the JVM to exit; the
        next ``start`` launches a new JVM under the process's CPU mask."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

    # -- the workload's job ---------------------------------------------------
    def run_job(self, path: str, collect: bool = True):
        """One job of this workload over the parquet files in ``path``;
        returns the collected per-turn rows (or the count when
        ``collect`` is false)."""
        from trafilatura_spark.operators.extract import extract_transcripts, extract_with_metadata
        from trafilatura_spark.sources import read_transcripts

        if self.workload == "chat_turns":
            out = extract_transcripts(read_transcripts(self.spark, path))
        else:
            out = extract_with_metadata(read_transcripts(self.spark, path, columns=["conv_id", "turn_idx", "text"]))
        if not collect:
            return out.selectExpr("count(*)").collect()[0][0]
        return out.select(*checks.collected_columns(self.workload)).collect()

    def job_checked(self, path: str, first: dict) -> float:
        """Run one job over ``path`` and return its wall time.  The first
        output per path is verified in full (``first`` keeps its digest);
        any later output must be identical to it."""
        c0, t0 = procs.tree_cpu_s(os.getpid()), time.monotonic()
        output = self.run_job(path)
        wall = time.monotonic() - t0
        self.cpu.append(procs.tree_cpu_s(os.getpid()) - c0)
        digest = checks.fingerprint(output)
        if path not in first:
            first[path] = digest
            if path == self.files:
                self.failed = checks.verify(self.workload, output, self.corpus, self.cfg["seed"])
        elif digest != first[path]:
            raise checks.Mismatch(f"output of {path} differs between two runs of the same job")
        return wall

    # -- runs -----------------------------------------------------------------
    def loop(self, path: str, seconds: float, first: dict, warm_jobs: int) -> list:
        "``warm_jobs`` untimed jobs, then timed jobs for ``seconds`` (at least min_jobs)."
        for _ in range(warm_jobs):
            self.job_checked(path, first)
        walls, t_end = [], time.monotonic() + seconds
        while time.monotonic() < t_end or len(walls) < self.cfg["min_jobs"]:
            walls.append(self.job_checked(path, first))
        return walls

    def untraced(self) -> None:
        """The job over the whole input in a cold local[N] session for the
        configured seconds, then ``RESTARTS`` local[N] session restarts in
        the same JVM; setup_s is the median of the restarts.  Each
        restart starts new Python workers, which import the package
        again; the cold start also holds the JVM launch and is only
        recorded."""
        self.start(self.cores)
        walls = self.loop(self.files, self.cfg["seconds"], {}, self.cfg["warm_jobs"])
        rss = procs.python_worker_peak_mb(os.getpid())
        self.stop()
        for _ in range(RESTARTS):
            self.start(self.cores)
            self.stop()

        wall = statistics.median(walls)
        m = self.result["metrics"]
        m["wall_s"] = (wall, "s")
        m["turns_per_s"] = (self.corpus["n_turns"] / wall, "1/s")
        m["setup_s"] = (statistics.median(self.setups[1:]), "s")
        m["worker_rss_mb"] = (rss, "MB")
        self.result.update(attempted=self.corpus["n_turns"], failed=self.failed)
        self.result["context"].update(jobs=len(walls), walls=walls, job_cpu_s=self.cpu, cold_start_s=self.setups[0], restarts=self.setups[1:], cores=self.cores)

    def scaling_eff(self, walls: list) -> float:
        """turns/s of ``walls`` (jobs over the whole input at N cores) over
        N times the turns/s of a local[1] session, with the process tree
        pinned to one core, running the same job over one core's share of
        the files.  The local[1] session runs in a JVM launched under the
        one-core mask, so the JVM sizes its GC and JIT threads for one
        core.  Stops the current session and its JVM."""
        self.stop_jvm()
        all_cpus = set(self.cfg["cpus"])
        procs.pin_tree(os.getpid(), {self.cfg["cpus"][0]})
        try:
            self.start(1)
            leg_walls = self.loop(os.path.join(self.corpus["path"], "leg1"), 0, {}, 1)
        finally:
            self.stop_jvm()
            procs.pin_tree(os.getpid(), all_cpus)
        tps = self.corpus["n_turns"] / statistics.median(walls)
        tps1 = self.corpus["leg1_turns"] / statistics.median(leg_walls)
        self.result["context"].update(scaling_walls=walls, leg1_walls=leg_walls)
        return tps / (self.cores * tps1)

    def traced(self) -> None:
        from perfbench import layers

        layers.traced_run(self)


def main(cfg_path: str) -> int:
    with open(cfg_path) as f:
        cfg = json.load(f)
    sys.path.insert(0, cfg["root"])
    bench = Bench(cfg)
    try:
        if cfg["trace"]:
            bench.traced()
        else:
            bench.untraced()
        bench.result["correct"] = True
    except checks.Mismatch as exc:
        bench.result.update(correct=False, error=str(exc))
    finally:
        bench.stop_jvm()
    with open(cfg["result_path"], "w") as f:
        json.dump(bench.result, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1]))
