"""Spans around the mapInPandas batch function, recorded in the Python
workers of a traced run.

``traced_factory`` wraps ``make_extract_batch_fn`` or
``make_extract_with_metadata_batch_fn``: the callable they return is
wrapped so that each task records its busy time (time inside the batch
function minus time waiting for the next input batch), the kernel time
inside it (calls to ``bare_extract`` as ``operators.extract`` binds it),
and its batch and row counts.  Each task appends one JSON line to a file
in ``trace_dir``; the driver sums them after the job.
"""

from __future__ import annotations

import glob
import json
import os
from time import perf_counter


def traced_factory(factory, trace_dir: str):
    def make(*args, **kwargs):
        return traced_batch_fn(factory(*args, **kwargs), trace_dir)

    return make


def traced_batch_fn(inner, trace_dir: str):
    def batch(iterator):
        import importlib

        ox = importlib.import_module("trafilatura_spark.operators.extract")
        stats = {"busy_s": 0.0, "input_wait_s": 0.0, "kernel_s": 0.0, "batches": 0, "rows": 0}
        real = ox.bare_extract

        def timed_bare_extract(*a, **k):
            t0 = perf_counter()
            try:
                return real(*a, **k)
            finally:
                stats["kernel_s"] += perf_counter() - t0

        def feed():
            while True:
                t0 = perf_counter()
                try:
                    pdf = next(iterator)
                except StopIteration:
                    return
                finally:
                    stats["input_wait_s"] += perf_counter() - t0
                stats["rows"] += len(pdf)
                yield pdf

        # one task at a time runs in a Python worker, so the module
        # attribute can be swapped for the task's duration
        ox.bare_extract = timed_bare_extract
        try:
            gen = inner(feed())
            while True:
                t0 = perf_counter()
                try:
                    out = next(gen)
                except StopIteration:
                    break
                finally:
                    stats["busy_s"] += perf_counter() - t0
                stats["batches"] += 1
                yield out
        finally:
            ox.bare_extract = real
            stats["busy_s"] -= stats["input_wait_s"]
            with open(os.path.join(trace_dir, f"{os.getpid()}.jsonl"), "a") as f:
                f.write(json.dumps(stats) + "\n")

    return batch


def collect(trace_dir: str) -> dict:
    "Sum of the per-task records written by the workers."
    total = {"busy_s": 0.0, "input_wait_s": 0.0, "kernel_s": 0.0, "batches": 0, "rows": 0, "tasks": 0}
    for name in glob.glob(os.path.join(trace_dir, "*.jsonl")):
        with open(name) as f:
            for line in f:
                rec = json.loads(line)
                for key in rec:
                    total[key] += rec[key]
                total["tasks"] += 1
    return total
