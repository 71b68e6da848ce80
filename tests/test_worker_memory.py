"""The extraction worker's memory bound: its Arrow batch plus one document.

Spark bounds the batch (``spark.sql.execution.arrow.maxBytesPerBatch``);
the batch loop (operators/arrow_batches.py map_batches) releases each row's
result and clears the kernel's string memos (kernel/textutils.py
clear_string_memos) after the row, so no reference to a document
survives it in a reused Python worker.  A document's DOM trees are
acyclic (``Element._parent`` is a weak reference), so they are freed by
reference counting when the row ends: the tracemalloc test measures
without running the cyclic collector first.

The driver-side test runs each batch function over distinct large pages
under tracemalloc.  The Spark test runs two jobs in one local[1] session
and reads the reused worker's peak RSS (``VmHWM``) after each.
``PYTHONPATH=. python tests/test_worker_memory.py SCRATCH_DIR`` prints
those peaks as JSON.
"""

import gc
import json
import os
import subprocess
import sys
import tracemalloc

import pyarrow as pa
import pytest

from trafilatura_spark.kernel.textutils import line_processing, trim
from trafilatura_spark.operators.extract import make_extract_batch_fn, make_extract_with_metadata_batch_fn
from trafilatura_spark.operators.metadata_op import make_metadata_batch_fn

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MB = 1 << 20


def _page(doc: int) -> str:
    "A distinct ~200K-character article page: its words name the page and paragraph."
    paragraphs = "".join(
        f"<p>Paragraph {i} of page {doc} says " + f"word{doc}x{i} and more text " * 300 + "</p>"
        for i in range(27)
    )
    return (
        f"<html><head><title>Page {doc}</title></head>"
        f"<body><article><h1>Heading of page {doc}</h1>{paragraphs}</article></body></html>"
    )


def _batch(docs) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [pa.array([f"c{d}" for d in docs]), pa.array([0] * len(docs), pa.int32()), pa.array([_page(d) for d in docs])],
        names=["conv_id", "turn_idx", "text"],
    )


@pytest.mark.parametrize(
    "factory",
    [make_extract_batch_fn, make_extract_with_metadata_batch_fn, make_metadata_batch_fn],
    ids=["extract", "extract_with_metadata", "metadata"],
)
def test_no_document_memory_outlives_the_batch_loop(factory):
    batch_fn = factory()
    warm, pages = _batch([0]), _batch(range(1, 11))
    lengths = [len(t) for t in pages.column("text").to_pylist()]
    assert all(180_000 < n < 240_000 for n in lengths)
    # start from empty string memos: earlier tests may hold these pages
    trim.cache_clear()
    line_processing.cache_clear()
    # the first document compiles regexes and fills per-worker memos of
    # attribute values and characters; those are not per-document memory
    for _ in batch_fn(iter([warm])):
        pass
    gc.collect()
    tracemalloc.start()
    try:
        before = tracemalloc.get_traced_memory()[0]
        for out in batch_fn(iter([pages.slice(0, 5), pages.slice(5)])):
            assert len(out) == 5
        del out
        held = tracemalloc.get_traced_memory()[0] - before
    finally:
        tracemalloc.stop()
    assert held < 1 * MB, f"{held / MB:.1f} MB still held after 10 pages ({sum(lengths)} chars)"


# -- Spark: peak RSS of a reused Python worker ---------------------------------

# distinct ~0.9M-character pages of four paragraphs, generated in the JVM
PAGES_SQL = (
    "concat('<html><head><title>Page ', id, '</title></head><body><article>', "
    "array_join(transform(sequence(1, 4), i -> concat('<p>Paragraph ', i, ' of page ', id, ' says ', "
    "repeat(concat('word', id, 'x', i, ' and more text '), 10000), '</p>')), ''), "
    "'</article></body></html>')"
)
FIRST_PAGES = 3


def _peak_rss(iterator):
    """mapInArrow probe: this worker's pid and peak resident set size in
    kB.  It loads no pandas (which would add ~38 MB between the jobs), and
    builds its row from buffers: ``pa.array`` imports pandas."""
    from array import array

    import pyarrow as pa

    for _ in iterator:
        pass
    with open("/proc/self/status") as f:
        hwm = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    values = {"pid": os.getpid(), "hwm_kb": hwm}
    yield pa.RecordBatch.from_arrays(
        [pa.Array.from_buffers(pa.int64(), 1, [None, pa.py_buffer(array("q", [v]))]) for v in values.values()],
        names=list(values),
    )


def probe_peaks(local_dir: str) -> dict:
    """One local[1] session with 1 MiB Arrow batches: extract FIRST_PAGES
    pages, then 4 x FIRST_PAGES other pages; the worker's peak RSS after
    each job."""
    from pyspark.sql import SparkSession

    from trafilatura_spark.operators.extract import extract_with_metadata

    spark = (
        SparkSession.builder.master("local[1]")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "512m")
        .config("spark.local.dir", local_dir)
        .config("spark.sql.warehouse.dir", os.path.join(local_dir, "warehouse"))
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(MB))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    try:
        start = 0
        for name, n in (("first", FIRST_PAGES), ("second", 4 * FIRST_PAGES)):
            pages = spark.range(start, start + n, numPartitions=1).selectExpr(
                "cast(id as string) as conv_id", "0 as turn_idx", f"{PAGES_SQL} as text"
            )
            start += n
            rows = extract_with_metadata(pages).selectExpr("min(tier)", "sum(length(extracted_text))").collect()
            peak = spark.range(1, numPartitions=1).mapInArrow(_peak_rss, "pid long, hwm_kb long").collect()[0]
            out[name] = {"pid": peak.pid, "hwm_mb": peak.hwm_kb / 1024, "tier": rows[0][0], "chars": rows[0][1]}
        out["page_chars"] = spark.range(1).selectExpr(f"length({PAGES_SQL})").collect()[0][0]
    finally:
        spark.stop()
    return out


@pytest.mark.skipif(not os.path.exists("/proc/self/status"), reason="VmHWM is read from Linux /proc")
def test_worker_peak_rss_does_not_grow_with_documents(tmp_path):
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable, PYTHONPATH=REPO)
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), str(tmp_path)],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    peaks = json.loads(proc.stdout.strip().splitlines()[-1])
    first, second = peaks["first"], peaks["second"]
    assert first["pid"] == second["pid"], f"the jobs ran in two workers {peaks}"
    assert first["tier"] == second["tier"] == "main", peaks
    assert 800_000 < peaks["page_chars"] < 1_000_000, peaks
    # a worker that keeps document strings grows ~5 MB per page here
    growth = second["hwm_mb"] - first["hwm_mb"]
    assert growth < 16, f"peak RSS grew {growth:.1f} MB over {4 * FIRST_PAGES} new pages {peaks}"


if __name__ == "__main__":
    print(json.dumps(probe_peaks(sys.argv[1])))
