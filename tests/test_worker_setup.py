"""Python-worker setup (operators/worker_setup.py): the zip re-read guard
and the import-time heap freeze.

On CPython < 3.12 every ``importlib.invalidate_caches()`` — which
PySpark's worker runs at the start of each task — re-reads the central
directory of every zip archive on the worker path.  The guard skips the
re-read of an archive that has not changed.  PySpark's daemon runs a
full ``gc.collect()`` after each task; importing the shared batch loop
(operators/arrow_batches.py), as operators/extract.py does, freezes the
import-time heap so that collection stops walking it.

The unit tests check the guard in this process and the freeze in a
fresh one; the Spark tests probe a reused local[1] Python worker after
each extraction operator, the n-gram lang-id operator, or the streaming
per-conversation state function, ran in it: the re-reads it still
makes, its freeze count, the objects the collector still tracks and
whether it loaded pandas.  The
probes are mapInArrow functions that load no pandas themselves.
``PYTHONPATH=. python tests/test_worker_setup.py SCRATCH_DIR`` prints
those probes as JSON.
"""

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from trafilatura_spark.operators.worker_setup import install_zip_reread_guard

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ZIP_REREADS = sys.version_info < (3, 12)  # 3.12+ invalidates zipimport caches lazily


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


def _count_reads(monkeypatch) -> list:
    "Record the archive path of every zipimport directory read from now on."
    real = zipimport._read_directory
    reads: list = []

    def counted(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return reads


@pytest.mark.skipif(not ZIP_REREADS, reason="CPython 3.12+ invalidates zipimport caches lazily")
def test_guard_rereads_only_changed_archives(tmp_path, monkeypatch):
    # start from the stock method; monkeypatch restores whatever was installed
    current = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", getattr(current, "__wrapped__", current)
    )
    archive = str(tmp_path / "guarded.zip")
    _write_zip(archive, {"zrg_first": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zrg_first").VALUE == 1
        reads = _count_reads(monkeypatch)
        importlib.invalidate_caches()
        assert archive in reads, "the stock invalidation re-reads the archive"

        install_zip_reread_guard()
        installed = zipimport.zipimporter.invalidate_caches
        install_zip_reread_guard()
        assert zipimport.zipimporter.invalidate_caches is installed, "second install is a no-op"

        importlib.invalidate_caches()  # reads each archive once and records its stamp
        reads.clear()
        importlib.invalidate_caches()
        assert reads == [], "unchanged archives must not be re-read"

        _write_zip(archive, {"zrg_first": "VALUE = 1\n", "zrg_second": "VALUE = 2\n"})
        importlib.invalidate_caches()
        assert reads == [archive], "exactly the rewritten archive is re-read"
        assert importlib.import_module("zrg_second").VALUE == 2
    finally:
        for name in ("zrg_first", "zrg_second"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


FREEZE_PROBE = """
import gc
import trafilatura_spark.operators.extract
from trafilatura_spark.operators.worker_setup import freeze_import_heap
frozen = gc.get_freeze_count()
freeze_import_heap()
print(frozen, gc.get_freeze_count())
"""


def test_importing_the_extraction_module_freezes_the_heap_once():
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.run(
        [sys.executable, "-c", FREEZE_PROBE], cwd=REPO, env=env, capture_output=True, text=True, timeout=120
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    frozen, again = map(int, proc.stdout.split())
    assert frozen > 0, "importing operators/extract.py must freeze the heap"
    assert again == frozen, "a second freeze_import_heap() is a no-op"


# -- Spark: what a reused Python worker still pays per task -------------------


def _longs(**values) -> "pa.RecordBatch":
    """One row of int64 columns, built from buffers: the probes load no
    pandas, and ``pa.array`` would import it."""
    from array import array

    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [pa.Array.from_buffers(pa.int64(), 1, [None, pa.py_buffer(array("q", [int(v)]))]) for v in values.values()],
        names=list(values),
    )


def _wrap_reads(iterator):
    "Probe 1 (mapInArrow): count zipimport directory reads in this worker from now on."
    import zipimport as zi

    real = zi._read_directory

    def counted(archive):
        counted.calls += 1
        return real(archive)

    counted.calls = 0
    zi._read_directory = counted
    for _ in iterator:
        pass
    yield _longs(pid=os.getpid(), reads=-1)


def _report_reads(iterator):
    """Probe 2 (mapInArrow): the reads counted since probe 1, i.e. by this
    task's setup, whether this worker imported the streaming module and
    pandas, its freeze count and the objects the collector still tracks."""
    import gc
    import zipimport as zi

    for _ in iterator:
        pass
    yield _longs(
        pid=os.getpid(),
        reads=getattr(zi._read_directory, "calls", -1),
        streaming=STREAMING_MODULE in sys.modules,
        pandas="pandas" in sys.modules,
        frozen=gc.get_freeze_count(),
        tracked=len(gc.get_objects()),
    )


def _identity(iterator):
    yield from iterator


# imported by a worker only when it unpickles the state function
STREAMING_MODULE = "trafilatura_spark.streaming.extract_stream"


def _drain_running_state(df, local_dir: str) -> None:
    "Run conversation_running_state over ``df``'s turns as a drained file stream."
    from pyspark.sql import functions as F

    from trafilatura_spark.streaming.extract_stream import TRANSCRIPT_SCHEMA, conversation_running_state

    source = os.path.join(local_dir, "stream_in")
    df.select(
        "conv_id", "turn_idx", F.lit("user").alias("role"), "text",
        F.lit(None).cast("string").alias("tool"), F.current_timestamp().alias("ts"),
    ).write.mode("overwrite").parquet(source)
    stream = df.sparkSession.readStream.schema(TRANSCRIPT_SCHEMA).parquet(source)
    query = (
        conversation_running_state(stream).writeStream.format("noop")
        .option("checkpointLocation", os.path.join(local_dir, "stream_checkpoint"))
        .outputMode("update").trigger(availableNow=True).start()
    )
    query.awaitTermination()


def probe_rereads(local_dir: str) -> dict:
    """For each case, a fresh local[1] session runs one job, then the two
    probes in the same reused worker; returns case -> (reads, pids,
    whether the worker imported the streaming module and pandas, freeze
    count, tracked objects)."""
    from pyspark.sql import SparkSession

    from trafilatura_spark.operators.extract import extract_transcripts, extract_with_metadata
    from trafilatura_spark.operators.metadata_op import extract_metadata_columns
    from trafilatura_spark.operators.textstats import lang_id_ngram

    page = (
        "<html><head><title>Probe page</title><meta name='author' content='A. Writer'></head>"
        "<body><article><p>" + "Some words for the extractor to keep. " * 12 + "</p></article></body></html>"
    )
    rows = [("c1", 0, page), ("c1", 1, "<p>" + "a short turn of text " * 8 + "</p>"), ("c2", 0, None)]
    cases = {
        "identity": lambda df: df.mapInPandas(_identity, schema=df.schema).collect(),
        "extract_transcripts": lambda df: extract_transcripts(df).collect(),
        "extract_with_metadata": lambda df: extract_with_metadata(df).collect(),
        "extract_metadata_columns": lambda df: extract_metadata_columns(df).collect(),
        "lang_id_ngram": lambda df: lang_id_ngram(df, id_col="turn_idx").collect(),
        "conversation_running_state": lambda df: _drain_running_state(df, local_dir),
    }
    out = {}
    for name, run in cases.items():
        spark = (
            SparkSession.builder.master("local[1]")
            .config("spark.ui.enabled", "false")
            .config("spark.driver.memory", "512m")
            .config("spark.sql.shuffle.partitions", "1")
            .config("spark.local.dir", local_dir)
            .config("spark.sql.warehouse.dir", os.path.join(local_dir, "warehouse"))
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
        try:
            df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string").coalesce(1)
            run(df)
            probe = spark.range(1).coalesce(1)
            first = probe.mapInArrow(_wrap_reads, "pid long, reads long").collect()[0]
            second = probe.mapInArrow(
                _report_reads, "pid long, reads long, streaming long, pandas long, frozen long, tracked long"
            ).collect()[0]
            out[name] = {
                "reads": second.reads, "pids": [first.pid, second.pid], "streaming": bool(second.streaming),
                "pandas": bool(second.pandas), "frozen": second.frozen, "tracked": second.tracked,
            }
        finally:
            spark.stop()
    return out


@pytest.fixture(scope="module")
def worker_probes(tmp_path_factory) -> dict:
    "probe_rereads, run once in a subprocess with its own Spark sessions."
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable, PYTHONPATH=REPO)
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), str(tmp_path_factory.mktemp("worker_probes"))],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    counts = json.loads(proc.stdout.strip().splitlines()[-1])
    for name, rec in counts.items():
        assert rec["pids"][0] == rec["pids"][1], f"{name}: probes ran in two workers {rec}"
    return counts


# every batch function built on operators/arrow_batches.py map_batches
ARROW_OPERATORS = ("extract_transcripts", "extract_with_metadata", "extract_metadata_columns", "lang_id_ngram")


def test_no_zip_rereads_after_extraction_operators(worker_probes):
    "Also: the same workers froze their import-time heap, the identity one did not."
    counts = worker_probes
    # the probe sees the stock re-reads and an unfrozen heap when no
    # package batch function ran
    assert counts["identity"]["reads"] > 0 or not ZIP_REREADS, counts
    assert counts["identity"]["frozen"] == 0, counts
    # one local[1] worker runs every task, so the probed worker is the one
    # that ran the state function
    assert counts["conversation_running_state"]["streaming"], counts
    for name in ARROW_OPERATORS + ("conversation_running_state",):
        assert counts[name]["reads"] == 0, f"{name}: {counts[name]}"
        # the daemon's collection after each task walks only what is left
        # tracked; the frozen heap is pyarrow, pyspark and the kernel
        assert counts[name]["frozen"] >= 30_000, f"{name}: {counts[name]}"
        assert counts[name]["tracked"] <= 5_000, f"{name}: {counts[name]}"


def test_extraction_workers_never_load_pandas(worker_probes):
    """The extraction operators and the n-gram lang-id run on Arrow alone:
    pandas (~38 MB of a worker's RSS) is absent from the worker after
    each of them.  The identity mapInPandas case shows that the probe
    sees it when loaded."""
    counts = worker_probes
    assert counts["identity"]["pandas"], counts
    for name in ARROW_OPERATORS:
        assert not counts[name]["pandas"], f"{name}: {counts[name]}"


if __name__ == "__main__":
    print(json.dumps(probe_rereads(sys.argv[1])))
