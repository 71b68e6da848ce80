"""Resumability (per-partition lineage manifest) and streaming parity.

``test_task_retry_keeps_manifest_exact`` runs its Spark job in a
local[2,2] subprocess (the session fixture never retries a task);
``PYTHONPATH=. python tests/test_lineage_streaming.py SCRATCH_DIR`` prints
that run's comparison as JSON.
"""

import json
import os
import subprocess
import sys

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def small_df(spark):
    from trafilatura_spark.fixtures import transcripts_df

    return transcripts_df(spark, 12, num_slices=2)


def test_resume_after_simulated_crash(spark, small_df, tmp_path, monkeypatch):
    from trafilatura_spark.plans import lineage
    from trafilatura_spark.plans.lineage import (
        completed_buckets,
        read_manifest,
        read_output,
        run_resumable_extraction,
    )

    out = str(tmp_path / "run1")
    n_buckets = 8
    # crash in the second wave of 4 buckets
    real_extract = lineage.extract_transcripts
    calls = []

    def crash_in_second_wave(*args, **kwargs):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("simulated crash in wave 2")
        return real_extract(*args, **kwargs)

    monkeypatch.setattr(lineage, "extract_transcripts", crash_in_second_wave)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_resumable_extraction(spark, small_df, out, n_buckets=n_buckets, wave_size=4)
    monkeypatch.undo()
    assert len(completed_buckets(spark, out)) == 4

    # resume: only the remaining buckets run
    summary2 = run_resumable_extraction(spark, small_df, out, n_buckets=n_buckets, wave_size=4)
    assert summary2["resumed_from"] == 4
    assert summary2["completed"] == n_buckets

    # output is complete and keyed per turn
    result = read_output(spark, out)
    assert result.count() == small_df.count()
    assert result.select("conv_id", "turn_idx").distinct().count() == small_df.count()

    # manifest carries metrics per bucket
    manifest = read_manifest(spark, out)
    rows = manifest.collect()
    assert {r.part_bucket for r in rows} == set(range(n_buckets))
    assert all(r.status == "done" for r in rows)
    assert sum(r.n_turns for r in rows) == small_df.count()


def _tree(root) -> dict:
    "Every file under root with its size and modification time."
    return {
        str(p): (p.stat().st_size, p.stat().st_mtime_ns) for p in sorted(root.rglob("*")) if p.is_file()
    }


def test_corrupt_manifest_raises_before_writing(spark, small_df, tmp_path):
    """A manifest that cannot be read must fail the run: treating it as
    missing would re-extract every bucket and append duplicate rows."""
    from trafilatura_spark.plans.lineage import run_resumable_extraction

    out = tmp_path / "corrupt"
    run_resumable_extraction(spark, small_df, str(out), n_buckets=4, wave_size=4)
    part = sorted((out / "_lineage_manifest").glob("part-*.parquet"))[0]
    part.write_bytes(b"not a parquet file")
    before = _tree(out)
    with pytest.raises(Py4JJavaError):
        run_resumable_extraction(spark, small_df, str(out), n_buckets=4, wave_size=4)
    assert _tree(out) == before, "a failed manifest read must write nothing"


def test_interrupted_first_manifest_append_resumes(spark, small_df, tmp_path):
    """A manifest directory holding only a killed write's _temporary has
    no completed bucket: the run starts from scratch instead of failing."""
    from trafilatura_spark.plans.lineage import completed_buckets, run_resumable_extraction

    out = tmp_path / "interrupted"
    (out / "_lineage_manifest" / "_temporary" / "0").mkdir(parents=True)
    assert completed_buckets(spark, str(out)) == set()
    summary = run_resumable_extraction(spark, small_df, str(out), n_buckets=4, wave_size=4)
    assert summary["resumed_from"] == 0 and summary["completed"] == 4


def test_fresh_run_job_count(spark, small_df, tmp_path):
    "A wave is one extraction write plus one manifest append: two jobs."
    from trafilatura_spark.plans.lineage import run_resumable_extraction

    sc = spark.sparkContext
    sc.setJobGroup("lineage-job-count", "fresh resumable run")
    try:
        summary = run_resumable_extraction(spark, small_df, str(tmp_path / "jobs"), n_buckets=8, wave_size=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("lineage-job-count")
    assert summary["waves_run"] == 2
    assert 0 < len(jobs) <= 2 * summary["waves_run"] + 1, jobs


def test_rerun_is_idempotent(spark, small_df, tmp_path):
    from trafilatura_spark.plans.lineage import read_output, run_resumable_extraction

    out = str(tmp_path / "run2")
    run_resumable_extraction(spark, small_df, out, n_buckets=4, wave_size=4)
    first = {(r.conv_id, r.turn_idx): r.extracted_text for r in read_output(spark, out).collect()}
    summary = run_resumable_extraction(spark, small_df, out, n_buckets=4, wave_size=4)
    assert summary["waves_run"] == 0  # nothing left to do
    second = {(r.conv_id, r.turn_idx): r.extracted_text for r in read_output(spark, out).collect()}
    assert first == second


def _fail_first_attempt_factory(marker_dir: str):
    """A make_extract_batch_fn whose function fails attempt 0 of partition
    0 right after that task yielded its first batch, leaving a marker."""
    from trafilatura_spark.operators import extract

    real = extract.make_extract_batch_fn

    def factory(*args, **kwargs):
        fn = real(*args, **kwargs)

        def batch(iterator):
            from pyspark import TaskContext

            ctx = TaskContext.get()
            for out in fn(iterator):
                yield out
                if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
                    open(os.path.join(marker_dir, f"stage{ctx.stageId()}"), "w").close()
                    raise RuntimeError("injected task failure after a yielded batch")

        return batch

    return factory


def retry_run(work: str) -> dict:
    """One clean resumable run and one whose tasks fail once and retry, in
    a local[2,2] session; returns the rows each output differs by."""
    from pyspark.sql import SparkSession

    from trafilatura_spark.fixtures import transcripts_df
    from trafilatura_spark.operators import extract
    from trafilatura_spark.plans.lineage import read_manifest, read_output, run_resumable_extraction

    spark = (
        SparkSession.builder.master("local[2,2]")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "512m")
        # several Arrow batches per task, so the failure follows yielded rows
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
        .config("spark.local.dir", work)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("OFF")
    markers = os.path.join(work, "markers")
    os.makedirs(markers)
    real = extract.make_extract_batch_fn
    try:
        df = transcripts_df(spark, 12, num_slices=2)
        kwargs = dict(n_buckets=8, wave_size=4)
        run_resumable_extraction(spark, df, os.path.join(work, "clean"), **kwargs)
        extract.make_extract_batch_fn = _fail_first_attempt_factory(markers)
        run_resumable_extraction(spark, df, os.path.join(work, "retried"), **kwargs)
        out = {"injected": len(os.listdir(markers))}
        for name, read in (("manifest", read_manifest), ("data", read_output)):
            clean, retried = (
                read(spark, os.path.join(work, run)).drop("wall_seconds") for run in ("clean", "retried")
            )
            out[name] = [clean.exceptAll(retried).count(), retried.exceptAll(clean).count(), clean.count()]
        return out
    finally:
        extract.make_extract_batch_fn = real
        spark.stop()


def test_task_retry_keeps_manifest_exact(tmp_path):
    """The manifest metrics come from an Observation on the write, which
    counts only successful task attempts: a task that fails after
    yielding rows and is retried must not change them."""
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable, PYTHONPATH=REPO)
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), str(tmp_path)],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["injected"] > 0, got
    assert got["manifest"] == [0, 0, 8], got
    assert got["data"][:2] == [0, 0] and got["data"][2] > 0, got


def test_running_state_function_pickles_by_reference(spark, monkeypatch):
    """The applyInPandasWithState function is a module-level package
    function, so a worker that unpickles it imports the package (and
    installs its zip re-read guard) instead of receiving code by value."""
    import pickletools

    from pyspark import cloudpickle
    from pyspark.sql.group import GroupedData

    from trafilatura_spark.streaming.extract_stream import TRANSCRIPT_SCHEMA, conversation_running_state

    captured = []
    monkeypatch.setattr(
        GroupedData, "applyInPandasWithState", lambda self, func, *args: captured.append(func)
    )
    conversation_running_state(spark.createDataFrame([], TRANSCRIPT_SCHEMA))
    strings = {
        arg for op, arg, _ in pickletools.genops(cloudpickle.dumps(captured[0])) if isinstance(arg, str)
    }
    assert "trafilatura_spark.streaming.extract_stream" in strings
    assert "CodeType" not in strings, "the function was pickled by value"


def test_streaming_matches_batch(spark, small_df, tmp_path):
    from trafilatura_spark.operators.extract import extract_transcripts
    from trafilatura_spark.streaming.extract_stream import start_file_stream

    input_dir = str(tmp_path / "in")
    output_dir = str(tmp_path / "out")
    checkpoint = str(tmp_path / "ckpt")
    small_df.write.parquet(input_dir)

    q = start_file_stream(spark, input_dir, output_dir, checkpoint)
    q.awaitTermination(120)

    stream_rows = {
        (r.conv_id, r.turn_idx): (r.extracted_text, r.tier)
        for r in spark.read.parquet(output_dir).collect()
    }
    batch_rows = {
        (r.conv_id, r.turn_idx): (r.extracted_text, r.tier)
        for r in extract_transcripts(small_df).collect()
    }
    assert stream_rows == batch_rows


def test_streaming_windowed_tier_metrics(spark, small_df, tmp_path):
    "Watermarked windowed aggregation over the streaming extraction."
    from trafilatura_spark.streaming.extract_stream import windowed_tier_metrics

    input_dir = str(tmp_path / "win_in")
    output_dir = str(tmp_path / "win_out")
    checkpoint = str(tmp_path / "win_ckpt")
    small_df.write.parquet(input_dir)

    from trafilatura_spark.streaming.extract_stream import TRANSCRIPT_SCHEMA

    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(input_dir)
    metrics = windowed_tier_metrics(stream, window="10 minutes", watermark="5 minutes")
    q = (
        metrics.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(output_dir).collect()
    assert rows, "windowed metrics should emit finalized windows"
    tiers = {r.tier for r in rows}
    assert "main" in tiers
    assert all(r.n_turns > 0 for r in rows)


def test_empty_buckets_get_manifest_rows(spark, tmp_path):
    """A bucket with zero input rows must still be marked done (zero-count
    manifest row), or it re-runs on every resume and 'completed' can
    never reach n_buckets."""
    from trafilatura_spark.fixtures import transcripts_df
    from trafilatura_spark.plans.lineage import read_manifest, run_resumable_extraction

    tiny = transcripts_df(spark, 1, num_slices=1).limit(10)  # 10 turns, 32 buckets
    out = str(tmp_path / "sparse")
    n_buckets = 32
    summary = run_resumable_extraction(spark, tiny, out, n_buckets=n_buckets, wave_size=16)
    assert summary["completed"] == n_buckets
    rows = read_manifest(spark, out).collect()
    assert {r.part_bucket for r in rows} == set(range(n_buckets))
    empties = [r for r in rows if r.n_turns == 0]
    assert len(empties) >= n_buckets - 10, "10 turns cannot fill 32 buckets"
    assert all(r.status == "done" for r in empties)

    # a rerun resumes from a complete manifest: zero waves execute
    summary2 = run_resumable_extraction(spark, tiny, out, n_buckets=n_buckets, wave_size=16)
    assert summary2["resumed_from"] == n_buckets and summary2["waves_run"] == 0


def test_stateful_conversation_running_state(spark, tmp_path):
    """applyInPandasWithState: running per-conversation metrics emit update
    rows each micro-batch; a conversation idle past the event-time gap is
    finalized (state dropped) once the watermark passes its timeout."""
    from datetime import datetime

    from pyspark.sql import Row
    from trafilatura_spark.streaming.extract_stream import (
        TRANSCRIPT_SCHEMA,
        conversation_running_state,
    )

    input_dir = str(tmp_path / "state_in")
    checkpoint = str(tmp_path / "state_ckpt")
    para = "<p>" + "Sufficiently long paragraph text for the cascade to keep easily. " * 3 + "</p>"

    def turns(conv, n, base_hour):
        return [
            Row(conv_id=conv, turn_idx=i, role="user", text=para, tool=None,
                ts=datetime(2024, 1, 1, base_hour, i))
            for i in range(n)
        ]

    # three files -> three micro-batches (maxFilesPerTrigger=1); conv A's
    # event-time timeout (base 8:00 + gap) is passed by the watermark once
    # batch 2's data (9:00) commits, so batch 3 finalizes A
    spark.createDataFrame(turns("convA", 3, 8), TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
        "overwrite").parquet(input_dir + "/f1")
    spark.createDataFrame(turns("convB", 2, 9), TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
        "overwrite").parquet(input_dir + "/f2")
    spark.createDataFrame(turns("convC", 1, 11), TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
        "overwrite").parquet(input_dir + "/f3")

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir + "/*")
    )
    out = conversation_running_state(stream, gap_minutes=10)
    q = (
        out.writeStream.format("memory")
        .queryName("conv_state")
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM conv_state").collect()
    by_conv = {}
    for r in rows:
        by_conv.setdefault(r.conv_id, []).append(r)

    # running update rows carry the correct totals
    a_updates = [r for r in by_conv["convA"] if not r.finalized]
    assert a_updates and a_updates[-1].n_turns == 3 and a_updates[-1].max_turn_idx == 2
    assert all(r.total_chars > 0 for r in a_updates)
    b_updates = [r for r in by_conv["convB"] if not r.finalized]
    assert b_updates and b_updates[-1].n_turns == 2

    # convA was finalized by the event-time timeout with its full totals
    a_final = [r for r in by_conv["convA"] if r.finalized]
    assert a_final and a_final[0].n_turns == 3 and a_final[0].max_turn_idx == 2


def test_streaming_dedup_within_watermark(spark, small_df, tmp_path):
    """At-least-once delivery: duplicated input turns are dropped by
    dropDuplicatesWithinWatermark before extraction, so the streamed
    output matches the UNIQUE turn set exactly."""
    from trafilatura_spark.operators.extract import extract_transcripts
    from trafilatura_spark.streaming.extract_stream import TRANSCRIPT_SCHEMA, dedup_stream

    inp = str(tmp_path / "in")
    outp = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    # duplicate EVERY row (a retried upstream delivery)
    small_df.unionAll(small_df).write.parquet(inp)
    n_unique = small_df.count()

    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(inp)
    deduped = dedup_stream(stream, watermark="1 hour")
    extracted = extract_transcripts(deduped)
    q = (
        extracted.writeStream.format("parquet")
        .option("path", outp)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(outp)
    assert got.count() == n_unique
    assert got.select("conv_id", "turn_idx").distinct().count() == n_unique


def test_streaming_quality_filters_stateless(spark, tmp_path):
    """The Gopher quality + repetition filters run NATIVELY under
    Structured Streaming with no aggregation state: quality_gopher was
    always a projection, and the round-5 shuffle-free quality_repetition
    (sorted run-walk projections) made the repetition metrics streamable
    too — the earlier explode->groupBy formulation would have required
    an output-mode/watermark design for what is conceptually a per-row
    computation.  Stream results must equal the batch run row-for-row."""
    from trafilatura_spark.operators.textstats import quality_gopher, quality_repetition

    docs = [
        (1, "the quick brown fox jumps over the lazy dog and that is fine "
            "because every sentence here varies its wording deliberately "
            "with plenty of distinct tokens to pass the word count gate "
            * 2),
        (2, "buy now " * 60),
        (3, "paragraph one\n\nparagraph one\n\nparagraph two"),
    ]
    inp = str(tmp_path / "docs_in")
    out = str(tmp_path / "docs_out")
    ckpt = str(tmp_path / "docs_ckpt")
    batch_df = spark.createDataFrame(docs, "doc_id long, text string")
    batch_df.write.parquet(inp)

    stream = spark.readStream.schema("doc_id long, text string").parquet(inp)
    joined = quality_repetition(stream).join(
        quality_gopher(stream).select("doc_id", "passes"), "doc_id"
    )
    q = (
        joined.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    want = {
        r.doc_id: r
        for r in quality_repetition(batch_df)
        .join(quality_gopher(batch_df).select("doc_id", "passes"), "doc_id")
        .collect()
    }
    assert set(got) == {1, 2, 3}
    for k in want:
        assert got[k].asDict() == want[k].asDict()
    assert got[2].rep_passes is False          # spam 2-gram
    assert got[3].dup_para_frac > 0.3          # duplicated paragraph


if __name__ == "__main__":
    print(json.dumps(retry_run(sys.argv[1])))
