"""Streaming extraction: the same mapInArrow extraction batch loop over readStream.

The reference is strictly batch (SURVEY.md §2.9); this extends the graft
to continuous ingestion: a file-source (or any) streaming DataFrame of
transcript turns flows through the identical batch function, so batch
and streaming outputs are per-turn equal by construction.  Exactly-once
delivery comes from the sink checkpoint; per-turn results are
deterministic so replays are idempotent.
"""

from __future__ import annotations

from functools import partial
from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..kernel import DEFAULT_OPTIONS, Options
from ..operators.extract import extract_transcripts
from ..operators.worker_setup import freeze_import_heap

TRANSCRIPT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("role", StringType(), True),
        StructField("text", StringType(), True),
        StructField("tool", StringType(), True),
        StructField("ts", TimestampType(), True),
    ]
)


def windowed_tier_metrics(stream_df: DataFrame, options: Options = DEFAULT_OPTIONS,
                          window: str = "10 minutes", watermark: str = "30 minutes") -> DataFrame:
    """Streaming pipeline metrics: per-event-time-window tier counts with
    a watermark for late turns — the monitoring face of a continuous
    extraction job (tier drift over ingestion time)."""
    from pyspark.sql import functions as F

    extracted = extract_transcripts(stream_df, options, passthrough_cols=["conv_id", "turn_idx", "ts"])
    return (
        extracted.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("tier"))
        .agg(F.count(F.lit(1)).alias("n_turns"), F.sum("chars_kept").alias("chars_kept"))
    )


def dedup_stream(
    stream_df: DataFrame,
    watermark: str = "30 minutes",
    keys: tuple = ("conv_id", "turn_idx"),
) -> DataFrame:
    """Streaming exact dedup: drop re-deliveries of the same
    (conv_id, turn_idx) arriving within the watermark horizon —
    Structured Streaming's dropDuplicatesWithinWatermark, so the dedup
    state is BOUNDED (keys expire with the watermark) instead of growing
    forever like a plain dropDuplicates would on an unbounded stream.
    This is the streaming face of the exact-dedup operator: at-least-once
    sources (Kafka, file backfills, retried upstream jobs) deliver
    duplicates; the extraction cost per duplicate is saved by deduping
    BEFORE the extraction batch loop."""
    return stream_df.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(list(keys))


def start_file_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    options: Options = DEFAULT_OPTIONS,
    available_now: bool = True,
    max_files_per_trigger: Optional[int] = None,
):
    """File-source streaming job: parquet-in -> extraction -> parquet-out
    with checkpointing.  ``available_now=True`` drains existing input and
    stops (micro-batch backfill mode); otherwise runs continuously."""
    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)
    out = extract_transcripts(stream, options)
    writer = (
        out.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _update_conv(gap_ms, key, pdfs, state):
    "One conversation's step of conversation_running_state (applyInPandasWithState)."
    (conv_id,) = key
    if state.hasTimedOut:
        n, chars, mx = state.get
        state.remove()
        yield pd.DataFrame(
            [{"conv_id": conv_id, "n_turns": n, "total_chars": chars,
              "max_turn_idx": mx, "finalized": True}]
        )
        return
    n, chars, mx = state.get if state.exists else (0, 0, -1)
    latest = None
    for pdf in pdfs:
        n += len(pdf)
        chars += int(pdf["chars_kept"].fillna(0).sum())
        mx = max(mx, int(pdf["turn_idx"].max()))
        ts_max = pdf["ts"].max()
        if not pd.isna(ts_max):
            latest = ts_max if latest is None else max(latest, ts_max)
    state.update((n, chars, mx))
    if latest is not None:
        state.setTimeoutTimestamp(int(latest.timestamp() * 1000) + gap_ms)
    yield pd.DataFrame(
        [{"conv_id": conv_id, "n_turns": n, "total_chars": chars,
          "max_turn_idx": mx, "finalized": False}]
    )


def conversation_running_state(
    stream_df: DataFrame,
    options: Options = DEFAULT_OPTIONS,
    gap_minutes: int = 10,
) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-conversation running extraction metrics with event-time session
    finalization.

    Each micro-batch updates a per-conv_id state (turn count, chars kept,
    max turn_idx) and emits an update row; a conversation idle past
    ``gap_minutes`` of event time (watermark-driven GroupStateTimeout)
    emits a final row with finalized=true and drops its state.  This is
    the north star's "custom stateful operator" shape: state lives in the
    state store (RocksDB/HDFS-backed on a cluster), keyed by conv_id, so
    memory scales with ACTIVE conversations, not corpus size."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    extracted = extract_transcripts(stream_df, options, passthrough_cols=["conv_id", "turn_idx", "ts"])

    out_schema = (
        "conv_id string, n_turns bigint, total_chars bigint, max_turn_idx int, finalized boolean"
    )
    state_schema = "n_turns bigint, total_chars bigint, max_turn_idx int"
    return (
        extracted.withWatermark("ts", f"{gap_minutes} minutes")
        .groupBy("conv_id")
        .applyInPandasWithState(
            # module-level function bound by partial: pickled by reference, so
            # the worker imports the package (and its zip re-read guard)
            partial(_update_conv, gap_minutes * 60_000),
            out_schema, state_schema, "update", GroupStateTimeout.EventTimeTimeout,
        )
    )


# last: pandas is loaded here, after operators/arrow_batches.py froze the heap
# in a worker that extracted first, and no batch data exists yet
freeze_import_heap()
