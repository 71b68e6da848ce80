"""Checkpoint-resumable extraction runs with per-partition lineage.

The north rule (BASELINE.json) requires runs to be resumable from
checkpoint with per-partition lineage and extraction metrics.  The
reference has no equivalent (it reruns files; SURVEY.md §4) — this is
Spark-native orchestration:

- the input is bucketed deterministically: bucket = pmod(xxhash64(conv_id,
  turn_idx), n_buckets).  Buckets are the resume/lineage unit (stand-in
  for Iceberg partitions; works over plain parquet here).
- output parquet is partitioned by bucket and written with dynamic
  partition overwrite, so re-processing a bucket is idempotent.
- a manifest parquet (one row per completed bucket) records status +
  extraction metrics (turn counts, chars kept, per-tier counts).  Job
  start reads the completed buckets; only missing buckets run.
- buckets are processed in waves.  A wave is one extraction write plus
  one manifest append, so a failure loses at most one wave.  Nothing is
  cached: every wave re-reads the input, and so does every resumed run,
  so the input must be deterministic across re-reads.
- the manifest metrics are observed on the wave's write (one
  ``Observation`` of per-bucket conditional sums), not computed by a
  second pass; an empty bucket sums to 0 and still gets its row.
  ``wall_seconds`` is the wave's write wall time, stamped on each of its
  buckets.
"""

from __future__ import annotations

import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..kernel import DEFAULT_OPTIONS, Options
from ..operators.extract import extract_transcripts

MANIFEST_SUBDIR = "_lineage_manifest"
DATA_SUBDIR = "data"
MANIFEST_SCHEMA = (
    "part_bucket int, n_turns bigint, chars_kept bigint, n_extracted bigint,"
    " n_main bigint, n_discarded bigint, status string, wall_seconds double"
)
# per-row value (SQL) of each manifest metric; a bucket's metric is its sum
METRICS = {
    "n_turns": "1",
    "chars_kept": "chars_kept",
    "n_extracted": "CAST(extracted_text IS NOT NULL AS INT)",
    "n_main": "CAST(tier = 'main' AS INT)",
    "n_discarded": "CAST(tier LIKE 'disc%' AS INT)",
}


def _manifest_path(output_path: str) -> str:
    return f"{output_path.rstrip('/')}/{MANIFEST_SUBDIR}"


def _data_path(output_path: str) -> str:
    return f"{output_path.rstrip('/')}/{DATA_SUBDIR}"


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        "part_bucket", F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(n_buckets)).cast("int")
    )


def completed_buckets(spark: SparkSession, output_path: str) -> set:
    "Buckets already marked done in the manifest (empty set on first run)."
    try:
        manifest = read_manifest(spark, output_path)
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return set()
    return {r.part_bucket for r in manifest.filter(F.col("status") == "done").select("part_bucket").collect()}


def run_resumable_extraction(
    spark: SparkSession,
    df: DataFrame,
    output_path: str,
    n_buckets: int = 64,
    wave_size: int = 16,
    options: Options = DEFAULT_OPTIONS,
) -> dict:
    "Run (or resume) the extraction job.  Returns a summary dict."
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    done = completed_buckets(spark, output_path)
    todo = sorted(set(range(n_buckets)) - done)
    waves = [todo[i : i + wave_size] for i in range(0, len(todo), wave_size)]
    bucketed = with_bucket(df, n_buckets)

    for wave in waves:
        extracted = extract_transcripts(
            bucketed.filter(F.col("part_bucket").isin(wave)),
            options=options,
            passthrough_cols=["conv_id", "turn_idx", "part_bucket"],
        )
        observation = Observation()
        observed = extracted.observe(
            observation,
            *(
                F.expr(f"SUM(IF(part_bucket = {b}, {value}, 0)) AS {name}_{b}")
                for b in wave
                for name, value in METRICS.items()
            ),
        )
        t0 = time.monotonic()
        # idempotent write: dynamic overwrite replaces exactly these buckets
        observed.write.mode("overwrite").partitionBy("part_bucket").parquet(_data_path(output_path))
        elapsed = round(time.monotonic() - t0, 3)

        # a wave with no rows at all reports NULL sums
        sums = observation.get
        rows = [
            (b, *(sums[f"{name}_{b}"] or 0 for name in METRICS), "done", elapsed) for b in wave
        ]
        spark.createDataFrame(rows, MANIFEST_SCHEMA).write.mode("append").parquet(
            _manifest_path(output_path)
        )

    return {
        "n_buckets": n_buckets,
        "resumed_from": len(done),
        "completed": len(done.union(todo)),
        "waves_run": len(waves),
    }


def read_output(spark: SparkSession, output_path: str) -> DataFrame:
    return spark.read.parquet(_data_path(output_path))


def read_manifest(spark: SparkSession, output_path: str) -> DataFrame:
    # the explicit schema reads a directory that holds no part-file yet
    # (a first append killed mid-write) as empty instead of failing inference
    return spark.read.schema(MANIFEST_SCHEMA).parquet(_manifest_path(output_path))
