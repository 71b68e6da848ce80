"""Production entrypoint: checkpoint-resumable extraction via spark-submit.

The deployment shape the north rule names — `spark-submit --py-files` on
a multi-executor cluster:

    cd /root/repo && zip -qr /tmp/tspark.zip trafilatura_spark
    spark-submit --master <cluster> --py-files /tmp/tspark.zip \
        tools/submit_extract.py --input /path/to/transcripts_parquet \
        --output /path/to/out --n-buckets 64 --wave-size 16

Input: a parquet table with (conv_id string, turn_idx int, text string)
— extra columns are ignored.  Output: parquet partitioned by lineage
bucket plus a per-bucket manifest with extraction metrics; re-running
the same command resumes from the manifest (only missing buckets run).

`--synthetic N` generates the deterministic N-conversation fixture
corpus instead of reading --input (smoke runs on a bare cluster).
`--profile` turns on Spark's Python UDF profiler and prints its cProfile
tables after the run, before the summary line.
Prints ONE summary JSON line, the last line of stdout, on success.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# repo-checkout fallback; under --py-files the zip already provides the package
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F  # noqa: E402


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", help="input path (parquet) or catalog table (iceberg)")
    ap.add_argument("--table-format", default="parquet", choices=["parquet", "iceberg"],
                    help="input/output table format; iceberg needs the runtime jar "
                         "on the classpath and reads/writes via the catalog")
    ap.add_argument("--snapshot", default=None,
                    help="iceberg snapshot-id for time-travel reads (pin resumed "
                         "runs to the snapshot the first attempt saw)")
    ap.add_argument("--synthetic", type=int, default=0,
                    help="generate an N-conversation fixture corpus instead of --input")
    ap.add_argument("--output", required=True, help="output path (data/ + lineage manifest)")
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--wave-size", type=int, default=16)
    ap.add_argument("--favor", choices=["precision", "recall", "balanced"], default="balanced")
    ap.add_argument("--target-lang", default=None, help="ISO code; mismatches are discarded")
    ap.add_argument("--format", default="txt",
                    choices=["txt", "markdown", "xml", "json", "csv", "html", "xmltei"],
                    help="per-turn output serialization (same dispatcher as extract())")
    ap.add_argument("--assemble", action="store_true",
                    help="also write one training document per conversation "
                         "(turn-ordered, discarded turns skipped) to <output>/conversations")
    ap.add_argument("--dedup-lines", type=int, default=0, metavar="K",
                    help="with --assemble: remove lines recurring in >= K distinct "
                         "conversations (boilerplate census) before cleaning; adds "
                         "n_boilerplate_removed")
    ap.add_argument("--c4-clean", action="store_true",
                    help="with --assemble: apply the C4 line rules to each "
                         "conversation document and add the c4_keep verdict column "
                         "(no rows are dropped; filter downstream on c4_keep)")
    ap.add_argument("--scrub-pii", action="store_true",
                    help="with --assemble: replace emails/IPv4s/phone numbers in the "
                         "conversation text with typed placeholders; adds n_pii")
    ap.add_argument("--profile", action="store_true",
                    help="set spark.sql.pyspark.udf.profiler=perf and print the "
                         "extraction batch functions' cProfile tables after the "
                         "run, before the summary line.  The profile covers the "
                         "UDF body only: it cannot see a Python worker's work "
                         "between tasks, such as PySpark's full gc.collect() "
                         "after every task")
    args = ap.parse_args(argv)
    if not args.input and not args.synthetic:
        ap.error("one of --input / --synthetic is required")
    return args


def session_conf(args: argparse.Namespace) -> dict:
    "Spark settings the command line adds to the session."
    return {"spark.sql.pyspark.udf.profiler": "perf"} if args.profile else {}


def main() -> int:
    args = parse_args()
    builder = SparkSession.builder.appName("trafilatura-spark-extract")
    for key, value in session_conf(args).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from trafilatura_spark.kernel import Options
    from trafilatura_spark.plans.lineage import read_manifest, read_output, run_resumable_extraction

    if args.synthetic:
        from trafilatura_spark.fixtures import transcripts_df

        df = transcripts_df(spark, args.synthetic)
    else:
        from trafilatura_spark.sources import read_transcripts

        df = read_transcripts(
            spark, args.input, table_format=args.table_format, snapshot=args.snapshot
        )

    options = Options(
        focus=args.favor,
        lang=args.target_lang,
        format=args.format,
    )
    summary = run_resumable_extraction(
        spark, df, args.output,
        n_buckets=args.n_buckets, wave_size=args.wave_size, options=options,
    )
    manifest = read_manifest(spark, args.output)
    totals = manifest.agg(
        F.sum("n_turns").alias("turns"),
        F.sum("n_extracted").alias("extracted"),
        F.sum("chars_kept").alias("chars_kept"),
        F.sum("n_main").alias("main"),
        F.sum("n_discarded").alias("discarded"),
    ).collect()[0]
    summary.update(
        turns=int(totals.turns or 0),
        extracted=int(totals.extracted or 0),
        chars_kept=int(totals.chars_kept or 0),
        tier_main=int(totals.main or 0),
        discarded=int(totals.discarded or 0),
    )
    if args.assemble:
        from trafilatura_spark.operators.extract import (
            assemble_conversations,
            postprocess_conversations,
        )

        conv_path = os.path.join(args.output, "conversations")
        convs = postprocess_conversations(
            assemble_conversations(read_output(spark, args.output)),
            dedup_lines=args.dedup_lines,
            c4_clean=args.c4_clean,
            scrub_pii=args.scrub_pii,
        )
        convs.write.mode("overwrite").parquet(conv_path)
        summary.update(conversations=spark.read.parquet(conv_path).count())
    if args.profile:
        spark.profile.show(type="perf")
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
