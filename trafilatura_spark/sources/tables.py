"""Table-format-agnostic IO for the transcript pipeline.

The north rule names Iceberg tables as the production substrate
(`spark.read.format("iceberg")` / `df.writeTo(...)`, SURVEY §2.1): this
module is the single place the pipeline touches a table format, so the
same jobs run over plain parquet paths (this container — no Iceberg
runtime jar is installed) and over Iceberg catalogs on a cluster that
has `iceberg-spark-runtime` on the classpath.  Everything degrades by
explicit detection, never by a stack trace from a missing class.

Iceberg specifics honored when active:
- reads go through the catalog (`spark.read.format("iceberg")`), so
  snapshot isolation, hidden-partition pruning and `snapshot-id` time
  travel apply to the scan;
- `write_table` uses the DataFrameWriterV2 `writeTo(...)` API
  (createOrReplace / append): each call is one atomic snapshot commit
  instead of a directory-level overwrite;
- `partition_col` only partitions `write_table`'s output
  (`partitionedBy` / `partitionBy`).

The resumable runner (`plans/lineage.py`) does not write through this
module: it buckets turns by a hash of `(conv_id, turn_idx)` and writes
each wave's buckets as parquet itself (dynamic partition overwrite).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession

TRANSCRIPT_COLUMNS = ["conv_id", "turn_idx", "text"]

# The north rule's transcript columns and their types, declared so that
# building a parquet read infers no schema (inference is a Spark job).
# turn_idx is declared BIGINT, which reads INT32 and INT64 files alike (a
# declared INT fails on an INT64 file at task time), and is narrowed to
# INT by the read's projection.
TRANSCRIPT_TYPES = {
    "conv_id": "STRING",
    "turn_idx": "BIGINT",
    "role": "STRING",
    "text": "STRING",
    "tool": "STRING",
    "ts": "TIMESTAMP",
}


def iceberg_available(spark: SparkSession) -> bool:
    "True when the Iceberg Spark runtime is on the JVM classpath."
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return True
    except Exception:
        return False


def read_transcripts(
    spark: SparkSession,
    source: str,
    table_format: str = "parquet",
    snapshot: Optional[str] = None,
    columns: Optional[list] = None,
) -> DataFrame:
    """Read the transcript table from ``source``:

    - ``parquet``: a filesystem path (this container's test substrate);
    - ``iceberg``: a catalog table identifier (`cat.db.transcripts`) —
      requires the runtime jar; ``snapshot`` selects `VERSION AS OF`
      time travel so a resumed run can pin the exact snapshot the first
      attempt saw (consistent lineage across retries).

    Column pruning happens HERE so every downstream operator inherits a
    minimal scan (ReadSchema only carries what the cascade needs).  A
    parquet read declares the ``TRANSCRIPT_TYPES`` of its columns, so
    building it runs no Spark job; a column outside them raises
    ValueError."""
    cols = columns or TRANSCRIPT_COLUMNS
    if table_format == "iceberg":
        if not iceberg_available(spark):
            raise RuntimeError(
                "table_format='iceberg' but the Iceberg Spark runtime is not on "
                "the classpath — add the iceberg-spark-runtime jar (spark-submit "
                "--packages org.apache.iceberg:iceberg-spark-runtime-...) or use "
                "table_format='parquet'"
            )
        reader = spark.read.format("iceberg")
        if snapshot is not None:
            reader = reader.option("snapshot-id", snapshot)
        return reader.load(source).select(*cols)
    if table_format == "parquet":
        unknown = [c for c in cols if c not in TRANSCRIPT_TYPES]
        if unknown:
            raise ValueError(f"columns {unknown} are not transcript columns {list(TRANSCRIPT_TYPES)}")
        ddl = ", ".join(f"{c} {TRANSCRIPT_TYPES[c]}" for c in cols)
        return spark.read.schema(ddl).parquet(source).selectExpr(
            *("CAST(turn_idx AS INT) AS turn_idx" if c == "turn_idx" else c for c in cols)
        )
    raise ValueError(f"unknown table_format {table_format!r}")


def write_table(
    df: DataFrame,
    target: str,
    table_format: str = "parquet",
    mode: str = "overwrite",
    partition_col: Optional[str] = None,
) -> None:
    """Write pipeline output:

    - ``parquet``: directory write (optionally partitioned);
    - ``iceberg``: DataFrameWriterV2 `writeTo(...)` — createOrReplace
      for 'overwrite', append otherwise; each call is ONE atomic Iceberg
      snapshot commit (a torn write never becomes visible)."""
    if table_format == "iceberg":
        if not iceberg_available(df.sparkSession):
            raise RuntimeError(
                "table_format='iceberg' requires the Iceberg Spark runtime jar"
            )
        writer = df.writeTo(target)
        if partition_col:
            from pyspark.sql import functions as F

            writer = writer.partitionedBy(F.col(partition_col))
        if mode == "overwrite":
            writer.createOrReplace()
        else:
            writer.append()
        return
    if table_format == "parquet":
        w = df.write.mode(mode)
        if partition_col:
            w = w.partitionBy(partition_col)
        w.parquet(target)
        return
    raise ValueError(f"unknown table_format {table_format!r}")
