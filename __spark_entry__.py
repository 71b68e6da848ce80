"""Driver contract for the spark-graft builder (PySpark target).

entry()      — flagship: full extraction cascade over a deterministic
               synthetic transcript corpus (sf0.001-scale).
queries()    — one entry per implemented operator (SURVEY.md §2 +
               training-pipeline operators); each (spark, sf_dir) -> DataFrame.
oracle_sql() — DuckDB twins for every SQL-expressible query.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from trafilatura_spark.queries import ORACLE_SQL, SPARK_QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: per-turn main-content extraction over the synthetic
    transcript corpus — the input's own balanced partitioning (a caller
    with skewed input applies salted_repartition first) -> mapInArrow
    cascade -> stable (conv_id, turn_idx) ordering."""
    from trafilatura_spark.fixtures import transcripts_df
    from trafilatura_spark.operators.extract import extract_transcripts

    df = transcripts_df(spark, 60, num_slices=16)
    return extract_transcripts(df).orderBy("conv_id", "turn_idx")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(SPARK_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLE_SQL)
