"""Table-format-agnostic IO (sources/tables.py): parquet path exercised
for real; the Iceberg path is gated by runtime detection (no jar in this
container) and must fail with an actionable error, never a JVM stack
trace from a missing class."""

import pytest


def test_parquet_roundtrip_and_pruned_read(spark, tmp_path):
    from trafilatura_spark.sources import read_transcripts, write_table

    df = spark.createDataFrame(
        [("c1", 0, "hello", "user"), ("c1", 1, "world", "assistant")],
        "conv_id string, turn_idx int, text string, role string",
    )
    path = str(tmp_path / "t")
    write_table(df, path)
    back = read_transcripts(spark, path)
    assert back.columns == ["conv_id", "turn_idx", "text"]  # pruned at the source
    assert back.count() == 2
    # partitioned write keeps the column readable
    path2 = str(tmp_path / "t2")
    write_table(df, path2, partition_col="conv_id")
    assert read_transcripts(spark, path2).count() == 2


def _write_turns(path, turn_idx_type):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path.mkdir()
    table = pa.table(
        {"conv_id": ["c1", "c2"], "turn_idx": pa.array([3, 7], turn_idx_type), "text": ["a", "b"]}
    )
    pq.write_table(table, str(path / "part-0.parquet"))
    return str(path)


def test_turn_idx_reads_as_int_from_int32_and_int64_files(spark, tmp_path):
    import pyarrow as pa

    from trafilatura_spark.sources import read_transcripts

    for name, arrow_type in (("int32", pa.int32()), ("int64", pa.int64())):
        back = read_transcripts(spark, _write_turns(tmp_path / name, arrow_type))
        assert back.schema.simpleString() == "struct<conv_id:string,turn_idx:int,text:string>", name
        assert sorted(tuple(r) for r in back.collect()) == [("c1", 3, "a"), ("c2", 7, "b")], name


def test_building_the_read_runs_no_spark_job(spark, tmp_path):
    import pyarrow as pa

    from trafilatura_spark.sources import read_transcripts

    path = _write_turns(tmp_path / "t", pa.int64())
    sc = spark.sparkContext
    group = "read-transcripts-build"
    sc.setJobGroup(group, "build only")
    try:
        read_transcripts(spark, path)
        read_transcripts(spark, path, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []


def test_undeclared_column_raises_when_the_read_is_built(spark, tmp_path):
    from trafilatura_spark.sources import read_transcripts

    with pytest.raises(ValueError, match="not transcript columns"):
        read_transcripts(spark, str(tmp_path / "absent"), columns=["conv_id", "text", "lang"])


def test_iceberg_detection_and_actionable_error(spark, tmp_path):
    from trafilatura_spark.sources import (
        iceberg_available, read_transcripts, write_table,
    )

    if iceberg_available(spark):
        pytest.skip("Iceberg runtime present; gated path not applicable")
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        read_transcripts(spark, "cat.db.transcripts", table_format="iceberg")
    df = spark.range(1).selectExpr("'c' AS conv_id", "0 AS turn_idx", "'x' AS text")
    with pytest.raises(RuntimeError, match="Iceberg"):
        write_table(df, "cat.db.out", table_format="iceberg")


def test_unknown_format_rejected(spark, tmp_path):
    from trafilatura_spark.sources import read_transcripts

    with pytest.raises(ValueError, match="unknown table_format"):
        read_transcripts(spark, "x", table_format="orc2")
