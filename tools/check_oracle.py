"""Local replica of the driver's correctness gate: run each
__spark_entry__ query on Spark AND its oracle SQL on DuckDB at a given
scale factor, compare row counts, schemas, and order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys

sys.path.insert(0, ".")

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # Exact (shortest round-trip) representation: the driver's gate
        # hashes exact values, and a 6-dp format here masked the r5
        # text_unigram_logprob partition-order nondeterminism.  -0.0
        # normalizes to 0.0 so a signed zero can't fail the gate alone.
        return repr(v + 0.0 if v == 0.0 else v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        out.append(tuple(_norm_cell(row[i]) for i in idx))
    out.sort()
    return sorted(cols), out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "6g")
        .appName("oracle-check")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    # The driver only sees entry.queries() (kept at <= its 50-row sample
    # window); the retired validation-only entries stay gated HERE.
    from trafilatura_spark.queries import VALIDATION_ORACLE_SQL, VALIDATION_QUERIES

    queries = {**entry.queries(), **VALIDATION_QUERIES}
    oracles = {**entry.oracle_sql(), **VALIDATION_ORACLE_SQL}
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"FAIL {name}: no oracle_sql twin")
            failures.append(name)
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error {type(e).__name__}: {e}")
            failures.append(name)
            continue
        sc, sr = _norm_rows(scols, [tuple(r) for r in srows])
        dc, dr = _norm_rows(dcols, drows)
        if sc != dc:
            print(f"FAIL {name}: schema mismatch spark={sc} duckdb={dc}")
            failures.append(name)
            continue
        if len(sr) != len(dr):
            print(f"FAIL {name}: rowcount spark={len(sr)} duckdb={len(dr)}")
            failures.append(name)
            continue
        if sr != dr:
            bad = [(a, b) for a, b in zip(sr, dr) if a != b][:3]
            print(f"FAIL {name}: value mismatch, first diffs: {bad}")
            failures.append(name)
            continue
        print(f"ok   {name}: {len(sr)} rows value-match")

    spark.stop()
    if failures:
        print("FAILURES:", failures)
        return 1
    print("all queries match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
