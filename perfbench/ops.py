"""The corpus and SQL operators of ``bench.BENCH_QUERIES``, timed layer by
layer (py4j construction, planning, execution) and value-checked
against their DuckDB twins with ``tools/check_oracle.py``'s
normalisation.

The input tables are generated here with a fixed seed, in the shape of
the repository's test tables (TPC-H-like star schema, events, documents,
embeddings) with the row counts of the sf0.01 test tables, so the
benchmark reads nothing outside its checkout.  They are written once per
checkout; ``--seed`` only permutes the query order.
"""

from __future__ import annotations

import json
import os
import re
import time

import numpy as np
import pandas as pd

TABLES_SEED = 42
N_ORDERS = 15_000
N_DOCS = 500
# shuffle and broadcast exchange nodes; a ReusedExchange moves no new data
_EXCHANGE = re.compile(r"(?:^|\+- )(?:\*\(\d+\) )?(?:Broadcast)?Exchange ", re.M)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge order part "
    "query row scan slow small sort spark stream table the value vector window"
).split()


def _write(path: str, name: str, df: pd.DataFrame) -> None:
    df.to_parquet(os.path.join(path, f"{name}.parquet"), index=False)


def make_tables(path: str) -> str:
    "Write the input tables under ``path`` unless they are there; returns ``path``."
    done = os.path.join(path, "tables.json")
    if os.path.exists(done):
        return path
    os.makedirs(path, exist_ok=True)
    rng = np.random.default_rng(TABLES_SEED)
    n_cust, n_part, n_supp, n_line = N_ORDERS // 10, N_ORDERS * 2 // 15, 100, N_ORDERS * 4
    day = np.datetime64("1995-01-01")
    _write(path, "region", pd.DataFrame({"r_regionkey": np.arange(5, dtype="int32"),
                                         "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    _write(path, "nation", pd.DataFrame({"n_nationkey": np.arange(25, dtype="int32"),
                                         "n_name": [f"NATION_{i}" for i in range(25)],
                                         "n_regionkey": (np.arange(25) % 5).astype("int32")}))
    _write(path, "customer", pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    }))
    _write(path, "supplier", pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    }))
    _write(path, "part", pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(["small", "hot", "red", "blue", "large"], n_part),
                                              rng.choice(["ring", "widget", "gear", "bolt"], n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
    }))
    _write(path, "orders", pd.DataFrame({
        "o_orderkey": np.arange(N_ORDERS, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, N_ORDERS).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, N_ORDERS), 2),
        "o_orderdate": (day + rng.integers(0, 2400, N_ORDERS).astype("timedelta64[D]")).astype("datetime64[us]"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], N_ORDERS),
    }))
    qty = rng.integers(1, 51, n_line).astype("float64")
    _write(path, "lineitem", pd.DataFrame({
        "l_orderkey": rng.integers(0, N_ORDERS, n_line).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": (day + rng.integers(1, 2500, n_line).astype("timedelta64[D]")).astype("datetime64[us]"),
    }))
    n_ev = N_ORDERS * 2 // 3
    _write(path, "events", pd.DataFrame({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": (np.datetime64("2024-01-01T00:00:00", "us")
               + np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)).astype("timedelta64[us]")),
        "user_id": rng.integers(0, 150, n_ev).astype("int64"),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.uniform(0, 100, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    }))
    texts = []
    for i in range(N_DOCS):
        if i >= 10 and i % 9 == 0:  # near-duplicates of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 95)))))
    _write(path, "documents", pd.DataFrame({
        "doc_id": np.arange(N_DOCS, dtype="int64"),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "de", "es", "fr", "zh"], N_DOCS),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }))
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, N_DOCS)
    vecs = centers[labels] + rng.normal(scale=0.6, size=(N_DOCS, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    _write(path, "embeddings", pd.DataFrame({
        "vec_id": np.arange(N_DOCS, dtype="int64"),
        "embedding": list(vecs),
        "label": labels.astype("int32"),
    }))
    with open(done, "w") as f:
        json.dump({"seed": TABLES_SEED, "orders": N_ORDERS, "documents": N_DOCS}, f)
    return path


def run_queries(spark, tables: str, seed: int) -> tuple:
    """Build, plan and execute each query in a seed-permuted order and
    compare it with its DuckDB twin.  Returns (metrics, failures)."""
    import duckdb

    from bench import BENCH_QUERIES
    from tools.check_oracle import TABLES, _norm_rows
    from trafilatura_spark.fixtures import _h
    from trafilatura_spark.queries import ORACLE_SQL, SPARK_QUERIES, VALIDATION_ORACLE_SQL, VALIDATION_QUERIES

    queries = {**SPARK_QUERIES, **VALIDATION_QUERIES}
    oracles = {**ORACLE_SQL, **VALIDATION_ORACLE_SQL}
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    m = {"ops.build_s": 0.0, "ops.plan_s": 0.0, "ops.exec_s": 0.0}
    failures = []
    for name in sorted(BENCH_QUERIES, key=lambda q: _h(str(seed), 0, q)):
        t0 = time.monotonic()
        df = queries[name](spark, tables)
        t1 = time.monotonic()
        df._jdf.queryExecution().executedPlan()
        t2 = time.monotonic()
        rows = df.collect()
        t3 = time.monotonic()
        plan = df._jdf.queryExecution().executedPlan()
        if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            plan = plan.executedPlan()  # the final plan, after re-optimization
        m["ops.build_s"] += t1 - t0
        m["ops.plan_s"] += t2 - t1
        m["ops.exec_s"] += t3 - t2
        m[f"ops.{name}.s"] = t3 - t0
        m[f"ops.{name}.exchanges"] = len(_EXCHANGE.findall(plan.toString()))
        if name in oracles:
            res = con.execute(oracles[name])
            want = _norm_rows([d[0] for d in res.description], res.fetchall())
            if _norm_rows(df.columns, [tuple(r) for r in rows]) != want:
                failures.append(name)
        elif not rows or rows != queries[name](spark, tables).collect():
            failures.append(name)
    con.close()
    return m, failures
