"""Physical-plan audit: assert the plans we'd want at 100 TB.

For each audited query this checks, against the executed/analyzed plan:
- filter pushdown reaches the parquet scan (PushedFilters non-empty
  where the query filters scan columns),
- column pruning reaches the scan (ReadSchema contains only needed
  columns — a scan reading all columns for a narrow projection fails),
- small dimensions broadcast (BroadcastHashJoin / BroadcastExchange),
- per-document tables do NOT broadcast where that would OOM at scale
  (the Jaccard counts join must be a shuffle join under a non-AQE
  plan check),
- Python stays off the hot path except the single Arrow batch stage
  (MapInArrow for extraction, MapInPandas for n-gram lang-id).

Usage: python tools/audit_plans.py [sf_dir]
Prints one PASS/FAIL line per assertion and exits nonzero on failure.
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

CHECKS = []
# physical nodes that run Python over Arrow batches
PYTHON_MAP_NODES = ("MapInPandas", "MapInArrow")


def check(name: str, ok: bool, detail: str = "") -> None:
    CHECKS.append((name, ok))
    print(f"{'PASS' if ok else 'FAIL'} {name}" + (f" — {detail}" if detail and not ok else ""))


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def no_python_stage(p: str) -> bool:
    "No Python UDF or Arrow batch node anywhere in the plan."
    return "Python" not in p and not any(node in p for node in PYTHON_MAP_NODES)


def only_rebalance_exchanges(p: str) -> bool:
    """True when every Exchange in the plan is the round-robin input
    spread that the query registry puts over its single-row-group gate
    tables (``queries._spread``) — i.e. the OPERATOR itself introduces
    no keyed shuffle.  Operators never repartition, so over a
    production scan these plans are exchange-free."""
    kinds = re.findall(r"Exchange (\w+)", p)
    return all(k == "RoundRobinPartitioning" for k in kinds)


def broadcast_blocks(p: str) -> list:
    """Subtree text of each BroadcastExchange in a plan string, by tree
    indentation (the ':-'/'+-' markers give each operator a column; a
    block ends at the first following line at or left of its column)."""
    lines = p.splitlines()
    blocks = []
    for i, line in enumerate(lines):
        col = line.find("BroadcastExchange")
        if col < 0:
            continue
        body = []
        for nxt in lines[i + 1 :]:
            stripped = nxt.lstrip(" :+-")
            depth = len(nxt) - len(stripped)
            if depth <= col:
                break
            body.append(nxt)
        blocks.append("\n".join(body))
    return blocks


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from pyspark.sql import SparkSession

    from trafilatura_spark import queries as Q

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.adaptive.enabled", "true")
        .appName("plan-audit")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # q1: filter pushdown + column pruning at the lineitem scan.
    # collect() first: under AQE the executed plan only carries the final
    # (codegen-annotated) form after execution; the FileScan bracket list
    # is used for pruning because the ReadSchema string is truncated.
    q1 = Q.q1_pricing_summary(spark, sf_dir)
    q1.collect()
    p = plan_of(q1)
    check("q1 filter pushdown", "PushedFilters: [" in p and "l_shipdate" in p.split("PushedFilters")[1][:200])
    rs = re.search(r"FileScan parquet \[([^\]]*)\]", p)
    cols = rs.group(1) if rs else ""
    check(
        "q1 column pruning",
        bool(rs) and "l_comment" not in cols and "l_orderkey" not in cols and "l_quantity" in cols,
        cols[:200],
    )
    check("q1 partial aggregation", "partial_" in p)
    # '*(N)' operator prefixes mark whole-stage-codegen spans in the final
    # AQE plan string (the literal 'WholeStageCodegen' only appears in
    # formatted explain)
    check("q1 whole-stage codegen", "*(" in p and "isFinalPlan=true" in p)

    # q3: selective dimension broadcast
    p = plan_of(Q.q3_shipping_priority(spark, sf_dir))
    check("q3 broadcast customer dim", "BroadcastHashJoin" in p or "BroadcastExchange" in p)
    check("q3 pushdown on 3 scans", p.count("PushedFilters: [") >= 3 and p.count("PushedFilters: []") == 0)

    # q5: all three small dims broadcast, no python
    p = plan_of(Q.q5_supplier_volume(spark, sf_dir))
    check("q5 broadcasts small dims", p.count("BroadcastExchange") + p.count("BroadcastHashJoin") >= 3)
    check("q5 no Python stage", no_python_stage(p))

    # extraction: single Arrow stage, scan-side column pruning
    from trafilatura_spark.fixtures import transcripts_df
    from trafilatura_spark.operators.extract import extract_transcripts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").selectExpr(
        "CAST(doc_id AS STRING) AS conv_id", "0 AS turn_idx", "text"
    )
    p = plan_of(extract_transcripts(docs))
    check("extract single MapInArrow stage", p.count("MapInArrow") == 1 and "MapInPandas" not in p)
    rs = re.search(r"ReadSchema: struct<([^>]*)>", p)
    cols = rs.group(1) if rs else ""
    check("extract scan pruned to needed cols", bool(rs) and "lang" not in cols and "source" not in cols, cols[:200])
    check("extract no pre-UDF shuffle", "Exchange" not in p.split("MapInArrow")[-1])
    # the registry's extraction entries: only their input spread, never a
    # keyed shuffle in front of the kernel
    for name, fn in Q.SPARK_QUERIES.items():
        if name.startswith("extract_documents_"):
            check(f"{name} no keyed shuffle (rebalance-only)", only_rebalance_exchanges(plan_of(fn(spark, sf_dir))))

    # jaccard-via-LSH: the per-doc counts join must NOT be broadcast in
    # the static plan (AQE may still pick broadcast at tiny SF — audit
    # the pre-AQE plan via spark.conf)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    from trafilatura_spark.operators.dedup import ngram_jaccard_via_lsh

    p = plan_of(ngram_jaccard_via_lsh(spark.read.parquet(f"{sf_dir}/documents.parquet")))
    check("jaccard counts join is shuffle (no broadcast hint)", "BroadcastHashJoin" not in p)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")

    # production-profile MinHash-LSH (128 hashes / 32 bands): same banded
    # bucket-join shape as the gate profile — no cartesian, no per-doc
    # broadcast, shingle explode stays map-side before the signature agg
    p = plan_of(Q.dedup_minhash_lsh_prod(spark, sf_dir))
    check("lsh prod no cartesian product", "CartesianProduct" not in p)
    check(
        "lsh prod bucket self-join is key-equi (SortMerge or Hash)",
        "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p,
    )

    # full-coverage n-gram lang-id: one Arrow stage over a pruned scan
    p = plan_of(Q.text_lang_id_ngram(spark, sf_dir))
    check("lang-id ngram single MapInArrow stage", p.count("MapInArrow") == 1 and "MapInPandas" not in p)
    rs = re.search(r"ReadSchema: struct<([^>]*)>", p)
    cols = rs.group(1) if rs else ""
    check("lang-id ngram scan pruned", bool(rs) and "source" not in cols and "lang" not in cols, cols[:200])

    # as-of join: union + carry-forward window — must contain NO join
    # operator at all (the range formulation would show BroadcastNestedLoop
    # or a sort-merge-range explosion) and exactly one window shuffle
    p = plan_of(Q.q_events_asof_orders(spark, sf_dir))
    check(
        "asof join has no join operator (union+window shape)",
        "Join" not in p and "CartesianProduct" not in p,
    )
    check("asof join single window", p.count("Window") >= 1 and "RunningWindowFunction" not in p.split("Union")[0])

    # ANN multi-table: bucket join keys on bucket (no cartesian)
    p = plan_of(Q.ann_lsh_multitable_topk(spark, sf_dir))
    check("ann multitable no cartesian product", "CartesianProduct" not in p)

    # brute-force cosine: query side broadcast (small), scan side streamed
    p = plan_of(Q.ann_cosine_topk(spark, sf_dir))
    check("ann brute query-side broadcast", "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p)

    # IVF-Flat: centroid assignment broadcasts the tiny centroid table
    # (never shuffles the vector table against it); no shuffled cartesian
    p = plan_of(Q.ann_ivf_topk(spark, sf_dir))
    check("ann ivf centroids broadcast", "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p)
    check("ann ivf no shuffled cartesian", "CartesianProduct" not in p)
    # the index BUILD must be truly map-side: nearest-centroid assignment
    # is an array_min projection over a broadcast centroid array, so the
    # corpus is never exchanged by vector id (r4 finding: the row_number
    # formulation forced two full-corpus hashpartitioning(vec_id) shuffles)
    check(
        "ann ivf build map-side (no vec_id exchange)",
        not re.search(r"hashpartitioning\(vec_id", p),
    )

    # Gopher quality filter: pure JVM projection — no Python stage, no
    # shuffle, scan pruned to (doc_id, text)
    g = Q.text_quality_gopher(spark, sf_dir)
    g.collect()
    p = plan_of(g)
    check("gopher no Python stage", no_python_stage(p))
    check("gopher no keyed shuffle (rebalance-only)", only_rebalance_exchanges(p))
    rs = re.search(r"FileScan parquet \[([^\]]*)\]", p)
    cols = rs.group(1) if rs else ""
    check("gopher scan pruned to doc_id,text", bool(rs) and "lang" not in cols and "source" not in cols, cols[:200])

    # EXISTS query: planned as LEFT SEMI (never multiplies order rows)
    p = plan_of(Q.q_orders_priority_exists(spark, sf_dir))
    check("exists query uses semi join", "LeftSemi" in p)

    # repetition signals are PER-DOCUMENT: round-5 rewrote the explode ->
    # groupBy(doc, n, gram) formulation (which exchanged ~9x-token-count
    # rows to compute numbers each executor already had) into sorted
    # run-walk projections — the plan must contain NO Exchange at all,
    # no Python, no cartesian
    r = Q.text_quality_repetition(spark, sf_dir)
    r.collect()
    p = plan_of(r)
    check("repetition no keyed shuffle (rebalance-only)", only_rebalance_exchanges(p))
    check("repetition no Python / no cartesian", no_python_stage(p) and "CartesianProduct" not in p)

    # Q17 shape: the per-part thresholds table is corpus-keyed — under a
    # non-AQE static plan it must NOT broadcast (same rule as the
    # jaccard counts join)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    p = plan_of(Q.q_small_quantity_revenue(spark, sf_dir))
    check("scalar-subquery thresholds join is shuffle", "SortMergeJoin" in p or "ShuffledHashJoin" in p)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")

    # deciles: the global NTILE window runs over the REDUCED per-customer
    # table (aggregate below the window), never over raw orders
    p = plan_of(Q.q_customer_value_deciles(spark, sf_dir))
    check("deciles window above aggregate", "Window" in p and "partial_" in p)

    # grouping sets: all four granularities from ONE scan via Expand —
    # never planned as a union of four separate aggregations
    p = plan_of(Q.q_events_grouping_sets(spark, sf_dir))
    check("grouping sets single Expand no Union", "Expand" in p and "Union" not in p)

    # round-6 pipeline operators: URL normalization, C4 cleaning and PII
    # scrubbing are pure projections — zero Exchange, zero Python
    for name, fn in (
        ("url normalize", Q.url_normalize),
        ("c4 quality", Q.text_quality_c4),
        ("pii scrub", Q.text_pii_scrub),
    ):
        p = plan_of(fn(spark, sf_dir))
        check(f"{name} no keyed shuffle (rebalance-only)", only_rebalance_exchanges(p))
        check(f"{name} no Python stage", no_python_stage(p))

    # minhash signatures: since the round-6 array_min projection rewrite
    # the signature stage itself must be shuffle-free — the FIRST
    # exchange of any minhash pipeline is the bucket join, never the
    # signature computation
    from trafilatura_spark.operators.dedup import minhash_signatures

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = plan_of(minhash_signatures(docs))
    check("minhash signatures shuffle-free (no Exchange)", "Exchange" not in p)
    check("minhash signatures no Python stage", no_python_stage(p))

    # simhash: same rewrite — the signature is a single-aggregate-pass
    # projection; simhash_pairs' first exchange is the banded hamming join
    from trafilatura_spark.operators.dedup import simhash

    p = plan_of(simhash(docs))
    check("simhash signature shuffle-free (no Exchange)", "Exchange" not in p)

    # line dedup: the boilerplate census must partial-aggregate map-side
    # before its exchange.  The census join is UNHINTED since round 7
    # (VERDICT r6 item 3: the >= min_doc_freq survivor set is unbounded
    # in corpus size, so a forced broadcast OOMs at 10^12 docs): at gate
    # scale AQE must still pick a broadcast from the census's measured
    # size (asserted on the post-execution final plan), while the 100-TB
    # fallback is an ordinary shuffle join on the exploded lines
    ld = Q.dedup_lines(spark, sf_dir)
    ld.collect()
    p = plan_of(ld)
    check(
        "line dedup census join broadcast by AQE (measured, not forced)",
        "isFinalPlan=true" in p and ("BroadcastHashJoin" in p or "BroadcastExchange" in p),
    )
    check("line dedup map-side partial agg", "partial_" in p)
    check(
        "line dedup no Python / no cartesian",
        no_python_stage(p) and "CartesianProduct" not in p,
    )

    # incremental cluster maintenance: the added-rows step must never
    # broadcast the corpus-sized assignment (VERDICT r6 item 2 — Spark
    # anti-joins can only broadcast the RIGHT side, and the right side
    # used to be the full (doc_id, cluster_id) table).  Static plan with
    # AQE off and auto-broadcast disabled: every surviving
    # BroadcastExchange is an explicit hint, and none may hold the bare
    # assignment relation (a broadcast block without a Join inside is a
    # directly-broadcast base table; the assignment Range marker must
    # only ever appear under joined/derived broadcast inputs)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    from trafilatura_spark.operators.dedup import update_clusters

    big_clusters = spark.range(0, 100000).selectExpr(
        "id AS doc_id", "(id - pmod(id, 2)) AS cluster_id"
    )
    probe_pairs = spark.range(0, 40).selectExpr(
        "(id + 200000) AS new_id", "(id * 2) AS corpus_id"
    )
    p = plan_of(update_clusters(big_clusters, probe_pairs))
    bad = [b for b in broadcast_blocks(p) if "Join" not in b and "Range (0, 100000" in b]
    check("update_clusters never broadcasts the assignment", not bad)
    check("update_clusters no cartesian", "CartesianProduct" not in p)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")

    spark.stop()
    failures = [n for n, ok in CHECKS if not ok]
    print(f"{len(CHECKS) - len(failures)}/{len(CHECKS)} plan assertions hold")
    if failures:
        print("FAILURES:", failures)
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
