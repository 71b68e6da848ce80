"""Training-pipeline operators: semantic assertions beyond the DuckDB
oracle (which checks value parity — these check meaning)."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_exact_dedup_finds_planted_dups(spark):
    from trafilatura_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other text")], ["doc_id", "text"]
    )
    rows = exact_dedup(df).collect()
    assert len(rows) == 1
    assert rows[0].keep_id == 1
    assert rows[0].dup_count == 2


def test_minhash_identical_docs_share_signature(spark):
    from trafilatura_spark.operators.dedup import minhash_signatures

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river bank"),
            (2, "the quick brown fox jumps over the lazy dog near the river bank"),
            (3, "completely different words appear in this sentence about spark engines"),
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: tuple(r)[1:] for r in minhash_signatures(df).collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]


def test_lsh_pairs_catch_near_dups(spark):
    from trafilatura_spark.operators.dedup import minhash_lsh_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi"
    df = spark.createDataFrame(
        [(1, base), (2, base + " rho"), (3, "unrelated content entirely about different topics and words")],
        ["doc_id", "text"],
    )
    pairs = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(df).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_jaccard_exact_value(spark):
    from trafilatura_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "z z z z z")], ["doc_id", "text"]
    )
    rows = ngram_jaccard_pairs(df, threshold=0.9).collect()
    assert len(rows) == 1
    assert rows[0].jaccard == 1.0


def test_simhash_deterministic_sketch(spark):
    "Identical docs share a signature; values match a local recomputation."
    import hashlib

    from trafilatura_spark.operators.dedup import SIMHASH_BITS, simhash

    def local_simhash(text):
        toks = " ".join(text.lower().strip().split()).split(" ")
        votes = [0] * SIMHASH_BITS
        for t in toks:
            h = hashlib.md5(t.encode()).hexdigest() + hashlib.md5(b"1:" + t.encode()).hexdigest()
            for j in range(SIMHASH_BITS):
                votes[j] += 1 if h[j] in "13579bdf" else -1
        # signed 64-bit: bit 63 is the sign bit of the bigint column
        sig = sum((1 << j) for j in range(SIMHASH_BITS) if votes[j] > 0)
        return sig - (1 << 64) if sig >= (1 << 63) else sig

    texts = {
        1: "spark cluster executes distributed extraction pipelines with arrow batches",
        2: "spark cluster executes distributed extraction pipelines with arrow batches",
        3: "entirely unrelated poem about mountains rivers forests and evening skies",
    }
    df = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    sigs = {r.doc_id: r.simhash for r in simhash(df).collect()}
    assert sigs[1] == sigs[2]
    for doc_id, text in texts.items():
        assert sigs[doc_id] == local_simhash(text)


def test_cosine_topk_self_similarity(spark):
    from trafilatura_spark.operators.similarity import cosine_topk

    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [1.0, 0.01, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [-1.0, 0.0, 0.0]),
        ],
        ["vec_id", "embedding"],
    )
    rows = cosine_topk(df, n_queries=1, k=3).collect()
    by_rank = {r.rank: r.neighbor_id for r in rows}
    assert by_rank[1] == 1  # most similar
    assert by_rank[3] == 3  # opposite vector last


def test_lang_id_marks_languages(spark):
    from trafilatura_spark.operators.textstats import lang_id

    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house is in that it for with"),
            (2, "der hund und die katze ist nicht ein mit den von das"),
            (3, "le chat et la maison est dans les pour que des une"),
        ],
        ["doc_id", "text"],
    )
    preds = {r.doc_id: r.pred_lang for r in lang_id(df).collect()}
    assert preds == {1: "en", 2: "de", 3: "fr"}


def test_token_stats_values(spark):
    from trafilatura_spark.operators.textstats import token_stats

    df = spark.createDataFrame([(1, "Hello world, test.")], ["doc_id", "text"])
    r = token_stats(df).collect()[0]
    assert r.n_tokens == 3
    assert r.n_chars_measured == 18


def test_broadcast_in_topk_plan(spark):
    "The query side of ANN must broadcast, not shuffle."
    from trafilatura_spark.operators.similarity import cosine_topk

    df = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = cosine_topk(df)._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan


def test_simhash_pairs_banded_candidates(spark):
    """Near-identical docs form a pair (small hamming); an unrelated doc
    never pairs with them even when a 2-bit band happens to collide,
    because the exact hamming filter runs on every candidate."""
    from trafilatura_spark.operators.dedup import simhash_pairs

    # long docs: per-bit votes are far from zero, so one extra token
    # flips only the handful of bits whose vote sits at +-1
    words = [f"token{i:03d}" for i in range(200)]
    base = " ".join(words)
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base + " latency"),  # one extra token: tiny hamming distance
            (3, " ".join(f"other{i:03d}" for i in range(200))),
        ],
        ["doc_id", "text"],
    )
    pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_pairs(df).collect()}
    assert (1, 2) in pairs
    assert pairs[(1, 2)] <= 7
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_lsh_multitable_recall_vs_brute_force(spark):
    """Multi-table LSH recall vs brute-force cosine top-k on real testdata:
    the union of 4 tables must recover at least 60% of true top-3
    neighbors and strictly dominate what its first table alone finds."""
    from trafilatura_spark.operators.similarity import lsh_multitable_topk

    df = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    k = 3
    # brute force: reuse cosine_topk's scoring for EVERY query id
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from trafilatura_spark.operators.similarity import _cosine

    vecs = df.select(F.col("vec_id"), F.col("embedding").cast("array<double>").alias("v"))
    left = vecs.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    right = vecs.select(F.col("vec_id").alias("neighbor_id"), F.col("v"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    truth = (
        left.join(right, F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", F.round(_cosine(F.col("qv"), F.col("v")), 6).alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .collect()
    )
    true_pairs = {(r.query_id, r.neighbor_id) for r in truth}

    multi = lsh_multitable_topk(df, k=k)
    got_multi = {(r.query_id, r.neighbor_id) for r in multi.collect()}
    single = lsh_multitable_topk(df, k=k, n_tables=1)
    got_single = {(r.query_id, r.neighbor_id) for r in single.collect()}

    recall_multi = len(true_pairs & got_multi) / len(true_pairs)
    recall_single = len(true_pairs & got_single) / len(true_pairs)
    # testdata embeddings are near-random (true top-3 cosine ~ 0.33), so
    # ANY sublinear LSH has low absolute recall there; the union of tables
    # must still strictly dominate one table (more tables -> more recall)
    print(f"ANN recall@3 (testdata): multitable={recall_multi:.3f} single-table={recall_single:.3f}")
    assert recall_multi > recall_single


def test_lsh_multitable_recall_on_clustered_data(spark):
    """On clustered embeddings (intra-cluster cosine ~0.95 — the regime
    LSH is built for) multi-table recall@3 vs brute force must be high."""
    import hashlib

    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from trafilatura_spark.operators.similarity import _cosine, lsh_multitable_topk

    def unit(seed: str):
        "Deterministic +-1 vector in 64 dims from sha1 bits."
        d = hashlib.sha1(seed.encode()).digest() * 4
        return [1.0 if (d[i // 8] >> (i % 8)) & 1 else -1.0 for i in range(64)]

    rows = []
    vid = 0
    for c in range(8):
        center = unit(f"center{c}")
        for m in range(12):
            noise = unit(f"noise{c}:{m}")
            rows.append((vid, [ci + 0.25 * ni for ci, ni in zip(center, noise)]))
            vid += 1
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    k = 3
    vecs = df.select(F.col("vec_id"), F.col("embedding").cast("array<double>").alias("v"))
    left = vecs.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    right = vecs.select(F.col("vec_id").alias("neighbor_id"), F.col("v"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    truth = (
        left.join(right, F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", F.round(_cosine(F.col("qv"), F.col("v")), 6).alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .collect()
    )
    true_pairs = {(r.query_id, r.neighbor_id) for r in truth}
    got = {(r.query_id, r.neighbor_id) for r in lsh_multitable_topk(df, k=k).collect()}
    recall = len(true_pairs & got) / len(true_pairs)
    print(f"ANN recall@3 (clustered): {recall:.3f}")
    assert recall >= 0.6


def test_asof_join_semantics(spark):
    """asof_join: latest right row at-or-before each left ts per key;
    NULL payload when none; equal timestamps match (<= semantics)."""
    from datetime import datetime

    from trafilatura_spark.operators.relational import asof_join

    right = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1), 100, 10.0),
            (1, datetime(2024, 1, 5), 101, 11.0),
            (2, datetime(2024, 1, 3), 200, 20.0),
        ],
        "k int, rts timestamp, okey int, price double",
    )
    left = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 4), "a"),   # between the two k=1 rows -> 100
            (1, datetime(2024, 1, 5), "b"),   # equal ts -> 101 (<= matches)
            (1, datetime(2023, 12, 1), "c"),  # before everything -> NULL
            (2, datetime(2024, 2, 1), "d"),   # after -> 200
            (3, datetime(2024, 1, 1), "e"),   # no right rows for key -> NULL
        ],
        "k int, lts timestamp, tag string",
    )
    out = asof_join(left, right, on="k", left_ts="lts", right_ts="rts",
                    payload_cols=["okey", "price"], tiebreak_col="okey")
    got = {r.tag: (r.asof_okey, r.asof_price) for r in out.collect()}
    assert got == {
        "a": (100, 10.0),
        "b": (101, 11.0),
        "c": (None, None),
        "d": (200, 20.0),
        "e": (None, None),
    }
    # scale shape: the physical plan must contain no join operator
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_asof_join_nullable_payload_no_tearing(spark):
    """Round-3 VERDICT bug class: with per-column carry, a latest right
    row (a=5, b=NULL) and an older row (b=7) produced the torn composite
    (5, 7).  The struct carry must return (5, NULL) — all payload columns
    from the SAME right row — while keeping no-match rows fully NULL."""
    from datetime import datetime

    from trafilatura_spark.operators.relational import asof_join

    right = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1), 1, 7.0),     # older row: b=7
            (1, datetime(2024, 1, 5), 5, None),    # latest row: b=NULL
            (2, datetime(2024, 1, 2), None, 9.0),  # latest for k=2: a=NULL
        ],
        "k int, rts timestamp, a int, b double",
    )
    left = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 9), "x"),   # after latest k=1 -> (5, NULL)
            (1, datetime(2024, 1, 2), "y"),   # between -> (1, 7.0)
            (2, datetime(2024, 1, 3), "z"),   # -> (NULL, 9.0), matched
            (3, datetime(2024, 1, 3), "w"),   # no key -> (NULL, NULL), no match
        ],
        "k int, lts timestamp, tag string",
    )
    out = asof_join(left, right, on="k", left_ts="lts", right_ts="rts",
                    payload_cols=["a", "b"], tiebreak_col="a")
    got = {r.tag: (r.asof_a, r.asof_b) for r in out.collect()}
    assert got == {
        "x": (5, None),     # NOT the torn (5, 7.0)
        "y": (1, 7.0),
        "z": (None, 9.0),   # matched row with a NULL field survives
        "w": (None, None),
    }


def test_asof_join_hot_key_single_shuffle(spark):
    """Skew story (round-3 VERDICT item 4): a hot key serializes in ONE
    window task — inherent to per-key as-of, not AQE-splittable.  Pin the
    plan shape on a hot-key input: exactly one Exchange (the window
    shuffle), one Window, no join operator."""
    from datetime import datetime, timedelta

    from trafilatura_spark.operators.relational import asof_join

    base = datetime(2024, 1, 1)
    # 2000 left rows on ONE key, 10 right rows on the same key
    left = spark.createDataFrame(
        [(1, base + timedelta(minutes=i), i) for i in range(2000)],
        "k int, lts timestamp, seq int",
    )
    right = spark.createDataFrame(
        [(1, base + timedelta(hours=3 * j), j, float(j)) for j in range(10)],
        "k int, rts timestamp, okey int, price double",
    )
    out = asof_join(left, right, on="k", left_ts="lts", right_ts="rts",
                    payload_cols=["okey", "price"], tiebreak_col="okey")
    rows = out.collect()  # executedPlan must come from the collected df
    assert len(rows) == 2000
    # spot-check the carry on the hot key
    got = {r.seq: r.asof_okey for r in rows}
    assert got[0] == 0 and got[179] == 0 and got[180] == 1 and got[1999] == 9
    plan = out._jdf.queryExecution().executedPlan().toString()
    final_plan = plan.split("== Initial Plan ==")[0]  # AQE prints both
    assert "Join" not in final_plan and "CartesianProduct" not in final_plan
    assert final_plan.count("Exchange") == 1, final_plan
    assert final_plan.count("Window") >= 1


def test_ivf_topk_finds_planted_neighbor(spark):
    """IVF-Flat: a vector planted next to a query must come back rank 1 —
    the probed cells contain the true neighbor because near-identical
    vectors land in the same Voronoi cell."""
    import random

    from trafilatura_spark.operators.similarity import ivf_topk

    rng = random.Random(7)
    dim = 16
    rows = []
    for i in range(60):
        rows.append((i, [rng.uniform(-1, 1) for _ in range(dim)]))
    # vec 41 = vec 2 + tiny noise -> same cell as query 2, cosine ~1
    rows[41] = (41, [x + 0.001 for x in rows[2][1]])
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    out = {(r.query_id, r.rank): r.neighbor_id for r in ivf_topk(df, n_queries=5, k=3).collect()}
    assert out[(2, 1)] == 41
    # every query returns k ranked neighbors from probed cells
    assert sorted(q for q, rk in out if rk == 1) == [0, 1, 2, 3, 4]


def test_ivf_topk_plan_broadcasts_centroids(spark):
    """The IVF build/probe joins broadcast the tiny centroid table; the
    only non-broadcast join key is the cell id.  No shuffled cartesian."""
    import random

    from trafilatura_spark.operators.similarity import ivf_topk

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    out = ivf_topk(df, n_queries=3, k=2)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final_plan = plan.split("== Initial Plan ==")[0]
    assert "BroadcastNestedLoopJoin" in final_plan or "BroadcastExchange" in final_plan
    assert "CartesianProduct" not in final_plan


def test_quality_gopher_rules(spark):
    "Gopher-rule verdicts on crafted documents: pass, bullets, dup lines, too short."
    from trafilatura_spark.operators.textstats import quality_gopher

    good = (
        "The committee met with the regional planners to review the draft "
        "proposal and decided that the updated schedule would have to be "
        "published before the end of the quarter so that every department "
        "could align its budget with the new timeline and the oversight "
        "board would be able to confirm that the plan complies with the "
        "standing rules of procedure that govern expenditure at this level."
    )
    bullets = "\n".join(f"- item {i} of the listing" for i in range(40))
    dup = "\n".join(["the same line repeats here"] * 30)
    short = "too few words to pass the gate"
    df = spark.createDataFrame(
        [(1, good), (2, bullets), (3, dup), (4, short)], ["doc_id", "text"]
    )
    rows = {r.doc_id: r for r in quality_gopher(df).collect()}
    assert rows[1].passes is True
    assert rows[2].passes is False and rows[2].bullet_line_ratio > 0.9
    assert rows[3].passes is False and rows[3].dup_line_ratio > 0.9
    assert rows[4].passes is False and rows[4].n_words < 50
    assert rows[1].stopword_hits >= 2 and rows[1].alpha_word_ratio >= 0.9


def test_quality_repetition_rules(spark):
    "Gopher repetition fractions: spam 2-grams and a repeated 10-gram fail."
    from trafilatura_spark.operators.textstats import quality_repetition

    spam = "buy now " * 30                         # one 2-gram dominates
    sentence = "the quick brown fox jumps over the lazy dog today"  # 10 words
    repeated = (sentence + " ") * 3                # duplicated 10-gram
    normal = (
        "every token in this sentence appears exactly once because the "
        "writer varied wording deliberately across clauses and phrases"
    )
    para = "this paragraph talks about completely original subject matter"
    dup_paras = "\n\n".join([para, "another block entirely", para, para])
    df = spark.createDataFrame(
        [(1, spam), (2, repeated), (3, normal), (4, dup_paras)],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in quality_repetition(df).collect()}
    assert rows[1].rep_passes is False and rows[1].top2_char_frac > 0.2
    assert rows[2].rep_passes is False and rows[2].dup10_char_frac > 0.1
    assert rows[3].rep_passes is True and rows[3].dup5_char_frac == 0.0
    # a once-occurring top n-gram is NOT repetition (otherwise every short
    # document fails top4)
    assert rows[3].top4_char_frac == 0.0
    # duplicated paragraphs: 2 repeat occurrences of 4 paragraphs = 0.5
    assert rows[4].rep_passes is False
    assert rows[4].dup_para_frac == 0.5 and rows[4].dup_para_char_frac > 0.2
    assert rows[4].dup_line_frac == 0.5  # same segments, single-line paras


def test_ivf_recall_on_clustered_data(spark):
    """On clustered embeddings, IVF recall@3 for the query vectors must be
    high: same-cluster vectors land in the same Voronoi cell, so probing
    nprobe cells finds the true neighbors."""
    import hashlib

    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from trafilatura_spark.operators.similarity import _cosine, ivf_topk

    def unit(seed: str):
        d = hashlib.sha1(seed.encode()).digest() * 4
        return [1.0 if (d[i // 8] >> (i % 8)) & 1 else -1.0 for i in range(64)]

    # interleave clusters so the first-16-ids seeding sees many clusters
    rows = []
    vid = 0
    for m in range(12):
        for c in range(8):
            center = unit(f"center{c}")
            noise = unit(f"noise{c}:{m}")
            rows.append((vid, [ci + 0.25 * ni for ci, ni in zip(center, noise)]))
            vid += 1
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    k, nq = 3, 5
    vecs = df.select(F.col("vec_id"), F.col("embedding").cast("array<double>").alias("v"))
    left = vecs.filter(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    right = vecs.select(F.col("vec_id").alias("neighbor_id"), F.col("v"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    truth = (
        left.join(right, F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                F.round(_cosine(F.col("qv"), F.col("v")), 6).alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .collect()
    )
    true_pairs = {(r.query_id, r.neighbor_id) for r in truth}
    got = {(r.query_id, r.neighbor_id)
           for r in ivf_topk(df, n_queries=nq, k=k).collect()}
    recall = len(true_pairs & got) / len(true_pairs)
    print(f"IVF recall@{k} (clustered): {recall:.3f}")
    assert recall >= 0.6


def test_connected_components_chain_collapses_to_one_cluster(spark):
    """Pairs a-b, b-c, c-d are ONE duplicate cluster (pairs alone would
    over-delete); an unrelated pair forms its own; labels are the min id."""
    from trafilatura_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(20, 10), (10, 30), (30, 40), (7, 5)], ["id_a", "id_b"]
    )
    out = {r.node: r.label for r in connected_components(pairs).collect()}
    assert out == {10: 10, 20: 10, 30: 10, 40: 10, 5: 5, 7: 5}


def test_connected_components_long_chain_beyond_old_iteration_cap(spark):
    """A 40-node chain (diameter 39, past the r4 one-hop-per-round cap of
    25) must still collapse to ONE cluster — pointer jumping converges in
    O(log diameter) rounds, so this needs ~8 of the 25 allowed."""
    from trafilatura_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(39)], ["id_a", "id_b"]
    )
    out = {r.node: r.label for r in connected_components(pairs).collect()}
    assert len(out) == 40 and set(out.values()) == {0}


def test_connected_components_raises_instead_of_wrong_labels(spark):
    """When the iteration budget genuinely cannot reach the fixpoint the
    function must RAISE, never silently return multiple cluster ids for
    one true component (the r4 failure mode)."""
    import pytest

    from trafilatura_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iterations=1)


def test_dedup_clusters_keeper_semantics(spark):
    "One keeper per cluster; drop set = everything else in the component."
    from trafilatura_spark.operators.dedup import dedup_clusters_df

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    docs = [
        (1, base), (2, base + " extra"), (3, base + " extra word"),  # near-dups
        (50, "completely different text about spark catalyst optimizer internals and shuffles"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = {r.doc_id: r for r in dedup_clusters_df(df).collect()}
    # docs 1-3 cluster together under min id 1; doc 50 pairs with nothing
    assert rows[1].cluster_id == 1 and rows[1].is_keeper
    assert rows[2].cluster_id == 1 and not rows[2].is_keeper
    assert rows[3].cluster_id == 1 and not rows[3].is_keeper
    assert 50 not in rows


def test_quality_repetition_matches_independent_python_model(spark):
    """The sorted run-walk aggregate expressions (shuffle-free repetition)
    are pinned against an INDEPENDENT Counter-based Python model over
    randomized repetitive documents — tie-breaks, the cnt>1 top-gram
    guard, segment char fractions and rounding all must agree."""
    import random
    import re as _re
    from collections import Counter

    from trafilatura_spark.operators.textstats import (
        REP_DUP_THRESHOLDS, REP_TOP_THRESHOLDS, quality_repetition,
    )

    rng = random.Random(42)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta"]
    docs = []
    for i in range(24):
        words = [rng.choice(vocab) for _ in range(rng.randint(0, 60))]
        if rng.random() < 0.5 and words:  # inject a repeated phrase
            phrase = words[: rng.randint(1, min(12, len(words)))]
            for _ in range(rng.randint(1, 3)):
                pos = rng.randint(0, len(words))
                words[pos:pos] = phrase
        text = " ".join(words)
        if rng.random() < 0.4:  # multi-line / multi-paragraph shapes
            lines = [text[: len(text) // 2], text[: len(text) // 2], text]
            text = ("\n" if rng.random() < 0.5 else "\n\n").join(lines)
        docs.append((i, text))

    def model(text):
        toks = _re.split(r"\s+", text.strip().lower())
        n_chars = max(len(text.strip()), 1)
        out = {}
        for n in list(REP_TOP_THRESHOLDS) + list(REP_DUP_THRESHOLDS):
            grams = [" ".join(toks[k:k + n]) for k in range(len(toks) - n + 1)] if len(toks) >= n else []
            c = Counter(grams)
            if n in REP_TOP_THRESHOLDS:
                chars = 0
                if c:
                    cnt, g = sorted(((-v, k) for k, v in c.items()))[0]
                    if -cnt > 1:
                        chars = -cnt * len(g)
                out[f"top{n}_char_frac"] = round(chars / n_chars, 6)
            else:
                chars = sum(v * len(k) for k, v in c.items() if v > 1)
                out[f"dup{n}_char_frac"] = round(chars / n_chars, 6)
        for kind, pat in (("line", r"\n"), ("para", r"\n{2,}")):
            segs = [s.strip() for s in _re.split(pat, text) if s.strip()]
            c = Counter(segs)
            total, tot_chars = len(segs), sum(len(s) for s in segs)
            dup_n = sum(v - 1 for v in c.values())
            dup_chars = sum((v - 1) * len(k) for k, v in c.items() if v > 1)
            out[f"dup_{kind}_frac"] = round(dup_n / total, 6) if total else 0.0
            out[f"dup_{kind}_char_frac"] = (
                round(dup_chars / max(tot_chars, 1), 6) if total else 0.0
            )
        return out

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r.asDict() for r in quality_repetition(df).collect()}
    for doc_id, text in docs:
        want = model(text)
        for k, v in want.items():
            assert abs(got[doc_id][k] - v) < 1e-9, (doc_id, k, got[doc_id][k], v, text)


def test_benchmark_contamination_semantics_and_plan(spark):
    """Decontamination: a doc embedding a benchmark 13-gram flags; clean
    docs report zero; benchmark docs flag against themselves.  Plan: the
    benchmark side broadcasts (corpus is never shuffled pre-join)."""
    from trafilatura_spark.operators.dedup import benchmark_contamination

    bench_text = " ".join(f"bench{i}" for i in range(20))
    leak = " ".join(f"bench{i}" for i in range(13))  # exactly one 13-gram window
    docs = [
        (0, bench_text),                                        # the benchmark itself
        (1, "clean words " * 20),
        (2, "prefix words here " + leak + " suffix words"),     # contaminated
        (3, " ".join(f"bench{i}" for i in range(12))),          # only 12 shared tokens
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    bench = df.filter("doc_id = 0")
    out = {r.doc_id: r for r in benchmark_contamination(df, bench).collect()}
    assert out[0].contaminated and out[0].n_contaminated_grams == 8  # 20-13+1
    assert not out[1].contaminated and out[1].n_contaminated_grams == 0
    assert out[2].contaminated and out[2].n_contaminated_grams == 1
    assert not out[3].contaminated  # sub-threshold overlap is NOT contamination
    plan = benchmark_contamination(df, bench)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan


def test_unigram_logprob_ranks_unusual_text_lower(spark):
    """CCNet-family corpus-LM ranking: a document of corpus-typical
    tokens scores higher (less negative) than one full of OOV garbage;
    values match a direct Python recomputation."""
    import math
    from collections import Counter

    from trafilatura_spark.operators.textstats import unigram_logprob

    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox naps near the lazy dog"),
        (3, "zzqq wvvx kjjh pplm zzqq wvvx"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r for r in unigram_logprob(df).collect()}
    assert got[1].unigram_logprob > got[3].unigram_logprob
    assert got[3].n_oov == 0  # all its tokens ARE in this tiny corpus vocab
    # python recomputation (vocab = whole corpus here, under top_k)
    counts = Counter(t for _, x in docs for t in x.lower().split())
    n = sum(counts.values())
    for doc_id, text in docs:
        toks = text.lower().split()
        # mirror the operator's fixed-point arithmetic: per-distinct-token
        # log-prob rounded to 9 dp, weighted exact sum, divide, round 6
        want = round(
            sum(round(math.log10(counts[t] / n), 9) for t in toks) / len(toks), 6
        )
        assert abs(got[doc_id].unigram_logprob - want) < 1e-9
    # true OOV: score with a vocab CUTOFF so rare tokens fall out
    got_cut = {r.doc_id: r for r in unigram_logprob(df, top_k=5).collect()}
    assert got_cut[3].n_oov > 0


def test_unigram_logprob_bit_deterministic_across_partitionings(spark):
    """The r5 driver-red row was partition-order nondeterminism in
    AVG(double).  The DECIMAL-sum rewrite must yield BIT-identical
    doubles no matter how the input is partitioned."""
    from trafilatura_spark.operators.textstats import unigram_logprob

    # many docs sharing a long-tail vocabulary so per-doc sums have
    # enough terms for order to matter if the arithmetic were floating
    docs = [
        (i, " ".join(f"w{(i * 7 + j * 13) % 97}" for j in range(50)))
        for i in range(200)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    a = {
        r.doc_id: (repr(r.unigram_logprob), r.n_tokens, r.n_oov)
        for r in unigram_logprob(df.repartition(1)).collect()
    }
    b = {
        r.doc_id: (repr(r.unigram_logprob), r.n_tokens, r.n_oov)
        for r in unigram_logprob(df.repartition(37, "text")).collect()
    }
    assert a == b


def test_chunk_documents_windows_and_provenance(spark):
    """Chunking: full coverage (every token appears in some chunk),
    overlap between consecutive chunks, short docs yield one chunk, and
    the plan stays a shuffle-free projection."""
    import pytest

    from trafilatura_spark.operators.textstats import chunk_documents

    long_text = " ".join(f"tok{i}" for i in range(100))
    docs = [(1, long_text), (2, "only four tokens here ok")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = [r for r in chunk_documents(df, chunk_tokens=40, overlap=10).collect()]
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    one = sorted(by_doc[1], key=lambda r: r.chunk_idx)
    # stride 30: windows [0:40], [30:70], [60:100] -> 3 chunks
    assert [r.chunk_idx for r in one] == [0, 1, 2]
    assert all(r.n_tokens == 40 for r in one)
    assert one[0].chunk_text.split()[-10:] == one[1].chunk_text.split()[:10]  # overlap
    covered = set()
    for r in one:
        covered.update(r.chunk_text.split())
    assert covered == {f"tok{i}" for i in range(100)}
    assert len(by_doc[2]) == 1 and by_doc[2][0].n_tokens == 5
    plan = chunk_documents(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=10, overlap=10)


def test_hash_split_deterministic_and_proportional(spark):
    """Splitting is a pure id-hash projection: identical across runs and
    row orders, roughly proportional, versioned by the salt, and invalid
    rates are rejected."""
    import pytest

    from trafilatura_spark.operators.dedup import hash_split

    df = spark.range(0, 2000).selectExpr("id AS doc_id")
    a = {r.doc_id: r.split for r in hash_split(df).collect()}
    b = {r.doc_id: r.split for r in hash_split(df.orderBy(F.desc("doc_id"))).collect()}
    assert a == b  # row order cannot move a document between splits
    from collections import Counter
    c = Counter(a.values())
    assert 0.96 <= c["train"] / 2000 <= 0.995 and c["valid"] > 0 and c["test"] > 0
    # a different salt re-deals the assignment
    redeal = {r.doc_id: r.split for r in hash_split(df, salt="split:v2").collect()}
    assert redeal != a
    with pytest.raises(ValueError):
        hash_split(df, {"train": 0.5, "valid": 0.1})
    plan = hash_split(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_operator_construction_runs_no_spark_job(spark):
    """Building an operator is pure plan construction: it launches no
    Spark job, even over an input whose plan contains a shuffle (under
    AQE, asking such a plan for its partition count materializes the
    shuffle)."""
    from trafilatura_spark.operators.dedup import minhash_signatures
    from trafilatura_spark.operators.textstats import quality_c4, token_stats

    words = spark.createDataFrame(
        [(i % 7, f"word{i} sentence number {i} ends here.") for i in range(60)], ["doc_id", "w"]
    )
    docs = words.groupBy("doc_id").agg(F.concat_ws("\n", F.collect_list("w")).alias("text"))
    sc = spark.sparkContext
    group = "operator-construction"
    sc.setJobGroup(group, "build only")
    try:
        for op in (quality_c4, token_stats, minhash_signatures):
            op(docs)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []
