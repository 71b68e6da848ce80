"""Correctness checks run inside every benchmark run.

A job's output is reduced on the cluster to one small row per turn
(keys, tier, chars_kept and SHA-256 digests of the text and metadata),
collected, and checked here against:

- the input: every (conv_id, turn_idx) exactly once;
- in-process ``extract_one_result`` on a deterministic sample of turns;
- chat_turns: the pinned rows of tests/fixtures/cascade_turns_expected.parquet.
"""

from __future__ import annotations

import glob
import hashlib
import os
from collections import Counter

import pyarrow.parquet as pq

SAMPLE = 24
FAILED_TIERS = ("error", "timeout")
EXPECTED = os.path.join("tests", "fixtures", "cascade_turns_expected.parquet")
_SEP = "\x1f"


class Mismatch(Exception):
    "The program's output differs from what it must be."


def _meta_names() -> list:
    from trafilatura_spark.operators.metadata_op import METADATA_FIELDS

    return [name for name, _ in METADATA_FIELDS] + ["categories_joined", "tags_joined"]


def collected_columns(workload: str) -> list:
    from pyspark.sql import functions as F

    cols = ["conv_id", "turn_idx", "tier", "chars_kept", F.sha2("extracted_text", 256).alias("text_sha")]
    if workload == "web_pages_meta":
        cols.append(F.sha2(F.concat_ws(_SEP, *_meta_names()), 256).alias("meta_sha"))
    return cols


def fingerprint(rows) -> str:
    return hashlib.sha256(repr(sorted(tuple(r) for r in rows)).encode()).hexdigest()


def _sha(text) -> str:
    return None if text is None else hashlib.sha256(text.encode()).hexdigest()


def input_texts(corpus: dict) -> dict:
    texts = {}
    for name in sorted(glob.glob(os.path.join(corpus["path"], "files", "*.parquet"))):
        table = pq.read_table(name, columns=["conv_id", "turn_idx", "text"])
        for conv_id, turn_idx, text in zip(*(table.column(c).to_pylist() for c in table.column_names)):
            texts[(conv_id, turn_idx)] = text
    return texts


def expected_row(workload: str, text) -> tuple:
    "(tier, chars_kept, text_sha[, meta_sha]) from the in-process kernel."
    from trafilatura_spark.kernel import DEFAULT_OPTIONS
    from trafilatura_spark.operators.extract import extract_one_result

    if workload != "web_pages_meta":
        res = extract_one_result(text, DEFAULT_OPTIONS)
        return res.tier, res.chars_kept, _sha(res.text)
    res = extract_one_result(text, DEFAULT_OPTIONS.copy(with_metadata=True))
    meta = res.metadata
    values = [getattr(meta, n, None) if meta else None for n in _meta_names()[:-2]]
    values.append(",".join(meta.categories) if meta and meta.categories else None)
    values.append(",".join(meta.tags) if meta and meta.tags else None)
    return res.tier, res.chars_kept, _sha(res.text), _sha(_SEP.join(v for v in values if v is not None))


def sample_keys(keys, seed: int, n: int = SAMPLE) -> list:
    from trafilatura_spark.fixtures import _h

    return sorted(keys, key=lambda k: _h(f"{seed}{k[0]}", k[1], "sample"))[:n]


def verify(workload: str, rows: list, corpus: dict, seed: int) -> int:
    """Raise Mismatch on any wrong output; return the number of turns
    in a failed tier (error or timeout)."""
    texts = input_texts(corpus)
    got = {(r["conv_id"], r["turn_idx"]): tuple(r)[2:] for r in rows}
    counts = Counter((r["conv_id"], r["turn_idx"]) for r in rows)
    dup = [k for k, c in counts.items() if c != 1]
    if dup or set(got) != set(texts):
        missing = len(set(texts) - set(got))
        raise Mismatch(f"{workload}: {len(dup)} duplicated and {missing} missing turns, {len(set(got) - set(texts))} unknown")
    for key in sample_keys(texts, seed):
        want = expected_row(workload, texts[key])
        if got[key] != want:
            raise Mismatch(f"{workload}: turn {key} gave {got[key]}, in-process kernel gives {want}")
    if workload == "chat_turns":
        expected = pq.read_table(EXPECTED).to_pylist()
        for row in expected:
            key = (row["conv_id"], row["turn_idx"])
            want = (row["tier"], row["chars_kept"], _sha(row["extracted_text"]))
            if got.get(key) != want:
                raise Mismatch(f"chat_turns: pinned turn {key} gave {got.get(key)}, fixture has {want}")
    return sum(1 for r in rows if r["tier"] in FAILED_TIERS)
