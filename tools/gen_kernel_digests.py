"""Pin the extraction kernel's outputs over four corpora and seven option sets.

Each row of tests/fixtures/kernel_digests.parquet is one (corpus,
document, option set): the tier, ``chars_kept``, and a 64-bit digest of
what ``extract_one_result`` returns (the output string, the comments
length and, with metadata on, every Metadata field).  Documents run
through the operators' own per-document path with no deadline, so a slow
machine cannot turn a row into a ``timeout``.

Corpora:
  chat_turns  perfbench's seed-1 turns (``transcript_rows("s1", 2400, pinned=120)``)
  web_pages   perfbench's seed-1 pages (``page_rows("w1", 400)``)
  fixture     ``fixtures.generate_rows(200, large_docs=True)``
  branch      ``fixtures.branch_rows(48)``: undone discard prunes,
              recall pages whose every <p> is cleaned away, escalating
              forum pages, wide lists

Option sets: see OPTION_SETS.

    python tools/gen_kernel_digests.py          # (re)write the fixture
    python tools/gen_kernel_digests.py --check  # compare against it

``--check`` names every differing (corpus, document, option set) and
prints, per (corpus, option set), the thread CPU seconds spent in
extract_one_result and the ``Element.copy_tree`` calls per document, so
one run is the output gate, a layer timing and the copy count.
Regenerate only when the kernel's outputs change on purpose.
"""

import dataclasses
import hashlib
import json
import os
import sys
import time
from functools import lru_cache

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.corpus import page_rows, transcript_rows  # noqa: E402
from trafilatura_spark.fixtures import branch_rows, generate_rows  # noqa: E402
from trafilatura_spark.kernel.dom import Element  # noqa: E402
from trafilatura_spark.kernel.metadata import Metadata  # noqa: E402
from trafilatura_spark.kernel.settings import Options  # noqa: E402
from trafilatura_spark.operators.extract import extract_one_result  # noqa: E402

OUT = os.path.join(REPO, "tests", "fixtures", "kernel_digests.parquet")
CORPORA = ("chat_turns", "web_pages", "fixture", "branch")
OPTION_SETS = {
    "default": {},
    "precision": {"focus": "precision"},
    "recall": {"focus": "recall"},
    "no_comments": {"comments": False},
    "fast": {"fast": True},
    "metadata": {"with_metadata": True},
    "markdown": {"format": "markdown", "formatting": True},
}
FIELDS = [f.name for f in dataclasses.fields(Metadata)]


@lru_cache(maxsize=None)
def corpus_docs(name: str) -> list:
    "(key, text) pairs of one corpus, in a fixed order; built once per process."
    if name == "chat_turns":
        return [(f"{row[0]}/{row[1]}", row[3]) for row in transcript_rows("s1", 2400, pinned=120)]
    if name == "web_pages":
        return [(row[0], row[3]) for row in page_rows("w1", 400)]
    if name == "fixture":
        return [(f"{row[0]}/{row[1]}", row[3]) for row in generate_rows(200, large_docs=True)]
    return branch_rows(48)


def _digest(result) -> int:
    meta = result.metadata
    value = [result.text, result.len_comments, None if meta is None else [getattr(meta, f) for f in FIELDS]]
    data = json.dumps(value, ensure_ascii=False).encode("utf-8")
    return int.from_bytes(hashlib.blake2b(data, digest_size=8).digest(), "big", signed=True)


def run(name: str, option_set: str, stride: int = 1):
    """({key: (tier, chars_kept, digest)}, cpu_s, copies): every
    ``stride``-th document of one corpus under one option set, the thread
    CPU spent in extract_one_result and the copy_tree calls it made."""
    options = Options(**OPTION_SETS[option_set])
    rows, cpu, copies = {}, 0.0, []
    copy_tree = Element.copy_tree
    Element.copy_tree = lambda element: copies.append(None) or copy_tree(element)
    try:
        for key, text in corpus_docs(name)[::stride]:
            start = time.thread_time()
            result = extract_one_result(text, options, timeout=None)
            cpu += time.thread_time() - start
            rows[key] = (result.tier, result.chars_kept, _digest(result))
    finally:
        Element.copy_tree = copy_tree
    return rows, cpu, len(copies)


def generate() -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    columns = {"corpus": [], "key": [], "options": [], "tier": [], "chars_kept": [], "digest": []}
    for name in CORPORA:
        for option_set in OPTION_SETS:
            for key, (tier, chars_kept, digest) in run(name, option_set)[0].items():
                for column, value in zip(columns, (name, key, option_set, tier, chars_kept, digest)):
                    columns[column].append(value)
    table = pa.table(
        {
            "corpus": pa.array(columns["corpus"]).dictionary_encode(),
            "key": pa.array(columns["key"], pa.string()),
            "options": pa.array(columns["options"]).dictionary_encode(),
            "tier": pa.array(columns["tier"]).dictionary_encode(),
            "chars_kept": pa.array(columns["chars_kept"], pa.int64()),
            "digest": pa.array(columns["digest"], pa.int64()),
        }
    )
    pq.write_table(table, OUT, compression="zstd")
    return table.num_rows


def check(stride: int = 1, corpora=CORPORA):
    """(diffs, stats): every (corpus, key, option set) whose row differs
    from the fixture (key "<missing>:..." for a pinned row the replay did
    not produce), and per (corpus, option set) (documents, thread CPU s,
    copy_tree calls).  ``stride`` > 1 replays every stride-th document."""
    import pyarrow.parquet as pq

    pinned = pq.read_table(OUT).to_pydict()
    expected: dict = {}
    for corpus, key, option_set, tier, chars_kept, digest in zip(
        pinned["corpus"], pinned["key"], pinned["options"], pinned["tier"], pinned["chars_kept"], pinned["digest"]
    ):
        expected.setdefault((corpus, option_set), {})[key] = (tier, chars_kept, digest)
    diffs, stats = [], {}
    for name in corpora:
        for option_set in OPTION_SETS:
            rows, cpu, copies = run(name, option_set, stride)
            stats[(name, option_set)] = (len(rows), cpu, copies)
            want = expected.get((name, option_set), {})
            diffs.extend((name, key, option_set) for key, row in rows.items() if want.get(key) != row)
            if stride == 1:
                diffs.extend((name, f"<missing>:{key}", option_set) for key in want if key not in rows)
    return diffs, stats


def main() -> None:
    if "--check" in sys.argv[1:]:
        diffs, stats = check()
        for corpus, key, option_set in diffs:
            print(f"DIFF {corpus} {key} {option_set}")
        for (corpus, option_set), (docs, cpu, copies) in stats.items():
            print(
                f"{corpus:10s} {option_set:11s} {docs:5d} docs  thread CPU {cpu:7.3f} s"
                f"  copy_tree {copies / docs:.2f}/doc"
            )
        print(f"{len(diffs)} differing rows")
        sys.exit(1 if diffs else 0)
    print(f"wrote {OUT}: {generate()} rows")


if __name__ == "__main__":
    main()
