"""Pin extract_metadata's outputs, field by field, on three corpora.

Each row of tests/fixtures/metadata_digests.parquet is one document:
its corpus, its key, and a 64-bit digest of every Metadata field (the
``categories``/``tags`` lists included).  Documents run through the
metadata operator's own path, ``extract_metadata(wrap_if_fragment(text))``.

Corpora:
  web_pages_meta  perfbench's seed-1 pages (``page_rows("w1", 400)``)
  chat_turns      perfbench's seed-1 turns (``transcript_rows("s1", 2400, pinned=120)``)
  ladder          ``fixtures.ladder_rows(300)``, pages built from the
                  extractors' trigger vocabularies; every field must be
                  set on at least one of them, or the tool fails

    python tools/gen_metadata_digests.py          # (re)write the fixture
    python tools/gen_metadata_digests.py --check  # compare against it

``--check`` names every differing (corpus, document, field) and prints
the thread CPU seconds spent in extract_metadata per corpus, so one run
is both the output gate and a layer timing.  Regenerate only when the
metadata outputs change on purpose.
"""

import dataclasses
import hashlib
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.corpus import page_rows, transcript_rows  # noqa: E402
from trafilatura_spark.fixtures import ladder_rows  # noqa: E402
from trafilatura_spark.kernel.metadata import Metadata, extract_metadata  # noqa: E402
from trafilatura_spark.operators.extract import wrap_if_fragment  # noqa: E402

OUT = os.path.join(REPO, "tests", "fixtures", "metadata_digests.parquet")
CORPORA = ("web_pages_meta", "chat_turns", "ladder")
FIELDS = [f.name for f in dataclasses.fields(Metadata)]


def corpus_docs(name: str) -> list:
    "(key, text) pairs of one corpus, in a fixed order."
    if name == "web_pages_meta":
        return [(row[0], row[3]) for row in page_rows("w1", 400)]
    if name == "chat_turns":
        return [(f"{row[0]}/{row[1]}", row[3]) for row in transcript_rows("s1", 2400, pinned=120)]
    return ladder_rows(300)


def _digest(value) -> int:
    data = json.dumps(value, ensure_ascii=False).encode("utf-8")
    return int.from_bytes(hashlib.blake2b(data, digest_size=8).digest(), "big", signed=True)


def run_corpus(name: str):
    """({key: digests}, cpu_s): one digest per field per document, and the
    thread CPU spent in extract_metadata.  Exits if a ladder run leaves a
    field empty on every page."""
    rows, cpu, set_fields = {}, 0.0, set()
    for key, text in corpus_docs(name):
        start = time.thread_time()
        meta = extract_metadata(wrap_if_fragment(text)) if isinstance(text, str) else None
        cpu += time.thread_time() - start
        values = [getattr(meta, f, None) for f in FIELDS]
        set_fields.update(f for f, v in zip(FIELDS, values) if v)
        rows[key] = [_digest(v) for v in values]
    empty = [f for f in FIELDS if f not in set_fields]
    if name == "ladder" and empty:
        raise SystemExit(f"ladder corpus leaves these Metadata fields empty on every page: {empty}")
    return rows, cpu


def generate() -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    columns = {"corpus": [], "key": [], **{f: [] for f in FIELDS}}
    for name in CORPORA:
        for key, digests in run_corpus(name)[0].items():
            columns["corpus"].append(name)
            columns["key"].append(key)
            for f, d in zip(FIELDS, digests):
                columns[f].append(d)
    table = pa.table(
        {k: pa.array(v, pa.string() if k in ("corpus", "key") else pa.int64()) for k, v in columns.items()}
    )
    pq.write_table(table, OUT, compression="zstd")
    return table.num_rows


def check():
    """(diffs, cpu): every (corpus, key, field) whose digest differs from
    the fixture (field "<missing>"/"<extra>" for a document present on one
    side only), and extract_metadata's thread CPU seconds per corpus."""
    import pyarrow.parquet as pq

    pinned = pq.read_table(OUT).to_pydict()
    diffs, cpu = [], {}
    for name in CORPORA:
        rows, cpu[name] = run_corpus(name)
        expected = {
            key: [pinned[f][i] for f in FIELDS]
            for i, (corpus, key) in enumerate(zip(pinned["corpus"], pinned["key"]))
            if corpus == name
        }
        for key, digests in rows.items():
            want = expected.get(key)
            if want is None:
                diffs.append((name, key, "<extra>"))
                continue
            diffs.extend((name, key, f) for f, got, exp in zip(FIELDS, digests, want) if got != exp)
        diffs.extend((name, key, "<missing>") for key in expected if key not in rows)
    return diffs, cpu


def main() -> None:
    if "--check" in sys.argv[1:]:
        diffs, cpu = check()
        for corpus, key, field in diffs:
            print(f"DIFF {corpus} {key} {field}")
        for name, seconds in cpu.items():
            print(f"{name}: extract_metadata thread CPU {seconds:.3f} s")
        print(f"{len(diffs)} differing fields")
        sys.exit(1 if diffs else 0)
    print(f"wrote {OUT}: {generate()} rows")


if __name__ == "__main__":
    main()
