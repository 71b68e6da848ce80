"""The extraction kernel creates no per-document reference cycles.

A DOM node holds its parent through a weak reference (kernel/dom.py), so
a document's trees are freed by reference counting when the batch loop
(operators/arrow_batches.py map_batches) drops the row's result.  Anything a
document allocates in a cycle (a back-pointer, a closure that refers to
itself) would instead wait for the cyclic collector, which a reused
PySpark worker runs inside the kernel on allocation thresholds and after
every task.  These tests run the batch functions with the collector off
and assert that a collection afterwards finds nothing to free.
"""

import gc

import pyarrow as pa
import pytest

from trafilatura_spark.fixtures import _genre_large_doc, generate_rows
from trafilatura_spark.kernel import Options
from trafilatura_spark.operators.extract import make_extract_batch_fn, make_extract_with_metadata_batch_fn

FORMATS = ["txt", "markdown", "xml", "xmltei", "json", "csv", "html"]
OPTIONS = {f: Options(format=f) for f in FORMATS}
OPTIONS.update(
    precision=Options(focus="precision"),
    recall=Options(focus="recall"),
    with_metadata=Options(with_metadata=True, links=True, images=True),
)


def _page(k: int) -> str:
    "A full page: head metadata, navigation, article, table, comments and footer."
    words = " ".join(f"word{k}x{i} and some more text" for i in range(40))
    paragraphs = "".join(f'<p>Paragraph {i} of page {k}: {words} <a href="/p{k}/{i}">link {i}</a>.</p>' for i in range(8))
    return (
        f'<html lang="en"><head><title>Page {k} | Site</title>'
        f'<meta name="author" content="Author {k}"><meta name="description" content="About page {k}">'
        f'<meta property="article:published_time" content="2023-0{1 + k % 9}-1{k % 9}">'
        f'<link rel="canonical" href="https://example.org/page{k}"></head>'
        f'<body><nav><ul>{"".join(f"<li><a href=/n{i}>Menu {i}</a></li>" for i in range(6))}</ul></nav>'
        f'<main><article><h1>Heading of page {k}</h1>{paragraphs}'
        f"<ul><li>first item {words}</li><li>second <b>item</b></li></ul>"
        f'<table><tr><th>Name</th><th>Value</th></tr><tr><td>a {k}</td><td>{k}</td></tr></table>'
        f'<figure><img src="/img{k}.jpg" alt="picture {k}"><figcaption>Caption</figcaption></figure>'
        f"<blockquote>{words}</blockquote></article>"
        f'<div class="comments"><div class="comment"><p>A comment on page {k}: {words}</p></div></div></main>'
        f'<footer><p>Copyright 2023</p><a href="/imprint">Imprint</a></footer></body></html>'
    )


def _batch() -> pa.RecordBatch:
    rows = [(c, t, text) for c, t, _role, text, _tool, _ts in generate_rows(12)]
    rows += [(f"page{k}", 0, _page(k)) for k in range(4)]
    rows += [(f"large{k}", 0, _genre_large_doc(k)) for k in range(2)]
    conv_ids, turn_idxs, texts = zip(*rows)
    return pa.RecordBatch.from_arrays(
        [pa.array(conv_ids), pa.array(turn_idxs, pa.int32()), pa.array(texts)], names=["conv_id", "turn_idx", "text"]
    )


BATCH = _batch()


@pytest.mark.parametrize("name", list(OPTIONS))
def test_batch_functions_leave_no_cyclic_garbage(name):
    batch_fns = [make_extract_batch_fn(OPTIONS[name]), make_extract_with_metadata_batch_fn(OPTIONS[name])]
    # a first pass imports lazily imported kernel modules and fills the
    # per-worker memos; neither is per-document
    for batch_fn in batch_fns:
        for _ in batch_fn(iter([BATCH])):
            pass
    gc.collect()
    gc.disable()
    try:
        for batch_fn in batch_fns:
            for out in batch_fn(iter([BATCH.slice(0, 40), BATCH.slice(40)])):
                assert len(out)
        del out
        garbage = gc.collect()
    finally:
        gc.enable()
    assert garbage == 0, f"{garbage} objects of {len(BATCH)} documents were reference cycles"
