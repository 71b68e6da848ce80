"""Seeded benchmark inputs, materialized once per (workload, seed, size).

Every text comes from the repository's fixture genre generators
(``trafilatura_spark.fixtures``); the seed only picks the conv_id
namespace those generators hash, and for ``web_pages_meta`` the page
composition.  The amount of work is fixed per workload and size: the
turn count is exact and page sizes come from a fixed quantile grid, so
two seeds differ in content and order, not in volume.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
from datetime import timedelta

import pyarrow as pa
import pyarrow.parquet as pq

from trafilatura_spark import fixtures as fx

# Generator parameters per workload and size.  ``files`` is per pinned
# core, so the 1-core leg of scaling_eff reads exactly one core's share.
SIZES = {
    "chat_turns": {"full": {"turns": 2400, "files_per_core": 4}, "tiny": {"turns": 1500, "files_per_core": 1}},
    "web_pages_meta": {"full": {"pages": 400, "files_per_core": 4}, "tiny": {"pages": 40, "files_per_core": 1}},
    "crawl_job": {"full": {"turns": 2400, "files_per_core": 4}, "tiny": {"turns": 300, "files_per_core": 1}},
}
# conv00000000..conv00000119: the conversations pinned by
# tests/fixtures/cascade_turns_expected.parquet, present in every chat_turns corpus
PINNED_CONVS = 120
PAGE_MIN_CHARS = 5_000
PAGE_MAX_CHARS = 100_000
GIANT_CHARS = 200_000
GIANT_SHARE = 0.01

_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)


def _conv_size(conv_id: str) -> int:
    "fixtures.conversation_sizes' heavy tail, keyed by any conv_id."
    h = fx._h(conv_id, -1, "size")
    bucket = h % 100
    if bucket < 80:
        return 2 + h % 9
    if bucket < 99:
        return 10 + h % 40
    return 60 + h % 340


def _turn_row(conv_id: str, turn_idx: int) -> tuple:
    role = fx._ROLES[turn_idx % 3]
    h = fx._h(conv_id, turn_idx, "genre")
    tool = f"tool{h % 7}" if role == "tool" else None
    return (conv_id, turn_idx, role, fx.turn_text(conv_id, turn_idx), tool, fx._EPOCH + timedelta(minutes=turn_idx))


def transcript_rows(namespace: str, n_turns: int, pinned: int = 0) -> list:
    """Exactly ``n_turns`` rows: the ``pinned`` fixture conversations
    (ids conv00000000...) first, then conversations ``<namespace>c<k>``
    with the fixture size distribution; the last one is truncated."""
    rows = list(fx.generate_rows(pinned)) if pinned else []
    k = 0
    while len(rows) < n_turns:
        conv_id = f"{namespace}c{k:06d}"
        size = min(_conv_size(conv_id), n_turns - len(rows))
        rows.extend(_turn_row(conv_id, i) for i in range(size))
        k += 1
    return rows[:n_turns]


def _page_sizes(n_pages: int) -> list:
    """Fixed heavy-tailed size grid: ~1% giants of GIANT_CHARS, the rest
    from PAGE_MIN_CHARS with a long tail towards PAGE_MAX_CHARS."""
    n_giants = max(1, round(n_pages * GIANT_SHARE))
    n_rest = n_pages - n_giants
    span = math.log(PAGE_MAX_CHARS / PAGE_MIN_CHARS)
    rest = [int(PAGE_MIN_CHARS * math.exp(span * ((i + 0.5) / n_rest) ** 4)) for i in range(n_rest)]
    return [GIANT_CHARS] * n_giants + rest


def _head(page_id: str, h: int) -> str:
    title = fx._sentence(h % 100_000, 6).rstrip(".")
    desc = fx._sentence((h >> 8) % 100_000, 14)
    author = f"{fx._WORDS[h % len(fx._WORDS)].title()} {fx._WORDS[(h >> 5) % len(fx._WORDS)].title()}"
    date = f"20{10 + h % 14:02d}-{1 + (h >> 3) % 12:02d}-{1 + (h >> 7) % 28:02d}"
    site = f"site{h % 97}.example.org"
    ld = json.dumps(
        {
            "@context": "https://schema.org",
            "@type": "NewsArticle",
            "headline": title,
            "datePublished": date,
            "author": {"@type": "Person", "name": author},
            "publisher": {"@type": "Organization", "name": site},
        }
    )
    return (
        f"<head><meta charset=\"utf-8\"><title>{title} | {site}</title>"
        f"<meta name=\"description\" content=\"{desc}\">"
        f"<meta name=\"author\" content=\"{author}\">"
        f"<meta property=\"og:title\" content=\"{title}\">"
        f"<meta property=\"og:site_name\" content=\"{site}\">"
        f"<meta property=\"og:url\" content=\"https://{site}/{page_id}\">"
        f"<meta property=\"article:published_time\" content=\"{date}\">"
        f"<link rel=\"canonical\" href=\"https://{site}/{page_id}\">"
        f"<script type=\"application/ld+json\">{ld}</script></head>"
    )


def _chrome(h: int) -> tuple:
    links = "".join(f"<li><a href=\"/s{i}\">{fx._WORDS[(h + i) % len(fx._WORDS)]}</a></li>" for i in range(8))
    nav = f"<header><nav class=\"menu\"><ul>{links}</ul></nav></header>"
    side = f"<aside class=\"sidebar\"><h3>Related</h3><ul>{links}</ul></aside>"
    foot = (
        "<footer id=\"footer\"><p>Copyright 2024. All rights reserved.</p>"
        "<div class=\"cookie-banner\"><p>We use cookies.</p></div></footer>"
        "<!-- page served by cache node -->"
    )
    return nav, side, foot


def page_html(page_id: str, target_chars: int) -> str:
    """A full page: doctype, metadata head, nav/sidebar/footer chrome and
    a main area composed of fixture genres up to ``target_chars``."""
    h = fx._h(page_id, 0, "page")
    nav, side, foot = _chrome(h)
    body, size, i = [], 0, 0
    giant = target_chars >= GIANT_CHARS
    while size < target_chars - 600:
        hi = fx._h(page_id, i, "frag")
        frag = fx._genre_large_doc(hi % 100_000) if giant else fx.GENRES[hi % len(fx.GENRES)](hi % 100_000)
        body.append(frag)
        size += len(frag)
        i += 1
    return (
        f"<!DOCTYPE html><html lang=\"en\">{_head(page_id, h)}<body>{nav}"
        f"<main><div class=\"content\">{''.join(body)}</div></main>{side}{foot}</body></html>"
    )


def page_rows(namespace: str, n_pages: int) -> list:
    "Pages ``<namespace>p<k>`` on the fixed size grid, sizes assigned by seeded order."
    sizes = _page_sizes(n_pages)
    ids = sorted((f"{namespace}p{k:06d}" for k in range(n_pages)), key=lambda p: fx._h(p, 0, "order"))
    return [(pid, 0, "page", page_html(pid, size), None, fx._EPOCH) for pid, size in zip(ids, sizes)]


def _write_files(rows: list, path: str, n_files: int, shuffle: bool) -> list:
    """Deal rows round-robin over ``n_files`` parquet files, after a
    shuffle by key hash when ``shuffle`` is set (else in the given order)."""
    if shuffle:
        rows = sorted(rows, key=lambda r: fx._h(r[0], r[1], "shuffle"))
    buckets = [rows[i::n_files] for i in range(n_files)]
    os.makedirs(path, exist_ok=True)
    files = []
    for i, bucket in enumerate(buckets):
        cols = list(zip(*bucket)) if bucket else [[] for _ in _SCHEMA]
        table = pa.table([pa.array(c, type=f.type) for c, f in zip(cols, _SCHEMA)], schema=_SCHEMA)
        name = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table, name)
        files.append(name)
    return files


def _quantiles(values: list) -> dict:
    qs = statistics.quantiles(values, n=100, method="inclusive")
    return {"p10": qs[9], "p50": qs[49], "p90": qs[89], "p99": qs[98], "max": max(values)}


def materialize(root: str, workload: str, seed: int, size: str, cores: int) -> dict:
    """Build (or reuse) the corpus; returns its description.

    Layout under ``root``: ``files/`` (the job input, ``files_per_core *
    cores`` files), ``leg1/`` (every ``cores``-th file: the 1-core leg's
    share) and ``warm/`` (``cores`` small files for the
    warm-up pass)."""
    params = SIZES[workload][size]
    path = os.path.join(root, f"{workload}-s{seed}-{size}-c{cores}")
    meta_path = os.path.join(path, "corpus.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    shutil.rmtree(path, ignore_errors=True)
    n_files = params["files_per_core"] * cores
    if workload == "chat_turns":
        rows = transcript_rows(f"s{seed}", params["turns"], pinned=PINNED_CONVS)
    elif workload == "crawl_job":
        rows = transcript_rows(f"k{seed}", params["turns"])
    else:
        # dealt largest first: every file gets the same size profile, the
        # giants land one per file from file 0 on (fixed stragglers), and
        # the 1-core leg's share holds its share of the giants
        rows = sorted(page_rows(f"w{seed}", params["pages"]), key=lambda r: (-len(r[3]), r[0]))
    files = _write_files(rows, os.path.join(path, "files"), n_files, shuffle=workload != "web_pages_meta")
    leg1 = os.path.join(path, "leg1")
    os.makedirs(leg1)
    leg1_turns = 0
    for name in files[::cores]:
        shutil.copy(name, leg1)
        leg1_turns += pq.ParquetFile(name).metadata.num_rows
    if workload == "web_pages_meta":
        warm_rows = [(f"warm{seed}p{k}", 0, "page", page_html(f"warm{seed}p{k}", PAGE_MIN_CHARS), None, fx._EPOCH) for k in range(4 * cores)]
    else:
        warm_rows = transcript_rows(f"warm{seed}", 64 * cores)
    _write_files(warm_rows, os.path.join(path, "warm"), cores, shuffle=False)
    sizes = [len(r[3]) for r in rows]
    meta = {
        "path": path,
        "workload": workload,
        "seed": seed,
        "size": size,
        "params": params,
        "n_turns": len(rows),
        "n_convs": len({r[0] for r in rows}),
        "n_files": n_files,
        "leg1_turns": leg1_turns,
        "chars_total": sum(sizes),
        "chars": _quantiles(sizes),
    }
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    return meta
