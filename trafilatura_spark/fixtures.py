"""Deterministic synthetic transcript corpus (FIXTURES.md §1/§3).

Generates (conv_id, turn_idx, role, text, tool, ts) rows whose `text`
cells carry HTML genres derived from the behaviors the reference's own
test suites pin (tests/unit_tests.py, baseline_tests.py,
realworld_tests.py).  Fully deterministic: genre/content choice is a
function of (conv_id, turn_idx) via sha1, no RNG state, no clock.

Conversation sizes are heavy-tailed to exercise skew handling.
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timedelta
from typing import Iterator, Optional

_EPOCH = datetime(2024, 1, 1)

_WORDS = (
    "analysis pipeline content extraction spark distributed partition shuffle broadcast "
    "cluster executor memory throughput latency benchmark parquet transcript conversation "
    "assistant message response heuristic cascade fallback readability paragraph boilerplate "
    "navigation sidebar article section heading sentence language quality token duplicate "
    "fingerprint similarity vector embedding neighbor window aggregate filter project join"
).split()


def _h(conv_id: str, turn_idx: int, salt: str = "") -> int:
    digest = hashlib.sha1(f"{conv_id}|{turn_idx}|{salt}".encode()).digest()
    return int.from_bytes(digest[:8], "big")


def _sentence(seed: int, n_words: int) -> str:
    words = [_WORDS[(seed + i * 2654435761) % len(_WORDS)] for i in range(n_words)]
    words[0] = words[0].capitalize()
    return " ".join(words) + "."


def _paragraph(seed: int, n_sentences: int = 3, words_per: int = 12) -> str:
    return " ".join(_sentence(seed + i * 97, words_per) for i in range(n_sentences))


def _long_text(seed: int, approx_chars: int) -> str:
    parts = []
    total = 0
    i = 0
    while total < approx_chars:
        p = _paragraph(seed + i * 1009, 2, 10)
        parts.append(p)
        total += len(p) + 1
        i += 1
    return " ".join(parts)


# --- genres -----------------------------------------------------------------

def _genre_plain_article(seed: int) -> str:
    body = "".join(f"<p>{_paragraph(seed + i * 31, 3, 14)}</p>" for i in range(3))
    return f"<article><h2>{_sentence(seed, 5)[:-1]}</h2>{body}</article>"


def _genre_short_article(seed: int) -> str:
    "Below MIN_EXTRACTED_SIZE=250 so fallbacks engage."
    return f"<article><p>{_sentence(seed, 9)}</p></article>"


def _genre_class_div(seed: int) -> str:
    content = "".join(f"<p>{_paragraph(seed + i * 13, 3, 13)}</p>" for i in range(3))
    return (
        f'<div id="nav-menu"><ul><li><a href="/x">Home</a></li><li><a href="/y">About</a></li></ul></div>'
        f'<div class="post-content"><h3>{_sentence(seed + 5, 4)[:-1]}</h3>{content}</div>'
        f'<div class="sidebar"><p>{_sentence(seed + 7, 6)}</p></div>'
        f"<footer><p>Copyright notice</p></footer>"
    )


def _genre_boilerplate(seed: int) -> str:
    content = "".join(f"<p>{_paragraph(seed + i * 17, 3, 13)}</p>" for i in range(3))
    return (
        f'<div class="share-buttons"><a href="#">Twitter</a> <a href="#">Facebook</a></div>'
        f'<div id="newsletter-signup"><p>Subscribe to our newsletter now</p></div>'
        f'<article>{content}</article>'
        f'<div style="display:none"><p>hidden content should never appear</p></div>'
        f'<div aria-hidden="true"><p>also hidden from extraction</p></div>'
        f'<div class="tag-list"><a href="/t1">tag one</a> <a href="/t2">tag two</a></div>'
    )


def _genre_link_farm(seed: int) -> str:
    content = f"<p>{_paragraph(seed, 4, 14)}</p>"
    farm = "".join(f'<a href="/l{i}">{_sentence(seed + i, 2)[:-1]}</a> ' for i in range(8))
    return f'<div class="post-content">{content}</div><div><p>{farm}</p></div>'


def _genre_lists(seed: int) -> str:
    items = "".join(f"<li>{_sentence(seed + i * 7, 8)}</li>" for i in range(4))
    dl = f"<dl><dt>{_sentence(seed + 50, 3)[:-1]}</dt><dd>{_sentence(seed + 51, 7)}</dd><dt>{_sentence(seed + 52, 3)[:-1]}</dt><dd>{_sentence(seed + 53, 7)}</dd></dl>"
    intro = f"<p>{_paragraph(seed + 90, 2, 14)}</p>"
    return f"<article>{intro}<ul>{items}</ul>{dl}</article>"


def _genre_table(seed: int) -> str:
    rows = "".join(
        f"<tr><td>{_sentence(seed + r * 11, 3)[:-1]}</td><td>{_sentence(seed + r * 11 + 1, 4)[:-1]}</td></tr>"
        for r in range(3)
    )
    spanned = (
        f'<table><caption>{_sentence(seed + 77, 3)[:-1]}</caption>'
        f"<tr><th>Alpha</th><th>Beta</th></tr>"
        f'<tr><td colspan="2">{_sentence(seed + 78, 5)[:-1]}</td></tr>'
        f'<tr><td rowspan="2">{_sentence(seed + 79, 3)[:-1]}</td><td>{_sentence(seed + 80, 3)[:-1]}</td></tr>'
        f"<tr><td>{_sentence(seed + 81, 3)[:-1]}</td></tr></table>"
    )
    intro = f"<p>{_paragraph(seed + 99, 2, 14)}</p>"
    return f"<article>{intro}<table><tr><th>Key</th><th>Value</th></tr>{rows}</table>{spanned}</article>"


def _genre_quotes_code(seed: int) -> str:
    quote = f"<blockquote><p>{_paragraph(seed + 3, 2, 12)}</p></blockquote>"
    code = f'<pre lang="python">def f(x):\n    return {{"k": x}}</pre>'
    intro = f"<p>{_paragraph(seed + 4, 3, 14)}</p>"
    return f"<article>{intro}{quote}{code}</article>"


def _genre_headings_formatting(seed: int) -> str:
    return (
        f"<article><h1>{_sentence(seed, 4)[:-1]}</h1>"
        f"<p>{_sentence(seed + 1, 8)[:-1]} <b>bold words</b> and <i>italic words</i> continue {_sentence(seed + 2, 8)}</p>"
        f"<h3>{_sentence(seed + 3, 3)[:-1]}</h3>"
        f"<p>{_paragraph(seed + 4, 2, 14)}</p>"
        f"<p>Strike <s>removed words</s> kept tail here with trailing prose {_sentence(seed + 5, 7)}</p>"
        f"</article>"
    )


def _genre_comments(seed: int) -> str:
    article = f"<article>{''.join(f'<p>{_paragraph(seed + i * 19, 3, 13)}</p>' for i in range(2))}</article>"
    comments = (
        f'<div id="comments"><div class="comment-list">'
        f"<p>{_sentence(seed + 60, 10)}</p><p>{_sentence(seed + 61, 10)}</p></div></div>"
    )
    return article + comments


def _genre_json_ld(seed: int) -> str:
    body_text = _paragraph(seed + 8, 4, 14)
    return (
        '<script type="application/ld+json">'
        f'{{"@context":"https://schema.org","@type":"Article","articleBody":"{body_text}"}}'
        "</script><div><p>short teaser</p></div>"
    )


def _genre_baseline_paragraphs(seed: int) -> str:
    "No recognizable container: paragraph dump tier."
    return "".join(f"<p>{_sentence(seed + i * 3, 9)}</p>" for i in range(4))


def _genre_recall_escalation(seed: int) -> str:
    """Stage-4 trigger (core.py:239-274): a short extractable core in an
    unrecognized container, recall-only content in a list (lists are
    outside the balanced wild-text search), and bulk page text inside a
    <form> (dropped by cleaning and by readability's sanitize, counted
    by html2txt) so the escalation share gate fires."""
    core = f'<div class="xcontainer"><p>{_paragraph(seed, 3, 12)}</p></div>'
    items = "".join(f"<li>{_sentence(seed + 40 + i, 18)}</li>" for i in range(8))
    filler = f"<form>{_long_text(seed + 900, 4000)}</form>"
    return f"{core}<ul>{items}</ul>{filler}"


def _genre_malformed(seed: int) -> str:
    return f"<html ... /><p>{_paragraph(seed, 3, 12)}</p><unknowntag>{_sentence(seed + 2, 8)}</unknowntag>"


def _genre_duplicated(seed: int) -> str:
    long_p = _paragraph(seed, 2, 16)
    short = _sentence(seed + 1, 4)
    return f"<article><p>{long_p}</p><p>{long_p}</p><p>{short}</p><p>{short}</p><p>{_paragraph(seed + 2, 2, 12)}</p></article>"


def _genre_empty(seed: int) -> str:
    return "   " if seed % 2 == 0 else ""


def _genre_plain_text(seed: int) -> str:
    return _paragraph(seed, 3, 12)


def _genre_large_doc(seed: int) -> str:
    paras = "".join(f"<p>{_sentence(seed + i, 10)}</p>" for i in range(400))
    return f"<article>{paras}</article>"


GENRES = [
    _genre_plain_article,
    _genre_short_article,
    _genre_class_div,
    _genre_boilerplate,
    _genre_link_farm,
    _genre_lists,
    _genre_table,
    _genre_quotes_code,
    _genre_headings_formatting,
    _genre_comments,
    _genre_json_ld,
    _genre_baseline_paragraphs,
    _genre_recall_escalation,
    _genre_malformed,
    _genre_duplicated,
    _genre_empty,
    _genre_plain_text,
]

_ROLES = ("user", "assistant", "tool")


def conversation_sizes(n_convs: int) -> Iterator[int]:
    "Heavy-tailed sizes: ~80% small (2-10 turns), ~1% long (60-400 turns)."
    for k in range(n_convs):
        h = _h(f"conv{k:08d}", -1, "size")
        bucket = h % 100
        if bucket < 80:
            yield 2 + h % 9
        elif bucket < 99:
            yield 10 + h % 40
        else:
            yield 60 + h % 340


def turn_text(conv_id: str, turn_idx: int) -> str:
    h = _h(conv_id, turn_idx, "genre")
    genre = GENRES[h % len(GENRES)]
    return genre(h % 100_000)


def _conversation_rows(k: int, size: int, large_docs: bool) -> Iterator[tuple]:
    "Conversation ``k``'s rows, its turns in a deterministic shuffled order."
    conv_id = f"conv{k:08d}"
    for turn_idx in sorted(range(size), key=lambda i: _h(conv_id, i, "shuffle")):
        role = _ROLES[turn_idx % 3]
        h = _h(conv_id, turn_idx, "genre")
        if large_docs and h % 5000 == 0:
            text = _genre_large_doc(h % 100_000)
        else:
            text = turn_text(conv_id, turn_idx)
        tool = f"tool{h % 7}" if role == "tool" else None
        yield (conv_id, turn_idx, role, text, tool, _EPOCH + timedelta(minutes=turn_idx))


def generate_rows(n_convs: int, large_docs: bool = False) -> Iterator[tuple]:
    """Yield (conv_id, turn_idx, role, text, tool, ts) in shuffled turn order
    (stable-ordering logic must actually be exercised: FIXTURES.md §1)."""
    for k, size in enumerate(conversation_sizes(n_convs)):
        yield from _conversation_rows(k, size, large_docs)


TRANSCRIPT_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def transcripts_df(spark, n_convs: int, large_docs: bool = False, num_slices: int = 32):
    "Create the transcripts DataFrame distributed across ``num_slices`` tasks."
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("conv_id", StringType(), False),
            StructField("turn_idx", IntegerType(), False),
            StructField("role", StringType(), False),
            StructField("text", StringType(), True),
            StructField("tool", StringType(), True),
            StructField("ts", TimestampType(), False),
        ]
    )
    # generate on executors: parallelize conv ranges, flatMap the generator
    bounds = list(range(0, n_convs, max(1, n_convs // max(1, num_slices)))) + [n_convs]
    ranges = list(zip(bounds[:-1], bounds[1:]))

    def gen_range(bound):
        lo, hi = bound
        sizes = list(conversation_sizes(hi))[lo:hi]
        for k, size in enumerate(sizes, start=lo):
            yield from _conversation_rows(k, size, large_docs)

    rdd = spark.sparkContext.parallelize(ranges, len(ranges)).flatMap(gen_range)
    return spark.createDataFrame(rdd, schema)


# --- metadata ladder corpus ---------------------------------------------------
# Pages built from kernel/metadata.py's trigger vocabularies, so every
# Metadata field is set on some page and each field's candidates come
# from <head>, from <body>, or both.  Each piece is in or out of a page
# by its own hash; ``{n}`` is the page number.

_LADDER_METAS = (
    '<meta property="og:title" content="{t}">', '<meta property="og:description" content="{s}">',
    '<meta property="og:site_name" content="{site}">', '<meta property="og:image" content="https://{site}/i/{n}.jpg">',
    '<meta property="og:type" content="article">', '<meta property="og:url" content="https://{site}/post/{n}">',
    '<meta property="og:author" content="{a}">', '<meta name="author" content="{a}">',
    '<meta name="description" content="{s}">', '<meta name="keywords" content="{w}, {w2}">',
    '<meta name="twitter:site" content="@{w}">', '<meta name="twitter:url" content="https://{site}/t/{n}">',
    '<meta name="dc.title" content="{t}">', '<meta name="twitter:image" content="https://{site}/tw/{n}.png">',
    '<meta property="article:tag" content="{w2}">', '<meta property="article:author" content="{a}">',
    '<meta property="article:publisher" content="{w} Press">', '<meta property="article:section" content="{w}">',
    '<meta name="subject" content="{w2}">', '<meta itemprop="author" content="{a}">',
    '<meta itemprop="headline" content="{t}">', '<meta itemprop="description" content="{s}">',
    '<meta property="article:published_time" content="{d}">', '<meta name="article:modified_time" content="{d}">',
    "<title>{t} | {site}</title>", "<title>Home - {w2}</title>", "<title>{w2} and {w}</title>",
    "<title>www.{site} » {t}</title>",
    '<script type="application/ld+json">{{"@type": "NewsArticle", "headline": "{t}", "datePublished": "{d}", '
    '"author": {{"@type": "Person", "name": "{a}"}}, "publisher": {{"name": "{w} Media"}}}}</script>',
    '<script type="application/ld+json">{{"@graph": [{{"@type": "BlogPosting", "description": "{s}", '
    '"author": [{{"name": "{a}"}}], "headline": "{t}"}}]}}</script>',
)
_LADDER_LINKS = (
    '<link rel="canonical" href="https://{site}/2019/05/{day}/{w}">', '<link rel="canonical" href="/2020/01/{day}/{w}">',
    '<base href="https://{site}/base/">', '<link rel="alternate" hreflang="x-default" href="https://{site}/x/{n}">',
    '<link rel="canonical" href="not a url">',
)
_LADDER_BODY = (
    "<h1>{t}</h1>", "<h1>{w} {w2} today</h1>", "<h2>{s}</h2>", "<h2>{w2} notes</h2>", '<h2 class="entry-title">{t}</h2>',
    '<h1 class="post-title">{t}</h1>', '<div class="post-title">{t}</div>', '<h3 id="page-title">{t}</h3>',
    '<h2 itemprop="headline">{t}</h2>', '<span class="author">{a}</span>', '<a rel="author" href="/u/{n}">By {a}</a>',
    '<div class="byline">{a}</div>', '<p class="author-name">{a}</p>', "<author>{a}</author>",
    '<span itemprop="author">{a}</span>', '<div data-component="Byline">Words by {a}</div>',
    '<span class="writer">{a}</span>', '<div class="comments"><span class="author">{a2}</span></div>',
    '<section id="comments"><div class="byline">{a2}</div></section>',
    '<div class="sidebar"><p class="author">{a2}</p></div>', '<figure><span class="author">{a2}</span></figure>',
    '<div class="post-meta"><a href="/category/{w}/">{w}</a><a href="/about/">About</a></div>',
    '<p class="postmeta"><a href="/categories/{w2}/">{w2}</a></p>',
    '<footer class="entry-meta"><a href="/cat/{w}">{w}</a></footer>',
    '<span class="cat-links"><a href="/category/{w2}/">{w2}</a></span>',
    '<header class="entry-header"><a href="/category/{w}/">{w}</a></header>',
    '<div class="row"><a href="/topics/{w}">{w}</a></div>',
    '<div class="tags"><a href="/tag/{w}/">{w}</a><a href="/tags/{w2}/">{w2}</a></div>',
    '<p class="entry-tags"><a href="/tag/{w2}/">{w2}</a></p>', '<div class="jp-relatedposts"><a href="/tag/{w}/">{w}</a></div>',
    '<span class="tags-links"><a href="/tags/{w}/">{w}</a></span>', '<div class="topics"><a href="/misc/{w}/">{w}</a></div>',
    '<a rel="license" href="https://creativecommons.org/licenses/by-sa/4.0/">CC</a>',
    '<footer><a href="/legal">Licensed under Creative Commons BY-NC 3.0</a></footer>',
    '<div class="site-footer"><a href="https://creativecommons.org/licenses/by-nc-nd/2.0/">terms</a></div>',
    '<footer><a href="/imprint">Imprint</a></footer>', '<a rel="license" href="/license">Some License</a>',
    '<time datetime="{d}">{d}</time>', '<abbr data-utime="1500000000" title="x">then</abbr>',
    '<span class="post-date">{day} March 2021</span>', '<abbr title="{d}">date</abbr>', "<p>Copyright 2016 {w}</p>",
)


def ladder_page(n: int) -> str:
    "One ladder page; ``n`` alone decides its content."
    key = f"ladder{n:04d}"
    h = _h(key, 0, "ladder")
    w, w2 = _WORDS[h % 40], _WORDS[(h >> 6) % 40]
    fill = dict(
        n=n, w=w, w2=w2, t=_sentence(h % 10_000, 5)[:-1], s=_sentence((h >> 9) % 10_000, 12),
        a=f"{_WORDS[(h >> 12) % 40].title()} {_WORDS[(h >> 18) % 40].title()}",
        a2=f"{_WORDS[(h >> 24) % 40].title()} Other", site=f"{w}.example.org",
        day=1 + (h >> 30) % 28, d=f"20{12 + (h >> 35) % 10}-0{1 + (h >> 39) % 9}-{10 + (h >> 43) % 18}",
    )

    def some(pieces, salt, odds):
        return "".join(p for i, p in enumerate(pieces) if _h(key, i, salt) % odds == 0).format(**fill)

    # every fifth page is bare (no metas, JSON-LD or <title>), so the
    # title and author ladders run down to their last rungs
    bare = n % 5 == 4
    head = some(_LADDER_LINKS, "head links", 3) + ("" if bare else some(_LADDER_METAS, "head", 4))
    late = some(_LADDER_LINKS, "body links", 4) + ("" if bare else some(_LADDER_METAS, "body", 6))
    body = f"<p>{_paragraph(h % 5000, 2, 10)}</p>{some(_LADDER_BODY, 'body', 5)}"
    return f"<!DOCTYPE html><html><head>{head}</head><body><article>{body}</article>{late}</body></html>"


def ladder_rows(n_pages: int) -> list:
    "(key, html) for ladder pages 0..n_pages-1."
    return [(f"ladder{n:04d}", ladder_page(n)) for n in range(n_pages)]


# --- cascade branch corpus ----------------------------------------------------
# Pages for the cascade's rarer branches, kept out of generate_rows (the
# bench corpus and the oracle fixtures): overall discards holding >6/7 of
# the text (the prune is undone), every <p> inside an element that tree
# cleaning deletes (recall mode deletes nothing), escalating
# DiscussionForumPosting pages, wide <ul>/<ol> lists.

def branch_page(n: int) -> str:
    "One branch page; ``n`` alone decides its kind (``n % 4``) and content."
    h = _h(f"branch{n:04d}", 0, "branch")
    s = [_sentence((h >> k) % 5000, 4 + (h >> k) % 30) for k in range(0, 40, 8)]
    long = _long_text((h >> 8) % 5000, 300 + (h >> 12) % 2500)
    head = ""
    if n % 4 == 0:
        hidden = f'<div class="hidden">{s[1]}</div>' if h % 3 == 0 else ""
        share = f'<section class="share-box"><p>{s[2]}</p></section>' if h % 5 < 2 else ""
        body = (
            f"<article><h1>{s[0]}</h1><p>{_paragraph(h % 5000, 1 + h % 3, 6 + (h >> 4) % 10)}</p>"
            f'<div class="sidebar"><p>{long}</p>{hidden}</div>{s[3] * (h % 2)}{share}</article><p>{s[4]}</p>'
        )
    elif n % 4 == 1:
        outside = f"<p>{s[0]}</p>" if h % 3 == 0 else ""
        body = f"<div><aside><p>{s[1]}</p></aside><div>{long[:1500]}</div><form><p>{s[2]}</p></form>{outside}</div>"
    elif n % 4 == 2:
        head = '<script type="application/ld+json">{"@type":"DiscussionForumPosting"}</script>'
        replies = "".join(f'<div class="comment"><p>{x}</p></div>' for x in s[: h % 4])
        body = f'{_genre_recall_escalation(h % 100_000)}<div class="comments">{replies}</div>'
    else:
        tag = "ol" if h % 2 else "ul"
        items = "".join(f"<li><b>{i}</b> {_sentence(h % 5000 + i, 6)}</li>" for i in range(200 + h % 1300))
        body = f"<article><h2>{s[0]}</h2><{tag}>{items}</{tag}></article>"
    return f"<html><head>{head}</head><body>{body}</body></html>"


def branch_rows(n_pages: int) -> list:
    "(key, html) for branch pages 0..n_pages-1."
    return [(f"branch{n:04d}", branch_page(n)) for n in range(n_pages)]
