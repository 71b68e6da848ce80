"""jusText-style paragraph classifier (second fallback).

From-scratch implementation of the jusText boilerplate-removal method
(Pomikálek 2011, public): segment the DOM into paragraphs at block-tag
boundaries, classify context-free by stop-word density / link density /
length, then revise context-sensitively by neighbor classes.

The reference calls the justext package with fixed parameters
(/root/reference/trafilatura/external.py:134-139: length_low=50,
length_high=150, stopwords_low=0.1, stopwords_high=0.2,
max_link_density=0.25, no_headings=True; revise distance 150) over a
merged all-language stoplist.  The justext data files are not available
here, so a built-in function-word stoplist covering major European
languages is used instead; the classification machinery is parameter-
compatible.
"""

from __future__ import annotations

import re
from typing import Optional

from .dom import Element

PARAGRAPH_TAGS = frozenset(
    "blockquote caption center col colgroup dd div dl dt fieldset form h1 h2 h3 h4 h5 h6 "
    "legend li optgroup option p pre table td textarea tfoot th thead tr ul ol".split()
)
HEADING_RE = re.compile(r"\bh\d\b")
SELECT_PATH_RE = re.compile(r"(^select|\.select)")
WHITESPACE_RE = re.compile(r"\s+")
PREPROC_REMOVE = frozenset({"head", "script", "style"})

# Stoplists live in kernel/stoplists.py: ~50 built-in function-word
# vocabularies.  The reference merges ALL justext stoplists into one set
# by default (external.py:124-131) and switches to the single
# language-specific stoplist when target_language is set
# (external.py:146-150) — both behaviors are reproduced here.  Scripts
# written without spaces (zh/ja/th, plus agglutinative ko) use a
# substring-coverage density instead of the token density (justext
# itself has no CJK support; see stoplists.py).
from .stoplists import (
    LANG_STOPLISTS,
    MERGED_STOPLIST,
    NOSPACE_CHAR_RE,
    NOSPACE_STOPLISTS,
    nospace_coverage_re,
)


class Paragraph:
    __slots__ = ("dom_path", "text_nodes", "chars_count_in_links", "tags_count", "cf_class", "class_", "_text")

    def __init__(self, path: str):
        self.dom_path = path
        self.text_nodes: list = []
        self.chars_count_in_links = 0
        self.tags_count = 0
        self.cf_class: Optional[str] = None
        self.class_: Optional[str] = None
        self._text: Optional[str] = None

    @property
    def text(self) -> str:
        """The whitespace-normalized text, computed once.  make_paragraphs
        first reads it when the paragraph closes, and a closed paragraph's
        text_nodes never change."""
        if self._text is None:
            self._text = WHITESPACE_RE.sub(" ", "".join(self.text_nodes)).strip()
        return self._text

    @property
    def words(self) -> list:
        return self.text.split()

    @property
    def heading(self) -> bool:
        return bool(HEADING_RE.search(self.dom_path))

    def links_density(self) -> float:
        length = len(self.text)
        if not length:
            return 0.0
        return self.chars_count_in_links / length

    def stopwords_density(self, stoplist, nospace_re=None) -> float:
        """Token density for space-delimited scripts; character-coverage
        density when the paragraph is dominated by a no-space script and
        a coverage regex is supplied (stoplists.py NOSPACE_STOPLISTS)."""
        if nospace_re is not None:
            text = self.text
            nonspace = len(text) - text.count(" ")
            if nonspace and len(NOSPACE_CHAR_RE.findall(text)) / nonspace > 0.5:
                covered = sum(len(m) for m in nospace_re.findall(text))
                return covered / nonspace
        words = self.words
        if not words:
            return 0.0
        return sum(1 for w in words if w.lower() in stoplist) / len(words)


def make_paragraphs(tree: Element) -> list:
    "Segment a DOM into paragraphs at block-tag boundaries."
    paragraphs: list = []
    path: list = []
    current = [Paragraph("")]
    link_depth = [0]
    br_run = [0]

    def start_paragraph() -> None:
        if current[0].text_nodes and current[0].text:
            paragraphs.append(current[0])
        current[0] = Paragraph(".".join(path))

    def add_text(text: Optional[str]) -> None:
        if not text:
            return
        if text.strip():
            br_run[0] = 0
        current[0].text_nodes.append(text)
        if link_depth[0] > 0:
            current[0].chars_count_in_links += len(text)

    def walk(el: Element) -> None:
        tag = el.tag
        if tag in PREPROC_REMOVE:
            return
        is_block = tag in PARAGRAPH_TAGS
        if tag == "br":
            br_run[0] += 1
            if br_run[0] >= 2:
                start_paragraph()
        elif is_block:
            path.append(tag)
            start_paragraph()
        if tag == "a":
            link_depth[0] += 1
            current[0].tags_count += 1
        add_text(el.text)
        for child in el:
            walk(child)
            add_text(child.tail)
        if tag == "a":
            link_depth[0] -= 1
        if is_block:
            start_paragraph()
            path.pop()

    try:
        walk(tree)
    finally:
        walk = None  # the closure refers to itself through its cell: break that cycle
    if current[0].text_nodes and current[0].text:
        paragraphs.append(current[0])
    return paragraphs


def classify_paragraphs(
    paragraphs: list,
    stoplist,
    length_low: int = 50,
    length_high: int = 150,
    stopwords_low: float = 0.1,
    stopwords_high: float = 0.2,
    max_link_density: float = 0.25,
    no_headings: bool = True,
    nospace_re=None,
) -> None:
    "Context-free classification."
    for paragraph in paragraphs:
        text = paragraph.text
        length = len(text)
        stopword_density = paragraph.stopwords_density(stoplist, nospace_re)
        link_density = paragraph.links_density()

        if link_density > max_link_density:
            paragraph.cf_class = "bad"
        elif "\xa9" in text or "&copy" in text:
            paragraph.cf_class = "bad"
        elif SELECT_PATH_RE.search(paragraph.dom_path):
            paragraph.cf_class = "bad"
        elif length < length_low:
            paragraph.cf_class = "bad" if paragraph.chars_count_in_links > 0 else "short"
        elif stopword_density >= stopwords_high:
            paragraph.cf_class = "good" if length > length_high else "neargood"
        elif stopword_density >= stopwords_low:
            paragraph.cf_class = "neargood"
        else:
            paragraph.cf_class = "bad"


def _get_neighbour(i: int, paragraphs: list, ignore_neargood: bool, inc: int, boundary: int) -> str:
    while i + inc != boundary:
        i += inc
        c = paragraphs[i].class_
        if c in ("good", "bad"):
            return c
        if c == "neargood" and not ignore_neargood:
            return c
    return "bad"


def _prev_neighbour(i: int, paragraphs: list, ignore_neargood: bool) -> str:
    return _get_neighbour(i, paragraphs, ignore_neargood, -1, -1)


def _next_neighbour(i: int, paragraphs: list, ignore_neargood: bool) -> str:
    return _get_neighbour(i, paragraphs, ignore_neargood, 1, len(paragraphs))


def revise_paragraph_classification(paragraphs: list, max_heading_distance: int = 150) -> None:
    "Context-sensitive revision."
    for paragraph in paragraphs:
        paragraph.class_ = paragraph.cf_class

    # good headings
    for i, paragraph in enumerate(paragraphs):
        if not (paragraph.heading and paragraph.class_ == "short"):
            continue
        j = i + 1
        distance = 0
        while j < len(paragraphs) and distance <= max_heading_distance:
            if paragraphs[j].class_ == "good":
                paragraph.class_ = "neargood"
                break
            distance += len(paragraphs[j].text)
            j += 1

    # classify short
    new_classes = {}
    for i, paragraph in enumerate(paragraphs):
        if paragraph.class_ != "short":
            continue
        prev = _prev_neighbour(i, paragraphs, ignore_neargood=True)
        nxt = _next_neighbour(i, paragraphs, ignore_neargood=True)
        neighbours = {prev, nxt}
        if neighbours == {"good"}:
            new_classes[i] = "good"
        elif neighbours == {"bad"}:
            new_classes[i] = "bad"
        elif (prev == "bad" and _prev_neighbour(i, paragraphs, ignore_neargood=False) == "neargood") or (
            nxt == "bad" and _next_neighbour(i, paragraphs, ignore_neargood=False) == "neargood"
        ):
            new_classes[i] = "good"
        else:
            new_classes[i] = "bad"
    for i, c in new_classes.items():
        paragraphs[i].class_ = c

    # revise neargood
    for i, paragraph in enumerate(paragraphs):
        if paragraph.class_ != "neargood":
            continue
        prev = _prev_neighbour(i, paragraphs, ignore_neargood=True)
        nxt = _next_neighbour(i, paragraphs, ignore_neargood=True)
        paragraph.class_ = "bad" if (prev, nxt) == ("bad", "bad") else "good"

    # more good headings
    for i, paragraph in enumerate(paragraphs):
        if not (paragraph.heading and paragraph.class_ == "bad" and paragraph.cf_class != "bad"):
            continue
        j = i + 1
        distance = 0
        while j < len(paragraphs) and distance < max_heading_distance:
            if paragraphs[j].class_ == "good":
                paragraph.class_ = "good"
                break
            distance += len(paragraphs[j].text)
            j += 1


def custom_justext(tree: Element, stoplist=MERGED_STOPLIST, nospace_re=...) -> list:
    """jusText with the reference's fixed parameters (external.py:134-139).
    By default no-space-script paragraphs are scored against the merged
    zh/ja/th/ko coverage list (the merged-stoplist analog)."""
    if nospace_re is ...:
        nospace_re = nospace_coverage_re("")
    paragraphs = make_paragraphs(tree)
    classify_paragraphs(paragraphs, stoplist, 50, 150, 0.1, 0.2, 0.25, True, nospace_re)
    revise_paragraph_classification(paragraphs, 150)
    return paragraphs


def try_justext(tree: Element, url: Optional[str], target_language: Optional[str]) -> Element:
    """Second safety net (external.py:142-163).  With a known
    target_language the language-specific stoplist is used
    (external.py:146-150); otherwise the merged all-language set."""
    result_body = Element("body")
    lang = target_language or ""
    if lang in NOSPACE_STOPLISTS:
        stoplist: frozenset = frozenset()
        nospace_re = nospace_coverage_re(lang)
    elif lang in LANG_STOPLISTS:
        stoplist = LANG_STOPLISTS[lang]
        nospace_re = None
    else:
        stoplist = MERGED_STOPLIST
        nospace_re = nospace_coverage_re("")
    try:
        paragraphs = custom_justext(tree, stoplist, nospace_re)
    except Exception:
        return result_body
    for paragraph in paragraphs:
        if paragraph.class_ != "good":
            continue
        elem = Element("p")
        elem.text = paragraph.text
        result_body.append(elem)
    return result_body
