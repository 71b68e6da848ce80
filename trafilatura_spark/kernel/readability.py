"""Readability-style fallback scorer (arc90 family).

Reimplements the scoring/candidate/sanitize loop the reference vendors in
/root/reference/trafilatura/readability_lxml.py:99-404 over the
lightweight DOM: score p/pre/td by comma count + text length, propagate
to parent/grandparent with class/id +-25 weights and tag priors, scale by
link density, pick the best candidate, gather qualifying siblings, then
sanitize with the counts heuristics.  Runs ruthless first and retries
leniently when the result is shorter than ``retry_length``.
"""

from __future__ import annotations

import re
from functools import lru_cache
from typing import Optional

from .cleaning import link_records
from .dom import Element, delete_element
from .textutils import trim

DOT_SPACE = re.compile(r"\.( |$)")

DIV_SCORES = {"div", "article"}
BLOCK_SCORES = {"pre", "td", "blockquote"}
BAD_ELEM_SCORES = {"address", "ol", "ul", "dl", "dd", "dt", "li", "form", "aside"}
STRUCTURE_SCORES = {"h1", "h2", "h3", "h4", "h5", "h6", "th", "header", "footer", "nav"}
TEXT_CLEAN_ELEMS = ("p", "img", "li", "a", "embed", "input")
DIV_TO_P_ELEMS = {"a", "blockquote", "dl", "div", "img", "ol", "p", "pre", "table", "ul"}
FRAME_TAGS = {"body", "html"}
LIST_TAGS = {"ol", "ul"}

UNLIKELY_RE = re.compile(
    r"combx|comment|community|disqus|extra|foot|header|menu|remark|rss|shoutbox|sidebar"
    r"|sponsor|ad-break|agegate|pagination|pager|popup|tweet|twitter",
    re.I,
)
MAYBE_RE = re.compile(r"and|article|body|column|main|shadow", re.I)
POSITIVE_RE = re.compile(
    r"article|body|content|entry|hentry|main|page|pagination|post|text|blog|story", re.I
)
NEGATIVE_RE = re.compile(
    r"button|combx|comment|com-|contact|figure|foot|footer|footnote|form|input|masthead"
    r"|media|meta|outbrain|promo|related|scroll|shoutbox|sidebar|sponsor|shopping|tags|tool|widget",
    re.I,
)
VIDEO_RE = re.compile(r"https?:\/\/(?:www\.)?(?:youtube|vimeo)\.com", re.I)


def _text_length(elem: Element) -> int:
    return len(trim(elem.text_content()))


def _clean_stats(elem: Element) -> tuple:
    """One subtree walk for the _sanitize counting heuristics:
    (inner text, {kind: count for TEXT_CLEAN_ELEMS}, hidden-input count,
    descendant <a> list) — replaces len(TEXT_CLEAN_ELEMS)+3 separate
    subtree scans per candidate."""
    parts: list = []
    links: list = []
    counts = dict.fromkeys(TEXT_CLEAN_ELEMS, 0)
    hidden_inputs = 0
    emit = parts.append
    stack: list = []
    children = elem._children
    for i in range(len(children) - 1, -1, -1):
        c = children[i]
        if c.tail:
            stack.append(c.tail)
        stack.append(c)
    if elem.text:
        stack.append(elem.text)
    pop = stack.pop
    while stack:
        item = pop()
        if item.__class__ is str:
            emit(item)
            continue
        tag = item.tag
        if tag in counts:
            counts[tag] += 1
            if tag == "a":
                links.append(item)
            elif tag == "input" and item.get("type") == "hidden":
                hidden_inputs += 1
        children = item._children
        for i in range(len(children) - 1, -1, -1):
            c = children[i]
            if c.tail:
                stack.append(c.tail)
            stack.append(c)
        if item.text:
            stack.append(item.text)
    return "".join(parts), counts, hidden_inputs, links


@lru_cache(maxsize=16384)
def _unlikely_attrs(attrs: str) -> bool:
    "Memoized UNLIKELY/MAYBE verdict — class/id strings repeat across a page."
    return UNLIKELY_RE.search(attrs) is not None and MAYBE_RE.search(attrs) is None


@lru_cache(maxsize=16384)
def _attr_weight(attribute: str) -> int:
    "Memoized per-attribute-string class weight contribution."
    weight = 0
    if NEGATIVE_RE.search(attribute):
        weight -= 25
    if POSITIVE_RE.search(attribute):
        weight += 25
    return weight


class _Candidate:
    __slots__ = ("score", "elem")

    def __init__(self, score: float, elem: Element):
        self.score = score
        self.elem = elem


class ReadabilityExtractor:
    "One-shot extractor over a (mutable) tree; returns a <div> body Element."

    def __init__(self, doc: Element, min_text_length: int = 25, retry_length: int = 250):
        self.doc = doc
        self.min_text_length = min_text_length
        self.retry_length = retry_length

    def summary(self) -> Element:
        for elem in list(self.doc.iter("script", "style", "fencedframe")):
            delete_element(elem)

        ruthless = True
        while True:
            if ruthless:
                self._remove_unlikely_candidates()
            self._transform_misused_divs()
            candidates = self._score_paragraphs()

            best = self._select_best_candidate(candidates)
            if best:
                article = self._get_article(candidates, best)
            else:
                if ruthless:
                    ruthless = False
                    continue
                body = self.doc.find(".//body")
                article = body if body is not None else self.doc

            cleaned = self._sanitize(article, candidates)
            article_length = _text_length(cleaned)
            if ruthless and article_length < self.retry_length:
                ruthless = False
                continue
            return cleaned

    def _get_article(self, candidates: dict, best: _Candidate) -> Element:
        sibling_score_threshold = max(10, best.score * 0.2)
        output = Element("div")
        parent = best.elem.getparent()
        siblings = list(parent) if parent is not None else [best.elem]
        for sibling in siblings:
            append = False
            if sibling is best.elem or (
                sibling in candidates and candidates[sibling].score >= sibling_score_threshold
            ):
                append = True
            elif sibling.tag == "p":
                link_density = self._link_density(sibling)
                node_content = sibling.text or ""
                node_length = len(node_content)
                if (
                    node_length > 80
                    and link_density < 0.25
                    or (node_length <= 80 and link_density == 0 and DOT_SPACE.search(node_content))
                ):
                    append = True
            if append:
                output.append(sibling)
        return output

    def _select_best_candidate(self, candidates: dict) -> Optional[_Candidate]:
        if not candidates:
            return None
        return max(candidates.values(), key=lambda c: c.score)

    def _link_density(self, elem: Element) -> float:
        rec = self._links(elem)
        return 0.0 if rec is None else rec.linklen / (rec.length or 1)

    def _score_paragraphs(self) -> dict:
        # one record table per pass, read up to the end of _sanitize's header
        # loop: until then subtrees only move whole and headers go ancestors
        # first.  self.doc is a whole tree (a copy, then the output div), so
        # a candidate grandparent never lies above it
        self._links = link_records(self.doc, "a")
        candidates: dict = {}
        for elem in list(self.doc.iter("p", "pre", "td")):
            parent_node = elem.getparent()
            if parent_node is None:
                continue
            grand_parent_node = parent_node.getparent()

            elem_text = trim(elem.text_content())
            elem_text_len = len(elem_text)
            if elem_text_len < self.min_text_length:
                continue

            for node in (parent_node, grand_parent_node):
                if node is not None and node not in candidates:
                    candidates[node] = self._score_node(node)

            score = 1 + len(elem_text.split(",")) + min(elem_text_len / 100, 3)
            candidates[parent_node].score += score
            if grand_parent_node is not None:
                candidates[grand_parent_node].score += score / 2

        for elem, candidate in candidates.items():
            candidate.score *= 1 - self._link_density(elem)
        return candidates

    def _class_weight(self, elem: Element) -> float:
        weight = 0
        for attribute in filter(None, (elem.get("class"), elem.get("id"))):
            weight += _attr_weight(attribute)
        return weight

    def _score_node(self, elem: Element) -> _Candidate:
        score = self._class_weight(elem)
        name = elem.tag.lower()
        if name in DIV_SCORES:
            score += 5
        elif name in BLOCK_SCORES:
            score += 3
        elif name in BAD_ELEM_SCORES:
            score -= 3
        elif name in STRUCTURE_SCORES:
            score -= 5
        return _Candidate(score, elem)

    def _remove_unlikely_candidates(self) -> None:
        for elem in list(self.doc.iterdescendants()):
            if elem.getparent() is None:
                continue
            a = elem.attrib
            if not a:
                continue
            cls = a.get("class")
            eid = a.get("id")
            if cls:
                attrs = cls + " " + eid if eid else cls
            elif eid:
                attrs = eid
            else:
                continue
            if len(attrs) < 2:
                continue
            if elem.tag not in FRAME_TAGS and _unlikely_attrs(attrs):
                delete_element(elem)

    def _transform_misused_divs(self) -> None:
        # single bottom-up pass instead of a per-div subtree rescan (which
        # is quadratic on nested divs).  Every div is visited in document
        # order before any div INSIDE it could be renamed, so evaluating
        # all the "contains a DIV_TO_P_ELEMS descendant" checks against the
        # original tags is exactly the per-div loop's semantics.
        doc = self.doc
        divs: list = []
        has_block: dict = {}  # id(elem) -> subtree contains a DIV_TO_P_ELEMS tag
        order: list = []
        stack = list(doc._children)
        while stack:
            node = stack.pop()
            order.append(node)
            stack.extend(node._children)
        for node in reversed(order):  # children always before parents
            flag = False
            for c in node._children:
                if c.tag in DIV_TO_P_ELEMS or has_block[id(c)]:
                    flag = True
                    break
            has_block[id(node)] = flag
            if node.tag == "div":
                divs.append(node)
        for elem in divs:
            if not has_block[id(elem)]:
                elem.tag = "p"

        for elem in list(self.doc.iterdescendants("div")):
            if elem.text and elem.text.strip():
                p_elem = Element("p")
                p_elem.text, elem.text = elem.text, None
                elem.insert(0, p_elem)

            for pos in range(len(elem) - 1, -1, -1):
                child = elem[pos]
                if child.tail and child.tail.strip():
                    p_elem = Element("p")
                    p_elem.text, child.tail = child.tail, None
                    elem.insert(pos + 1, p_elem)
                if child.tag == "br":
                    delete_element(child)

    def _sanitize(self, node: Element, candidates: dict) -> Element:
        for header in list(node.iter("h1", "h2", "h3", "h4", "h5", "h6")):
            if self._class_weight(header) < 0 or self._link_density(header) > 0.33:
                delete_element(header)

        for elem in list(node.iter("form", "textarea")):
            delete_element(elem)

        for elem in list(node.iter("iframe")):
            if "src" in elem.attrib and VIDEO_RE.search(elem.attrib["src"]):
                elem.text = "VIDEO"
            else:
                delete_element(elem)

        allowed: set = set()
        targets = [
            el for el in node.iter() if el.tag in ("table", "ul", "div", "aside", "header", "footer", "section")
        ]
        for elem in reversed(targets):
            if elem in allowed or elem.getparent() is None and elem is not node:
                continue
            weight = self._class_weight(elem)
            score = candidates[elem].score if elem in candidates else 0
            if weight + score < 0:
                delete_element(elem)
                continue
            text, counts, hidden_inputs, links = _clean_stats(elem)
            if text.count(",") < 10:
                to_remove = True
                reason = ""
                counts["li"] -= 100
                counts["input"] -= hidden_inputs

                content_length = len(trim(text))
                total = content_length or 1
                link_density = sum(_text_length(link) for link in links) / total
                parent_node = elem.getparent()
                if parent_node is not None:
                    score = candidates[parent_node].score if parent_node in candidates else 0
                if counts["p"] and counts["img"] > 1 + counts["p"] * 1.3:
                    reason = "too many images"
                elif counts["li"] > counts["p"] and elem.tag not in LIST_TAGS:
                    reason = "more li than p"
                elif counts["input"] > (counts["p"] / 3):
                    reason = "too many inputs"
                elif content_length < self.min_text_length and counts["img"] == 0:
                    reason = "too short, no image"
                elif content_length < self.min_text_length and counts["img"] > 2:
                    reason = "too short, many images"
                elif weight < 25 and link_density > 0.2:
                    reason = "link-dense for weight"
                elif weight >= 25 and link_density > 0.5:
                    reason = "link-dense for high weight"
                elif (counts["embed"] == 1 and content_length < 75) or counts["embed"] > 1:
                    reason = "embeds"
                elif not content_length:
                    reason = "no content"
                    siblings = []
                    for sib in elem.itersiblings():
                        sib_len = _text_length(sib)
                        if sib_len:
                            siblings.append(sib_len)
                            break
                    limit = len(siblings) + 1
                    for sib in elem.itersiblings(preceding=True):
                        sib_len = _text_length(sib)
                        if sib_len:
                            siblings.append(sib_len)
                            if len(siblings) >= limit:
                                break
                    if siblings and sum(siblings) > 1000:
                        to_remove = False
                        allowed.update(elem.iter("table", "ul", "div", "section"))
                else:
                    to_remove = False

                if to_remove:
                    delete_element(elem)

        self.doc = node
        return node


def try_readability(htmlinput: Element) -> Element:
    "Safety-net wrapper (reference external.py:35-45)."
    try:
        return ReadabilityExtractor(htmlinput, min_text_length=25, retry_length=250).summary()
    except Exception:
        return Element("div")


# --- reader-ability pre-check (readability_lxml.py:410-471) -------------------

_READERABLE_UNLIKELY_RE = re.compile(
    r"-ad-|ai2html|banner|breadcrumbs|combx|comment|community|cover-wrap|disqus|extra|"
    r"footer|gdpr|header|legends|menu|related|remark|replies|rss|shoutbox|sidebar|"
    r"skyscraper|social|sponsor|supplemental|ad-break|agegate|pagination|pager|popup|yom-remote",
    re.I,
)
_READERABLE_MAYBE_RE = re.compile(r"and|article|body|column|content|main|shadow", re.I)
_DISPLAY_NONE_RE = re.compile(r"display:\s*none", re.I)


def is_node_visible(node: Element) -> bool:
    "Style/attribute visibility check (readability_lxml.py:421-433)."
    if _DISPLAY_NONE_RE.search(node.get("style") or ""):
        return False
    if "hidden" in node.attrib:
        return False
    if node.get("aria-hidden") == "true" and "fallback-image" not in (node.get("class") or ""):
        return False
    return True


def is_probably_readerable(html, options: Optional[dict] = None) -> bool:
    """Cheap reader-ability decision without running the extractor
    (readability_lxml.py:436-471 / mozilla readability): sqrt-scored
    text mass over visible p/pre/article and div>br nodes."""
    from math import sqrt

    from .loader import load_html

    options = options or {}
    doc = load_html(html)
    if doc is None:
        return False

    min_content_length = options.get("min_content_length", 140)
    min_score = options.get("min_score", 20)
    visibility_checker = options.get("visibility_checker", is_node_visible)

    nodes = list(dict.fromkeys(
        list(doc.iterdescendants("p", "pre", "article"))
        + [br.getparent() for br in doc.iterdescendants("br") if br.getparent() is not None and br.getparent().tag == "div"]
    ))

    score = 0.0
    for node in nodes:
        if not visibility_checker(node):
            continue
        class_and_id = f"{node.get('class') or ''} {node.get('id') or ''}"
        if _READERABLE_UNLIKELY_RE.search(class_and_id) and not _READERABLE_MAYBE_RE.search(class_and_id):
            continue
        parent = node.getparent()
        if node.tag == "p" and parent is not None and parent.tag == "li":
            continue
        text_content_length = len(node.text_content().strip())
        if text_content_length < min_content_length:
            continue
        score += sqrt(text_content_length - min_content_length)
        if score > min_score:
            return True
    return False
