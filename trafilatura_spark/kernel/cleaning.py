"""Tree cleaning, tag conversion and link-density boilerplate heuristics.

Semantics mirror /root/reference/trafilatura/htmlprocessing.py:47-447
(tree_cleaning, prune_html, prune_unwanted_nodes, link-density tests,
convert_tags, handle_textnode, process_node).
"""

from __future__ import annotations

import re as _re
from collections import namedtuple
from typing import Callable, Iterable, Optional
from urllib.parse import urlsplit

from .dedup_state import duplicate_test
from .dom import Element, delete_element, iter_outside, splice_matches as _splice_all, strip_tags
from .selectors import basic_clean_matches
from .settings import (
    CUT_EMPTY_ELEMS,
    MANUALLY_CLEANED,
    MANUALLY_STRIPPED,
    Options,
)
from .textutils import LINK_FARM_RATIO, is_image_element, textfilter, trim

REND_TAG_MAPPING = {
    "em": "#i", "i": "#i", "b": "#b", "strong": "#b", "u": "#u",
    "kbd": "#t", "samp": "#t", "tt": "#t", "var": "#t",
    "sub": "#sub", "sup": "#sup",
}

PRESERVE_IMG_CLEANING = {"figure", "picture", "source"}

CODE_INDICATORS = ["{", '("', "('", "\n    "]

LIST_TAGS = frozenset({"dl", "ol", "ul"})


def tree_cleaning(tree: Element, options: Options) -> Element:
    "Prune unwanted elements (htmlprocessing.py:47-82)."
    cleaning_list, stripping_list = MANUALLY_CLEANED.copy(), MANUALLY_STRIPPED.copy()
    if not options.tables:
        cleaning_list.extend(["table", "td", "th", "tr"])
    else:
        for elem in list(tree.iterdescendants("figure")):
            if next(elem.iterdescendants("table"), None) is not None:
                elem.tag = "div"
        for elem in tree.iterdescendants("table"):
            if elem.get("role") in ("presentation", "none"):
                elem.tag = "div"
    if options.images:
        cleaning_list = [e for e in cleaning_list if e not in PRESERVE_IMG_CLEANING]
        stripping_list.remove("img")

    # one walk collects BOTH the strip (splice) and delete matches:
    # membership is tag-based, so splicing the strip set cannot add or
    # remove delete candidates — except the one tag on both lists (ins),
    # whose splice leaves its delete a parentless no-op exactly like the
    # reference's strip-then-rescan order.  Splices still run before the
    # recall probe and the deletions, preserving the sequence.
    strip_set = frozenset(stripping_list)
    delete_set = frozenset(cleaning_list)
    strip_matches: list = []
    by_tag: dict = {t: [] for t in cleaning_list}
    for element in tree.iterdescendants():
        t = element.tag
        if t in strip_set:
            strip_matches.append(element)
        if t in delete_set:
            by_tag[t].append(element)
    _splice_all(tree, strip_matches)

    # recall mode undoes the deletions when they would leave a tree that
    # has a <p> without one (the reference deletes on a copy and restores
    # it); here that is decided before deleting, so nothing is copied
    undone = False
    if options.focus == "recall" and tree.find(".//p") is not None:
        doomed = {element for elements in by_tag.values() for element in elements}
        undone = not any(el.tag == "p" and el not in doomed for el in iter_outside(tree, doomed))
    if not undone:
        # tag-by-tag in list order for determinism (reference iterates
        # per tag, htmlprocessing.py:77-80); deleting an element already
        # inside a detached subtree is a no-op on the output
        for tag in cleaning_list:
            for element in by_tag[tag]:
                delete_element(element)

    return prune_html(tree, options.focus)


def prune_html(tree: Element, focus: str = "balanced") -> Element:
    "Delete empty elements in CUT_EMPTY_ELEMS (htmlprocessing.py:85-92)."
    keep_tails = focus != "precision"
    for element in list(tree.iterdescendants()):
        if (
            element.tag in CUT_EMPTY_ELEMS
            and len(element) == 0
            and not element.text
        ):
            delete_element(element, keep_tail=keep_tails)
    return tree


def prune_unwanted_nodes(tree: Element, match_passes: Iterable) -> Element:
    """Delete the elements of each pass, a list of matches collected before
    any deletion (htmlprocessing.py:95-112; its undo when >6/7 of the text
    would go is decided beforehand by handlers._prune_overall_discards)."""
    for matches in match_passes:
        for subtree in matches:
            delete_element(subtree)
    return tree


# An element's subtree: length = len(trim(text_content())), lead / trail = it
# starts / ends with whitespace (a parent sums lengths by trim's rule from
# these); over descendant links, their count and the sum, count and count under
# 10 of non-empty trimmed link texts (htmlprocessing.py:115-123); any <graphic>
LinkRecord = namedtuple("LinkRecord", "length lead trail links linklen nonempty short graphic")


def _ws_length(s: Optional[str]) -> tuple[int, bool, bool]:
    "(len(trim(s)), s starts with whitespace, s ends with whitespace)."
    if not s:
        return 0, False, False
    return len(" ".join(s.split())), s[0].isspace(), s[-1].isspace()


def _ws_join(n: int, lead: bool, trail: bool, m: int, mlead: bool, mtrail: bool) -> tuple[int, bool, bool]:
    """``_ws_length(a + b)``: trim puts one space between two words only where
    whitespace separates them.  Without words (n == 0), lead == trail == bool(a)."""
    if not m:
        return n, lead or (not n and mlead), trail or mtrail
    if not n:
        return m, lead or mlead, mtrail
    return n + m + (trail or mlead), lead, mtrail


def link_records(root: Element, link_tag: str) -> Callable[[Element], Optional[LinkRecord]]:
    """Lookup of the ``LinkRecord`` of elements under ``root`` (links are
    ``ref`` for cleaning, ``a`` for readability); None for an element with
    no link or <graphic> below it.  Records are built on demand, memoized,
    children first, and each unmarked child subtree is walked once, by its
    parent: linear in elements and characters.  Valid until a subtree it
    describes is mutated."""
    marked: Optional[set] = None  # elements with a link or <graphic> below
    records: dict = {}

    def mark() -> set:
        # one upward pass per link or graphic, stopping at a marked element
        found, stop = set(), root.getparent()
        for node in root.iter(link_tag, "graphic"):
            node = node.getparent()
            while node is not stop and node not in found:
                found.add(node)
                node = node.getparent()
        return found

    def build(node: Element) -> LinkRecord:
        n, lead, trail = _ws_length(node.text)
        links = linklen = nonempty = short = 0
        graphic = False
        for child in node._children:
            sub = records.get(child)
            if sub is None:
                m, mlead, mtrail = _ws_length(child.text_content())
            else:
                m, mlead, mtrail = sub.length, sub.lead, sub.trail
                links += sub.links
                linklen += sub.linklen
                nonempty += sub.nonempty
                short += sub.short
                graphic = graphic or sub.graphic
            if child.tag == link_tag:
                links += 1
                if m:
                    linklen += m
                    nonempty += 1
                    short += m < 10
            elif child.tag == "graphic":
                graphic = True
            n, lead, trail = _ws_join(n, lead, trail, m, mlead, mtrail)
            if child.tail:
                n, lead, trail = _ws_join(n, lead, trail, *_ws_length(child.tail))
        return LinkRecord(n, lead, trail, links, linklen, nonempty, short, graphic)

    def lookup(elem: Element) -> Optional[LinkRecord]:
        nonlocal marked
        if marked is None:  # at the first lookup: a pass without candidates walks nothing
            marked = mark()
        if elem not in marked:
            return None
        if elem not in records:
            # iterative: nesting depth exceeds the recursion limit
            order, stack = [], [elem]
            while stack:
                node = stack.pop()
                order.append(node)
                stack.extend(c for c in node._children if c in marked and c not in records)
            for node in reversed(order):
                records[node] = build(node)
        return records[elem]

    return lookup


def link_density_test(
    element: Element, elemlen: int, record: LinkRecord, favor_precision: bool = False
) -> tuple[bool, bool]:
    """Boilerplate predicate for link-rich sections (htmlprocessing.py:126-172)
    over the trimmed text length and the ``LinkRecord`` (at least one link);
    the second value says whether the reference's list of non-empty link
    texts is non-empty, the only use callers have for it."""
    # one link: its trimmed length is the link-text sum
    if record.links == 1 and record.linklen > max(10 if favor_precision else 100, elemlen * 0.9):
        return True, False
    parent = element.getparent()
    last = parent is None or parent._children[-1] is element
    limitlen = (60 if last else 30) if element.tag == "p" else (300 if last else 100)
    if elemlen < limitlen:
        if not record.nonempty:
            return True, False
        return record.linklen > elemlen * 0.8 or (
            record.nonempty > 1 and record.short / record.nonempty > 0.8
        ), True
    if record.links > 4 and elemlen * LINK_FARM_RATIO < record.linklen < 100 * record.nonempty:
        return True, True
    return False, False


def link_dense_tables(tree: Element) -> list[Element]:
    "Tables that are link-rich boilerplate (htmlprocessing.py:175-189), from one record table."
    record = link_records(tree, "ref")
    tables = []
    for table in tree.iter("table"):
        rec = record(table)
        if rec is None or not rec.links or rec.length < 200:
            continue
        if rec.linklen > (0.8 if rec.length < 1000 else 0.5) * rec.length:
            tables.append(table)
    return tables


def delete_by_link_density(
    subtree: Element, tagname: str, backtracking: bool = False, favor_precision: bool = False
) -> Element:
    "Delete elements identified as link-dense boilerplate (htmlprocessing.py:192-221)."
    deletions = []
    len_threshold = 200 if favor_precision else 100
    depth_threshold = 1 if favor_precision else 3
    record = link_records(subtree, "ref")  # valid: deletions wait until the end
    for elem in subtree.iter(tagname):
        rec = record(elem)
        if rec is None or not rec.links or rec.graphic:
            continue
        result, has_link_text = link_density_test(elem, rec.length, rec, favor_precision)
        if result or (
            backtracking and has_link_text and 0 < rec.length < len_threshold and len(elem) >= depth_threshold
        ):
            parent = elem.getparent()
            # paragraph holding a list item's content: keep (GH #788 in reference)
            if tagname == "p" and parent is not None and parent.tag in ("item", "td", "th"):
                continue
            deletions.append(elem)

    for elem in dict.fromkeys(deletions):
        delete_element(elem)

    return subtree


def handle_textnode(
    elem: Element, options: Options, comments_fix: bool = True, preserve_spaces: bool = False
) -> Optional[Element]:
    "Convert, format, and probe potential text elements (htmlprocessing.py:224-263)."
    if elem.tag == "graphic" and is_image_element(elem):
        return elem
    if elem.tag == "done" or (len(elem) == 0 and not elem.text and not elem.tail):
        return None

    if not comments_fix and elem.tag == "lb":
        if not preserve_spaces:
            elem.tail = trim(elem.tail) or None
        return elem

    if not elem.text and len(elem) == 0:
        elem.text, elem.tail = elem.tail, ""
        if comments_fix and elem.tag == "lb":
            elem.tag = "p"

    if not preserve_spaces:
        elem.text = trim(elem.text) or None
        if elem.tail:
            elem.tail = trim(elem.tail) or None

    if (not elem.text and textfilter(elem)) or (options.dedup and duplicate_test(elem, options)):
        return None
    return elem


def process_node(elem: Element, options: Options) -> Optional[Element]:
    "Light-format text probe (htmlprocessing.py:266-283)."
    if elem.tag == "done" or (len(elem) == 0 and not elem.text and not elem.tail):
        return None

    elem.text, elem.tail = trim(elem.text) or None, trim(elem.tail) or None

    if elem.tag != "lb" and not elem.text and elem.tail:
        elem.text, elem.tail = elem.tail, None

    if (elem.text or elem.tail) and (
        textfilter(elem) or (options.dedup and duplicate_test(elem, options))
    ):
        return None

    return elem


# --- tag conversion (htmlprocessing.py:286-447) ------------------------------

def _convert_lists(elem: Element, covered: set) -> None:
    "Retag a list and its li/dd/dt; the lists below go to ``covered`` and skip the walk."
    elem.set("rend", elem.tag)
    elem.tag = "list"
    if elem in covered:
        return
    i = 1
    for subelem in elem.iterdescendants():
        tag = subelem.tag
        if tag in LIST_TAGS:
            covered.add(subelem)
        elif tag in ("dd", "dt", "li"):
            if tag != "li":
                subelem.set("rend", f"{tag}-{i}")
                if tag == "dd":
                    i += 1
            subelem.tag = "item"


def _is_code_text(text: Optional[str]) -> bool:
    if not text:
        return False
    return any(ind in text for ind in CODE_INDICATORS)


def _convert_quotes(elem: Element) -> None:
    code_flag = False
    if elem.tag == "pre":
        if len(elem) == 1 and elem[0].tag == "span":
            code_flag = True
        code_elems = [
            e for e in elem.iterdescendants("span") if (e.get("class") or "").startswith("hljs")
        ]
        if code_elems:
            code_flag = True
            for subelem in code_elems:
                subelem.attrib.clear()
        if _is_code_text(elem.text):
            code_flag = True
    elem.tag = "code" if code_flag else "quote"


def _convert_headings(elem: Element) -> None:
    rend = elem.tag
    elem.attrib.clear()
    elem.set("rend", rend)
    elem.tag = "head"


def _convert_deletions(elem: Element) -> None:
    elem.tag = "del"
    elem.set("rend", "overstrike")


def _convert_details(elem: Element) -> None:
    elem.tag = "div"
    for subelem in elem.iterdescendants("summary"):
        subelem.tag = "head"


def _convert_lb(elem: Element) -> None:
    elem.tag = "lb"


CONVERSIONS = {
    "h1": _convert_headings, "h2": _convert_headings, "h3": _convert_headings,
    "h4": _convert_headings, "h5": _convert_headings, "h6": _convert_headings,
    "br": _convert_lb, "hr": _convert_lb,
    "blockquote": _convert_quotes, "pre": _convert_quotes, "q": _convert_quotes,
    "del": _convert_deletions, "s": _convert_deletions, "strike": _convert_deletions,
    "details": _convert_details,
}


def get_base_url(url: str) -> str:
    "scheme://host of a page URL (courlan.urlutils.get_base_url semantics)."
    parts = urlsplit(url)
    return f"{parts.scheme}://{parts.netloc}"


def fix_relative_urls(base_url: str, url: str) -> str:
    """Absolutize a link target against the HOST-ROOT base — the
    reference resolves <a href> via courlan.fix_relative_urls over
    get_base_url(page_url) (htmlprocessing.py:376-385), which is
    deliberately coarser than urljoin (no page-path resolution)."""
    if url.startswith("//"):
        return ("https:" if base_url.startswith("https") else "http:") + url
    if url.startswith("/"):
        return base_url + url
    if url.startswith("."):
        return base_url + "/" + _re.sub(r"^[./]+", "", url)
    if not url.startswith(("http://", "https://", "{")):
        return f"{base_url}/{url}"
    return url


def convert_tags(tree: Element, options: Options, url: Optional[str] = None) -> Element:
    """Rewrite HTML into the internal vocabulary (htmlprocessing.py:388-447).

    Round-7 shape: one traversal after the link pass collects/handles
    the FAQ-strong, empty-sup/sub, rend and conversion passes.  Pass
    ORDER is preserved exactly: per-element decisions (FAQ conversion,
    empty-sub/sup deletion, rend-vs-formatting) are order-independent
    across elements, rend SPLICES still run before the tag CONVERSIONS
    (a <pre> whose single child is spliced away must see its post-splice
    children, the original strip-then-convert sequence), and both the
    splice set and the conversion set are exactly what the original
    per-pass scans collected (earlier passes never retag another pass's
    candidates)."""
    if not options.links:
        # links under div/li/p (and tables if on) become bare <ref>, rest
        # spliced out — the keep/strip decision is one walk; the splice
        # set equals strip_tags(tree, "a") run after the keepers were
        # retagged to ref
        strip_a: list = []
        for elem in list(tree.iterdescendants("a")):
            keep = False
            for anc in elem.iterancestors():
                if anc.tag in ("div", "li", "p") or (options.tables and anc.tag == "table"):
                    keep = True
                    break
            if keep:
                elem.tag = "ref"
            else:
                strip_a.append(elem)
        _splice_all(tree, strip_a)
    else:
        # relative targets absolutized against the page host (convert_link,
        # htmlprocessing.py:376-385); ref elements included so the fallback
        # sanitize path absolutizes too (external.py:183)
        base_url = get_base_url(url) if url else None
        for elem in list(tree.iterdescendants("a")) + list(tree.iterdescendants("ref")):
            target = elem.get("href") or elem.get("target")
            elem.tag = "ref"
            elem.attrib.clear()
            if target:
                if base_url:
                    target = fix_relative_urls(base_url, target)
                elem.set("target", target)

    formatting = options.formatting
    rend_matches: list = []
    conv_matches: list = []
    for elem in list(tree.iterdescendants()):
        tag = elem.tag
        if tag == "strong" and "schema-faq-question" in (elem.get("class") or ""):
            # Yoast FAQ question headers (htmlprocessing.py:407-410)
            elem.attrib.clear()
            elem.set("rend", "h3")
            elem.tag = "head"
            continue
        if tag in ("sub", "sup") and not elem.text and len(elem) == 0:
            # empty sup/sub dropped, tail kept (htmlprocessing.py:412-417)
            delete_element(elem)
            continue
        if tag in REND_TAG_MAPPING:
            if formatting:
                rend = REND_TAG_MAPPING[tag]
                elem.attrib.clear()
                elem.set("rend", rend)
                elem.tag = "hi"
            else:
                rend_matches.append(elem)
        elif tag in CONVERSIONS or tag in LIST_TAGS:
            conv_matches.append(elem)
    if rend_matches:
        _splice_all(tree, rend_matches)
    covered: set = set()  # lists below a list converted earlier in this loop
    for elem in conv_matches:
        if elem.tag in LIST_TAGS:
            _convert_lists(elem, covered)
        else:
            CONVERSIONS[elem.tag](elem)

    if options.images:
        for elem in tree.iterdescendants("img"):
            elem.tag = "graphic"
        if options.links:
            for ref in list(tree.iterdescendants("ref")):
                graphics = list(ref.iterdescendants("graphic"))
                for graphic in reversed(graphics):
                    ref.addnext(graphic)
                if graphics and not ref.text_content().strip():
                    delete_element(ref)

    return tree


def basic_cleaning(tree: Element) -> Element:
    "Remove a few section types (reference baseline.py:32-36)."
    for elem in basic_clean_matches(tree):
        delete_element(elem)
    return tree
