"""Tree cleaning, tag conversion and link-density boilerplate heuristics.

Semantics mirror /root/reference/trafilatura/htmlprocessing.py:47-447
(tree_cleaning, prune_html, prune_unwanted_nodes, link-density tests,
convert_tags, handle_textnode, process_node).
"""

from __future__ import annotations

import re as _re
from typing import Iterable, Optional
from urllib.parse import urlsplit

from .dedup_state import duplicate_test
from .dom import Element, delete_element, splice_matches as _splice_all, strip_tags
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
    # recall probe/copy and the deletions, preserving the sequence.
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

    def _apply_deletes() -> None:
        # tag-by-tag in list order for determinism (reference iterates
        # per tag, htmlprocessing.py:77-80); deleting an element already
        # inside a detached subtree is a no-op on the output
        for tag in cleaning_list:
            for element in by_tag[tag]:
                delete_element(element)

    if options.focus == "recall" and tree.find(".//p") is not None:
        tcopy = tree.copy_tree()
        _apply_deletes()
        if tree.find(".//p") is None:
            tree = tcopy
    else:
        _apply_deletes()

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


def prune_unwanted_nodes(
    tree: Element, match_passes: Iterable, with_backup: bool = False
) -> Element:
    """Delete nodes matched by each selector pass; optionally restore a
    backup when >6/7 of the text would be lost (htmlprocessing.py:95-112).

    ``match_passes`` is either a list of pre-computed element lists or a
    list of callables (tree) -> list[Element].
    """
    if with_backup:
        old_len = len(tree.text_content())
        backup = tree.copy_tree()

    for matcher in match_passes:
        matches = matcher(tree) if callable(matcher) else matcher
        for subtree in matches:
            delete_element(subtree)

    if with_backup:
        new_len = len(tree.text_content())
        return tree if new_len > old_len / 7 else backup
    return tree


def _subtree_link_info(root: Element) -> tuple[str, list[Element], bool]:
    """One doc-order walk replacing the three separate subtree scans the
    link-density predicates need (``text_content()`` + ``findall('.//ref')``
    + ``find('.//graphic')``): returns (inner text, descendant <ref>
    elements in document order, whether any descendant <graphic> exists).
    Byte-identical text to ``root.text_content()``; same node list as
    ``findall`` (descendants only, nested refs included)."""
    parts: list = []
    links: list[Element] = []
    has_graphic = False
    emit = parts.append
    stack: list = []
    children = root._children
    for i in range(len(children) - 1, -1, -1):
        c = children[i]
        if c.tail:
            stack.append(c.tail)
        stack.append(c)
    if root.text:
        stack.append(root.text)
    pop = stack.pop
    while stack:
        item = pop()
        if item.__class__ is str:
            emit(item)
            continue
        tag = item.tag
        if tag == "ref":
            links.append(item)
        elif tag == "graphic":
            has_graphic = True
        children = item._children
        for i in range(len(children) - 1, -1, -1):
            c = children[i]
            if c.tail:
                stack.append(c.tail)
            stack.append(c)
        if item.text:
            stack.append(item.text)
    return "".join(parts), links, has_graphic


def collect_link_info(links: list[Element]) -> tuple[int, int, int, list[str]]:
    "Heuristics on link text (htmlprocessing.py:115-123)."
    mylist = [e for e in (trim(elem.text_content()) for elem in links) if e]
    lengths = list(map(len, mylist))
    shortelems = sum(1 for length in lengths if length < 10)
    return sum(lengths), len(mylist), shortelems, mylist


def link_density_test(
    element: Element, text: str, links: list[Element], favor_precision: bool = False
) -> tuple[bool, list[str]]:
    """Boilerplate predicate for link-rich sections (htmlprocessing.py:126-172).

    ``links`` is the non-empty descendant <ref> list from
    ``_subtree_link_info``; the reference's no-link and graphic early
    exits are the caller's job."""
    mylist: list[str] = []
    if len(links) == 1:
        len_threshold = 10 if favor_precision else 100
        link_text = trim(links[0].text_content())
        if len(link_text) > len_threshold and len(link_text) > len(text) * 0.9:
            return True, []
    if element.tag == "p":
        limitlen = 60 if element.getnext() is None else 30
    elif element.getnext() is None:
        limitlen = 300
    else:
        limitlen = 100
    elemlen = len(text)
    if elemlen < limitlen:
        linklen, elemnum, shortelems, mylist = collect_link_info(links)
        if elemnum == 0:
            return True, mylist
        if linklen > elemlen * 0.8 or (elemnum > 1 and shortelems / elemnum > 0.8):
            return True, mylist
    elif len(links) > 4:
        linklen, elemnum, _, farmlist = collect_link_info(links)
        if linklen > len(text) * LINK_FARM_RATIO and linklen < 100 * elemnum:
            return True, farmlist
    return False, mylist


def link_density_test_tables(element: Element) -> bool:
    "Boilerplate predicate for link-rich tables (htmlprocessing.py:175-189)."
    text, links, _ = _subtree_link_info(element)
    if not links:
        return False
    elemlen = len(trim(text))
    if elemlen < 200:
        return False
    linklen, _, _, _ = collect_link_info(links)
    return linklen > 0.8 * elemlen if elemlen < 1000 else linklen > 0.5 * elemlen


def delete_by_link_density(
    subtree: Element, tagname: str, backtracking: bool = False, favor_precision: bool = False
) -> Element:
    "Delete elements identified as link-dense boilerplate (htmlprocessing.py:192-221)."
    deletions = []
    len_threshold = 200 if favor_precision else 100
    depth_threshold = 1 if favor_precision else 3
    # a node with no <ref> descendants can never be deleted
    # (link_density_test returns (False, []) and backtracking requires a
    # non-empty templist), so only ancestors of a <ref> are walked: one
    # upward pass per ref, stopping at an ancestor an earlier ref added,
    # inside the same walk that collects the candidates
    linked, candidates = set(), []
    for elem in subtree.iter(tagname, "ref"):
        if elem.tag == tagname:
            candidates.append(elem)
        if elem.tag == "ref":
            node = elem.getparent()
            while node is not None and node not in linked:
                linked.add(node)
                node = node.getparent()

    for elem in candidates:
        if elem not in linked:
            continue
        text, links, has_graphic = _subtree_link_info(elem)
        if not links or has_graphic:
            continue
        elemtext = trim(text)
        result, templist = link_density_test(elem, elemtext, links, favor_precision)
        if result or (
            backtracking and templist and 0 < len(elemtext) < len_threshold and len(elem) >= depth_threshold
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

def _convert_lists(elem: Element) -> None:
    elem.set("rend", elem.tag)
    elem.tag = "list"
    i = 1
    for subelem in elem.iterdescendants("dd", "dt", "li"):
        if subelem.tag in ("dd", "dt"):
            subelem.set("rend", f"{subelem.tag}-{i}")
            if subelem.tag == "dd":
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
    "dl": _convert_lists, "ol": _convert_lists, "ul": _convert_lists,
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
        elif tag in CONVERSIONS:
            conv_matches.append(elem)
    if rend_matches:
        _splice_all(tree, rend_matches)
    for elem in conv_matches:
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
