"""Lightweight DOM for the extraction kernel.

A from-scratch, dependency-free HTML document model with the text/tail
node convention (element.text = text before first child, element.tail =
text after the element's end tag).  The extraction cascade mutates trees
heavily; this module provides the mutation primitives it needs.

Trees are acyclic: a parent holds its children, a child holds only a
weak reference to its parent.  A document's trees are therefore freed by
reference counting when the last reference to their root goes, not by
the cyclic garbage collector.  Unlike lxml, where any element keeps its
whole document alive, an element whose tree above it was dropped
reports no parent and behaves as a root.

Built on stdlib ``html.parser``; no lxml/libxml2.  Parse-recovery rules
(implied end tags, void elements) follow the WHATWG HTML spec closely
enough for the well-formed-ish documents the pipeline targets.

Reference behavior being matched (not copied): lxml trees as used by
/root/reference/trafilatura/utils.py:234-278 (load_html) and the
mutation helpers in /root/reference/trafilatura/xml.py:98-156.
"""

from __future__ import annotations

import re
import weakref
from html.parser import HTMLParser
from typing import Callable, Iterator, Optional

VOID_ELEMENTS = frozenset(
    "area base basefont bgsound br col command embed frame hr img input keygen "
    "link meta param source track wbr".split()
)

# implied end tags: opening <key> closes an open <value-set> ancestor run
_CLOSE_ON_OPEN = {
    "li": {"li"},
    "dt": {"dt", "dd"},
    "dd": {"dt", "dd"},
    "tr": {"tr", "td", "th"},
    "td": {"td", "th"},
    "th": {"td", "th"},
    "option": {"option"},
    "optgroup": {"option", "optgroup"},
}
_BLOCK_STARTERS = frozenset(
    "address article aside blockquote details dialog dir div dl dd dt fieldset "
    "figcaption figure footer form h1 h2 h3 h4 h5 h6 header hgroup hr main menu "
    "nav ol p pre section table ul".split()
)
# an open <p> is closed by any block starter
_P_CLOSERS = _BLOCK_STARTERS

_ref = weakref.ref


class Element:
    """Mutable tree node with lxml-style text/tail semantics.

    ``_parent`` is a ``weakref.ref`` to the parent, or None for a detached
    node; read it through ``getparent()``.  Unlike lxml, holding a node
    does not keep its ancestors alive (see the module docstring)."""

    __slots__ = ("tag", "attrib", "text", "tail", "_children", "_parent", "__weakref__")

    def __init__(self, tag: str, attrib: Optional[dict] = None):
        self.tag = tag
        self.attrib: dict = attrib if attrib is not None else {}
        self.text: Optional[str] = None
        self.tail: Optional[str] = None
        self._children: list["Element"] = []
        self._parent: Optional[weakref.ref] = None

    # --- container protocol -------------------------------------------------
    def __len__(self) -> int:
        return len(self._children)

    def __getitem__(self, idx):
        return self._children[idx]

    def __iter__(self) -> Iterator["Element"]:
        return iter(self._children)

    def __bool__(self) -> bool:  # match lxml: elements are truthy regardless
        return True

    # --- attributes ----------------------------------------------------------
    def get(self, key: str, default=None):
        return self.attrib.get(key, default)

    def set(self, key: str, value: str) -> None:
        self.attrib[key] = value

    # --- structure -----------------------------------------------------------
    def append(self, child: "Element") -> None:
        children = self._children
        if children and children[-1] is child:
            return  # already the last child: moving it changes nothing, as in lxml
        parent = child.getparent()
        if parent is not None:
            parent._children.remove(child)
        child._parent = _ref(self)
        children.append(child)

    def extend(self, children) -> None:
        for c in list(children):
            self.append(c)

    def insert(self, idx: int, child: "Element") -> None:
        parent = child.getparent()
        if parent is not None:
            parent._children.remove(child)
        child._parent = _ref(self)
        self._children.insert(idx, child)

    def remove(self, child: "Element") -> None:
        self._children.remove(child)
        child._parent = None

    def index(self, child: "Element") -> int:
        return self._children.index(child)

    def addnext(self, sibling: "Element") -> None:
        parent = self.getparent()
        if parent is None:
            return
        idx = parent._children.index(self)
        parent.insert(idx + 1, sibling)

    def getparent(self) -> Optional["Element"]:
        "The parent, or None for a detached element or one whose tree above was dropped."
        ref = self._parent
        return None if ref is None else ref()

    def getprevious(self) -> Optional["Element"]:
        p = self.getparent()
        if p is None:
            return None
        i = p._children.index(self)
        return p._children[i - 1] if i > 0 else None

    def getnext(self) -> Optional["Element"]:
        p = self.getparent()
        if p is None:
            return None
        i = p._children.index(self)
        return p._children[i + 1] if i + 1 < len(p._children) else None

    # --- traversal -----------------------------------------------------------
    def iter(self, *tags: str) -> Iterator["Element"]:
        "Document-order traversal including self; optionally filtered by tag."
        if not tags or tags == ("*",) or self.tag in tags:
            yield self
        yield from self.iterdescendants(*tags)

    def iterdescendants(self, *tags: str) -> Iterator["Element"]:
        if not tags or tags == ("*",):
            stack = self._children[::-1]
            pop = stack.pop
            push = stack.extend
            while stack:
                node = pop()
                yield node
                kids = node._children
                if kids:
                    push(kids[::-1])
            return
        tagset = frozenset(tags)
        stack = self._children[::-1]
        pop = stack.pop
        push = stack.extend
        while stack:
            node = pop()
            if node.tag in tagset:
                yield node
            kids = node._children
            if kids:
                push(kids[::-1])

    def iterancestors(self, *tags: str) -> Iterator["Element"]:
        want = _tagfilter(tags)
        node = self.getparent()
        while node is not None:
            if want(node.tag):
                yield node
            node = node.getparent()

    def itersiblings(self, *tags: str, preceding: bool = False) -> Iterator["Element"]:
        want = _tagfilter(tags)
        p = self.getparent()
        if p is None:
            return
        i = p._children.index(self)
        sibs = p._children[:i][::-1] if preceding else p._children[i + 1 :]
        for s in sibs:
            if want(s.tag):
                yield s

    def itertext(self) -> Iterator[str]:
        """All text content inside this element (text + descendant
        text/tails), doc order.  Iterative mixed stack (str = emit,
        Element = expand) — recursive generators pay O(depth) per item."""
        stack: list = [self]
        pop = stack.pop
        while stack:
            item = pop()
            if item.__class__ is str:
                yield item
                continue
            # a node expands to its text + (child, child-tail) sequence
            # pushed in REVERSE doc order (stack pops last-first); the
            # node's own tail is contributed by ITS parent's expansion
            children = item._children
            for i in range(len(children) - 1, -1, -1):
                c = children[i]
                if c.tail:
                    stack.append(c.tail)
                stack.append(c)
            if item.text:
                stack.append(item.text)

    def text_content(self) -> str:
        "All inner text as one string — non-generator fast path of itertext."
        if not self._children:  # leaf: its own text is the whole content
            return self.text or ""
        out: list = []
        emit = out.append
        stack: list = [self]
        pop = stack.pop
        while stack:
            item = pop()
            if item.__class__ is str:
                emit(item)
                continue
            children = item._children
            for i in range(len(children) - 1, -1, -1):
                c = children[i]
                if c.tail:
                    stack.append(c.tail)
                stack.append(c)
            if item.text:
                stack.append(item.text)
        return "".join(out)

    # --- find helpers (tiny subset of ElementPath) ----------------------------
    def find(self, path: str) -> Optional["Element"]:
        return next(self._finditer(path), None)

    def findall(self, path: str) -> list["Element"]:
        return list(self._finditer(path))

    def _finditer(self, path: str) -> Iterator["Element"]:
        # supports "tag", ".//tag", and ".//tag[@attr]" / ".//tag[@attr='v']"
        attr = None
        val = None
        if "[" in path:
            path, _, pred = path.partition("[")
            pred = pred.rstrip("]")
            if pred.startswith("@"):
                if "=" in pred:
                    attr, _, val = pred[1:].partition("=")
                    val = val.strip("'\"")
                else:
                    attr = pred[1:]
        if path.startswith(".//"):
            tag = path[3:]
            nodes = self.iterdescendants(tag) if tag != "*" else self.iterdescendants()
        else:
            tag = path
            nodes = (c for c in self._children if c.tag == tag)
        for node in nodes:
            if attr is not None:
                if attr not in node.attrib:
                    continue
                if val is not None and node.attrib.get(attr) != val:
                    continue
            yield node

    # --- copying ---------------------------------------------------------------
    def copy_tree(self) -> "Element":
        "Deep copy of this element (detached: no parent)."
        # iterative, __init__-bypassing clone: copy_tree is on the kernel's
        # hot path (every cascade stage snapshots the tree, as the
        # reference deepcopies, core.py:159-162)
        cls = Element
        root = cls.__new__(cls)
        root.tag = self.tag
        root.attrib = dict(self.attrib)
        root.text, root.tail = self.text, self.tail
        root._children = []
        root._parent = None
        stack = [(self, root)]
        pop = stack.pop
        while stack:
            src, dst = pop()
            dst_children = dst._children
            dst_ref = _ref(dst)  # one ref, shared by all of dst's children
            for child in src._children:
                c = cls.__new__(cls)
                c.tag = child.tag
                a = child.attrib
                c.attrib = a.copy() if a else {}
                c.text, c.tail = child.text, child.tail
                c._children = []
                c._parent = dst_ref
                dst_children.append(c)
                if child._children:
                    stack.append((child, c))
        return root

    def __deepcopy__(self, memo) -> "Element":
        return self.copy_tree()

    def __copy__(self) -> "Element":
        # lxml's copy.copy() of a tree is effectively deep for our purposes
        return self.copy_tree()

    def __repr__(self) -> str:
        return f"<Element {self.tag} at 0x{id(self):x}>"


def _tagfilter(tags) -> Callable[[str], bool]:
    if not tags or tags == ("*",):
        return lambda t: True
    tagset = frozenset(tags)
    return lambda t: t in tagset


def SubElement(parent: Element, tag: str, attrib: Optional[dict] = None, **extra) -> Element:
    el = Element(tag, dict(attrib) if attrib else {})
    el.attrib.update(extra)
    parent.append(el)
    return el


# ---------------------------------------------------------------------------
# mutation helpers with lxml semantics
# ---------------------------------------------------------------------------

def delete_element(element: Element, keep_tail: bool = True) -> None:
    """Remove element and its children; tail text joins the previous
    sibling (or parent text).  Mirrors reference xml.py:98-114."""
    parent = element.getparent()
    if parent is None:
        return
    if keep_tail and element.tail:
        previous = element.getprevious()
        if previous is None:
            parent.text = (parent.text or "") + element.tail
        else:
            previous.tail = (previous.tail or "") + element.tail
    parent.remove(element)


def iter_outside(tree: Element, skip) -> Iterator[Element]:
    """``tree``'s descendants in document order; an element of the set
    ``skip`` is yielded but its subtree is not walked.  Reads what deleting
    ``skip`` would leave, before deciding to delete."""
    stack = tree._children[::-1]
    pop = stack.pop
    push = stack.extend
    while stack:
        node = pop()
        yield node
        kids = node._children
        if kids and node not in skip:
            push(kids[::-1])


def strip_tags(tree: Element, *tags: str) -> None:
    """Remove matching elements but keep their text and children, spliced
    into the parent at the element's position (lxml etree.strip_tags).

    Single traversal; depth is computed per MATCH from its parent chain
    (the walk itself carries no per-node depth tuples) and matches splice
    deepest-first in stable document order, so nested matches are
    handled without rescanning."""
    tagset = frozenset(t for group in tags for t in ([group] if isinstance(group, str) else group))
    if tagset:
        splice_matches(tree, list(tree.iterdescendants(*tagset)))


def splice_matches(tree: Element, matches: list) -> None:
    """Splice a pre-collected doc-order element list (strip_tags body):
    deepest-first, stable within a depth level."""
    if not matches:
        return
    if len(matches) > 1:
        # depth below tree, memoized per ancestor: each parent link is
        # followed once however many matches share it
        depth = {tree: -1}
        depths = []
        for el in matches:
            path = []
            p = el.getparent()
            while p is not None and p not in depth:
                path.append(p)
                p = p.getparent()
            d = -1 if p is None else depth[p]
            for node in reversed(path):
                d += 1
                depth[node] = d
            depths.append(-(d + 1))
        matches = [el for _, el in sorted(zip(depths, matches), key=lambda pair: pair[0])]
    for el in matches:
        if el.getparent() is not None:
            _splice(el)


def _splice(el: Element) -> None:
    "Replace el by its own text + children + tail inside its parent."
    parent = el.getparent()
    idx = parent._children.index(el)
    prev = parent._children[idx - 1] if idx > 0 else None

    def _append_text(s: Optional[str]) -> None:
        if not s:
            return
        nonlocal prev
        if prev is not None:
            prev.tail = (prev.tail or "") + s
        else:
            parent.text = (parent.text or "") + s

    parent.remove(el)
    _append_text(el.text)
    pos = idx
    for child in list(el._children):
        el.remove(child)
        parent.insert(pos, child)
        pos += 1
        prev = child
    _append_text(el.tail)


def strip_elements(tree: Element, *tags: str, with_tail: bool = True) -> None:
    "Remove matching elements with their subtrees (lxml etree.strip_elements)."
    tagset = frozenset(tags)
    for el in list(tree.iterdescendants()):
        if el.tag in tagset and el.getparent() is not None:
            delete_element(el, keep_tail=not with_tail)


# ---------------------------------------------------------------------------
# parser
# ---------------------------------------------------------------------------

class _TreeBuilder(HTMLParser):
    """HTML string -> Element tree.  Always yields an <html> root with a
    <body>; head-ish content lands in <head>.  Comments and PIs are dropped
    (matching the reference parser config, utils.py:80)."""

    _HEAD_TAGS = frozenset({"title", "base", "basefont", "bgsound", "meta", "link"})

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Element("html")
        self.head = Element("head")
        self.body = Element("body")
        self.root.append(self.head)
        self.root.append(self.body)
        self._stack: list[Element] = [self.body]
        self._saw_body = False
        self._last: Optional[Element] = None  # last closed/void element for tail text

    # -- helpers --
    def _add_text(self, data: str) -> None:
        if not data:
            return
        last = self._last
        cur = self._stack[-1]
        if last is not None and last.getparent() is cur:
            last.tail = (last.tail or "") + data
        else:
            cur.text = (cur.text or "") + data

    def _implied_close(self, tag: str) -> None:
        closers = _CLOSE_ON_OPEN.get(tag)
        if closers:
            # close the innermost open element in the closer set, if any, up to
            # the nearest structural boundary
            for i in range(len(self._stack) - 1, 0, -1):
                t = self._stack[i].tag
                if t in closers:
                    self._pop_to(i)
                    break
                if t in ("table", "ul", "ol", "dl", "body", "div", "html"):
                    break
        if tag in _P_CLOSERS:
            for i in range(len(self._stack) - 1, 0, -1):
                if self._stack[i].tag == "p":
                    self._pop_to(i)
                    break
                if self._stack[i].tag not in ("a", "span", "b", "i", "em", "strong", "u", "font", "small"):
                    break

    def _pop_to(self, idx: int) -> None:
        while len(self._stack) > idx:
            closed = self._stack.pop()
            self._last = closed

    # -- HTMLParser hooks --
    def handle_starttag(self, tag: str, attrs) -> None:
        if tag == "html":
            for k, v in attrs:
                if k not in self.root.attrib:
                    self.root.attrib[k] = v or ""
            return
        if tag == "head":
            return
        if tag == "body":
            self._saw_body = True
            for k, v in attrs:
                if k not in self.body.attrib:
                    self.body.attrib[k] = v or ""
            self._stack = [self.body]
            self._last = None
            return
        attrib = {}
        for k, v in attrs:
            if k not in attrib:
                attrib[k] = v if v is not None else ""
        if tag in self._HEAD_TAGS and self._stack[-1] is self.body and not self.body._children and not self._saw_body:
            # pre-body metadata element: goes to <head>
            el = Element(tag, attrib)
            self.head.append(el)
            if tag == "title":
                self._stack.append(el)
                self._last = None
            return
        self._implied_close(tag)
        el = Element(tag, attrib)
        self._stack[-1].append(el)
        if tag in VOID_ELEMENTS:
            self._last = el
        else:
            self._stack.append(el)
            self._last = None

    def handle_startendtag(self, tag: str, attrs) -> None:
        if tag in VOID_ELEMENTS or tag not in ("html", "head", "body"):
            # treat <x/> as an empty element
            attrib = {}
            for k, v in attrs:
                if k not in attrib:
                    attrib[k] = v if v is not None else ""
            self._implied_close(tag)
            el = Element(tag, attrib)
            self._stack[-1].append(el)
            self._last = el

    def handle_endtag(self, tag: str) -> None:
        if tag in ("html", "body"):
            self._stack = [self.body]
            self._last = None
            return
        if tag == "head":
            return
        for i in range(len(self._stack) - 1, 0, -1):
            if self._stack[i].tag == tag:
                self._pop_to(i)
                return
        # unmatched end tag: ignored (recovery)

    def handle_data(self, data: str) -> None:
        self._add_text(data)

    # comments, declarations and PIs reach HTMLParser's no-op handlers


# ---------------------------------------------------------------------------
# fast single-shot tokenizer
#
# The stdlib HTMLParser drive loop (goahead) pays for incremental-feed
# buffering, line/offset bookkeeping (updatepos), per-construct method
# dispatch, and a second full scan of every start tag
# (check_for_whole_start_tag + tagfind/attrfind) — ~40% of kernel parse
# time on real pages.  _fast_feed re-implements the SAME tokenization
# for the whole-document case (feed + close, convert_charrefs=True,
# comments/decls/PIs dropped), reusing the stdlib's own compiled
# regexes so tag/attr boundary semantics are identical by construction.
# Anything hairy (SGML marked sections "<![") or any unexpected error
# punts to the stdlib builder on a fresh tree — worst case is a double
# parse, never a divergence.  Differential-tested against the stdlib
# builder on the full eval corpus (tests/test_fast_parser.py).
# ---------------------------------------------------------------------------

from html import unescape as _unescape
from html import parser as _hp
from _markupbase import _commentclose  # type: ignore

_LETTERS = frozenset("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ")
# stdlib check_for_whole_start_tag's "end of input in or before attribute
# value" character class (letters + '=' + '/')
_INCOMPLETE_NEXT = frozenset("abcdefghijklmnopqrstuvwxyz=/ABCDEFGHIJKLMNOPQRSTUVWXYZ")
_CDATA_CLOSE = {
    "script": re.compile(r"</\s*script\s*>", re.I),
    "style": re.compile(r"</\s*style\s*>", re.I),
}


class _FastUnsupported(Exception):
    "Construct the fast tokenizer deliberately punts to the stdlib on."


def _recover_emit(b, raw: str, i: int) -> int:
    """goahead's end-of-input recovery for an unterminated construct:
    emit up to the next '>' (inclusive) or '<' (exclusive) or one char,
    as unescaped data (html/parser.py goahead, the k<0 + end branch)."""
    k = raw.find(">", i + 1)
    if k < 0:
        k = raw.find("<", i + 1)
        if k < 0:
            k = i + 1
    else:
        k += 1
    b.handle_data(_unescape(raw[i:k]))
    return k


def _fast_feed(b: "_TreeBuilder", raw: str) -> None:
    "Single-shot tokenize raw into builder b, mirroring HTMLParser exactly."
    n = len(raw)
    i = 0
    find = raw.find
    startswith = raw.startswith
    handle_data = b.handle_data
    handle_starttag = b.handle_starttag
    handle_endtag = b.handle_endtag
    handle_startendtag = b.handle_startendtag
    tagfind = _hp.tagfind_tolerant.match
    attrfind = _hp.attrfind_tolerant.match
    locate = _hp.locatestarttagend_tolerant.match
    endtagm = _hp.endtagfind.match
    gtsearch = _hp.endendtag.search
    pisearch = _hp.piclose.search
    commentsearch = _commentclose.search
    unesc = _unescape
    letters = _LETTERS
    cdata_elem = None
    while i < n:
        # -- text run up to the next markup boundary --
        if cdata_elem is None:
            j = find("<", i)
            if j < 0:
                text = raw[i:n]
                handle_data(unesc(text) if "&" in text else text)
                return
            if i < j:
                text = raw[i:j]
                handle_data(unesc(text) if "&" in text else text)
        else:
            m = _CDATA_CLOSE[cdata_elem].search(raw, i)
            if not m:
                return  # unterminated rawtext content is dropped (stdlib break)
            j = m.start()
            if i < j:
                handle_data(raw[i:j])  # rawtext: no charref conversion
        i = j
        nxt = raw[i + 1 : i + 2]
        # -- start tag --
        if nxt in letters:
            lm = locate(raw, i)
            lj = lm.end()
            nc = raw[lj : lj + 1]
            if nc == ">":
                endpos = lj + 1
            elif nc == "/":
                if startswith("/>", lj):
                    endpos = lj + 2
                else:
                    i = _recover_emit(b, raw, i)
                    continue
            elif nc == "" or nc in _INCOMPLETE_NEXT:
                i = _recover_emit(b, raw, i)
                continue
            else:
                endpos = lj  # bogus input: tag text ends here, reparse from nc
            m = tagfind(raw, i + 1)
            k = m.end()
            tag = m.group(1).lower()
            attrs = []
            while k < endpos:
                am = attrfind(raw, k)
                if not am:
                    break
                attrname, rest, attrvalue = am.group(1, 2, 3)
                if not rest:
                    attrvalue = None
                elif attrvalue[:1] == "'" == attrvalue[-1:] or attrvalue[:1] == '"' == attrvalue[-1:]:
                    attrvalue = attrvalue[1:-1]
                if attrvalue and "&" in attrvalue:
                    attrvalue = unesc(attrvalue)
                attrs.append((attrname.lower(), attrvalue))
                k = am.end()
            end = raw[k:endpos].strip()
            if end == ">":
                handle_starttag(tag, attrs)
                if tag == "script" or tag == "style":
                    cdata_elem = tag
            elif end == "/>":
                handle_startendtag(tag, attrs)
            else:
                handle_data(raw[i:endpos])  # mismatched tag scan: raw text
            i = endpos
        # -- end tag --
        elif nxt == "/":
            gm = gtsearch(raw, i + 1)
            if not gm:
                if cdata_elem is None:
                    i = _recover_emit(b, raw, i)
                    continue
                return  # unterminated inside rawtext: dropped
            gtpos = gm.end()
            m = endtagm(raw, i)
            if m:
                elem = m.group(1).lower()
                if cdata_elem is not None and elem != cdata_elem:
                    handle_data(raw[i:gtpos])
                    i = gtpos
                    continue
                cdata_elem = None
                handle_endtag(elem)
                i = gtpos
            elif cdata_elem is not None:
                handle_data(raw[i:gtpos])
                i = gtpos
            else:
                nm = tagfind(raw, i + 2)
                if not nm:
                    if raw[i : i + 3] == "</>":
                        i += 3
                    else:  # bogus comment: skip to '>' (content dropped)
                        pos = find(">", i + 2)
                        if pos < 0:
                            i = _recover_emit(b, raw, i)
                            continue
                        i = pos + 1
                else:
                    tagname = nm.group(1).lower()
                    g2 = find(">", nm.end())
                    handle_endtag(tagname)
                    i = g2 + 1
        # -- comment --
        elif startswith("<!--", i):
            cm = commentsearch(raw, i + 4)
            if not cm:
                i = _recover_emit(b, raw, i)
                continue
            i = cm.end()  # comment content dropped
        # -- processing instruction --
        elif nxt == "?":
            pm = pisearch(raw, i + 2)
            if not pm:
                i = _recover_emit(b, raw, i)
                continue
            i = pm.end()  # PI dropped
        # -- declaration / marked section / bogus comment --
        elif nxt == "!":
            if startswith("<![", i):
                raise _FastUnsupported  # SGML marked section: stdlib handles
            if raw[i : i + 9].lower() == "<!doctype":
                g = find(">", i + 9)
                if g < 0:
                    i = _recover_emit(b, raw, i)
                    continue
                i = g + 1  # doctype dropped
            else:  # bogus comment
                pos = find(">", i + 2)
                if pos < 0:
                    i = _recover_emit(b, raw, i)
                    continue
                i = pos + 1
        # -- lone '<' --
        else:
            handle_data("<")
            i += 1
    return


def parse_html(html: str) -> Optional[Element]:
    "Parse an HTML string into an Element tree rooted at <html>."
    builder = _TreeBuilder()
    try:
        _fast_feed(builder, html)
    except Exception:
        # deliberate punt (_FastUnsupported) or anything unexpected:
        # re-parse from scratch with the stdlib-driven builder
        try:
            builder = _TreeBuilder()
            builder.feed(html)
            builder.close()
        except Exception:
            return None
    return builder.root


def parse_html_stdlib(html: str) -> Optional[Element]:
    "stdlib-HTMLParser-driven parse (differential-test oracle for _fast_feed)."
    try:
        builder = _TreeBuilder()
        builder.feed(html)
        builder.close()
    except Exception:
        return None
    return builder.root

