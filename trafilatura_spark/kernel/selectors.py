"""Selector engine: the reference's XPath vocabularies re-expressed as
compiled-regex predicates over the lightweight DOM.

Each public selector is a function (tree) -> list[Element] in document
order, mirroring the XPath lists in /root/reference/trafilatura/xpaths.py
(BODY_XPATH:62-107, COMMENTS_XPATH:119-149, REMOVE_COMMENTS_XPATH:152-161,
OVERALL_DISCARD_XPATH:242-266, TEASER/PRECISION/IMAGE/COMMENTS-DISCARD:
280-328).  One XPath subtlety preserved: ``re:test(@id|@class, ...)``
tests only the source-first of the two attributes (XPath string() of a
node-set takes the first node), see xpaths.py:209-211.
"""

from __future__ import annotations

import re
from functools import lru_cache as _lru_cache
from typing import Callable, Iterable, Optional

from .dom import Element

# --- regex vocabularies (token groups from xpaths.py:23-60,168-240) --------

_ARTICLE_CONTENT_ID = re.compile(
    r"(?:entry|article|art)-content|article__content|article(?:-|__)?body|articleBody|body-text"
)
_ARTICLE_CONTENT_CLASS = re.compile(
    r"post[-_]text|post-body|post-?entry|post[-_]?content|postContent|post_inner_wrapper"
    r"|article-?text|articleText|(?:entry|page|text|article|art)-content|article__content"
    r"|article(?:-|__)?body|articleBody|ArticleContent|body-text|article__container"
)
_STORY_ID = re.compile(r"^primary|story-body")
_STORY_CLASS = re.compile(
    r"^article |post-bodycopy|story-?content|(?:theme|blog|section|single)-content"
    r"|single-post|main-column|wpb_text_column|story-body|field-body"
)
_FULLTEXT_CLASS = re.compile(r"fulltext", re.I)
_MAIN_CONTENT_ID = re.compile(r"content-main|content-body|contentBody")
_MAIN_CONTENT_CLASS = re.compile(r"content[-_]main|content(?:-|__)body")

_BODY_CONTAINER_TAGS = {"article", "div", "main", "section"}


def _first_attr(el: Element, *names: str) -> str:
    "Value of the source-first of the given attributes (XPath @a|@b string value)."
    for key in el.attrib:  # insertion order == source order
        if key in names:
            return el.attrib[key] or ""
    return ""


def _fa(el: Element, name: str) -> str:
    return el.attrib.get(name, "") or ""


def _body_pred_1(el: Element) -> bool:
    if el.tag not in _BODY_CONTAINER_TAGS:
        return False
    cls, eid = _fa(el, "class"), _fa(el, "id")
    return (
        cls == "post"
        or cls == "entry"
        or _fa(el, "itemprop") == "articleBody"
        or eid == "articleContent"
        or bool(_ARTICLE_CONTENT_ID.search(eid))
        or bool(_ARTICLE_CONTENT_CLASS.search(cls))
    )


def _body_pred_2(el: Element) -> bool:
    return el.tag == "article"


def _body_pred_3(el: Element) -> bool:
    if el.tag not in _BODY_CONTAINER_TAGS:
        return False
    cls, eid = _fa(el, "class"), _fa(el, "id")
    return (
        _fa(el, "role") == "article"
        or eid in ("article", "story")
        or cls in ("postarea", "art-postcontent", "text", "cell", "story")
        or bool(_STORY_ID.search(eid))
        or bool(_FULLTEXT_CLASS.search(cls))
        or bool(_STORY_CLASS.search(cls))
    )


def _body_pred_4(el: Element) -> bool:
    if el.tag not in _BODY_CONTAINER_TAGS:
        return False
    cls, eid = _fa(el, "class"), _fa(el, "id")
    return (
        eid == "content"
        or cls == "content"
        or bool(_MAIN_CONTENT_ID.search(eid))
        or bool(_MAIN_CONTENT_CLASS.search(cls))
        or "main-content" in eid.lower()
        or "main-content" in cls.lower()
        or "page-content" in cls.lower()
    )


def _body_pred_5(el: Element) -> bool:
    if el.tag == "main":
        return True
    if el.tag not in ("article", "div", "section"):
        return False
    return (
        _fa(el, "class").startswith("main")
        or _fa(el, "id").startswith("main")
        or _fa(el, "role").startswith("main")
    )


def _first_match(tree: Element, pred: Callable[[Element], bool]) -> Optional[Element]:
    return next((el for el in tree.iterdescendants() if pred(el)), None)


def first_match_ladder(tree: Element, preds: list, start: int = 0) -> tuple:
    """Highest-priority first match over a selector ladder in ONE walk.

    Equivalent to running ``_first_match(tree, preds[i])`` for
    i = start.. and returning the first i with a match — each pred's
    first match in document order is tracked independently, so the
    result is identical to the sequential scans (which each traverse
    the whole tree) at 1/len(preds) the traversal cost.  Callers that
    mutate the tree between ladder rungs re-enter with ``start`` set to
    the next rung, preserving the scan-after-mutation semantics."""
    n = len(preds)
    if start >= n:
        return None, None
    found: list = [None] * n
    limit = n  # preds at an index above an already-found one are irrelevant
    for el in tree.iterdescendants():
        for i in range(start, limit):
            if found[i] is None and preds[i](el):
                found[i] = el
                if i == start:
                    return start, el
                limit = i
    for i in range(start, n):
        if found[i] is not None:
            return i, found[i]
    return None, None


BODY_PREDS = [_body_pred_1, _body_pred_2, _body_pred_3, _body_pred_4, _body_pred_5]

BODY_SELECTORS = [
    lambda t: _first_match(t, _body_pred_1),
    lambda t: _first_match(t, _body_pred_2),
    lambda t: _first_match(t, _body_pred_3),
    lambda t: _first_match(t, _body_pred_4),
    lambda t: _first_match(t, _body_pred_5),
]

# --- comments (xpaths.py:119-149) ------------------------------------------

_COMMENT_CONTAINER_1 = {"div", "list", "section"}
_C1_IDCLASS = re.compile(r"comment-?list")
_C1_CLASS = re.compile(r"comment-page|comments-content|post-comments")
_C2_IDCLASS = re.compile(r"^comment[s-]")
_C2_CLASS = re.compile(r"^Comments|article-comments")
_C3_ID = re.compile(r"^(?:comol|disqus_thread|dsq-comments)")


def _comments_pred_1(el: Element) -> bool:
    if el.tag not in _COMMENT_CONTAINER_1:
        return False
    return bool(_C1_IDCLASS.search(_first_attr(el, "id", "class"))) or bool(_C1_CLASS.search(_fa(el, "class")))


def _comments_pred_2(el: Element) -> bool:
    if el.tag not in ("div", "section", "list"):
        return False
    return bool(_C2_IDCLASS.search(_first_attr(el, "id", "class"))) or bool(_C2_CLASS.search(_fa(el, "class")))


def _comments_pred_3(el: Element) -> bool:
    return el.tag in ("div", "section", "list") and bool(_C3_ID.search(_fa(el, "id")))


def _comments_pred_4(el: Element) -> bool:
    return el.tag in ("div", "section") and (
        _fa(el, "id").startswith("social") or "comment" in _fa(el, "class")
    )


COMMENTS_PREDS = [_comments_pred_1, _comments_pred_2, _comments_pred_3, _comments_pred_4]

_RC_ID = re.compile(r"^(?:[Cc]omment|comol|disqus_thread|dsq-comments)")
_RC_CLASS = re.compile(r"^[Cc]omment|(?:article|post)-comments")


def remove_comments_matches(tree: Element) -> list[Element]:
    "REMOVE_COMMENTS_XPATH (xpaths.py:152-161)."
    out = []
    for el in tree.iterdescendants("div", "list", "section", "details"):
        if _RC_ID.search(_fa(el, "id")) or _RC_CLASS.search(_fa(el, "class")):
            out.append(el)
    return out


# --- overall discard (xpaths.py:168-266) ------------------------------------

_DISCARD_TAGS_1 = {"div", "item", "list", "p", "section", "span"}

_CONSENT_IDCLASS = re.compile(r"cookie")
_OD_BOTH = (
    "^shar", "social", "viral",
    "newsletter", "syndication",
    "tags",
    "sidebar", "banner", "bread-?crumb", "button",
    "author",
)
_OD_ID = _OD_BOTH + (
    "^(?:jp-|dpsp-content)", "bmdh",
    "footer", "Footer",
    "share", "Share",
    "nav", "Nav", "menu",
    "related",
    "message-container",
    "premium",
)
_OD_CLASS = _OD_BOTH + (
    "^(?:nav|post-nav|ZendeskForm)", "subnav", "avigation", "navbar", "navbox", "menu", "bar",
    " ad ", "-ad-", "outbrain", "taboola", "criteo", "paid-?content", "widget",
    "footer", "Footer",
    "byline", "Byline",
    "share-", "sociable", "embedded", "embed",
    "tag-list",
    "consent", "modal-content", "permission",
    "elated", "next-", "-stories", "most-popular",
    "meta", "rating", "attachment", "timestamp", "user-info", "user-profile", "-icon",
    "article-infos", "message-container", "slide", "viewport", "overlay",
    "options", "expand", "obfuscated", "blurred",
    "mol-factbox", "yin", "zlylin", "nfoline",
)
_OD_ID_RE = re.compile("|".join(_OD_ID))
_OD_CLASS_RE = re.compile("|".join(_OD_CLASS))

_H_IDSTYLE = re.compile(r"hidden")
_H_ID = re.compile(r"reader-comments|akismet")
_H_CLASS = re.compile(
    r"^hide-|comments-title|nocomments|-reply-|message|akismet|suggest-links|-hide-|hide-print"
    r"| hidden| hide|noprint|notloaded"
)


def _discard_pred_1(el: Element) -> bool:
    if el.tag not in _DISCARD_TAGS_1:
        return False
    if "data-lp-replacement-content" in el.attrib:
        return True
    if "nav" in _fa(el, "role").lower():
        return True
    if "MostPopularStories" in _fa(el, "data-component"):
        return True
    if _CONSENT_IDCLASS.search(_first_attr(el, "id", "class")):
        return True
    if _OD_ID_RE.search(_fa(el, "id")):
        return True
    if _OD_CLASS_RE.search(_fa(el, "class")):
        return True
    return False


def _discard_pred_2(el: Element) -> bool:
    cls, eid, style = _fa(el, "class"), _fa(el, "id"), _fa(el, "style")
    if cls == "comments-title":
        return True
    if _first_attr(el, "id", "class").startswith("reply-"):
        return True
    if _H_IDSTYLE.search(_first_attr(el, "id", "style")):
        return True
    if "display:none" in style or "display: none" in style:
        return True
    if _H_ID.search(eid):
        return True
    if _H_CLASS.search(cls):
        return True
    if _fa(el, "aria-hidden") == "true":
        return True
    return False


def overall_discard_matches(tree: Element) -> list[list[Element]]:
    """OVERALL_DISCARD_XPATH as two expression passes (xpaths.py:242-266).
    Both passes are collected in ONE walk (the tree is not mutated
    between them, so per-pass doc-order lists are unchanged)."""
    first: list = []
    second: list = []
    for el in tree.iterdescendants():
        if el.tag in _DISCARD_TAGS_1 and _discard_pred_1(el):
            first.append(el)
        if _discard_pred_2(el):
            second.append(el)
    return [first, second]


def teaser_discard_matches(tree: Element) -> list[list[Element]]:
    "TEASER_DISCARD_XPATH (xpaths.py:280-287)."
    out = []
    for el in tree.iterdescendants("div", "item", "list", "p", "section", "span"):
        if "teaser" in _fa(el, "id").lower() or "teaser" in _fa(el, "class").lower():
            out.append(el)
    return [out]


_LINK_TOKEN = re.compile(r"(^|\s)link(\s|$)")


_PRECISION_TAGS = frozenset(("div", "item", "list", "p", "section", "span"))


def precision_discard_matches(tree: Element) -> list[list[Element]]:
    "PRECISION_DISCARD_XPATH (xpaths.py:290-301); one walk, two passes."
    headers = []
    second = []
    for el in tree.iterdescendants():
        tag = el.tag
        if tag == "header":
            headers.append(el)
        elif tag in _PRECISION_TAGS:
            idclass = _first_attr(el, "id", "class")
            if "bottom" in idclass or _LINK_TOKEN.search(idclass) or "border" in _fa(el, "style"):
                second.append(el)
    return [headers, second]


def discard_image_matches(tree: Element) -> list[list[Element]]:
    "DISCARD_IMAGE_ELEMENTS (xpaths.py:305-312)."
    out = []
    for el in tree.iterdescendants("div", "item", "list", "p", "section", "span"):
        if "caption" in _fa(el, "id") or "caption" in _fa(el, "class"):
            out.append(el)
    return [out]


_CD_CLASS = re.compile(r"comments-title|nocomments|-reply-|message|signin")
_CD_IDCLASS = re.compile(r"^reply-|akismet")


def comments_discard_matches(tree: Element) -> list[list[Element]]:
    "COMMENTS_DISCARD_XPATH (xpaths.py:315-328); one walk, three passes."
    first = []
    second = []
    third = []
    for el in tree.iterdescendants():
        tag = el.tag
        if tag in ("div", "section"):
            if _fa(el, "id").startswith("respond"):
                first.append(el)
        elif tag in ("cite", "quote"):
            second.append(el)
        cls = _fa(el, "class")
        if (
            cls == "comments-title"
            or "display:none" in _fa(el, "style")
            or _CD_CLASS.search(cls)
            or _CD_IDCLASS.search(_first_attr(el, "id", "class"))
        ):
            third.append(el)
    return [first, second, third]


# --- baseline cleaning (settings.py:464-472) ---------------------------------

_COOKIE_CONSENT_RE = re.compile(
    r"cookie[-_]?(?:banner|bar|consent|law|notice|policy|description)|notice[-_]{0,2}cookie"
    r"|consent[-_]?(?:banner|manager|sdk)|borlabs|cookiebot|cmplz|onetrust|moove[-_]?gdpr",
    re.I,
)


_BASIC_CLEAN_TAGS = frozenset(("aside", "fencedframe", "footer", "script", "style", "svg", "template"))


def basic_clean_pred(el: Element) -> bool:
    "Per-element BASIC_CLEAN_XPATH predicate (reference settings.py:468-472)."
    tag = el.tag
    if tag in _BASIC_CLEAN_TAGS:
        return True
    if tag == "div" and "footer" in _first_attr(el, "class", "id"):
        return True
    return bool(
        _COOKIE_CONSENT_RE.search(_fa(el, "class")) or _COOKIE_CONSENT_RE.search(_fa(el, "id"))
    )


def basic_clean_matches(tree: Element) -> list[Element]:
    "BASIC_CLEAN_XPATH matches in document order."
    return [el for el in tree.iterdescendants() if basic_clean_pred(el)]


# --- user pruning selectors (reference prune_xpath, core.py:429-432) ---------

_USER_SELECTOR_RE = re.compile(r"^([a-zA-Z][\w-]*)?(?:([.#])([\w-]+))?$")


@_lru_cache(maxsize=256)  # one compile per spec per worker, not per document
def compile_user_selector(spec: str) -> Callable:
    """Compile a user pruning rule into a (tree) -> list[Element] matcher.

    Mini-syntax: 'tag', '.class', '#id', 'tag.class', 'tag#id' — the
    kernel-DOM stand-in for the reference's user prune_xpath parameter
    (core.py:429-432; lxml XPath is unavailable here).  Class rules match
    a whole whitespace-separated class token, id rules match exactly."""
    m = _USER_SELECTOR_RE.match(spec.strip())
    if not m or not (m.group(1) or m.group(3)):
        raise ValueError(f"unsupported prune selector: {spec!r}")
    tag, kind, name = m.group(1), m.group(2), m.group(3)

    def matcher(tree: Element) -> list[Element]:
        it = tree.iterdescendants(tag) if tag else tree.iterdescendants()
        if kind == ".":
            return [el for el in it if name in (el.get("class") or "").split()]
        if kind == "#":
            return [el for el in it if el.get("id") == name]
        return list(it)

    return matcher
