"""Document metadata extraction (title/author/url/sitename/date/
categories/tags/license/description/image/pagetype).

Semantics mirror /root/reference/trafilatura/metadata.py (opengraph
:185-204, examine_meta :206-299, title :330-358, author :361-368, url
:370-395, sitename :398-401, cats/tags :404-422, license :425-455,
orchestrator :458-563) and json_metadata.py's author normalization
(:289-335).  Date finding is a lightweight heuristic stand-in for the
htmldate dependency (absent here): JSON-LD/meta dates, <time datetime>,
URL patterns.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from datetime import date
from html import unescape
from typing import Dict, Optional
from urllib.parse import urlparse

from .cleaning import prune_unwanted_nodes
from .dom import Element
from .loader import load_html
from .selectors import _fa, _first_attr
from .textutils import line_processing, trim

HTML_STRIP_TAGS = re.compile(r"(<!--.*?-->|<[^>]*>)")
META_URL = re.compile(r"https?://(?:www\.|w[0-9]+\.)?([^/]+)")
JSON_MINIFY = re.compile(r'("(?:\\.|[^"\\])*")|\s')
HTMLTITLE_REGEX = re.compile(r"^(.+)?\s+[–•·—|⁄*⋆~‹«<›»>:-]\s+(.+)$")
CLEAN_META_TAGS = re.compile(r'["\']')
LICENSE_REGEX = re.compile(r"/(by-nc-nd|by-nc-sa|by-nc|by-nd|by-sa|by|zero)/([1-9]\.[0-9])")
TEXT_LICENSE_REGEX = re.compile(
    r"(cc|creative commons) (by-nc-nd|by-nc-sa|by-nc|by-nd|by-sa|by|zero) ?([1-9]\.[0-9])?", re.I
)

METANAME_AUTHOR = {
    "article:author", "atc-metaauthor", "author", "authors", "byl", "citation_author",
    "creator", "dc.creator", "dc.creator.aut", "dc:creator", "dcterms.creator",
    "dcterms.creator.aut", "dcsext.author", "parsely-author", "rbauthors",
    "sailthru.author", "shareaholic:article_author_name",
}
METANAME_DESCRIPTION = {
    "dc.description", "dc:description", "dcterms.abstract", "dcterms.description",
    "description", "sailthru.description", "twitter:description",
}
METANAME_PUBLISHER = {
    "article:publisher", "citation_journal_title", "copyright", "dc.publisher",
    "dc:publisher", "dcterms.publisher", "publisher", "sailthru.publisher",
    "rbpubname", "twitter:site",
}
METANAME_TAG = {
    "citation_keywords", "dcterms.subject", "keywords", "parsely-tags",
    "shareaholic:keywords", "tags",
}
METANAME_TITLE = {
    "citation_title", "dc.title", "dcterms.title", "fb_title", "headline",
    "parsely-title", "sailthru.title", "shareaholic:title", "rbtitle", "title",
    "twitter:title",
}
METANAME_IMAGE = {
    "image", "og:image", "og:image:url", "og:image:secure_url", "twitter:image",
    "twitter:image:src",
}
PROPERTY_AUTHOR = {"author", "article:author"}
TWITTER_ATTRS = {"twitter:site", "application-name"}

OG_PROPERTIES = {
    "og:title": "title",
    "og:description": "description",
    "og:site_name": "sitename",
    "og:image": "image",
    "og:image:url": "image",
    "og:image:secure_url": "image",
    "og:type": "pagetype",
}
OG_AUTHOR = {"og:author", "og:article:author"}

# --- author normalization (json_metadata.py:85-105, 289-335) -----------------

AUTHOR_PREFIX = re.compile(r"^([a-zäöüß]+(ed|t))? ?(written by|words by|words|by|von|from) ", re.I)
AUTHOR_REMOVE_NUMBERS = re.compile(r"\d.+?$")
AUTHOR_TWITTER = re.compile(r"@[\w]+")
AUTHOR_REPLACE_JOIN = re.compile(r"[._+]")
AUTHOR_REMOVE_NICKNAME = re.compile(r'["‘({\[’\'][^"]+?[‘’"\')\]}]')
AUTHOR_REMOVE_SPECIAL = re.compile(r"[^\w]+$|[:()?*$#!%/<>{}~¿]")
AUTHOR_REMOVE_PREPOSITION = re.compile(
    r"\b\s+(am|on|for|at|in|to|from|of|via|with|—|-|–)\s+(.*)", re.I
)
AUTHOR_EMAIL = re.compile(r"\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}\b")
AUTHOR_SPLIT = re.compile(r"/|;|,|\||&|(?:^|\W)[ua]nd(?:$|\W)", re.I)
AUTHOR_EMOJI_REMOVE = re.compile(
    "[\U00002700-\U000027be\U0001f600-\U0001f64f\U00002600-\U000026ff"
    "\U0001f300-\U0001f5ff\U0001f900-\U0001f9ff\U0001fa70-\U0001faff\U0001f680-\U0001f6ff]+"
)


@dataclass
class Metadata:
    title: Optional[str] = None
    author: Optional[str] = None
    url: Optional[str] = None
    hostname: Optional[str] = None
    description: Optional[str] = None
    sitename: Optional[str] = None
    date: Optional[str] = None
    categories: list = field(default_factory=list)
    tags: list = field(default_factory=list)
    license: Optional[str] = None
    image: Optional[str] = None
    pagetype: Optional[str] = None

    def as_dict(self) -> dict:
        return {
            "title": self.title, "author": self.author, "url": self.url,
            "hostname": self.hostname, "description": self.description,
            "sitename": self.sitename, "date": self.date,
            "categories": list(self.categories or []), "tags": list(self.tags or []),
            "license": self.license, "image": self.image, "pagetype": self.pagetype,
            "fingerprint": getattr(self, "fingerprint", None),
            "id": getattr(self, "id", None),
            "language": getattr(self, "language", None),
        }


def _is_valid_url(url: Optional[str]) -> bool:
    if not url:
        return False
    parsed = urlparse(url)
    return parsed.scheme in ("http", "https") and bool(parsed.netloc)


_TRACKING_PARAM_RE = re.compile(
    r"^(?:utm_[a-z]+|fbclid|gclid|dclid|msclkid|mc_[a-z]+|igshid|ref_?src)$", re.I
)


def normalize_url(url: str) -> str:
    """Canonical URL form, standing in for courlan.normalize_url (the
    reference validates+normalizes the extracted URL at
    metadata.py:393-394): lowercase scheme and host, strip default
    ports, drop ad/analytics tracking query parameters (remaining
    parameters keep their order), drop fragments except hashbang
    routing (#!...)."""
    parts = urlparse(url)
    if not parts.scheme or not parts.netloc:
        return url  # not an absolute URL: leave untouched (callers validate)
    scheme = parts.scheme.lower()
    netloc = parts.netloc.lower()
    if scheme == "http" and netloc.endswith(":80"):
        netloc = netloc[:-3]
    elif scheme == "https" and netloc.endswith(":443"):
        netloc = netloc[:-4]
    query = "&".join(
        p for p in parts.query.split("&")
        if p and not _TRACKING_PARAM_RE.match(p.partition("=")[0])
    )
    out = f"{scheme}://{netloc}{parts.path}"
    if query:
        out += "?" + query
    if parts.fragment.startswith("!"):
        out += "#" + parts.fragment
    return out


def normalize_authors(current_authors: Optional[str], author_string: str) -> Optional[str]:
    "Focus author info on names only (json_metadata.py:289-335)."
    new_authors = []
    if author_string.lower().startswith("http") or AUTHOR_EMAIL.match(author_string):
        return current_authors
    if current_authors is not None:
        new_authors = current_authors.split("; ")
    if "\\u" in author_string:
        try:
            author_string = author_string.encode().decode("unicode_escape")
        except UnicodeDecodeError:
            pass
    if "&#" in author_string or "&amp;" in author_string:
        author_string = unescape(author_string)
    author_string = HTML_STRIP_TAGS.sub("", author_string)
    for author in AUTHOR_SPLIT.split(author_string):
        author = trim(author)
        author = AUTHOR_EMOJI_REMOVE.sub("", author)
        author = AUTHOR_TWITTER.sub("", author)
        author = trim(AUTHOR_REPLACE_JOIN.sub(" ", author))
        author = AUTHOR_REMOVE_NICKNAME.sub("", author)
        author = AUTHOR_REMOVE_SPECIAL.sub("", author)
        author = AUTHOR_PREFIX.sub("", author)
        author = AUTHOR_REMOVE_NUMBERS.sub("", author)
        author = AUTHOR_REMOVE_PREPOSITION.sub("", author)
        if not author or (len(author) >= 50 and " " not in author and "-" not in author):
            continue
        if not author[0].isupper():
            author = author.title()
        if author not in new_authors:
            new_authors.append(author)
    new_authors = [n for n in new_authors if not any(n != m and n in m for m in new_authors)]
    if not new_authors:
        return current_authors
    return "; ".join(new_authors).strip("; ")


def normalize_tags(tags: str) -> str:
    trimmed = trim(unescape(tags))
    if not trimmed:
        return ""
    tags = CLEAN_META_TAGS.sub("", trimmed)
    return ", ".join(filter(None, tags.split(", ")))


def extract_opengraph(metas: list) -> dict:
    "OpenGraph meta tags (metadata.py:185-204)."
    result = dict.fromkeys(("title", "author", "url", "description", "sitename", "image", "pagetype"))
    for elem in metas:
        prop, content = elem.get("property"), elem.get("content")
        if not prop or not str(prop).startswith("og:"):
            continue
        if content and not content.isspace():
            if prop in OG_PROPERTIES:
                result[OG_PROPERTIES[prop]] = content
            elif prop == "og:url" and _is_valid_url(content):
                result["url"] = content
            elif prop in OG_AUTHOR:
                result["author"] = normalize_authors(None, content)
    return result


def examine_meta(elements: list) -> Metadata:
    "Search meta tags (metadata.py:206-299)."
    metas = [e for e in elements if e.tag == "meta"]
    metadata = Metadata(**extract_opengraph(metas))

    if all((metadata.title, metadata.author, metadata.url, metadata.description,
            metadata.sitename, metadata.image)):
        return metadata

    tags: list = []
    backup_sitename = None

    for elem in metas:
        content_attr = HTML_STRIP_TAGS.sub("", elem.get("content", "") or "").strip()
        if not content_attr:
            continue
        if "property" in elem.attrib:
            property_attr = (elem.get("property") or "").lower()
            if property_attr.startswith("og:"):
                continue
            if property_attr == "article:tag":
                tags.append(normalize_tags(content_attr))
            elif property_attr in PROPERTY_AUTHOR:
                metadata.author = normalize_authors(metadata.author, content_attr)
            elif property_attr == "article:publisher":
                metadata.sitename = metadata.sitename or content_attr
            elif property_attr in METANAME_IMAGE:
                metadata.image = metadata.image or content_attr
        elif "name" in elem.attrib:
            name_attr = (elem.get("name") or "").lower()
            if name_attr in METANAME_AUTHOR:
                metadata.author = normalize_authors(metadata.author, content_attr)
            elif name_attr in METANAME_TITLE:
                metadata.title = metadata.title or content_attr
            elif name_attr in METANAME_DESCRIPTION:
                metadata.description = metadata.description or content_attr
            elif name_attr in METANAME_PUBLISHER:
                metadata.sitename = metadata.sitename or content_attr
            elif name_attr in METANAME_IMAGE:
                metadata.image = metadata.image or content_attr
            elif name_attr in TWITTER_ATTRS or "twitter:app:name" in name_attr:
                backup_sitename = content_attr
            elif name_attr == "twitter:url" and not metadata.url and _is_valid_url(content_attr):
                metadata.url = content_attr
            elif name_attr in METANAME_TAG:
                tags.append(normalize_tags(content_attr))
        elif "itemprop" in elem.attrib:
            itemprop_attr = (elem.get("itemprop") or "").lower()
            if itemprop_attr == "author":
                metadata.author = normalize_authors(metadata.author, content_attr)
            elif itemprop_attr == "description":
                metadata.description = metadata.description or content_attr
            elif itemprop_attr == "headline":
                metadata.title = metadata.title or content_attr

    metadata.sitename = metadata.sitename or backup_sitename
    metadata.tags = [t for t in tags if t]
    return metadata


# --- JSON-LD ---------------------------------------------------------------

_ARTICLE_TYPES = {
    "article", "newsarticle", "blogposting", "socialmediaposting", "report",
    "scholarlyarticle", "techarticle", "liveblogposting", "discussionforumposting",
}


def _jsonld_name(value) -> Optional[str]:
    if isinstance(value, str):
        return trim(value) or None
    if isinstance(value, dict):
        return _jsonld_name(value.get("name"))
    if isinstance(value, list):
        for item in value:
            name = _jsonld_name(item)
            if name:
                return name
    return None


def _walk_jsonld(node, metadata: Metadata) -> None:
    if isinstance(node, list):
        for item in node:
            _walk_jsonld(item, metadata)
        return
    if not isinstance(node, dict):
        return
    node_type = str(node.get("@type", "")).lower()
    if "author" in node:
        name = _jsonld_name(node["author"])
        if name:
            metadata.author = normalize_authors(metadata.author, name)
    if node_type in _ARTICLE_TYPES or "headline" in node:
        headline = node.get("headline") or node.get("name")
        if isinstance(headline, str) and not metadata.title:
            metadata.title = trim(headline) or None
        if node_type and not metadata.pagetype:
            metadata.pagetype = node_type
    if "publisher" in node and not metadata.sitename:
        metadata.sitename = _jsonld_name(node["publisher"])
    if "datePublished" in node and not metadata.date:
        metadata.date = _normalize_date(str(node["datePublished"]))
    if "description" in node and isinstance(node["description"], str) and not metadata.description:
        metadata.description = trim(node["description"]) or None
    for container in ("@graph", "mainEntity", "mainEntityOfPage"):
        if container in node:
            _walk_jsonld(node[container], metadata)


def extract_meta_json(elements: list, metadata: Metadata) -> Metadata:
    for elem in elements:
        if elem.tag != "script" or elem.get("type") not in ("application/ld+json", "application/settings+json"):
            continue
        if not elem.text:
            continue
        try:
            schema = json.loads(JSON_MINIFY.sub(r"\1", elem.text), strict=False)
        except json.JSONDecodeError:
            continue
        _walk_jsonld(schema, metadata)
    return metadata


# --- title / author / url / sitename (metadata.py:302-401) -------------------

_TITLE_RE1 = re.compile(r"(?:post-|entry-|article-|post__)title|headline")
_AUTHOR_NAME_RE = re.compile(r"author-?name|AuthorName|authorName")
_AUTHOR_GEN_RE = re.compile(
    r"author|channel-name|zuozhe|bianji|xiaobian|submitted-by|posted-by|journalist-name"
)
_AUTHOR_GEN_ID_RE = re.compile(r"author|zuozhe|bianji|xiaobian")
_AUTHOR_LAST_RE = re.compile(r"[Aa]uthor|screenname|writer|[Bb]yline")
_AUTHOR_LAST_ID_RE = re.compile(r"[Aa]uthor")
_AUTHOR_DISCARD_ID_RE = re.compile(r"^comments|comment-?list|ProductReviews")
_AUTHOR_DISCARD_CLASS_RE = re.compile(
    r"^[Cc]omments|commentlist|comments-list|sidebar|is-hidden|quote|embedly-instagram"
    r"|article-(?:share|support)|print|category|meta-date|meta-reviewer"
)


def _title_xpath_matches(elements: list) -> list:
    "TITLE_XPATHS ladder; all three passes collected in one pass."
    first = []
    second = []
    third = []
    for el in elements:
        tag = el.tag
        if tag in ("h1", "h2"):
            if (
                _TITLE_RE1.search(_fa(el, "class"))
                or "headline" in _fa(el, "id")
                or "headline" in _fa(el, "itemprop")
            ):
                first.append(el)
        if _fa(el, "class") in ("entry-title", "post-title"):
            second.append(el)
        if tag in ("h1", "h2", "h3") and ("title" in _fa(el, "class") or "title" in _fa(el, "id")):
            third.append(el)
    return [first, second, third]


_AUTHOR_XPATH_TAGS_1 = frozenset(("a", "address", "div", "link", "p", "span", "strong", "author"))
_AUTHOR_XPATH_TAGS_2 = frozenset(("a", "div", "h3", "h4", "p", "span"))


def _author_xpath_matches(elements: list) -> list:
    "AUTHOR_XPATHS ladder; all three passes collected in one pass."
    first = []
    second = []
    third = []
    for el in elements:
        tag = el.tag
        if tag in _AUTHOR_XPATH_TAGS_1:
            if tag == "author":
                first.append(el)
            elif (
                _fa(el, "rel") == "author" or _fa(el, "id") == "author" or _fa(el, "class") == "author"
                or _fa(el, "itemprop") == "author name"
                or _fa(el, "data-testid") in ("AuthorCard", "AuthorURL")
                or _AUTHOR_NAME_RE.search(_fa(el, "class"))
            ):
                first.append(el)
        if tag in _AUTHOR_XPATH_TAGS_2 and (
            _fa(el, "class") in ("byline", "username", "byl", "BBL")
            or "author" in _fa(el, "itemprop")
            or _AUTHOR_GEN_ID_RE.search(_fa(el, "id"))
            or _AUTHOR_GEN_RE.search(_fa(el, "class"))
        ):
            second.append(el)
        if (
            "Byline" in _fa(el, "data-component")
            or "author" in _fa(el, "itemprop")
            or _AUTHOR_LAST_ID_RE.search(_fa(el, "id"))
            or _AUTHOR_LAST_RE.search(_fa(el, "class"))
        ):
            third.append(el)
    return [first, second, third]


_AUTHOR_DISCARD_TAGS = frozenset(("a", "div", "section", "span"))


def _author_discard_matches(elements: list) -> list:
    "Both discard passes collected in one pass."
    out: list = []
    out2: list = []
    for el in elements:
        tag = el.tag
        if tag in _AUTHOR_DISCARD_TAGS:
            if (
                _fa(el, "id") == "comments" or _fa(el, "class") in ("comments", "title", "date")
                or _AUTHOR_DISCARD_ID_RE.search(_fa(el, "id"))
                or _AUTHOR_DISCARD_CLASS_RE.search(_fa(el, "class"))
                or "Figure" in _fa(el, "data-component")
            ):
                out.append(el)
        elif tag in ("time", "figure"):
            out2.append(el)
    return [out, out2]


def extract_metainfo(match_passes: list, len_limit: int = 200) -> Optional[str]:
    for matches in match_passes:
        for elem in matches:
            content = trim(" ".join(elem.itertext()))
            if content and 2 < len(content) < len_limit:
                return content
    return None


def examine_title_element(elements: list):
    "The first <title>, which is <head>'s when it has one (see extract_metadata)."
    title = ""
    title_element = next((e for e in elements if e.tag == "title"), None)
    if title_element is not None:
        title = trim(title_element.text_content())
        match = HTMLTITLE_REGEX.match(title)
        if match:
            return title, match[1], match[2]
    return title, None, None


def extract_title(elements: list) -> Optional[str]:
    "Title ladder (metadata.py:330-358)."
    h1_results = [e for e in elements if e.tag == "h1"]
    if len(h1_results) == 1:
        title = trim(h1_results[0].text_content())
        if title:
            return title
    title = extract_metainfo(_title_xpath_matches(elements)) or ""
    if title:
        return title
    title, first, second = examine_title_element(elements)
    for t in (first, second, title):
        if t and "." not in t:
            return t
    for h1_result in h1_results:
        title = trim(h1_result.text_content())
        if title:
            return title
    h2 = next((e for e in elements if e.tag == "h2"), None)
    if h2 is not None:
        title = trim(h2.text_content())
    return title or None


def extract_author(tree: Element, elements: list) -> Optional[str]:
    # the copy exists only so the discard-prune cannot damage the caller's
    # tree; when nothing matches the discard rules (most pages), pruning
    # is a no-op and the read-only ladder reads the caller's list directly
    if any(_author_discard_matches(elements)):
        copy = tree.copy_tree()
        copied = list(copy.iterdescendants())
        prune_unwanted_nodes(copy, _author_discard_matches(copied))
        # the pruned copy's elements in document order: a pruned element
        # is detached, so it and everything below it drop out
        kept = {id(copy)}
        elements = []
        for el in copied:
            if id(el.getparent()) in kept:
                kept.add(id(el))
                elements.append(el)
    author = extract_metainfo(_author_xpath_matches(elements), len_limit=120)
    if author:
        author = normalize_authors(None, author)
    return author


def extract_url(elements: list, default_url: Optional[str] = None) -> Optional[str]:
    "Canonical/base/alternate links (metadata.py:370-395)."
    url = None
    links = [e for e in elements if e.tag in ("link", "base")]
    for selector in (
        lambda e: e.tag == "link" and e.get("rel") == "canonical",
        lambda e: e.tag == "base",
        lambda e: e.tag == "link" and e.get("rel") == "alternate" and e.get("hreflang") == "x-default",
    ):
        element = next((e for e in links if selector(e)), None)
        url = element.get("href") if element is not None else None
        if url:
            break
    if url and url.startswith("/"):
        for element in (e for e in elements if e.tag == "meta"):
            attrtype = element.get("name") or element.get("property") or ""
            content = element.get("content") or ""
            if attrtype.startswith(("og:", "twitter:")) and content.startswith("http"):
                parsed = urlparse(content)
                if parsed.netloc:
                    url = f"{parsed.scheme}://{parsed.netloc}" + url
                    break
    # the reference validates THEN normalizes only the ladder-won URL
    # (metadata.py:390-394); the caller-supplied fallback is returned
    # untouched (metadata.py:394 `return url or default_url`)
    if url:
        url = normalize_url(url) if _is_valid_url(url) else None
    return url or default_url


def extract_domain(url: str) -> Optional[str]:
    netloc = urlparse(url).netloc.lower()
    if netloc.startswith("www."):
        netloc = netloc[4:]
    return netloc or None


def extract_sitename(elements: list) -> Optional[str]:
    _, *parts = examine_title_element(elements)
    return next((part for part in parts if part and "." in part), None)


_CAT_META_RE = re.compile(r"^(?:post-?info|post-?meta|meta|entry-meta|entry-info|entry-utility)")
_TAG_META_RE = re.compile(r"^(?:tag|postmeta|meta)")


def _links_under(containers) -> list:
    out = []
    for el in containers:
        out.extend(a for a in el.iterdescendants("a") if "href" in a.attrib)
    return out


def _catstag_matches(metatype: str, elements: list) -> list:
    """CATEGORIES_XPATHS / TAGS_XPATHS ladders (xpaths.py:385-415).
    The per-pass container lists are collected in one pass; link
    extraction per pass is unchanged."""
    if metatype == "category":
        containers: list = [[], [], [], [], [], []]
        for e in elements:
            tag = e.tag
            if tag == "div":
                cls = _fa(e, "class")
                if _CAT_META_RE.search(cls) or _fa(e, "id").startswith("postpath"):
                    containers[0].append(e)
                if cls in ("row", "tags"):
                    containers[5].append(e)
            elif tag == "p":
                cls = _fa(e, "class")
                if cls.startswith(("postmeta", "entry-categories")) or cls == "postinfo" or _fa(e, "id") == "filedunder":
                    containers[1].append(e)
            elif tag == "footer":
                if _fa(e, "class").startswith(("entry-meta", "entry-footer")):
                    containers[2].append(e)
            elif tag in ("li", "span"):
                cls = _fa(e, "class")
                if cls in ("post-category", "postcategory", "entry-category") or "cat-links" in cls:
                    containers[3].append(e)
            elif tag == "header":
                if _fa(e, "class") == "entry-header":
                    containers[4].append(e)
    else:
        containers = [[], [], [], []]
        for e in elements:
            tag = e.tag
            cls = _fa(e, "class")
            if tag == "div":
                if cls == "tags":
                    containers[0].append(e)
                if cls in ("row", "jp-relatedposts", "entry-utility") or _TAG_META_RE.search(cls):
                    containers[2].append(e)
            elif tag == "p" and cls.startswith("entry-tags"):
                containers[1].append(e)
            if cls == "entry-meta" or "topics" in cls or "tags-links" in cls:
                containers[3].append(e)
    return [_links_under(c) for c in containers]


def extract_catstags(metatype: str, elements: list) -> list:
    "Category/tag links gated by href pattern (metadata.py:404-422)."
    results: list = []
    regexpr = "/" + metatype.rstrip("y") + "(?:y|ies|s)?/"
    for matches in _catstag_matches(metatype, elements):
        results.extend(
            elem.text_content() for elem in matches if re.search(regexpr, elem.attrib.get("href", ""))
        )
        if results:
            break
    if metatype == "category" and not results:
        for element in (e for e in elements if e.tag == "meta"):
            if (element.get("property") == "article:section"
                    or "subject" in (element.get("name") or "")) and element.get("content"):
                results.append(element.attrib["content"])
    return [r for r in dict.fromkeys(line_processing(x) for x in results if x) if r]


def parse_license_element(element: Element, strict: bool = False) -> Optional[str]:
    match = LICENSE_REGEX.search(element.get("href", ""))
    if match:
        return f"CC {match[1].upper()} {match[2]}"
    text = trim(element.text_content())
    if text:
        if strict:
            match2 = TEXT_LICENSE_REGEX.search(text)
            return match2[0] if match2 else None
        return text
    return None


def extract_license(elements: list) -> Optional[str]:
    "License links (metadata.py:425-455); containers collected in one pass."
    rel_license = []
    footers = []
    footer_divs = []
    for el in elements:
        tag = el.tag
        if tag == "a":
            if el.get("rel") == "license" and "href" in el.attrib:
                rel_license.append(el)
        elif tag == "footer":
            footers.append(el)
        elif tag == "div" and ("footer" in _fa(el, "class") or "footer" in _fa(el, "id")):
            footer_divs.append(el)
    for element in rel_license:
        result = parse_license_element(element, strict=False)
        if result is not None:
            return result
    candidates = _links_under(footers) + _links_under(footer_divs)
    return next(
        (
            result
            for element in candidates
            if (result := parse_license_element(element, strict=True)) is not None
        ),
        None,
    )


# --- date (lightweight htmldate stand-in) ------------------------------------

# htmldate-grade date finding.  The reference delegates to the htmldate
# package (reference metadata.py:19,523-525); these heuristics mirror
# htmldate's documented ladder (meta vocabulary -> date-bearing elements
# -> URL patterns -> free-text scan -> copyright year) without the
# dependency.  Date-name vocabulary follows htmldate's published
# DATE_ATTRIBUTES set (publication variants first; modified-date names
# are accepted only as a later rung, matching original_date=True).
_DATE_META_NAMES = {
    "article:published_time", "og:article:published_time", "datepublished",
    "article.published", "article.created", "article_date_original",
    "article:post_date", "created", "date", "date_published", "datecreated",
    "dc.date", "dc.date.created", "dc.date.issued", "dcterms.date",
    "dcterms.created", "displaydate", "gentime", "originalpublicationdate",
    "parsely-pub-date", "pubdate", "publishdate", "publish-date", "publish_date",
    "published-date", "published_time", "publication_date", "release_date",
    "rnews:datepublished", "sailthru.date", "timestamp", "og:published_time",
    "cxenseparse:recs:publishtime", "dc.dcterms.issued", "be:pubdate",
}
_DATE_MODIFIED_META_NAMES = {
    "article:modified_time", "og:article:modified_time", "datemodified",
    "dc.date.modified", "dcterms.modified", "last-modified", "lastmod",
    "og:updated_time", "revised", "updated_time",
}
_ISO_DATE_RE = re.compile(r"(\d{4})[-/](\d{1,2})[-/](\d{1,2})")
# schema.org structured-data stamps, matched by regex like htmldate's
# json_search (tolerates malformed JSON around the field)
_JSONLD_PUBLISHED_RE = re.compile(r'"datePublished"\s*:\s*"([^"]{4,40})"')
# uploadDate deliberately excluded: it stamps an embedded VideoObject's
# upload, not the article (eval case giga.de — a video uploaded in 2015
# inside a 2017 article)
_JSONLD_CREATED_RE = re.compile(r'"dateCreated"\s*:\s*"([^"]{4,40})"')
_JSONLD_MODIFIED_RE = re.compile(r'"dateModified"\s*:\s*"([^"]{4,40})"')
_COMPACT_DATE_RE = re.compile(r"\b(\d{4})(\d{2})(\d{2})\b")
_DMY_DOT_RE = re.compile(r"\b(\d{1,2})\.(\d{1,2})\.(\d{4})\b")
_MDY_SLASH_RE = re.compile(r"\b(\d{1,2})/(\d{1,2})/(\d{4})\b")
_MONTHS = {
    "january": 1, "february": 2, "march": 3, "april": 4, "may": 5, "june": 6,
    "july": 7, "august": 8, "september": 9, "october": 10, "november": 11,
    "december": 12, "jan": 1, "feb": 2, "mar": 3, "apr": 4, "jun": 6, "jul": 7,
    "aug": 8, "sep": 9, "sept": 9, "oct": 10, "nov": 11, "dec": 12,
    # German month names (htmldate covers German-language pages)
    "januar": 1, "februar": 2, "märz": 3, "maerz": 3, "mai": 5, "juni": 6,
    "juli": 7, "oktober": 10, "dezember": 12,
    # French
    "janvier": 1, "février": 2, "fevrier": 2, "avril": 4, "juin": 6,
    "juillet": 7, "août": 8, "aout": 8, "septembre": 9, "octobre": 10,
    "novembre": 11, "décembre": 12, "decembre": 12,
    # Spanish
    "enero": 1, "febrero": 2, "marzo": 3, "abril": 4, "mayo": 5, "junio": 6,
    "julio": 7, "septiembre": 9, "octubre": 10, "noviembre": 11, "diciembre": 12,
    # Italian (agosto/novembre shared with es/fr above)
    "gennaio": 1, "febbraio": 2, "aprile": 4, "maggio": 5, "giugno": 6,
    "luglio": 7, "agosto": 8, "settembre": 9, "ottobre": 10, "dicembre": 12,
    # Portuguese (abril/agosto/novembro shared with es/it above)
    "janeiro": 1, "fevereiro": 2, "março": 3, "marco": 3, "maio": 5,
    "junho": 6, "julho": 7, "setembro": 9, "outubro": 10, "novembro": 11,
    "dezembro": 12,
    # Dutch (april/september/november/juni/juli/mei/oktober shared above)
    "januari": 1, "februari": 2, "maart": 3, "mei": 5, "augustus": 8,
    "december": 12,
    # Russian (genitive, the form dates use: '5 января 2020')
    "января": 1, "февраля": 2, "марта": 3, "апреля": 4, "мая": 5,
    "июня": 6, "июля": 7, "августа": 8, "сентября": 9, "октября": 10,
    "ноября": 11, "декабря": 12,
    # Ukrainian (genitive)
    "січня": 1, "лютого": 2, "березня": 3, "квітня": 4, "травня": 5,
    "червня": 6, "липня": 7, "серпня": 8, "вересня": 9, "жовтня": 10,
    "листопада": 11, "грудня": 12,
    # Turkish
    "ocak": 1, "şubat": 2, "subat": 2, "mart": 3, "nisan": 4,
    "mayıs": 5, "mayis": 5, "haziran": 6, "temmuz": 7, "ağustos": 8,
    "agustos": 8, "eylül": 9, "eylul": 9, "ekim": 10, "kasım": 11,
    "kasim": 11, "aralık": 12, "aralik": 12,
    # Polish (genitive)
    "stycznia": 1, "lutego": 2, "marca": 3, "kwietnia": 4, "maja": 5,
    "czerwca": 6, "lipca": 7, "sierpnia": 8, "września": 9,
    "wrzesnia": 9, "października": 10, "pazdziernika": 10,
    "listopada": 11, "grudnia": 12,
    # Czech (genitive)
    "ledna": 1, "února": 2, "unora": 2, "března": 3, "brezna": 3,
    "dubna": 4, "května": 5, "kvetna": 5, "června": 6, "cervna": 6,
    "července": 7, "cervence": 7, "srpna": 8, "září": 9, "zari": 9,
    "října": 10, "rijna": 10, "listopadu": 11, "prosince": 12,
}
_MONTH_ALT = "|".join(sorted(_MONTHS, key=len, reverse=True))
# optional 'de' infixes cover the es/pt '17 de agosto de 2021' form
_TEXT_DMY_RE = re.compile(
    rf"\b(\d{{1,2}})\.?(?:st|nd|rd|th|er)?(?:\s+de)?\s+({_MONTH_ALT})\.?,?(?:\s+de)?\s+(\d{{4}})\b",
    re.I,
)
_TEXT_MDY_RE = re.compile(rf"\b({_MONTH_ALT})\.?\s+(\d{{1,2}})(?:st|nd|rd|th)?,?\s+(\d{{4}})\b", re.I)
_URL_DATE_RE = re.compile(r"/(\d{4})/(\d{1,2})/(\d{1,2})(?:[/.-]|$)")
_URL_ISO_RE = re.compile(r"[/-](\d{4})-(\d{1,2})-(\d{1,2})(?:[/.-]|$)")
_URL_YM_RE = re.compile(r"/(\d{4})/(\d{1,2})(?:/|$)")
# month-name path segments (Guardian style /2024/mar/15/) and explicit
# date-bearing query parameters (?date=..., &published=...) — two
# high-yield htmldate URL shapes beyond the numeric paths
_URL_MONTHNAME_RE = re.compile(rf"/(\d{{4}})/({_MONTH_ALT})/(\d{{1,2}})(?:/|$)", re.I)
_URL_QUERY_DATE_RE = re.compile(
    r"[?&](?:date|published|publish_date|post_date|pubdate|updated)=([^&#]{4,40})", re.I
)
_COPYRIGHT_RE = re.compile(r"(?:©|&copy;|copyright\s*(?:©)?)\s*(?:\d{4}\s*[-–]\s*)?(\d{4})", re.I)
_DATEISH_ATTR_RE = re.compile(
    r"post-?date|post-?meta|entry-?date|article-?date|published|pubdate|"
    r"date-?published|datetime|submitted|timestamp|\bdate\b|datum|fecha",
    re.I,
)

MIN_DATE_YEAR, MAX_DATE_YEAR = 1995, 2040


def _valid_date(
    y: int, m: int, d: int,
    min_date: Optional[str] = None, max_date: Optional[str] = None,
) -> Optional[str]:
    """Range check + real-calendar check (htmldate validates via
    datetime), then the caller's plausibility window: a candidate outside
    [min_date, max_date] is rejected so the ladder keeps searching —
    htmldate's is_valid_date semantics."""
    if MIN_DATE_YEAR <= y <= MAX_DATE_YEAR and 1 <= m <= 12 and 1 <= d <= 31:
        try:
            date(y, m, d)
        except ValueError:
            return None
        iso = f"{y:04d}-{m:02d}-{d:02d}"
        if (min_date and iso < min_date) or (max_date and iso > max_date):
            return None
        return iso
    return None


def _in_window(
    iso: Optional[str],
    min_date: Optional[str] = None, max_date: Optional[str] = None,
) -> bool:
    "ISO date inside the plausibility window (lexicographic compare is safe)."
    if iso is None:
        return False
    return not ((min_date and iso < min_date) or (max_date and iso > max_date))


def _normalize_date(
    value: str,
    min_date: Optional[str] = None, max_date: Optional[str] = None,
) -> Optional[str]:
    """Parse a date expression to YYYY-MM-DD: ISO first, then compact
    YYYYMMDD, German DD.MM.YYYY, US MM/DD/YYYY (day-position fallback),
    then textual '12 March 2024' / 'March 12, 2024' (htmldate
    custom_parse / external-parser ordering).  Out-of-window candidates
    fall through to the next format rather than ending the search."""
    match = _ISO_DATE_RE.search(value)
    if match:
        result = _valid_date(int(match[1]), int(match[2]), int(match[3]), min_date, max_date)
        if result:
            return result
    match = _COMPACT_DATE_RE.search(value)
    if match:
        result = _valid_date(int(match[1]), int(match[2]), int(match[3]), min_date, max_date)
        if result:
            return result
    match = _DMY_DOT_RE.search(value)
    if match:
        d, m, y = int(match[1]), int(match[2]), int(match[3])
        result = _valid_date(y, m, d, min_date, max_date)
        if result:
            return result
    match = _MDY_SLASH_RE.search(value)
    if match:
        m, d, y = int(match[1]), int(match[2]), int(match[3])
        if m > 12 >= d:  # cannot be a month first: read as DD/MM/YYYY
            m, d = d, m
        result = _valid_date(y, m, d, min_date, max_date)
        if result:
            return result
    match = _TEXT_DMY_RE.search(value)
    if match:
        result = _valid_date(
            int(match[3]), _MONTHS[match[2].lower()], int(match[1]), min_date, max_date
        )
        if result:
            return result
    match = _TEXT_MDY_RE.search(value)
    if match:
        result = _valid_date(
            int(match[3]), _MONTHS[match[1].lower()], int(match[2]), min_date, max_date
        )
        if result:
            return result
    return None


def _url_date(
    url: str,
    min_date: Optional[str] = None, max_date: Optional[str] = None,
) -> Optional[str]:
    "URL date patterns (htmldate extract_url_date / img_pattern shapes)."
    for pat in (_URL_DATE_RE, _URL_ISO_RE):
        match = pat.search(url)
        if match:
            result = _valid_date(int(match[1]), int(match[2]), int(match[3]), min_date, max_date)
            if result:
                return result
    match = _URL_MONTHNAME_RE.search(url)
    if match:
        result = _valid_date(
            int(match[1]), _MONTHS[match[2].lower()], int(match[3]), min_date, max_date
        )
        if result:
            return result
    match = _URL_QUERY_DATE_RE.search(url)
    if match:
        result = _normalize_date(match[1], min_date, max_date)
        if result:
            return result
    match = _COMPACT_DATE_RE.search(url)
    if match:
        result = _valid_date(int(match[1]), int(match[2]), int(match[3]), min_date, max_date)
        if result:
            return result
    match = _URL_YM_RE.search(url)
    if match:
        return _valid_date(int(match[1]), int(match[2]), 1, min_date, max_date)
    return None


_SCAN_ATTRS = ("content", "datetime", "data-date", "title", "value")
_SCAN_LIMIT = 100_000
_ANY_DIGIT_RE = re.compile(r"\d")
_DATE_HINT_TAGS = frozenset(("span", "div", "p", "li", "em", "strong", "font"))


def find_date(
    tree: Element,
    url: Optional[str] = None,
    extensive: bool = True,
    original_date: bool = True,
    min_date: Optional[str] = None,
    max_date: Optional[str] = None,
) -> Optional[str]:
    """Publication-date ladder standing in for htmldate (the reference
    delegates at metadata.py:523-525 with original_date=True): published
    meta names -> JSON-LD datePublished -> <time>/date-attributed
    elements -> date-classed element text -> URL patterns -> modified
    meta names -> free-text scan -> copyright year.  Real-page agreement
    vs held-out article:published_time metas + URL dates: see
    tools/date_agreement.py and COVERAGE.md.

    ``original_date`` mirrors htmldate's parameter: True (the reference's
    setting) prefers the first-published date; False prefers the update —
    when both meta families are present the LATER of published/modified
    wins, the ladder is otherwise unchanged.

    ``min_date``/``max_date`` (ISO strings) mirror htmldate's
    plausibility window: a candidate outside the window is rejected at
    its rung and the ladder CONTINUES — e.g. a far-future meta stamp
    falls through to a plausible URL date (the reference default sets
    max_date=today, settings.py:216-222/cli_utils.py:231).

    Execution shape (round-7): every rung's inputs are collected in ONE
    document-order traversal up front — the ladder previously walked the
    tree once per rung (metas, scripts, itemprop/RDFa, <time>, <abbr>,
    date-classed elements, free-text scan: ~7 traversals on a page with
    no date at all, the common case in a crawl).  Evaluation below stays
    in exact ladder order over the collected rows, so results are
    byte-identical; only the traversal count changes."""
    # --- single fused collection walk (doc order == each rung's order) ---
    metas = []          # rung 1: <meta> elements (head-first == doc order)
    date_scripts = []   # rung 1.5
    itemprop_els = []   # rung 1.7 (any element with itemprop=datePublished/Created)
    rdfa_els = []       # rung 1.8 (non-meta property= elements w/ content)
    time_els = []       # rung 2
    abbr_els = []       # rung 2 (unix-time / title attrs)
    hint_els = []       # rung 3 (date-classed/-id'd elements, attrs present)
    link_canonical = None  # rung 4 fallback when no URL was passed
    scan_parts = []     # rung 6/7 free-text scan: texts, tails and _SCAN_ATTRS values
    scan_size = 0
    scan_open = True
    for el in tree.iter("*"):
        attrib = el.attrib
        if scan_open:
            t = el.text
            if t:
                scan_parts.append(t)
                scan_size += len(t) + 1
            t = el.tail
            if t:
                scan_parts.append(t)
                scan_size += len(t) + 1
            if attrib:
                for a in _SCAN_ATTRS:
                    piece = attrib.get(a)
                    if piece:
                        scan_parts.append(piece)
                        scan_size += len(piece) + 1
            if scan_size >= _SCAN_LIMIT:
                scan_open = False
        if el is tree:
            continue  # rungs iterate descendants only
        tag = el.tag
        if tag == "script":
            t = el.text
            if t and '"date' in t:
                date_scripts.append(t)
        elif tag == "time":
            time_els.append(el)
        elif tag == "abbr":
            abbr_els.append(el)
        if not attrib:
            continue
        if tag == "meta":
            metas.append(el)
        else:
            if attrib.get("property") and attrib.get("content"):
                rdfa_els.append(el)
            if link_canonical is None and tag == "link" and attrib.get("rel") == "canonical" and attrib.get("href"):
                link_canonical = attrib.get("href")
        if attrib.get("itemprop") in ("datePublished", "dateCreated"):
            itemprop_els.append(el)
        if tag in _DATE_HINT_TAGS:
            hint_els.append(el)

    # 1. meta vocabulary, publication names first
    modified_candidate = None
    for elem in metas:
        attrtype = (elem.get("name") or elem.get("property") or elem.get("itemprop") or "").lower()
        content = elem.get("content") or ""
        if not content:
            continue
        if attrtype in _DATE_META_NAMES:
            result = _normalize_date(content, min_date, max_date)
            if result:
                if not original_date:
                    # updated-date mode: let a later modified stamp win
                    for el2 in metas:
                        a2 = (el2.get("name") or el2.get("property") or el2.get("itemprop") or "").lower()
                        if a2 in _DATE_MODIFIED_META_NAMES and el2.get("content"):
                            mod = _normalize_date(el2.get("content"), min_date, max_date)
                            if mod and mod > result:
                                return mod
                return result
        elif attrtype in _DATE_MODIFIED_META_NAMES and modified_candidate is None:
            modified_candidate = _normalize_date(content, min_date, max_date)
    # 1.5 JSON-LD datePublished/dateCreated (htmldate scans structured
    # data right after the metas via regex, json_search): without this
    # rung a page whose published meta is absent but whose schema.org
    # block names datePublished falls through to <time> elements — which
    # on real pages are often the MODIFIED stamp or sidebar/related-post
    # dates (the top systematic miss in the eval-corpus agreement study,
    # tools/date_agreement.py)
    # datePublished outranks dateCreated/uploadDate ACROSS scripts
    # (htmldate's json_search looks for datePublished specifically; a
    # liveblog page can carry a dateCreated for every sub-item while the
    # single datePublished names the article — eval case lanacion)
    jsonld_mod = None
    for pattern in (_JSONLD_PUBLISHED_RE, _JSONLD_CREATED_RE):
        for text in date_scripts:
            for m in pattern.finditer(text):
                result = _normalize_date(m.group(1), min_date, max_date)
                if result:
                    if not original_date:
                        for m2 in _JSONLD_MODIFIED_RE.finditer(text):
                            mod = _normalize_date(m2.group(1), min_date, max_date)
                            if mod and mod > result:
                                result = mod
                    return result
    for text in date_scripts:
        for m2 in _JSONLD_MODIFIED_RE.finditer(text):
            jsonld_mod = _normalize_date(m2.group(1), min_date, max_date)
            if jsonld_mod:
                break
        if jsonld_mod:
            break
    if modified_candidate is None:
        modified_candidate = jsonld_mod
    # 1.7 microdata itemprop=datePublished on ANY element (taz puts it on
    # an <li content=...>, macwelt on a bare <meta> outside <head>) — but
    # only when the page agrees on ONE distinct value: related-article
    # rails carry a datePublished per card (eval case madame.lefigaro),
    # and picking the first would read the rail, not the article
    # ... and 1.8: RDFa publication stamps on non-meta elements —
    # Drupal-family pages stamp <span property="dc:date" content="...">
    # (eval case lostiempos) with the rung-1 vocabulary, which only sees
    # <meta> elements (':' and '.' separators are interchangeable in the
    # wild).  One tree walk serves both rungs: this runs per document in
    # the fused extract+metadata path.
    itemprop_dates: Dict[str, int] = {}
    rdfa_date = None
    for el in itemprop_els:
        for candidate in (el.get("content"), el.get("datetime")):
            if candidate:
                result = _normalize_date(candidate, min_date, max_date)
                if result:
                    itemprop_dates[result] = itemprop_dates.get(result, 0) + 1
                break
    for el in rdfa_els:
        prop = (el.get("property") or "").lower().replace(":", ".")
        if prop in _DATE_META_NAMES:
            rdfa_date = _normalize_date(el.get("content"), min_date, max_date)
            if rdfa_date:
                break
    if len(itemprop_dates) == 1:
        return next(iter(itemprop_dates))
    if rdfa_date:
        return rdfa_date
    # 2. explicit date-bearing elements: <time datetime>, unix-time attrs
    for time_el in time_els:
        for candidate in (time_el.get("datetime"), time_el.get("content"), time_el.text_content()):
            if candidate:
                result = _normalize_date(candidate, min_date, max_date)
                if result:
                    return result
    for abbr in abbr_els:
        utime = abbr.get("data-utime")
        if utime and utime.isdigit():
            try:
                from datetime import datetime, timezone

                dt = datetime.fromtimestamp(int(utime), tz=timezone.utc)
                result = _valid_date(dt.year, dt.month, dt.day, min_date, max_date)
                if result:
                    return result
            except (OverflowError, OSError, ValueError):
                pass
        title = abbr.get("title")
        if title:
            result = _normalize_date(title, min_date, max_date)
            if result:
                return result
    # 3. date-classed/-id'd element text and data-* attributes
    for el in hint_els:
        hint = f"{el.get('class') or ''} {el.get('id') or ''} {el.get('itemprop') or ''}"
        if not _DATEISH_ATTR_RE.search(hint):
            continue
        for candidate in (el.get("data-date"), el.get("datetime"), el.get("content"), el.text_content()[:120]):
            if candidate:
                result = _normalize_date(candidate, min_date, max_date)
                if result:
                    return result
    # 4. URL path patterns: the caller's URL, else the page's OWN
    # canonical / og:url declaration (htmldate examines the canonical
    # link the same way — a WordPress permalink like /2014/05/18/... in
    # <link rel="canonical"> is often the only machine date on the page)
    url_candidates = [url] if url else []
    if not url:
        if link_canonical:
            url_candidates.append(link_canonical)
        for el in metas:
            if (el.get("property") or el.get("name")) == "og:url" and el.get("content"):
                url_candidates.append(el.get("content"))
                break
    for candidate_url in url_candidates:
        result = _url_date(candidate_url, min_date, max_date)
        if result:
            return result
    # 5. free-text scan before the modified meta: htmldate with
    # original_date=True SKIPS modified metas in examine_meta entirely
    # (core.py `elif "modified" in attribute and not original_date`), so
    # a byline date in the text must outrank article:modified_time —
    # eval case pferderevue ("27.01.2022" byline vs a 02-04 modified
    # stamp).  We keep the modified stamp as a last-resort rung below
    # rather than dropping it (better a modified date than none).
    if not extensive:
        return modified_candidate
    # 6. free-text scan (bounded) — htmldate's search_page +
    # select_candidate shape: collect EVERY in-window occurrence across
    # all patterns and score by frequency (a page that lists its
    # publication date in the byline, the footer, and a citation block
    # outvotes one stray archive link), instead of first-match-wins.
    # Ties go to the earliest date under original_date (htmldate's
    # original preference) else the latest.  htmldate scans the RAW
    # HTML SOURCE, not the rendered text: script bodies and date-bearing
    # attributes (dataLayer publish stamps, content= attrs) vote too,
    # and element boundaries separate tokens that text_content() glues
    # ("Berlin2. Oktober 2015" hides the day behind a \b).
    text = " ".join(scan_parts)[:_SCAN_LIMIT]
    # every pattern below requires a digit: a digit-less page (most
    # boilerplate-only or pure-prose fragments) skips four full regex
    # scans and the copyright rung with an identical outcome
    if _ANY_DIGIT_RE.search(text):
        counts: Dict[str, int] = {}
        for pat in (_TEXT_DMY_RE, _TEXT_MDY_RE, _ISO_DATE_RE, _DMY_DOT_RE):
            for match in pat.finditer(text):
                result = _normalize_date(match.group(0), min_date, max_date)
                if result:
                    counts[result] = counts.get(result, 0) + 1
        if counts:
            best = max(counts.values())
            tied = sorted(d for d, c in counts.items() if c == best)
            return tied[0] if original_date else tied[-1]
        # 6.5 modified-date meta (weaker than every published signal)
        if modified_candidate:
            return modified_candidate
        # 7. copyright year, the last-resort rung (day/month default to Jan 1)
        match = _COPYRIGHT_RE.search(text)
        if match:
            return _valid_date(int(match[1]), 1, 1, min_date, max_date)
        return None
    return modified_candidate


def check_authors(author: Optional[str], author_blacklist) -> Optional[str]:
    """Drop blacklisted names from a ';'-joined author string (reference
    metadata.py:159-166): split on ';' (any surrounding spacing), strip each
    name before the membership test, rejoin stripped survivors with '; '."""
    if not author:
        return None
    blacklist = {a.lower() for a in author_blacklist}
    surviving = [
        stripped
        for name in author.split(";")
        if (stripped := name.strip()) and stripped.lower() not in blacklist
    ]
    return "; ".join(surviving) or None


def extract_metadata(
    filecontent,
    default_url: Optional[str] = None,
    author_blacklist=frozenset(),
    date_extensive: bool = True,
    date_original: bool = True,
    min_date: Optional[str] = None,
    max_date: Optional[str] = None,
) -> Metadata:
    """Orchestrator (metadata.py:458-563; author_blacklist as in
    :471-474).  The date knobs mirror the reference's
    date_extraction_params pass-through to htmldate (core.py:344-351),
    including the min_date/max_date plausibility window."""
    tree = load_html(filecontent)
    if tree is None:
        return Metadata()

    # Every field extractor but find_date reads this one document-order
    # list, built per call; nothing may change the tree until it returns.
    # The parser always makes <head> the root's first child, so <head>'s
    # elements come first here: the first match in the list is the
    # reference's head-first match.
    elements = list(tree.iterdescendants())
    metadata = examine_meta(elements)
    if metadata.author and " " not in metadata.author:
        metadata.author = None

    try:
        metadata = extract_meta_json(elements, metadata)
    except Exception:
        pass

    if not metadata.title:
        metadata.title = extract_title(elements)
    if author_blacklist:
        metadata.author = check_authors(metadata.author, author_blacklist)
    if not metadata.author:
        metadata.author = extract_author(tree, elements)
    if author_blacklist:
        metadata.author = check_authors(metadata.author, author_blacklist)
    if not metadata.url:
        metadata.url = extract_url(elements, default_url)
    if metadata.url:
        metadata.hostname = extract_domain(metadata.url)
    # a JSON-LD/meta date set upstream is still subject to the window:
    # out-of-window stamps re-enter the ladder instead of standing
    if metadata.date and not _in_window(metadata.date, min_date, max_date):
        metadata.date = None
    if not metadata.date:
        metadata.date = find_date(
            tree, metadata.url, extensive=date_extensive, original_date=date_original,
            min_date=min_date, max_date=max_date,
        )
    if not metadata.sitename:
        metadata.sitename = extract_sitename(elements)
    if metadata.sitename:
        metadata.sitename = metadata.sitename.lstrip("@")
        if metadata.sitename and "." not in metadata.sitename and not metadata.sitename[0].isupper():
            metadata.sitename = metadata.sitename.title()
    elif metadata.url:
        mymatch = META_URL.match(metadata.url)
        if mymatch:
            metadata.sitename = mymatch[1]
    if not metadata.categories:
        metadata.categories = extract_catstags("category", elements)
    if not metadata.tags:
        metadata.tags = extract_catstags("tag", elements)
    metadata.license = extract_license(elements)

    # trim all string fields (Document.clean_and_trim analog)
    for attr in ("title", "author", "url", "hostname", "description", "sitename",
                 "date", "license", "image", "pagetype"):
        value = getattr(metadata, attr)
        if isinstance(value, str):
            if len(value) > 10000:
                value = value[:9999] + "…"
            setattr(metadata, attr, line_processing(unescape(value)))
    return metadata
