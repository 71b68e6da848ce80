"""Text normalization helpers for the extraction kernel.

Semantics mirror /root/reference/trafilatura/utils.py:281-366 and 467-478
(trim/sanitize/line_processing/textfilter/text_chars_test); behavior is
byte-equality sensitive for the txt output path.
"""

from __future__ import annotations

import re
import unicodedata
from functools import lru_cache
from typing import Optional

# newlines not preceded by punctuation or '>' get collapsed to a space
# (reference utils.py:82).  Python's re has no \p{P}; equivalent: rely on
# unicodedata punctuation test via a function-based substitution.
def _is_punct(ch: str) -> bool:
    return unicodedata.category(ch).startswith("P")


INVALID_XML_CHARS = re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f￾￿]")

# social-media boilerplate line filter (reference utils.py:97-102)
RE_FILTER = re.compile(
    r"\W*(Drucken|E-?Mail|Facebook|Flipboard|Google|Instagram|"
    "Linkedin|Mail|PDF|Pinterest|Pocket|Print|QQ|Reddit|Twitter|"
    "WeChat|WeiBo|Whatsapp|Xing|Mehr zum Thema:?|More on this.{,8}$)$",
    flags=re.IGNORECASE,
)

LINK_FARM_RATIO = 0.9

IMAGE_EXTENSION = re.compile(r"[^\s]+\.(avif|bmp|gif|hei[cf]|jpe?g|png|webp)(\b|$)", re.I)

FORMATTING_PROTECTED = {"cell", "head", "hi", "item", "p", "quote", "ref", "td"}


@lru_cache(maxsize=1024)
def trim(string: Optional[str]) -> str:
    "Collapse all whitespace runs to single spaces and strip (utils.py:359-366)."
    try:
        return " ".join(string.split()).strip()  # type: ignore[union-attr]
    except (AttributeError, TypeError):
        return ""


@lru_cache(maxsize=2**14)
def _printable_or_space(ch: str) -> str:
    return ch if ch.isprintable() or ch.isspace() else ""


def remove_control_characters(string: str) -> str:
    if string.isprintable():
        return string
    return "".join(map(_printable_or_space, string))


def normalize_unicode(string: str, form: str = "NFC") -> str:
    return unicodedata.normalize(form, string)


def _collapse_soft_newlines(line: str) -> str:
    """Replace '\\n' not preceded by punctuation or '>' with a space
    (reference LINES_TRIMMING, utils.py:82)."""
    out = []
    for i, ch in enumerate(line):
        if ch == "\n":
            prev = line[i - 1] if i > 0 else ""
            if prev == ">" or (prev and _is_punct(prev)):
                out.append(ch)
            else:
                out.append(" ")
        else:
            out.append(ch)
    return "".join(out)


@lru_cache(maxsize=1024)
def line_processing(line: str, preserve_space: bool = False, trailing_space: bool = False) -> Optional[str]:
    "Entity/space handling per reference utils.py:300-318."
    new_line = remove_control_characters(
        line.replace("&#13;", "\r").replace("&#10;", "\n").replace("&nbsp;", " ")
    )
    if not preserve_space:
        new_line = trim(_collapse_soft_newlines(new_line))
        if all(map(str.isspace, new_line)):
            new_line = None  # type: ignore[assignment]
        elif trailing_space:
            space_before = " " if line[0].isspace() else ""
            space_after = " " if line[-1].isspace() else ""
            new_line = "".join([space_before, new_line, space_after])
    return new_line


def clear_string_memos() -> None:
    """Empty the ``trim`` and ``line_processing`` memos.  Their keys and
    values are arbitrary texts, whole documents included, so the batch
    loop calls this after every row: their hits within one document
    stay, but no memoized string outlives its row in a reused worker."""
    trim.cache_clear()
    line_processing.cache_clear()


def sanitize(text: Optional[str], preserve_space: bool = False, trailing_space: bool = False) -> Optional[str]:
    "Line-by-line cleanup (reference utils.py:321-332)."
    if trailing_space:
        return line_processing(text, preserve_space, True) if isinstance(text, str) else None
    try:
        return "\n".join(
            filter(None, (line_processing(line, preserve_space) for line in text.splitlines()))  # type: ignore[union-attr]
        ).replace("␤", "")
    except AttributeError:
        return None


def text_chars_test(string: Optional[str]) -> bool:
    "True when the string has any non-space character (utils.py:474-478)."
    return bool(string and not string.isspace())


def textfilter(element) -> bool:
    "Drop social-media boilerplate text nodes (utils.py:467-471)."
    testtext = element.tail if element.text is None else element.text
    return not testtext or testtext.isspace() or any(map(RE_FILTER.match, testtext.splitlines()))


def is_image_file(imagesrc: Optional[str]) -> bool:
    if imagesrc is None or len(imagesrc) > 8192:
        return False
    return bool(IMAGE_EXTENSION.search(imagesrc))


def is_image_element(element) -> bool:
    for attr in ("data-src", "src"):
        if is_image_file(element.get(attr, "")):
            return True
    for attr, value in element.attrib.items():
        if attr.startswith("data-src") and is_image_file(value):
            return True
    return False


# --- item/cell position helpers for the serializer (utils.py:481-533) -----

def is_in_table_cell(elem) -> bool:
    if elem.getparent() is None:
        return False
    current = elem
    while current is not None:
        if current.tag == "cell":
            return True
        current = current.getparent()
    return False


def is_last_element_in_cell(elem) -> bool:
    if not is_in_table_cell(elem):
        return False
    container = elem if elem.tag == "cell" else elem.getparent()
    return container is None or len(container) == 0 or container[-1] is elem


def is_element_in_item(element) -> bool:
    current = element
    while current is not None:
        if current.tag == "item":
            return True
        current = current.getparent()
    return False


def item_if_first_element(element):
    "Enclosing list item if `element` carries its first content, else None."
    if element.tag == "item":
        return element if element.text else None
    item = next(element.iterancestors("item"), None)
    if item is not None and not item.text and element is next(item.iterdescendants(), None):
        return item
    return None


def is_last_element_in_item(element) -> bool:
    if not is_element_in_item(element):
        return False
    if element.tag == "item":
        return len(element) == 0
    nxt = element.getnext()
    return nxt is None or nxt.tag == "item"
