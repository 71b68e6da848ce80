"""Tree -> text/markdown serialization.

Semantics mirror /root/reference/trafilatura/xml.py:299-623
(process_element, replace_element_text, xmltotxt and the markdown
helpers).  The txt path (include_formatting=False) is the
equality-critical one for the graft.
"""

from __future__ import annotations

import re
from html import unescape
from typing import Optional

from .dom import Element
from .settings import INLINE_CONSUMING, INLINE_FORMATTABLE
from .textutils import (
    is_element_in_item,
    is_in_table_cell,
    is_last_element_in_cell,
    is_last_element_in_item,
    item_if_first_element,
    sanitize,
)

NEWLINE_ELEMS = {"graphic", "head", "lb", "list", "p", "quote", "row", "table"}
SPECIAL_FORMATTING = {"code", "del", "head", "hi", "ref", "item", "cell"}
HI_FORMATTING = {"#b": "**", "#i": "*", "#u": "__", "#t": "`"}
HI_HTML_TAGS = {"#sup": "sup", "#sub": "sub"}
HEADING_LEVELS = frozenset("123456")
SEPARATORS = frozenset((" ", "\n", "|", ""))

_MATH_BLOCK_RE = re.compile(r"(?<!\S)\\\[(.+?)\\\]", re.DOTALL)
_MATH_INLINE_RE = re.compile(r"\\\((.+?)\\\)")


def _code_fence(text: str, min_len: int = 1) -> str:
    fence_len = min_len
    run = 0
    for ch in text:
        if ch == "`":
            run += 1
            if run >= fence_len:
                fence_len = run + 1
        else:
            run = 0
    return "`" * fence_len


def _code_span(text: str) -> str:
    fence = _code_fence(text)
    if text.startswith("`") or text.endswith("`"):
        text = f" {text} "
    return f"{fence}{text}{fence}"


def _md_wrap(text: str, opening: str, closing: Optional[str] = None) -> str:
    stripped = text.strip()
    if not stripped:
        return text
    closing = opening if closing is None else closing
    return text.replace(stripped, f"{opening}{stripped}{closing}", 1)


def _md_code(text: str) -> str:
    stripped = text.strip()
    return text.replace(stripped, _code_span(stripped), 1) if stripped else text


def _convert_math(text: str) -> str:
    text = _MATH_BLOCK_RE.sub(lambda m: f"\n$$\n{m.group(1).strip()}\n$$\n", text)
    return _MATH_INLINE_RE.sub(lambda m: f"${m.group(1)}$", text)


def _collapse_emphasis(element: Element, active: frozenset = frozenset()) -> None:
    if element.tag == "hi":
        here = HI_FORMATTING.get(element.get("rend") or "")
        if here:
            active = active | {here}
        while (
            not (element.text or "").strip()
            and len(element) == 1
            and element[0].tag == "hi"
            and not (element[0].tail or "").strip()
            and HI_FORMATTING.get(element[0].get("rend") or "") in active
        ):
            child = element[0]
            element.text = (element.text or "") + (child.text or "")
            element.extend(list(child))
            element.remove(child)
    for child in element:
        _collapse_emphasis(child, active)


def _convert_math_tree(element: Element) -> None:
    if element.tag == "code" or (
        element.tag == "hi" and HI_FORMATTING.get(element.get("rend") or "") == "`"
    ):
        return
    if element.text:
        element.text = _convert_math(element.text)
    for child in element:
        _convert_math_tree(child)
        if child.tail:
            child.tail = _convert_math(child.tail)


def _last_char(returnlist: list) -> str:
    return returnlist[-1][-1:] if returnlist else ""


def _list_marker(element: Element, in_item: Optional[bool] = None, include_formatting: bool = True) -> str:
    if in_item is None:
        in_item = is_element_in_item(element)
    if not in_item:
        return ""
    item = item_if_first_element(element)
    if item is None or is_in_table_cell(element):
        return ""
    indent = "  " * (sum(1 for _ in item.iterancestors("list")) - 1)
    parent = item.getparent()
    if include_formatting and parent is not None and parent.get("rend") == "ol":
        return f"{indent}{sum(1 for _ in item.itersiblings('item', preceding=True)) + 1}. "
    return f"{indent}- "


def _md_link(text: str, url: Optional[str], image: bool = False) -> str:
    esc = text.replace("[", "\\[").replace("]", "\\]")
    prefix = "!" if image else ""
    if url is None:
        return f"{prefix}[{esc}]"
    if any(c in url for c in " <>()"):
        inner = url.replace("\\", "\\\\").replace("<", "\\<").replace(">", "\\>")
        safe = f"<{inner}>"
    else:
        safe = url
    return f"{prefix}[{esc}]({safe})"


def _consumes_inline_children(element: Element) -> bool:
    return element.tag in INLINE_CONSUMING and len(element) > 0


def _heading_prefix(element: Element) -> str:
    level = element.get("rend") or ""
    number = int(level[1]) if level[1:2] in HEADING_LEVELS else 2
    return "#" * number


def _image_markup(element: Element) -> str:
    alt = f"{element.get('title', '')} {element.get('alt', '')}".strip()
    return _md_link(alt, element.get("src", ""), image=True)


def _collect_inline_text(element: Element, include_formatting: bool) -> str:
    parts: list = [element.text] if element.text else []
    for child in element:
        if child.tag == "graphic":
            parts.append(_image_markup(child))
        elif child.tag == "lb":
            parts.append("\n")
        elif child.tag in INLINE_FORMATTABLE:
            parts.append(replace_element_text(child, include_formatting))
        elif child.text:
            parts.append(child.text)
        if child.tail:
            parts.append(child.tail)
    return "".join(parts)


def _escape_cell(text: str) -> str:
    return text.replace("|", "\\|").replace("\n", " ")


def replace_element_text(
    element: Element, include_formatting: bool, in_item: Optional[bool] = None, in_cell: bool = False
) -> str:
    "Element text with optional markdown markers (reference xml.py:456-518)."
    if _consumes_inline_children(element):
        elem_text = _collect_inline_text(element, include_formatting)
    else:
        elem_text = element.text or ""
    if include_formatting and elem_text:
        if element.tag in ("article", "list", "table"):
            elem_text = elem_text.strip()
        elif element.tag == "head" and not in_cell:
            elem_text = f"{_heading_prefix(element)} {elem_text}"
        elif element.tag == "del":
            elem_text = _md_wrap(elem_text.replace("~~", "~\\~"), "~~")
        elif element.tag == "hi":
            rend = element.get("rend") or ""
            marker = HI_FORMATTING.get(rend)
            if marker == "`":
                elem_text = _md_code(elem_text)
            elif marker:
                elem_text = _md_wrap(elem_text, marker)
            elif rend in HI_HTML_TAGS:
                tag = HI_HTML_TAGS[rend]
                elem_text = _md_wrap(elem_text, f"<{tag}>", f"</{tag}>")
        elif element.tag == "code":
            lbs = element.findall(".//lb")
            if "\n" in elem_text or lbs:
                for lb in lbs:
                    elem_text = f"{elem_text}\n{lb.tail or ''}"
                    lb.getparent().remove(lb)
                fence = _code_fence(elem_text, min_len=3)
                elem_text = f"{fence}\n{elem_text}\n{fence}\n"
            else:
                elem_text = _md_code(elem_text)
    if element.tag == "ref":
        stripped = elem_text.strip()
        if stripped:
            target = element.get("target")
            link_text = _md_link(stripped, target or None)
            elem_text = elem_text.replace(stripped, link_text, 1)
    if element.tag == "cell":
        elem_text = elem_text.strip()
        if elem_text and len(element):
            elem_text = f"{elem_text} "

    elem_text = f"{_list_marker(element, in_item, include_formatting)}{elem_text}"

    if in_cell:
        elem_text = _escape_cell(elem_text)

    return elem_text


def process_element(
    element: Element, returnlist: list, include_formatting: bool, in_cell: bool = False, in_item: bool = False
) -> None:
    "Recursive flattening (reference xml.py:521-606)."
    in_cell = in_cell or element.tag == "cell"
    in_item = in_item or element.tag == "item"
    # the first cell of its row; getprevious() would scan every sibling
    if element.tag == "cell" and ((parent := element.getparent()) is None or parent[0] is element):
        returnlist.append("| ")

    if element.tag in NEWLINE_ELEMS and not in_cell and not in_item and _last_char(returnlist) not in SEPARATORS:
        returnlist.append("\n")

    _consumes_children = _consumes_inline_children(element)
    _renders_inline = bool(element.text) or _consumes_children

    if _renders_inline:
        returnlist.append(replace_element_text(element, include_formatting, in_item, in_cell))
    elif include_formatting and element.tag == "head" and not in_cell and len(element):
        returnlist.append(f"{_heading_prefix(element)} ")

    if element.tail and element.tag != "graphic" and in_cell:
        tail = element.tail.strip()
        if tail and _last_char(returnlist) not in (" ", "|", ""):
            tail = f" {tail}"
        returnlist.append(_escape_cell(tail))

    if element.tag == "list" and in_item and _last_char(returnlist) not in ("\n", ""):
        returnlist.append("\n")

    if not _consumes_children:
        for child in element:
            process_element(child, returnlist, include_formatting, in_cell, in_item)

    if not _renders_inline:
        if element.tag == "graphic":
            image = f"{_list_marker(element, in_item, include_formatting)}{_image_markup(element)}"
            if in_cell:
                image = _escape_cell(image)
            returnlist.append(image)

            if element.tail:
                tail_text = f" {element.tail.strip()}"
                returnlist.append(_escape_cell(tail_text) if in_cell else tail_text)
        elif element.tag in NEWLINE_ELEMS:
            if element.tag == "row":
                cells = element.findall("cell")
                if any(cell.get("role") == "head" for cell in cells):
                    returnlist.append(f"\n|{'---|' * len(cells)}\n")
            elif not in_cell:
                returnlist.append("\n")
        elif element.tag not in ("cell", "item"):
            return

    last_in_item = in_item and is_last_element_in_item(element)
    if element.tag in NEWLINE_ELEMS and not in_cell and not in_item:
        returnlist.append("\n␤\n" if include_formatting and element.tag != "row" else "\n")
    elif element.tag == "cell":
        returnlist.append(" | ")
    elif element.tag in ("head", "item") and in_cell and not is_last_element_in_cell(element):
        returnlist.append(" ")
    elif element.tag not in SPECIAL_FORMATTING and not last_in_item and not is_last_element_in_cell(element):
        returnlist.append(" ")

    if element.tail and not in_cell and element.tag != "graphic":
        tail = element.tail.strip() if in_item or element.tag == "list" else element.tail
        if tail and in_item and _last_char(returnlist) not in SEPARATORS:
            tail = f" {tail}"
        returnlist.append(tail)

    if last_in_item and not in_cell:
        returnlist.append("\n")


def xmltotxt(xmloutput: Optional[Element], include_formatting: bool) -> str:
    "Convert to plain text / markdown (reference xml.py:609-623)."
    if xmloutput is None:
        return ""

    returnlist: list = []

    if include_formatting:
        xmloutput = xmloutput.copy_tree()
        _convert_math_tree(xmloutput)
        _collapse_emphasis(xmloutput)
    process_element(xmloutput, returnlist, include_formatting)

    return unescape(sanitize("".join(returnlist), True) or "")
