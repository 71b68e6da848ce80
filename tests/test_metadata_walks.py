"""extract_metadata reads the document once (ROADMAP item 8).

One call may start at most two traversals on the document root or its
<head>: the element list every field extractor reads, and find_date's
own walk.  A page that matches the author discard rules adds one walk
of the pruned copy extract_author makes.  Counted by wrapping the DOM's
traversal methods.
"""

import pytest

from perfbench.corpus import page_html
from trafilatura_spark import fixtures as fx
from trafilatura_spark.kernel.dom import Element
from trafilatura_spark.kernel.loader import load_html
from trafilatura_spark.kernel.metadata import extract_metadata
from trafilatura_spark.operators.extract import wrap_if_fragment

_WALKS = ("iter", "iterdescendants", "find", "findall")


def _walks_per_call(monkeypatch, html: str) -> tuple:
    """(document, copy): traversals started on the page's root or <head>,
    and on the root or <head> of a copy of it."""
    tree = load_html(html)
    head = tree.find("head")
    busy = []
    counts = {"document": 0, "copy": 0}

    def counting(name):
        method = getattr(Element, name)

        def walk(self, *args):
            # find/findall and iter("*") walk through iterdescendants: count the outer call
            if not busy:
                if self is tree or self is head:
                    counts["document"] += 1
                elif self.tag == "head" or (self.tag == "html" and self.getparent() is None):
                    counts["copy"] += 1
            busy.append(name)
            try:
                out = method(self, *args)
                return out if name.startswith("find") else iter(list(out))
            finally:
                busy.pop()

        return walk

    for name in _WALKS:
        monkeypatch.setattr(Element, name, counting(name))
    extract_metadata(tree)
    return counts["document"], counts["copy"]


@pytest.mark.parametrize(
    "html",
    [
        pytest.param(wrap_if_fragment(fx._genre_plain_article(1)), id="chat_turn"),
        pytest.param(page_html("w1p000000", 5000), id="web_page"),
        pytest.param(next(html for _, html in fx.ladder_rows(300) if "<meta" not in html), id="ladder_no_metas"),
    ],
)
def test_one_element_list_and_the_date_walk(monkeypatch, html):
    document, copy = _walks_per_call(monkeypatch, html)
    assert document <= 2 and copy <= 1


def test_author_discard_adds_one_walk_of_the_copy(monkeypatch):
    html = wrap_if_fragment(fx._genre_comments(3))  # <div id="comments"> matches a discard rule
    assert _walks_per_call(monkeypatch, html) == (2, 1)
