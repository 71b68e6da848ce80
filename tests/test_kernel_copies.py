"""Tree copies in the extraction cascade: a copy exists only for a stage
that mutates a tree while a later stage reads the original.  Undoable
prunes (the overall-discard pass, recall-mode tree cleaning) decide
before they delete, so they copy only when they do undo."""

import pytest

from trafilatura_spark import fixtures as fx
from trafilatura_spark.kernel.cleaning import tree_cleaning
from trafilatura_spark.kernel.dom import Element, parse_html
from trafilatura_spark.kernel.handlers import prune_unwanted_sections
from trafilatura_spark.kernel.settings import TAG_CATALOG, Options
from trafilatura_spark.operators.extract import extract_one_result

_RECALL_PAGE = (
    f'<html><body><div class="page"><aside><p>{fx._paragraph(7, 2, 12)}</p></aside>'
    f"<div>{fx._long_text(11, 600)}</div><form><p>{fx._paragraph(13, 3, 10)}</p></form></div></body></html>"
)


def _shape(tree: Element) -> list:
    return [(el.tag, el.text, el.tail) for el in tree.iter()]


@pytest.mark.parametrize(
    "html, options, tier, copies",
    [
        # a chat turn: the overall-discard pass runs and keeps its deletions
        (fx._genre_plain_article(5), Options(), "main", 4),
        # recall mode: tree cleaning would leave no <p>, so it deletes nothing
        (_RECALL_PAGE, Options(focus="recall"), "main", 4),
        # the recall escalation, whose jusText rescue takes its own copy
        (fx._genre_recall_escalation(3), Options(), "escalation_recall", 9),
    ],
    ids=["chat_turn", "recall_page", "escalating_page"],
)
def test_copy_tree_calls_per_document(monkeypatch, html, options, tier, copies):
    calls = []
    copy_tree = Element.copy_tree
    monkeypatch.setattr(Element, "copy_tree", lambda el: calls.append(el) or copy_tree(el))
    result = extract_one_result(html, options, timeout=None)
    assert (result.tier, len(calls)) == (tier, copies)


def _article(html: str) -> tuple:
    "(root, article): the caller holds the root, since a parent is held weakly."
    root = parse_html(html)
    return root, root.find(".//article")


def test_overall_discards_holding_most_text_return_a_pristine_copy():
    long = fx._long_text(3, 800)
    html = (
        f'<html><body><article><p>Short lead.</p><div class="sidebar"><p>{long}</p></div>tail text'
        "</article></body></html>"
    )
    root, article = _article(html)
    pristine = _shape(article)
    kept = prune_unwanted_sections(article, set(TAG_CATALOG), Options())
    # the returned subtree is a detached copy of the untouched article...
    assert kept is not article and kept.getparent() is None
    assert long in kept.text_content() and kept.find(".//div") is not None
    # ...while the article itself stays pruned in its document, tail kept
    assert article.getparent() is root.find("body") and _shape(article) != pristine
    assert article.find(".//div") is None and article.text_content() == "Short lead.tail text"


def test_overall_discards_holding_little_text_prune_in_place():
    html = (
        f"<html><body><article><p>{fx._long_text(3, 800)}</p>"
        '<div class="sidebar"><p>Related links.</p></div></article></body></html>'
    )
    root, article = _article(html)
    assert prune_unwanted_sections(article, set(TAG_CATALOG), Options()) is article
    assert article.find(".//div") is None


def test_recall_cleaning_without_a_surviving_paragraph_deletes_nothing():
    tree = parse_html(_RECALL_PAGE)
    before = _shape(tree)
    cleaned = tree_cleaning(tree, Options(focus="recall"))
    assert _shape(cleaned) == before
    # a <p> outside the cleaned-away elements lets the deletions run
    tree = parse_html(_RECALL_PAGE.replace("</div></body>", "<p>Kept paragraph.</p></div></body>"))
    cleaned = tree_cleaning(tree, Options(focus="recall"))
    assert cleaned.find(".//aside") is None and cleaned.find(".//form") is None
    assert [p.text for p in cleaned.iter("p")] == ["Kept paragraph."]
