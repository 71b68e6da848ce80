"""DOM layer: parsing, text/tail semantics, mutation primitives."""

from trafilatura_spark.kernel.dom import (
    Element,
    delete_element,
    iter_outside,
    parse_html,
    strip_elements,
    strip_tags,
)


def parse_body(html: str):
    tree = parse_html(f"<html><body>{html}</body></html>")
    return tree.find("body")


def test_basic_structure():
    body = parse_body("<p>hello <b>bold</b> tail</p>")
    p = body[0]
    assert p.tag == "p"
    assert p.text == "hello "
    assert p[0].tag == "b"
    assert p[0].text == "bold"
    assert p[0].tail == " tail"


def test_void_elements():
    body = parse_body("<p>a<br>b</p>")
    p = body[0]
    assert p[0].tag == "br"
    assert p[0].tail == "b"


def test_implied_p_close():
    body = parse_body("<p>one<p>two</p>")
    assert [c.tag for c in body] == ["p", "p"]
    assert body[0].text == "one"
    assert body[1].text == "two"


def test_implied_li_close():
    body = parse_body("<ul><li>a<li>b</ul>")
    ul = body[0]
    assert [c.tag for c in ul] == ["li", "li"]
    assert ul[0].text == "a"


def test_text_content_and_itertext():
    body = parse_body("<div>a<span>b</span>c<p>d</p></div>")
    assert body.text_content() == "abcd"


def test_strip_tags_splices_children():
    body = parse_body("<p>a<span>b<i>c</i>d</span>e</p>")
    p = body[0]
    strip_tags(p, "span")
    assert p.text == "ab"
    assert p[0].tag == "i"
    assert p[0].text == "c"
    assert p[0].tail == "de"


def test_strip_elements_removes_subtree():
    body = parse_body("<div><p>keep</p><nav><p>drop</p></nav>tail</div>")
    strip_elements(body, "nav")
    assert body.text_content() == "keep"


def test_delete_element_keeps_tail():
    body = parse_body("<div><b>x</b>tail text</div>")
    div = body[0]
    delete_element(div[0])
    assert div.text == "tail text"


def test_comments_dropped():
    body = parse_body("<p>a<!-- comment -->b</p>")
    assert body[0].text == "ab"


def test_entities_decoded():
    body = parse_body("<p>a &amp; b &lt;c&gt;</p>")
    assert body[0].text == "a & b <c>"


def test_attr_order_preserved():
    body = parse_body('<div class="x" id="y"></div>')
    assert list(body[0].attrib) == ["class", "id"]


def test_copy_tree_detached():
    body = parse_body("<div><p>a</p></div>")
    copy = body.copy_tree()
    copy[0][0].text = "changed"
    assert body[0][0].text == "a"
    assert copy.getparent() is None


def test_append_of_the_last_child_keeps_the_tree():
    body = parse_body("<p>a</p><p>b</p>")
    first, last = body[0], body[1]
    body.append(last)
    assert list(body) == [first, last] and last.getparent() is body
    body.append(first)  # a child that is not last still moves to the end
    assert list(body) == [last, first] and first.getparent() is body


def test_iter_outside_yields_skipped_roots_but_not_their_subtrees():
    body = parse_body("<div><p>a</p><aside><p>b</p></aside></div><p>c</p>")
    aside = body.find(".//aside")
    assert [el.tag for el in iter_outside(body, {aside})] == ["div", "p", "aside", "p"]
    assert list(iter_outside(body, set())) == list(body.iterdescendants())


def test_misnested_recovery():
    body = parse_body("<b>x<p>y</p>")
    assert body.text_content() == "xy"


def test_table_structure():
    body = parse_body("<table><tr><td>a</td><td>b</td></tr><tr><td>c</td></tr></table>")
    table = body[0]
    assert [c.tag for c in table] == ["tr", "tr"]
    assert len(table[0]) == 2


def test_script_content_preserved():
    tree = parse_html('<html><body><script type="application/ld+json">{"a": 1}</script></body></html>')
    script = tree.find("body").find("script")
    assert script.text == '{"a": 1}'


def test_copy_tree_survives_pathological_depth():
    """copy_tree is iterative: a crawl-scale corpus will contain
    adversarially deep markup, and a recursive clone would blow the
    interpreter recursion limit long before the 20 MB size gate fires."""
    from trafilatura_spark.kernel.dom import Element

    root = Element("div")
    node = root
    for _ in range(5000):
        child = Element("div")
        node.append(child)
        node = child
    node.text = "leaf"
    clone = root.copy_tree()
    d = clone
    depth = 0
    while len(d):
        d = d[0]
        depth += 1
    assert depth == 5000 and d.text == "leaf"


def test_text_content_matches_itertext_join():
    from trafilatura_spark.kernel.dom import parse_html

    tree = parse_html(
        "<html><body><p>a<b>b</b>c</p><div>d<span>e</span>f<br/>g</div>tail</body></html>"
    )
    for el in tree.iter():
        assert el.text_content() == "".join(el.itertext())


# -- parents are weak references: trees are acyclic -----------------------------

def test_a_moved_element_reports_its_new_parent():
    body = parse_body("<div><p>a</p></div><section></section>")
    div, section = body[0], body[1]
    p = div[0]
    section.append(p)
    assert p.getparent() is section and len(div) == 0
    div.insert(0, p)
    assert p.getparent() is div and len(section) == 0
    span = Element("span")
    p.addnext(span)
    assert span.getparent() is div and span.getprevious() is p and p.getnext() is span


def test_a_removed_element_reports_no_parent():
    body = parse_body("<div><p>a</p>tail<p>b</p></div>")
    div = body[0]
    first, second = div[0], div[1]
    div.remove(first)
    delete_element(second)
    assert first.getparent() is None and second.getparent() is None
    assert second.getprevious() is None and list(second.iterancestors()) == []


def test_an_element_whose_tree_above_was_dropped_reports_no_parent():
    import weakref

    tree = parse_html("<html><body><div><p>a</p><p>b</p></div></body></html>")
    p = tree.find(".//p")
    assert [el.tag for el in p.iterancestors()] == ["div", "body", "html"]
    root = weakref.ref(tree)
    del tree
    # unlike lxml, holding an element does not keep its ancestors alive
    assert root() is None
    assert p.getparent() is None and p.getnext() is None
    assert list(p.iterancestors()) == [] and list(p.itersiblings()) == []
    delete_element(p)  # a no-op on a root, as on a detached element
    assert p.text == "a"


def test_a_deep_tree_is_freed_by_reference_counting():
    import gc
    import weakref

    gc.collect()
    gc.disable()
    try:
        root = Element("div")
        node = root
        for _ in range(25_000):
            child = Element("div")
            node.append(child)
            node = child
        copy = root.copy_tree()
        refs = [weakref.ref(el) for el in (root, node, copy, copy.find(".//div"))]
        del root, node, child, copy
        assert [ref() for ref in refs] == [None] * 4
        assert gc.collect() == 0
    finally:
        gc.enable()
