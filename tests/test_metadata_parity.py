"""Metadata parity goldens from the reference's metadata_tests.py
(cited per case)."""

import pytest

from trafilatura_spark.kernel.metadata import extract_metadata


@pytest.mark.parametrize(
    "doc,expected",
    [
        ('<html><body><h3 class="title">T</h3><h3 id="title"></h3></body></html>', None),
        (
            '<html><head><title>Test Title</title><meta property="og:title" content=" " /></head><body><h1>First</h1></body></html>',
            "First",
        ),
        ("<html><head><title>Test Title</title></head><body></body></html>", "Test Title"),
        ("<html><body><h1>First</h1><h1>Second</h1></body></html>", "First"),
        ('<html><body><h1>   </h1><div class="post-title">Test Title</div></body></html>', "Test Title"),
        (
            '<html><body><h2 class="block-title">Main menu</h2><h1 class="article-title">Test Title</h1></body></html>',
            "Test Title",
        ),
        ("<html><body><h2>First</h2><h1>Second</h1></body></html>", "Second"),
        ("<html><body><h2>First</h2><h2>Second</h2></body></html>", "First"),
        ("<html><body><title></title></body></html>", None),
        (
            "<html><head><title>Head Title</title></head><body><h1>First</h1><h1>Second</h1></body></html>",
            "Head Title",
        ),
        (
            "<html><head><title>example.com</title></head><body><h1>First</h1><h1>Second</h1></body></html>",
            "First",
        ),
        ("<html><body><h1>   </h1><h1>Real Title</h1></body></html>", "Real Title"),
        ("<html><body><h1>   </h1><h1>   </h1></body></html>", None),
    ],
)
def test_titles(doc, expected):
    "metadata_tests.py:28-65"
    assert extract_metadata(doc).title == expected


def test_title_separators():
    "metadata_tests.py:74-78"
    assert extract_metadata("<html><head><title> - Home</title></head><body/></html>").title == "- Home"
    assert (
        extract_metadata("<html><head><title>My Title » My Website</title></head><body/></html>").title
        == "My Title"
    )


def test_title_from_jsonld_headline():
    "metadata_tests.py:70-73 (Wikipedia JSON-LD)"
    doc = (
        '<html><body><script type="application/ld+json">'
        '{"@type":"Article","name":"Semantic satiation",'
        '"author":{"@type":"Organization","name":"Contributors"},'
        '"headline":"Semantic satiation"}</script></body></html>'
    )
    assert extract_metadata(doc).title == "Semantic satiation"


@pytest.mark.parametrize(
    "doc,default_url",
    [
        ('<html><head><meta property="og:url" content="https://example.org"/></head><body></body></html>', None),
        ('<html><head><link rel="canonical" href="https://example.org"/></head><body></body></html>', None),
        ('<html><head><meta name="twitter:url" content="https://example.org"/></head><body></body></html>', None),
        (
            '<html><head><link rel="alternate" hreflang="x-default" href="https://example.org"/></head><body></body></html>',
            None,
        ),
        (
            '<html><head><link rel="canonical" href="/article/medical-record"/></head><body></body></html>',
            "https://example.org",
        ),
        ('<html><head><base href="https://example.org" target="_blank"/></head><body></body></html>', None),
    ],
)
def test_url_selectors(doc, default_url):
    "metadata_tests.py:210-228"
    assert extract_metadata(doc, default_url).url == "https://example.org"


def test_relative_canonical_joined():
    "metadata_tests.py:231-247 (direct extract_url call, as in the reference test)"
    from trafilatura_spark.kernel.loader import load_html
    from trafilatura_spark.kernel.metadata import extract_url

    doc = (
        '<html><head><link rel="canonical" href="/article/medical-record"/>'
        '<meta name="twitter:url" content="https://example.org"/></head><body></body></html>'
    )
    assert extract_url(list(load_html(doc).iterdescendants())) == "https://example.org/article/medical-record"
    doc2 = (
        '<html><head><link rel="canonical" href="/p"/>'
        '<meta property="og:url" content="https://example.org"/></head><body></body></html>'
    )
    assert extract_url(list(load_html(doc2).iterdescendants())) == "https://example.org/p"


def test_description_itemprop():
    "metadata_tests.py:249-252"
    doc = '<html><head><meta itemprop="description" content="Description"/></head><body></body></html>'
    assert extract_metadata(doc).description == "Description"


@pytest.mark.parametrize(
    "doc,expected",
    [
        (
            '<html><body><p><a href="https://creativecommons.org/licenses/by-sa/4.0/" rel="license">CC BY-SA</a></p></body></html>',
            "CC BY-SA 4.0",
        ),
        (
            '<html><body><p><a href="https://licenses.org/unknown" rel="license">Unknown</a></p></body></html>',
            "Unknown",
        ),
        (
            '<html><body><footer><a href="https://creativecommons.org/licenses/by-sa/4.0/">CC BY-SA</a></footer></body></html>',
            "CC BY-SA 4.0",
        ),
        (
            '<html><body><footer class="entry-footer"><span class="cat-links">Posted in '
            '<a href="https://example.org/category/seasonal/birthday/" rel="category tag">Birthday</a></span></footer></body></html>',
            None,
        ),
        (
            '<html><body><footer class="entry-footer"><span>The license is <a href="https://example.org/1">CC BY-NC</a></span></footer></body></html>',
            "CC BY-NC",
        ),
        (
            '<html><body><footer><a href="/x"><span>CC BY-SA 4.0</span></a></footer></body></html>',
            "CC BY-SA 4.0",
        ),
        ('<html><body><p><a rel="license" href="/x"></a></p></body></html>', None),
    ],
)
def test_license_cases(doc, expected):
    "metadata_tests.py:484-527"
    assert extract_metadata(doc).license == expected


# --- htmldate-grade date ladder (reference delegates to htmldate at
# metadata.py:523-525; ladder behavior pinned here) ---------------------------

@pytest.mark.parametrize(
    "doc,url,expected",
    [
        # meta vocabulary: published names win
        ('<html><head><meta property="article:published_time" content="2023-11-07T09:00:00Z"/></head><body><p>x</p></body></html>',
         None, "2023-11-07"),
        ('<html><head><meta name="publish_date" content="2021-06-30"/></head><body><p>x</p></body></html>',
         None, "2021-06-30"),
        ('<html><head><meta itemprop="datecreated" content="2019-02-14"/></head><body><p>x</p></body></html>',
         None, "2019-02-14"),
        # published beats modified regardless of document order
        ('<html><head><meta property="og:updated_time" content="2024-05-05"/>'
         '<meta name="date" content="2024-01-02"/></head><body><p>x</p></body></html>',
         None, "2024-01-02"),
        # modified-only falls through to the modified rung
        ('<html><head><meta property="article:modified_time" content="2022-09-01"/></head><body><p>x</p></body></html>',
         None, "2022-09-01"),
        # <time datetime>
        ('<html><body><time datetime="2020-12-24T18:00">Christmas Eve</time><p>x</p></body></html>',
         None, "2020-12-24"),
        # abbr data-utime (unix timestamp, facebook-style)
        ('<html><body><abbr data-utime="1577836800">Jan 2020</abbr><p>x</p></body></html>',
         None, "2020-01-01"),
        # date-classed span with German numeric format
        ('<html><body><span class="entry-date">3.4.2018</span><p>x</p></body></html>',
         None, "2018-04-03"),
        # URL path: /YYYY/MM/DD/
        ('<html><body><p>no date markup here at all</p></body></html>',
         "https://example.com/blog/2017/08/09/post-title/", "2017-08-09"),
        # URL compact YYYYMMDD
        ('<html><body><p>no date markup here at all</p></body></html>',
         "https://example.com/a/20160305/post", "2016-03-05"),
        # URL year/month only -> first of month
        ('<html><body><p>no date markup here at all</p></body></html>',
         "https://example.com/2015/11/post-title", "2015-11-01"),
        # free-text scan: 'Month D, YYYY' and 'D Month YYYY'
        ('<html><body><p>Published on March 12, 2014 by the editorial team.</p></body></html>',
         None, "2014-03-12"),
        ('<html><body><p>Veröffentlicht am 7. Oktober 2013 in Berlin.</p></body></html>',
         None, "2013-10-07"),
        # copyright year is the last-resort rung
        ('<html><body><p>plain text body</p><footer>© 2012 Example Corp</footer></body></html>',
         None, "2012-01-01"),
        # invalid/out-of-range dates are rejected
        ('<html><head><meta name="date" content="1914-07-28"/></head><body><p>x</p></body></html>',
         None, None),
    ],
)
def test_find_date_ladder(doc, url, expected):
    "htmldate ladder behavior: meta -> elements -> URL -> free text -> copyright"
    from trafilatura_spark.kernel.loader import load_html
    from trafilatura_spark.kernel.metadata import find_date

    tree = load_html(doc)
    assert find_date(tree, url) == expected


def test_find_date_via_extract_metadata():
    from trafilatura_spark.kernel.metadata import extract_metadata

    doc = (
        '<html><head><title>T – S</title></head>'
        '<body><p>Some article text here.</p></body></html>'
    )
    meta = extract_metadata(doc, "https://example.com/2018/03/04/slug")
    assert meta.date == "2018-03-04"


def test_find_date_original_vs_updated_disagreement():
    """htmldate original_date semantics (reference calls find_date with
    original_date=True, htmldate core): published wins by default, the
    later modified stamp wins when original_date=False."""
    from trafilatura_spark.kernel.loader import load_html
    from trafilatura_spark.kernel.metadata import find_date

    doc = (
        '<html><head>'
        '<meta property="article:published_time" content="2024-03-05T08:00:00Z"/>'
        '<meta property="article:modified_time" content="2024-04-10T12:00:00Z"/>'
        "</head><body><p>text</p></body></html>"
    )
    tree = load_html(doc)
    assert find_date(tree) == "2024-03-05"  # original_date=True default
    assert find_date(tree, original_date=False) == "2024-04-10"
    # modified BEFORE published (republished page): published stands in both modes
    doc2 = doc.replace("2024-04-10T12:00:00Z", "2023-12-01T12:00:00Z")
    tree2 = load_html(doc2)
    assert find_date(tree2) == "2024-03-05"
    assert find_date(tree2, original_date=False) == "2024-03-05"


def test_find_date_url_monthname_path():
    "Guardian-style month-name path segment: /2024/mar/15/."
    from trafilatura_spark.kernel.loader import load_html
    from trafilatura_spark.kernel.metadata import find_date

    tree = load_html("<html><body><p>story text</p></body></html>")
    assert find_date(tree, "https://news.example/world/2024/mar/15/some-slug") == "2024-03-15"
    assert find_date(tree, "https://news.example/world/2019/dez/01/x") is None  # unknown month


def test_find_date_url_query_parameter():
    "Explicit date-bearing query parameters: ?date=..., &published=..."
    from trafilatura_spark.kernel.loader import load_html
    from trafilatura_spark.kernel.metadata import find_date

    tree = load_html("<html><body><p>story text</p></body></html>")
    assert find_date(tree, "https://ex.org/view.php?id=9&date=2021-07-09") == "2021-07-09"
    assert find_date(tree, "https://ex.org/a?published=20200229") == "2020-02-29"
    assert find_date(tree, "https://ex.org/a?id=20310229") is None  # not a date param


def test_date_knobs_ride_options_through_bare_extract():
    "Options.date_extensive / date_original reach find_date (core.py:344-351 analog)."
    from trafilatura_spark.kernel import Options, bare_extract

    # only free-text evidence: extensive on finds it, off yields None
    doc = (
        "<html><head><title>T – S</title></head><body><article>"
        "<p>Posted on 12 March 2024 by a staff writer. "
        "Body text long enough for the cascade to keep this page around.</p>"
        "</article></body></html>"
    )
    on = bare_extract(doc, Options(min_extracted_size=0, with_metadata=True))
    off = bare_extract(
        doc, Options(min_extracted_size=0, with_metadata=True, date_extensive=False)
    )
    assert on.metadata.date == "2024-03-12"
    assert off.metadata.date is None

    # published vs later-modified disagreement: date_original decides
    doc2 = (
        '<html><head><title>T – S</title>'
        '<meta property="article:published_time" content="2024-03-05"/>'
        '<meta property="article:modified_time" content="2024-04-10"/></head>'
        "<body><article><p>Body text long enough to pass the gates easily.</p></article></body></html>"
    )
    pub = bare_extract(doc2, Options(min_extracted_size=0, with_metadata=True))
    upd = bare_extract(
        doc2, Options(min_extracted_size=0, with_metadata=True, date_original=False)
    )
    assert pub.metadata.date == "2024-03-05"
    assert upd.metadata.date == "2024-04-10"


def test_find_date_romance_month_names():
    "French/Spanish/Italian textual dates parse (htmldate multilingual vocabulary)."
    from trafilatura_spark.kernel.loader import load_html
    from trafilatura_spark.kernel.metadata import find_date

    cases = {
        "<p>Publié le 5 juillet 2023 par la rédaction.</p>": "2023-07-05",
        "<p>Publicado el 17 de agosto de 2021.</p>": "2021-08-17",  # 'de' infix (es/pt)
        "<p>Publicado: 17 agosto 2021.</p>": "2021-08-17",
        "<p>Pubblicato il 3 settembre 2022.</p>": "2022-09-03",
        "<p>Mise à jour: 1er février 2024.</p>": "2024-02-01",
    }
    for frag, expected in cases.items():
        tree = load_html(f"<html><body>{frag}</body></html>")
        assert find_date(tree) == expected, frag


def test_find_date_de_pt_nl_month_names():
    "German/Portuguese/Dutch textual dates (round-3 VERDICT item 5)."
    from trafilatura_spark.kernel.loader import load_html
    from trafilatura_spark.kernel.metadata import find_date

    cases = {
        "<p>Veröffentlicht am 1. März 2024 von der Redaktion.</p>": "2024-03-01",
        "<p>Stand: 23. Dezember 2019, 14:00 Uhr.</p>": "2019-12-23",
        "<p>Publicado em 12 de março de 2020.</p>": "2020-03-12",
        "<p>Atualizado a 5 de janeiro de 2023.</p>": "2023-01-05",
        "<p>Gepubliceerd op 3 augustus 2019.</p>": "2019-08-03",
        "<p>Laatst bijgewerkt: 28 februari 2022.</p>": "2022-02-28",
        "<p>Geplaatst op 15 mei 2021 door de redactie.</p>": "2021-05-15",
    }
    for frag, expected in cases.items():
        tree = load_html(f"<html><body>{frag}</body></html>")
        assert find_date(tree) == expected, frag


def test_find_date_plausibility_window():
    """htmldate min_date/max_date semantics: an out-of-window candidate is
    rejected AT ITS RUNG and the ladder continues to a plausible source
    (reference default sets max_date=today, settings.py:216-222)."""
    from trafilatura_spark.kernel.loader import load_html
    from trafilatura_spark.kernel.metadata import find_date

    # future meta stamp (within the 1995-2040 static bounds) + URL date:
    # without a window the meta wins; with max_date the URL rung wins
    doc = (
        '<html><head><meta property="article:published_time" content="2031-06-15"/>'
        "</head><body><p>words</p></body></html>"
    )
    tree = load_html(doc)
    url = "https://ex.org/2020/05/04/slug"
    assert find_date(tree, url) == "2031-06-15"
    assert find_date(tree, url, max_date="2025-12-31") == "2020-05-04"
    assert find_date(tree, url, max_date="2019-12-31") is None  # both rejected

    # min_date rejects a too-old copyright year (last-resort rung)
    old = load_html("<html><body><p>© 1998 Example Corp. All rights reserved.</p></body></html>")
    assert find_date(old) == "1998-01-01"
    assert find_date(old, min_date="2000-01-01") is None


def test_find_date_free_text_frequency_scoring():
    """htmldate search_page/select_candidate semantics: the free-text rung
    counts EVERY in-window occurrence and the most frequent date wins —
    a stray archive-link date appearing first no longer beats the
    publication date repeated in byline, footer and citation."""
    from trafilatura_spark.kernel.loader import load_html
    from trafilatura_spark.kernel.metadata import find_date

    doc = (
        "<html><body>"
        "<p>See our retrospective of 3 January 2011 for background.</p>"
        "<p>Published 15 June 2019 by the editors.</p>"
        "<p>Filed under news on 15 June 2019.</p>"
        "<p>Citation: Editors (15 June 2019), Example Journal.</p>"
        "</body></html>"
    )
    assert find_date(load_html(doc)) == "2019-06-15"


def test_find_date_free_text_tie_prefers_original_else_update():
    "Equal-frequency candidates: earliest under original_date, latest otherwise."
    from trafilatura_spark.kernel.loader import load_html
    from trafilatura_spark.kernel.metadata import find_date

    doc = (
        "<html><body>"
        "<p>First posted 2 February 2018.</p>"
        "<p>Last revised 9 September 2021.</p>"
        "</body></html>"
    )
    tree = load_html(doc)
    assert find_date(tree, original_date=True) == "2018-02-02"
    assert find_date(tree, original_date=False) == "2021-09-09"


def test_find_date_free_text_frequency_respects_window():
    "Out-of-window occurrences don't vote: the window filters candidates first."
    from trafilatura_spark.kernel.loader import load_html
    from trafilatura_spark.kernel.metadata import find_date

    doc = (
        "<html><body>"
        "<p>Copies dated 1 March 2035 and again 1 March 2035 and 1 March 2035.</p>"
        "<p>Actually published 20 April 2016.</p>"
        "</body></html>"
    )
    assert find_date(load_html(doc), max_date="2025-12-31") == "2016-04-20"


def test_date_window_rides_options_and_filters_jsonld():
    "Options.date_min/date_max reach the ladder AND the JSON-LD date."
    from trafilatura_spark.kernel import Options, bare_extract

    doc = (
        '<html><head><title>T – S</title>'
        '<script type="application/ld+json">'
        '{"@type": "Article", "datePublished": "2033-01-01"}</script></head>'
        "<body><article><p>Posted on 12 March 2024. Body text long enough "
        "for the cascade to keep this page.</p></article></body></html>"
    )
    plain = bare_extract(doc, Options(min_extracted_size=0, with_metadata=True))
    assert plain.metadata.date == "2033-01-01"  # JSON-LD stands without a window
    capped = bare_extract(
        doc, Options(min_extracted_size=0, with_metadata=True, date_max="2030-01-01")
    )
    assert capped.metadata.date == "2024-03-12"  # fell through to free text


def test_url_normalization_courlan_shape():
    """The winning URL is validated then normalized (reference
    metadata.py:393-394): lowercased scheme/host, default ports and
    tracking parameters stripped, hashbang fragments kept."""
    from trafilatura_spark.kernel.loader import load_html
    from trafilatura_spark.kernel.metadata import extract_metadata, normalize_url

    assert normalize_url("HTTPS://Example.COM:443/Path/Page?utm_source=x&id=3&fbclid=z#top") == \
        "https://example.com/Path/Page?id=3"
    assert normalize_url("http://host.org:80/a?b=1#!/route") == "http://host.org/a?b=1#!/route"

    doc = (
        '<html><head><title>T – S</title>'
        '<link rel="canonical" href="HTTP://News.Example.ORG/story?utm_campaign=mail&page=2"/>'
        "</head><body><p>x</p></body></html>"
    )
    meta = extract_metadata(doc)
    assert meta.url == "http://news.example.org/story?page=2"
    # the caller-supplied fallback passes through UNTOUCHED — only the
    # ladder-won URL is validated/normalized (reference metadata.py:390-394
    # `return url or default_url`); r4 deviated by nullifying it
    meta2 = extract_metadata("<html><body><p>x</p></body></html>", "not-a-url")
    assert meta2.url == "not-a-url"
    # and an INVALID ladder winner falls back rather than nullifying
    meta3 = extract_metadata(
        '<html><head><link rel="canonical" href="htp:/broken"/></head>'
        "<body><p>x</p></body></html>",
        "https://fallback.example.com/a",
    )
    assert meta3.url == "https://fallback.example.com/a"


def test_find_date_slavic_turkish_month_names():
    "Russian/Ukrainian/Turkish/Polish/Czech textual dates (genitive forms)."
    from trafilatura_spark.kernel.loader import load_html
    from trafilatura_spark.kernel.metadata import find_date

    cases = {
        "<p>Опубликовано 5 января 2020 года.</p>": "2020-01-05",
        "<p>Обновлено: 17 сентября 2021.</p>": "2021-09-17",
        "<p>Опубліковано 3 травня 2019 року.</p>": "2019-05-03",
        "<p>Yayınlanma tarihi: 12 Mart 2022.</p>": "2022-03-12",
        "<p>Güncelleme: 1 Ağustos 2018.</p>": "2018-08-01",
        "<p>Opublikowano 9 października 2017 r.</p>": "2017-10-09",
        "<p>Zveřejněno 21. července 2023.</p>": "2023-07-21",
    }
    for frag, expected in cases.items():
        tree = load_html(f"<html><body>{frag}</body></html>")
        assert find_date(tree) == expected, frag


def test_find_date_jsonld_rung():
    """JSON-LD datePublished outranks <time> elements and modified stamps
    (round-5: the eval-corpus agreement study's top systematic miss was
    the ladder falling through to dateModified/sidebar <time> elements
    when the published meta was absent — htmldate's json_search covers
    this; see tools/date_agreement.py and COVERAGE.md)."""
    from trafilatura_spark.kernel.loader import load_html
    from trafilatura_spark.kernel.metadata import find_date

    doc = load_html(
        "<html><head>"
        '<script type="application/ld+json">'
        '{"@type":"Article","datePublished":"2017-08-09T10:59:19+02:00",'
        '"dateModified":"2018-07-20T22:06:21+02:00"}</script>'
        "</head><body>"
        '<time datetime="2018-07-20 22:06:21">updated</time>'
        "<p>body</p></body></html>"
    )
    assert find_date(doc) == "2017-08-09"
    # updated-date mode prefers the later modified stamp (htmldate's
    # original_date=False semantics)
    assert find_date(doc, original_date=False) == "2018-07-20"

    # dateModified alone feeds the WEAK modified rung: an explicit date
    # element still wins over it
    doc2 = load_html(
        "<html><head>"
        '<script type="application/ld+json">'
        '{"@type":"Article","dateModified":"2020-01-05"}</script>'
        "</head><body>"
        '<time datetime="2019-03-02">published</time>'
        "<p>body</p></body></html>"
    )
    assert find_date(doc2) == "2019-03-02"
    # ...but is found when nothing stronger exists
    doc3 = load_html(
        "<html><head>"
        '<script type="application/ld+json">'
        '{"@type":"Article","dateModified":"2020-01-05"}</script>'
        "</head><body><p>no other date signal</p></body></html>"
    )
    assert find_date(doc3) == "2020-01-05"


def test_find_date_canonical_link_url_rung():
    """With no caller URL, the URL rung reads the page's own canonical /
    og:url declaration (htmldate examines the canonical link): a
    WordPress /YYYY/MM/DD/ permalink is often the only machine-readable
    date on the page (round-5 agreement study, bibliothek2null case)."""
    from trafilatura_spark.kernel.loader import load_html
    from trafilatura_spark.kernel.metadata import find_date

    doc = load_html(
        "<html><head>"
        '<link rel="canonical" href="http://ex.org/2014/05/18/new-in-may/"/>'
        "</head><body><p>no visible date anywhere in the body text</p></body></html>"
    )
    assert find_date(doc) == "2014-05-18"
    # og:url fallback when no canonical exists
    doc2 = load_html(
        "<html><head>"
        '<meta property="og:url" content="https://ex.org/blog/2019/07/02/title"/>'
        "</head><body><p>still no visible date</p></body></html>"
    )
    assert find_date(doc2) == "2019-07-02"
    # an explicit caller URL takes precedence over the declarations
    assert find_date(doc, url="http://ex.org/2013/01/09/other/") == "2013-01-09"


def test_find_date_single_itemprop_beats_sidebar_times():
    """Round-6 date residual (multi-<time> sidebar class): comment/aside
    <time> elements in document order must not outrank a page-unique
    itemprop=datePublished microdata stamp (eval case taz.de — comment
    timestamps one day after the <li itemprop="datePublished"> stamp)."""
    from trafilatura_spark.kernel.loader import load_html
    from trafilatura_spark.kernel.metadata import find_date

    doc = load_html(
        "<html><body>"
        '<ul><li class="date" itemprop="datePublished" content="2020-01-13T18:54:00+01:00">13. 1. 2020</li></ul>'
        "<article><p>text</p></article>"
        '<section class="comments">'
        '<time datetime="2020-01-14T13:47:02+01:00">14. 01. 2020</time>'
        '<time datetime="2020-01-14T20:29:22+01:00">14. 01. 2020</time>'
        "</section></body></html>"
    )
    assert find_date(doc) == "2020-01-13"


def test_find_date_ambiguous_itemprop_falls_through():
    """Multiple DISTINCT itemprop=datePublished values = a related-article
    rail (eval case madame.lefigaro); the rung must not pick the first
    card but fall through to the later rungs (here: the <time> element)."""
    from trafilatura_spark.kernel.loader import load_html
    from trafilatura_spark.kernel.metadata import find_date

    doc = load_html(
        "<html><body>"
        '<div class="related"><span itemprop="datePublished" content="2020-02-19"></span>'
        '<span itemprop="datePublished" content="2019-02-12"></span></div>'
        '<time datetime="2017-04-11T10:00:00+02:00">11 avril 2017</time>'
        "</body></html>"
    )
    assert find_date(doc) == "2017-04-11"


def test_find_date_jsonld_published_beats_earlier_created():
    """datePublished outranks dateCreated ACROSS script blocks: a liveblog
    stamps dateCreated per sub-item before the article's datePublished
    (eval case lanacion); script order must not decide."""
    from trafilatura_spark.kernel.loader import load_html
    from trafilatura_spark.kernel.metadata import find_date

    doc = load_html(
        "<html><head>"
        '<script type="application/ld+json">{"@type":"LiveBlogPosting",'
        '"dateCreated": "Tue, 03 May 2022 23:53:14 GMT"}</script>'
        '<script type="application/ld+json">{"@type":"NewsArticle",'
        '"datePublished": "Wed, 04 May 2022 00:25:56 GMT"}</script>'
        "</head><body><p>x</p></body></html>"
    )
    assert find_date(doc) == "2022-05-04"


def test_find_date_video_upload_date_ignored():
    """A VideoObject uploadDate stamps the embedded video, not the page
    (eval case giga.de: 2015 video inside a 2017 article) — the article's
    own <time> must win."""
    from trafilatura_spark.kernel.loader import load_html
    from trafilatura_spark.kernel.metadata import find_date

    doc = load_html(
        "<html><head>"
        '<script type="application/ld+json">{"@type":"VideoObject",'
        '"uploadDate": "2015-01-16T14:53:35+01:00"}</script>'
        "</head><body>"
        '<time datetime="2017-12-01T12:01:11+01:00">01. Dez. 2017</time>'
        "</body></html>"
    )
    assert find_date(doc) == "2017-12-01"


def test_find_date_byline_beats_modified_meta_for_original():
    """htmldate with original_date=True skips modified metas in
    examine_meta entirely, so a byline date in the text outranks
    article:modified_time (eval case pferderevue); with
    original_date=False the modified stamp wins as before."""
    from trafilatura_spark.kernel.loader import load_html
    from trafilatura_spark.kernel.metadata import find_date

    doc = load_html(
        "<html><head>"
        '<meta property="article:modified_time" content="2022-02-04T13:54:21+01:00"/>'
        "</head><body><p>Artikel von <strong>X</strong> | 27.01.2022 - 12:45</p></body></html>"
    )
    assert find_date(doc) == "2022-01-27"
    assert find_date(doc, original_date=False) == "2022-02-04"


def test_find_date_free_text_sees_element_boundaries_and_attrs():
    """The free-text rung scans raw-source-equivalent text: element
    boundaries separate tokens that text_content() glues ('Alfeld' +
    '2. Oktober 2015' — eval case denkmalpraxismoderne), and publish
    stamps in script bodies / content= attributes vote too (eval case
    badische-zeitung's dataLayer publishtime)."""
    from trafilatura_spark.kernel.loader import load_html
    from trafilatura_spark.kernel.metadata import find_date

    doc = load_html(
        "<html><body>"
        "<strong>Alfeld</strong><span class='news-time'>2. Oktober 2015 - 12:33</span>"
        "<strong>Berlin</strong><span class='news-time'>2. Oktober 2015 - 12:29</span>"
        "</body></html>"
    )
    assert find_date(doc) == "2015-10-02"


def test_find_date_rdfa_property_on_span():
    """Drupal-family RDFa: <span property="dc:date" content=...> carries
    the publication stamp with the rung-1 vocabulary but on a non-meta
    element (eval case lostiempos); it must outrank a date-classed
    element whose text holds an ambiguous DD/MM slash date."""
    from trafilatura_spark.kernel.loader import load_html
    from trafilatura_spark.kernel.metadata import find_date

    doc = load_html(
        "<html><body>"
        '<div class="date-box">03/05/2022</div>'
        '<span class="date-display-single" property="dc:date" datatype="xsd:dateTime"'
        ' content="2022-05-03T17:40:00-04:00">3 de mayo de 2022</span>'
        "</body></html>"
    )
    assert find_date(doc) == "2022-05-03"
