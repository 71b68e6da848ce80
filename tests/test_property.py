"""Property-based robustness: the kernel must never crash and must hold
its output invariants on arbitrary input."""

import unicodedata

from hypothesis import given, settings
from hypothesis import strategies as st

from trafilatura_spark.kernel import Options, bare_extract, extract
from trafilatura_spark.kernel.dom import parse_html, strip_tags

TAGS = ["p", "div", "span", "b", "ul", "li", "table", "tr", "td", "h2", "blockquote", "pre", "a", "br"]

text_strategy = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), min_size=0, max_size=80
)


@st.composite
def html_fragment(draw, depth=0):
    if depth > 3:
        return draw(text_strategy)
    n = draw(st.integers(0, 3))
    parts = [draw(text_strategy)]
    for _ in range(n):
        tag = draw(st.sampled_from(TAGS))
        inner = draw(html_fragment(depth=depth + 1))
        if tag == "br":
            parts.append("<br/>")
        elif tag == "a":
            parts.append(f'<a href="/x">{inner}</a>')
        else:
            parts.append(f"<{tag}>{inner}</{tag}>")
        parts.append(draw(text_strategy))
    return "".join(parts)


@settings(max_examples=120, deadline=None)
@given(html_fragment())
def test_extract_never_crashes(fragment):
    result = bare_extract(f"<html><body>{fragment}</body></html>")
    assert result.tier is not None
    if result.text is not None:
        # NFC-normalized, no disallowed control characters
        assert unicodedata.is_normalized("NFC", result.text)
        assert "\x00" not in result.text


@settings(max_examples=60, deadline=None)
@given(html_fragment())
def test_markdown_never_crashes(fragment):
    out = extract(
        f"<html><body>{fragment}</body></html>",
        Options(format="markdown", formatting=True, min_extracted_size=0),
    )
    assert out is None or isinstance(out, str)


@settings(max_examples=80, deadline=None)
@given(html_fragment())
def test_strip_tags_preserves_text(fragment):
    "Splicing inline wrappers must never lose character data."
    tree = parse_html(f"<html><body><div>{fragment}</div></body></html>")
    if tree is None:
        return
    before = tree.text_content()
    strip_tags(tree, "span", "b", "a")
    assert tree.text_content() == before


@settings(max_examples=60, deadline=None)
@given(st.text(min_size=0, max_size=200))
def test_plain_text_roundtrip_or_none(raw):
    "Arbitrary plain text either round-trips (whitespace-collapsed) or is discarded."
    result = bare_extract(f"<html><body>{raw}</body></html>")
    if result.text is not None:
        assert result.text == result.text.strip()


@settings(max_examples=100, deadline=None)
@given(st.binary(min_size=0, max_size=2000))
def test_pdf_extractor_total_on_arbitrary_bytes(blob):
    "extract_pdf_text is TOTAL: any %PDF- prefixed payload yields a str."
    from trafilatura_spark.kernel.pdftext import extract_pdf_text

    out = extract_pdf_text(b"%PDF-1.4\n" + blob)
    assert isinstance(out, str)


@settings(max_examples=100, deadline=None)
@given(st.binary(min_size=0, max_size=1000))
def test_pdf_stream_bodies_never_crash(blob):
    "Arbitrary bytes inside a stream bracket (inflated or raw) never raise."
    from trafilatura_spark.kernel.pdftext import extract_pdf_text

    doc = b"%PDF-1.4\nstream\n" + blob + b"\nendstream\n%%EOF"
    assert isinstance(extract_pdf_text(doc), str)


@settings(max_examples=60, deadline=None)
@given(st.text(min_size=0, max_size=300))
def test_langid_total_on_arbitrary_text(raw):
    "classify_language is total and strict mode labels any lettered text."
    from trafilatura_spark.kernel.langid import classify_language

    lenient = classify_language(raw)
    strict = classify_language(raw, strict=True)
    assert lenient is None or isinstance(lenient, str)
    assert strict is None or isinstance(strict, str)
    if lenient is not None:
        assert strict is not None  # strict never knows LESS than default


@settings(max_examples=60, deadline=None)
@given(
    st.binary(min_size=16, max_size=16) | st.binary(min_size=32, max_size=32),
    st.binary(min_size=0, max_size=96),
)
def test_aes_cbc_roundtrip(key, data):
    "CBC encrypt/decrypt are inverses for any key size and block-aligned data."
    from trafilatura_spark.kernel.aescipher import cbc_decrypt, cbc_encrypt

    pad = (-len(data)) % 16
    plain = data + b"\x00" * pad
    iv = bytes(range(16))
    assert cbc_decrypt(key, iv, cbc_encrypt(key, iv, plain)) == plain


@settings(max_examples=40, deadline=None)
@given(st.binary(min_size=0, max_size=4096))
def test_zstd_brotli_roundtrip_and_garbage_totality(blob):
    "System-library codecs roundtrip any payload; garbage never crashes."
    import pytest

    from trafilatura_spark.kernel.cdecompress import (
        HAS_BROTLI, HAS_ZSTD, brotli_compress, brotli_decompress,
        zstd_compress, zstd_decompress)

    if not (HAS_ZSTD and HAS_BROTLI):
        pytest.skip("system codec libraries absent")
    assert zstd_decompress(zstd_compress(blob)) == blob
    assert brotli_decompress(brotli_compress(blob)) == blob
    for fn in (zstd_decompress, brotli_decompress):
        try:
            fn(b"\x28\xb5\x2f\xfd" + blob[:64])
        except (ValueError, RuntimeError):
            pass  # rejection is the expected outcome; crashes are not


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=200))
def test_normalize_url_total_and_idempotent(raw):
    "normalize_url never raises and is idempotent on its own output."
    from trafilatura_spark.kernel.metadata import normalize_url

    try:
        once = normalize_url(raw)
    except ValueError:
        return  # urllib rejects some malformed ports; never other errors
    assert normalize_url(once) == once


@settings(max_examples=80, deadline=None)
@given(st.text(max_size=400), st.booleans())
def test_find_date_total_on_arbitrary_text(body, original):
    "The date ladder (incl. frequency scoring) is total over any text."
    from trafilatura_spark.kernel.loader import load_html
    from trafilatura_spark.kernel.metadata import find_date

    tree = load_html(f"<html><body><p>{body}</p></body></html>")
    if tree is None:
        return
    result = find_date(tree, original_date=original, max_date="2030-12-31")
    assert result is None or (len(result) == 10 and result[4] == "-")


@given(st.binary(max_size=2048))
@settings(max_examples=120, deadline=None)
def test_media_header_parsers_total_on_arbitrary_bytes(blob):
    "Dimension/duration header parsers never raise, whatever the bytes."
    from trafilatura_spark.operators.multimodal import (
        jpeg_dimensions, mp4_duration, wav_duration,
    )

    for fn in (jpeg_dimensions, wav_duration, mp4_duration):
        out = fn(blob)
        assert out is None or out  # None or a truthy parsed value
    # prefix-corrupted real headers too
    for prefix in (b"RIFF", b"\xff\xd8", b"\x00\x00\x00\x10ftyp"):
        for fn in (jpeg_dimensions, wav_duration, mp4_duration):
            fn(prefix + blob)


@given(st.text(max_size=2000))
@settings(max_examples=100, deadline=None)
def test_dtd_parser_bounded_failure_mode(raw):
    """parse_dtd on arbitrary text: parses or raises ValueError — never
    hangs (entity-expansion cycles are depth-bounded) and never escapes
    another exception type."""
    from trafilatura_spark.kernel.dtd import parse_dtd

    try:
        schema = parse_dtd(raw)
    except ValueError:
        return
    assert schema.elements is not None


@given(st.binary(min_size=0, max_size=3000))
@settings(max_examples=200, deadline=None)
def test_ttf_cmap_inversion_total(data):
    "Arbitrary bytes as a font program: dict out or {}, never an exception."
    from trafilatura_spark.kernel.pdftext import _ttf_unicode_by_gid

    out = _ttf_unicode_by_gid(data)
    assert isinstance(out, dict)
    for gid, ch in out.items():
        assert isinstance(gid, int) and isinstance(ch, str) and len(ch) == 1


@given(st.binary(min_size=0, max_size=500))
@settings(max_examples=100, deadline=None)
def test_ttf_cmap_inversion_total_with_sfnt_prefix(data):
    "Plausible sfnt headers + garbage tables stay total too."
    import struct

    from trafilatura_spark.kernel.pdftext import _ttf_unicode_by_gid

    font = struct.pack(">I4H", 0x00010000, 1, 16, 0, 0)
    font += b"cmap" + struct.pack(">3I", 0, 28, len(data)) + data
    assert isinstance(_ttf_unicode_by_gid(font), dict)


# whitespace-only and Unicode-whitespace runs (no-break space, ideographic
# space, U+001C) are where a trimmed-length sum would go off by one
link_text = st.one_of(st.none(), st.text(alphabet=st.sampled_from(" \n\t\xa0\u3000\x1cxé,"), max_size=14))


@st.composite
def link_tree(draw, depth=0):
    from trafilatura_spark.kernel.dom import Element

    elem = Element(draw(st.sampled_from(["div", "p", "hi", "ref", "a", "graphic"])))
    elem.text = draw(link_text)
    if depth < 4:
        for child in draw(st.lists(link_tree(depth=depth + 1), max_size=3)):
            child.tail = draw(link_text)
            elem.append(child)
    return elem


@given(link_tree(), st.booleans())
@settings(max_examples=300, deadline=None)
def test_link_records_match_their_definitions(root, leaves_first):
    """Every element's LinkRecord equals the naive subtree scans, for both
    link tags and whichever order the records are asked for in."""
    from trafilatura_spark.kernel.cleaning import link_records
    from trafilatura_spark.kernel.textutils import trim

    elements = list(root.iter())
    for link_tag in ("ref", "a"):
        record = link_records(root, link_tag)
        for elem in reversed(elements) if leaves_first else elements:
            rec = record(elem)
            links = elem.findall(f".//{link_tag}")
            graphic = elem.find(".//graphic") is not None
            if rec is None:
                assert not links and not graphic
                continue
            text = elem.text_content()
            lengths = [len(trim(link.text_content())) for link in links]
            nonempty = [n for n in lengths if n]
            assert (rec.length, rec.lead, rec.trail) == (len(trim(text)), text[:1].isspace(), text[-1:].isspace())
            assert (rec.links, rec.linklen) == (len(links), sum(nonempty))
            assert (rec.nonempty, rec.short) == (len(nonempty), sum(n < 10 for n in nonempty))
            if len(links) == 1:  # link_density_test reads the only link's length as the sum
                assert rec.linklen == lengths[0]
            assert rec.graphic == graphic
