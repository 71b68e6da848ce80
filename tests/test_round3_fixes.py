"""Round-3 regression pins: single-parse metadata fusion, main-path
only_with_metadata gate, check_authors ';' semantics, labeled
unsupported-compression discards, and doctype-aware fragment wrapping.

Reference anchors cited per test (reference = /root/reference/trafilatura)."""

from trafilatura_spark.kernel import Options, bare_extract, extract


FULL_PAGE = (
    '<html><head><title>Doc Title – Site</title>'
    '<meta property="og:url" content="https://example.com/post"/>'
    '<meta property="article:published_time" content="2024-03-05"/></head>'
    "<body><article><p>Long enough body text for a normal extraction result, "
    "padded with further words so every size gate in the cascade stays happy."
    "</p></article></body></html>"
)


# --- single-parse fusion (VERDICT r2 wrong-item 2; reference core.py:405-413
# extracts metadata from the one loaded tree) ---------------------------------

def test_with_metadata_parses_document_exactly_once(monkeypatch):
    "bare_extract(with_metadata) must not re-parse the HTML for metadata."
    import trafilatura_spark.kernel.loader as loader_mod

    calls = {"n": 0}
    real_parse = loader_mod.parse_html

    def counting_parse(s):
        calls["n"] += 1
        return real_parse(s)

    monkeypatch.setattr(loader_mod, "parse_html", counting_parse)
    res = bare_extract(FULL_PAGE, Options(min_extracted_size=0, with_metadata=True))
    assert res.text and "Long enough body text" in res.text
    assert res.metadata is not None
    assert res.metadata.title == "Doc Title"
    assert res.metadata.date == "2024-03-05"
    assert calls["n"] == 1


def test_extract_front_matter_reuses_fused_metadata(monkeypatch):
    "extract() with YAML front matter also stays at one parse (core.py:118-125)."
    import trafilatura_spark.kernel.loader as loader_mod

    calls = {"n": 0}
    real_parse = loader_mod.parse_html

    def counting_parse(s):
        calls["n"] += 1
        return real_parse(s)

    monkeypatch.setattr(loader_mod, "parse_html", counting_parse)
    out = extract(FULL_PAGE, Options(min_extracted_size=0, with_metadata=True))
    assert out and "title: Doc Title" in out and "Long enough body text" in out
    assert calls["n"] == 1


# --- only_with_metadata on the MAIN path (ADVICE medium item; reference
# enforces inside bare_extraction, core.py:419-422) ---------------------------

def test_only_with_metadata_enforced_in_bare_extract():
    incomplete = (
        "<html><body><article><p>Long enough body text for a normal "
        "extraction result.</p></article></body></html>"
    )
    opts = Options(min_extracted_size=0, only_with_metadata=True)
    res = bare_extract(incomplete, opts)
    assert res.text is None and res.tier == "no_metadata"
    ok = bare_extract(FULL_PAGE, opts)
    assert ok.text is not None and ok.metadata.date == "2024-03-05"


def test_only_with_metadata_honored_by_spark_operator_path():
    "operators/extract.extract_one_result routes through bare_extract's gate."
    from trafilatura_spark.operators.extract import extract_one_result

    opts = Options(min_extracted_size=0, only_with_metadata=True)
    r = extract_one_result(
        "<p>Long enough body text for a normal extraction result.</p>", opts
    )
    assert r.text is None and r.tier == "no_metadata" and r.chars_kept == 0


# --- check_authors ';' semantics (ADVICE low item; reference metadata.py:163
# splits on ';' and strips each token) ----------------------------------------

def test_check_authors_splits_on_bare_semicolon():
    from trafilatura_spark.kernel.metadata import check_authors

    assert check_authors("Jane Doe;John Smith", {"john smith"}) == "Jane Doe"
    assert check_authors("Jane Doe ; John Smith", {"john smith"}) == "Jane Doe"
    # survivors are re-stripped and rejoined with '; '
    assert check_authors(" Jane Doe ;  Ada Lovelace ", frozenset()) == "Jane Doe; Ada Lovelace"
    assert check_authors("John Smith", {"john smith"}) is None


# --- compressed payloads (reference utils.py:107-141 cascade; zstd and
# brotli bind the system shared libraries via ctypes, no pip) -----------------

def test_zstd_payload_decodes_end_to_end():
    import pytest

    from trafilatura_spark.kernel.cdecompress import HAS_ZSTD, zstd_compress

    if not HAS_ZSTD:
        pytest.skip("libzstd absent")
    res = bare_extract(zstd_compress(FULL_PAGE.encode("utf-8")), Options(min_extracted_size=0))
    assert res.text and "Long enough body text" in res.text


def test_brotli_payload_decodes_end_to_end():
    import pytest

    from trafilatura_spark.kernel.cdecompress import HAS_BROTLI, brotli_compress

    if not HAS_BROTLI:
        pytest.skip("libbrotli absent")
    res = bare_extract(brotli_compress(FULL_PAGE.encode("utf-8")), Options(min_extracted_size=0))
    assert res.text and "Long enough body text" in res.text


def test_brotli_rejects_trailing_input():
    """A payload whose PREFIX is a complete brotli stream must not be
    replaced by its decode: the loader probes brotli on every
    non-gzip/zstd payload (brotli has no magic bytes), and reference
    `brotli.decompress` rejects excess input.  Seen in the wild:
    b';var x = 1; ...' decodes as an EMPTY brotli stream + garbage,
    silently destroying a JavaScript-prefixed document."""
    import pytest

    from trafilatura_spark.kernel.cdecompress import (
        HAS_BROTLI, brotli_compress, brotli_decompress,
    )

    if not HAS_BROTLI:
        pytest.skip("libbrotli absent")
    with pytest.raises(ValueError):
        brotli_decompress(b";var x = 1; window.alert('not brotli');")
    frame = brotli_compress(b"payload")
    with pytest.raises(ValueError):
        brotli_decompress(frame + b"trailing-garbage")
    # the exact frame still round-trips
    assert brotli_decompress(frame) == b"payload"
    # and a document that merely STARTS like a brotli stream survives
    # the loader cascade unchanged
    doc = b";var x = 1; " + FULL_PAGE.encode("utf-8")
    res = bare_extract(doc, Options(min_extracted_size=0))
    assert res.text and "Long enough body text" in res.text


def test_zstd_magic_without_decoder_yields_labeled_discard(monkeypatch):
    "The labeled discard is the degradation path when libzstd is absent."
    from trafilatura_spark.kernel import cdecompress
    from trafilatura_spark.kernel.loader import ZSTD_MAGIC

    monkeypatch.setattr(cdecompress, "HAS_ZSTD", False)
    payload = ZSTD_MAGIC + b"\x00" * 64
    res = bare_extract(payload, Options(min_extracted_size=0))
    assert res.text is None and res.tier == "unsupported_input"


def test_gzip_payload_still_decodes():
    import gzip

    payload = gzip.compress(FULL_PAGE.encode("utf-8"))
    res = bare_extract(payload, Options(min_extracted_size=0))
    assert res.text and "Long enough body text" in res.text


# --- doctype-aware wrap_if_fragment (VERDICT item 7) --------------------------

def test_wrap_if_fragment_accepts_doctype_prefix():
    from trafilatura_spark.operators.extract import wrap_if_fragment

    doc = "<!DOCTYPE html>\n" + FULL_PAGE
    assert wrap_if_fragment(doc) is doc  # no re-wrap
    assert wrap_if_fragment("<p>frag</p>").startswith("<html><body>")


def test_metadata_extracted_from_doctype_prefixed_page():
    "A doctype page must keep its real <head> visible to the meta scanners."
    from trafilatura_spark.kernel.metadata import extract_metadata
    from trafilatura_spark.operators.extract import wrap_if_fragment

    doc = "<!DOCTYPE html>\n" + FULL_PAGE
    meta = extract_metadata(wrap_if_fragment(doc))
    assert meta.title == "Doc Title"
    assert meta.date == "2024-03-05"
    assert meta.url == "https://example.com/post"
