"""The per-document deadline (kernel/settings.py arm_deadline): a SIGALRM
interval timer bounds the wall time of one extract_one_result call.

Spark-free.  A raise that the timer's handler makes inside a GC
finalizer would be swallowed as unraisable and the document would run
on; the module-wide filter turns that warning into a failure.
"""

import hashlib
import signal
import time
from concurrent.futures import ThreadPoolExecutor
from types import SimpleNamespace

import pytest

from trafilatura_spark.fixtures import generate_rows
from trafilatura_spark.kernel import DEFAULT_OPTIONS, settings
from trafilatura_spark.kernel.settings import ExtractionTimeout
from trafilatura_spark.operators.extract import extract_one_result

pytestmark = pytest.mark.filterwarnings("error::pytest.PytestUnraisableExceptionWarning")

# structure, not size: generated documents whose walks once grew with
# nesting depth.  Nested tables still take seconds (~8 s of CPU at 2000
# levels, so they keep the deadline tests on the timer); the others take
# ~1-2 s since the link-density records are built children first (the
# linked ones took 21-65 s unbounded before)
ADVERSARIAL = {
    "nested_tables": "<html><body>" + "<table><tr><td>x " * 2000 + "text" + "</td></tr></table>" * 2000
    + "</body></html>",
    "nested_divs": "<html><body>" + "<div>a " * 5000 + "text" + "</div>" * 5000 + "</body></html>",
    # a link innermost puts a <ref> under every div
    "nested_divs_linked": "<html><body>" + "<div>a " * 5000 + '<a href="/x">link</a>' + "</div>" * 5000
    + "</body></html>",
    "linked_every_level": "<html><body>" + '<div><a href="/x">link</a> a ' * 5000 + "text" + "</div>" * 5000
    + "</body></html>",
    "nested_lists_linked": "<html><body>" + '<ul><li><a href="/x">l</a> ' * 5000 + "text" + "</li></ul>" * 5000
    + "</body></html>",
    "unclosed_linked": "<html><body>" + '<div>a <a href="/x">l</a> ' * 5000 + "</body></html>",
}
TURNS = [text for _c, _t, _role, text, _tool, _ts in generate_rows(30) if text is not None][:300]
TURN = "<article>" + "".join(f"<p>Paragraph {i} with enough words to count as text.</p>" for i in range(20)) + "</article>"


def _timer_off() -> bool:
    return signal.getitimer(signal.ITIMER_REAL) == (0.0, 0.0)


@pytest.mark.parametrize("name", ["nested_tables"])
def test_adversarial_document_stops_at_the_deadline(name):
    t0 = time.monotonic()
    r = extract_one_result(ADVERSARIAL[name], DEFAULT_OPTIONS, timeout=2.0)
    wall = time.monotonic() - t0
    assert r.tier == "timeout" and r.text is None and r.chars_kept == 0
    assert wall <= 2.2, f"{name}: {wall:.2f}s for a 2 s deadline"
    assert _timer_off()
    r = extract_one_result(TURN, DEFAULT_OPTIONS, timeout=None)
    assert r.tier == "main" and r.text


def test_nested_tables_finish_within_the_default_deadline():
    # each outermost nested table is collected once per handle_table call,
    # and link density is read from one record table: ~8 s of CPU at 2000
    # levels (~18 s with per-table and per-candidate subtree walks)
    r = extract_one_result(ADVERSARIAL["nested_tables"], DEFAULT_OPTIONS)
    assert (r.tier, r.chars_kept) == ("baseline", 4004)
    assert hashlib.sha256(r.text.encode()).hexdigest().startswith("d38363275386aa8a")
    assert _timer_off()


def test_nested_divs_finish_within_the_default_deadline():
    # the link-density pass walks only ancestors of a <ref>, and these
    # divs hold none: ~0.4 s of CPU, so 5 s leaves room for a loaded host
    t0 = time.monotonic()
    r = extract_one_result(ADVERSARIAL["nested_divs"], DEFAULT_OPTIONS)
    wall = time.monotonic() - t0
    assert (r.tier, r.chars_kept) == ("baseline", 10004) and wall < 5.0, (r.tier, wall)
    assert hashlib.sha256(r.text.encode()).hexdigest().startswith("6abb0f96d95e5d87")
    assert _timer_off()


@pytest.mark.parametrize(
    "name, tier, chars, sha",
    [
        ("nested_divs_linked", "baseline", 10004, "02ac80bc85a39c6d"),
        ("linked_every_level", "baseline", 35004, "e7362f8949d21eda"),
        ("nested_lists_linked", "baseline", 10004, "ebd311075d80599c"),
        ("unclosed_linked", "baseline", 19999, "de394db8a3195165"),
    ],
)
def test_linked_nesting_finishes_within_the_default_deadline(name, tier, chars, sha):
    # the pinned outputs are those of the per-candidate subtree walks
    # (run with timeout=None); building each element's link record once,
    # children first, keeps them at ~1-2 s of CPU
    t0 = time.monotonic()
    r = extract_one_result(ADVERSARIAL[name], DEFAULT_OPTIONS)
    wall = time.monotonic() - t0
    assert (r.tier, r.chars_kept) == (tier, chars) and wall < 5.0, (r.tier, r.chars_kept, wall)
    assert hashlib.sha256(r.text.encode()).hexdigest().startswith(sha)
    assert _timer_off()


def test_wide_table_row_is_linear():
    # one row of 40,000 cells: serializing each cell once asked whether it
    # is the first of its row by a scan of all its siblings, 11-18 s of
    # CPU; the check is now constant time, ~1.3 s on one x86 core
    row = "<html><body><table><tr>" + "".join(f"<td>c{i}</td>" for i in range(40_000)) + "</tr></table></body></html>"
    t0 = time.process_time()
    r = extract_one_result(row, DEFAULT_OPTIONS, timeout=None)
    cpu = time.process_time() - t0
    assert (r.tier, r.chars_kept) == ("readability", 348891)
    assert hashlib.sha256(r.text.encode()).hexdigest().startswith("77fbc75f6679c1da")
    assert cpu <= 3.0, f"{cpu:.2f} s of CPU for one 40,000-cell row"


def test_wide_list_is_linear():
    # one list of 40,000 items: handle_lists appends each leaf item twice,
    # as the reference does, and the second append removed the item from
    # the end of a list by a scan of the whole list, ~13-15 s of CPU;
    # re-appending the last child returns at once, ~1.9 s on one x86 core
    ul = "<html><body><article><ul>" + "".join(f"<li>item {i}</li>" for i in range(40_000)) + "</ul></article></body></html>"
    t0 = time.process_time()
    r = extract_one_result(ul, DEFAULT_OPTIONS, timeout=None)
    cpu = time.process_time() - t0
    assert (r.tier, r.chars_kept) == ("readability", 508889)
    assert hashlib.sha256(r.text.encode()).hexdigest().startswith("a0a3d2901a1bad62")
    assert cpu <= 4.0, f"{cpu:.2f} s of CPU for one 40,000-item list"


def _pdf(content: bytes, encrypt: bytes = b"") -> str:
    "One-page PDF with ``content`` as its uncompressed stream, optionally an /Encrypt dictionary."
    return (
        b"%PDF-2.0\n1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n"
        b"4 0 obj << /Length " + str(len(content)).encode() + b" >>\nstream\n" + content
        + b"\nendstream\nendobj\n" + (b"5 0 obj << " + encrypt + b" >> endobj\n" if encrypt else b"")
        + b"trailer << /Root 1 0 R" + (b" /Encrypt 5 0 R" if encrypt else b"") + b" >>\n%%EOF\n"
    ).decode("latin-1")


def test_pdf_content_lexing_stops_at_the_deadline():
    # 200k text-showing operators in one 2 MB stream: ~1 s to lex unbounded
    pdf = _pdf(b"BT /F1 12 Tf " + b"(word) Tj " * 200_000 + b"ET")
    t0 = time.monotonic()
    r = extract_one_result(pdf, DEFAULT_OPTIONS, timeout=0.3)
    wall = time.monotonic() - t0
    assert r.tier == "timeout" and wall <= 0.33, (r.tier, wall)
    assert _timer_off()


def test_unverifiable_r6_pdf_is_labeled_quickly():
    # /R 6 with all-zero /U and /O: both Algorithm 2.B password checks run
    # (libcrypto AES-CBC) and fail -> pdf_encrypted without a deadline
    z48, z32 = b"<" + b"00" * 48 + b">", b"<" + b"00" * 32 + b">"
    pdf = _pdf(
        b"BT (x) Tj ET",
        b"/Filter /Standard /V 5 /R 6 /Length 256 /CF << /StdCF << /CFM /AESV3 /Length 32 >> >>"
        b" /StmF /StdCF /StrF /StdCF /P -4 /O " + z48 + b" /U " + z48 + b" /UE " + z32 + b" /OE " + z32,
    )
    extract_one_result(pdf, DEFAULT_OPTIONS, timeout=None)  # first PDF of the process: imports
    t0 = time.monotonic()
    r = extract_one_result(pdf, DEFAULT_OPTIONS, timeout=None)
    wall = time.monotonic() - t0
    assert r.tier == "pdf_encrypted" and wall < 0.05, (r.tier, wall)


def test_handler_raises_only_in_kernel_frames_while_armed(monkeypatch):
    def frame(name):
        return SimpleNamespace(f_globals={"__name__": name})

    kernel = frame("trafilatura_spark.kernel.handlers")
    settings._on_alarm(signal.SIGALRM, kernel)  # disarmed
    monkeypatch.setattr(settings, "_armed", True)
    for elsewhere in (
        frame("py4j.java_gateway"),  # e.g. a finalizer: the raise would be lost
        frame("trafilatura_spark.operators.extract"),  # around the guarded kernel call
        frame("trafilatura_spark.kernel.settings"),  # disarm_deadline itself
        SimpleNamespace(f_globals={}),
        None,
    ):
        settings._on_alarm(signal.SIGALRM, elsewhere)
    with pytest.raises(ExtractionTimeout):
        settings._on_alarm(signal.SIGALRM, kernel)


def test_timeout_is_not_an_exception():
    # the kernel's `except Exception` fallbacks must not swallow it
    assert issubclass(ExtractionTimeout, BaseException)
    assert not issubclass(ExtractionTimeout, Exception)


def test_short_deadlines_end_in_a_full_result_or_timeout():
    # each turn's deadline falls at a different point of its own run, so
    # the raise lands all over the cascade; a full result after an
    # interrupted one shows the interruption left no state behind
    full = []
    for text in TURNS:
        t0 = time.perf_counter()
        full.append((extract_one_result(text, DEFAULT_OPTIONS, timeout=None), time.perf_counter() - t0))
    tiers = set()
    for i, (text, (ref, took)) in enumerate(zip(TURNS, full)):
        timeout = min(0.01, max(0.00005, took * (1 + i % 10) / 10))
        r = extract_one_result(text, DEFAULT_OPTIONS, timeout=timeout)
        tiers.add(r.tier)
        if r.tier == "timeout":
            assert r.text is None and r.chars_kept == 0
        else:
            assert (r.text, r.tier, r.chars_kept) == (ref.text, ref.tier, ref.chars_kept)
        assert _timer_off()
    assert "timeout" in tiers and len(tiers) > 1, tiers


def test_deadline_needs_the_main_thread():
    with ThreadPoolExecutor(1) as pool:
        with pytest.raises(ValueError):
            pool.submit(extract_one_result, TURN, DEFAULT_OPTIONS, 1.0).result()
        assert pool.submit(extract_one_result, TURN, DEFAULT_OPTIONS, None).result().tier == "main"
    assert _timer_off()
