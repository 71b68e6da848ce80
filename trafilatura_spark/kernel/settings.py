"""Extraction options, constants and the per-document deadline timer.

Defaults mirror the reference configuration
(/root/reference/trafilatura/settings.cfg and settings.py:70-191,
341-488); the graft's equality contract is the reference `extract()`
default: txt output, comments on, balanced focus, tables on,
links/images/formatting off (core.py:494-520).
"""

from __future__ import annotations

import signal
import threading
from dataclasses import dataclass, replace
from typing import Optional


class ExtractionTimeout(BaseException):
    """Per-document deadline exceeded, raised by arm_deadline's timer: the
    PREEMPTIVE analog of the reference CLI's hard 30 s/file kill
    (settings.cfg:37, cli_utils.py:431-437).  A BaseException, so the
    kernel's ``except Exception`` fallbacks never swallow it.

    Whichever bytecode it hits, module-level state stays valid: lru_cache
    memos store only returned values; fingerprint._STRIP_EXTENSION and
    tei._DTD_SCHEMA_CACHE bind a finished value in one store; LRU_TEST
    (dedup_state) changes by single OrderedDict calls; a failed import is
    dropped from sys.modules."""


_RETRY_SECS = 0.005  # after the deadline, re-fire until a raise lands in the kernel
_armed = False
_installed = False  # the handler, once per process (signal.getsignal costs ~4 µs)


def _on_alarm(signum, frame) -> None:
    """Raise only while armed, in a kernel frame outside this module: a
    raise in a GC finalizer is lost as unraisable (the timer re-fires);
    one in disarm_deadline or the operator would escape its guard."""
    name = frame.f_globals.get("__name__", "") if frame is not None else ""
    if _armed and name.startswith("trafilatura_spark.kernel.") and name != __name__:
        raise ExtractionTimeout


def arm_deadline(timeout: float) -> None:
    """Raise ExtractionTimeout in kernel code ``timeout`` (> 0) seconds from
    now.  Main thread only (signal handlers run there); disarm in a finally."""
    global _armed, _installed
    if threading.current_thread() is not threading.main_thread():
        raise ValueError("the per-document deadline is a SIGALRM timer and needs the main thread")
    if not _installed:
        signal.signal(signal.SIGALRM, _on_alarm)
        _installed = True
    _armed = True
    signal.setitimer(signal.ITIMER_REAL, timeout, _RETRY_SECS)


def disarm_deadline() -> None:
    global _armed
    _armed = False  # first: a signal still pending raises nothing
    signal.setitimer(signal.ITIMER_REAL, 0)


@dataclass
class Options:
    "Per-job extraction configuration (one fixed instance per Spark job)."
    format: str = "txt"
    fast: bool = False
    focus: str = "balanced"  # balanced | precision | recall
    comments: bool = True
    # tri-state like the reference's include_formatting (bool | None):
    # None = format default (markdown formats, others don't); an explicit
    # False is honored even for markdown (unit_tests.py:710-716)
    formatting: Optional[bool] = None
    links: bool = False
    images: bool = False
    tables: bool = True
    dedup: bool = False
    lang: Optional[str] = None
    # strict language gate: trust the classifier's argmax label for every
    # document (reference-with-py3langid semantics — unknown-ish text is
    # discarded as a mismatch); default False keeps the conservative
    # never-discard-on-thin-evidence behavior (kernel/langid.py)
    lang_strict: bool = False
    # date-finding knobs (reference date_extraction_params passed to
    # htmldate, core.py:344-351 / metadata.py:523-525): extensive=False
    # disables the free-text/copyright rungs; original=False prefers the
    # later modified stamp over the published one
    date_extensive: bool = True
    date_original: bool = True
    # plausibility window (htmldate min_date/max_date: candidates outside
    # [date_min, date_max] are rejected and the ladder continues); ISO
    # "YYYY-MM-DD" strings, None = the module-level 1995..2040 year bounds
    date_min: Optional[str] = None
    date_max: Optional[str] = None
    url: Optional[str] = None
    with_metadata: bool = False
    # user password for standard-security PDFs (kernel/pdftext.py);
    # the empty default covers permissions-only encryption — the
    # overwhelmingly common case.  One fixed password per job run
    # (corpora of same-publisher PDFs share one), not per document.
    pdf_password: str = ""
    # sizes (settings.cfg:26-33)
    min_extracted_size: int = 250
    min_output_size: int = 1
    min_output_comm_size: int = 1
    min_extracted_comm_size: int = 1
    min_duplcheck_size: int = 100
    max_repetitions: int = 2
    max_file_size: int = 20_000_000
    min_file_size: int = 10
    max_tree_size: Optional[int] = None
    # user pruning / filter job parameters (reference core.py:405-432:
    # prune_xpath, url_blacklist, author_blacklist, only_with_metadata).
    # prune_selectors uses the kernel's selector mini-syntax ('tag',
    # '.class', '#id', 'tag.class', 'tag#id') since the DOM has no XPath
    # engine; semantics match prune_xpath (subtrees removed pre-extraction).
    prune_selectors: tuple = ()
    url_blacklist: frozenset = frozenset()
    author_blacklist: frozenset = frozenset()
    only_with_metadata: bool = False

    def __post_init__(self) -> None:
        # implied options (reference settings.py:99-101,168-170):
        # markdown output implies formatting unless explicitly disabled;
        # metadata-consuming features imply with_metadata
        if self.formatting is None:
            self.formatting = self.format == "markdown"
        if (
            self.only_with_metadata
            or self.url_blacklist
            or self.author_blacklist
            or self.format == "xmltei"
        ):
            self.with_metadata = True

    def copy(self, **kw) -> "Options":
        # per-document hot path (recall-escalation focus flip):
        # dataclasses.replace re-runs __init__/__post_init__, ~15x the
        # cost of a raw clone.  focus does not participate in the
        # __post_init__ implications, so a dict-level clone is
        # equivalent; any other field change takes the full replace.
        if not kw or set(kw) <= {"focus"}:
            clone = object.__new__(Options)
            clone.__dict__.update(self.__dict__)
            clone.__dict__.update(kw)
            return clone
        return replace(self, **kw)


DEFAULT_OPTIONS = Options()

# tag vocabulary after conversion (settings.py:474)
TAG_CATALOG = frozenset(["blockquote", "code", "del", "head", "hi", "lb", "list", "p", "pre", "quote"])

CUT_EMPTY_ELEMS = frozenset(
    "article b blockquote dd div dt em h1 h2 h3 h4 h5 h6 i li main p pre q section span strong".split()
)

# deletion/stripping lists (settings.py:370-452); order preserved
MANUALLY_CLEANED = [
    "aside", "embed", "fencedframe", "footer", "form", "head", "iframe", "menu", "object", "script",
    "applet", "audio", "canvas", "figure", "map", "picture", "svg", "video",
    "area", "blink", "button", "datalist", "dialog", "frame", "frameset", "fieldset", "link", "input",
    "ins", "label", "legend", "marquee", "math", "menuitem", "nav", "noindex", "noscript", "optgroup",
    "option", "output", "param", "progress", "rp", "rt", "rtc", "select", "source", "style", "track",
    "textarea", "time", "use",
]

MANUALLY_STRIPPED = [
    "abbr", "acronym", "address", "bdi", "bdo", "big", "cite", "data", "dfn", "font", "hgroup",
    "img", "ins", "mark", "meta", "nobr", "ruby", "small", "tbody", "template", "tfoot", "thead",
]

MIN_DUPLICATE_LENGTH = 50
DEDUPE_SCAN_CAP = 200_000

# inline-tag ladder (settings.py:486-488)
INLINE_CONSUMING = {"hi", "ref", "del"}
INLINE_FORMATTABLE = INLINE_CONSUMING | {"code"}
INLINE_CARRIED = INLINE_FORMATTABLE | {"graphic"}

# recall escalation constants (core.py:42-51)
ESCALATION_MAX_LENGTH = 3000
ESCALATION_PAGE_SHARE = 0.2
ESCALATION_ACCEPT_RATIO = 1.5
ESCALATION_JUSTEXT_RATIO = 2.0

JUSTEXT_OVERRIDE_RATIO = 3  # external.py:32
