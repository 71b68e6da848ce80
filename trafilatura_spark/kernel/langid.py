"""Language identification (stand-in for the reference's optional
py3langid dependency, utils.py:440-464, absent here).

Two cooperating models:

- character-n-gram rank profiles over ~50 languages
  (kernel/langprofiles.py, Cavnar-Trenkle method, trained at import
  from the in-repo stoplist corpora) — the primary classifier;
- exact function-word hit counts (LANG_WORDS below + the full stoplists)
  — evidence gate and tie-break when two related languages' n-gram
  profiles land within a narrow margin (es/it, da/no, ...).

Default semantics keep the round-1 contract: a document whose language
cannot be established with positive evidence is NEVER discarded.  With
``strict=True`` (Options.lang_strict) the argmax label is always
trusted — the reference's behavior when py3langid IS installed, where
every document gets a label and any mismatch (including
"model couldn't really tell") discards.

The Spark column twin for whole-table sweeps stays JVM-side in
operators/textstats.py (lang_id) and shares LANG_WORDS.
"""

from __future__ import annotations

import re
from typing import Optional

from .langprofiles import tokenize

# distinctive high-frequency function words per language; lowercase,
# no regex metacharacters.  Deliberately compact: scoring is hit-count
# argmax, so each list only needs enough coverage to dominate on text
# genuinely written in its language.
LANG_WORDS = {
    "en": "the and is that it for with was this have are not you but they from she his her which their",
    "de": "der die und das nicht ist ein mit den von sich auch werden einer dass für wird bei nur noch",
    "fr": "le les des est dans pour que une qui avec sur pas sont cette aux été leur comme nous mais",
    "es": "el los las es un una por para con del como pero más está muy hay sin sobre también cuando",
    "it": "il che di non per sono della questo anche più gli nel alla hanno sulla essere degli quella",
    "pt": "os das dos não uma foi são ela você tem ser isso seu sua pelo pela até depois quem",
    "nl": "het een van dat niet zijn voor maar ook deze wordt naar heeft werd onder tegen hun bij zich",
    "pl": "się nie jest tak ale jego przez tylko może być bardzo już czy które został oraz aby tego",
    "cs": "že když jako jen podle nebo však ještě jsou jsme této které další mezi byla bylo už při",
    "sv": "och att det som är av inte till den ett han har var vid från kan skulle när också",
    "da": "og at er en til ikke der af men et hun blev være hvad hvor efter kunne skal denne",
    "fi": "ja on ei että oli hän mutta kun niin kuin myös sitä tai vain joka ovat olen sen ole",
    "hu": "az és hogy nem egy volt csak már vagy mint még aki mert nagyon lehet ezt olyan amikor meg",
    "ro": "și în cu pe că este nu din mai sau dacă care pentru sunt fost când după acest fără",
    "tr": "bir ve bu için çok ile daha gibi ama değil sonra kadar her onun ancak veya olarak olan şey",
    "id": "yang dan di itu dengan untuk tidak ini dari dalam akan pada juga mereka bisa oleh sudah telah",
    "ru": "и в не на что он как это по но они мы же за от так его было она мне",
}

_TOKEN_RE = re.compile(r"\w+", re.UNICODE)
MIN_MARKER_HITS = 2  # evidence floor for a standalone word-hit decision
TIEBREAK_WINDOW = 0.05  # langs within this distance of the best go to the word vote
CLEAR_MARGIN = 0.05  # a lead this big needs only one exact word hit
SCRIPT_MARGIN = 0.20  # a lead this big (unique script) needs no word hit at all


def _stopword_hits(text: str, tokens: list, lang: str) -> int:
    "Exact function-word hits for one language (token + no-space lists)."
    from .stoplists import LANG_STOPLISTS, NOSPACE_STOPLISTS, nospace_coverage_re

    if lang in NOSPACE_STOPLISTS:
        return len(nospace_coverage_re(lang).findall(text))
    stoplist = LANG_STOPLISTS.get(lang, frozenset())
    return sum(1 for t in tokens if t in stoplist)


def classify_language(text: str, strict: bool = False) -> Optional[str]:
    """Detected language over ~50 languages: character-n-gram rank
    profiles, with a function-word vote among the candidates whose
    distances land within TIEBREAK_WINDOW of the best (related languages
    — es/it, da/no — have near-identical n-gram profiles but disjoint
    function words).

    Default mode returns None (unknown) without positive word evidence:
    >= MIN_MARKER_HITS exact hits, or one hit behind a clear n-gram lead
    (agglutinative languages surface few standalone particles).  So thin
    or out-of-model text never triggers the discard filter, matching the
    reference when py3langid is NOT installed.  strict mode always
    returns the argmax label (py3langid-installed semantics)."""
    from .langprofiles import rank_candidates

    ranked = rank_candidates(text)
    if not ranked:
        return None
    lowered = text.lower()
    tokens = tokenize(text)
    best_dist, best = ranked[0]
    window = [lang for d, lang in ranked if d - best_dist < TIEBREAK_WINDOW]
    if len(window) > 1:
        hits = {lang: _stopword_hits(lowered, tokens, lang) for lang in window}
        top = max(hits.values())
        if top > hits[best]:
            best = next(lang for lang in window if hits[lang] == top)
    if strict:
        return best
    margin = next((d for d, lang in ranked if lang != best), 2.0) - best_dist
    best_hits = _stopword_hits(lowered, tokens, best)
    if (
        best_hits >= MIN_MARKER_HITS
        or (best_hits >= 1 and margin >= CLEAR_MARGIN)
        # unique-script languages (e.g. Tamil) leave every other profile
        # at no-overlap distance; the gap itself is conclusive evidence
        or margin >= SCRIPT_MARGIN
    ):
        return best
    return None


_HTML_LANG_RE = re.compile(r"([a-z]{2})")
# meta attributes checked, in order (reference utils.py:93)
_TARGET_LANG_ATTRS = (("http-equiv", "content-language"), ("property", "og:locale"))


def check_html_lang(tree, target_language: str, strict: bool = False) -> bool:
    """Quick declared-language check over meta elements (reference
    utils.py:416-436): content-language / og:locale metas decide when
    present; the <html lang> attribute only counts in strict mode
    (it is often wrong); absent markup passes."""
    for attr, value in _TARGET_LANG_ATTRS:
        elems = [
            m
            for m in tree.iterdescendants("meta")
            if (m.get(attr) or "").lower() == value and m.get("content")
        ]
        if elems:
            return any(
                target_language in _HTML_LANG_RE.split((m.get("content") or "").lower())
                for m in elems
            )
    if strict:
        root = tree if tree.tag == "html" else next(tree.iterdescendants("html"), None)
        if root is not None and root.get("lang"):
            return target_language in _HTML_LANG_RE.split((root.get("lang") or "").lower())
    return True


def language_filter(
    temp_text: str, temp_comments: str, target_language: str, strict: bool = False
) -> bool:
    """True when the document should be DISCARDED — utils.py:450-464
    semantics.  Default: discard only a POSITIVELY detected mismatch.
    strict (Options.lang_strict): the argmax label always stands, so
    unknown-ish text is discarded too — what the reference does when
    py3langid is installed and labels every document.

    Letterless input (empty text, digits/punctuation only) produces no
    label even in strict mode: py3langid would emit an arbitrary
    low-confidence label for such input, so "no letters at all" is
    treated as no evidence, never a positive mismatch (round-3 ADVICE)."""
    detected = classify_language(
        temp_text if len(temp_text) > len(temp_comments) else temp_comments, strict=strict
    )
    return detected is not None and detected != target_language
