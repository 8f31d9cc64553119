"""Pure-Python text semantics, char-exact with the reference pipeline.

These functions are the single source of truth for string semantics.
They run inside Arrow-batched pandas UDFs (vectorized over numpy arrays
of strings, never per-row Spark Python UDFs) and directly in pytest.

Reference parity targets (file:line into /root/reference):
- clean_text                src/streamlit/app/utils/text_processor.py:96-136
- format_grade_notations    text_processor.py:218-238
- extract_conclusion        text_processor.py:138-216
- tokenize                  src/finetuning/data/json_convertissor.py:7-11
- find_token_spans          json_convertissor.py:13-36
- decode_with_fallback      text_processor.py:51-68

All regexes are compiled once at module import (the reference compiles
per call; constant-folding them here is a free win).
"""

from __future__ import annotations

import hashlib
import re
import unicodedata

from .. import config

# --------------------------------------------------------------------------
# clean_text — 6-step normalization chain (text_processor.py:96-136)
# --------------------------------------------------------------------------

_WS_RE = re.compile(r"\s+")
# Keep word chars, whitespace, the Latin Extended block covering French
# accents, and sentence punctuation (text_processor.py:117-121).
_CHARSET_RE = re.compile(
    r"[^\w\sÀ-ſàâäéèêëîïôöùûüÿçÀÂÄÉÈÊËÎÏÔÖÙÛÜŸÇ.,;:()\[\]{}\"'-]"
)
_PUNCT_SPACE_RE = re.compile(r"\s*([.,;:!?])\s*")
_MULTI_PERIOD_RE = re.compile(r"\.{2,}")
_DASH_RE = re.compile(r"[-‐‑‒–—―]+")


def clean_text(text: str | None) -> str:
    """Normalize unicode/whitespace/punctuation/dashes.

    Order of operations is semantic (e.g. `!`/`?` are spaced by step 4
    but then removed by nothing — they were already stripped in step 3,
    so step 4 only ever fires on `.,;:`): preserved exactly.
    """
    if not text:
        return ""
    text = unicodedata.normalize("NFKC", text)
    text = _WS_RE.sub(" ", text)
    text = _CHARSET_RE.sub("", text)
    text = _PUNCT_SPACE_RE.sub(r"\1 ", text)
    text = _MULTI_PERIOD_RE.sub(".", text)
    text = _DASH_RE.sub("-", text)
    return text.strip()


# --------------------------------------------------------------------------
# Grade-notation formatting (text_processor.py:218-238)
# --------------------------------------------------------------------------

_GRADE_PATTERNS: tuple[tuple[re.Pattern, str], ...] = (
    # A0B0 / A1B0 / AxB0 ... -> "A0 B0"
    (re.compile(r"A(\d|\+|x|X)B(\d|\+|x|X)"), r"A\1 B\2"),
    # lowercase variants a0b0 -> "A0 B0"
    (re.compile(r"[Aa](\d|\+|x|X)[Bb](\d|\+|x|X)"), r"A\1 B\2"),
    # "grade a2" -> "Grade A2" (regex keeps the matched letter's case;
    # the reference's \1 backreference does too — "grade a2"->"Grade a2")
    (re.compile(r"grade\s+([AaBb])(\d|\+|x|X)"), r"Grade \1\2"),
    # "A1-B0" -> "A1 B0"
    (re.compile(r"([AaBb])(\d|\+|x|X)\s*-\s*([AaBb])(\d|\+|x|X)"), r"\1\2 \3\4"),
)


def format_grade_notations(text: str) -> str:
    """Apply the four grade-notation rewrites in reference order."""
    for pattern, replacement in _GRADE_PATTERNS:
        text = pattern.sub(replacement, text)
    return text


# --------------------------------------------------------------------------
# Sectionizer (text_processor.py:138-216)
# --------------------------------------------------------------------------

_CONCLUSION_RES = tuple(
    re.compile(p, re.MULTILINE | re.DOTALL) for p in config.CONCLUSION_PATTERNS
)
_BIOPSY_RES = tuple(
    re.compile(p, re.MULTILINE | re.DOTALL) for p in config.BIOPSY_PATTERNS
)
_LAVAGE_RES = tuple(re.compile(p) for p in config.LAVAGE_PATTERNS)
_END_MARKER_RES = tuple(re.compile(p) for p in config.END_MARKERS)


def extract_conclusion(text: str | None) -> str | None:
    """Extract the biopsy-conclusion span from a full document.

    Pipeline: clean_text -> first conclusion-pattern hit -> suffix ->
    first biopsy-pattern hit -> terminate at lavage pattern, else the
    first end-marker with start>0 -> clean_text -> grade formatting.
    Returns None when either section is missing (text_processor.py:161-163,
    211-212).
    """
    if not text:
        return None
    text = clean_text(text)

    conclusion_text = None
    for rx in _CONCLUSION_RES:
        m = rx.search(text)
        if m:
            conclusion_text = text[m.end():]
            break
    if not conclusion_text:
        return None

    biopsy_text = None
    for rx in _BIOPSY_RES:
        m = rx.search(conclusion_text)
        if m:
            section_text = conclusion_text[m.start():]
            end_pos = None
            for lavage_rx in _LAVAGE_RES:
                lm = lavage_rx.search(section_text)
                if lm:
                    end_pos = lm.start()
                    break
            if end_pos is None:
                for marker_rx in _END_MARKER_RES:
                    mm = marker_rx.search(section_text)
                    if mm and mm.start() > 0:
                        end_pos = mm.start()
                        break
            biopsy_text = section_text[:end_pos] if end_pos else section_text
            break

    if not biopsy_text:
        return None
    return format_grade_notations(clean_text(biopsy_text))


# --------------------------------------------------------------------------
# Preprocess before mention detection (model_handler.py:84-94)
# --------------------------------------------------------------------------


def preprocess_for_model(text: str, max_len: int = config.MAX_SEQUENCE_LENGTH) -> str:
    """Whitespace-normalize then truncate to max_len CHARS (a reference
    quirk — chars, not tokens — preserved for parity)."""
    text = " ".join(text.split())
    return text[:max_len] if len(text) > max_len else text


# --------------------------------------------------------------------------
# Tokenizer + annotation projection (json_convertissor.py:7-36)
# --------------------------------------------------------------------------

_TOKEN_RE = re.compile(r"\b\w+\b|[^\w\s]")


def tokenize(text: str) -> list[str]:
    """Word-or-single-punct tokens (json_convertissor.py:7-11)."""
    return _TOKEN_RE.findall(text)


def find_token_spans(text: str, entity: str | None) -> list[tuple[int, int, str]]:
    """All case-insensitive token-subsequence occurrences of `entity`
    in `text`, as (start_tok, end_tok_inclusive, entity) triples
    (json_convertissor.py:13-36)."""
    if entity is None or entity == "":
        return []
    text_tokens = [t.lower() for t in tokenize(text)]
    entity_tokens = [t.lower() for t in tokenize(str(entity))]
    if not entity_tokens:
        return []
    n, m = len(text_tokens), len(entity_tokens)
    spans = []
    for i in range(n):
        if i + m <= n and text_tokens[i : i + m] == entity_tokens:
            spans.append((i, i + m - 1, entity))
    return spans


# --------------------------------------------------------------------------
# Decode fallback chain (text_processor.py:51-68)
# --------------------------------------------------------------------------


def decode_with_fallback(content: bytes) -> str:
    for encoding in config.ENCODING_ATTEMPTS:
        try:
            return content.decode(encoding)
        except UnicodeDecodeError:
            continue
    return content.decode("utf-8", errors="replace")


# --------------------------------------------------------------------------
# Deterministic identities (replaces the reference's salted Python hash(),
# model_handler.py:111-113 — a nondeterminism bug class we eliminate)
# --------------------------------------------------------------------------


def sha256_hex(s: str | bytes) -> str:
    if isinstance(s, str):
        s = s.encode("utf-8")
    return hashlib.sha256(s).hexdigest()


def stable_score(text: str, label: str) -> float:
    """Deterministic stand-in confidence in [0.5, 1.0), 3-dp rounded
    (reference rounds scores to 3dp, model_handler.py:34)."""
    h = int(sha256_hex(f"{text}\x1f{label}")[:8], 16)
    return round(0.5 + (h % 500) / 1000.0, 3)
