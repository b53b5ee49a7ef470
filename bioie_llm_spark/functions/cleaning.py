"""Response-cleaning operators: the reference's `clean_response` semantics
re-expressed for Spark (SURVEY.md §2.7 F1/F2/F3).

Semantics replicated exactly (these DEFINE the P/R scoring, so they are the
engine's correctness-critical kernel):

- F1 mention matcher (base_processor.py:1266-1298): a gold entity counts as
  mentioned iff it occurs in the response with neither adjacent character in
  the word class ``[a-zA-Z0-9-_]`` — so ``EB1`` does NOT match inside
  ``RHEB1`` and ``PSD`` does NOT match inside ``PSD-95``.
- F2 choice extractor (base_processor.py:1336-1345): whitespace-tokenize,
  strip non-alpha per token, first token case-insensitively equal to a
  choice wins; default ``'None'``; result lowercased.
- F3 kbase variant (base_processor.py:1309-1332): lowercase, remove the
  query entity, accept iff exactly one choice is a substring.

All three are pure Catalyst expressions — whole-stage-codegen'd, no
Python worker in the hot path. F1 builds one Java regex per gold inside
``filter(golds, g -> regexp(response, pattern(g)))``: the gold is quoted
the way ``Pattern.quote`` quotes (``\\Q..\\E``, with any ``\\E`` inside
the gold split out), and the pattern walks the gold's occurrences
left to right without overlap, as the reference's ``re.finditer`` does.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

_WORD = set("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789-_")


# ---------------------------------------------------------------- F1
def py_match_mentions(response: str, golds: list[str]) -> list[str]:
    """Pure-Python reference implementation (property-test twin)."""
    if response is None:
        return []
    out = []
    for g in golds or []:
        if not g:
            continue
        for m in re.finditer(re.escape(g), response):
            before = response[m.start() - 1] if m.start() > 0 else ""
            after = response[m.end()] if m.end() < len(response) else ""
            if before not in _WORD and after not in _WORD:
                out.append(g)
                break
    return out


_WORD_CLASS = r"[A-Za-z0-9_\-]"  # _WORD as a Java regex class


def _quote(g: Column) -> Column:
    """Java ``Pattern.quote``: the gold between ``\\Q`` and ``\\E``; a
    ``\\E`` inside the gold ends the quote, is matched as an escaped
    backslash plus ``E``, and the quote reopens."""
    return F.concat(
        F.lit(r"\Q"), F.replace(g, F.lit(r"\E"), F.lit(r"\E\\E\Q")), F.lit(r"\E")
    )


def match_mentions_expr(response: Column, golds: Column) -> Column:
    """Mention matcher: (response, array<gold>) -> array<matched>, pure
    Catalyst. Matched golds keep gold-list order (the reference appends in
    gold iteration order); a NULL response or NULL gold list gives ``[]``.

    Per gold the pattern is
    ``\\A(?>.*?G)*?(?>.*?G)(?<![W]G)(?![W])`` with G the quoted gold:
    each atomic ``(?>.*?G)`` jumps to the next occurrence that does not
    overlap the previous one and cannot back off to a later one, so the
    lazy repeat tries the reference's ``finditer`` occurrences in order,
    and the two lookarounds are its adjacent-character check.
    """

    def mentioned(g: Column) -> Column:
        q = _quote(g)
        pattern = F.concat(
            F.lit(r"(?s)\A(?>.*?"), q, F.lit(r")*?(?>.*?"), q,
            F.lit(f")(?<!{_WORD_CLASS}"), q, F.lit(f")(?!{_WORD_CLASS})"),
        )
        return (F.length(g) > 0) & F.regexp(response, pattern)

    return F.coalesce(F.filter(golds, mentioned), F.array().cast("array<string>"))


# ---------------------------------------------------------------- F2
def py_extract_choice(response: str, choices: list[str]) -> str:
    """Pure-Python reference twin of extract_choice_expr."""
    if response is None:
        return "none"
    lowered = [c.lower() for c in choices]
    for tok in response.split():
        t = re.sub(r"[^a-zA-Z]", "", tok).lower()
        if t in lowered:
            return t
    return "none"


def extract_choice_expr(response: Column, choices: list[str]) -> Column:
    """First whitespace token that (after non-alpha strip, F10) equals a
    choice case-insensitively; 'none' default. Pure Catalyst expressions."""
    toks = F.split(response, r"\s+")
    cleaned = F.transform(toks, lambda t: F.lower(F.regexp_replace(t, "[^a-zA-Z]", "")))
    choice_arr = F.array(*[F.lit(c.lower()) for c in choices])
    hits = F.filter(cleaned, lambda t: F.array_contains(choice_arr, t))
    return F.lower(F.coalesce(F.try_element_at(hits, F.lit(1)), F.lit("none")))


# ---------------------------------------------------------------- F3
def extract_choice_kbase_expr(
    response: Column, entity: Column, choices: list[str]
) -> Column:
    """kbase variant: lowercase, remove the query entity, keep choices
    contained as substrings; accept iff exactly one matches."""
    resp = F.replace(F.lower(response), F.lower(entity), F.lit(""))
    choice_arr = F.array(*[F.lit(c.lower()) for c in choices])
    contained = F.filter(choice_arr, lambda c: F.contains(resp, c))
    return F.when(F.size(contained) == 1, F.try_element_at(contained, F.lit(1))).otherwise(
        F.lit("none")
    )
