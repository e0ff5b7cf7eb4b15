"""Relevance scoring + snippet kernels (W1, W2 of SURVEY.md §2.6).

Byte/value-identical re-expressions of:
- ``app/core/search/relevance_calculator.py:14-41`` — score =
  Σ_token substring-count, plus a +10 phrase bonus that sits INSIDE the
  token loop, so a phrase match adds 10 × n_tokens.  That quirk is part
  of the contract and reproduced as-is.
- ``app/core/search/snippet_generator.py:16-62`` — 200-char sliding
  window, stride 50, maximize Σ token occurrences; fallback = head of
  text; whitespace cleanup; ellipsis affixes.
"""

from __future__ import annotations

import re

_RE_WS = re.compile(r'\s+')

# window length and stride, reference snippet_generator.py:12,34
SNIPPET_LENGTH = 200
SNIPPET_STRIDE = 50


def relevance_score(query_tokens: list[str], document_text: str) -> int:
    text = document_text.lower()
    score = 0
    phrase = ' '.join(query_tokens)
    phrase_hit = len(query_tokens) > 1 and phrase in text
    for token in query_tokens:
        score += text.count(token)
        if phrase_hit:
            score += 10  # bonus inside the loop — reference :36-39
    return score


def generate_snippet(query_tokens: list[str], text: str) -> str:
    text = text.lower()
    best_pos = 0
    highest = 0
    for i in range(0, len(text) - SNIPPET_LENGTH, SNIPPET_STRIDE):
        window = text[i:i + SNIPPET_LENGTH]
        count = sum(window.count(tok) for tok in query_tokens)
        if count > highest:
            highest = count
            best_pos = i
    if highest == 0:
        snippet = text[:SNIPPET_LENGTH]
        best_pos = 0
    else:
        snippet = text[best_pos:best_pos + SNIPPET_LENGTH]
    snippet = snippet.replace('\n', ' ')
    snippet = _RE_WS.sub(' ', snippet).strip()
    if best_pos > 0:
        snippet = f"...{snippet}"
    if best_pos + SNIPPET_LENGTH < len(text):
        snippet = f"{snippet}..."
    return snippet
