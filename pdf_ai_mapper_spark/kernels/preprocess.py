"""Text preprocessing kernel — the T1-T10 chain of SURVEY.md §2.3.

Re-expresses, byte-for-byte, the deterministic (NLTK-absent) path of the
reference's ``TextPreprocessor.preprocess_text``
(``app/core/text_processing/text_preprocessor.py:95-177``):

T1  error passthrough            (:98-99)
T2  lowercase                    (:106)
T3  strip non-Latin scripts      (:109-112)
T4  strip specials, keep hyphens; strip digits (:115-116)
T5  collapse whitespace          (:119)
T6  tokenize — fallback ``text.split()``, every token tagged NN (:125-129)
T7  token filter: len>=3, not stopword, not isdigit (:132-139; the POS
    test is vacuous on the fallback path since every tag is 'NN')
T8  frozen stopword set          (:22-93 → kernels/stopwords.py)
T9  key-phrase extraction: sliding bigrams/trigrams, Counter
    most_common(20) kept at count>=2, Counter tie-break = first
    occurrence order (:155-177)
T10 reassembly ``' '.join(tokens + phrases)`` (:145-147)

Pure functions: one string in, one string out. The Spark operator wraps
``preprocess_text`` in an Arrow pandas UDF; tests call it directly.
"""

from __future__ import annotations

import re
from collections import Counter
from heapq import nlargest
from operator import itemgetter

from .stopwords import NLTK_STOP_WORDS, STOP_WORDS

_phrase_count = itemgetter(1)

# The reference's six script/special/digit passes fused into ONE
# alternation: the three groups are disjoint character sets (script
# chars are \w letters, digits are \w, specials are non-\w), every match is
# replaced by a single space in all formulations, and replacements
# never create new matches — so one pass is byte-identical to the
# reference's six sequential subs (verified by the hypothesis parity
# suite vs tests/reference_extractor.py). NB folding the \s+ collapse
# into this alternation under an outer '+' is byte-identical too but
# 20% SLOWER end-to-end — the grouped quantifier re-enters the
# alternation per character; two linear passes beat one backtracking
# pass (measured).
_RE_STRIP_ALL = re.compile(
    r'[Ͱ-Ͽἀ-῿Ѐ-ӿ一-鿿؀-ۿ]|[^\w\s-]|\d+')


class _StripTable(dict):
    """Lazy per-codepoint strip table for str.translate: every char
    the alternation above would replace maps to ' ', everything else
    to itself.  Valid ONLY because every consumer reads the result
    through .split() (or ' '.join(split())): the regex's \\d+ turns a
    digit RUN into one space while translate yields one per digit —
    identical token streams either way, and translate's tight C loop
    beats the regex pass by ~30% (measured; 20k-case unicode fuzz +
    the hypothesis parity suite pin the equivalence).  The table fills
    lazily per distinct codepoint (corpus alphabets are small) and is
    a plain dict at lookup time."""

    def __missing__(self, cp: int) -> str:
        out = ' ' if _RE_STRIP_ALL.match(chr(cp)) else chr(cp)
        self[cp] = out
        return out


_STRIP_TABLE = _StripTable()

# ASCII fast path: lower() and the strip translate fused into ONE
# table, one C pass instead of two full-string copies.  Valid only
# for isascii() input: ASCII lowercasing is per-char and context-free,
# so cp → strip(lower(cp)) composes exactly; general Unicode lower()
# is NOT per-char (final sigma is context-dependent, 'İ' lowers to two
# codepoints), so non-ASCII text keeps the two-pass form.  Built
# eagerly over all 128 codepoints; byte-identity with the two-pass
# form is pinned by the hypothesis parity suite (ascii strategy) plus
# an exhaustive 0-127 unit check.
_ASCII_LOWER_STRIP = [
    _STRIP_TABLE[ord(chr(cp).lower())] for cp in range(128)
]  # a LIST, not a dict: str.translate indexes it as a C array —
#    no per-char hash — and the isascii() guard bounds every ord < 128


def _lower_strip(text: str) -> str:
    """lower + script/special/digit strip (T2-T5 before the whitespace
    collapse): fused single pass for ASCII, two-pass otherwise."""
    if text.isascii():
        return text.translate(_ASCII_LOWER_STRIP)
    return text.lower().translate(_STRIP_TABLE)


def extract_key_phrases(tokens: list[str]) -> list[str]:
    """T9: sliding-window bigrams (both words len>=3) and trigrams (all
    len>=3); Counter.most_common(20) filtered to count>=2.  Counter
    preserves first-insertion order among equal counts — that tie-break
    is part of the byte-identity contract.
    (reference text_preprocessor.py:155-177)

    Fast path: after the T7 filter every token already has len>=3, so
    the per-window length checks are vacuous — one min() check gates a
    C-level zip/join formulation (~2× kernel speedup, same output)."""
    n = len(tokens)
    if n >= 2 and min(map(len, tokens)) >= 3:
        join = ' '.join
        phrases = list(map(join, zip(tokens, tokens[1:])))
        phrases += map(join, zip(tokens, tokens[1:], tokens[2:]))
    else:
        phrases = []
        for i in range(n - 1):
            a, b = tokens[i], tokens[i + 1]
            if len(a) >= 3 and len(b) >= 3:
                phrases.append(a + ' ' + b)
        for i in range(n - 2):
            a, b, c = tokens[i], tokens[i + 1], tokens[i + 2]
            if len(a) >= 3 and len(b) >= 3 and len(c) >= 3:
                phrases.append(a + ' ' + b + ' ' + c)
    # most_common(20)-then-filter(count>=2) ≡ filter-then-nlargest(20):
    # most_common sorts by count desc (stable), so every count>=2 entry
    # precedes every count-1 entry — the post-filter keeps exactly the
    # first min(20, #dups) dup phrases either way. Filtering first
    # skips the heap pass over the (dominant) count-1 tail.
    counts = Counter(phrases)
    dups = [it for it in counts.items() if it[1] >= 2]
    return [p for p, _ in nlargest(20, dups, key=_phrase_count)]


def preprocess_text(text: str) -> str:
    """Full T1-T10 chain. Byte-identical to the reference's
    deterministic path for any input string.

    T2-T8 run as one pass: lower + strip (``_lower_strip``), the
    whitespace split, then the T7 token filter. The split stands in
    for the reference's ``re.sub(r'\\s+', ' ', text).strip()``
    collapse followed by ``text.split()``: regex ``\\s`` and
    ``str.split``'s whitespace table agree on every BMP codepoint
    (exhaustively checked + 20k-string fuzz, tests/test_kernels.py).

    ``preprocess_text_nltk`` is the NLTK-present reference path; the
    extraction operator picks one of the two by ``preprocess_mode``."""
    if text.startswith("Error:"):  # T1, reference :98-99
        return text
    stops = STOP_WORDS
    tokens = [
        tok for tok in _lower_strip(text).split()
        if len(tok) >= 3 and tok not in stops and not tok.isdigit()
    ]
    return ' '.join(tokens + extract_key_phrases(tokens))  # T10, :145-147


# -- NLTK-present mode (reference text_preprocessor.py:22-27,122-129) --
#
# When NLTK data exists, the reference diverges from the deterministic
# path in exactly three places:
#   1. stopwords: nltk's english list (179 words) replaces the basic
#      fallback set — ADDITIONAL_STOPWORDS are added either way;
#   2. tokenization: word_tokenize (punkt sentence split + Treebank
#      word tokenizer) replaces text.split();
#   3. POS tags: pos_tag (averaged-perceptron) replaces the all-'NN'
#      default, and the T7 filter keeps only NN*/JJ*/VB* tags.
#
# (1) and (2) are implemented exactly.  For (2) note the input is the
# ALREADY-CLEANED text — T4 leaves only [\w\s-] characters — and on
# that alphabet the full published Treebank rule set reduces to ONE
# active rule, DOUBLE_DASHES (`--` → ` -- `; every other rule matches
# only punctuation T4 removed), while punkt can never find a sentence
# boundary without terminal punctuation.  So
#   word_tokenize(clean) ≡ re.sub('--', ' -- ', clean).split()
# which is what nltk_tokenize computes.  (3) is NOT reproduced: the
# perceptron tagger is a trained model, not a published spec, so this
# mode keeps the all-'NN' default (every token passes the POS test).
# DELTA vs a real NLTK install: tokens a perceptron would tag outside
# NN*/JJ*/VB* (adverbs like 'quickly', cardinal words like 'seven')
# are kept here but dropped there.  Stopwords absorb most closed-class
# words, so the delta is confined to open-class non-noun/adj/verb
# tokens.

_RE_DOUBLE_DASH = re.compile(r'--')


def nltk_tokenize(normalized: str) -> list[str]:
    """word_tokenize on T4-cleaned text: the Treebank DOUBLE_DASHES
    rule then whitespace split (see derivation above)."""
    return _RE_DOUBLE_DASH.sub(' -- ', normalized).split()


def preprocess_text_nltk(text: str) -> str:
    """T1-T10 with the NLTK-present stopword list and tokenizer."""
    if text.startswith("Error:"):  # T1
        return text
    stops = NLTK_STOP_WORDS
    tokens = [
        tok for tok in nltk_tokenize(_lower_strip(text))
        if len(tok) >= 3 and tok not in stops and not tok.isdigit()
    ]
    return ' '.join(tokens + extract_key_phrases(tokens))


def simple_categories(preprocessed: str) -> list[str]:
    """Cold-start per-doc category (A1): top-3 words of len>=4 by
    frequency → ``"Topic: w1, w2, w3"``.  Counter tie-break = first
    occurrence, as in the reference.
    (reference category_manager.py:90-103)"""
    words = [w for w in preprocessed.split() if len(w) >= 4]
    if not words:
        return ["Uncategorized"]
    top = [w for w, _ in Counter(words).most_common(3)]
    return [f"Topic: {', '.join(top)}"]
