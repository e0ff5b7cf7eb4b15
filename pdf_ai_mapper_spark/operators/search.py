"""Search operators (F4-F8, W1-W3, J2-J3) — the reference's query path
(``search_engine.py:39-145``) as one lazy DataFrame program.

Stage order is hand-pinned (Catalyst cannot reorder around opaque
UDFs — SURVEY.md §4.1): category filter → stored first-seen flag
(``is_duplicate``, settled at commit time: no per-query window or
shuffle) → relevance UDF →
score>0 filter → top-k → snippet UDF (on the k winners ONLY — ranking
never reads the snippet, so deferring it is result-identical and costs
k computations instead of one per matching document).
``orderBy(desc).limit(k)`` plans as TakeOrderedAndProject — true
distributed top-k, no global sort.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType, StringType

from ..config import DEFAULT_CONFIG
from ..kernels.query import is_valid_query, preprocess_query
from ..kernels.relevance import (SNIPPET_LENGTH, SNIPPET_STRIDE,
                                 generate_snippet, relevance_score)


def _relevance_udf(tokens: list[str]):
    """Relevance (W1) as an Arrow pandas UDF; tokens are captured in the
    closure (tiny — a handful of strings), shipped once per task.

    Both UDFs are marked nondeterministic only to pin the stage order:
    otherwise Catalyst pushes ``score > 0`` below the score projection
    (a second relevance evaluation) and the snippet projection below
    the top-k limit (snippets per partition, and a range-partitioned
    sort whose sampling job re-runs the scan and the UDFs)."""
    toks = list(tokens)

    @pandas_udf(LongType())
    def rel(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for texts in batches:
            yield pd.Series([relevance_score(toks, t or '') for t in texts],
                            dtype='int64')
    return rel.asNondeterministic()


def _snippet_udf(tokens: list[str]):
    toks = list(tokens)

    @pandas_udf(StringType())
    def snip(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for texts in batches:
            yield pd.Series([generate_snippet(toks, t or '') for t in texts],
                            dtype='object')
    return snip.asNondeterministic()


# -- native (whole-stage-codegen) relevance + snippet ------------------
#
# VERDICT r3 #7: the closure-UDF pair above is rebuilt per query and
# puts two ArrowEvalPython nodes in every search plan.  For the common
# case — every stemmed query token is plain ascii [a-z0-9]+ — both
# kernels are expressible as pure Catalyst columns, value-identical to
# the Python kernels:
#
# - substring count == (len(s) - len(replace(s, tok, ''))) / len(tok)
#   (str.count and replace both consume non-overlapping occurrences
#   left-to-right);
# - the sliding-window argmax is a sequence/transform/aggregate over
#   window counts with the same strict-> first-max tie-break;
# - Python's re \s on str is a FIXED character set (not Java's ascii
#   \s, nor (?U)\s which misses U+001C..1F) — _PY_WS_CLASS transcribes
#   it, so the whitespace collapse is byte-identical;
# - F.lower and str.lower() both implement un-localized full Unicode
#   case mapping (Spark: String.toLowerCase(Locale.ROOT)).
#
# Non-ascii tokens fall back to the UDF kernels.

_SIMPLE_TOKEN = __import__('re').compile(r'^[a-z0-9]+$')

# Python re \s (unicode, enumerated exhaustively in test_search_native)
_PY_WS_CLASS = ('[\\x09-\\x0d\\x1c-\\x1f\\x20\\x85\\xa0\\u1680'
                '\\u2000-\\u200a\\u2028\\u2029\\u202f\\u205f\\u3000]')


def _native_ok(tokens: list[str]) -> bool:
    return all(_SIMPLE_TOKEN.match(t) for t in tokens)


def _count_in(col, token: str):
    """Non-overlapping substring count as a codegen expression."""
    return ((F.length(col)
             - F.length(F.replace(col, F.lit(token), F.lit(''))))
            / F.lit(len(token)))


def native_relevance_col(tokens: list[str], text_col: str):
    """relevance_score (W1) as a pure Catalyst column — Σ token counts
    plus the reference's in-loop phrase bonus (+10 × n_tokens when the
    full phrase occurs and there are ≥2 tokens)."""
    lower = F.lower(F.coalesce(F.col(text_col), F.lit('')))
    score = _count_in(lower, tokens[0])
    for t in tokens[1:]:
        score = score + _count_in(lower, t)
    if len(tokens) > 1:
        phrase = ' '.join(tokens)
        score = score + F.when(lower.contains(F.lit(phrase)),
                               F.lit(10 * len(tokens))).otherwise(F.lit(0))
    return score.cast('long')


def native_snippet_col(tokens: list[str], text_col: str):
    """generate_snippet (W2) as a pure Catalyst column: sliding-window
    token-count argmax (first strict max), whitespace collapse with the
    exact Python \\s set, ellipsis affixes."""
    lower = F.lower(F.coalesce(F.col(text_col), F.lit('')))
    n = F.length(lower)
    # python range(0, len - length, stride): empty unless len > length
    positions = F.when(
        n > SNIPPET_LENGTH,
        F.sequence(F.lit(0), n - F.lit(SNIPPET_LENGTH + 1),
                   F.lit(SNIPPET_STRIDE))
    ).otherwise(F.array().cast('array<int>'))

    def window_count(i):
        w = F.substring(lower, i + F.lit(1), F.lit(SNIPPET_LENGTH))
        c = _count_in(w, tokens[0])
        for t in tokens[1:]:
            c = c + _count_in(w, t)
        return c

    pairs = F.transform(
        positions,
        lambda i: F.struct(i.alias('p'), window_count(i).alias('c')))
    best = F.aggregate(
        pairs,
        F.struct(F.lit(0).alias('p'), F.lit(0.0).alias('c')),
        lambda acc, x: F.when(x['c'] > acc['c'], x).otherwise(acc))
    hit = best['c'] > 0
    pos = F.when(hit, best['p']).otherwise(F.lit(0))
    raw = F.substring(lower, pos + F.lit(1), F.lit(SNIPPET_LENGTH))
    clean = F.trim(F.regexp_replace(raw, F.lit(_PY_WS_CLASS + '+'),
                                    F.lit(' ')))
    clean = F.when(pos > 0, F.concat(F.lit('...'), clean)).otherwise(clean)
    return F.when(pos + F.lit(SNIPPET_LENGTH) < n,
                  F.concat(clean, F.lit('...'))).otherwise(clean)


def category_filter(df: DataFrame, categories: list[str] | None) -> DataFrame:
    """F4: keep rows whose category array overlaps the wanted list —
    native arrays_overlap, no explode, no shuffle
    (reference filter_manager.py:25-34)."""
    if not categories:
        return df
    return df.filter(F.arrays_overlap(F.col('categories'),
                                      F.lit([c for c in categories])))


def resolve_structured(dim_rows: Iterable,
                       category_types: list[str] | None = None,
                       keywords: list[str] | None = None) -> list[str]:
    """F5/J3: display names of the category-dimension rows (Rows or
    dicts with type, keywords, display_name) whose type is in
    ``category_types`` or whose keywords overlap ``keywords``
    (reference filter_manager.py:52-68, search.py:31-42). Sorted,
    distinct; empty when nothing matches, and ``category_filter``
    keeps every row for an empty list, so a structured filter that
    names no category searches unfiltered."""
    types, kws = set(category_types or ()), set(keywords or ())
    return sorted({r['display_name'] for r in dim_rows
                   if r['type'] in types or kws & set(r['keywords'] or ())})


def search(df: DataFrame, query: str,
           categories: list[str] | None = None,
           k: int | None = None,
           cfg=DEFAULT_CONFIG) -> DataFrame:
    """Full search pipeline (reference search_engine.py:39-84):
    driver-side query stem → filters → stored dedup flag → score →
    snippet → top-k, over the ``extracted_text`` column.
    Returns (url, categories?, score, snippet) ordered by score desc."""
    k = k or cfg.max_results
    text_col = 'extracted_text'
    tokens = preprocess_query(query)
    if not is_valid_query(tokens):  # F7 early exit (driver-side)
        return df.sparkSession.createDataFrame(
            [], 'url string, score long, snippet string')

    out = category_filter(df, categories)
    # first-seen dedup is the flag the commit stored (NULL hashes store
    # False, so they stay exempt) — no per-query window or shuffle
    if 'is_duplicate' in df.columns:
        out = out.filter(~F.col('is_duplicate'))

    # ascii tokens (the common case after stemming) → fully native
    # relevance AND snippet: the whole search plan stays inside
    # whole-stage codegen with ZERO ArrowEvalPython nodes (VERDICT r3
    # #7); non-ascii tokens fall back to the UDF kernels
    native = _native_ok(tokens)
    if native:
        out = out.withColumn('score', native_relevance_col(tokens, text_col))
    else:
        rel = _relevance_udf(tokens)
        out = out.withColumn('score', rel(F.col(text_col)))
    out = out.filter(F.col('score') > 0)  # F6 — before the snippet stage

    # top-k FIRST (TakeOrderedAndProject), snippet on the k survivors
    # only: ranking is (score, url) and never reads the snippet, so
    # this is result-identical — and at corpus scale it means k snippet
    # computations instead of one per matching row
    keep = [c for c in ('url', 'categories') if c in out.columns]
    order = [F.desc('score')] + ([F.asc('url')] if 'url' in keep else [])
    top = (out.select(*keep, 'score', text_col)
           .orderBy(*order)
           .limit(k))  # W3 → TakeOrderedAndProject

    if native:
        snippet = native_snippet_col(tokens, text_col)
    else:
        snippet = _snippet_udf(tokens)(F.col(text_col))
    return (top.withColumn('snippet', snippet)
            .select(*keep, 'score', 'snippet')
            .orderBy(*order))
