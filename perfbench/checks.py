"""Output checks and driver-side references, in plain Python.

Each ``check_*`` returns a list of failure messages; an empty list means
the operation's output is correct. The workloads collect the engine's
output to the driver after the timed window and pass it here, so these
functions never touch Spark.
"""

from __future__ import annotations

import hashlib

from pdf_ai_mapper_spark.kernels.query import is_valid_query, preprocess_query
from pdf_ai_mapper_spark.kernels.relevance import relevance_score


def check_crawl(out_rows: list[tuple[str, str, bool]],
                expected_text: dict[str, str], expected_dups: int,
                checkpoint_rows_out: int) -> list[str]:
    """``out_rows`` = (url, extracted_text, is_duplicate) per output row.
    Every url's text must be byte-identical to the fixture text, rows
    out must equal rows in, the duplicate flags must match the repeated
    payloads and the checkpoint's rows_out must sum to the input size."""
    errs = []
    n_in = len(expected_text)
    if len(out_rows) != n_in:
        errs.append(f'rows out {len(out_rows)} != rows in {n_in}')
    urls = {url for url, _, _ in out_rows}
    if len(urls) != len(out_rows):
        errs.append(f'{len(out_rows) - len(urls)} urls written twice')
    wrong = sum(1 for url, text, _ in out_rows
                if expected_text.get(url) != text)
    if wrong:
        errs.append(f'{wrong} rows whose extracted_text differs from the '
                    f'fixture text')
    dups = sum(1 for _, _, dup in out_rows if dup)
    if dups != expected_dups:
        errs.append(f'is_duplicate count {dups} != expected {expected_dups}')
    if checkpoint_rows_out != n_in:
        errs.append(f'checkpoint rows_out {checkpoint_rows_out} != {n_in}')
    return errs


def md5_hex(payload: bytes) -> str:
    return hashlib.md5(payload).hexdigest()


def expected_duplicates(payloads: list[bytes]) -> int:
    """Rows a crawl must flag ``is_duplicate``: all but the first
    sighting of each payload. Besides the planted ``html_dup`` copies,
    the fixture repeats non-scanned pdf payloads every 840 rows."""
    return len(payloads) - len({md5_hex(p) for p in payloads})


def check_recrawl(document_count: int, expected_count: int,
                  pending_intents: list) -> list[str]:
    errs = []
    if document_count != expected_count:
        errs.append(f'document_count {document_count} != expected '
                    f'{expected_count}')
    if pending_intents:
        errs.append(f'{len(pending_intents)} intents left pending')
    return errs


def reference_search(docs: list[dict], query: str, k: int,
                     categories: list[str] | None = None
                     ) -> list[tuple[str, int]]:
    """Top-k (url, score) the search contract defines, from the
    relevance kernel alone: category filter, then first-seen-wins per
    content hash ordered by (warc_ts, url), then score > 0 ranked by
    (score desc, url asc). ``docs`` carry url, warc_ts, content_hash,
    extracted_text and categories."""
    tokens = preprocess_query(query)
    if not is_valid_query(tokens):
        return []
    if categories:
        wanted = set(categories)
        docs = [d for d in docs if wanted & set(d['categories'] or ())]
    first: dict[str, tuple] = {}
    for d in docs:
        h = d['content_hash']
        if h is not None:
            key = (d['warc_ts'], d['url'])
            if h not in first or key < first[h]:
                first[h] = key
    scored = []
    for d in docs:
        h = d['content_hash']
        if h is not None and first[h] != (d['warc_ts'], d['url']):
            continue
        s = relevance_score(tokens, d['extracted_text'] or '')
        if s > 0:
            scored.append((d['url'], s))
    scored.sort(key=lambda p: (-p[1], p[0]))
    return scored[:k]


def check_search(response: dict,
                 reference: list[tuple[str, int]]) -> list[str]:
    got = [(r['document_id'], r['score']) for r in response['results']]
    if got != reference:
        return [f'top-k {got[:3]}... != reference {reference[:3]}...']
    return []


def check_neardup(components: dict[int, int], planted: list[tuple[int, int]],
                  n_docs: int, kept_docs: int, pairs: int,
                  first_pairs: int) -> list[str]:
    """``components`` maps every clustered doc id to its component. Each
    planted exact copy must share its source's component, one document
    per component must survive, and the pair count must repeat exactly
    across passes over the same input."""
    errs = []
    split = [(a, b) for a, b in planted
             if components.get(a) is None
             or components.get(a) != components.get(b)]
    if split:
        errs.append(f'{len(split)} planted duplicate pairs not clustered, '
                    f'e.g. {split[0]}')
    expect_kept = n_docs - (len(components) - len(set(components.values())))
    if kept_docs != expect_kept:
        errs.append(f'kept {kept_docs} docs, expected {expect_kept}')
    if pairs != first_pairs:
        errs.append(f'pair count {pairs} != first pass {first_pairs}')
    return errs
