"""Graded-window pin (ADVICE r4): the external driver hashes only the
FIRST 50 entries of __spark_entry__.queries(), so catalog() ordering is
load-bearing — an innocent dict insertion can silently push a query out
of the graded window. This test makes every window change EXPLICIT: the
list below is the intended window; edit it deliberately when swapping
queries in or out (and say why in the commit).

Queries outside the window are still value-graded every CI run by
tests/test_oracle_parity.py, which executes the FULL catalog against
every oracle_sql() entry — the window only controls what the external
driver re-verifies.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

# The intended graded window, in order. Every value-oracled entry
# comes before every rows-only one, the most substantial first; when
# there are fewer than 50 oracles, the first rows-only entries in
# catalog() order fill the remaining slots, and with fewer than 50
# entries the window is the whole catalog. A deletion re-pins this
# list in unchanged catalog order (CHANGES.md records each re-pin).
GRADED_WINDOW = [
    'q_bloom_incremental_ingest',
    'q_cluster_keep_best',
    'q_decontamination',
    'q_minhash_planted',
    'q_gopher_repetition',
    'q_w2_search_snippets',
    'q_recrawl_upsert',
    'q_script_id',
    'q_f5_structured_semi_join',
    'q_a6_topic_type',
    'q_error_taxonomy',
    'q_search_pipeline',
    'q_tfidf_top_terms',
    'q_lda_categories',
    'q_pii_redaction',
    'q_repetition_stats',
    'q_f1_size_reject',
    'q_d3_destructive_dedup',
    'q_compaction_content',
    'q_nfc_normalize',
    'q_source_quality_gate',
    'q_doc_chunking',
    'q_hash_split',
    'q_lang_id',
    'q_quality_scores',
    'q_fingerprint',
    'q_warc_framing',
    'q_f4_category_overlap',
    'q_html_meta',
    'q_minhash_near_dups',
    'q_minhash_incremental',
    'q_extraction_pipeline',
    'q_warc_ingest',
    'q_compaction',
]

# The oracled entries after the window, in catalog order: none while
# the catalog has at most 50 oracles.
OUT_OF_WINDOW_ORACLES = []


def test_graded_window_is_exactly_the_intended_50():
    import __spark_entry__ as e
    names = list(e.queries())
    assert names[:50] == GRADED_WINDOW


def test_oracled_entries_lead_the_catalog():
    """A window slot spent on a rows-only query is a wasted grade while
    an oracled entry waits after it, so no oracle follows a rows-only
    entry. With 50 or more oracles this also fills the whole window
    with oracled entries."""
    import __spark_entry__ as e
    names = list(e.queries())
    oracles = e.oracle_sql()
    assert [n for n in names if n in oracles] == names[:len(oracles)]


def test_out_of_window_oracles_still_covered_internally():
    """Oracles after the window keep their oracle_sql entries, so the
    internal parity suite (full catalog) keeps value-grading them."""
    import __spark_entry__ as e
    names = list(e.queries())
    oracled_outside = [n for n in names[50:] if n in e.oracle_sql()]
    assert oracled_outside == OUT_OF_WINDOW_ORACLES
