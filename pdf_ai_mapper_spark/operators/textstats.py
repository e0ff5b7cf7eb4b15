"""Text-analysis operators for a training-data pipeline: language and
script ID, quality scoring, NFC normalization, PII redaction, Gopher
repetition filters, chunking, fingerprinting, TF-IDF terms,
decontamination and hash splits.

All but ``with_nfc`` (an Arrow UDF over ``unicodedata``) are native
Catalyst expressions — no Python in the hot path — and each has an
exact SQL equivalent for the DuckDB oracle.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Marker function words per language for the n-gram-heuristic language
# ID (public-knowledge stopword-profile approach). Deliberately small
# and pinned so the SQL oracle can repeat it verbatim.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    'en': ('the', 'and', 'of', 'to', 'is'),
    'de': ('der', 'die', 'und', 'nicht', 'das'),
    'fr': ('le', 'la', 'les', 'et', 'est'),
    'es': ('el', 'los', 'las', 'una', 'es'),
}


def _tokenize(text_col: Column) -> Column:
    """The shared [^a-z]+ tokenization all marker counts read from.
    MUST be materialized as its own column before fan-out (see
    _count_token): lambda-bearing expressions are excluded from
    codegen subexpression elimination, so 20 inline copies re-split
    the text 20 times (measured 1.7 s vs 1.0 s at sf0.1 — worse than
    the old per-marker regex passes)."""
    return F.split(F.lower(text_col), '[^a-z]+')


def _count_token(tokens_col: Column, word: str) -> Column:
    """Whole-word occurrence count over a materialized token-array
    column (round 4 re-shape; the SQL oracle repeats it verbatim):
    one string traversal total + an array equality scan per marker.
    Also counts adjacent markers correctly — 'the the' is 2; the old
    separator-consuming regex scored 1."""
    return F.size(F.filter(tokens_col, lambda t: t == F.lit(word)))


def lang_scores(tokens_col: Column) -> dict[str, Column]:
    """Marker-hit counts per language over a MATERIALIZED token-array
    column (callers add it with ``_tokenize`` via withColumn first —
    CollapseProject keeps a non-cheap column referenced this many
    times as its own projection, so the split runs once per row).

    One ``isin`` filter traversal per LANGUAGE, not per word (round 8):
    marker words are distinct within a language, so
    Σ_w count(tok == w) == count(tok ∈ words) exactly — 4 array
    traversals per row instead of 20 (measured: q_lang_id's marker
    stage CPU ≈ 3× cheaper at sf1.0, values identical). The null
    branch pins the OLD per-word sum's value on a null token array
    (size(null) = -1 summed per word = -n_words), so null-text rows
    score bit-identically to the round-7 form."""
    return {
        lang: F.when(tokens_col.isNull(), F.lit(-len(words)))
        .otherwise(F.size(F.filter(tokens_col, lambda t: t.isin(*words))))
        for lang, words in LANG_MARKERS.items()
    }


def with_lang_id(df: DataFrame, text_col: str = 'text',
                 out_col: str = 'lang_pred') -> DataFrame:
    """Predicted language: Han-script docs (≥20% CJK-unified-ideograph
    code points, ≥1 of them — an integer*5 comparison, exact in any
    engine) are 'zh'; otherwise argmax marker-hit count, 'und' when
    all zero, ties broken by the fixed order en > de > fr > es.  The
    script check runs FIRST because marker words are Latin-alphabet:
    without it every zh doc lands in 'und' (latent until round 5 —
    the fixture's lang column exposed it)."""
    t = F.col(text_col)
    # regexp_count: no stripped-string materialization (A/B at sf0.1:
    # 0.20 s vs 0.27 s warm for the replace+length form); the oracle
    # keeps the equivalent length(regexp_replace) as an independent
    # derivation of the same code-point count
    han = F.regexp_count(t, F.lit(r'[\x{4E00}-\x{9FFF}]'))
    df = df.withColumn('__lang_toks', _tokenize(t))
    scores = lang_scores(F.col('__lang_toks'))
    best_lang = F.lit('und')
    best_score = F.lit(0)
    for lang in reversed(list(LANG_MARKERS)):  # earlier langs win ties
        s = scores[lang]
        best_lang = F.when(s >= F.greatest(best_score, F.lit(1)), F.lit(lang)).otherwise(best_lang)
        best_score = F.greatest(best_score, s)
    is_zh = (han >= 1) & (han * 5 >= F.greatest(F.length(t), F.lit(1)))
    return (df.withColumn(out_col, F.when(is_zh, F.lit('zh'))
                          .otherwise(best_lang))
            .drop('__lang_toks'))


# Unicode code-point ranges per script (BMP, pinned; ISO 15924-ish
# labels). Dict order IS the tie order — earlier wins. The SQL oracle
# repeats the ranges verbatim (DuckDB's RE2 accepts the same \x{hhhh}
# class escapes as Java regex), so both engines count the exact same
# code points. latn deliberately includes U+00D7/U+00F7 (× ÷ sit inside
# the Latin-1/Extended block ranges) — purity matters less than a
# pinned, engine-independent contract.
SCRIPT_RANGES: dict[str, str] = {
    'latn': r'A-Za-z\x{00C0}-\x{024F}',
    'hani': r'\x{4E00}-\x{9FFF}',
    'cyrl': r'\x{0400}-\x{04FF}',
    'arab': r'\x{0600}-\x{06FF}',
    'deva': r'\x{0900}-\x{097F}',
    'kore': r'\x{1100}-\x{11FF}\x{AC00}-\x{D7A3}',
    'kana': r'\x{3040}-\x{30FF}',
    'grek': r'\x{0370}-\x{03FF}',
    'hebr': r'\x{0590}-\x{05FF}',
    'thai': r'\x{0E00}-\x{0E7F}',
}


def with_script_id(df: DataFrame, text_col: str = 'text',
                   out_col: str = 'script') -> DataFrame:
    """Dominant-Unicode-script classification — the routing step a
    webtext pipeline runs BEFORE per-script language ID (per-language
    marker lists only make sense within one script; cf. with_lang_id's
    Han pre-check, which this generalizes).

    Contract (exact integer arithmetic, no floats, engine-independent):
    per-script code-point counts over SCRIPT_RANGES; total = their sum.
    - total == 0            -> 'und'  (no script letters at all)
    - kana >= 1 and
      kana*20 >= total      -> 'jpan' (Japanese mixes Han + kana; >=5%
                                       kana fingerprints ja before the
                                       majority rule hands it to hani)
    - 2*max(counts) < total -> 'mixed' (no script holds a majority)
    - else the FIRST script in SCRIPT_RANGES order whose count equals
      the max ('kana' relabels to 'jpan').

    Scale shape: one regexp_count traversal per script (10 total) —
    pure codegen column expressions, zero shuffle, zero Python; same
    cost class as with_lang_id's marker scans. The SQL oracle derives
    the counts independently via length(regexp_replace(...,'g')) and
    repeats the CASE chain in the same pinned order."""
    t = F.col(text_col)
    counts = {s: F.regexp_count(t, F.lit(f'[{r}]'))
              for s, r in SCRIPT_RANGES.items()}
    # materialize the counts once: they feed total, max, the jpan
    # pre-check AND the argmax chain (regexp_count is NOT cheap; the
    # round-4 no-CSE-for-repeated-expensive-exprs trap applies)
    cnt_cols = {s: f'__sc_{s}' for s in SCRIPT_RANGES}
    for s, c in counts.items():
        df = df.withColumn(cnt_cols[s], c)
    cc = {s: F.col(cnt_cols[s]) for s in SCRIPT_RANGES}
    total = sum(list(cc.values())[1:], list(cc.values())[0])
    mx = F.greatest(*cc.values())
    label = F.lit('mixed')
    for s in reversed(list(SCRIPT_RANGES)):   # earlier wins ties
        name = 'jpan' if s == 'kana' else s
        label = F.when(cc[s] == mx, F.lit(name)).otherwise(label)
    out = (F.when(total == 0, F.lit('und'))
           .when((cc['kana'] >= 1) & (cc['kana'] * 20 >= total),
                 F.lit('jpan'))
           .when(mx * 2 < total, F.lit('mixed'))
           .otherwise(label))
    return (df.withColumn(out_col, out)
            .drop(*cnt_cols.values()))


def with_quality(df: DataFrame, text_col: str = 'text') -> DataFrame:
    """Quality heuristics: length, alpha ratio, digit ratio, stopword
    ratio, mean word length — the standard web-corpus filters
    (C4/Gopher-style rules, public literature)."""
    t = F.col(text_col)
    n = F.length(t)
    # translate-and-diff, not regexp_replace (round 8): counting chars
    # in a FIXED ASCII class is one table-driven pass per row vs a
    # regex scan + string rebuild — identical counts for any input
    # ([A-Za-z]/[0-9] match exactly the chars the translate set drops)
    _letters = ('ABCDEFGHIJKLMNOPQRSTUVWXYZ'
                'abcdefghijklmnopqrstuvwxyz')
    alpha = n - F.length(F.translate(t, _letters, ''))
    digit = n - F.length(F.translate(t, '0123456789', ''))
    toks = F.split(F.trim(t), r'\s+')
    n_tok = F.size(toks)
    df = df.withColumn('__q_toks', _tokenize(t))
    # one isin traversal instead of five per-word passes (exact: the
    # en marker words are distinct; null pin as in lang_scores)
    _en = LANG_MARKERS['en']
    stop_hits = (F.when(F.col('__q_toks').isNull(), F.lit(-len(_en)))
                 .otherwise(F.size(F.filter(
                     F.col('__q_toks'), lambda x: x.isin(*_en)))))
    return (df
            .withColumn('n_chars_q', n)
            .withColumn('n_tokens', n_tok)
            .withColumn('alpha_ratio', F.round(alpha / F.greatest(n, F.lit(1)), 6))
            .withColumn('digit_ratio', F.round(digit / F.greatest(n, F.lit(1)), 6))
            .withColumn('stop_ratio', F.round(stop_hits / F.greatest(n_tok, F.lit(1)), 6))
            .withColumn('mean_word_len',
                        F.round((n - n_tok + 1) / F.greatest(n_tok, F.lit(1)), 6))
            .withColumn('quality_ok',
                        (F.col('alpha_ratio') > 0.6)
                        & (F.col('digit_ratio') < 0.2)
                        & (F.col('n_tokens') >= 5))
            .drop('__q_toks'))


def with_nfc(df: DataFrame, text_col: str = 'text',
             out_col: str = 'nfc_text') -> DataFrame:
    """Unicode NFC normalization (round 6) — the standard pre-hash
    step for byte-level dedup: 'é' (U+00E9) and 'e' + combining acute
    (U+0301) are the SAME text to a reader but different bytes to
    md5/xxhash64, so un-normalized corpora under-deduplicate exactly
    the documents that differ only in encoder provenance. Arrow-batched
    pandas UDF over stdlib ``unicodedata`` — the Unicode-standard
    algorithm, engine-portable by spec (DuckDB's ``nfc_normalize``
    reproduces it byte-for-byte, which is the oracle). Fast path: an
    ``isascii()`` batch skips the normalizer (ASCII is NFC-closed)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    @pandas_udf(StringType())
    def _udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import unicodedata
        norm = unicodedata.normalize
        for s in batches:
            yield s.map(lambda t: None if t is None
                        else (t if t.isascii() else norm('NFC', t)))
    return df.withColumn(out_col, _udf(F.col(text_col)))


# Pinned PII patterns (kept RE2-simple so Spark and DuckDB agree).
PII_EMAIL = r'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'
PII_URL = r'https?://[^\s]+'
PII_PHONE = r'\+?[0-9][0-9()\- ]{7,}[0-9]'


def with_redacted(df: DataFrame, text_col: str = 'text') -> DataFrame:
    """PII scrubbing for training corpora: URLs → <URL>, emails →
    <EMAIL>, phone-like digit runs → <PHONE>, applied in that pinned
    order (URLs can contain email-shaped substrings; phone counting
    runs on the already-redacted text so URL digits don't double-count).
    Native regexp_replace/regexp_count — codegen, no Python. Adds
    redacted_text, n_urls, n_emails, n_phones."""
    t = F.col(text_col)
    step1 = F.regexp_replace(t, PII_URL, '<URL>')
    step2 = F.regexp_replace(step1, PII_EMAIL, '<EMAIL>')
    step3 = F.regexp_replace(step2, PII_PHONE, '<PHONE>')
    return (df
            .withColumn('n_urls', F.regexp_count(t, F.lit(PII_URL)).cast('long'))
            .withColumn('n_emails', F.regexp_count(step1, F.lit(PII_EMAIL)).cast('long'))
            .withColumn('n_phones', F.regexp_count(step2, F.lit(PII_PHONE)).cast('long'))
            .withColumn('redacted_text', step3))


def repetition_stats(df: DataFrame, id_col: str = 'doc_id',
                     text_col: str = 'text') -> DataFrame:
    """Gopher-style repetition signals per document: top-word fraction
    (count of the most frequent lowercased word / total words) and
    distinct-word ratio — the standard repetitive-boilerplate filters
    for web corpora (Rae et al. 2021, public literature). Explode +
    two-level aggregation: both shuffles carry (id, word, count) only."""
    words = F.filter(F.split(F.lower(F.col(text_col)), r'\s+'),
                     lambda w: F.length(w) > 0)
    # explode_outer + isNotNull: the inferred non-empty filter would
    # re-tokenize every row at the scan (round 8)
    ex = (df.select(id_col, F.explode_outer(words).alias('w'))
          .filter(F.col('w').isNotNull()))
    counts = ex.groupBy(id_col, 'w').agg(F.count('*').alias('c'))
    return (counts.groupBy(id_col)
            .agg((F.max('c') / F.sum('c')).alias('__twf'),
                 (F.count('*') / F.sum('c')).alias('__dwr'),
                 F.sum('c').cast('long').alias('n_words'))
            .select(id_col,
                    F.round('__twf', 6).alias('top_word_frac'),
                    F.round('__dwr', 6).alias('distinct_word_ratio'),
                    'n_words'))


def gopher_repetition(df: DataFrame, id_col: str = 'doc_id',
                      text_col: str = 'text', line_sep: str = '\n',
                      para_sep: str = '\n\n',
                      top_ns: 'tuple[int, ...]' = (2, 3, 4)) -> DataFrame:
    """The COMPLETE Gopher repetition family (Rae et al. 2021 Table A1,
    public literature; round 6 — VERDICT r5 #5): per document,

    - ``dup_line_frac`` / ``dup_para_frac``: fraction of non-empty
      lines/paragraphs that are repeats of an earlier one
      ((occurrences − distinct) / occurrences);
    - ``dup_line_char_frac`` / ``dup_para_char_frac``: characters in
      those repeat occurrences over all line/paragraph characters
      (Σ_{c≥2}(c−1)·len / Σ c·len);
    - ``top_{n}gram_char_frac`` (n ∈ top_ns): characters claimed by
      the most frequent word n-gram — count·char-weight over total
      word characters, weight = n-gram length minus its n−1 joining
      spaces (ties: higher count, then higher weight — deterministic).

    Published reproductions differ in tie/edge conventions; these are
    pinned here and replayed verbatim by the SQL oracle
    (q_gopher_repetition). ``repetition_stats`` stays as the cheap
    top-word pair. Note: with heavily self-overlapping n-grams the
    top-n-gram fraction can exceed 1 (occurrences overlap in the
    text) — the standard public formula has the same property; the
    gate direction (frac ≤ threshold) is unaffected.

    Scale shape: ONE exploded union relation of narrow (id, kind, key)
    rows feeds a two-level aggregate, then a per-doc conditional-agg
    pivot — text payloads never shuffle; the shared token/line arrays
    are materialized once (lambda-bearing exprs are excluded from
    subexpression elimination)."""
    from functools import reduce

    def _quote(sep: str) -> str:
        return '\\Q' + sep.replace('\\E', '\\E\\\\E\\Q') + '\\E'

    from pyspark.storagelevel import StorageLevel

    from .skew import ensure_min_parallelism
    df = ensure_min_parallelism(df)  # one-split scans would build the
    # cached arrays below on a single core; no-op on real inputs
    t = F.col(text_col)

    def nonempty(arr):
        return F.filter(arr, lambda x: F.length(x) > 0)

    base = df.select(
        F.col(id_col).alias('__id'),
        nonempty(F.split(F.lower(t), r'\s+')).alias('__w'),
        nonempty(F.split(t, _quote(line_sep))).alias('__l'),
        nonempty(F.split(t, _quote(para_sep))).alias('__p'))
    # persisted: 2 + len(top_ns) union branches plus the totals join
    # all read these arrays — unpersisted, each branch re-scans the
    # corpus and re-splits the text. Callers release() the result.
    base = base.withColumn(
        '__chars', F.aggregate('__w', F.lit(0).cast('long'),
                               lambda acc, x: acc + F.length(x))
    ).persist(StorageLevel.MEMORY_AND_DISK)

    kinds = [base.select('__id', F.lit('L').alias('kind'),
                         F.explode('__l').alias('key')),
             base.select('__id', F.lit('P').alias('kind'),
                         F.explode('__p').alias('key'))]
    for k in top_ns:
        n = F.size('__w')
        m = n - F.lit(k - 1)
        parts = [F.slice('__w', j + 1, F.greatest(m, F.lit(0)))
                 for j in range(k)]
        g = parts[0]
        for p in parts[1:]:
            g = F.zip_with(g, p, lambda a, b: F.concat(a, F.lit(' '), b))
        # explode_OUTER + isNotNull (round 8): an inner explode makes
        # the optimizer infer `size(when(n>=k, g)..) > 0`, re-running
        # the whole k-way zip_with chain once more per row just to
        # test emptiness; the post-generate null filter is free
        kinds.append(base.select(
            '__id', F.lit(f'T{k}').alias('kind'),
            F.explode_outer(F.when(n >= k, g)
                            .otherwise(F.array())).alias('key'))
            .filter(F.col('key').isNotNull()))
    ex = reduce(DataFrame.unionByName, kinds)

    # char weight of a key: full length for lines/paragraphs; n-grams
    # shed their n-1 joining spaces
    w = F.when(F.col('kind').isin('L', 'P'), F.length('key')) \
        .otherwise(F.length('key')
                   - (F.substring('kind', 2, 2).cast('int') - 1))
    counts = (ex.groupBy('__id', 'kind', 'key')
              .agg(F.count('*').alias('c'))
              .withColumn('w', w.cast('long')))
    stats = (counts.groupBy('__id', 'kind')
             .agg(F.sum('c').alias('sum_c'),
                  F.count('*').alias('n_keys'),
                  F.sum(F.when(F.col('c') >= 2,
                               (F.col('c') - 1) * F.col('w'))
                        .otherwise(F.lit(0))).alias('dup_extra'),
                  F.sum(F.col('c') * F.col('w')).alias('sum_cw'),
                  F.max(F.struct('c', 'w')).alias('top')))

    def _pick(kind, expr):
        return F.max(F.when(F.col('kind') == kind, expr))

    dup_frac = (F.col('sum_c') - F.col('n_keys')) / F.col('sum_c')
    dup_char = F.col('dup_extra') / F.greatest(F.col('sum_cw'), F.lit(1))
    top_num = (F.col('top').getField('c')
               * F.col('top').getField('w')).cast('long')
    per = (stats.groupBy('__id').agg(
        F.round(_pick('L', dup_frac), 6).alias('dup_line_frac'),
        F.round(_pick('L', dup_char), 6).alias('dup_line_char_frac'),
        F.round(_pick('P', dup_frac), 6).alias('dup_para_frac'),
        F.round(_pick('P', dup_char), 6).alias('dup_para_char_frac'),
        *[_pick(f'T{k}', top_num).alias(f'__t{k}') for k in top_ns]))

    zero = F.lit(0.0)
    out = (base.select('__id', '__chars')
           .join(per, on='__id', how='left')
           .select(
               F.col('__id').alias(id_col),
               *[F.coalesce(F.col(c), zero).alias(c)
                 for c in ('dup_line_frac', 'dup_line_char_frac',
                           'dup_para_frac', 'dup_para_char_frac')],
               *[F.round(F.coalesce(F.col(f'__t{k}'), F.lit(0))
                         / F.greatest(F.col('__chars'), F.lit(1)), 6)
                 .alias(f'top_{k}gram_char_frac') for k in top_ns]))
    out._persisted_deps = [base]
    return out


def source_quality_gate(df: DataFrame, group_col: str = 'source',
                        text_col: str = 'text',
                        min_avg_alpha: float = 0.6) -> DataFrame:
    """C4-style group-level quality gate: compute per-group mean alpha
    ratio (a cheap corpus-quality proxy), keep only documents whose
    group passes. The gate aggregate is NARROW (group, avg) and the
    passing-group set joins back as a broadcast semi-join — the
    document payload never shuffles."""
    q = with_quality(df, text_col)
    passing = (q.groupBy(group_col)
               .agg(F.avg('alpha_ratio').alias('__avg_alpha'))
               .filter(F.col('__avg_alpha') >= min_avg_alpha)
               .select(group_col))
    return df.join(F.broadcast(passing), on=group_col, how='left_semi')


def with_chunks(df: DataFrame, id_col: str = 'doc_id',
                text_col: str = 'text', chunk_tokens: int = 128,
                overlap: int = 16) -> DataFrame:
    """Context-window chunking for training-data prep: each document's
    whitespace tokens split into windows of ``chunk_tokens`` with
    ``overlap`` tokens carried between consecutive windows (stride =
    chunk_tokens − overlap). Fully native — sequence → transform →
    posexplode, no Python, no shuffle (chunking is per-row; the row
    explodes in place). Output: (id, chunk_idx, chunk_text, n_tokens).

    Trailing windows shorter than ``overlap`` tokens that are fully
    contained in the previous window are excluded by construction
    (starts iterate 0, stride, 2·stride, … < n_tokens)."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError('need 0 <= overlap < chunk_tokens')
    stride = chunk_tokens - overlap
    toks = F.filter(F.split(F.col(text_col), r'\s+'),
                    lambda t: F.length(t) > 0)
    n = F.size(toks)
    starts = F.when(n > 0, F.sequence(F.lit(0), n - 1, F.lit(stride))) \
              .otherwise(F.array().cast('array<int>'))

    def _window(toks_expr):
        # closure: slice is 1-based; each start yields ≤ chunk_tokens
        return lambda s: F.slice(toks_expr, s + 1, chunk_tokens)

    chunks = F.transform(starts, _window(toks))
    # posexplode_outer + isNotNull: the inferred non-empty filter would
    # re-run the tokenize+slice transform per row at the scan (round 8)
    ex = (df.select(id_col, F.posexplode_outer(chunks)
                    .alias('chunk_idx', '__c'))
          .filter(F.col('__c').isNotNull()))
    return (ex.select(id_col, 'chunk_idx',
                      F.array_join('__c', ' ').alias('chunk_text'),
                      F.size('__c').cast('long').alias('n_tokens')))


def with_fingerprint(df: DataFrame, text_col: str = 'text') -> DataFrame:
    """Two content fingerprints: md5 of the whitespace-normalized
    lowercase text (robust exact-dup key, survives reflow), and a
    64-bit xxhash of the same (cheap join key)."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), r'\s+', ' ')
    return (df
            .withColumn('fp_md5', F.md5(F.encode(norm, 'UTF-8')))
            .withColumn('fp_xx64', F.xxhash64(norm)))


def tfidf_terms(df: DataFrame, id_col: str = 'doc_id',
                text_col: str = 'text', min_token_len: int = 3) -> DataFrame:
    """Exact-term TF-IDF per (doc, term) — the SQL-checkable sibling of
    Spark ML's HashingTF+IDF (whose murmur3 buckets have no SQL
    mirror). Same smoothing as Spark ML's IDF:
    ``idf = ln((n_docs + 1) / (df + 1))``.

    Plan shape: explode → two narrow aggs (per-(doc,term) tf and
    per-term df over longs) joined on term; nothing wide shuffles and
    every stage is codegen + map-side combinable. At corpus scale the
    term-df table is the only broadcast-unfriendly side — it shuffles
    on term, which is exactly the partitioning a downstream
    inverted-index write wants."""
    from .skew import SPREAD_MIN_BYTES_PER_PART, ensure_min_parallelism
    # spread the tokenize+explode map work (no-op on multi-split
    # scans, size-gated); explode_OUTER + isNotNull so the optimizer's
    # inferred size(filter(split..))>0 filter cannot sink into the
    # scan and re-tokenize every row there (round 8 — the ngram lesson)
    base = ensure_min_parallelism(
        df.select(id_col, text_col),
        min_bytes_per_part=SPREAD_MIN_BYTES_PER_PART)
    toks = F.filter(F.split(F.lower(F.col(text_col)), r'\s+'),
                    lambda t: F.length(t) >= min_token_len)
    ex = (base.select(id_col, F.explode_outer(toks).alias('term'))
          .filter(F.col('term').isNotNull()))
    n_docs = df.count()  # one cheap count job; a literal keeps idf codegen'd
    tf = ex.groupBy(id_col, 'term').agg(F.count('*').alias('tf'))
    dfreq = (ex.select(id_col, 'term').distinct()
             .groupBy('term').agg(F.count('*').alias('df_count')))
    idf = F.log((F.lit(float(n_docs + 1))) / (F.col('df_count') + 1))
    return (tf.join(dfreq, on='term')
            .withColumn('tfidf', F.col('tf') * idf))


def decontamination_overlap(train_df: DataFrame, bench_df: DataFrame,
                            id_col: str, text_col: str,
                            bench_text_col: str | None = None,
                            k: int = 3) -> DataFrame:
    """Benchmark decontamination: per training document, the number of
    distinct word k-grams it shares with ANY document of a benchmark
    corpus — the n-gram overlap screen used to scrub eval sets out of
    training data (the published GPT-3 appendix-C / Llama-2 method uses
    k≈8-13; k is a parameter here and the fixture scale uses 3).

    Shape: both sides shingle via the native HOF path
    (dedup.with_shingles — no UDF) and are HASHED to 64-bit keys
    BEFORE anything leaves the row (round 5: the semi-join compares
    8-byte longs instead of multi-word shingle strings — measured 2×
    on the sf0.1 benchmark query, 2.13 → 1.09 s best interleaved,
    values identical). The benchmark's DISTINCT hash set is collapsed
    to a narrow one-column table and semi-joined against the exploded
    training hashes. The benchmark side is tiny by construction (eval
    sets are thousands of docs, the training corpus is billions), so
    AQE broadcasts it and the training side NEVER shuffles — the
    whole screen is one map-side pass over the corpus. Collision
    note: a 64-bit collision can only ADD a false overlap count
    (birthday bound ~1e-9 at 10^5 distinct benchmark shingles — the
    standard trade for hash-based decontamination; swap xxhash64 for
    a 128-bit hash at 10^12 shingles). Returns (id, n_overlap) for
    contaminated docs only (n_overlap ≥ 1); clean docs are absent.
    """
    from .dedup import with_shingles
    from .skew import ensure_min_parallelism
    bench_text = bench_text_col or text_col
    # explode_OUTER + post-generate isNotNull, not a plain explode: the
    # optimizer infers `size(transform(shingles, ..)) > 0` from an
    # inner explode and pushes it into the scan as a DataFilter, where
    # it RE-EVALUATES the whole shingle+hash chain once per row on top
    # of the projection's own evaluation (~2x the map cost; the ngram
    # round-8 lesson). The spread on the train side serializes nothing
    # at scale (no-op on multi-split scans) and un-serializes the
    # single-row-group local fixture scan.
    hashed = F.transform('shingles', lambda s: F.xxhash64(s))
    bench_sh = (with_shingles(bench_df.select(bench_text), bench_text, k)
                .select(F.explode_outer(hashed).alias('sh'))
                .filter(F.col('sh').isNotNull())
                .distinct())
    # UNCONDITIONAL spread (no byte gate): the train-side map work is
    # the heavy shingle+hash chain — the same class as ngram/substring
    # — and the two gated-quiet bench artifacts price the spread at
    # -0.45 s even at sf0.1 (0.62 s spread vs 1.07 s gated-off)
    train_in = ensure_min_parallelism(
        train_df.select(id_col, text_col))
    train_ex = (with_shingles(train_in, text_col, k)
                .select(id_col, F.explode_outer(hashed).alias('sh'))
                .filter(F.col('sh').isNotNull()))
    return (train_ex.join(bench_sh, on='sh', how='left_semi')
            .groupBy(id_col)
            .agg(F.count('*').cast('long').alias('n_overlap')))


def hash_split(df: DataFrame, key_col: str,
               weights: 'dict[str, float] | None' = None,
               out_col: str = 'split') -> DataFrame:
    """Deterministic, engine-portable train/val/test assignment
    (round 4) — the split step every training-data pipeline needs, with
    three properties a naive rand() lacks:

    - STABLE: assignment depends only on the key (url/doc id), so it
      survives repartition, re-runs, and incremental appends — a doc
      never migrates between train and test across pipeline versions;
    - LEAK-RESISTANT: keyed on the grouping unit the caller chooses
      (e.g. canonical url or domain) so near-dup crawls of one page
      land in the SAME split;
    - PORTABLE: md5's hex string read as a base-16 fraction of [0,1)
      is the sample; split boundaries are 32-digit hex-string
      thresholds computed with EXACT integer arithmetic, so the whole
      assignment is one codegen string comparison that any engine with
      md5 reproduces bit-for-bit (the DuckDB oracle repeats it
      verbatim — no engine-specific hash anywhere).

    Weights need not be normalized; the last split absorbs rounding.
    """
    from fractions import Fraction
    weights = weights or {'train': 0.8, 'val': 0.1, 'test': 0.1}
    names = list(weights)
    total = sum(Fraction(w).limit_denominator(10**9)
                for w in weights.values())
    h = F.md5(F.col(key_col).cast('string'))
    expr = None
    cum = Fraction(0)
    for name in names[:-1]:
        cum += Fraction(weights[name]).limit_denominator(10**9)
        thr = format(int(cum / total * 16**32), '032x')
        branch = h < F.lit(thr)
        expr = (F.when(branch, F.lit(name)) if expr is None
                else expr.when(branch, F.lit(name)))
    expr = (expr.otherwise(F.lit(names[-1])) if expr is not None
            else F.lit(names[-1]))
    return df.withColumn(out_col, expr)
