"""Topic categorization (A3-A6): CountVectorizer features, LDA topic
model, KMeans variant, topic naming.

Re-expresses the reference's sklearn pipeline
(``category_manager.py:36-41,138-139``: CountVectorizer(max_features=
1000, ngram_range=(1,3)) + LDA(n_components=8, random_state=42,
max_iter=100)) with ``pyspark.ml``:

- features: tokens are the space-split ``preprocessed_text`` (which
  already contains the reference's 1-3-gram phrases as tokens joined
  by spaces — T9/T10 — so vocabSize=1000 over those tokens covers the
  same n-gram range when phrases are added as single features).
- ``pyspark.ml.clustering.LDA(k=8, seed=42)`` — distributed EM/online;
  topic *labels* are not byte-stable across cluster sizes (SURVEY.md
  §7.4), which is why categories are excluded from the byte-identity
  invariant. Everything is seeded for run-to-run stability at fixed
  parallelism.
- per-doc categories: topics with P > 0.1, sorted desc, top 3,
  named via the topic-type keyword table
  (reference ``_categorize_with_lda`` :153-185, ``_get_lda_topic_name``
  :222-260, ``_determine_topic_type`` :266-296).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.ml.clustering import LDA, KMeans
from pyspark.ml.feature import CountVectorizerModel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, EngineConfig
from ..kernels.stopwords import MEANINGLESS_WORDS, STOP_WORDS, TOPIC_KEYWORDS

LDA_TOPICS = 8                # reference category_manager.py:36-41, config.py:52-55
LDA_SEED = 42                 # reference category_manager.py:36-41, config.py:52-55
VOCAB_SIZE = 1000             # reference category_manager.py:36-40
MIN_DOCS_FOR_MODEL = 5        # reference config.py:52, category_manager.py:64-75
TOPIC_PROB_THRESHOLD = 0.1    # reference category_manager.py:161-165
MAX_CATEGORIES_PER_DOC = 3    # reference category_manager.py:172


def with_tokens(df: DataFrame) -> DataFrame:
    return df.withColumn(
        'tokens',
        F.filter(F.split(F.col('preprocessed_text'), ' '),
                 lambda t: F.length(t) > 0))


def count_vector_features(df: DataFrame):
    """Reference-semantics featurization: CountVectorizer(vocabSize=
    1000) (category_manager.py:36-40). Returns (df, model) — the model
    carries the vocabulary for topic naming.

    The vocabulary is built explicitly with a pinned total order
    (document frequency desc, term asc) instead of ``CountVectorizer
    .fit``, whose frequency ties break nondeterministically across
    refits — that tie-break leaks into topic assignments and violates
    the determinism contract (SURVEY.md §7.4). The top-k job plans as
    TakeOrdered (no full sort) and scales like any word-count."""
    # explode_outer + isNotNull: keeps the inferred non-empty filter
    # from re-running array_distinct per row at the scan (round 8)
    vocab_rows = (df.select(F.explode_outer(
                      F.array_distinct(F.col('tokens'))).alias('t'))
                  .filter(F.col('t').isNotNull())
                  .groupBy('t').agg(F.count('*').alias('df_'))
                  .orderBy(F.desc('df_'), F.asc('t'))
                  .limit(VOCAB_SIZE)
                  .collect())
    vocab = [r['t'] for r in vocab_rows]
    model = CountVectorizerModel.from_vocabulary(
        vocab, inputCol='tokens', outputCol='features')
    return model.transform(df), model


def topic_name(top_terms: list[str], topic_id: int) -> str:
    """reference _get_lda_topic_name (category_manager.py:222-260):
    filter top-10 terms by len>=3 / not stopword / not meaningless /
    not digit; take 8; name '<Type>: t1, …, t5'."""
    meaningful = [t for t in top_terms
                  if len(t) >= 3 and t.lower() not in STOP_WORDS
                  and t.lower() not in MEANINGLESS_WORDS and not t.isdigit()]
    selected = meaningful[:8]
    if not selected:
        return f"Topic {topic_id + 1}"
    ttype = determine_topic_type(selected)
    head = selected[:5] if len(selected) >= 3 else selected
    return f"{ttype}: {', '.join(head)}"


def determine_topic_type(terms: list[str]) -> str:
    """reference _determine_topic_type (category_manager.py:266-296):
    count terms containing any domain keyword; argmax (dict order —
    first-inserted wins ties via max()), else 'Document'."""
    terms_lower = [t.lower() for t in terms]
    scores = {
        ttype: sum(1 for term in terms_lower
                   if any(kw in term for kw in kws))
        for ttype, kws in TOPIC_KEYWORDS.items()
    }
    best = max(scores, key=scores.get)
    return best if scores[best] > 0 else "Document"


def fit_lda_categories(df: DataFrame,
                       cfg: EngineConfig = DEFAULT_CONFIG,
                       doc_count: int | None = None) -> DataFrame:
    """Full categorization stage. Cold start (<5 docs,
    category_manager.py:64-75): per-doc simple 'Topic: w1, w2, w3'
    categories (A1). Otherwise CountVectorizer + LDA(k=8, seed=42) →
    per-doc top-3 topics over the 0.1 threshold. ``doc_count`` spares
    the count of ``df`` when the caller already has it."""
    doc_count = doc_count if doc_count is not None else df.count()
    if doc_count < MIN_DOCS_FOR_MODEL:
        return with_simple_categories(df)

    feats, cv_model = count_vector_features(with_tokens(df))
    lda = LDA(k=LDA_TOPICS, seed=LDA_SEED, maxIter=cfg.lda_max_iter,
              featuresCol='features')
    model = lda.fit(feats)

    # topic names from describeTopics (driver-side — k×10 terms, tiny)
    vocab = cv_model.vocabulary
    topics = model.describeTopics(10).collect()  # argsort top-10, :231
    names = {int(r['topic']): topic_name([vocab[i] for i in r['termIndices']],
                                         int(r['topic']))
             for r in topics}
    names_arr = F.array(*[F.lit(names[i]) for i in range(LDA_TOPICS)])

    scored = model.transform(feats)
    # vector → array for native top-3-over-threshold selection
    from pyspark.ml.functions import vector_to_array
    dist = vector_to_array(F.col('topicDistribution'))
    pairs = F.filter(
        F.zip_with(dist, F.sequence(F.lit(0), F.lit(LDA_TOPICS - 1)),
                   lambda p, i: F.struct(p.alias('p'), i.alias('i'))),
        lambda s: s['p'] > TOPIC_PROB_THRESHOLD)
    # sort (prob desc, topic-id asc) — matches the reference's stable
    # descending sort (:168, Python sort stability)
    sorted_pairs = F.array_sort(
        pairs,
        lambda a, b: F.when(a['p'] > b['p'], F.lit(-1))
                      .when(a['p'] < b['p'], F.lit(1))
                      .when(a['i'] < b['i'], F.lit(-1))
                      .when(a['i'] > b['i'], F.lit(1))
                      .otherwise(F.lit(0)))
    top3 = F.slice(sorted_pairs, 1, MAX_CATEGORIES_PER_DOC)
    cats = F.transform(top3, lambda s: F.element_at(names_arr, s['i'].cast('int') + 1))
    out = scored.withColumn(
        'categories',
        F.when(F.size(cats) > 0, cats).otherwise(F.array(F.lit('Uncategorized'))))
    return out.drop('features', 'topicDistribution', 'tokens', '__tf')


def with_simple_categories(df: DataFrame) -> DataFrame:
    """A1 cold-start path (reference category_manager.py:64-75,90-103):
    top-3 words of len>=4 by count, ties by first occurrence (Counter
    semantics), via the per-row Python kernel in an Arrow-batched
    pandas UDF. This path only runs when the corpus has fewer than
    MIN_DOCS_FOR_MODEL (5) documents, so row-wise Python is the right
    tool — the earlier native formulation referenced the token-split
    expression inside HOF lambdas, which re-evaluates it per distinct
    word on the interpreted path (the no-CSE-in-HOF-lambdas hazard in
    PLANS.md — O(n²)-ish on long docs)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    from ..kernels.preprocess import simple_categories

    @pandas_udf(ArrayType(StringType()))
    def cats_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for texts in batches:
            yield pd.Series([simple_categories(t) if t is not None
                             else ['Uncategorized'] for t in texts])

    return df.withColumn('categories', cats_udf(F.col('preprocessed_text')))


def category_dimension(spark, category_names: list[str]) -> DataFrame:
    """Structured-category dimension table (reference
    document_storage.py:174-180): id 'cat-%03d' (:175), type = word
    before ':', keywords = comma-split tail, display_name = full name.
    A tiny driver-built DataFrame — always the broadcast side of
    category joins (J2/J3)."""
    rows = []
    for idx, name in enumerate(category_names):
        if ':' in name:
            ctype, _, tail = name.partition(':')
            keywords = [w.strip() for w in tail.split(',') if w.strip()]
        else:
            ctype, keywords = name, []
        rows.append((f'cat-{idx:03d}', ctype.strip(), keywords, name))
    df = spark.createDataFrame(
        rows, 'id string, type string, keywords array<string>, display_name string')
    return df.withColumn('created_at', F.current_timestamp())


def fit_kmeans_categories(df: DataFrame, k: int) -> DataFrame:
    """The *intended* semantics of POST /recategorize-with-clusters
    (the reference endpoint is dead code — AttributeErrors,
    categories.py:129-145; SURVEY.md §3.3): KMeans(k, seed=42) over the
    same term matrix, one cluster per doc. ``MapperAPI.recategorize``
    clamps ``k`` to [2, 20] (categories.py:85)."""
    feats, cv_model = count_vector_features(with_tokens(df))
    km = KMeans(k=k, seed=LDA_SEED, featuresCol='features')
    model = km.fit(feats)
    pred = model.transform(feats)
    # name clusters from their center's top terms
    vocab = cv_model.vocabulary
    names = {}
    for cid, center in enumerate(model.clusterCenters()):
        top_idx = center.argsort()[-10:][::-1]
        names[cid] = topic_name([vocab[i] for i in top_idx if i < len(vocab)], cid)
    names_arr = F.array(*[F.lit(names[i]) for i in range(k)])
    return (pred.withColumn(
        'categories',
        F.array(F.element_at(names_arr, F.col('prediction') + 1)))
        .drop('features', 'tokens', 'prediction'))
