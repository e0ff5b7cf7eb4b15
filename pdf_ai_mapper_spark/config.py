"""Engine configuration constants.

Values mirror the reference defaults so behavior is comparable:
- max upload size 50 MB       (reference app/core/config.py:39)
- OCR trigger < 1000 chars    (reference pdf_extractor.py:53)
- OCR page cap 5              (reference config.py:49, pdf_extractor.py:88)
- LDA k=8 seed=42 maxIter=100 (reference category_manager.py:36-41, config.py:52-55)
- vocab size 1000, ngrams 1-3 (reference category_manager.py:36-40)
- min docs for model fit: 5   (reference config.py:52, category_manager.py:64-75)
- search top-k 10             (reference search_engine.py:39,84)
- snippet length 200, stride 50 (reference snippet_generator.py:12,34)
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


@dataclass(frozen=True)
class EngineConfig:
    # ingest / extraction
    max_file_size: int = 50 * 1024 * 1024
    ocr_trigger_chars: int = 1000
    max_pages_for_ocr: int = 5
    pdf_timeout_s: float = 120.0
    # 'deterministic' = reference's NLTK-absent path (byte-identity
    # contract); 'nltk' = reference's NLTK-present stopwords+tokenizer
    # (kernels/preprocess.py — documented POS-tag delta)
    preprocess_mode: str = 'deterministic'

    # categorization
    lda_topics: int = 8
    lda_seed: int = 42
    lda_max_iter: int = 100
    vocab_size: int = 1000
    min_docs_for_model: int = 5
    topic_prob_threshold: float = 0.1  # reference category_manager.py:161-165
    max_categories_per_doc: int = 3    # reference category_manager.py:172

    # search
    max_results: int = 10
    snippet_length: int = 200
    snippet_stride: int = 50

    # physical execution
    # 4× the core count: AQE coalesces over-partitioned small shuffles
    # for free, but cannot split an UNDER-partitioned one — at 1× the
    # cores, the dedup/band reduce stages straggle on skewed tasks
    # (measured: minhash on 120k docs at local[16] went 28.5 s → 22.0 s
    # when shuffle partitions rose 16 → 64)
    shuffle_partitions: int = field(
        default_factory=lambda: 4 * int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    )
    arrow_max_records_per_batch: int = 2048  # payloads are large; keep batches bounded
    output_buckets: int = 64                 # url-hash buckets for output layout + resume


DEFAULT_CONFIG = EngineConfig()
