"""Engine configuration: the values a caller sets.

The reference's other defaults (upload cap, OCR trigger, LDA k and
seed, vocabulary, snippet window) are module constants next to the
function that reads each one. Citations of the fields kept here:
- LDA maxIter=100             (reference category_manager.py:36-41, config.py:52-55)
- search top-k 10             (reference search_engine.py:39,84)
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


@dataclass(frozen=True)
class EngineConfig:
    # 'deterministic' = reference's NLTK-absent path (byte-identity
    # contract); 'nltk' = reference's NLTK-present stopwords+tokenizer
    # (kernels/preprocess.py — documented POS-tag delta)
    preprocess_mode: str = 'deterministic'

    # categorization
    lda_max_iter: int = 100

    # search
    max_results: int = 10

    # physical execution
    # 4× the core count: AQE coalesces over-partitioned small shuffles
    # for free, but cannot split an UNDER-partitioned one — at 1× the
    # cores, the dedup/band reduce stages straggle on skewed tasks
    # (measured: minhash on 120k docs at local[16] went 28.5 s → 22.0 s
    # when shuffle partitions rose 16 → 64)
    shuffle_partitions: int = field(
        default_factory=lambda: 4 * int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    )
    output_buckets: int = 64                 # url-hash buckets for output layout + resume


DEFAULT_CONFIG = EngineConfig()
