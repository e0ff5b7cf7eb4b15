"""Extraction + preprocessing Spark operators (S2-S6, T1-T10).

Plan shape, chosen deliberately (SURVEY.md §4.3):

1. ``with_doctype`` is native Catalyst (magic-byte ``substring`` on the
   binary column) → stays inside whole-stage codegen, usable for
   partition routing and pruning *without* touching Python.
2. ``extract_preprocess_udf`` is ONE fused Arrow-batched iterator
   pandas UDF (extract + preprocess → struct): one Python worker
   round-trip per batch, not per row; the iterator form amortizes
   per-task setup (the reference kernel imports) across all batches of
   a partition.
3. ``extracted`` drops the payload column immediately after extraction
   so downstream stages never shuffle multi-KB binaries.

The per-file timeout of the reference (pdf 120 s, image 30 s —
``pdf_extractor.py:62-73``) becomes a cooperative per-row budget inside
the batch loop; rows over budget yield the reference's timeout error
string instead of killing the task.
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType, StructField, StructType

from ..kernels.extract import extract_text
from ..kernels.preprocess import preprocess_text, preprocess_text_nltk

_PDF_MAGIC = b'%PDF-'
_PNG_MAGIC = b'\x89PNG\r\n\x1a\n'


def doctype_col(html: Column) -> Column:
    """Magic-byte doctype sniff as a native Catalyst expression
    (replaces the extension dispatch of extractor_factory.py:25-32)."""
    return (
        F.when(F.substring(html, 1, 5) == F.lit(_PDF_MAGIC), F.lit('pdf'))
        .when(F.substring(html, 1, 8) == F.lit(_PNG_MAGIC), F.lit('image'))
        .otherwise(F.lit('html'))
    )


def with_doctype(df: DataFrame) -> DataFrame:
    return df.withColumn('doctype', doctype_col(F.col('html')))


def error_code_col(text: Column) -> Column:
    """Typed error taxonomy derived from the reference-faithful error
    strings (reference analogue: app/core/exceptions.py's exception
    classes; the strings themselves are pinned by kernels/extract.py).
    A small enum column for routing/monitoring at scale — the raw
    'Error: ...' strings stay byte-faithful in extracted_text."""
    return (
        F.when(text.isNull(), F.lit('EMPTY'))
        .when(~text.startswith('Error'), F.lit('OK'))
        .when(text.startswith('Error: File too large'), F.lit('TOO_LARGE'))
        .when(text.startswith('Error: PDF extraction timed out'), F.lit('TIMEOUT'))
        .when(text.startswith('Error: No text could be extracted'), F.lit('NO_TEXT'))
        .when(text.startswith('Error: empty payload'), F.lit('EMPTY'))
        .when(text.startswith('Error extracting text:'), F.lit('EXTRACT_FAILED'))
        .otherwise(F.lit('UNKNOWN_ERROR')))


_PDF_TIMEOUT_S = 120  # reference pdf_extractor.py:62-73
_TIMEOUT_MSG = ("Error: PDF extraction timed out after {s} seconds. "
                "The file may be too large or complex.")


def _budget_check(text: str, elapsed: float) -> str:
    """Post-hoc per-row time budget (reference pdf_extractor.py:68-73):
    a row whose extraction ran over budget AND produced no text gets
    the reference's timeout string; partial text is kept, and a
    genuine extraction error message is never rewritten. NB this is a
    detection mechanism, not a preemption one — it cannot interrupt a
    hung kernel call; at cluster scale stragglers are additionally
    bounded by spark.task.maxFailures + speculative execution."""
    if elapsed > _PDF_TIMEOUT_S and not text:
        return _TIMEOUT_MSG.format(s=_PDF_TIMEOUT_S)
    return text


_EXTRACT_STRUCT = StructType([
    StructField('extracted_text', StringType()),
    StructField('preprocessed_text', StringType()),
])


def _make_extract_preprocess_udf(preprocess_mode: str):
    """Fused extract+preprocess kernel returning a struct column.

    Fused deliberately: two CHAINED pandas UDFs run as two concurrent
    Python workers per task (pipelined ArrowEvalPython stages), which
    doubles the Python process count per core and round-trips the
    multi-KB extracted text through Arrow twice. Fusing halves worker
    pressure and Arrow bytes (measured: the chained form flatlined
    local[8]→local[32] scaling)."""
    if preprocess_mode not in ('deterministic', 'nltk'):
        raise ValueError(
            f'unknown preprocess_mode {preprocess_mode!r}: '
            "expected 'deterministic' or 'nltk'")
    pre_fn = (preprocess_text_nltk if preprocess_mode == 'nltk'
              else preprocess_text)

    @pandas_udf(_EXTRACT_STRUCT)
    def _udf(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for payloads in batches:
            ext, pre = [], []
            for data in payloads:
                t0 = time.monotonic()
                text = extract_text(data)
                text = _budget_check(text, time.monotonic() - t0)
                ext.append(text)
                pre.append(pre_fn(text))
            yield pd.DataFrame({'extracted_text': ext,
                                'preprocessed_text': pre})
    return _udf


extract_preprocess_udf = _make_extract_preprocess_udf('deterministic')


def extracted(df: DataFrame,
              preprocess_mode: str = 'deterministic') -> DataFrame:
    """Input table → + doctype, extracted_text, preprocessed_text,
    content_hash.

    NO repartition: shuffling raw payload bytes before the UDFs is a
    full write+read of the corpus (measured: it capped N→4N extraction
    scaling at 0.3 efficiency locally, and at 100 TB it would be a
    100 TB shuffle). Uniform work distribution comes from the scan
    itself — `spark.sql.files.maxPartitionBytes` splits parquet
    row-groups evenly, and the url-hash bucket layout of our own
    outputs is already uniform."""
    fused = (extract_preprocess_udf if preprocess_mode == 'deterministic'
             else _make_extract_preprocess_udf(preprocess_mode))
    return (
        with_doctype(df)
        .withColumn('content_hash', F.md5(F.col('html')))  # D1: F.md5 == hashlib.md5 hex
        .withColumn('__ep', fused(F.col('html')))
        .withColumn('extracted_text', F.col('__ep.extracted_text'))
        .withColumn('preprocessed_text', F.col('__ep.preprocessed_text'))
        .drop('__ep')
        .withColumn('is_error',
                    F.col('extracted_text').startswith('Error'))  # F3
        .withColumn('error_code', error_code_col(F.col('extracted_text')))
        .withColumn('processed_at', F.current_timestamp())
        .drop('html')  # prune the binary before any shuffle
    )
