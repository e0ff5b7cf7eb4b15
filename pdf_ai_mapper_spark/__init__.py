"""pdf_ai_mapper_spark — a PySpark-native main-content extraction engine.

A from-scratch re-expression of the semantics of Davz33/pdf-ai-mapper
(reference at /root/reference, cited by file:line in docstrings) as a
distributed, columnar, Arrow-vectorized Spark pipeline over
Common-Crawl-style web-page tables:

- ``kernels``    — pure per-row Python kernels (HTML boilerplate strip,
                   PDF span parse, OCR stub, text preprocess, relevance,
                   snippets). No Spark imports; unit-testable standalone.
- ``operators``  — Spark DataFrame operators wrapping the kernels as
                   Arrow pandas UDFs, plus native-Catalyst dedup, search,
                   categorization and the Bloom ingest pre-filter.
- ``fixtures``   — deterministic synthetic ``web_pages`` generator
                   (seed-free: content derived from row index).
- ``pipeline``   — the end-to-end extraction pipeline with
                   checkpoint/resume and per-partition lineage counters.
- ``api``        — ``MapperAPI``: the reference's HTTP endpoints as
                   library methods with identical response shapes.
- ``sources``    — WARC input (``sources.warc``).
- ``queries``    — the query catalog with DuckDB oracles.
"""

__version__ = "0.2.0"
