"""Library facade mirroring the reference's HTTP API surface.

A user of the reference talks to five routers (app/api/{upload,search,
status,categories}.py). ``MapperAPI`` exposes every endpoint as a
method with the SAME response dict shape (app/models/schemas.py:16-51),
backed by the Spark engine instead of the single-node processor:

- upload       → single-row batch through ``run_extraction`` with
                 content anti-join dedup (upload.py:18-60; the daemon
                 thread at document_service.py:154-162 becomes a
                 synchronous batched ingest)
- status       → url + categories of the output table, status from
                 the categories (status.py:16-47)
- search       → ``operators.search.search`` + structured-filter
                 resolution (search.py:17-69, search_engine.py:150-190)
- categories / recategorize / recategorize_with_clusters /
  cleanup_duplicates / generate_structured_categories
               → categorize + dedup operators (categories.py:17-230)
- health       → static (status.py:50-53)

State lives under ``base_path``: the bucketed output table (engine
layout) plus two small sidecar tables, ``_categories`` (url →
categories array) and ``_structured_categories`` (the category
dimension) — the Spark analogue of the reference's JSON document
index.
"""

from __future__ import annotations

import os
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import checkpoint as cp
from .config import DEFAULT_CONFIG, EngineConfig
from .operators.categorize import (category_dimension, fit_kmeans_categories,
                                   fit_lda_categories)
from .operators.search import resolve_structured, search as search_op
from .pipeline import run_extraction

# reference upload.py:29 — plus .html/.htm, the capability this engine
# adds (the reference rejects them; documented divergence)
_ALLOWED_EXT = ('.pdf', '.png', '.jpg', '.jpeg', '.tiff', '.bmp',
                '.html', '.htm')


class MapperAPI:
    def __init__(self, spark: SparkSession, base_path: str,
                 cfg: EngineConfig = DEFAULT_CONFIG):
        self.spark = spark
        self.base_path = base_path
        self.cfg = cfg

    # ------------------------------------------------------------ paths
    def _cats_path(self) -> str:
        return os.path.join(self.base_path, '_categories')

    def _structured_path(self) -> str:
        return os.path.join(self.base_path, '_structured_categories')

    def _read_output(self) -> DataFrame | None:
        return cp.read_output_or_none(self.spark, self.base_path)

    def _read_sidecar(self, path: str) -> DataFrame | None:
        return cp.read_or_none(self.spark.read.parquet, path, path=path)

    def _docs_with_categories(self) -> DataFrame | None:
        out = self._read_output()
        if out is None:
            return None
        cats = self._read_sidecar(self._cats_path())
        if cats is not None:
            out = out.join(cats, on='url', how='left')
        else:
            out = out.withColumn('categories',
                                 F.lit(None).cast('array<string>'))
        return out.withColumn(
            'categories',
            F.coalesce('categories', F.array(F.lit('Processing'))))

    # -------------------------------------------------------- endpoints
    def health(self) -> dict:
        """GET /health (status.py:50-53)."""
        return {'status': 'healthy'}

    def upload(self, payload: bytes, filename: str) -> dict:
        """POST /upload/ (upload.py:18-60): validate, assign uuid,
        ingest through the full pipeline with content-hash dedup.
        Raises ValueError with the reference's messages on bad input."""
        if not filename:
            raise ValueError('No file provided')            # :24
        if not filename.lower().endswith(_ALLOWED_EXT):
            raise ValueError('Only PDF and image files are supported')  # :31
        doc_id = str(uuid.uuid4())                           # :26
        url = f'upload://{doc_id}/{filename}'
        df = self.spark.createDataFrame(
            [(url, datetime.now(timezone.utc), bytearray(payload), None)],
            'url string, warc_ts timestamp, html binary, lang string')
        run_extraction(self.spark, df, self.base_path, self.cfg,
                       dedup_against_output=True)
        return {
            'status': 'success',
            'message': 'File uploaded successfully and processing started '
                       '(categorization will happen automatically, '
                       'duplicates will be detected)',   # upload.py:53
            'document_id': doc_id,
            'categories': ['Processing'],                # upload.py:55
        }

    def status(self, limit: int = 1000, offset: int = 0) -> dict:
        """GET /status/ (status.py:16-47).

        The reference endpoint returns EVERY document; unbounded at
        corpus scale, so this facade pages: ``documents`` carries at
        most ``limit`` rows (default 1000) starting at ``offset`` in
        url order, while ``document_count`` stays the TOTAL — the
        response shape is unchanged and a small corpus (≤ limit) gets
        the exact reference behavior. ``limit=None`` restores the
        unbounded contract explicitly. A ``truncated`` flag is set
        whenever ``documents`` carries fewer rows than
        ``document_count`` so callers can detect a partial listing
        (ADVICE r3)."""
        docs = self._docs_with_categories()
        response: dict = {'status': 'success', 'document_count': 0,
                          'documents': [], 'truncated': False}
        structured = self._structured_list()
        if structured:
            response['structured_categories'] = structured
        if docs is None:
            return response
        page = docs.select('url', 'categories')
        response['document_count'] = page.count()
        page = page.orderBy('url')
        if offset:
            page = page.offset(offset)
        if limit is not None:
            page = page.limit(limit)
        rows = page.collect()
        response['truncated'] = len(rows) < response['document_count']
        for r in rows:
            response['documents'].append({
                'id': r['url'],
                'filename': r['url'].rsplit('/', 1)[-1],   # status.py:41
                'status': 'processed' if list(r['categories']) != ['Processing']
                          else 'processing',               # status.py:42
                'categories': list(r['categories']),
            })
        return response

    def search(self, query: str, categories: list[str] | None = None,
               category_types: list[str] | None = None,
               keywords: list[str] | None = None, k: int | None = None) -> dict:
        """POST /search/ (search.py:17-69): structured filters resolve
        to display names against the stored dimension, then the engine
        search runs; results carry the reference's formatted shape
        (search_engine.py:168-188)."""
        docs = self._docs_with_categories()
        structured = self._structured_list()
        if docs is None:
            return {'results': [],
                    'available_filters': self._available_filters(structured)}

        wanted = sorted(set(categories or ()).union(      # search.py:31-42
            resolve_structured(structured, category_types, keywords)))

        hits = search_op(docs, query, categories=wanted or None,
                         k=k, cfg=self.cfg)
        by_name = {c['display_name']: c for c in structured}
        results = []
        for r in hits.collect():  # k rows — driver-sized by contract
            cats = list(r['categories'])
            item = {
                'document_id': r['url'],
                'filename': r['url'].rsplit('/', 1)[-1],
                'categories': cats,
                'score': int(r['score']),
                'snippet': r['snippet'],
            }                                               # :178-183
            structured_cats = [by_name[c] for c in cats if c in by_name]
            if structured_cats:                             # :185-186
                item['structured_categories'] = structured_cats
            results.append(item)
        return {'results': results,
                'available_filters': self._available_filters(structured)}

    def recategorize(self, clusters: int | None = None) -> dict:
        """POST /recategorize/ and /recategorize-with-clusters/
        (categories.py:54-110): destructive dedup first, then LDA (or
        KMeans when ``clusters`` is given — the documented intent of
        the reference's dead endpoint), categories + structured
        dimension persisted."""
        removed, n = self._cleanup_duplicates_impl()
        docs = self._read_output()
        if docs is None:
            return {'status': 'success', 'message': 'Recategorized 0 documents',
                    'structured_categories': []}
        if clusters is not None:
            clusters = max(2, min(20, clusters))            # categories.py:85
            cat_df = fit_kmeans_categories(docs, clusters)
        else:
            cat_df = fit_lda_categories(docs, cfg=self.cfg, doc_count=n)
        (cat_df.select('url', 'categories')
         .write.mode('overwrite').parquet(self._cats_path()))
        names = sorted(r['c'] for r in
                       cat_df.select(F.explode('categories').alias('c'))
                       .distinct().collect())
        dim = category_dimension(self.spark, names)
        dim.write.mode('overwrite').parquet(self._structured_path())
        return {'status': 'success',
                'message': f'Recategorized {n} documents',  # categories.py:76
                'structured_categories': self._structured_list(),
                'duplicates_removed': removed}

    def categories(self) -> dict:
        """GET /categories/ (categories.py:17-50): stored structured
        categories, generated on demand, 'Uncategorized' default."""
        structured = self._structured_list()
        if not structured:
            structured = self.generate_structured_categories()[
                'structured_categories']
        if not structured:
            return {'structured_categories': [{
                'id': 'cat-001', 'type': 'Uncategorized', 'keywords': [],
                'display_name': 'Uncategorized',
                'created_at': datetime.now(timezone.utc).isoformat(),
            }]}                                             # :36-45
        return {'structured_categories': structured}

    def generate_structured_categories(self) -> dict:
        """POST /generate-structured-categories/ (categories.py:191-
        209): rebuild the dimension from the categories in use."""
        cats = self._read_sidecar(self._cats_path())
        names: list[str] = []
        if cats is not None:
            names = sorted(r['c'] for r in
                           cats.select(F.explode('categories').alias('c'))
                           .distinct().collect())
        dim = category_dimension(self.spark, names)
        dim.write.mode('overwrite').parquet(self._structured_path())
        structured = self._structured_list()
        return {'status': 'success',
                'message': f'Generated {len(structured)} structured categories',
                'structured_categories': structured}

    def cleanup_duplicates(self) -> dict:
        """POST /cleanup-duplicates/ (categories.py:167-188): D3
        destructive dedup — rows the commit flagged ``is_duplicate``
        are dropped, the buckets that held them rewritten, the rows
        left reported."""
        removed, n = self._cleanup_duplicates_impl()
        return {'status': 'success',
                'message': f'Removed {removed} duplicate documents',
                'document_count': n}

    # -------------------------------------------------------- internals
    def _cleanup_duplicates_impl(self) -> tuple[int, int]:
        """Drop the rows the commit flagged ``is_duplicate`` (the
        first-seen row per content hash survives; destructive,
        document_storage.py:105-138). One per-bucket aggregate names
        the buckets that hold a flagged row, and only those are
        rewritten: every other bucket keeps its files. Returns the
        rows removed and the rows left."""
        docs = self._read_output()
        if docs is None:
            return 0, 0
        per_bucket = (docs.groupBy('bucket')
                      .agg(F.count('*').alias('rows'),
                           F.count_if('is_duplicate').alias('dups'))
                      .collect())
        removed = sum(r['dups'] for r in per_bucket)
        hit = [r['bucket'] for r in per_bucket if r['dups']]
        if hit:
            cp._rewrite_buckets(
                cp.data_path(self.base_path),
                docs.filter(F.col('bucket').isin(hit)
                            & ~F.col('is_duplicate')),
                hit)
        return removed, sum(r['rows'] for r in per_bucket) - removed

    def _structured_list(self) -> list[dict]:
        dim = self._read_sidecar(self._structured_path())
        if dim is None:
            return []
        return [{'id': r['id'], 'type': r['type'],
                 'keywords': list(r['keywords']),
                 'display_name': r['display_name'],
                 'created_at': r['created_at'].isoformat()}
                for r in dim.orderBy('id').collect()]

    @staticmethod
    def _available_filters(structured: list[dict]) -> dict:
        """search.py:71-87."""
        if not structured:
            return {'category_types': [], 'keywords': []}
        kws: list[str] = []
        for cat in structured:
            kws.extend(cat['keywords'])
        return {'category_types': sorted({c['type'] for c in structured}),
                'keywords': sorted(set(kws))}
