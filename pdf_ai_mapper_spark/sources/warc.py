"""WARC (ISO 28500) reader — the Common-Crawl-native input format.

The north-star input is "an Iceberg table of Common-Crawl-style web
pages"; the raw material for that table is WARC segments, so a
switch-over user needs a path from ``*.warc(.gz)`` files to the
engine's ``web_pages`` shape. This module implements the public WARC
1.0/1.1 record grammar (version line, CRLF name:value headers, blank
line, ``Content-Length`` octets of block, CRLF CRLF record separator)
plus the HTTP-response framing inside ``response`` records, and wraps
it Spark-side as:

    binaryFile scan (one task per WARC file — files are ~1 GiB by
    Common Crawl convention, a natural task granule; gzip members
    chain so a mid-file split is impossible anyway)
        → mapInPandas parse (Arrow-batched, pure-Python kernel below)
        → (url, warc_ts, html) rows ready for pipeline.transform

Common Crawl WARCs are multi-member gzip (one member per record);
``gzip.decompress`` consumes concatenated members, so the same parser
serves .warc and .warc.gz. The parse kernel is a plain function over
bytes — unit-testable without Spark, and reusable from any runner.
"""

from __future__ import annotations

import gzip as _gzip
from datetime import datetime, timezone
from typing import Iterator

_GZIP_MAGIC = b'\x1f\x8b'
_CRLF2 = b'\r\n\r\n'
_READ_CHUNK = 1 << 20   # gzip bytes fed per decompress call
_HEAD_CAP = 1 << 16     # WARC header bytes read per record


def iter_warc_records(data: bytes) -> Iterator[tuple[dict, bytes]]:
    """Yield (headers, block) per WARC record in a raw or gzipped
    stream. Header names are lower-cased; malformed trailing bytes end
    iteration rather than raising (truncated fetches are routine at
    crawl scale — the caller sees every complete record)."""
    if data[:2] == _GZIP_MAGIC:
        data = _gzip.decompress(data)  # multi-member: reads all members
    pos = 0
    n = len(data)
    while pos < n:
        if not data.startswith(b'WARC/', pos):
            nxt = data.find(b'WARC/', pos)
            if nxt < 0:
                return
            pos = nxt
        head_end = data.find(_CRLF2, pos)
        if head_end < 0:
            return
        lines = data[pos:head_end].split(b'\r\n')
        headers: dict = {}
        for ln in lines[1:]:  # lines[0] is the WARC/x.y version line
            sep = ln.find(b':')
            if sep > 0:
                headers[ln[:sep].strip().lower().decode('latin-1')] = \
                    ln[sep + 1:].strip().decode('latin-1')
        try:
            length = int(headers.get('content-length', ''))
        except ValueError:
            return
        block_start = head_end + 4
        block = data[block_start:block_start + length]
        if len(block) < length:
            return  # truncated record
        yield headers, block
        pos = block_start + length
        if data.startswith(_CRLF2, pos):
            pos += 4


def _http_body(block: bytes) -> bytes:
    """Payload of an HTTP response block (body after the header
    section); a block with no header/body separator is returned whole
    (some writers store bare payloads)."""
    sep = block.find(_CRLF2)
    return block[sep + 4:] if sep >= 0 else block


def _parse_warc_date(s: str) -> 'datetime | None':
    try:
        return (datetime.strptime(s, '%Y-%m-%dT%H:%M:%SZ')
                .replace(tzinfo=timezone.utc).replace(tzinfo=None))
    except ValueError:
        return None


def warc_response_rows(data: bytes) -> Iterator[tuple]:
    """(url, warc_ts, html) per *response* record of one WARC stream.
    Request/metadata/warcinfo records are skipped, as is any response
    without a target URI."""
    for headers, block in iter_warc_records(data):
        if headers.get('warc-type') != 'response':
            continue
        url = headers.get('warc-target-uri')
        if not url:
            continue
        yield (url, _parse_warc_date(headers.get('warc-date', '')),
               _http_body(block))


def _gzip_member_ranges_stream(fh) -> list[tuple[int, int]]:
    """(offset, length) per gzip member, streaming: O(chunk) memory,
    one decompression pass."""
    import zlib
    out: list[tuple[int, int]] = []
    start = 0   # absolute offset of the current member's first byte
    fed = 0     # absolute offset one past the last byte fed
    d = zlib.decompressobj(wbits=31)
    carry = b''
    while True:
        data = carry if carry else fh.read(_READ_CHUNK)
        carry = b''
        if not data:
            if fed > start:
                out.append((start, fed - start))  # truncated tail member
            return out
        d.decompress(data)
        fed += len(data)
        if d.eof:
            end = fed - len(d.unused_data)
            out.append((start, end - start))
            carry = d.unused_data
            start = end
            fed = end
            d = zlib.decompressobj(wbits=31)


def _raw_record_ranges_stream(fh) -> list[tuple[int, int]]:
    """(offset, length) per raw WARC record, streaming with seek —
    blocks are skipped, never buffered."""
    fh.seek(0, 2)
    size = fh.tell()
    starts: list[int] = []
    pos = 0
    while pos < size:
        fh.seek(pos)
        head = fh.read(_HEAD_CAP)
        if not head:
            break
        if not head.startswith(b'WARC/'):
            idx = head.find(b'WARC/')
            if idx < 0:
                pos += max(1, len(head) - 4)  # overlap: split magic
                continue
            pos += idx
            fh.seek(pos)
            head = fh.read(_HEAD_CAP)
        he = head.find(_CRLF2)
        if he < 0:
            break  # truncated / >64k header: complete records only
        length = None
        for ln in head[:he].split(b'\r\n')[1:]:
            sep = ln.find(b':')
            if sep > 0 and ln[:sep].strip().lower() == b'content-length':
                try:
                    length = int(ln[sep + 1:].strip())
                except ValueError:
                    pass
        if length is None:
            break
        starts.append(pos)
        nxt = pos + he + 4 + length
        fh.seek(nxt)
        if fh.read(4) == _CRLF2:
            nxt += 4
        pos = nxt
    return [(s, (starts[i + 1] if i + 1 < len(starts) else size) - s)
            for i, s in enumerate(starts)]


def iter_warc_ranges_stream(fh) -> list[tuple[int, int]]:
    """(offset, length) per independently-decompressible unit of one
    WARC stream: gzip members for record-gzip ``.warc.gz`` (the Common
    Crawl convention — one member per record), raw records otherwise.
    Lengths TILE the file (each extends to the next unit's offset), so
    any run of consecutive index rows is a contiguous, parseable byte
    span.  Bounded memory — a >2 GiB file streams fine (binaryFile
    caps content at Int.MaxValue, so whole-file loading CANNOT work
    there; this is the only path)."""
    magic = fh.read(2)
    fh.seek(0)
    if magic == _GZIP_MAGIC:
        return _gzip_member_ranges_stream(fh)
    return _raw_record_ranges_stream(fh)


def build_warc_index(spark, path: str):
    """Offset-index sidecar: DataFrame(file, offset, length) — one row
    per gzip member / raw record of every ``*.warc(.gz)`` under
    ``path``.  One task per file, STREAMING (bounded memory: binaryFile
    would cap at 2 GiB and buffer whole files; only the path listing
    comes from it — content is never loaded).  The build reads each
    file once — the pass Common Crawl amortizes by publishing CDX
    indexes.  Persist the result next to the data and hand it to
    ``read_warc(index=...)`` to split big files across tasks."""
    import pandas as pd

    files = (spark.read.format('binaryFile')
             .option('pathGlobFilter', '*.warc*')
             .load(path)
             .select('path'))  # metadata only; content stays on disk

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for p in pdf['path']:
                with open(_local_path(p), 'rb') as fh:
                    rows.extend((p, off, ln)
                                for off, ln in iter_warc_ranges_stream(fh))
            yield pd.DataFrame(rows, columns=['file', 'offset', 'length'])

    return files.mapInPandas(gen, 'file string, offset long, length long')


def _local_path(file_uri: str) -> str:
    if ':' in file_uri.split('/', 1)[0]:
        from urllib.parse import unquote, urlparse
        return unquote(urlparse(file_uri).path)
    return file_uri


def read_warc(spark, path: str, index=None,
              target_task_bytes: int = 128 << 20):
    """``*.warc(.gz)`` files under ``path`` → DataFrame(url string,
    warc_ts timestamp, html binary, lang string) — the engine's input
    shape minus the fixture-only ground-truth column. ``lang`` is NULL
    (WARC carries no language).

    Without ``index``: one scan task per file (binaryFile source).
    Fine for convention-sized (~1 GiB) segments; a single multi-GB
    file is ONE task and its whole payload sits in one executor's
    memory — at that shape, pass ``index`` (a ``build_warc_index``
    DataFrame, or a path to its persisted parquet) and the reader
    plans contiguous ~``target_task_bytes`` byte spans of WHOLE
    records/members and reads each span with seek+read — ≥4 tasks per
    multi-GB file, bounded memory, byte-identical rows.  Local-fs
    seek+read here; on a real cluster the open() becomes the Hadoop
    FS / fsspec equivalent (same offsets, same bytes)."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if index is None:
        files = (spark.read.format('binaryFile')
                 .option('pathGlobFilter', '*.warc*')
                 .load(path)
                 .select('content'))

        def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                rows = [r for content in pdf['content']
                        for r in warc_response_rows(bytes(content))]
                yield pd.DataFrame(rows, columns=['url', 'warc_ts', 'html'])

        return (files.mapInPandas(
            parse, schema='url string, warc_ts timestamp, html binary')
            .withColumn('lang', F.lit(None).cast('string')))

    if isinstance(index, str):
        index = spark.read.parquet(index)

    # plan contiguous spans: running-sum bucket per file (index lengths
    # tile the file, so min(offset)+sum(length) is one seekable range
    # of whole records); the spans table is tiny (total_bytes / target)
    w = (Window.partitionBy('file').orderBy('offset')
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    spans = (index
             .withColumn('__run', F.sum('length').over(w))
             .withColumn('__task', F.floor((F.col('__run') - F.col('length'))
                                           / F.lit(int(target_task_bytes))))
             .groupBy('file', '__task')
             .agg(F.min('offset').alias('start'),
                  F.sum('length').alias('nbytes')))
    # one span per task, EXPLICIT partition count: the span rows are
    # bytes-sized, so AQE would coalesce an unpinned shuffle into one
    # partition and a multi-GB file would be read by a single task
    # (measured). The spans table is total_bytes/target rows — tiny by
    # construction — so collect it and rebuild (one driver-scale
    # planning job, no persist to leak across repeated read_warc calls
    # in a long-lived session, no global-sort window).
    span_rows = sorted(spans.collect(),
                       key=lambda r: (r['file'], r['__task']))
    rows = [(r['file'], int(r['start']), int(r['nbytes']), i + 1)
            for i, r in enumerate(span_rows)]
    n_spans = max(1, len(rows))
    spans = (spark.createDataFrame(
        rows, 'file string, start long, nbytes long, __sid int')
        .repartitionByRange(n_spans, '__sid'))

    def read_spans(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for f, s, b in zip(pdf['file'], pdf['start'], pdf['nbytes']):
                with open(_local_path(f), 'rb') as fh:
                    fh.seek(int(s))
                    rows.extend(warc_response_rows(fh.read(int(b))))
            yield pd.DataFrame(rows, columns=['url', 'warc_ts', 'html'])

    return (spans.mapInPandas(
        read_spans, schema='url string, warc_ts timestamp, html binary')
        .withColumn('lang', F.lit(None).cast('string')))
