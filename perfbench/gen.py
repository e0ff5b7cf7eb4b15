"""Seeded benchmark inputs, built on ``fixtures.webpages.page_row``.

Every page is a pure function of its row index, so the seed only picks
which row-index windows a run uses (and, in the workloads, which rows
are re-crawled and the query order). Rows are built in the benchmark
process and written as parquet with pyarrow under the run's work
directory before any timing starts; the engine only ever sees those
files. Building 1,200 rows this way takes about 0.2 s, where the same
rows through ``spark.range(...).mapInPandas(page_row)`` take 5-14 s of
a run on 4 cores.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from pdf_ai_mapper_spark.fixtures.webpages import doctype_of, page_row

# page_row's doctype cycle is 6 rows and every second pdf is scanned,
# so any window starting on a multiple of 12 has the same doctype mix
ROW_PERIOD = 12
# rows one (seed, slot) window may span; windows never overlap
SLOT_ROWS = 12_000
SLOTS_PER_SEED = 8

# warc_ts is written UTC-adjusted so Spark reads it as TIMESTAMP, the
# type of fixtures.webpages.WEB_PAGES_SCHEMA
PAGES_SCHEMA = pa.schema([('url', pa.string()),
                          ('warc_ts', pa.timestamp('us', tz='UTC')),
                          ('html', pa.binary()),
                          ('text', pa.string()),
                          ('lang', pa.string())])


def window_start(seed: int, slot: int) -> int:
    """First row index of window ``slot`` (0..7) for ``seed``. Indices
    stay below 10^9 so ``warc_ts`` stays a valid timestamp."""
    if not 0 <= slot < SLOTS_PER_SEED:
        raise ValueError(f'slot {slot} outside 0..{SLOTS_PER_SEED - 1}')
    return ROW_PERIOD + SLOT_ROWS * ((seed % 10_000) * SLOTS_PER_SEED + slot)


def rng(seed: int, purpose: str) -> random.Random:
    """Independent deterministic stream per (seed, purpose)."""
    return random.Random(f'{seed}/{purpose}')


def pages(start: int, n: int) -> list[dict]:
    return [page_row(i) for i in range(start, start + n)]


def recrawl_row(src: int, tag: str) -> dict:
    """Byte-identical re-crawl of row ``src`` under a new url and a
    later timestamp."""
    row = page_row(src)
    row['url'] = f"{row['url']}?recrawl={tag}"
    row['warc_ts'] = row['warc_ts'] + dt.timedelta(days=1)
    return row


def batch_rows(new_start: int, n_new: int, recrawl_src: list[int],
               tag: str) -> list[dict]:
    """One re-crawl batch: a re-crawl of every row in ``recrawl_src``,
    then ``n_new`` fresh pages from row ``new_start`` on."""
    rows = [recrawl_row(s, f'{tag}-{k}') for k, s in enumerate(recrawl_src)]
    return rows + pages(new_start, n_new)


def write_pages(path: str, rows: list[dict], files: int = 4) -> None:
    """Write web_pages rows as a ``files``-file parquet table."""
    os.makedirs(path)
    per = -(-len(rows) // files)
    for k in range(files):
        chunk = rows[k * per:(k + 1) * per]
        if chunk:
            pq.write_table(pa.Table.from_pylist(chunk, schema=PAGES_SCHEMA),
                           os.path.join(path, f'part-{k:05d}.parquet'))


def planted_dups(start: int, n: int) -> list[tuple[int, int]]:
    """(source, copy) row pairs inside [start, start + n): every
    ``html_dup`` row i is a byte copy of row i - 4."""
    return [(i - 4, i) for i in range(start, start + n)
            if doctype_of(i) == 'html_dup' and i - 4 >= start]
