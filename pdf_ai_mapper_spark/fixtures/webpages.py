"""Deterministic synthetic ``web_pages`` corpus (FIXTURES.md §1).

Schema is exactly the north-rule input shape
(``BASELINE.json`` ``input_hint``):

    url:string, warc_ts:timestamp, html:binary, text:string, lang:string

``text`` is the ground-truth main-content text embedded in the payload
— the byte-identity oracle for extraction.  Every value is a pure
function of the row index ``i`` (no RNG object, no wall clock), so any
slice of rows can be generated independently on any executor:
``web_pages_df`` builds the corpus distributively with ``mapInPandas``
over ``spark.range`` — generation itself scales with the cluster.

Doctype cycle (FIXTURES.md): ``['html','html','html','pdf','html_dup',
'image'][i % 6]``; every second pdf is a "scanned" variant with <1000
parseable chars to exercise the OCR fallback branch
(reference pdf_extractor.py:53).  20% of rows land on one hot host to
exercise skew handling.
"""

from __future__ import annotations

import base64
import datetime as _dt
import html as _html
import struct
import zlib

# ---------------------------------------------------------------- word banks

# Eight topical vocabularies mirroring the reference's topic-type table
# (category_manager.py:273-282) so LDA/KMeans has recoverable structure.
TOPIC_BANKS: list[list[str]] = [
    ['philosophy', 'ethics', 'moral', 'virtue', 'justice', 'kant', 'aristotle', 'plato', 'reason', 'dialectic', 'metaphysics', 'epistemology'],
    ['science', 'research', 'theorem', 'proof', 'euclid', 'geometry', 'physics', 'chemistry', 'biology', 'experiment', 'hypothesis', 'mathematics'],
    ['literature', 'novel', 'fiction', 'poetry', 'poem', 'author', 'writer', 'chapter', 'character', 'narrative', 'metaphor', 'prose'],
    ['history', 'ancient', 'classical', 'empire', 'battle', 'century', 'civilization', 'dynasty', 'conquest', 'archive', 'chronicle', 'era'],
    ['technology', 'programming', 'computer', 'software', 'hardware', 'algorithm', 'system', 'digital', 'network', 'compiler', 'database', 'protocol'],
    ['art', 'painting', 'sculpture', 'design', 'aesthetic', 'beauty', 'artist', 'gallery', 'canvas', 'portrait', 'fresco', 'composition'],
    ['medicine', 'health', 'disease', 'treatment', 'patient', 'doctor', 'hospital', 'surgery', 'anatomy', 'diagnosis', 'therapy', 'clinical'],
    ['economics', 'financial', 'money', 'business', 'market', 'trade', 'commerce', 'industry', 'capital', 'inflation', 'currency', 'tariff'],
]

# Short non-Latin runs injected into some paragraphs to exercise the
# script-stripping steps (reference text_preprocessor.py:109-112).
_FOREIGN_RUNS = ['αβγ δικαιοσύνη', 'привет мир', '哲学 歴史', 'مرحبا بالعالم']

_LANG_CYCLE = ['en', 'en', 'en', 'de', 'fr']

_EPOCH = _dt.datetime(2025, 1, 1, 0, 0, 0)

N_HOSTS = 50
HOT_HOST = 0  # host index that receives ~20% of all rows


# ---------------------------------------------------------------- helpers

_TEMPLATES = [
    "The {0} of {1} shows {2}, while {3} and {4} relate {5} to {6} through {7} and {8}.",
    "Scholars of {0} argue that {1} defines {2}, although {3} still frames {4} around {5}, {6} and {7} beyond {8}.",
    "In every account of {0}, the {1} precedes {2}; yet {3} binds {4}, {5} and {6} into {7} against {8}.",
    "A study of {0} reveals {1} within {2}, connecting {3} to {4} as {5} reshapes {6}, {7} and {8}.",
    "Between {0} and {1} lies {2}, where {3} informs {4}; hence {5} anchors {6} alongside {7} and {8}.",
    "Without {0}, neither {1} nor {2} explains {3}; instead {4} joins {5}, turning {6} toward {7} and {8}.",
    "Under {0}, the {1} of {2} extends {3}, because {4} carries {5} from {6} into {7} and {8}.",
]


def _sentence(i: int, p: int, s: int, bank: list[str]) -> str:
    """Deterministic comma-bearing sentence from a topic bank; template
    and word choice both vary with (i, p, s) so same-topic documents
    are lexically related but not near-duplicates."""
    n = len(bank)
    words = [bank[(i * 7 + p * 13 + s * 5 + w * 3) % n] for w in range(9)]
    tmpl = _TEMPLATES[(i * 3 + p * 5 + s) % len(_TEMPLATES)]
    return tmpl.format(*words)


def _paragraphs(i: int) -> list[str]:
    """3-12 deterministic paragraphs for row i, topical by i % 8."""
    bank = TOPIC_BANKS[i % 8]
    n_paras = 3 + (i * 31) % 10
    paras = []
    for p in range(n_paras):
        n_sents = 2 + (i + p) % 4
        body = ' '.join(_sentence(i, p, s, bank) for s in range(n_sents))
        if (i + p) % 11 == 0:
            body += ' ' + _FOREIGN_RUNS[(i + p) % 4] + '.'
        paras.append(body)
    return paras


def _heading(i: int) -> str:
    bank = TOPIC_BANKS[i % 8]
    return f"Notes on {bank[i % len(bank)]} and {bank[(i + 3) % len(bank)]}"


def host_of(i: int) -> int:
    # every 5th row → the hot host (20% skew); rest spread uniformly
    return HOT_HOST if i % 5 == 0 else 1 + (i * 13) % (N_HOSTS - 1)


def url_of(i: int) -> str:
    return f"https://host{host_of(i)}.example.com/p/{i}"


def warc_ts_of(i: int) -> _dt.datetime:
    return _EPOCH + _dt.timedelta(seconds=17 * i)


def lang_of(i: int) -> str:
    return _LANG_CYCLE[i % 5]


def doctype_of(i: int) -> str:
    return ['html', 'html', 'html', 'pdf', 'html_dup', 'image'][i % 6]


# ---------------------------------------------------------------- HTML pages

def _nav_links(i: int) -> str:
    return '\n'.join(
        f'<li><a href="/section/{(i + k) % 40}">Section {(i + k) % 40} home page link</a></li>'
        for k in range(12)
    )


def build_html(i: int) -> tuple[bytes, str]:
    """(payload bytes, ground-truth main text) for an html row."""
    heading = _heading(i)
    paras = _paragraphs(i)
    article = '\n'.join(f'<p>{_html.escape(p)}</p>' for p in paras)
    page = f"""<!DOCTYPE html>
<html lang="{lang_of(i)}">
<head>
  <title>{_html.escape(heading)}</title>
  <style>body {{ margin: 0; }} .nav {{ color: #333; }}</style>
  <script>var counter = {i}; function track() {{ return counter + 1; }}</script>
</head>
<body>
  <header>
    <h1><a href="/">Example Site {host_of(i)}</a></h1>
    <nav><ul>
{_nav_links(i)}
    </ul></nav>
  </header>
  <div class="wrapper">
    <aside>
      <h3>Related</h3>
      <ul>
        <li><a href="/rel/{i % 7}">related page {i % 7} with a long anchor</a></li>
        <li><a href="/rel/{(i + 1) % 7}">another related page {(i + 1) % 7}</a></li>
        <li><a href="/rel/{(i + 2) % 7}">yet another related link here</a></li>
      </ul>
    </aside>
    <article>
      <h2>{_html.escape(heading)}</h2>
{article}
    </article>
  </div>
  <footer>
    <p>Copyright {2020 + i % 6} Example Site. <a href="/terms">Terms of service</a> <a href="/privacy">Privacy policy</a> <a href="/contact">Contact us today</a></p>
  </footer>
</body>
</html>"""
    truth = '\n\n'.join([heading] + paras)
    return page.encode('utf-8'), truth


# ---------------------------------------------------------------- PDF pages

def _pdf_escape(s: str) -> str:
    return s.replace('\\', r'\\').replace('(', r'\(').replace(')', r'\)')


def build_pdf(pages: list[str], ocr_pages: list[str] | None = None) -> bytes:
    """Minimal valid PDF in the style of the reference fixture
    (/root/reference/tests/conftest.py:143-158): one uncompressed
    content stream per page with ``(…) Tj``. Latin-1-encodable text
    only (PDF string literals). Optional ``%OCRPAGE:`` comments carry
    the OCR-stub ground truth for scanned variants."""
    out = bytearray(b'%PDF-1.4\n')
    if ocr_pages:
        for t in ocr_pages:
            out += b'%OCRPAGE:' + base64.b64encode(t.encode('utf-8')) + b'\n'
    n = len(pages)
    kids = ' '.join(f'{3 + 2 * k} 0 R' for k in range(n))
    out += b'1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n'
    out += f'2 0 obj << /Type /Pages /Kids [{kids}] /Count {n} >> endobj\n'.encode()
    for k, text in enumerate(pages):
        page_obj = 3 + 2 * k
        cont_obj = 4 + 2 * k
        stream = f'BT /F1 12 Tf 72 720 Td ({_pdf_escape(text)}) Tj ET'.encode('latin-1')
        out += (f'{page_obj} 0 obj << /Type /Page /Parent 2 0 R '
                f'/MediaBox [0 0 612 792] /Contents {cont_obj} 0 R >> endobj\n').encode()
        out += f'{cont_obj} 0 obj << /Length {len(stream)} >> stream\n'.encode()
        out += stream + b'\nendstream endobj\n'
    out += b'trailer << /Root 1 0 R >>\n%%EOF\n'
    return bytes(out)


def build_pdf_row(i: int) -> tuple[bytes, str]:
    """(payload, ground truth). Every second pdf row is 'scanned':
    short parseable text (<1000 chars total) triggering the OCR branch;
    ground truth then includes parsed + OCR pages, each + "\\n"
    (reference pdf_extractor.py:45,53,95)."""
    paras = _paragraphs(i)
    scanned = (i // 6) % 2 == 1
    if scanned:
        parsed_pages = [f'Scan {i} page {k}' for k in range(min(3, len(paras)))]
        ocr_pages = paras[:len(parsed_pages)]
        payload = build_pdf(parsed_pages, ocr_pages=ocr_pages)
        n_ocr = min(5, len(parsed_pages))
        truth = ''.join(p + '\n' for p in parsed_pages)
        truth += ''.join(t + '\n' for t in ocr_pages[:n_ocr])
    else:
        # pad pages so total parsed text >= 1000 chars (no OCR branch)
        pages = [p.replace('αβγ δικαιοσύνη', 'abg dikaiosyne')
                  .replace('привет мир', 'privet mir')
                  .replace('哲学 歴史', 'tetsugaku rekishi')
                  .replace('مرحبا بالعالم', 'marhaban bialealam')
                 for p in paras]
        while sum(len(p) for p in pages) < 1000:
            pages = pages + pages
        payload = build_pdf(pages)
        truth = ''.join(p + '\n' for p in pages)
    return payload, truth


# ---------------------------------------------------------------- PNG stubs

def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    return (struct.pack('>I', len(body)) + ctype + body
            + struct.pack('>I', zlib.crc32(ctype + body) & 0xFFFFFFFF))


def build_png(gt_text: str) -> bytes:
    """Valid 1x1 grayscale PNG whose tEXt chunk carries the OCR
    ground truth (mirrors the reference's generated white test PNG,
    tests/conftest.py:161-178, plus embedded truth for the OCR stub)."""
    from .. kernels.ocr import PNG_MAGIC
    ihdr = struct.pack('>IIBBBBB', 1, 1, 8, 0, 0, 0, 0)
    idat = zlib.compress(b'\x00\xff')
    text_chunk = b'gt\x00' + gt_text.encode('latin-1', errors='replace')
    return (PNG_MAGIC + _png_chunk(b'IHDR', ihdr)
            + _png_chunk(b'tEXt', text_chunk)
            + _png_chunk(b'IDAT', idat) + _png_chunk(b'IEND', b''))


def build_image_row(i: int) -> tuple[bytes, str]:
    bank = TOPIC_BANKS[i % 8]
    truth = (f"Scanned note {i}: {bank[i % len(bank)]} "
             f"{bank[(i + 1) % len(bank)]} {bank[(i + 2) % len(bank)]}")
    return build_png(truth), truth


# ---------------------------------------------------------------- rows

def page_row(i: int) -> dict:
    """One deterministic web_pages row. html_dup rows are byte-identical
    copies of the html row at i-4 under a different url/timestamp
    (FIXTURES.md: exercises MD5 dedup)."""
    doctype = doctype_of(i)
    if doctype == 'html':
        payload, truth = build_html(i)
    elif doctype == 'pdf':
        payload, truth = build_pdf_row(i)
    elif doctype == 'image':
        payload, truth = build_image_row(i)
    else:  # html_dup — copy of row i-4 (i%6==4 → i-4 ≡ 0 mod 6 → html)
        src = i - 4 if i >= 4 else 0
        payload, truth = build_html(src)
    return {
        'url': url_of(i),
        'warc_ts': warc_ts_of(i),
        'html': payload,
        'text': truth,
        'lang': lang_of(i),
    }


def web_pages_pandas(n_rows: int, start: int = 0):
    """Small-scale corpus as a pandas DataFrame (tests)."""
    import pandas as pd
    rows = [page_row(i) for i in range(start, start + n_rows)]
    return pd.DataFrame(rows, columns=['url', 'warc_ts', 'html', 'text', 'lang'])


WEB_PAGES_SCHEMA = ('url string, warc_ts timestamp, html binary, '
                    'text string, lang string')


def web_pages_df(spark, n_rows: int, num_partitions: int | None = None):
    """Distributed corpus: content generated executor-side per index —
    no driver materialization, scales with the cluster."""
    parts = num_partitions or spark.sparkContext.defaultParallelism

    def gen(batches):
        import pandas as pd
        for pdf in batches:
            for chunk_start in range(0, len(pdf), 256):
                ids = pdf['id'].iloc[chunk_start:chunk_start + 256]
                yield pd.DataFrame(
                    [page_row(int(i)) for i in ids],
                    columns=['url', 'warc_ts', 'html', 'text', 'lang'],
                )

    return (spark.range(0, n_rows, 1, parts)
            .mapInPandas(gen, schema=WEB_PAGES_SCHEMA))


def web_pages_from_documents(spark, sf_dir: str, docs=None):
    """Wrap the driver's ``documents`` table into north-rule-shaped
    web_pages rows: each document's text becomes the <article> of a
    boilerplate-wrapped HTML page (deterministically, executor-side).
    Ground truth = whitespace-normalized text, so the extraction
    byte-identity oracle applies to driver data too. ``docs`` overrides
    the table (e.g. a filtered slice for incremental-batch queries)."""
    if docs is None:
        docs = spark.read.parquet(f'{sf_dir}/documents.parquet')

    def gen(batches):
        import pandas as pd
        for pdf in batches:
            rows = []
            for doc_id, text, lang in zip(pdf['doc_id'], pdf['text'], pdf['lang']):
                i = int(doc_id)
                truth = ' '.join((text or '').split())
                page = (
                    '<!DOCTYPE html><html><head><title>doc</title>'
                    f'<script>var x={i};</script></head><body>'
                    f'<header><nav><ul>{_nav_links(i)}</ul></nav></header>'
                    f'<article><p>{_html.escape(truth)}</p></article>'
                    '<footer><p>Copyright Example Site. '
                    '<a href="/terms">Terms of service</a> '
                    '<a href="/privacy">Privacy policy</a> '
                    '<a href="/contact">Contact us now</a></p></footer>'
                    '</body></html>'
                )
                rows.append({
                    'url': url_of(i),
                    'warc_ts': warc_ts_of(i),
                    'html': page.encode('utf-8'),
                    'text': truth,
                    'lang': lang,
                })
            yield pd.DataFrame(rows, columns=['url', 'warc_ts', 'html', 'text', 'lang'])

    return docs.select('doc_id', 'text', 'lang').mapInPandas(
        gen, schema=WEB_PAGES_SCHEMA)


def build_warc(rows, gzip_members: bool = False) -> bytes:
    """Serialize (url, warc_ts, html_bytes) rows as a WARC 1.0 stream
    of HTTP-response records (optionally one gzip member per record,
    the Common Crawl convention) — the write-side twin of
    sources/warc.py, used by its tests and the driver query."""
    import gzip as _gz
    out = []
    for i, (url, ts, html) in enumerate(rows):
        http = (b'HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n'
                + html)
        head = (f'WARC/1.0\r\n'
                f'WARC-Type: response\r\n'
                f'WARC-Target-URI: {url}\r\n'
                f'WARC-Date: {ts.strftime("%Y-%m-%dT%H:%M:%SZ")}\r\n'
                f'WARC-Record-ID: <urn:uuid:{i:032x}>\r\n'
                f'Content-Type: application/http; msgtype=response\r\n'
                f'Content-Length: {len(http)}\r\n\r\n').encode('latin-1')
        rec = head + http + b'\r\n\r\n'
        out.append(_gz.compress(rec) if gzip_members else rec)
    return b''.join(out)
