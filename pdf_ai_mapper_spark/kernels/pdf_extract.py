"""Columnar-friendly minimal PDF text-span parser.

The reference extracts PDF text with pypdf page-by-page, joining pages
with ``"\\n"`` (``app/core/text_extraction/pdf_extractor.py:39-45``) and
falling back to OCR on the first ``min(5, pages)`` pages when the
parsed text is shorter than 1000 chars (:53, :84-97).  pypdf is absent
in this runtime, so we parse the well-formed minimal-PDF subset the
fixtures use (the same shape as the reference's own test fixture,
``/root/reference/tests/conftest.py:143-158``): uncompressed content
streams with ``(…) Tj`` / ``[(…) …] TJ`` / ``(…) '`` text-showing
operators.  On a real cluster a pypdf-backed kernel is a drop-in for
``parse_pdf_pages`` (same signature), as a Tesseract-backed one is for
``ocr.ocr_image`` / ``ocr_pdf_pages``.
"""

from __future__ import annotations

import re

_STREAM_RE = re.compile(rb'stream\r?\n(.*?)endstream', re.DOTALL)
# (string) Tj   |   (string) '   |   [ ... ] TJ
_TJ_RE = re.compile(rb'\((?:[^()\\]|\\.)*\)\s*(?:Tj|\')|\[(?:[^\[\]\\]|\\.)*\]\s*TJ', re.DOTALL)
_STR_RE = re.compile(rb'\((?:[^()\\]|\\.)*\)', re.DOTALL)

_ESCAPES = {
    b'n': b'\n', b'r': b'\r', b't': b'\t', b'b': b'\b', b'f': b'\f',
    b'(': b'(', b')': b')', b'\\': b'\\',
}


def _decode_pdf_string(raw: bytes) -> str:
    """Decode one (…)-literal (without parens) per PDF 32000-1 §7.3.4.2.

    Escape-free literals (the overwhelming majority of real content
    streams) decode in one C call; otherwise the loop jumps between
    backslashes with ``find`` instead of walking per byte."""
    if b'\\' not in raw:
        return raw.decode('latin-1')
    out = bytearray()
    i = 0
    n = len(raw)
    find = raw.find
    while i < n:
        b = find(b'\\', i)
        if b < 0:
            out += raw[i:]
            break
        out += raw[i:b]
        if b + 1 >= n:  # trailing lone backslash: kept literally
            out += b'\\'
            break
        nxt = raw[b + 1:b + 2]
        if nxt in _ESCAPES:
            out += _ESCAPES[nxt]
            i = b + 2
        elif nxt.isdigit():  # octal \ddd (1-3 digits)
            j = b + 1
            while j < min(b + 4, n) and raw[j:j + 1].isdigit():
                j += 1
            out.append(int(raw[b + 1:j], 8) & 0xFF)
            i = j
        elif nxt == b'\n':  # line continuation
            i = b + 2
        else:
            out += nxt
            i = b + 2
    return out.decode('latin-1')


def _stream_text(stream: bytes) -> str:
    """Concatenate all shown strings in one content stream."""
    parts: list[str] = []
    for m in _TJ_RE.finditer(stream):
        tok = m.group(0)
        for s in _STR_RE.finditer(tok):
            parts.append(_decode_pdf_string(s.group(0)[1:-1]))
    return ''.join(parts)


def parse_pdf_pages(data: bytes) -> list[str]:
    """Return per-page text for a minimal PDF (one content stream per
    page, in byte order). Raises ValueError on non-PDF input."""
    if not data.startswith(b'%PDF-'):
        raise ValueError("not a PDF: missing %PDF- header")
    return [_stream_text(m.group(1)) for m in _STREAM_RE.finditer(data)]
