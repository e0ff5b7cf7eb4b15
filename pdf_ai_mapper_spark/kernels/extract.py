"""Unified per-row extraction kernel: payload bytes → extracted text.

Re-expresses the reference's extraction dispatch + error semantics:

- doctype sniff replaces the extension dispatch of
  ``extractor_factory.py:25-32`` (rows carry bytes, not filenames):
  ``%PDF-`` → pdf, PNG signature → image, else html.
- PDF path mirrors ``pdf_extractor.py:34-82``: per-page text joined by
  appending ``"\\n"`` after every page, OCR fallback when
  ``len(text.strip()) < 1000`` on the first ``min(5, pages)`` pages,
  error strings ``"Error extracting text: {e}"`` and
  ``"Error: No text could be extracted from the PDF"``.
- image path mirrors ``image_extractor.py:29-52``.
- html path is the new boilerplate-strip capability
  (``html_extract.extract_main_text``).

The reference's per-file timeout threads (pdf 120 s / image 30 s,
``pdf_extractor.py:62-73``) are replaced by a cooperative per-row
wall-clock budget checked between rows inside the Arrow batch — at
cluster scale the stragglers are additionally bounded by
``spark.task.maxFailures`` + speculative execution (SURVEY.md S6).
"""

from __future__ import annotations

from . import ocr
from .html_extract import extract_main_text
from .pdf_extract import parse_pdf_pages

DOCTYPE_PDF = 'pdf'
DOCTYPE_IMAGE = 'image'
DOCTYPE_HTML = 'html'

MAX_FILE_SIZE = 50 * 1024 * 1024  # reference app/core/config.py:39
OCR_TRIGGER_CHARS = 1000          # reference pdf_extractor.py:53
MAX_PAGES_FOR_OCR = 5             # reference config.py:49, pdf_extractor.py:88


def sniff_doctype(data: bytes) -> str:
    """Magic-byte dispatch (replaces extension dispatch,
    extractor_factory.py:25-32)."""
    if data.startswith(b'%PDF-'):
        return DOCTYPE_PDF
    if data.startswith(ocr.PNG_MAGIC):
        return DOCTYPE_IMAGE
    return DOCTYPE_HTML


def extract_pdf(data: bytes) -> str:
    """reference pdf_extractor.py:29-82 (deterministic path)."""
    try:
        pages = parse_pdf_pages(data)
        text = ''.join(page + '\n' for page in pages)  # :45 appends "\n" per page
        if len(text.strip()) < OCR_TRIGGER_CHARS:       # :53
            try:
                max_pages = min(MAX_PAGES_FOR_OCR, len(pages))  # :88
                for page_text in ocr.ocr_pdf_pages(data, max_pages):
                    text += page_text + '\n'            # :95
            except Exception:
                pass                                    # :96-97 logs and continues
    except Exception as e:
        return f"Error extracting text: {e}"            # :77
    if text.strip():
        return text                                     # :80
    return "Error: No text could be extracted from the PDF"  # :82


def extract_image(data: bytes) -> str:
    """reference image_extractor.py:29-52."""
    try:
        return ocr.ocr_image(data)
    except Exception as e:
        return f"Error extracting text: {e}"            # :50


def extract_html(data: bytes) -> str:
    """HTML main-content extraction (north-rule capability)."""
    try:
        text = extract_main_text(data.decode('utf-8', errors='replace'))
    except Exception as e:
        return f"Error extracting text: {e}"
    if text:
        return text
    return "Error: No text could be extracted from the document"


def extract_text(data: bytes) -> str:
    """Full dispatch: sniff + extract. Pure; never raises."""
    if data is None:
        return "Error: empty payload"
    if len(data) > MAX_FILE_SIZE:  # F1, reference document_processor.py:66-73
        return "Error: File too large"
    doctype = sniff_doctype(bytes(data))
    if doctype == DOCTYPE_PDF:
        return extract_pdf(bytes(data))
    if doctype == DOCTYPE_IMAGE:
        return extract_image(bytes(data))
    return extract_html(bytes(data))
