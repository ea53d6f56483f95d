"""Top-level extraction API: PDF bytes -> ordered span array / plain text.

Mirrors the reference's public surface (extract_text_from_mem,
/root/reference/src/lib.rs:2259-2268; extract_text_by_pages, lib.rs:2295).
This module is deliberately Spark-free so it can be shipped to executors
via --py-files and invoked inside Arrow batches.
"""

from __future__ import annotations

import hashlib

from .device import PlainTextSpanDevice, span_dicts, spans_to_text
from .interpreter import Processor, output_doc, output_page
from .pdfmini.document import Document, EncryptedPdfError, PdfError, load_mem

__all__ = [
    "extract_spans_from_mem",
    "extract_text_from_mem",
    "extract_spans_by_pages",
    "ExtractResult",
    "EncryptedPdfError",
    "PdfError",
]


class ExtractResult:
    __slots__ = ("spans", "pages", "error")

    def __init__(self, spans, pages, error):
        self.spans = spans
        self.pages = pages
        self.error = error


def error_string(e: Exception) -> str:
    """The per-document error tag every extraction stage records:
    ``"<Type>: <message>"``."""
    return f"{type(e).__name__}: {e}"


def extract_spans_flat_from_mem(data: bytes):
    """Parse + interpret one PDF; returns (kinds, texts, media_refs,
    offsets, pages, error) — the four span lists the Arrow boundary ships,
    no per-span dicts.  Never raises — failures are data (decode_failures
    metric), matching the pipeline's skip-not-crash contract (reference
    records Err, lib.rs:2230-2244)."""
    try:
        doc = load_mem(data)
        device = PlainTextSpanDevice()
        pages = output_doc(doc, device)
        kinds, texts, media_refs, offsets = device.finish_flat()
        return kinds, texts, media_refs, offsets, pages, None
    except Exception as e:  # noqa: BLE001 — per-doc fault isolation
        return [], [], [], [], 0, error_string(e)


def extract_spans_from_mem(data: bytes) -> ExtractResult:
    """Dict view of extract_spans_flat_from_mem; never raises."""
    *flat, pages, error = extract_spans_flat_from_mem(data)
    return ExtractResult(span_dicts(*flat), pages, error)


def extract_text_from_mem(data: bytes) -> str:
    """bytes -> plain text (extract_text_from_mem, lib.rs:2259-2268).
    Raises on parse failure like the reference's Err."""
    doc = load_mem(data)
    device = PlainTextSpanDevice()
    output_doc(doc, device)
    return spans_to_text(device.finish())


def extract_text_from_mem_encrypted(data: bytes, password: str | bytes) -> str:
    """Password variant (extract_text_from_mem_encrypted, lib.rs:2270-2281)."""
    pw = password.encode("latin-1") if isinstance(password, str) else password
    doc = Document(data, password=pw)
    device = PlainTextSpanDevice()
    output_doc(doc, device)
    return spans_to_text(device.finish())


def _page_spans(doc, page, page_num: int) -> list[dict]:
    """One page on a fresh device + Processor — by-pages semantics
    (extract_text_by_pages, lib.rs:2295-2307: fresh Processor per page,
    lib.rs:2396), with output_doc's page setup."""
    device = PlainTextSpanDevice()
    output_page(doc, Processor(doc), page, page_num, device)
    return device.finish()


def extract_spans_page_range(data: bytes, lo: int, hi: int) -> list[tuple[int, list[dict]]]:
    """Extract pages lo..hi (1-based, inclusive), each by-pages.  Used by
    the page-exploded path for giant documents."""
    doc = load_mem(data)
    pages = doc.get_pages()
    return [
        (n, _page_spans(doc, pages[n - 1], n))
        for n in range(lo, min(hi, len(pages)) + 1)
    ]


def page_count_of(data: bytes) -> int:
    """Cheap page count (xref + page tree only; no content interpretation)."""
    return len(load_mem(data).get_pages())


def doc_metadata(data: bytes) -> dict:
    """Document metadata (print_metadata, lib.rs:2203-2216): version, page
    count, and the Info dictionary's common string fields."""
    from .encodings_data import pdf_to_utf8
    from .pdfmini.objects import PdfString

    doc = load_mem(data)
    info = doc.info()
    out = {"version": doc.version(), "page_count": doc.page_count()}
    for k in ("Title", "Author", "Subject", "Producer", "Creator"):
        v = doc.deref(info.get(k))
        out[k.lower()] = pdf_to_utf8(bytes(v)) if isinstance(v, PdfString) else None
    return out


def extract_html_from_mem(data: bytes) -> str:
    """bytes -> positioned-div HTML (HTMLOutput parity, lib.rs:1891-1993)."""
    from .devices_html import HTMLDevice

    doc = load_mem(data)
    device = HTMLDevice()
    output_doc(doc, device)
    return device.finish()


def extract_svg_from_mem(data: bytes) -> str:
    """bytes -> per-page SVG with vector-path fills (SVGOutput parity,
    lib.rs:1995-2087)."""
    from .devices_html import SVGDevice

    doc = load_mem(data)
    device = SVGDevice()
    output_doc(doc, device)
    return device.finish()


def render_digest(render, data: bytes):
    """``(len, md5, error)`` of one output device's markup for one document
    (``render`` is ``extract_html_from_mem`` or ``extract_svg_from_mem``);
    a device failure is NULL len/md5 and its tagged error."""
    try:
        out = render(data)
    except Exception as e:  # noqa: BLE001 - one tagged error row per document
        return None, None, error_string(e)
    return len(out), hashlib.md5(out.encode()).hexdigest(), None


def extract_spans_by_pages(data: bytes) -> list[list[dict]]:
    """Per-page span arrays (extract_text_by_pages, lib.rs:2295-2307).
    Parity quirk: the reference builds a fresh Processor per page
    (lib.rs:2396) so the font cache is not shared — output-identical,
    only a perf difference; we share one Document but fresh state."""
    doc = load_mem(data)
    return [
        _page_spans(doc, page, n)
        for n, page in enumerate(doc.get_pages(), start=1)
    ]
