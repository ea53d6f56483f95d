"""HTML main-content extraction: boilerplate strip via DOM text-density
heuristics — the HTML half of the north rule's "main-content extraction
pipeline (HTML boilerplate strip, PDF/layout parse, DOM heuristics)".

The single-doc kernel is a boilerpipe/readability-style block classifier
built only on the stdlib ``html.parser`` (no lxml/bs4 in this container):

1. Parse into a lightweight element tree; script/style/noscript/template/
   svg/iframe subtrees contribute no text.
2. HARD-DROP subtrees by role: tags nav/header/footer/aside/form, or any
   element whose id/class matches the boilerplate vocabulary
   (nav|menu|sidebar|footer|header|banner|breadcrumb|comment|share|social|
   ad|ads|advert|promo|related|widget|cookie|popup) as a whole word.
3. Candidate blocks = p, h1-h6, li, pre, blockquote, td, figcaption, and
   div/article/section/main elements holding DIRECT text (not just text in
   block children — those are scored as their own blocks).
4. Score each block: chars = length of whitespace-normalized text,
   link_density = chars inside <a> / chars.
5. KEEP a block when chars >= 25 and link_density <= 0.33 (body text), or
   when it is a heading (h1-h6) with chars >= 8 and link_density < 0.5 —
   the classic density rule: boilerplate is short and link-heavy, content
   is long and link-light.
6. <img>/<video>/<audio> inline in a KEPT block become MEDIA spans
   (media_ref = src, text = alt or ""); media inside a <figure> in the
   main flow is emitted unconditionally (a figure is content even without
   a caption), with figures acting as boundaries so a span is never
   emitted twice.

Output per doc: ordered spans (kind: text|heading|media, text, media_ref,
offset) with offset the running character offset (len(text)+1 per span) —
the same interleaved text+media span shape as the PDF extraction path, so
both sources land in one Iceberg spans table.

Spark-side: one per-document Arrow stage (``map_documents``; per-doc CPU
work, zero shuffles), hash-spread over cores exactly like the PDF kernel.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type

from .operators.extraction import SPANS_ARROW, map_documents

_BOILER_TAGS = {"nav", "header", "footer", "aside", "form"}
_SKIP_TAGS = {"script", "style", "noscript", "template", "svg", "iframe"}
_BLOCK_TAGS = {
    "p", "h1", "h2", "h3", "h4", "h5", "h6", "li", "pre", "blockquote",
    "td", "figcaption", "div", "article", "section", "main",
}
_HEADINGS = {"h1", "h2", "h3", "h4", "h5", "h6"}
_MEDIA_TAGS = {"img", "video", "audio"}
_VOID_TAGS = {
    "area", "base", "br", "col", "embed", "hr", "img", "input", "link",
    "meta", "param", "source", "track", "wbr",
}
_BOILER_VOCAB = re.compile(
    r"(?:^|[\s_\-])(?:nav|menu|sidebar|footer|header|banner|breadcrumb|"
    r"comment|comments|share|social|ad|ads|advert|promo|related|widget|"
    r"cookie|popup)(?:$|[\s_\-])",
    re.IGNORECASE,
)

MIN_TEXT_CHARS = 25
MAX_LINK_DENSITY = 0.33
MIN_HEADING_CHARS = 8
MAX_HEADING_LINK_DENSITY = 0.5


class _Node:
    __slots__ = ("tag", "attrs", "children", "boiler", "pos")

    def __init__(self, tag: str, attrs: dict, boiler: bool, pos: int):
        self.tag = tag
        self.attrs = attrs
        self.children: list = []  # _Node | str (text) | tuple media
        self.boiler = boiler
        self.pos = pos


def _is_boiler(tag: str, attrs: dict) -> bool:
    if tag in _BOILER_TAGS:
        return True
    blob = f"{attrs.get('id', '')} {attrs.get('class', '')}"
    return bool(blob.strip()) and bool(_BOILER_VOCAB.search(blob))


class _TreeBuilder(HTMLParser):
    """Tolerant tree builder: unclosed tags close implicitly when an
    enclosing tag closes (stack scan), stray end tags are ignored."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = _Node("#root", {}, False, 0)
        self.stack = [self.root]
        self.skip_depth = 0
        self.counter = 0

    def handle_starttag(self, tag, attrs):
        if self.skip_depth:
            if tag in _SKIP_TAGS:
                self.skip_depth += 1
            return
        if tag in _SKIP_TAGS:
            self.skip_depth = 1
            return
        self.counter += 1
        ad = dict(attrs)
        if tag in _MEDIA_TAGS:
            node = _Node(tag, ad, False, self.counter)
            self.stack[-1].children.append(node)
            if tag not in _VOID_TAGS:
                self.stack.append(node)
            return
        node = _Node(tag, ad, _is_boiler(tag, ad), self.counter)
        self.stack[-1].children.append(node)
        if tag not in _VOID_TAGS:
            self.stack.append(node)

    def handle_startendtag(self, tag, attrs):
        if self.skip_depth:
            return
        self.counter += 1
        self.stack[-1].children.append(_Node(tag, dict(attrs), False, self.counter))

    def handle_endtag(self, tag):
        if self.skip_depth:
            if tag in _SKIP_TAGS:
                self.skip_depth -= 1
            return
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return
        # stray end tag: ignore

    def handle_data(self, data):
        if self.skip_depth or not data:
            return
        self.stack[-1].children.append(data)


def _norm(s: str) -> str:
    return re.sub(r"\s+", " ", s).strip()


def _block_text(node: _Node, in_link: bool = False) -> tuple[str, int, int]:
    """(raw_text, chars, link_chars) over the INLINE content of a block:
    block-element children (and figures, which are their own unit) are
    excluded — they are scored/emitted separately."""
    parts: list[str] = []
    chars = 0
    link_chars = 0
    for ch in node.children:
        if isinstance(ch, str):
            parts.append(ch)
            n = len(_norm(ch))
            chars += n
            if in_link:
                link_chars += n
        elif isinstance(ch, _Node):
            if (
                ch.tag in _BLOCK_TAGS or ch.boiler or ch.tag in _MEDIA_TAGS
                or ch.tag == "figure"
            ):
                continue
            t, c, lc = _block_text(ch, in_link or ch.tag == "a")
            parts.append(t)
            chars += c
            link_chars += lc
    return " ".join(parts), chars, link_chars


def _block_media(node: _Node) -> list[tuple[int, str, str]]:
    """(pos, src, alt) media refs in the INLINE content of a block.
    Figures are a boundary: their media is emitted by _walk's figure
    branch (emitting it here too would duplicate the span)."""
    out: list[tuple[int, str, str]] = []
    for ch in node.children:
        if isinstance(ch, _Node):
            if ch.tag in _MEDIA_TAGS:
                src = ch.attrs.get("src", "")
                if src:
                    out.append((ch.pos, src, _norm(ch.attrs.get("alt", ""))))
            elif ch.tag not in _BLOCK_TAGS and not ch.boiler and ch.tag != "figure":
                out.extend(_block_media(ch))
    return out


def _keep(tag: str, chars: int, link_chars: int) -> bool:
    if chars == 0:
        return False
    density = link_chars / chars
    if tag in _HEADINGS:
        return chars >= MIN_HEADING_CHARS and density < MAX_HEADING_LINK_DENSITY
    return chars >= MIN_TEXT_CHARS and density <= MAX_LINK_DENSITY


def _walk(node: _Node, out: list[tuple[int, str, str, str]]):
    """Emit (pos, kind, text, media_ref) for kept blocks, document order."""
    for ch in node.children:
        if not isinstance(ch, _Node) or ch.boiler or ch.tag in _SKIP_TAGS:
            continue
        if ch.tag == "figure":
            # figure media is emitted unconditionally (a figure in the
            # main flow is content even without a caption); its
            # figcaption/nested blocks score as their own blocks below
            for pos, src, alt in _block_media(ch):
                out.append((pos, "media", alt, src))
            _walk(ch, out)
            continue
        if ch.tag in _BLOCK_TAGS:
            text, chars, lc = _block_text(ch)
            if _keep(ch.tag, chars, lc):
                kind = "heading" if ch.tag in _HEADINGS else "text"
                out.append((ch.pos, kind, _norm(text), ""))
                for pos, src, alt in _block_media(ch):
                    out.append((pos, "media", alt, src))
        _walk(ch, out)


def extract_main_spans(html: str) -> list[tuple[str, str, str, int]]:
    """Single-doc kernel: HTML -> ordered (kind, text, media_ref, offset)."""
    builder = _TreeBuilder()
    builder.feed(html)
    builder.close()
    raw: list[tuple[int, str, str, str]] = []
    _walk(builder.root, raw)
    raw.sort(key=lambda r: r[0])
    spans: list[tuple[str, str, str, int]] = []
    offset = 0
    for _pos, kind, text, ref in raw:
        spans.append((kind, text, ref, offset))
        offset += len(text) + 1
    return spans


def _main_content_kernel(doc_id, html):
    if isinstance(html, bytes):
        html = html.decode("utf-8", "replace")
    try:
        spans = extract_main_spans(str(html))
    except Exception:  # noqa: BLE001 - a malformed doc yields zero spans
        spans = []
    yield doc_id, len(spans), spans


def extract_main_content(
    raw: DataFrame,
    html_col: str = "html",
    num_partitions: int | None = None,
) -> DataFrame:
    """(doc_id, html) -> (doc_id, n_spans, spans) via one per-document
    Arrow stage (``map_documents``).  Same skew discipline as the PDF path:
    hash-spread on doc_id before the CPU stage; a malformed doc yields zero
    spans, never a task failure."""
    spark = raw.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    schema = pa.schema([
        ("doc_id", to_arrow_type(raw.schema["doc_id"].dataType)),
        ("n_spans", pa.int64()),
        ("spans", SPANS_ARROW),
    ])
    docs = raw.repartition(num_partitions, F.xxhash64("doc_id")).select("doc_id", html_col)
    return map_documents(docs, _main_content_kernel, schema)
