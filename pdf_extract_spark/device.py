"""Output devices: the reference's OutputDev surface (lib.rs:1879-1888)
re-expressed as span-array producers for the Iceberg table shape

    documents_spans(doc_id, spans: array<struct<kind,text,media_ref,offset>>)

``PlainTextSpanDevice`` replicates ``PlainTextOutput`` byte-for-byte
(/root/reference/src/lib.rs:2131-2200): ALL whitespace comes from the
positional heuristics —
    newline  if |y − last_y| > tfs·1.5
    newline  if x < last_end and |y − last_y| > tfs·0.5   (both can fire)
    space    if x > last_end + tfs·0.1
gated on the first char of each shown string (begin_word, lib.rs:2191-2194),
with tfs = sqrt(vx·vy) of the trm-transformed (fs, fs) vector — NaN when the
product is negative (rotated text), which disables every comparison exactly
like Rust's NaN ordering.  Initial state last_end=100000, last_y=0
(lib.rs:2140-2147).

Span derivation: the emitted character stream is split at inserted
newlines; each segment becomes one span — kind='text' when non-empty,
kind='para' for an empty segment (a blank line, i.e. both newline rules
fired).  Image XObjects insert kind='media' spans carrying the resource
name in media_ref.  ``spans_to_text`` inverts this exactly:
'\n'.join over non-media span texts == the reference's extract_to_string.
"""

from __future__ import annotations

import math


class PlainTextSpanDevice:
    """Spans accumulate as four PARALLEL flat lists (kind/text/media_ref/
    offset) — one dict per span costs ~100 bytes + 4 hash lookups at read
    time, and at 10^6 spans/sec that allocation traffic is what saturates
    the memory bus at high core counts.  finish() materializes the dict
    view for the library API; finish_flat() hands the lists straight to
    the Arrow boundary."""

    def __init__(self):
        self._kinds: list[str] = []
        self._texts: list[str] = []
        self._media_refs: list[str] = []
        self._offsets: list[int] = []
        self._line: list[str] = []
        self._offset = 0          # running char offset in the plain text
        self._line_start = 0
        self.last_end = 100000.0
        self.last_y = 0.0
        self.first_char = False
        self._flip_h = 0.0
        self.flip_ctm = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)

    # -- OutputDev surface ---------------------------------------------------

    def begin_page(self, page_num: int, media_box):
        llx, lly, urx, ury = media_box
        self._flip_h = ury - lly
        self.flip_ctm = (1.0, 0.0, 0.0, -1.0, 0.0, self._flip_h)

    def end_page(self):
        pass

    def begin_word(self):
        self.first_char = True

    def end_word(self):
        pass

    def end_line(self):
        pass  # no-op in plain text (lib.rs:2195-2199)

    def output_character(self, trm, width: float, _spacing: float, font_size: float, char: str):
        self.output_string(trm, char, width, font_size, 0.0, 0.0)

    def output_string(self, trm, text: str, last_w0: float, font_size: float,
                      dx_last: float, dy_last: float):
        """One shown string: the heuristics fire on its first char only
        (begin_word gate), last_end/last_y take its LAST char's position
        (dx_last/dy_last from the first, advance last_w0).
        output_character is the one-char case."""
        # scalar expansion of mat_mul(trm, flip_ctm) with
        # flip_ctm = (1,0,0,-1,0,H): position = (e, H - f); the tfs vector
        # uses trm's linear part only (transform_vector semantics)
        a, b, c, d, e, f = trm
        vx = font_size * (a + c)
        vy = font_size * (b + d)
        prod = vx * vy
        tfs = math.sqrt(prod) if prod >= 0 else math.nan
        x = e
        y = self._flip_h - f
        if self.first_char:
            if abs(y - self.last_y) > tfs * 1.5:
                self._newline()
            if x < self.last_end and abs(y - self.last_y) > tfs * 0.5:
                self._newline()
            if x > self.last_end + tfs * 0.1:
                self._write(" ")
        self._write(text)
        self.first_char = False
        self.last_y = self._flip_h - (f + dy_last)
        self.last_end = (x + dx_last) + last_w0 * tfs

    def media(self, name: str):
        self._kinds.append("media")
        self._texts.append("")
        self._media_refs.append(name)
        self._offsets.append(self._offset)

    # -- span assembly ---------------------------------------------------------

    def _write(self, s: str):
        if s:
            self._line.append(s)
            self._offset += len(s)

    def _newline(self):
        text = "".join(self._line)
        self._kinds.append("text" if text else "para")
        self._texts.append(text)
        self._media_refs.append("")
        self._offsets.append(self._line_start)
        self._offset += 1  # the newline itself
        self._line = []
        self._line_start = self._offset

    def finish_flat(self) -> tuple[list[str], list[str], list[str], list[int]]:
        """Close the trailing line; return (kinds, texts, media_refs,
        offsets) in document order."""
        if self._line or (self._kinds and self._offset > self._line_start):
            text = "".join(self._line)
            self._kinds.append("text" if text else "para")
            self._texts.append(text)
            self._media_refs.append("")
            self._offsets.append(self._line_start)
            self._line = []
            self._line_start = self._offset
        # Document order == offset order: a media span emitted mid-line was
        # appended before its surrounding text span closed; a stable sort by
        # offset restores the true order (rare: only when media spans exist
        # and arrive out of order).
        offs = self._offsets
        if any(offs[i] > offs[i + 1] for i in range(len(offs) - 1)):
            order = sorted(range(len(offs)), key=offs.__getitem__)
            self._kinds = [self._kinds[i] for i in order]
            self._texts = [self._texts[i] for i in order]
            self._media_refs = [self._media_refs[i] for i in order]
            self._offsets = [offs[i] for i in order]
        return self._kinds, self._texts, self._media_refs, self._offsets

    def finish(self) -> list[dict]:
        """Dict view of finish_flat() — the library-facing span API."""
        return span_dicts(*self.finish_flat())


def span_dicts(kinds, texts, media_refs, offsets) -> list[dict]:
    """The four flat span lists as span dicts, in order."""
    return [
        {"kind": k, "text": t, "media_ref": m, "offset": o}
        for k, t, m, o in zip(kinds, texts, media_refs, offsets)
    ]


def spans_to_text(spans: list[dict]) -> str:
    """Reducer: span array -> the reference's extract_to_string output.
    Media spans are positional markers and contribute no characters."""
    return "\n".join(s["text"] for s in spans if s["kind"] != "media")
