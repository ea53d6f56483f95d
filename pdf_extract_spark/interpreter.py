"""Content-stream interpreter: the reference's "physical plan executor".

Re-implements ``Processor::process_stream`` (/root/reference/src/lib.rs:
1576-1876) and ``show_text`` (lib.rs:1276-1327) over the pure-Python
pdfmini layer.  Affine matrices are 6-tuples (a,b,c,d,e,f) in PDF / euclid
row-major convention: point (x,y) -> (a·x + c·y + e, b·x + d·y + f).

Parity-sensitive behaviors replicated:
  * word spacing only for single-byte code 32 (lib.rs:1306-1312)
  * glyph advance tx = h_scale·((w0 − tj/1000)·fs + spacing) (lib.rs:1317)
  * TJ numeric adjust has NO spacing term (lib.rs:1664-1681)
  * Q on empty stack warns, does not raise (lib.rs:1783-1791)
  * unknown operators ignored (lib.rs:1870)
  * initial font_size is NaN (lib.rs:1587)
  * Do recursion uses the XObject's own Resources, falling back to the
    parent's (lib.rs:1860-1869); Image XObjects emit media events (our
    extension — the span data model's ``kind='media'``)
"""

from __future__ import annotations

import math

from .fonts import make_font
from .pdfmini.content import decode_content
from .pdfmini.objects import PdfString, Stream

IDENTITY = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


def mat_mul(m, n):
    """Row-vector composition: apply m, then n (euclid A.post_transform(B))."""
    a1, b1, c1, d1, e1, f1 = m
    a2, b2, c2, d2, e2, f2 = n
    return (
        a1 * a2 + b1 * c2,
        a1 * b2 + b1 * d2,
        c1 * a2 + d1 * c2,
        c1 * b2 + d1 * d2,
        e1 * a2 + f1 * c2 + e2,
        e1 * b2 + f1 * d2 + f2,
    )


def translate(tx, ty):
    return (1.0, 0.0, 0.0, 1.0, tx, ty)


def transform_vector(m, vx, vy):
    return (vx * m[0] + vy * m[2], vx * m[1] + vy * m[3])


def _num(v) -> float:
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        return 0.0
    return float(v)


class TextState:
    __slots__ = (
        "font", "font_size", "character_spacing", "word_spacing",
        "horizontal_scaling", "leading", "rise", "tm",
    )

    def __init__(self):
        self.font = None
        self.font_size = math.nan
        self.character_spacing = 0.0
        self.word_spacing = 0.0
        self.horizontal_scaling = 1.0
        self.leading = 0.0
        self.rise = 0.0
        self.tm = IDENTITY

    def clone(self):
        c = TextState.__new__(TextState)
        for s in TextState.__slots__:
            setattr(c, s, getattr(self, s))
        return c


class GraphicsState:
    __slots__ = ("ts", "ctm", "smask", "fill_colorspace", "stroke_colorspace")

    def __init__(self):
        self.ts = TextState()
        self.ctm = IDENTITY
        self.smask = None
        # parse-only colorspace layer (lib.rs:1269-1271); no text effect
        self.fill_colorspace = None
        self.stroke_colorspace = None

    def clone(self):
        c = GraphicsState.__new__(GraphicsState)
        c.ts = self.ts.clone()
        c.ctm = self.ctm
        c.smask = self.smask
        c.fill_colorspace = self.fill_colorspace
        c.stroke_colorspace = self.stroke_colorspace
        return c


class Processor:
    """One per document: the font cache is keyed by resource *name* and
    shared across pages, exactly like the reference (lib.rs:1571-1574)."""

    def __init__(self, doc):
        self.doc = doc
        self.font_table: dict[str, object] = {}

    def process_stream(self, content: bytes, resources: dict, media_box, output, depth=0):
        if depth > 12:
            return  # recursion bound for cyclic Do references
        doc = self.doc
        ops = decode_content(content)
        gs = GraphicsState()
        gs_stack: list[GraphicsState] = []
        tlm = IDENTITY
        path: list[tuple] = []
        current_point = (0.0, 0.0)

        for op, operands in ops:
            # dispatch ordered by frequency in text-heavy streams:
            # TJ/Tj/Td dominate, then state/matrix ops, then the rest
            if op == "TJ":
                if operands and isinstance(operands[0], list):
                    for e in operands[0]:
                        if isinstance(e, (PdfString, bytes)):
                            self._show_text(gs, bytes(e), output)
                        elif isinstance(e, (int, float)) and not isinstance(e, bool):
                            ts = gs.ts
                            tj = float(e)
                            tx = ts.horizontal_scaling * ((0.0 - tj / 1000.0) * ts.font_size)
                            ts.tm = mat_mul(translate(tx, 0.0), ts.tm)
            elif op == "Tj":
                if operands and isinstance(operands[0], (PdfString, bytes)):
                    self._show_text(gs, bytes(operands[0]), output)
            elif op == "Td":
                if len(operands) == 2:
                    tlm = mat_mul(translate(_num(operands[0]), _num(operands[1])), tlm)
                    gs.ts.tm = tlm
                    output.end_line()
            elif op in ("BT", "ET"):
                tlm = IDENTITY
                gs.ts.tm = tlm
            elif op == "cm":
                if len(operands) == 6:
                    m = tuple(_num(x) for x in operands)
                    gs.ctm = mat_mul(m, gs.ctm)
            elif op == "Tc":
                gs.ts.character_spacing = _num(operands[0]) if operands else 0.0
            elif op == "Tw":
                gs.ts.word_spacing = _num(operands[0]) if operands else 0.0
            elif op == "Tz":
                gs.ts.horizontal_scaling = (_num(operands[0]) if operands else 100.0) / 100.0
            elif op == "TL":
                gs.ts.leading = _num(operands[0]) if operands else 0.0
            elif op == "Tf":
                fonts = doc.deref(resources.get("Font")) or {}
                name = str(operands[0]) if operands else ""
                font = self.font_table.get(name)
                if font is None:
                    fdict = doc.deref(fonts.get(name))
                    if isinstance(fdict, dict):
                        font = make_font(doc, fdict)
                        self.font_table[name] = font
                gs.ts.font = font
                gs.ts.font_size = _num(operands[1]) if len(operands) > 1 else math.nan
            elif op == "Ts":
                gs.ts.rise = _num(operands[0]) if operands else 0.0
            elif op == "Tm":
                if len(operands) == 6:
                    tlm = tuple(_num(x) for x in operands)
                    gs.ts.tm = tlm
                    output.end_line()
            elif op == "TD":
                if len(operands) == 2:
                    ty = _num(operands[1])
                    gs.ts.leading = -ty
                    tlm = mat_mul(translate(_num(operands[0]), ty), tlm)
                    gs.ts.tm = tlm
                    output.end_line()
            elif op == "T*":
                tlm = mat_mul(translate(0.0, -gs.ts.leading), tlm)
                gs.ts.tm = tlm
                output.end_line()
            elif op == "q":
                gs_stack.append(gs.clone())
            elif op == "Q":
                if gs_stack:
                    gs = gs_stack.pop()
                # else: warn-only in the reference (lib.rs:1789)
            elif op == "gs":
                ext = doc.deref(resources.get("ExtGState"))
                if isinstance(ext, dict) and operands:
                    state = doc.deref(ext.get(str(operands[0])))
                    if isinstance(state, dict):
                        smask = doc.deref(state.get("SMask"))
                        gs.smask = None if smask in (None, "None") else smask
            elif op in ("m", "l", "c", "v", "y", "h", "re"):
                nums = [_num(x) for x in operands]
                if op == "m" and len(nums) >= 2:
                    path.append(("m", nums[0], nums[1]))
                    current_point = (nums[0], nums[1])
                elif op == "l" and len(nums) >= 2:
                    path.append(("l", nums[0], nums[1]))
                    current_point = (nums[0], nums[1])
                elif op == "c" and len(nums) >= 6:
                    path.append(("c", *nums[:6]))
                    current_point = (nums[4], nums[5])
                elif op == "v" and len(nums) >= 4:
                    # v completes the cubic from the current point
                    # (lib.rs:1812-1821)
                    cx, cy = current_point
                    path.append(("c", cx, cy, nums[0], nums[1], nums[2], nums[3]))
                    current_point = (nums[2], nums[3])
                elif op == "y" and len(nums) >= 4:
                    path.append(("c", nums[0], nums[1], nums[2], nums[3], nums[2], nums[3]))
                    current_point = (nums[2], nums[3])
                elif op == "h":
                    path.append(("h",))
                elif op == "re" and len(nums) >= 4:
                    path.append(("re", *nums[:4]))
                    current_point = (nums[0], nums[1])
            elif op == "S":
                stroke = getattr(output, "stroke", None)
                if stroke is not None:
                    stroke(gs.ctm, list(path))
                path = []
            elif op in ("F", "f"):
                fill = getattr(output, "fill", None)
                if fill is not None:
                    fill(gs.ctm, list(path))
                path = []
            elif op == "n":
                path = []
            elif op == "Do":
                xobjects = doc.deref(resources.get("XObject"))
                if not isinstance(xobjects, dict) or not operands:
                    continue
                name = str(operands[0])
                xf = doc.deref(xobjects.get(name))
                if not isinstance(xf, Stream):
                    continue
                subtype = str(doc.deref(xf.dict.get("Subtype")) or "")
                if subtype == "Image":
                    output.media(name)
                    continue
                sub_res = doc.deref(xf.dict.get("Resources"))
                if not isinstance(sub_res, dict):
                    sub_res = resources
                contents = doc.get_stream_content(xf)
                self.process_stream(contents, sub_res, media_box, output, depth + 1)
            elif op in ("CS", "cs"):
                # colorspace layer: parse-only, like the reference
                # (lib.rs:1633-1639 -> make_colorspace); a malformed
                # colorspace raises and surfaces as this doc's
                # decode_failure (the reference panics)
                if operands:
                    from .pdfmini.colorspace import make_colorspace

                    space = make_colorspace(doc, str(operands[0]), resources)
                    if op == "CS":
                        gs.stroke_colorspace = space
                    else:
                        gs.fill_colorspace = space
            # remaining path/color-value/clip/marked-content ops carry no
            # text semantics (lib.rs:1641-1655, 1798-1859); ignored like
            # unknown ops.

    def _show_text(self, gs: GraphicsState, s: bytes, output):
        ts = gs.ts
        font = ts.font
        if font is None:
            return
        output.begin_word()
        # Hot loop: maintain M = tm x ctm incrementally.  A text-space
        # translate T(tx,0) pre-composed into tm shifts M's translation by
        # (tx*Ma, tx*Mb) and leaves everything else unchanged, so per glyph
        # we do scalar float ops only — no tuple allocations.  trm =
        # tsm x M with tsm = (h,0,0,1,0,rise) expands to the closed form
        # below (same math as mat_mul(tsm, mat_mul(tm, ctm))).
        h = ts.horizontal_scaling
        rise = ts.rise
        fs = ts.font_size
        char_spacing = ts.character_spacing
        word_spacing = ts.word_spacing
        ma, mb, mc, md, me, mf = mat_mul(ts.tm, gs.ctm)
        ta, tb, tc, td, te, tf = ts.tm

        trans = getattr(font, "_trans", None)
        out_str = getattr(output, "output_string", None)
        if trans is not None and out_str is not None and s:
            # String-level path (single-byte fonts, string-capable device):
            # only the FIRST char's position feeds the whitespace
            # heuristics and only the LAST char's end feeds the next ones
            # (lib.rs:2161-2190), so per-char work collapses to a width
            # gather + one str.translate.  Typical shown strings are a few
            # chars (one word per Tj/TJ element), so the gather runs over a
            # plain width list rather than an array.
            w_list = font._w1000
            # closed form — no per-char Python loop: total advance =
            # h*(sum(w)*fs + cs*n + ws*#spaces), with sum/map/count all
            # C-level primitives
            last_code = s[-1]
            last_w0 = w_list[last_code]
            sum_w = sum(map(w_list.__getitem__, s))
            total = h * (sum_w * fs + char_spacing * len(s))
            if word_spacing:
                total += h * word_spacing * s.count(32)
            last_sp = char_spacing + (word_spacing if last_code == 32 else 0.0)
            cum_last = total - h * (last_w0 * fs + last_sp)
            out_str(
                (h * ma, h * mb, mc, md, rise * mc + me, rise * md + mf),
                s.decode("latin-1").translate(trans),
                last_w0,
                fs,
                cum_last * ma,
                cum_last * mb,
            )
            me += total * ma
            mf += total * mb
            te += total * ta
            tf += total * tb
            ts.tm = (ta, tb, tc, td, te, tf)
            output.end_word()
            return

        get_width = font.get_width
        decode_char = font.decode_char
        out_char = output.output_character
        for code, length in font.char_codes(s):
            w0 = get_width(code) / 1000.0
            spacing = char_spacing
            if code == 32 and length == 1:
                spacing += word_spacing
            out_char(
                (h * ma, h * mb, mc, md, rise * mc + me, rise * md + mf),
                w0,
                spacing,
                fs,
                decode_char(code),
            )
            tx = h * (w0 * fs + spacing)
            me += tx * ma
            mf += tx * mb
            te += tx * ta
            tf += tx * tb
        ts.tm = (ta, tb, tc, td, te, tf)
        output.end_word()


def output_page(doc, processor, page, page_num, output):
    """Interpret one page into ``output``: output_doc's per-page step,
    shared with the by-pages API so every path sets up a page alike."""
    resources = doc.get_inherited(page, "Resources")
    if not isinstance(resources, dict):
        resources = {}
    mb = doc.get_inherited(page, "MediaBox")
    if not isinstance(mb, list) or len(mb) != 4:
        raise ValueError("MediaBox required")  # reference panics here
    media_box = tuple(_num(doc.deref(v)) for v in mb)
    output.begin_page(page_num, media_box)
    content = doc.get_page_content(page)
    processor.process_stream(content, resources, media_box, output)
    output.end_page()


def output_doc(doc, output):
    """Page walk + per-page interpretation (output_doc, lib.rs:2374-2416)."""
    pages = doc.get_pages()
    processor = Processor(doc)
    for page_num, page in enumerate(pages, start=1):
        output_page(doc, processor, page, page_num, output)
    return len(pages)
