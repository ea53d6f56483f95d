"""HTML and SVG output devices — the reference's other two OutputDev
implementations, re-expressed over the same interpreter events.

HTMLDevice replicates ``HTMLOutput`` (/root/reference/src/lib.rs:1891-1993):
  * runs of characters whose trm matches the predicted advance accumulate
    into one absolutely-positioned <div> (flush_string, lib.rs:1931-1945)
  * the predicted trm is last_trm = translate(width*font_size + spacing, 0)
    pre-composed (lib.rs:1986)
  * leading / trailing / repeated spaces become &nbsp; (insert_nbsp,
    lib.rs:1900-1918)
  * a per-character red debug <div> is emitted alongside, as in the
    reference's output_character (lib.rs:1976-1984)

SVGDevice replicates ``SVGOutput`` (lib.rs:1995-2087): page <svg> elements
and <path> fills for vector paths (MoveTo/LineTo/CurveTo/Rect/Close).
"""

from __future__ import annotations

import math


def insert_nbsp(s: str) -> str:
    """lib.rs:1900-1918: a space becomes &nbsp; when it does not terminate
    a word (leading / repeated) or when only spaces follow."""
    out = []
    word_end = False
    n = len(s)
    for i, c in enumerate(s):
        if c == " ":
            # the reference peeks exactly ONE char ahead: a space whose
            # next char is missing or another space gets &nbsp;
            next_is_word = i + 1 < n and s[i + 1] != " "
            if not word_end or not next_is_word:
                out.append("&nbsp;")
            else:
                out.append(" ")
            word_end = False
        else:
            word_end = True
            out.append(c)
    return "".join(out)


def _fmt(v: float) -> str:
    """Rust's {} Display for f64 prints integral values without '.0' and
    non-finite ones as NaN, inf and -inf (rotated text has a NaN size)."""
    if math.isnan(v):
        return "NaN"
    if math.isinf(v):
        return "inf" if v > 0 else "-inf"
    if v == int(v) and abs(v) < 1e15:
        return str(int(v))
    return repr(v)


def _approx_eq(a, b, eps=1e-6):
    return all(abs(x - y) <= eps for x, y in zip(a, b))


class HTMLDevice:
    def __init__(self):
        self.parts: list[str] = []
        self.flip_h = 0.0
        self.last_trm = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
        self.buf = ""
        self.buf_trm = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
        self.buf_font_size = 0.0

    def begin_page(self, page_num: int, media_box):
        llx, lly, urx, ury = media_box
        self.flip_h = ury - lly
        self.parts.append("<meta charset='utf-8' /> ")
        self.parts.append(f"<!-- page {page_num} -->")
        self.parts.append(
            f"<div id='page{page_num}' style='position: relative; height: "
            f"{_fmt(ury - lly)}px; width: {_fmt(urx - llx)}px; "
            f"border: 1px black solid'>"
        )

    def end_page(self):
        self._flush()
        self.buf = ""
        self.last_trm = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
        self.parts.append("</div>")

    def _metrics(self, trm, font_size):
        a, b, c, d, e, f = trm
        vx = font_size * (a + c)
        vy = font_size * (b + d)
        prod = vx * vy
        tfs = math.sqrt(prod) if prod >= 0 else math.nan
        return e, self.flip_h - f, tfs

    def _flush(self):
        if self.buf:
            x, y, tfs = self._metrics(self.buf_trm, self.buf_font_size)
            self.parts.append(
                f"<div style='position: absolute; left: {_fmt(x)}px; "
                f"top: {_fmt(y)}px; font-size: {_fmt(tfs)}px'>"
                f"{insert_nbsp(self.buf)}</div>\n"
            )

    def output_character(self, trm, width, spacing, font_size, char: str):
        if _approx_eq(trm, self.last_trm):
            self.buf += char
        else:
            self._flush()
            self.buf = char
            self.buf_font_size = font_size
            self.buf_trm = trm
        x, y, tfs = self._metrics(trm, font_size)
        self.parts.append(
            f"<div style='position: absolute; color: red; left: {_fmt(x)}px; "
            f"top: {_fmt(y)}px; font-size: {_fmt(tfs)}px'>{char}</div>"
        )
        # predicted trm of the next char: translate(width*fs + spacing)
        tx = width * font_size + spacing
        a, b, c, d, e, f = trm
        self.last_trm = (a, b, c, d, tx * a + e, tx * b + f)

    def begin_word(self):
        pass

    def end_word(self):
        pass

    def end_line(self):
        pass

    def media(self, name: str):
        pass

    def finish(self) -> str:
        return "".join(self.parts)


class SVGDevice:
    def __init__(self):
        self.parts: list[str] = []
        self._open = False

    def begin_page(self, page_num: int, media_box):
        llx, lly, urx, ury = media_box
        self.parts.append(
            "<svg xmlns='http://www.w3.org/2000/svg' version='1.1' "
            f"width='{_fmt(urx - llx)}px' height='{_fmt(ury - lly)}px'>\n"
        )
        self._open = True

    def end_page(self):
        self.parts.append("</svg>")
        self._open = False

    def _path_d(self, ctm, path) -> str:
        a, b, c, d, e, f = ctm

        def pt(x, y):
            return f"{_fmt(x * a + y * c + e)} {_fmt(x * b + y * d + f)}"

        segs = []
        for op in path:
            if op[0] == "m":
                segs.append(f"M{pt(op[1], op[2])}")
            elif op[0] == "l":
                segs.append(f"L{pt(op[1], op[2])}")
            elif op[0] == "c":
                segs.append(f"C{pt(op[1], op[2])} {pt(op[3], op[4])} {pt(op[5], op[6])}")
            elif op[0] == "re":
                x, y, w, h = op[1:5]
                segs.append(
                    f"M{pt(x, y)} L{pt(x + w, y)} L{pt(x + w, y + h)} "
                    f"L{pt(x, y + h)} Z"
                )
            elif op[0] == "h":
                segs.append("Z")
        return " ".join(segs)

    def fill(self, ctm, path):
        self.parts.append(f"<path d='{self._path_d(ctm, path)}' />\n")

    def stroke(self, ctm, path):
        self.parts.append(
            f"<path d='{self._path_d(ctm, path)}' fill='none' stroke='black' />\n"
        )

    def output_character(self, trm, width, spacing, font_size, char):
        pass

    def begin_word(self):
        pass

    def end_word(self):
        pass

    def end_line(self):
        pass

    def media(self, name: str):
        pass

    def finish(self) -> str:
        return "".join(self.parts)
