"""Font decode layer: SimpleFont / Type3Font / CIDFont + CMap parsing.

From-scratch Python implementation of the reference's font semantics:
  * make_font dispatch            (/root/reference/src/lib.rs:322-332)
  * PdfSimpleFont::new            (lib.rs:374-659) — encoding resolution
    order: named / dict(BaseEncoding+Differences) / TrueType->WinAnsi;
    widths from FirstChar/LastChar/Widths else core-font AFM metrics
    (matched against BaseFont only — the reference's Helvetica fallback
    name is computed but never used for the metrics match, lib.rs:586-608;
    we replicate that behavior for parity).
  * PdfType3Font::new             (lib.rs:693-765) — widths required;
    get_width raises on a missing code (lib.rs:860-867).
  * PdfCIDFont::new               (lib.rs:972-1038) — Identity-H/V or
    embedded CMap codespaces; DW default 1000; the W range-form quirk
    (lib.rs:1026-1028 reads w[i] for first/last/width, so range entries
    are silently dropped) is replicated.
  * ToUnicode CMap parsing        (lib.rs:920-968) — bfchar/bfrange,
    UTF-16BE values, lone-surrogate entries skipped.  CMaps are read with
    the content-stream tokenizer (pdfmini.content.decode_content), and
    bfrange expansion is bounded (MAX_BFRANGE_CODES).
  * decode_char chains            (lib.rs:826-848, 876-898, 1081-1089) —
    incl. the CID silent-empty-string fallback.
"""

from __future__ import annotations

from .corefonts import is_core_font, metrics
from .encodings_data import (
    PDF_DOC_ENCODING,
    encoding_to_unicode_table,
    name_to_unicode,
    pdf_to_utf8,
    to_utf8,
    zapfdigbats_names_to_unicode,
)
from .pdfmini.content import decode_content
from .pdfmini.objects import Name, PdfString, Stream

# --------------------------------------------------------------------------
# CMap parsing (replaces the adobe-cmap-parser crate).  A CMap is a postfix
# program, so it is read with the content-stream tokenizer: a section's body
# is the operand list flushed by the operator after its begin<section>.
# --------------------------------------------------------------------------

# Bound on the codes all bfranges of one CMap may expand to: twice the 2-byte
# code space.  A 1-byte destination is never incremented, so a ~60-byte
# `<00000000> <FFFFFFFF> <41>` range would otherwise build 2^32 entries.
MAX_BFRANGE_CODES = 131072


def _cmap_sections(data: bytes):
    """(section, body) per `begin<section>` keyword.  The body is flushed by
    the next operator: `end<section>`, or whatever follows if it is missing."""
    ops = decode_content(data)
    for (op, _), (_, body) in zip(ops, ops[1:]):
        if op.startswith("begin"):
            yield op[5:], body


def _entries(body: list, width: int, keys: int):
    """Consecutive `width`-tuples of a section body, up to the first whose
    leading `keys` items are not strings."""
    for i in range(0, len(body) - width + 1, width):
        entry = body[i : i + width]
        if not all(isinstance(x, PdfString) for x in entry[:keys]):
            return
        yield entry


def _code(s: bytes) -> int:
    return int.from_bytes(s, "big")


def _cid(d) -> int:
    return d if type(d) is int else 0  # not bool, not float


def parse_tounicode_cmap(data: bytes) -> dict[int, str]:
    """bfchar/bfrange -> {code: unicode string} (lib.rs:929,936-953).

    Values are UTF-16BE; entries that are a single lone surrogate are
    skipped, mirroring lib.rs:942-948."""
    raw: dict[int, bytes] = {}
    expanded = 0
    for section, body in _cmap_sections(data):
        if section == "bfchar":
            for src, dst in _entries(body, 2, 1):
                if isinstance(dst, PdfString):
                    raw[_code(src)] = dst
        elif section == "bfrange":
            for lo, hi, dst in _entries(body, 3, 2):
                lo, hi = _code(lo), _code(hi)
                if isinstance(dst, PdfString):
                    # the last two bytes count up; a 1-byte value repeats
                    head, tail = dst[:-2], _code(dst[-2:])
                    for k in range(hi - lo + 1):
                        expanded += 1
                        if expanded > MAX_BFRANGE_CODES:
                            raise ValueError(
                                f"bfranges expand past {MAX_BFRANGE_CODES} codes"
                            )
                        raw[lo + k] = (
                            head + (tail + k).to_bytes(2, "big") if len(dst) >= 2 else dst
                        )
                elif isinstance(dst, list):
                    for k, d in enumerate(dst):
                        if isinstance(d, PdfString):
                            raw[lo + k] = d
    out: dict[int, str] = {}
    for k, v in raw.items():
        if len(v) % 2:
            v = v + b"\x00"
        units = [int.from_bytes(v[j : j + 2], "big") for j in range(0, len(v), 2)]
        if len(units) == 1 and 0xD800 <= units[0] <= 0xDFFF:
            continue  # lone surrogate: skipped (lib.rs:942-948)
        try:
            out[k] = v.decode("utf-16-be")
        except UnicodeDecodeError:
            out[k] = "".join(chr(u) if not 0xD800 <= u <= 0xDFFF else "" for u in units)
    return out


def parse_byte_mapping(data: bytes):
    """codespacerange + cidrange/cidchar -> (codespace, cidranges)
    (replaces adobe_cmap_parser::get_byte_mapping, used at lib.rs:992)."""
    codespace: list[tuple[int, int, int]] = []  # (width, start, end)
    cids: list[tuple[int, int, int]] = []  # (src_lo, src_hi, dst_lo)
    for section, body in _cmap_sections(data):
        if section == "codespacerange":
            codespace += [(len(lo), _code(lo), _code(hi)) for lo, hi in _entries(body, 2, 2)]
        elif section == "cidrange":
            cids += [(_code(lo), _code(hi), _cid(d)) for lo, hi, d in _entries(body, 3, 2)]
        elif section == "cidchar":
            cids += [(_code(s), _code(s), _cid(d)) for s, d in _entries(body, 2, 1)]
    if not codespace:
        codespace = [(2, 0, 0xFFFF)]
    return codespace, cids


def get_unicode_map(doc, font: dict) -> dict[int, str] | None:
    to_unicode = doc.deref(font.get("ToUnicode"))
    if isinstance(to_unicode, Stream):
        return parse_tounicode_cmap(doc.get_stream_content(to_unicode))
    if isinstance(to_unicode, (Name, str)) and to_unicode is not None:
        return None  # Identity-H name accepted, yields no map (lib.rs:959-964)
    return None


# --------------------------------------------------------------------------
# Fonts
# --------------------------------------------------------------------------


class MissingWidthError(Exception):
    """Type3 missing width — the reference panics (lib.rs:860-867); we raise
    and the extraction driver records a decode_failure for the document."""


def _font_file3_unicode_map(doc, font: dict) -> dict[int, str] | None:
    """Embedded CFF/Type1C (FontFile3) -> {code: str} unicode map
    (lib.rs:406-442 via the cff-parser crate): code->SID through the
    font's encoding+charset, SID->name, name->unicode (AGL, then
    ZapfDingbats names), .notdef and unresolvable names dropped."""
    descriptor = doc.deref(font.get("FontDescriptor"))
    if not isinstance(descriptor, dict) or "FontFile3" not in descriptor:
        return None
    from .pdfmini.objects import Stream as _Stream

    ff3 = doc.deref(descriptor.get("FontFile3"))
    if not isinstance(ff3, _Stream):
        return None
    if _name_str(doc.deref(ff3.dict.get("Subtype"))) != "Type1C":
        return None
    from .pdfmini.cff import type1c_unicode_map

    try:
        return type1c_unicode_map(doc.get_stream_content(ff3))
    except Exception:
        return None


def _resolve_encoding_and_widths(doc, font: dict, base_table_default,
                                 check_font_file3: bool = False):
    """Shared Encoding-dict resolution: BaseEncoding + Differences
    (lib.rs:469-543 for simple fonts, 700-737 for Type3)."""
    encoding = doc.deref(font.get("Encoding"))
    base_name = _name_str(doc.deref(font.get("BaseFont")))
    unicode_map = get_unicode_map(doc, font)
    if check_font_file3:
        cff_map = _font_file3_unicode_map(doc, font)
        if cff_map is not None:
            # ToUnicode entries override the CFF-derived ones
            # (unicode_map.extend(...), lib.rs:452-458)
            merged = dict(cff_map)
            if unicode_map:
                merged.update(unicode_map)
            unicode_map = merged
    table = None
    if isinstance(encoding, (Name, str)) and not isinstance(encoding, dict):
        table = encoding_to_unicode_table(str(encoding))
    elif isinstance(encoding, dict):
        base = doc.deref(encoding.get("BaseEncoding"))
        if base is not None:
            table = encoding_to_unicode_table(str(base))
        else:
            table = list(base_table_default)
        differences = doc.deref(encoding.get("Differences"))
        if isinstance(differences, list):
            code = 0
            for o in differences:
                o = doc.deref(o)
                if isinstance(o, (int, float)) and not isinstance(o, bool):
                    code = int(o)
                elif isinstance(o, (Name, str)):
                    gname = str(o)
                    uni = name_to_unicode(gname)
                    if uni is not None:
                        if 0 <= code < 256:
                            table[code] = uni
                        if unicode_map is not None:
                            existing = unicode_map.get(code)
                            if existing is None:
                                unicode_map[code] = chr(uni)
                            elif existing != chr(uni):
                                # Differences<->ToUnicode reconciliation
                                # (lib.rs:497-506): keep the ToUnicode
                                # entry; warn only when the two are not
                                # NFKC-equivalent (e.g. 'fi' ligature vs
                                # "fi")
                                import logging
                                import unicodedata

                                if unicodedata.normalize(
                                    "NFKC", existing
                                ) != unicodedata.normalize("NFKC", chr(uni)):
                                    logging.getLogger(__name__).warning(
                                        "Unicode mismatch %s %r vs %r",
                                        gname, existing, chr(uni),
                                    )
                    elif unicode_map is not None and "FontAwesome" in base_name:
                        # issue #76 parity (lib.rs:509-518)
                        unicode_map.setdefault(code, "")
                    code += 1
    return encoding, table, unicode_map


def _name_str(v) -> str:
    if v is None:
        return ""
    return str(v)


class SimpleFont:
    kind = "simple"

    def __init__(self, doc, font: dict):
        base_name = _name_str(doc.deref(font.get("BaseFont")))
        subtype = _name_str(doc.deref(font.get("Subtype")))
        encoding_obj, table, unicode_map = _resolve_encoding_and_widths(
            doc, font, PDF_DOC_ENCODING, check_font_file3=True
        )
        if table is None and encoding_obj is None:
            # No /Encoding: Type1 builtin encoding comes from the embedded
            # font program's cleartext /Encoding section (replacing the
            # type1-encoding-parser crate, lib.rs:386-395, applied at
            # lib.rs:546-556 over a PDFDocEncoding base); TrueType defaults
            # to WinAnsi (lib.rs:557-561).
            descriptor = doc.deref(font.get("FontDescriptor"))
            if subtype == "TrueType":
                table = encoding_to_unicode_table("WinAnsiEncoding")
            elif subtype == "Type1" and isinstance(descriptor, dict) and "FontFile" in descriptor:
                from .pdfmini.objects import Stream as _Stream
                from .pdfmini.type1 import get_encoding_map

                ff = doc.deref(descriptor.get("FontFile"))
                t1map = None
                if isinstance(ff, _Stream):
                    try:
                        t1map = get_encoding_map(doc.get_stream_content(ff))
                    except Exception:
                        t1map = None
                if t1map:
                    table = list(PDF_DOC_ENCODING)
                    for code, gname in t1map.items():
                        uni = name_to_unicode(gname)
                        if uni is not None:
                            table[code] = uni
                else:
                    table = encoding_to_unicode_table("StandardEncoding")

        widths: dict[int, float] = {}
        first = doc.deref(font.get("FirstChar"))
        last = doc.deref(font.get("LastChar"))
        warr = doc.deref(font.get("Widths"))
        if isinstance(first, int) and isinstance(last, int) and isinstance(warr, list):
            for i, w in enumerate(warr):
                w = doc.deref(w)
                widths[first + i] = float(w) if isinstance(w, (int, float)) else 0.0
        else:
            # Core-font AFM metrics, matched against BaseFont exactly as the
            # reference does (lib.rs:607-654).
            for fname, rows in metrics().items():
                if fname != base_name:
                    continue
                if table is not None:
                    # reverse map codepoint -> codes once (the full AFM is
                    # ~315 rows; a per-row 256-scan is 80k iterations/font)
                    rev: dict[int, list[int]] = {}
                    for i, cp in enumerate(table):
                        rev.setdefault(cp, []).append(i)
                    for _code, w, gname in rows:
                        c = name_to_unicode(gname)
                        if c is None:
                            continue
                        for i in rev.get(c, ()):
                            widths[i] = float(w)
                else:
                    new_table = [0] * 256
                    for code, w, gname in rows:
                        if code != -1:
                            if base_name == "ZapfDingbats":
                                new_table[code] = zapfdigbats_names_to_unicode(gname) or 0
                            else:
                                new_table[code] = name_to_unicode(gname) or 0
                    for code, w, _g in rows:
                        widths[code] = float(w)
                    table = new_table
        mw = doc.deref(font.get("MissingWidth"))
        self.missing_width = float(mw) if isinstance(mw, (int, float)) else 0.0
        self.widths = widths
        self.encoding = table
        self.unicode_map = unicode_map
        self.base_name = base_name
        self._build_tables()

    def _build_tables(self):
        """Single-byte fonts decode at most 256 distinct codes — precompute
        the decode_char/get_width chains into flat lists (the per-glyph hot
        path).  None marks the reference's panic case (missing unicode map
        entry with no encoding, lib.rs:838) — raised lazily at use."""
        um, enc = self.unicode_map, self.encoding
        dc: list = []
        for code in range(256):
            if um is not None:
                hit = um.get(code)
                if hit is not None:
                    dc.append(hit)
                elif enc is None:
                    dc.append(None)
                else:
                    dc.append(chr(enc[code]))
            else:
                e = enc if enc is not None else PDF_DOC_ENCODING
                dc.append(chr(e[code]))
        self._decode_table = dc
        w = self.widths
        mwid = self.missing_width
        self._width_table = [w.get(c, mwid) for c in range(256)]
        # string-level fast path: width list (pre-divided by 1000) and a
        # str.translate map; disabled when any code would raise (None
        # entry) or when get_width has raise semantics (Type3 override)
        self._w1000 = [x / 1000.0 for x in self._width_table]
        if all(x is not None for x in dc) and type(self).get_width is SimpleFont.get_width:
            self._trans = {c: dc[c] for c in range(256)}
        else:
            self._trans = None

    def char_codes(self, s: bytes):
        for b in s:
            yield b, 1

    def get_width(self, code: int) -> float:
        if 0 <= code < 256:
            return self._width_table[code]
        return self.widths.get(code, self.missing_width)

    def decode_char(self, code: int) -> str:
        if 0 <= code < 256:
            hit = self._decode_table[code]
            if hit is None:
                raise ValueError("missing unicode map and encoding")
            return hit
        if self.unicode_map is not None:
            hit = self.unicode_map.get(code)
            if hit is not None:
                return hit
            enc = self.encoding
            if enc is None:
                raise ValueError("missing unicode map and encoding")
            return to_utf8(enc, bytes([code & 0xFF]))
        enc = self.encoding if self.encoding is not None else PDF_DOC_ENCODING
        return to_utf8(enc, bytes([code & 0xFF]))

    def decode(self, s: bytes) -> str:
        return "".join(self.decode_char(c) for c, _ in self.char_codes(s))


class Type3Font(SimpleFont):
    kind = "type3"

    def __init__(self, doc, font: dict):
        _enc, table, unicode_map = _resolve_encoding_and_widths(doc, font, PDF_DOC_ENCODING)
        widths: dict[int, float] = {}
        first = doc.deref(font.get("FirstChar"))
        last = doc.deref(font.get("LastChar"))
        warr = doc.deref(font.get("Widths"))
        if isinstance(first, int) and isinstance(warr, list):
            for i, w in enumerate(warr):
                w = doc.deref(w)
                widths[first + i] = float(w) if isinstance(w, (int, float)) else 0.0
        self.widths = widths
        self.encoding = table
        self.unicode_map = unicode_map
        self.missing_width = 0.0
        self.base_name = _name_str(doc.deref(font.get("BaseFont")))
        self._build_tables()

    def get_width(self, code: int) -> float:
        if code in self.widths:
            return self.widths[code]
        raise MissingWidthError(f"missing Type3 width for code {code}")


class CIDFont:
    kind = "cid"

    def __init__(self, doc, font: dict):
        descendants = doc.deref(font.get("DescendantFonts"))
        if not isinstance(descendants, list) or not descendants:
            raise ValueError("DescendantFonts required")
        ciddict = doc.deref(descendants[0])
        encoding = doc.deref(font.get("Encoding"))
        if isinstance(encoding, (Name, str)) and not isinstance(encoding, Stream):
            name = str(encoding)
            if name in ("Identity-H", "Identity-V"):
                self.codespace = [(2, 0, 0xFFFF)]
                self.cid_ranges = [(0, 0xFFFF, 0)]
            else:
                raise ValueError(f"unsupported CID encoding {name}")
        elif isinstance(encoding, Stream):
            self.codespace, self.cid_ranges = parse_byte_mapping(
                doc.get_stream_content(encoding)
            )
        else:
            raise ValueError("Encoding required in Type0 fonts")
        self.unicode_map = get_unicode_map(doc, font)
        dw = doc.deref(ciddict.get("DW")) if isinstance(ciddict, dict) else None
        self.default_width = float(dw) if isinstance(dw, (int, float)) else 1000.0
        self.widths: dict[int, float] = {}
        w = doc.deref(ciddict.get("W")) if isinstance(ciddict, dict) else None
        if isinstance(w, list):
            i = 0
            while i < len(w):
                if i + 1 < len(w) and isinstance(doc.deref(w[i + 1]), list):
                    cid = int(doc.deref(w[i]))
                    for j, wv in enumerate(doc.deref(w[i + 1])):
                        wv = doc.deref(wv)
                        self.widths[cid + j] = float(wv)
                    i += 2
                else:
                    # Range form: the reference reads w[i] for first, last
                    # AND width (lib.rs:1026-1028) so first..last is an empty
                    # range — entries silently dropped, DW fallback applies.
                    # Replicated bug-for-bug for output parity.
                    i += 3
        self.base_name = _name_str(doc.deref(font.get("BaseFont")))

    def char_codes(self, s: bytes):
        """Variable-width (1-4 byte) decode via codespace ranges, then CID
        remap (next_char, lib.rs:1060-1080)."""
        i, n = 0, len(s)
        while i < n:
            c = s[i]
            consumed = 1
            code = None
            for width in range(1, 5):
                for (w, start, end) in self.codespace:
                    if w == width and start <= c <= end:
                        code = (c, width)
                        break
                if code is not None:
                    break
                if i + consumed >= n:
                    break
                c = (c << 8) | s[i + consumed]
                consumed += 1
            if code is None:
                return
            cval, clen = code
            i += clen
            matched = False
            for (lo, hi, dst) in self.cid_ranges:
                if lo <= cval <= hi:
                    yield cval + dst, clen  # parity: reference adds dst_CID_lo
                    matched = True
                    break
            if not matched:
                return

    def get_width(self, code: int) -> float:
        return self.widths.get(code, self.default_width)

    def decode_char(self, code: int) -> str:
        if self.unicode_map is not None:
            hit = self.unicode_map.get(code)
            if hit is not None:
                return hit
        # silent empty-string fallback (lib.rs:1081-1089)
        return ""

    def decode(self, s: bytes) -> str:
        return "".join(self.decode_char(c) for c, _ in self.char_codes(s))


_UNCACHEABLE = object()


def _font_cache_key(doc, obj, depth: int = 0):
    """Hashable canonical form of a font dict: dereferenced, stream bodies
    digested.  Returns _UNCACHEABLE when the structure can't be keyed
    (cycle-deep or exotic) — caller then skips the cache.

    Fast path: a dict whose values are all scalars/names (the common
    non-embedded simple-font shape — BaseFont/Subtype/Encoding names) keys
    in one shallow pass with no deref recursion."""
    if depth > 8:
        return _UNCACHEABLE
    if isinstance(obj, dict):
        items = []
        for k in sorted(obj):
            v = obj[k]
            # str covers Name (a str subclass); bytes subclasses
            # (PdfString) deliberately fall to the deep path
            if v is None or (
                isinstance(v, (bool, int, float, str)) and not isinstance(v, bytes)
            ):
                items.append((str(k), ("v", v) if not isinstance(v, str) else ("n", str(v))))
            else:
                items = None
                break
        if items is not None:
            return ("d", tuple(items))

    obj = doc.deref(obj)
    if obj is None or isinstance(obj, (bool, int, float)):
        return ("v", obj)
    if isinstance(obj, PdfString):
        return ("s", bytes(obj))
    if isinstance(obj, (Name, str)):
        return ("n", str(obj))
    if isinstance(obj, Stream):
        import hashlib

        d = _font_cache_key(doc, dict(obj.dict), depth + 1)
        if d is _UNCACHEABLE:
            return _UNCACHEABLE
        return ("strm", d, hashlib.md5(obj.raw).digest())
    if isinstance(obj, dict):
        items = []
        for k in sorted(obj):
            v = _font_cache_key(doc, obj[k], depth + 1)
            if v is _UNCACHEABLE:
                return _UNCACHEABLE
            items.append((str(k), v))
        return ("d", tuple(items))
    if isinstance(obj, list):
        vals = []
        for o in obj:
            v = _font_cache_key(doc, o, depth + 1)
            if v is _UNCACHEABLE:
                return _UNCACHEABLE
            vals.append(v)
        return ("l", tuple(vals))
    return _UNCACHEABLE


_FONT_CACHE: dict = {}
_FONT_CACHE_MAX = 512


def make_font(doc, font: dict):
    """Dispatch on Subtype (make_font, lib.rs:322-332).

    Cross-document cache: web corpora repeat the same (often non-embedded)
    fonts across millions of PDFs; font objects hold only derived tables —
    no doc reference — so byte-identical font structures are shared
    process-wide.  Cuts ~25% off small-doc extraction (make_font was the
    top profile entry after the full AFM tables landed)."""
    key = _font_cache_key(doc, font)
    if key is not _UNCACHEABLE:
        hit = _FONT_CACHE.get(key)
        if hit is not None:
            return hit
    subtype = _name_str(doc.deref(font.get("Subtype")))
    if subtype == "Type0":
        f = CIDFont(doc, font)
    elif subtype == "Type3":
        f = Type3Font(doc, font)
    else:
        f = SimpleFont(doc, font)
    if key is not _UNCACHEABLE:
        if len(_FONT_CACHE) >= _FONT_CACHE_MAX:
            _FONT_CACHE.clear()
        _FONT_CACHE[key] = f
    return f
