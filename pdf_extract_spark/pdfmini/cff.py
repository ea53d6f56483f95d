"""Minimal CFF (Compact Font Format / Type1C) parser — encoding extraction.

Plays the role of the cff-parser crate in the reference's FontFile3 path
(/root/reference/src/lib.rs:406-442): given an embedded Type1C font program,
produce the code -> SID table (encoding composed with charset) and resolve
SIDs to glyph names (standard strings or the font's String INDEX).  Glyph
OUTLINES are irrelevant for text extraction and are not parsed.

Layout parsed (Adobe CFF spec, TN #5176):
    header | Name INDEX | Top DICT INDEX | String INDEX | Global Subr INDEX
    ... charset / encoding / CharStrings at offsets from the Top DICT.

The 391 standard strings are public Adobe data (CFF spec Appendix A);
their order is verified against the AGL and the StandardEncoding table in
tests (every non-synthetic name must resolve through the AGL).
"""

from __future__ import annotations

import struct

# CFF standard strings, SID 0..390 (CFF spec Appendix A).
STANDARD_STRINGS: list[str] = (
    [".notdef", "space", "exclam", "quotedbl", "numbersign", "dollar",
     "percent", "ampersand", "quoteright", "parenleft", "parenright",
     "asterisk", "plus", "comma", "hyphen", "period", "slash", "zero",
     "one", "two", "three", "four", "five", "six", "seven", "eight",
     "nine", "colon", "semicolon", "less", "equal", "greater", "question",
     "at"]
    + [chr(c) for c in range(ord("A"), ord("Z") + 1)]
    + ["bracketleft", "backslash", "bracketright", "asciicircum",
       "underscore", "quoteleft"]
    + [chr(c) for c in range(ord("a"), ord("z") + 1)]
    + ["braceleft", "bar", "braceright", "asciitilde", "exclamdown", "cent",
       "sterling", "fraction", "yen", "florin", "section", "currency",
       "quotesingle", "quotedblleft", "guillemotleft", "guilsinglleft",
       "guilsinglright", "fi", "fl", "endash", "dagger", "daggerdbl",
       "periodcentered", "paragraph", "bullet", "quotesinglbase",
       "quotedblbase", "quotedblright", "guillemotright", "ellipsis",
       "perthousand", "questiondown", "grave", "acute", "circumflex",
       "tilde", "macron", "breve", "dotaccent", "dieresis", "ring",
       "cedilla", "hungarumlaut", "ogonek", "caron", "emdash", "AE",
       "ordfeminine", "Lslash", "Oslash", "OE", "ordmasculine", "ae",
       "dotlessi", "lslash", "oslash", "oe", "germandbls", "onesuperior",
       "logicalnot", "mu", "trademark", "Eth", "onehalf", "plusminus",
       "Thorn", "onequarter", "divide", "brokenbar", "degree", "thorn",
       "threequarters", "twosuperior", "registered", "minus", "eth",
       "multiply", "threesuperior", "copyright", "Aacute", "Acircumflex",
       "Adieresis", "Agrave", "Aring", "Atilde", "Ccedilla", "Eacute",
       "Ecircumflex", "Edieresis", "Egrave", "Iacute", "Icircumflex",
       "Idieresis", "Igrave", "Ntilde", "Oacute", "Ocircumflex",
       "Odieresis", "Ograve", "Otilde", "Scaron", "Uacute", "Ucircumflex",
       "Udieresis", "Ugrave", "Yacute", "Ydieresis", "Zcaron", "aacute",
       "acircumflex", "adieresis", "agrave", "aring", "atilde", "ccedilla",
       "eacute", "ecircumflex", "edieresis", "egrave", "iacute",
       "icircumflex", "idieresis", "igrave", "ntilde", "oacute",
       "ocircumflex", "odieresis", "ograve", "otilde", "scaron", "uacute",
       "ucircumflex", "udieresis", "ugrave", "yacute", "ydieresis",
       "zcaron", "exclamsmall", "Hungarumlautsmall", "dollaroldstyle",
       "dollarsuperior", "ampersandsmall", "Acutesmall",
       "parenleftsuperior", "parenrightsuperior", "twodotenleader",
       "onedotenleader", "zerooldstyle", "oneoldstyle", "twooldstyle",
       "threeoldstyle", "fouroldstyle", "fiveoldstyle", "sixoldstyle",
       "sevenoldstyle", "eightoldstyle", "nineoldstyle", "commasuperior",
       "threequartersemdash", "periodsuperior", "questionsmall",
       "asuperior", "bsuperior", "centsuperior", "dsuperior", "esuperior",
       "isuperior", "lsuperior", "msuperior", "nsuperior", "osuperior",
       "rsuperior", "ssuperior", "tsuperior", "ff", "ffi", "ffl",
       "parenleftinferior", "parenrightinferior", "Circumflexsmall",
       "hyphensuperior", "Gravesmall", "Asmall", "Bsmall", "Csmall",
       "Dsmall", "Esmall", "Fsmall", "Gsmall", "Hsmall", "Ismall",
       "Jsmall", "Ksmall", "Lsmall", "Msmall", "Nsmall", "Osmall",
       "Psmall", "Qsmall", "Rsmall", "Ssmall", "Tsmall", "Usmall",
       "Vsmall", "Wsmall", "Xsmall", "Ysmall", "Zsmall", "colonmonetary",
       "onefitted", "rupiah", "Tildesmall", "exclamdownsmall",
       "centoldstyle", "Lslashsmall", "Scaronsmall", "Zcaronsmall",
       "Dieresissmall", "Brevesmall", "Caronsmall", "Dotaccentsmall",
       "Macronsmall", "figuredash", "hypheninferior", "Ogoneksmall",
       "Ringsmall", "Cedillasmall", "questiondownsmall", "oneeighth",
       "threeeighths", "fiveeighths", "seveneighths", "onethird",
       "twothirds", "zerosuperior", "foursuperior", "fivesuperior",
       "sixsuperior", "sevensuperior", "eightsuperior", "ninesuperior",
       "zeroinferior", "oneinferior", "twoinferior", "threeinferior",
       "fourinferior", "fiveinferior", "sixinferior", "seveninferior",
       "eightinferior", "nineinferior", "centinferior", "dollarinferior",
       "periodinferior", "commainferior", "Agravesmall", "Aacutesmall",
       "Acircumflexsmall", "Atildesmall", "Adieresissmall", "Aringsmall",
       "AEsmall", "Ccedillasmall", "Egravesmall", "Eacutesmall",
       "Ecircumflexsmall", "Edieresissmall", "Igravesmall", "Iacutesmall",
       "Icircumflexsmall", "Idieresissmall", "Ethsmall", "Ntildesmall",
       "Ogravesmall", "Oacutesmall", "Ocircumflexsmall", "Otildesmall",
       "Odieresissmall", "OEsmall", "Oslashsmall", "Ugravesmall",
       "Uacutesmall", "Ucircumflexsmall", "Udieresissmall", "Yacutesmall",
       "Thornsmall", "Ydieresissmall", "001.000", "001.001", "001.002",
       "001.003", "Black", "Bold", "Book", "Light", "Medium", "Regular",
       "Roman", "Semibold"]
)
assert len(STANDARD_STRINGS) == 391, len(STANDARD_STRINGS)


class CffError(Exception):
    pass


def _read_index(data: bytes, pos: int) -> tuple[list[bytes], int]:
    """CFF INDEX -> (items, next_pos)."""
    if pos + 2 > len(data):
        raise CffError("truncated INDEX header")
    count = struct.unpack_from(">H", data, pos)[0]
    pos += 2
    if count == 0:
        return [], pos
    off_size = data[pos]
    pos += 1
    if not 1 <= off_size <= 4:
        raise CffError(f"bad offSize {off_size}")
    offs = []
    for i in range(count + 1):
        v = 0
        for b in data[pos + i * off_size : pos + (i + 1) * off_size]:
            v = (v << 8) | b
        offs.append(v)
    pos += (count + 1) * off_size
    base = pos - 1  # offsets are 1-based from here
    items = [data[base + offs[i] : base + offs[i + 1]] for i in range(count)]
    return items, base + offs[count]


def _parse_dict(data: bytes) -> dict[int, list[float]]:
    """Top/Private DICT: operands then operator; 12 xx -> 1200+xx."""
    out: dict[int, list[float]] = {}
    operands: list[float] = []
    i = 0
    n = len(data)
    while i < n:
        b0 = data[i]
        if b0 <= 21:  # operator
            if b0 == 12:
                i += 1
                op = 1200 + data[i]
            else:
                op = b0
            out[op] = operands
            operands = []
            i += 1
        elif b0 == 28:
            operands.append(struct.unpack_from(">h", data, i + 1)[0])
            i += 3
        elif b0 == 29:
            operands.append(struct.unpack_from(">i", data, i + 1)[0])
            i += 5
        elif b0 == 30:  # real number (BCD)
            i += 1
            s = ""
            done = False
            while i < n and not done:
                byte = data[i]
                i += 1
                for nib in (byte >> 4, byte & 0xF):
                    if nib <= 9:
                        s += str(nib)
                    elif nib == 0xA:
                        s += "."
                    elif nib == 0xB:
                        s += "E"
                    elif nib == 0xC:
                        s += "E-"
                    elif nib == 0xE:
                        s += "-"
                    elif nib == 0xF:
                        done = True
                        break
            try:
                operands.append(float(s) if s else 0.0)
            except ValueError:
                operands.append(0.0)
        elif 32 <= b0 <= 246:
            operands.append(b0 - 139)
            i += 1
        elif 247 <= b0 <= 250:
            operands.append((b0 - 247) * 256 + data[i + 1] + 108)
            i += 2
        elif 251 <= b0 <= 254:
            operands.append(-(b0 - 251) * 256 - data[i + 1] - 108)
            i += 2
        else:
            raise CffError(f"bad DICT byte {b0}")
    return out


class CffFont:
    """Parsed Type1C font: enough structure for encoding extraction."""

    def __init__(self, data: bytes):
        if len(data) < 4:
            raise CffError("too short")
        hdr_size = data[2]
        pos = hdr_size
        _names, pos = _read_index(data, pos)
        top_dicts, pos = _read_index(data, pos)
        if not top_dicts:
            raise CffError("no Top DICT")
        self.top = _parse_dict(top_dicts[0])
        self.strings, pos = _read_index(data, pos)
        # Global Subr INDEX follows, irrelevant here.
        if 1230 in self.top:  # ROS -> CIDFont-keyed CFF: no encoding array
            raise CffError("CID-keyed CFF has no encoding")
        cs_off = int(self.top.get(17, [0])[0])
        if not cs_off:
            raise CffError("no CharStrings")
        charstrings, _ = _read_index(data, cs_off)
        self.n_glyphs = len(charstrings)
        self.charset = self._parse_charset(data)  # GID -> SID
        self.code_to_gid = self._parse_encoding(data)

    def string_by_id(self, sid: int) -> str | None:
        """SID -> name (cff_parser::string_by_id parity)."""
        if 0 <= sid < 391:
            return STANDARD_STRINGS[sid]
        i = sid - 391
        if 0 <= i < len(self.strings):
            return self.strings[i].decode("latin-1")
        return None

    # -- charset ------------------------------------------------------------

    def _parse_charset(self, data: bytes) -> list[int]:
        off = int(self.top.get(15, [0])[0])
        n = self.n_glyphs
        if off == 0:  # ISOAdobe: GID i -> SID i
            return list(range(n))
        if off in (1, 2):
            # Expert/ExpertSubset predefined charsets: niche subset fonts;
            # fall back to identity (glyph names would come from the
            # expert SID lists, which these fonts rarely rely on for text).
            return list(range(n))
        fmt = data[off]
        sids = [0]  # GID 0 is always .notdef
        pos = off + 1
        if fmt == 0:
            for _ in range(n - 1):
                sids.append(struct.unpack_from(">H", data, pos)[0])
                pos += 2
        elif fmt in (1, 2):
            step = 3 if fmt == 1 else 4
            while len(sids) < n:
                first = struct.unpack_from(">H", data, pos)[0]
                n_left = (
                    data[pos + 2] if fmt == 1
                    else struct.unpack_from(">H", data, pos + 2)[0]
                )
                pos += step
                for k in range(n_left + 1):
                    if len(sids) >= n:
                        break
                    sids.append(first + k)
        else:
            raise CffError(f"charset format {fmt}")
        return sids

    # -- encoding -----------------------------------------------------------

    def _predefined_encoding(self, names_table: str) -> dict[int, int]:
        """Build code->GID from a predefined code->glyph-name table by
        matching names against this font's charset."""
        from ..encodings_data import _names_by_code  # lazy; see encodings_data

        name_to_gid = {}
        for gid, sid in enumerate(self.charset):
            nm = self.string_by_id(sid)
            if nm is not None:
                name_to_gid.setdefault(nm, gid)
        out = {}
        for code, nm in _names_by_code(names_table):
            gid = name_to_gid.get(nm)
            if gid is not None:
                out[code] = gid
        return out

    def _parse_encoding(self, data: bytes) -> dict[int, int]:
        off = int(self.top.get(16, [0])[0])
        if off == 0:
            return self._predefined_encoding("STANDARD_ENCODING")
        if off == 1:
            return self._predefined_encoding("EXPERT_ENCODING")
        fmt = data[off]
        base_fmt = fmt & 0x7F
        out: dict[int, int] = {}
        pos = off + 1
        if base_fmt == 0:
            n_codes = data[pos]
            pos += 1
            for gid in range(1, n_codes + 1):
                out[data[pos]] = gid
                pos += 1
        elif base_fmt == 1:
            n_ranges = data[pos]
            pos += 1
            gid = 1
            for _ in range(n_ranges):
                first = data[pos]
                n_left = data[pos + 1]
                pos += 2
                for k in range(n_left + 1):
                    out[first + k] = gid
                    gid += 1
        else:
            raise CffError(f"encoding format {base_fmt}")
        if fmt & 0x80:  # supplements: code -> SID, resolved via charset
            n_sups = data[pos]
            pos += 1
            sid_to_gid = {sid: gid for gid, sid in enumerate(self.charset)}
            for _ in range(n_sups):
                code = data[pos]
                sid = struct.unpack_from(">H", data, pos + 1)[0]
                pos += 3
                if sid in sid_to_gid:
                    out[code] = sid_to_gid[sid]
        return out

    def code_to_sid_table(self) -> dict[int, int]:
        """encoding.get_code_to_sid_table(&charset) parity: compose the
        code->GID encoding with the GID->SID charset."""
        return {
            code: self.charset[gid]
            for code, gid in self.code_to_gid.items()
            if 0 <= gid < len(self.charset)
        }


def type1c_unicode_map(data: bytes) -> dict[int, str]:
    """FontFile3/Type1C -> {code: unicode str}, the reference's FontFile3
    mapping construction (lib.rs:417-435): skip .notdef, AGL first then
    ZapfDingbats names, drop unresolvable names."""
    from ..encodings_data import name_to_unicode, zapfdigbats_names_to_unicode

    font = CffFont(data)
    out: dict[int, str] = {}
    for code, sid in font.code_to_sid_table().items():
        name = font.string_by_id(sid)
        if name is None or name == ".notdef":
            continue
        uni = name_to_unicode(name)
        if uni is None:
            uni = zapfdigbats_names_to_unicode(name)
        if uni is None:
            continue
        out[code] = chr(uni)
    return out
