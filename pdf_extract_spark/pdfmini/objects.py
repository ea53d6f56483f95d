"""PDF object model + lexer, written from the PDF 1.7 spec (ISO 32000-1 §7.3).

The reference engine gets this layer from the ``lopdf`` crate
(/root/reference/src/lib.rs:6); we re-implement it in pure Python so it can
run inside vectorized Arrow batches on Spark executors.

Python-native representation (kept deliberately simple so per-batch work is
dict/list slinging, never a class hierarchy walk):

    null        -> None
    boolean     -> bool
    integer     -> int
    real        -> float
    name        -> Name (str subclass)
    string      -> PdfString (bytes subclass; .hexform flag)
    array       -> list
    dictionary  -> dict[str(name) -> obj]
    stream      -> Stream(dict, raw_bytes)
    reference   -> Ref(num, gen)
"""

from __future__ import annotations

import re

WHITESPACE = b"\x00\t\n\x0c\r "
DELIMITERS = b"()<>[]{}/%"

# lexer hot-path scanners (C-speed spans instead of per-byte Python loops;
# the lexer is the top profile entry of whole-document extraction)
# one regular (non-whitespace, non-delimiter) byte
_REGULAR = rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]"
_RE_REGULAR = re.compile(_REGULAR + rb"*")
# A whitespace/comment run, atomic: once taken it is never re-split.  A
# plain `(?:\s+|%...)+` before a tail that can fail backtracks through
# every split of the run (time doubles per space) and can re-read a
# comment's tail as tokens (`5 %0 R` lexed as a reference).
_WS_RUN = rb"(?>(?:[\x00\t\n\x0c\r ]+|%[^\r\n]*)+)"
_RE_WS = re.compile(_WS_RUN)
_RE_LITERAL_PLAIN = re.compile(rb"[^\\()]*")

# One-match scalar classifier for read_object: consumes leading
# whitespace/comments AND the next scalar token (name / number / keyword —
# the bulk of all tokens in page and font dictionaries) in a single
# C-speed regex step.  The empty `end` alternative always matches, so
# whitespace is consumed even when the next object is a composite
# (string/dict/array) handled by the explicit dispatch.  NB: dash escaped
# in the num class — [+-.] would be the range 0x2B-0x2E (includes ',').
_RE_OBJ_SCALAR = re.compile(
    rb"(?:[\x00\t\n\x0c\r ]+|%[^\r\n]*)*"
    rb"(?:"
    rb"/(?P<name>" + _REGULAR + rb"*)"
    rb"|(?P<num>[+\-.0-9]" + _REGULAR + rb"*)"
    rb"|(?P<kw>true|false|null)(?!" + _REGULAR + rb")"
    rb"|(?P<end>)"
    rb")"
)
# Dict-body step: consumes whitespace/comments then either the closing
# `>>` or a `/key` name — one match per dictionary entry instead of
# skip_ws + slice-compare + read_name round trips.  No match -> junk or
# EOF, handled by the explicit fallback.
_RE_DICT_STEP = re.compile(
    _WS_RUN + rb"?"
    rb"(?:(?P<close>>>)|/(?P<key>" + _REGULAR + rb"*))"
)
# Reference tail after a non-negative integer: `G R` with the generation a
# whole all-digits token and R a LONE token, whitespace/comments permitted
# between tokens — exactly the conditions of the step-by-step path.
_RE_REF_TAIL = re.compile(
    _WS_RUN + rb"(\d+)(?!" + _REGULAR + rb")"
    + _WS_RUN + rb"R(?!" + _REGULAR + rb")"
)


def _to_number(raw: bytes):
    """PDF number fallback chain: '.'-bearing tokens parse as float, else
    int -> float -> 0 (Lexer.read_number and the content tokenizer share
    these exact semantics)."""
    s = raw.decode("latin-1")
    if "." in s:
        try:
            return float(s)
        except ValueError:
            return 0.0
    try:
        return int(s)
    except ValueError:
        try:
            return float(s)
        except ValueError:
            return 0


def _unescape_name(raw: bytes) -> bytes:
    """#xx hex escapes in names; malformed escapes keep the literal '#'."""
    out = bytearray()
    i = 0
    while i < len(raw):
        if raw[i] == 0x23 and i + 2 < len(raw):
            try:
                out.append(int(raw[i + 1 : i + 3], 16))
                i += 3
                continue
            except ValueError:
                pass
        out.append(raw[i])
        i += 1
    return bytes(out)


class Name(str):
    __slots__ = ()


class Ref:
    __slots__ = ("num", "gen")

    def __init__(self, num: int, gen: int = 0):
        self.num = num
        self.gen = gen

    def __repr__(self):
        return f"Ref({self.num},{self.gen})"

    def __eq__(self, other):
        return isinstance(other, Ref) and (self.num, self.gen) == (other.num, other.gen)

    def __hash__(self):
        return hash((self.num, self.gen))


class PdfString(bytes):
    """Byte string; interpretation is font/encoding dependent
    (mirrors lopdf's String(bytes, format))."""

    __slots__ = ()


class Stream:
    __slots__ = ("dict", "raw")

    def __init__(self, d: dict, raw: bytes):
        self.dict = d
        self.raw = raw

    def __repr__(self):
        return f"Stream({self.dict!r}, {len(self.raw)} bytes)"


class Lexer:
    """Single-pass tokenizer/parser over a PDF byte buffer."""

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    # -- low-level ---------------------------------------------------------

    def skip_ws(self):
        m = _RE_WS.match(self.data, self.pos)
        if m:
            self.pos = m.end()

    def peek(self) -> int:
        return self.data[self.pos] if self.pos < len(self.data) else -1

    def read_regular(self) -> bytes:
        m = _RE_REGULAR.match(self.data, self.pos)
        self.pos = m.end()
        return m.group()

    # -- tokens ------------------------------------------------------------

    def read_name(self) -> Name:
        assert self.data[self.pos] == 0x2F  # '/'
        self.pos += 1
        raw = self.read_regular()
        if b"#" in raw:
            raw = _unescape_name(raw)
        return Name(raw.decode("latin-1"))

    def read_literal_string(self) -> PdfString:
        assert self.data[self.pos] == 0x28  # '('
        self.pos += 1
        data, n = self.data, len(self.data)
        # fast path: no escapes, no nesting — one C-speed span + slice
        m = _RE_LITERAL_PLAIN.match(data, self.pos)
        e = m.end()
        if e < n and data[e] == 0x29:
            self.pos = e + 1
            return PdfString(m.group())
        out = bytearray()
        depth = 1
        while self.pos < n:
            b = data[self.pos]
            self.pos += 1
            if b == 0x5C:  # backslash
                if self.pos >= n:
                    break
                e = data[self.pos]
                self.pos += 1
                if e == ord("n"):
                    out.append(10)
                elif e == ord("r"):
                    out.append(13)
                elif e == ord("t"):
                    out.append(9)
                elif e == ord("b"):
                    out.append(8)
                elif e == ord("f"):
                    out.append(12)
                elif e in b"()\\":
                    out.append(e)
                elif e in b"01234567":
                    oct_digits = [e]
                    while len(oct_digits) < 3 and self.pos < n and data[self.pos] in b"01234567":
                        oct_digits.append(data[self.pos])
                        self.pos += 1
                    out.append(int(bytes(oct_digits), 8) & 0xFF)
                elif e == 0x0A:
                    pass  # line continuation
                elif e == 0x0D:
                    if self.pos < n and data[self.pos] == 0x0A:
                        self.pos += 1
                else:
                    out.append(e)
            elif b == 0x28:
                depth += 1
                out.append(b)
            elif b == 0x29:
                depth -= 1
                if depth == 0:
                    break
                out.append(b)
            else:
                out.append(b)
        return PdfString(bytes(out))

    def read_hex_string(self) -> PdfString:
        assert self.data[self.pos] == 0x3C  # '<'
        self.pos += 1
        digits = []
        data, n = self.data, len(self.data)
        while self.pos < n:
            b = data[self.pos]
            self.pos += 1
            if b == 0x3E:  # '>'
                break
            c = chr(b)
            if c in "0123456789abcdefABCDEF":
                digits.append(c)
        if len(digits) % 2:
            digits.append("0")
        return PdfString(bytes(int(digits[i] + digits[i + 1], 16) for i in range(0, len(digits), 2)))

    def read_number(self):
        return _to_number(self.read_regular())

    # -- objects -----------------------------------------------------------

    def read_object(self, resolve_streams: bool = True):
        """Parse one object at the cursor.  Detects ``R`` references and
        ``stream`` bodies (when ``resolve_streams``).

        The scalar hot path — names, numbers, references, keywords, i.e.
        most tokens in page/font dictionaries — is classified by ONE
        _RE_OBJ_SCALAR match that also consumes leading whitespace and
        comments; only composites (strings, dicts, arrays) and junk fall
        through to the explicit dispatch.  Semantics are identical to the
        step-by-step path: same number fallback chain (_to_number), same
        whole-token/lone-R reference test (_RE_REF_TAIL), same tolerance
        for junk tokens."""
        data = self.data
        m = _RE_OBJ_SCALAR.match(data, self.pos)
        g = m.lastgroup
        if g == "num":
            self.pos = m.end()
            val = _to_number(m.group("num"))
            if type(val) is int and val >= 0:
                m2 = _RE_REF_TAIL.match(data, self.pos)
                if m2:
                    self.pos = m2.end()
                    return Ref(val, int(m2.group(1)))
            return val
        if g == "name":
            self.pos = m.end()
            raw = m.group("name")
            if b"#" in raw:
                raw = _unescape_name(raw)
            return Name(raw.decode("latin-1"))
        if g == "kw":
            self.pos = m.end()
            kw = m.group("kw")
            return True if kw == b"true" else (False if kw == b"false" else None)
        self.pos = m.end()  # whitespace/comments consumed; composite next
        b = self.peek()
        if b == -1:
            raise EOFError("unexpected end of PDF data")
        if b == 0x28:
            return self.read_literal_string()
        if b == 0x3C:
            if data[self.pos : self.pos + 2] == b"<<":
                return self._read_dict_or_stream(resolve_streams)
            return self.read_hex_string()
        if b == 0x5B:  # '['
            self.pos += 1
            arr = []
            while True:
                self.skip_ws()
                if self.peek() == 0x5D:
                    self.pos += 1
                    return arr
                if self.peek() == -1:
                    return arr
                arr.append(self.read_object(resolve_streams))
        word = self.read_regular()
        if not word:
            # delimiter we don't handle; skip a byte to guarantee progress
            self.pos += 1
            return None
        raise ValueError(f"unexpected token {word!r} at {self.pos}")


    def _read_dict_or_stream(self, resolve_streams: bool):
        self.pos += 2  # '<<'
        d: dict = {}
        data = self.data
        while True:
            m = _RE_DICT_STEP.match(data, self.pos)
            if m:
                self.pos = m.end()
                if m.lastgroup == "close":
                    break
                raw = m.group("key")
                if b"#" in raw:
                    raw = _unescape_name(raw)
                d[raw.decode("latin-1")] = self.read_object(resolve_streams)
                continue
            # junk key or EOF: same tolerance as before — skip one object
            self.skip_ws()
            if self.peek() == -1:
                break
            self.read_object(resolve_streams)
        if resolve_streams:
            save = self.pos
            self.skip_ws()
            if self.data[self.pos : self.pos + 6] == b"stream":
                self.pos += 6
                if self.data[self.pos : self.pos + 2] == b"\r\n":
                    self.pos += 2
                elif self.pos < len(self.data) and self.data[self.pos] in b"\r\n":
                    self.pos += 1
                length = d.get("Length")
                if isinstance(length, int):
                    raw = self.data[self.pos : self.pos + length]
                    self.pos += length
                    self.skip_ws()
                    if self.data[self.pos : self.pos + 9] == b"endstream":
                        self.pos += 9
                else:
                    # Length is an indirect ref or missing: scan for endstream
                    end = self.data.find(b"endstream", self.pos)
                    if end == -1:
                        end = len(self.data)
                    raw = self.data[self.pos : end]
                    if raw.endswith(b"\r\n"):
                        raw = raw[:-2]
                    elif raw.endswith(b"\n") or raw.endswith(b"\r"):
                        raw = raw[:-1]
                    self.pos = min(end + 9, len(self.data))
                return Stream(d, raw)
            self.pos = save
        return d

    def read_indirect_object(self):
        """Parse ``N G obj ... endobj`` at cursor; returns (num, gen, obj)."""
        self.skip_ws()
        num = int(self.read_regular())
        self.skip_ws()
        gen = int(self.read_regular())
        self.skip_ws()
        kw = self.read_regular()
        if kw != b"obj":
            raise ValueError(f"expected 'obj', got {kw!r}")
        obj = self.read_object()
        self.skip_ws()
        if self.data[self.pos : self.pos + 6] == b"endobj":
            self.pos += 6
        return num, gen, obj
