"""PDF object model and the one PDF lexer, written from the PDF 1.7 spec
(ISO 32000-1 §7.2-7.3).

The reference engine gets this layer from the ``lopdf`` crate (reference
``src/lib.rs:6``): an object parser, plus ``Content::decode`` for content
streams (``lib.rs:1582``).  Both read one token set, so here both are one
token regex (``_TOKEN``) driven by one ``finditer`` loop (``_lex``) that
builds arrays and dictionaries on an explicit stack, with no recursion.
The two callers differ only in what a keyword does:

* ``Lexer.read_object`` (object grammar): the first complete value ends
  the read, ``N G R`` folds into a ``Ref`` when ``R`` arrives, ``stream``
  right after a dictionary reads the stream body, and any other keyword
  raises ``ValueError``;
* ``content.decode_content`` (postfix operator grammar): a keyword flushes
  the operands as an operator, ``BI`` skips an inline image, and a ``<<``
  operand (a marked-content property list, say) is read with the object
  grammar until its ``>>``.

Python-native representation (kept deliberately simple so per-batch work is
dict/list slinging, never a class hierarchy walk):

    null        -> None
    boolean     -> bool
    integer     -> int
    real        -> float
    name        -> Name (str subclass)
    string      -> PdfString (bytes subclass)
    array       -> list
    dictionary  -> dict[str(name) -> obj]
    stream      -> Stream(dict, raw_bytes)
    reference   -> Ref(num, gen)
"""

from __future__ import annotations

import binascii
import math
import re

WHITESPACE = b"\x00\t\n\x0c\r "
DELIMITERS = b"()<>[]{}/%"

# one regular (non-whitespace, non-delimiter) byte
_REGULAR = rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]"
_RE_REGULAR = re.compile(_REGULAR + rb"*")
# A whitespace/comment run, atomic: once taken it is never re-split.  A
# plain `(?:\s+|%...)+` before a tail that can fail backtracks through
# every split of the run (time doubles per space) and can re-read a
# comment's tail as tokens (`5 %0 R` lexed as a reference).
_WS_RUN = rb"(?>(?:[\x00\t\n\x0c\r ]+|%[^\r\n]*)+)"
_RE_WS = re.compile(_WS_RUN)

# The one PDF token.  Each match consumes the whitespace/comment run before
# a token and the token itself.  The alternatives start with distinct
# bytes, except int, num and kw (all regular bytes, tried in that order),
# so their order is otherwise only a matter of speed.
_TOKEN = re.compile(
    _WS_RUN + rb"?"
    # an all-digits integer: the only token that can be the generation of
    # an `N G R` reference.  640 digits is the lowest limit int() can be
    # given (sys.set_int_max_str_digits), so int() never raises here;
    # longer runs take the general number rule.  A possessive {1,640}+ is
    # slower.
    + rb"(?:(?P<int>\d{1,640})(?!" + _REGULAR + rb")"
    # NB: dash escaped -- [+-.] would be the byte RANGE 0x2B-0x2E, which
    # also matches ',' (a stray comma is a keyword, not a malformed number)
    + rb"|(?P<num>[+\-.0-9]" + _REGULAR + rb"*+)"
    + rb"|(?P<kw>" + _REGULAR + rb"++)"
    # a literal string with no escapes and no nesting; any other is `lit`
    + rb"|\((?P<str>[^\\()]*+)\)"
    + rb"|/(?P<name>" + _REGULAR + rb"*+)"
    + rb"|(?P<open>\[)"
    + rb"|(?P<close>\])"
    + rb"|(?P<dopen><<)"
    + rb"|(?P<dclose>>>)"
    + rb"|<(?P<hex>[^>]*+)>?"
    + rb"|(?P<lit>\()"
    + rb"|(?P<delim>.)"
    # only whitespace/comments left: one empty match ends the iterator
    # (a failed match would let finditer search on inside the run)
    + rb"|\Z)",
    re.DOTALL,
)

_CONSTANTS = {b"true": True, b"false": False, b"null": None}
_NOT_HEX = bytes(b for b in range(256) if b not in b"0123456789abcdefABCDEF")
_ESCAPES = {0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12, 0x28: 0x28, 0x29: 0x29, 0x5C: 0x5C}


def _to_number(raw: bytes):
    """The number rule for tokens that are not all digits: a '.'-bearing
    token parses as float, any other as int, then float.  A malformed or
    non-finite result (`5x`, `+inf`, `1e999`) reads 0, or 0.0 for a
    '.'-bearing token."""
    s = raw.decode("latin-1")
    dot = "." in s
    if not dot:
        try:
            return int(s)
        except ValueError:
            pass
    try:
        v = float(s)
    except ValueError:
        v = math.inf
    if math.isfinite(v):
        return v
    return 0.0 if dot else 0


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


class _Dict(list):
    """An open ``<< ... >>`` on the lexer's stack: its objects in order,
    the position of its ``<<``, and ``d``, the dictionary that its objects
    before index ``i`` spell."""

    __slots__ = ("start", "d", "i")

    def __init__(self, start: int):
        self.start = start
        self.d = {}
        self.i = 0


def _frame_dict(frame: _Dict):
    """The dictionary an open ``<< ... >>`` frame spells, or None while its
    last key still waits for a value.  A name in key position is a key;
    any other object there is junk and is skipped.  Each call goes on from
    where the last one stopped, so however often ``>>`` finds a key waiting
    (``<< /K >> /K >> ...``), each object is read once."""
    d = frame.d
    i = frame.i
    n = len(frame)
    while i < n:
        k = frame[i]
        if k.__class__ is Name:
            if i + 1 == n:
                frame.i = i
                return None
            d[str(k)] = frame[i + 1]
            i += 2
        else:
            i += 1
    frame.i = i
    return d


def _read_literal(data: bytes, i: int):
    """Unescape the literal string whose ``(`` ends at ``i``: backslash
    escapes, balanced nesting, line continuations.  Returns the string and
    the position after its closing ``)`` (the end of data if unclosed)."""
    out = bytearray()
    n = len(data)
    depth = 1
    while i < n:
        b = data[i]
        i += 1
        if b == 0x5C:  # backslash
            if i >= n:
                break
            e = data[i]
            i += 1
            if e in _ESCAPES:
                out.append(_ESCAPES[e])
            elif 0x30 <= e <= 0x37:  # up to three octal digits
                j = i
                while j < n and j < i + 2 and 0x30 <= data[j] <= 0x37:
                    j += 1
                out.append(int(data[i - 1 : j], 8) & 0xFF)
                i = j
            elif e == 0x0D:  # line continuation, CR or CRLF
                if i < n and data[i] == 0x0A:
                    i += 1
            elif e != 0x0A:  # line continuation, LF
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
    return PdfString(bytes(out)), i


def _stream_body(data: bytes, pos: int, d: dict):
    """The raw body of the stream whose ``stream`` keyword ends at ``pos``,
    and the position after it.  Without a non-negative int /Length (it is
    an indirect ref, missing or negative) the body ends at ``endstream``."""
    if data[pos : pos + 2] == b"\r\n":
        pos += 2
    elif pos < len(data) and data[pos] in b"\r\n":
        pos += 1
    length = d.get("Length")
    if isinstance(length, int) and length >= 0:
        raw = data[pos : pos + length]
        pos += length
        m = _RE_WS.match(data, pos)
        if m:
            pos = m.end()
        if data[pos : pos + 9] == b"endstream":
            pos += 9
        return raw, pos
    end = data.find(b"endstream", pos)
    if end == -1:
        end = len(data)
    raw = data[pos:end]
    if raw.endswith(b"\r\n"):
        raw = raw[:-2]
    elif raw.endswith(b"\n") or raw.endswith(b"\r"):
        raw = raw[:-1]
    return raw, min(end + 9, len(data))


def _skip_inline_image(data: bytes, pos: int) -> int:
    """Position just past the whitespace-delimited EI that ends the inline
    image whose BI keyword ends at `pos` (end of data if none)."""
    n = len(data)
    while True:
        idx = data.find(b"EI", pos)
        if idx == -1:
            return n
        before_ok = idx == 0 or data[idx - 1] in WHITESPACE
        after_ok = idx + 2 >= n or data[idx + 2] in WHITESPACE or data[idx + 2] in DELIMITERS
        if before_ok and after_ok:
            return idx + 2
        pos = idx + 2


def _lex(data: bytes, pos: int, ops: list | None, resolve_streams: bool = False):
    """The one token loop.  With ``ops`` None, read one object at ``pos``
    and return ``(object, end)``; otherwise decode the content stream
    ``data`` into ``ops`` as ``(operator, operands)`` pairs and return it.

    ``sink`` collects the innermost open array or ``_Dict`` frame and
    ``stack`` holds the frames around it.  In the object grammar
    (``objmode``) a stray delimiter is a null, a key waiting at ``>>`` gets
    null and the second ``>`` is lexed again, and a frame left open at the
    end of data is closed (a dictionary still waiting for a value raises
    ``EOFError``).  In a content stream a stray delimiter is skipped, and
    if a ``<<`` operand turns out malformed the loop goes back to its first
    ``<`` and lexes on from the next byte (which reads a hex string).  Each
    ``<<`` still open at that failure would fail the same way as an operand
    of its own, so it is remembered in ``failed`` and skipped like one
    without being read again: hostile input costs linear time.
    """
    stack: list[list] = []
    if ops is None:
        objmode = True
        done = sink = []  # the top level: its first value ends the read
        base = -1  # there is no content level to go back to
    else:
        objmode = False
        done = None
        operands = sink = []
        base = 0  # stack depth of the content-level `<<`
    failed: set[int] = set()  # `<<` positions known to fail as operands
    # in the object grammar: the end of the last non-negative int, start and
    # end of an all-digits int right after one, the end of the last `>>`
    # that closed a dict: an `R` or `stream` keyword directly after them
    # continues that value
    ref_end = gen_start = gen_end = dict_end = -1
    finditer = _TOKEN.finditer
    while True:
        for m in finditer(data, pos):
            g = m.lastgroup
            if sink is done and done:
                # top-level value complete: return it unless this token
                # continues it (`N G R`, or `stream` after `>>`)
                s = m.start()
                if not (
                    g == "int" and s == ref_end and len(done) == 1
                    or g == "kw" and (
                        s == gen_end and m["kw"] == b"R"
                        or s == dict_end and resolve_streams and m["kw"].startswith(b"stream")
                    )
                ):
                    return done[0], gen_start if len(done) == 2 else s
            if g == "int":
                if objmode:
                    e = m.end()
                    if m.start() == ref_end:
                        gen_start = ref_end
                        gen_end = e
                    ref_end = e
                sink.append(int(m["int"]))
            elif g == "num":
                v = _to_number(m["num"])
                if objmode and v.__class__ is int and v >= 0:
                    ref_end = m.end()
                sink.append(v)
            elif g == "kw":
                word = m["kw"]
                if word in _CONSTANTS:
                    sink.append(_CONSTANTS[word])
                elif objmode:
                    s = m.start()
                    if s == gen_end and word == b"R":
                        gen = sink.pop()
                        sink[-1] = Ref(sink[-1], gen)
                    elif s == dict_end and resolve_streams and word.startswith(b"stream"):
                        raw, pos = _stream_body(data, m.start("kw") + 6, sink[-1])
                        stm = Stream(sink[-1], raw)
                        if sink is done:
                            return stm, pos
                        sink[-1] = stm
                        break
                    elif ops is None:
                        raise ValueError(f"unexpected token {word!r} at {m.end()}")
                    else:
                        pos = -1  # a malformed `<<` operand
                        break
                elif word == b"BI":
                    pos = _skip_inline_image(data, m.end())
                    ops.append(("BI", []))
                    operands = sink = []
                    stack = []
                    break
                else:
                    # an unclosed '[' is dropped with its contents
                    ops.append((word.decode("latin-1"), operands))
                    operands = sink = []
                    stack = []
            elif g == "str":
                sink.append(PdfString(m["str"]))
            elif g == "name":
                raw = m["name"]
                if b"#" in raw:
                    raw = _unescape_name(raw)
                sink.append(Name(raw.decode("latin-1")))
            elif g == "open":
                stack.append(sink)
                sink = []
            elif g == "close":
                if stack and sink.__class__ is not _Dict:
                    parent = stack.pop()
                    parent.append(sink)
                    sink = parent
                elif objmode:
                    sink.append(None)
            elif g == "dopen":
                s = m.end() - 2
                if not objmode:
                    if s in failed:
                        pos = s + 1
                        break
                    objmode = True
                    base = len(stack)
                stack.append(sink)
                sink = _Dict(s)
            elif g == "dclose":
                d = _frame_dict(sink) if sink.__class__ is _Dict else None
                if d is not None:
                    sink = stack.pop()
                    sink.append(d)
                    dict_end = m.end()
                    if len(stack) == base:
                        objmode = False
                elif objmode:
                    # the delimiter '>' is a null; lex the second '>' again
                    sink.append(None)
                    pos = m.end() - 1
                    break
            elif g == "hex":
                h = m["hex"].translate(None, _NOT_HEX)
                sink.append(PdfString(binascii.unhexlify(h + b"0" if len(h) & 1 else h)))
            elif g == "lit":
                v, pos = _read_literal(data, m.end())
                sink.append(v)
                break
            elif g == "delim" and objmode:
                sink.append(None)
        else:
            # end of data: done, unless a `<<` operand waits for a value
            if ops is None or not (objmode and sink.__class__ is _Dict and _frame_dict(sink) is None):
                break
            pos = -1
        if pos == -1:
            # not a `<<` operand after all: back to its first `<`
            frames = stack[base + 1 :]
            frames.append(sink)
            failed.update(f.start for f in frames if f.__class__ is _Dict)
            sink = stack[base]
            del stack[base:]
            objmode = False
            gen_end = -1
            pos = frames[0].start + 1
    if ops is not None:
        return ops
    # end of data in the object grammar: close what is still open
    while stack:
        v = _frame_dict(sink) if sink.__class__ is _Dict else sink
        if v is None:
            raise EOFError("unexpected end of PDF data")
        sink = stack.pop()
        sink.append(v)
    if not done:
        raise EOFError("unexpected end of PDF data")
    # past the end if a stream's /Length ran past it, as at the top level
    return done[0], max(pos, len(data))


class Lexer:
    """A cursor over a PDF byte buffer: whitespace, regular-byte runs, and
    objects read by the one token loop."""

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def skip_ws(self):
        m = _RE_WS.match(self.data, self.pos)
        if m:
            self.pos = m.end()

    def read_regular(self) -> bytes:
        m = _RE_REGULAR.match(self.data, self.pos)
        self.pos = m.end()
        return m.group()

    def read_object(self, resolve_streams: bool = True):
        """Parse one object at the cursor, with ``R`` references and (when
        ``resolve_streams``) ``stream`` bodies."""
        obj, self.pos = _lex(self.data, self.pos, None, resolve_streams)
        return obj

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
