"""Content-stream tokenizer: bytes -> ordered [(operator, operands)].

Re-implements lopdf's ``Content::decode`` (used by the reference at
/root/reference/src/lib.rs:1582).  Postfix form: operands accumulate until
an operator keyword flushes them.  Inline images (BI..ID..EI) are skipped
as a single ``BI`` op carrying no operands (the reference ignores unknown
ops, lib.rs:1870).

Tokenization is ONE regex driven by `finditer`: each match consumes the
whitespace/comment run before a token (an atomic prefix) and the token
itself — a number, a name, a plain literal string, a bracket or an
operator keyword — at C speed, and TJ arrays assemble on an explicit stack
(no recursive read_object / per-char skip_ws round trips).  Literal
strings with escapes or nesting, hex strings and inline dicts fall back to
the Lexer, and the iterator restarts after them (and after an inline
image).  Number parsing mirrors Lexer.read_number exactly (whole regular
token; int -> float -> 0 fallback), so malformed streams tokenize
identically to the round-2 implementation.
"""

from __future__ import annotations

import re

from .objects import (
    _REGULAR,
    _WS_RUN,
    DELIMITERS,
    WHITESPACE,
    Lexer,
    Name,
    PdfString,
    _to_number,  # Lexer.read_number's exact number semantics
    _unescape_name,
)

_TOKEN = re.compile(
    # the whitespace/comment run before the token, possibly empty; atomic,
    # so a comment's tail is never read as tokens
    _WS_RUN + rb"?"
    # NB: dash escaped — [+-.] would be the char RANGE 0x2B-0x2E, which
    # also matches ',' and would tokenize a stray comma as a malformed
    # number instead of an unknown operator that flushes operands
    + rb"(?:(?P<num>[+\-.0-9]" + _REGULAR + rb"*)"
    # plain literal string (no escapes, no nesting)
    + rb"|\((?P<str>[^\\()]*+)\)"
    + rb"|/(?P<name>" + _REGULAR + rb"*)"
    + rb"|(?P<open>\[)"
    + rb"|(?P<close>\])"
    + rb"|(?P<op>" + _REGULAR + rb"+)"
    + rb"|(?P<delim>.)"
    # only whitespace/comments left: one empty match ends the iterator
    # (a failed match would let finditer search on inside the run)
    + rb"|\Z)",
    re.DOTALL,
)


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


def decode_content(data: bytes) -> list[tuple[str, list]]:
    ops: list[tuple[str, list]] = []
    operands: list = []
    sink = operands  # current operand sink: operands or the open array
    stack: list[list] = []  # enclosing arrays
    n = len(data)
    pos = 0
    finditer = _TOKEN.finditer
    while pos < n:
        # restarted only after an inline image or a Lexer fallback
        for m in finditer(data, pos):
            g = m.lastgroup
            if g == "num":
                sink.append(_to_number(m["num"]))
            elif g == "op":
                word = m["op"]
                if word == b"true":
                    sink.append(True)
                elif word == b"false":
                    sink.append(False)
                elif word == b"null":
                    sink.append(None)
                elif word == b"BI":
                    pos = _skip_inline_image(data, m.end())
                    ops.append(("BI", []))
                    operands = []
                    sink = operands
                    stack = []
                    break
                else:
                    # tolerate an unbalanced '[': flush with the top-level operands
                    ops.append((word.decode("latin-1"), stack[0] if stack else operands))
                    stack = []
                    operands = []
                    sink = operands
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
                if stack:
                    parent = stack.pop()
                    parent.append(sink)
                    sink = parent
                # stray ']': skipped (delimiter we don't handle)
            elif g == "delim":
                # delimiter: '(' opening an escaped/nested literal string
                # or '<' opening a hex string or dict is read by the Lexer;
                # any other delimiter is skipped
                start = m.start("delim")
                b = data[start]
                if b == 0x28 or b == 0x3C:
                    lex = Lexer(data, start)
                    try:
                        if b == 0x28:
                            sink.append(lex.read_literal_string())
                        else:
                            sink.append(lex.read_object(resolve_streams=False))
                        pos = lex.pos
                    except Exception:
                        pos = start + 1
                    break
        else:
            break
    return ops
