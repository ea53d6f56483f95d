"""Content-stream tokenizer: bytes -> ordered [(operator, operands)].

Re-implements lopdf's ``Content::decode`` (used by the reference at
/root/reference/src/lib.rs:1582).  Postfix form: operands accumulate until
an operator keyword flushes them.  Inline images (BI..ID..EI) are skipped
as a single ``BI`` op carrying no operands (the reference ignores unknown
ops, lib.rs:1870).

Tokenization runs as ONE alternation regex advanced with `.match` — each
step consumes a whole run of whitespace/comments, a number, a name, a
bracket, or an operator keyword at C speed, and TJ arrays assemble on an
explicit stack (no recursive read_object / per-char skip_ws round trips).
Literal/hex strings and inline dicts fall back to the Lexer at the current
position.  Number parsing mirrors Lexer.read_number exactly (whole regular
token; int -> float -> 0 fallback), so malformed streams tokenize
identically to the round-2 implementation.
"""

from __future__ import annotations

import re

from .objects import (
    _RE_LITERAL_PLAIN,
    DELIMITERS,
    WHITESPACE,
    Lexer,
    Name,
    PdfString,
    _to_number,  # Lexer.read_number's exact number semantics
    _unescape_name,
)

_TOKEN = re.compile(
    rb"(?:[\x00\t\n\x0c\r ]+|%[^\r\n]*)+"  # whitespace/comments: no group
    # NB: dash escaped — [+-.] would be the char RANGE 0x2B-0x2E, which
    # also matches ',' and would tokenize a stray comma as a malformed
    # number instead of an unknown operator that flushes operands
    rb"|(?P<num>[+\-.0-9][^\x00\t\n\x0c\r ()<>\[\]{}/%]*)"
    rb"|/(?P<name>[^\x00\t\n\x0c\r ()<>\[\]{}/%]*)"
    rb"|(?P<open>\[)"
    rb"|(?P<close>\])"
    rb"|(?P<op>[^\x00\t\n\x0c\r ()<>\[\]{}/%]+)"
    rb"|(?P<delim>.)",
    re.DOTALL,
)


def decode_content(data: bytes) -> list[tuple[str, list]]:
    ops: list[tuple[str, list]] = []
    operands: list = []
    sink = operands  # current operand sink: operands or the open array
    stack: list[list] = []  # enclosing arrays
    n = len(data)
    pos = 0
    match = _TOKEN.match
    while pos < n:
        m = match(data, pos)
        pos = m.end()
        g = m.lastgroup
        if g is None:  # whitespace/comment run
            continue
        if g == "num":
            sink.append(_to_number(m.group("num")))
            continue
        if g == "name":
            raw = m.group("name")
            if b"#" in raw:
                raw = _unescape_name(raw)
            sink.append(Name(raw.decode("latin-1")))
            continue
        if g == "open":
            arr: list = []
            stack.append(sink)
            sink = arr
            continue
        if g == "close":
            if stack:
                parent = stack.pop()
                parent.append(sink)
                sink = parent
            # stray ']': skipped (delimiter we don't handle)
            continue
        if g == "op":
            word = m.group("op")
            if word == b"true":
                sink.append(True)
                continue
            if word == b"false":
                sink.append(False)
                continue
            if word == b"null":
                sink.append(None)
                continue
            op = word.decode("latin-1")
            if op == "BI":
                # inline image: skip to EI (whitespace-delimited)
                p = pos
                while True:
                    idx = data.find(b"EI", p)
                    if idx == -1:
                        pos = n
                        break
                    before_ok = idx == 0 or data[idx - 1] in WHITESPACE
                    after_ok = (
                        idx + 2 >= n
                        or data[idx + 2] in WHITESPACE
                        or data[idx + 2] in DELIMITERS
                    )
                    if before_ok and after_ok:
                        pos = idx + 2
                        break
                    p = idx + 2
                ops.append(("BI", []))
                operands = []
                sink = operands
                stack = []
                continue
            # tolerate an unbalanced '[': flush with the top-level operands
            ops.append((op, stack[0] if stack else operands))
            stack = []
            operands = []
            sink = operands
            continue
        # delimiter: '(' literal string, '<' hex string or dict, else skip
        b = m.group("delim")[0]
        pos -= 1  # rewind to the delimiter for the Lexer
        if b == 0x28:
            # fast path first (no Lexer construction): plain string body
            m2 = _RE_LITERAL_PLAIN.match(data, pos + 1)
            e = m2.end()
            if e < n and data[e] == 0x29:
                sink.append(PdfString(m2.group()))
                pos = e + 1
                continue
            lex = Lexer(data, pos)
            try:
                sink.append(lex.read_literal_string())
                pos = lex.pos
            except Exception:
                pos += 1
            continue
        if b == 0x3C:
            lex = Lexer(data, pos)
            try:
                sink.append(lex.read_object(resolve_streams=False))
                pos = lex.pos
            except Exception:
                pos += 1
            continue
        pos += 1  # stray delimiter: skip
    return ops
