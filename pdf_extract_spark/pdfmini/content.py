"""Content-stream tokenizer: bytes -> ordered [(operator, operands)].

Re-implements lopdf's ``Content::decode`` (reference ``src/lib.rs:1582``).
Postfix form: operands accumulate until an operator keyword flushes them.
Inline images (BI..ID..EI) are skipped as a single ``BI`` op carrying no
operands (the reference ignores unknown ops, lib.rs:1870).

The tokens and the token loop are the object lexer's (``objects._lex``):
ISO 32000-1 §7.2-7.3 gives objects and content streams one token set, and
a ``<<`` operand is read with the object grammar until its ``>>``.
"""

from __future__ import annotations

from .objects import _lex


def decode_content(data: bytes) -> list[tuple[str, list]]:
    return _lex(data, 0, [])
