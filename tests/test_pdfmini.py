"""Unit tests for the object lexer and document structure layer."""

import zlib

import pytest

from pdf_extract_spark.fixtures import PdfBuilder, fx_simple_tj
from pdf_extract_spark.pdfmini.content import decode_content
from pdf_extract_spark.pdfmini.document import load_mem
from pdf_extract_spark.pdfmini.objects import Lexer, Name, PdfString, Ref, Stream


def _parse(src: bytes):
    return Lexer(src).read_object()


def test_lexer_scalars():
    assert _parse(b"42") == 42
    assert _parse(b"-3.5") == -3.5
    assert _parse(b"+.5") == 0.5
    assert _parse(b"true") is True
    assert _parse(b"false") is False
    assert _parse(b"null") is None


def test_lexer_name_with_hex_escape():
    n = _parse(b"/A#20B")
    assert isinstance(n, Name) and str(n) == "A B"


def test_lexer_literal_string_escapes():
    s = _parse(rb"(a\(b\)c\\d\n\t\101)")
    assert bytes(s) == b"a(b)c\\d\n\tA"
    # nested parens
    assert bytes(_parse(b"(a(b)c)")) == b"a(b)c"
    # octal with fewer than 3 digits
    assert bytes(_parse(rb"(\53)")) == b"+"


def test_lexer_hex_string():
    assert bytes(_parse(b"<48 65 6C>")) == b"Hel"
    assert bytes(_parse(b"<486>")) == b"H`"


def test_lexer_dict_array_ref():
    d = _parse(b"<< /A [1 2 0 R 3] /B << /C (x) >> >>")
    assert d["A"][0] == 1
    assert d["A"][1] == Ref(2, 0)
    assert d["A"][2] == 3
    assert bytes(d["B"]["C"]) == b"x"


def test_lexer_number_pair_not_ref():
    arr = _parse(b"[1 2 3]")
    assert arr == [1, 2, 3]


def test_lexer_long_whitespace_run_is_linear():
    # a whitespace run before a failed reference or dict-key tail is
    # consumed once, never re-split, so its cost is linear in its length
    import time

    t0 = time.perf_counter()
    assert _parse(b"5" + b" " * 64 + b"junk") == 5
    assert _parse(b"<< /A 1" + b" " * 64 + b"2 >>") == {"A": 1}
    assert time.perf_counter() - t0 < 0.05


def test_lexer_comment_tail_is_not_tokens():
    assert _parse(b"5 %0 R\n") == 5
    assert _parse(b"5 % c\n 0 % d\n R") == Ref(5, 0)
    assert "B" not in _parse(b"<< /A 1 %/B 2\n 3 >>")


def test_stream_parsing():
    src = b"<< /Length 5 >>\nstream\nhello\nendstream"
    obj = Lexer(src).read_object()
    assert isinstance(obj, Stream)
    assert obj.raw == b"hello"


def test_document_load_and_page_tree():
    pdf, _ = fx_simple_tj()
    doc = load_mem(pdf)
    pages = doc.get_pages()
    assert len(pages) == 1
    assert doc.page_count() == 1
    mb = doc.get_inherited(pages[0], "MediaBox")
    assert mb == [0, 0, 612, 792]
    content = doc.get_page_content(pages[0])
    assert b"Hello World" in content
    assert doc.version().startswith("1.")


def test_xref_stream_and_object_stream():
    """PDF 1.5 xref streams + object streams (type-2 entries)."""
    # hand-build: catalog+pages+page in an ObjStm, content classic,
    # xref as a stream
    content = b"BT /F1 12 Tf 72 720 Td (objstm) Tj ET"
    objstm_payload = (
        b"<< /Type /Catalog /Pages 4 0 R >>"
        b"<< /Type /Pages /Kids [5 0 R] /Count 1 /MediaBox [0 0 612 792] >>"
        b"<< /Type /Page /Parent 4 0 R /Contents 1 0 R /Resources << /Font "
        b"<< /F1 << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >> >> >> >>"
    )
    off1 = 0
    off2 = objstm_payload.index(b"<< /Type /Pages")
    off3 = objstm_payload.index(b"<< /Type /Page /")
    header = f"3 {off1} 4 {off2} 5 {off3} ".encode()
    stm_data = header + objstm_payload
    out = bytearray(b"%PDF-1.5\n")
    offsets = {}
    offsets[1] = len(out)
    out += b"1 0 obj\n<< /Length %d >>\nstream\n" % len(content) + content + b"\nendstream\nendobj\n"
    offsets[2] = len(out)
    out += (
        b"2 0 obj\n<< /Type /ObjStm /N 3 /First %d /Length %d >>\nstream\n"
        % (len(header), len(stm_data))
        + stm_data
        + b"\nendstream\nendobj\n"
    )
    # xref stream object (num 6): W [1 2 1]
    rows = [
        (0, 0, 0),        # obj 0: free
        (1, offsets[1], 0),
        (1, offsets[2], 0),
        (2, 2, 0),        # obj 3 in stream 2 idx 0
        (2, 2, 1),
        (2, 2, 2),
        (1, 0, 0),        # obj 6 = this xref stream (offset patched below)
    ]
    xref_pos = len(out)
    rows[6] = (1, xref_pos, 0)
    xref_data = b"".join(
        bytes([t]) + o.to_bytes(2, "big") + bytes([g]) for t, o, g in rows
    )
    xref_data_z = zlib.compress(xref_data)
    out += (
        b"6 0 obj\n<< /Type /XRef /Size 7 /W [1 2 1] /Root 3 0 R /Filter "
        b"/FlateDecode /Length %d >>\nstream\n" % len(xref_data_z)
        + xref_data_z
        + b"\nendstream\nendobj\n"
    )
    out += b"startxref\n%d\n%%%%EOF" % xref_pos

    from pdf_extract_spark.extract import extract_text_from_mem

    assert extract_text_from_mem(bytes(out)) == "\n\nobjstm"


def test_content_tokenizer():
    ops = decode_content(b"BT /F1 12 Tf 72 720 Td [(a) -30 (b)] TJ ET")
    names = [op for op, _ in ops]
    assert names == ["BT", "Tf", "Td", "TJ", "ET"]
    tj = ops[3][1][0]
    assert bytes(tj[0]) == b"a"
    assert tj[1] == -30
    assert bytes(tj[2]) == b"b"


def test_lexer_scalar_fast_path_parity():
    """The one-match scalar classifier must keep the step-by-step parser's
    exact semantics: whole-token/lone-R reference test (with comments
    permitted between tokens, as skip_ws treated them), number fallback
    chain, keyword lone-token test, name #-escapes."""
    from pdf_extract_spark.pdfmini.objects import Lexer, Name, Ref

    cases = [
        (b"5 0 R", Ref(5, 0)),
        (b"5 % c\n0 % c\nR", Ref(5, 0)),  # comments between ref tokens
        (b"5 0 RT", 5),                   # R not a lone token
        (b"5 0R", 5),                     # '0R' is not an all-digits token
        (b"5 00 R", Ref(5, 0)),
        (b"-5 0 R", -5),                  # negative first: never a ref
        (b"+5 0 R", Ref(5, 0)),           # int('+5') == 5 — historic parity
        (b"5.0 0 R", 5.0),                # real first: never a ref
        (b"5 0.5 R", 5),                  # gen not all digits
        (b"true", True),
        (b"false", False),
        (b"null", None),
        (b"/Name#20x", Name("Name x")),
        (b"2. 1 R", 2.0),                 # '.'-bearing parses float
        # malformed number falls back to int 0, which (being a
        # non-negative int) still takes the ref tail — historic parity
        (b"5x 0 R", Ref(0, 0)),
    ]
    for data, want in cases:
        got = Lexer(data).read_object()
        assert got == want and type(got) is type(want), (data, got, want)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        Lexer(b"trueish").read_object()


def test_content_stray_comma_is_unknown_operator():
    """',' sits between '+' (0x2B) and '.' (0x2E): an unescaped [+-.]
    range in the number pattern would swallow it as a malformed number.
    It must tokenize as an unknown operator that flushes operands, like
    the reference's lopdf Content::decode treats any non-keyword run."""
    ops = decode_content(b"BT 1 ,2 Td (x) Tj ET")
    names = [op for op, _ in ops]
    # ',2' is an (ignored-later) unknown operator carrying the stranded 1
    assert names == ["BT", ",2", "Td", "Tj", "ET"]
    assert ops[1][1] == [1]      # flushed by the unknown operator
    assert ops[2][1] == []       # ',2' swallowed the run; Td gets nothing
    # a comma INSIDE a numeric token still parses by read_number fallback
    # (whole regular token -> int fails -> float fails -> 0)
    assert decode_content(b"1,5 0 Td") == [("Td", [0, 0])]


def test_content_inline_image_skipped():
    data = b"BT ET BI /W 2 /H 2 ID \x00\xff\x01\x02 EI 1 0 0 1 0 0 cm"
    ops = decode_content(data)
    assert ("BI", []) in ops
    assert ops[-1][0] == "cm"


def _typed(x):
    """A value with its exact types, so b"a" never passes for PdfString."""
    if isinstance(x, (list, tuple)):
        return type(x).__name__, [_typed(e) for e in x]
    if isinstance(x, dict):
        return "dict", {k: _typed(v) for k, v in x.items()}
    return type(x).__name__, x


S = PdfString


@pytest.mark.parametrize(
    "data, want",
    [
        # a plain string and a lone Tj, with no space or with a comment between
        (b"(a)Tj", [("Tj", [S(b"a")])]),
        (b"(a) %c\n Tj", [("Tj", [S(b"a")])]),
        (b"(a) Tj %c", [("Tj", [S(b"a")])]),
        (b"(a) Tjx", [("Tjx", [S(b"a")])]),  # not a lone Tj
        # an unbalanced '[' flushes with the top-level operands
        (b"[(a) Tj", [("Tj", [])]),
        (b"] 1 Td", [("Td", [1])]),  # stray ']' skipped
        (b"<< /K 1 >> BDC", [("BDC", [{"K": 1}])]),
        # escaped and nested literal strings go through the Lexer
        (b"(a\\)b) Tj", [("Tj", [S(b"a)b")])]),
        (b"(a(b)c) Tj", [("Tj", [S(b"a(b)c")])]),
        (b"BI /W 1 ID x EI", [("BI", [])]),  # EI at the very end
        (b"BI ID xEIx EI Q", [("BI", []), ("Q", [])]),
        (b"1_0 0 Td", [("Td", [10, 0])]),  # int('1_0') == 10: historic parity
        (b"/F1 9 Tf (a) Tj", [("Tf", [Name("F1"), 9]), ("Tj", [S(b"a")])]),
        # a non-finite number reads like a malformed one: 0, or 0.0 with a '.'
        (b"-nan 0 0 +inf 0 0 cm", [("cm", [0, 0, 0, 0, 0, 0])]),
        (b"1e999 -Infinity 1.5e999 Td", [("Td", [0, 0, 0.0])]),
        pytest.param(b"[" * 100_000 + b"(a) Tj", [("Tj", [])], id="unterminated-100000-deep-nest"),
        # a malformed `<<` operand is lexed again from its second byte,
        # which starts a hex string; also when the data ends on a key
        (b"<< /A foo >> BDC", [("BDC", [S(b"\xaf")])]),
        (b"<</A 1/B(>Q)/C", [("Q", [S(b"\xa1\xb0")])]),
    ],
)
def test_content_tokenizer_edge_cases(data, want):
    assert _typed(decode_content(data)) == _typed(want)


def test_lexer_deep_unterminated_nest():
    depth = 100_000
    obj = Lexer(b"[" * depth).read_object()
    for _ in range(depth - 1):
        assert type(obj) is list and len(obj) == 1
        obj = obj[0]
    assert obj == []


def test_long_digit_run_under_the_lowest_int_digit_limit():
    # 640 is the lowest limit int() can be given; a longer all-digits run
    # takes the general number rule instead of raising out of the lexer
    import sys

    if not hasattr(sys, "set_int_max_str_digits"):
        pytest.skip("int() has no digit limit before Python 3.11")
    old = sys.get_int_max_str_digits()
    sys.set_int_max_str_digits(640)
    try:
        assert decode_content(b"1" * 700 + b" 2 Td") == [("Td", [0, 2])]
        assert _parse(b"5 " + b"0" * 700 + b" R") == 5
    finally:
        sys.set_int_max_str_digits(old)


def test_negative_length_reads_like_a_missing_one():
    src = b"1 0 obj << /Length -3 >> stream\nabcdef\nendstream\nendobj"
    lex = Lexer(src)
    _num, _gen, obj = lex.read_indirect_object()
    assert obj.raw == b"abcdef" and lex.pos == len(src)
    # an indirect /Length that resolves negative keeps the scanned body
    b = PdfBuilder()
    length = b.add(b"-3")
    content = b"BT /F1 12 Tf 72 720 Td (negative) Tj ET"
    c = b.add(b"<< /Length %d 0 R >>\nstream\n" % length + content + b"\nendstream")
    font = b.add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    page = b.add(b"<< /Type /Page /Parent 5 0 R /Contents %d 0 R /Resources << /Font << /F1 %d 0 R >> >> >>" % (c, font))
    b.add(b"<< /Type /Pages /Kids [%d 0 R] /Count 1 /MediaBox [0 0 612 792] >>" % page)
    doc = load_mem(b.build(b.add(b"<< /Type /Catalog /Pages 5 0 R >>")))
    assert doc.get_page_content(doc.get_pages()[0]) == content


# Runs in a child with a 1 GiB address-space cap and a 10 s timeout, so a
# parser loop that never ends fails this test instead of hanging the suite.
_EXTRACT_CHILD = """
import resource, sys, time
resource.setrlimit(resource.RLIMIT_AS, (1 << 30, 1 << 30))
from pdf_extract_spark.extract import extract_spans_flat_from_mem
pdf = sys.stdin.buffer.read()
t0 = time.perf_counter()
r = extract_spans_flat_from_mem(pdf)
print(repr((time.perf_counter() - t0, r[5], r[1])))
"""


@pytest.mark.parametrize("w", [b"[0 0 0]", b"[1 -1 0]", b"[1 2 true]", b"(x)"])
def test_malformed_xref_stream_widths_fall_back_to_the_scan(w):
    import ast
    import os
    import subprocess
    import sys

    b = PdfBuilder()
    c = b.add_stream("", b"BT /F1 12 Tf 72 720 Td (widths) Tj ET")
    b.add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    b.add(b"<< /Type /Page /Parent 4 0 R /Contents %d 0 R /Resources << /Font << /F1 2 0 R >> >> >>" % c)
    b.add(b"<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>")
    classic = b.build(b.add(b"<< /Type /Catalog /Pages 4 0 R >>"))
    out = bytearray(classic[: classic.index(b"xref\n")])
    xref_pos = len(out)
    rows = bytes(12)
    out += (
        b"6 0 obj\n<< /Type /XRef /Size 7 /W " + w + b" /Root 5 0 R /Length %d >>\nstream\n" % len(rows)
        + rows + b"\nendstream\nendobj\nstartxref\n%d\n%%%%EOF" % xref_pos
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    res = subprocess.run(
        [sys.executable, "-c", _EXTRACT_CHILD], input=bytes(out), capture_output=True,
        cwd=repo, timeout=10, check=True,
    )
    elapsed, error, texts = ast.literal_eval(res.stdout.decode())
    assert error is None and "widths" in texts, (error, texts)
    assert elapsed < 2.0, elapsed


# Same cap and timeout, for the lexer alone: prints (elapsed, result), the
# result being the object read, or the operators of a content stream.
_LEX_CHILD = """
import resource, sys, time
resource.setrlimit(resource.RLIMIT_AS, (1 << 30, 1 << 30))
from pdf_extract_spark.pdfmini.content import decode_content
from pdf_extract_spark.pdfmini.objects import Lexer
data = sys.stdin.buffer.read()
t0 = time.perf_counter()
if sys.argv[1] == "object":
    r = Lexer(data).read_object()
else:
    r = [op for op, _operands in decode_content(data)]
print(repr((time.perf_counter() - t0, r)))
"""


@pytest.mark.parametrize(
    "mode, data, want",
    [
        # every `>>` finds the key /K waiting for a value
        pytest.param("object", b"<< " + b"/K >> " * 50_000, {"K": None}, id="object-waiting-key"),
        pytest.param("content", b"/T << " + b"/K >> " * 50_000 + b"BDC", ["BDC"], id="operand-waiting-key"),
        # a `<<` operand that fails with 50,000 `<<` open inside it, or
        # with 900 open and a long tail after them
        pytest.param("content", b"<< <a> " * 50_000 + b"x", ["x"], id="operand-nest-fails"),
        pytest.param(
            "content", b"<< <a> " * 900 + b"<a> " * 50_000 + b"x", ["x"], id="operand-tail-fails"
        ),
        # 50,000 `<` read as `<<` operands at both byte alignments
        pytest.param("content", b"<" * 50_000 + b"x", [], id="operand-run-of-lt"),
    ],
)
def test_hostile_dict_frames_cost_linear_time(mode, data, want):
    import ast
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    res = subprocess.run(
        [sys.executable, "-c", _LEX_CHILD, mode], input=data, capture_output=True,
        cwd=repo, timeout=10, check=True,
    )
    elapsed, got = ast.literal_eval(res.stdout.decode())
    assert got == want
    assert elapsed < 2.0, elapsed


def test_builder_roundtrip_offsets():
    b = PdfBuilder()
    b.add(b"<< /Type /Catalog >>")
    pdf = b.build(1)
    doc = load_mem(pdf)
    assert doc.trailer["Size"] == 2
