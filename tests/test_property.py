"""Property-based tests (hypothesis) for the byte-level layers — the
reference has no property tests (SURVEY.md §5); these harden the paths
where hand-picked fixtures can miss edge bytes."""

import base64
import zlib

from hypothesis import given, settings
from hypothesis import strategies as st

from pdf_extract_spark.fixtures import lzw_encode
from pdf_extract_spark.pdfmini.filters import (
    ascii85_decode,
    asciihex_decode,
    flate_decode,
    lzw_decode,
    runlength_decode,
)
from pdf_extract_spark.pdfmini.content import decode_content
from pdf_extract_spark.pdfmini.objects import Lexer, Name, PdfString, Ref

payload = st.binary(min_size=0, max_size=512)


@given(payload)
@settings(max_examples=200, deadline=None)
def test_flate_roundtrip(data):
    assert flate_decode(zlib.compress(data)) == data


@given(payload)
@settings(max_examples=200, deadline=None)
def test_asciihex_roundtrip(data):
    assert asciihex_decode(data.hex().encode() + b">") == data


@given(payload)
@settings(max_examples=200, deadline=None)
def test_ascii85_roundtrip(data):
    assert ascii85_decode(base64.a85encode(data)) == data


@given(payload)
@settings(max_examples=200, deadline=None)
def test_lzw_roundtrip(data):
    assert lzw_decode(lzw_encode(data)) == data


def _rle_encode(data: bytes) -> bytes:
    """Simple literal-only RunLength encoder (always valid per spec)."""
    out = bytearray()
    for i in range(0, len(data), 64):
        chunk = data[i : i + 64]
        out.append(len(chunk) - 1)
        out += chunk
    out.append(128)
    return bytes(out)


@given(st.binary(min_size=1, max_size=512))
@settings(max_examples=200, deadline=None)
def test_runlength_roundtrip(data):
    assert runlength_decode(_rle_encode(data)) == data


def _escape_literal(data: bytes) -> bytes:
    out = bytearray(b"(")
    for b in data:
        if b in b"()\\":
            out += b"\\" + bytes([b])
        elif b == 0x0D:
            out += b"\\r"
        else:
            out.append(b)
    out += b")"
    return bytes(out)


@given(payload)
@settings(max_examples=300, deadline=None)
def test_literal_string_roundtrip(data):
    """Any byte payload escaped into a literal string lexes back exactly."""
    obj = Lexer(_escape_literal(data)).read_object()
    assert isinstance(obj, PdfString)
    assert bytes(obj) == data


@given(st.binary(min_size=0, max_size=64))
@settings(max_examples=200, deadline=None)
def test_hex_string_roundtrip(data):
    obj = Lexer(b"<" + data.hex().encode() + b">").read_object()
    assert bytes(obj) == data


# Random object trees as (value, tokens): nested arrays and dicts over names
# with #xx escapes, plain/escaped/hex strings, ints, reals, refs, booleans
# and null.  Serialized with random whitespace and comments between tokens,
# they must read back type-exactly through the one lexer, as an object and
# as a content-stream operand.
_DELIMS = b"()<>[]{}/%"
_WS = b"\x00\t\n\x0c\r "


@st.composite
def _pdf_name(draw):
    raw = draw(st.binary(max_size=8))
    escape = draw(st.lists(st.booleans(), min_size=len(raw), max_size=len(raw)))
    tok = b"/" + b"".join(
        b"#%02x" % c if e or c == 0x23 or c in _DELIMS or c in _WS else bytes([c])
        for c, e in zip(raw, escape)
    )
    return raw.decode("latin-1"), tok


@st.composite
def _pdf_scalar(draw):
    kind = draw(st.sampled_from(["null", "bool", "int", "real", "name", "plain", "escaped", "hex", "ref"]))
    if kind == "null":
        return None, [b"null"]
    if kind == "bool":
        v = draw(st.booleans())
        return v, [b"true" if v else b"false"]
    if kind == "int":
        v = draw(st.integers(-(2**40), 2**40))
        return v, [b"%d" % v]
    if kind == "real":
        v = draw(st.floats(allow_nan=False, allow_infinity=False))
        return v, [repr(v).encode()]
    if kind == "name":
        text, tok = draw(_pdf_name())
        return Name(text), [tok]
    if kind == "plain":
        v = draw(st.binary(max_size=12).map(lambda b: b.translate(None, b"\\()")))
        return PdfString(v), [b"(" + v + b")"]
    if kind == "escaped":
        v = draw(st.binary(max_size=12))
        return PdfString(v), [_escape_literal(v)]
    if kind == "hex":
        v = draw(st.binary(max_size=12))
        h = v.hex().encode()
        return PdfString(v), [b"<" + (h.upper() if draw(st.booleans()) else h) + b">"]
    num, gen = draw(st.integers(0, 10**6)), draw(st.integers(0, 65535))
    return Ref(num, gen), [b"%d" % num, b"%d" % gen, b"R"]


def _pdf_composite(children):
    def array(items):
        return [v for v, _ in items], [b"["] + [t for _, ts in items for t in ts] + [b"]"]

    def dictionary(entries):
        d, toks = {}, [b"<<"]
        for (key, key_tok), (v, ts) in entries:
            d[key] = v
            toks += [key_tok] + ts
        return d, toks + [b">>"]

    return st.one_of(
        st.lists(children, max_size=5).map(array),
        st.lists(st.tuples(_pdf_name(), children), max_size=5).map(dictionary),
    )


_pdf_tree = st.recursive(_pdf_scalar(), _pdf_composite, max_leaves=25)
_separator = st.sampled_from([b" ", b"\n", b"\r\n", b"\t", b"\x0c", b"\x00", b"  ", b" %c\n", b"%x\r"])


def _serialize(draw, toks):
    out = []
    for i, t in enumerate(toks):
        out.append(t)
        # a separator between tokens (and sometimes none where a
        # delimiter already separates them)
        if i + 1 < len(toks):
            nxt = toks[i + 1]
            needed = (t[0] == 0x2F or t[-1] not in _DELIMS) and nxt[0] not in _DELIMS
            if needed or draw(st.booleans()):
                out.append(draw(_separator))
    return b"".join(out)


def _exact(x):
    """A value with its exact types, dict key types included."""
    if isinstance(x, (list, tuple)):
        return type(x).__name__, [_exact(e) for e in x]
    if isinstance(x, dict):
        return "dict", [(type(k).__name__, k, _exact(v)) for k, v in x.items()]
    if isinstance(x, Ref):
        return "Ref", x.num, x.gen
    return type(x).__name__, x


@given(_pdf_tree, st.data())
@settings(max_examples=300, deadline=None)
def test_object_tree_reads_back_exactly(tree, data):
    value, toks = tree
    src = _serialize(data.draw, toks)
    lead = data.draw(_separator)
    lex = Lexer(lead + src + data.draw(_separator) + b"endobj")
    assert _exact(lex.read_object()) == _exact(value)
    assert lex.pos == len(lead) + len(src)
    ops = decode_content(b"/Tag << /V " + src + b" >> BDC")
    assert _exact(ops) == _exact([("BDC", [Name("Tag"), {"V": value}])])


@given(st.lists(st.integers(min_value=-(2**31), max_value=2**31 - 1), max_size=20))
@settings(max_examples=200, deadline=None)
def test_integer_array_roundtrip(xs):
    src = b"[" + b" ".join(str(x).encode() for x in xs) + b"]"
    # consecutive non-negative ints can lex as refs only with a trailing R;
    # plain arrays must come back as the same ints
    obj = Lexer(src).read_object()
    assert obj == xs


@given(st.binary(min_size=0, max_size=256))
@settings(max_examples=150, deadline=None)
def test_extractor_never_raises(data):
    """Garbage-in: extract_spans_from_mem must always return a result
    object, never raise (per-doc fault isolation contract)."""
    from pdf_extract_spark.extract import extract_spans_from_mem

    r = extract_spans_from_mem(b"%PDF-1.4\n" + data)
    assert r.error is None or isinstance(r.error, str)


def test_mutation_sweep_never_raises_or_hangs():
    """Seeded byte-mutation sweep over EVERY fixture family: truncations,
    flips and splices must surface as error rows (or degraded spans),
    never exceptions — the skip-not-crash contract at corpus scale, where
    a single poison document must not fail a 10^6-doc task."""
    import random
    import time

    from pdf_extract_spark.extract import extract_spans_flat_from_mem
    from pdf_extract_spark.fixtures import FIXTURES

    rng = random.Random(0xFADE)
    t0 = time.perf_counter()
    n_cases = 0
    for name, fn in sorted(FIXTURES.items()):
        pdf, _ = fn()
        variants = [
            pdf[: len(pdf) // 3],
            pdf[: 2 * len(pdf) // 3],
            pdf[len(pdf) // 4 :],               # header gone -> brute scan
            pdf.replace(b"startxref", b"stXrtxref", 1),
        ]
        for _ in range(4):  # random flips/splices
            b = bytearray(pdf)
            for _ in range(rng.randrange(1, 9)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            variants.append(bytes(b))
        for v in variants:
            kinds, _t, _m, offsets, pages, error = extract_spans_flat_from_mem(v)
            n_cases += 1
            assert error is None or isinstance(error, str)
            assert len(kinds) == len(offsets)
            assert pages >= 0
    # bounded wall time: no pathological O(n^2)/hang on malformed input
    assert time.perf_counter() - t0 < 120, "mutation sweep too slow"
    assert n_cases == len(FIXTURES) * 8


@given(st.binary(max_size=2048))
@settings(max_examples=300, deadline=None)
def test_decode_content_never_raises(data):
    """The regex-scanner content tokenizer must be total: any byte soup
    tokenizes to a list without raising and always terminates."""
    from pdf_extract_spark.pdfmini.content import decode_content

    ops = decode_content(data)
    assert isinstance(ops, list)
    for op, operands in ops:
        assert isinstance(op, str) and isinstance(operands, list)


def test_decode_content_token_shapes():
    """Spot-parity with the PDF content grammar: numbers (incl. the
    int->float->0 malformed fallback), names with #-escapes, nested TJ
    arrays, strings with escapes, booleans/null, stray delimiters, dicts,
    comments, and BI..EI skipping."""
    from pdf_extract_spark.pdfmini.content import decode_content
    from pdf_extract_spark.pdfmini.objects import Name, PdfString

    ops = decode_content(
        b"% comment\n"
        b"1 0 0 1 72 720 cm "
        b"/bad#zz#4 name "
        b"/F0#41 12 Tf "
        b"[(a) -120 (b \\(c\\)) 4.5e2] TJ "
        b"5x 2. -.5 junk "
        b"true false null flags "
        b"<< /K 1 >> <414243> dictop "
        b"BI /W 2 ID \xff\xfe EI (after) Tj "
        b") ] } stray"
    )
    d = dict()
    for op, operands in ops:
        d.setdefault(op, operands)
    assert d["cm"] == [1, 0, 0, 1, 72, 720]
    # malformed #-escapes keep the literal '#' instead of raising
    assert d["name"] == [Name("bad#zz#4")]
    assert d["Tf"] == [Name("F0A"), 12]
    tj = d["TJ"][0]
    assert tj[0] == PdfString(b"a") and tj[1] == -120
    assert tj[2] == PdfString(b"b (c)") and tj[3] == 4.5e2
    # malformed numeric tokens mirror Lexer.read_number: 5x -> 0, 2. -> 2.0
    assert d["junk"] == [0, 2.0, -0.5]
    assert d["flags"] == [True, False, None]
    assert d["dictop"] == [{"K": 1}, PdfString(b"ABC")]
    assert ("BI", []) in ops
    assert d["Tj"] == [PdfString(b"after")]
    assert d["stray"] == []


# ---------------------------------------------------------------------------
# Media decoder roundtrips: random spec-encoded images must decode
# bit-exactly (the encoders are independent spec implementations, so this
# is an encoder<->decoder differential test, not a self-check)
# ---------------------------------------------------------------------------


@given(
    rows=st.integers(1, 3),
    cols=st.integers(1, 4),
    color=st.booleans(),
    data=st.data(),
)
@settings(max_examples=40, deadline=None)
def test_jpeg_roundtrip_random_grids(rows, cols, color, data):
    import numpy as np

    from pdf_extract_spark.operators.jpeg import decode_jpeg
    from pdf_extract_spark.sources.media_corpus import make_jpeg

    grid = [
        [data.draw(st.integers(0, 255)) for _ in range(cols)] for _ in range(rows)
    ]
    img = decode_jpeg(make_jpeg(grid, color))
    assert img.shape == (rows * 8, cols * 8, 3)
    for r in range(rows):
        for c in range(cols):
            blk = img[r * 8 : (r + 1) * 8, c * 8 : (c + 1) * 8]
            assert (blk == grid[r][c]).all(), (r, c, np.unique(blk))


@given(
    rows=st.integers(1, 2),
    cols=st.integers(1, 2),
    data=st.data(),
)
@settings(max_examples=20, deadline=None)
def test_jpeg_roundtrip_420(rows, cols, data):
    from pdf_extract_spark.operators.jpeg import decode_jpeg
    from pdf_extract_spark.sources.media_corpus import make_jpeg

    grid = [
        [data.draw(st.integers(0, 255)) for _ in range(cols * 2)]
        for _ in range(rows * 2)
    ]
    img = decode_jpeg(make_jpeg(grid, subsample420=True))
    for r in range(rows * 2):
        for c in range(cols * 2):
            assert (img[r * 8 : (r + 1) * 8, c * 8 : (c + 1) * 8] == grid[r][c]).all()


@given(w=st.integers(1, 40), h=st.integers(1, 25), bits=st.integers(2, 5))
@settings(max_examples=40, deadline=None)
def test_gif_roundtrip_random_dims(w, h, bits):
    import numpy as np

    from pdf_extract_spark.operators.gif import decode_gif
    from pdf_extract_spark.sources.media_corpus import gif_gray, make_gif

    img = decode_gif(make_gif(w, h, bits))
    expect = np.array(
        [[gif_gray(bits, x, y) for x in range(w)] for y in range(h)], dtype=np.uint8
    )
    assert (img == expect[:, :, None]).all()


@given(w=st.integers(1, 24), h=st.integers(1, 24), ct=st.sampled_from([0, 2, 6]))
@settings(max_examples=40, deadline=None)
def test_png_roundtrip_random_dims(w, h, ct):
    from pdf_extract_spark.operators.multimodal import _decode_png
    from pdf_extract_spark.sources.media_corpus import make_png, png_pixel

    img = _decode_png(make_png(w, h, ct))
    assert img.shape == (h, w, 3)
    for y in range(h):
        for x in range(w):
            assert (img[y, x] == png_pixel(x, y)).all()


@given(
    seed=st.integers(0, 10_000),
    ct=st.sampled_from([0, 2, 6]),
)
@settings(max_examples=50, deadline=None)
def test_png_roundtrip_random_content_and_filters(seed, ct):
    """Arbitrary pixel content under randomly-chosen per-row filters must
    decode verbatim: the fixed y%5 fixture schedule can mask a filter bug
    that only shows against content it was never chosen for (e.g. Paeth
    ties on noise, Average carries on saturated rows)."""
    import numpy as np

    from pdf_extract_spark.operators.multimodal import _decode_png
    from pdf_extract_spark.sources.media_corpus import make_png_raw

    rng = np.random.default_rng(seed)
    nch = {0: 1, 2: 3, 6: 4}[ct]
    w, h = int(rng.integers(1, 24)), int(rng.integers(1, 24))
    pixels = rng.integers(0, 256, size=(h, w, nch), dtype=np.uint16).astype(np.uint8)
    if ct == 6:
        pixels[:, :, 3] = 255  # decoder drops alpha; keep it neutral
    filters = rng.integers(0, 5, size=h).tolist()
    img = _decode_png(make_png_raw(pixels, color_type=ct, filters=filters))
    assert img.shape == (h, w, 3)
    if ct == 0:
        expect = np.repeat(pixels, 3, axis=2)
    else:
        expect = pixels[:, :, :3]
    assert (img == expect).all(), (seed, ct, filters[:5])


@given(
    seed=st.integers(0, 10_000),
    ct=st.sampled_from([0, 2, 6]),
)
@settings(max_examples=50, deadline=None)
def test_png_adam7_roundtrip(seed, ct):
    """Adam7-interlaced streams decode verbatim: seven independently
    filtered sub-images scattered back onto the pass grid, including
    dimensions small enough that some passes are empty (w or h < 5
    leaves pass 2/3/... with zero pixels and no bytes)."""
    import numpy as np

    from pdf_extract_spark.operators.multimodal import _decode_png
    from pdf_extract_spark.sources.media_corpus import make_png_raw

    rng = np.random.default_rng(seed)
    nch = {0: 1, 2: 3, 6: 4}[ct]
    w, h = int(rng.integers(1, 24)), int(rng.integers(1, 24))
    pixels = rng.integers(0, 256, size=(h, w, nch), dtype=np.uint16).astype(np.uint8)
    if ct == 6:
        pixels[:, :, 3] = 255
    img = _decode_png(make_png_raw(pixels, color_type=ct, interlace=True))
    plain = _decode_png(make_png_raw(pixels, color_type=ct))
    assert (img == plain).all(), (seed, ct, w, h)
    expect = np.repeat(pixels, 3, axis=2) if ct == 0 else pixels[:, :, :3]
    assert (img == expect).all(), (seed, ct, w, h)
