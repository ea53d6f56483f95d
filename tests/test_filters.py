"""Unit tests for PDF stream filters (pdfmini.filters).

Mirrors the reference's reliance on lopdf filter decode + the raw-bytes
fallback on error (/root/reference/src/lib.rs:1255-1261).
"""

import zlib

from pdf_extract_spark.pdfmini.filters import (
    apply_predictor,
    ascii85_decode,
    asciihex_decode,
    decode_stream,
    flate_decode,
    lzw_decode,
    runlength_decode,
)


def test_flate_roundtrip():
    data = b"BT (hello) Tj ET" * 10
    z = zlib.compress(data)
    assert flate_decode(z) == data
    # trailing junk after the end of the stream is ignored
    assert flate_decode(z + b"\r\nendstream junk") == data
    # a truncated stream yields the prefix it does hold
    cut = flate_decode(z[: len(z) // 2])
    assert cut and data.startswith(cut)


def test_asciihex():
    assert asciihex_decode(b"48 65 6c 6C 6f>") == b"Hello"
    # odd digit count -> padded with 0
    assert asciihex_decode(b"486>") == b"H`"


def test_ascii85():
    import base64

    for payload in [b"Hello, World!", b"x", b"ab", b"abc", b"abcd", b"\0\0\0\0"]:
        enc = base64.a85encode(payload)
        assert ascii85_decode(enc) == payload
    assert ascii85_decode(b"<~87cUR~>") == b"Hell"


def test_runlength():
    # literal run of 3 bytes, then 4x 'a', then EOD
    assert runlength_decode(b"\x02abc" + bytes([253]) + b"a" + b"\x80") == b"abcaaaa"


from pdf_extract_spark.fixtures import lzw_encode as _lzw_encode


def test_lzw_roundtrip():
    for payload in [b"TOBEORNOTTOBEORTOBEORNOT", b"aaaaaaaaaaaaaaaaaaaaa", b"BT (x) Tj ET" * 40]:
        assert lzw_decode(_lzw_encode(payload)) == payload


def test_lzw_width_boundaries():
    """Low-redundancy payloads crossing every code-width bump (9->10 at
    table len 511, 10->11 at 1023, 11->12 at 2047) and the 4096 table-full
    clear; sizes chosen so each boundary is straddled."""
    import random

    rng = random.Random(0xC0DE)
    for size in (300, 600, 1500, 3000, 8000, 20000, 60000):
        payload = bytes(rng.randrange(256) for _ in range(size))
        assert lzw_decode(_lzw_encode(payload)) == payload, size
    # and a compressible payload long enough to fill the 12-bit table
    payload = (b"the quick brown fox jumps over the lazy dog 0123456789 " * 2000)
    assert lzw_decode(_lzw_encode(payload)) == payload


def test_lzw_known_vector():
    """PDF 32000-1:2008 §7.4.4.2 example: the 9-bit sample stream."""
    # data: 45 45 45 45 45 65 45 45 45 66 encodes (EarlyChange irrelevant,
    # table stays tiny) to codes 256,45,258,258,65,259,257 -> bytes below.
    encoded = bytes([0x80, 0x0B, 0x60, 0x50, 0x22, 0x0C, 0x0C, 0x85, 0x01])
    assert lzw_decode(encoded) == bytes([45, 45, 45, 45, 45, 65, 45, 45, 45, 66])


def test_png_predictor_up():
    # two rows of 4 bytes, Up filter: row2 = stored + row1
    raw = bytes([2, 1, 1, 1, 1, 2, 1, 1, 1, 1])
    out = apply_predictor(raw, {"Predictor": 12, "Columns": 4})
    assert out == bytes([1, 1, 1, 1, 2, 2, 2, 2])


def test_decode_stream_error_falls_back_to_raw():
    bad = b"not really compressed"
    assert decode_stream(bad, "FlateDecode", None) == bad


def test_decode_stream_chain():
    data = b"chained"
    enc = zlib.compress(data).hex().encode() + b">"
    assert decode_stream(enc, ["ASCIIHexDecode", "FlateDecode"], None) == data
