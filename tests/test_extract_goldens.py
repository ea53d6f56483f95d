"""End-to-end span-sequence equality over the deterministic fixture corpus.

This is the correctness gate from BASELINE.json: per-document span-sequence
equality (kind, text, media_ref, order) vs hand-derived goldens replicating
the reference's extract_to_string semantics (lib.rs:2131-2200), plus the
don't-crash sweep mirroring /root/reference/tests/tests.rs:25-35.
"""

import pytest

from pdf_extract_spark.device import spans_to_text
from pdf_extract_spark.extract import (
    extract_spans_by_pages,
    extract_spans_flat_from_mem,
    extract_spans_from_mem,
    extract_spans_page_range,
    extract_text_from_mem,
)
from pdf_extract_spark.fixtures import FIXTURES, corpus, fx_xobject_form


@pytest.mark.parametrize("name", sorted(FIXTURES))
def test_golden_text(name):
    pdf, expected = FIXTURES[name]()
    if isinstance(expected, tuple):
        expected = expected[0]
    assert extract_text_from_mem(pdf) == expected


@pytest.mark.parametrize("name", sorted(FIXTURES))
def test_spans_roundtrip_and_schema(name):
    pdf, expected = FIXTURES[name]()
    if isinstance(expected, tuple):
        expected = expected[0]
    r = extract_spans_from_mem(pdf)
    assert r.error is None
    assert r.pages >= 1
    # schema + ordering invariants
    last_offset = -1
    for s in r.spans:
        assert set(s) == {"kind", "text", "media_ref", "offset"}
        assert s["kind"] in ("text", "para", "media")
        assert s["offset"] >= last_offset
        last_offset = s["offset"]
        if s["kind"] == "media":
            assert s["media_ref"] != "" and s["text"] == ""
        else:
            assert s["media_ref"] == ""
    # reducer parity: spans -> text equals the golden
    assert spans_to_text(r.spans) == expected


def test_media_spans():
    pdf, (expected_text, media_refs) = fx_xobject_form()
    r = extract_spans_from_mem(pdf)
    assert [s["media_ref"] for s in r.spans if s["kind"] == "media"] == media_refs
    assert spans_to_text(r.spans) == expected_text


def test_dont_crash_sweep():
    """Reference test 2 analogue: every corpus doc extracts without raising."""
    for doc_id, pdf, _expected in corpus(replicas=2):
        r = extract_spans_from_mem(pdf)
        assert r.error is None, f"{doc_id}: {r.error}"


def test_dont_crash_on_garbage():
    for junk in [b"", b"%PDF-1.4", b"\x00" * 100, b"%PDF-1.4\n1 0 obj\n<<"]:
        r = extract_spans_from_mem(junk)
        assert r.spans == [] and r.error is not None


def test_by_pages_concat_matches_whole_doc_for_single_page():
    pdf, expected = FIXTURES["simple_tj"]()
    pages = extract_spans_by_pages(pdf)
    assert len(pages) == 1
    assert spans_to_text(pages[0]) == expected


def test_multipage_by_pages_fresh_state():
    """by-pages resets device state per page (fresh Processor per page,
    lib.rs:2396): each page independently gets its leading newlines."""
    pdf, _ = FIXTURES["multipage"]()
    pages = extract_spans_by_pages(pdf)
    assert len(pages) == 2
    assert spans_to_text(pages[0]) == "\n\npage one"
    assert spans_to_text(pages[1]) == "\n\npage two"


def test_by_pages_tolerates_name_in_media_box():
    """A MediaBox entry that is not a number reads as 0 on every path:
    the by-pages APIs share output_doc's page setup instead of raising."""
    pdf, _ = FIXTURES["simple_tj"]()
    bad = pdf.replace(b"/MediaBox [0 0 612 792]", b"/MediaBox [0 0 612 /FF]")
    assert bad != pdf and len(bad) == len(pdf)  # xref offsets still hold
    whole = extract_spans_from_mem(bad)
    assert whole.error is None and whole.pages == 1
    assert extract_spans_flat_from_mem(bad)[4:] == (1, None)
    assert extract_spans_by_pages(bad) == [whole.spans]
    assert extract_spans_page_range(bad, 1, 1) == [(1, whole.spans)]


def test_offsets_are_char_offsets_into_plain_text():
    pdf, expected = FIXTURES["simple_tj"]()
    r = extract_spans_from_mem(pdf)
    text = spans_to_text(r.spans)
    for s in r.spans:
        if s["kind"] == "text":
            assert text[s["offset"] : s["offset"] + len(s["text"])] == s["text"]


def test_encrypted_wrong_password_is_typed_error():
    """A doc with a NON-empty user password must fail with a typed error
    (maybe_decrypt parity, lib.rs:2230-2244) -> decode_failure, not crash."""
    import hashlib
    import struct

    from pdf_extract_spark.pdfmini.crypt import (
        compute_file_key,
        compute_owner_value,
        compute_user_value,
        rc4,
    )
    from pdf_extract_spark.fixtures import PdfBuilder, _HELV

    doc_id = bytes(range(16))
    o = compute_owner_value(user_pw=b"letmein", r=3, n=16)
    key = compute_file_key(b"letmein", o, -1, doc_id, r=3, n=16)
    u = compute_user_value(key, doc_id, r=3)
    okey = hashlib.md5(
        key + struct.pack("<I", 1)[:3] + struct.pack("<I", 0)[:2]
    ).digest()[:16]
    b = PdfBuilder()
    c = b.add_stream("", rc4(okey, b"BT /F1 12 Tf 72 720 Td (hidden) Tj ET"))
    page = b.add(b"")
    pages = b.add(
        (
            f"<< /Type /Pages /Kids [{page} 0 R] /Count 1 /MediaBox [0 0 612 792] >>"
        ).encode("latin-1")
    )
    b.objects[page - 1] = (
        f"<< /Type /Page /Parent {pages} 0 R /Contents {c} 0 R "
        f"/Resources << /Font {_HELV} >> >>"
    ).encode("latin-1")
    catalog = b.add(f"<< /Type /Catalog /Pages {pages} 0 R >>".encode("latin-1"))
    enc_obj = b.add(
        (
            f"<< /Filter /Standard /V 2 /R 3 /Length 128 /P -1 "
            f"/O <{o.hex()}> /U <{u.hex()}> >>"
        ).encode("latin-1")
    )
    pdf = b.build(
        catalog,
        extra_trailer=f"/Encrypt {enc_obj} 0 R /ID [<{doc_id.hex()}> <{doc_id.hex()}>]",
    )
    r = extract_spans_from_mem(pdf)
    assert r.error is not None and "EncryptedPdfError" in r.error
    # with the right password it extracts
    from pdf_extract_spark.extract import extract_text_from_mem_encrypted

    assert extract_text_from_mem_encrypted(pdf, "letmein") == "\n\nhidden"
