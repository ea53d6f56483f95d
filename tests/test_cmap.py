"""CMap parsing: ToUnicode bfchar/bfrange maps and CID encoding CMaps
(codespacerange, cidrange, cidchar)."""

import ast
import os
import subprocess
import sys

import pytest

from pdf_extract_spark.fixtures import PdfBuilder
from pdf_extract_spark.fonts import parse_byte_mapping, parse_tounicode_cmap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_fixture_cmap_with_procset_preamble():
    # the tounicode_cmap fixture's stream, preamble included
    cmap = (
        b"/CIDInit /ProcSet findresource begin\n"
        b"begincmap\n"
        b"1 begincodespacerange <00> <ff> endcodespacerange\n"
        b"1 beginbfchar <41> <0048> endbfchar\n"
        b"1 beginbfrange <42> <43> <0065> endbfrange\n"
        b"endcmap end\n"
    )
    assert parse_tounicode_cmap(cmap) == {0x41: "H", 0x42: "e", 0x43: "f"}
    assert parse_byte_mapping(cmap) == ([(1, 0, 0xFF)], [])


def test_bfrange_array_destination():
    cmap = b"1 beginbfrange <01> <03> [<0041> <0042> <00660069>] endbfrange"
    assert parse_tounicode_cmap(cmap) == {1: "A", 2: "B", 3: "fi"}


def test_bfrange_increments_last_two_bytes_only():
    cmap = b"1 beginbfrange <10> <12> <004100FE> endbfrange"
    assert parse_tounicode_cmap(cmap) == {0x10: "Aþ", 0x11: "Aÿ", 0x12: "AĀ"}


def test_bfrange_two_byte_destination_overflow_raises():
    with pytest.raises(OverflowError):
        parse_tounicode_cmap(b"1 beginbfrange <0000> <FFFF> <0041> endbfrange")


def test_bfrange_one_byte_destination_is_not_incremented():
    # a 1-byte value is padded to one UTF-16 unit, the same for every code
    cmap = b"1 beginbfrange <20> <22> <41> endbfrange"
    assert parse_tounicode_cmap(cmap) == {0x20: "䄀", 0x21: "䄀", 0x22: "䄀"}


def test_lone_surrogate_entry_is_skipped():
    cmap = (
        b"3 beginbfchar <01> <D800> <02> <0041> <03> <D83DDE00> endbfchar\n"
        b"1 beginbfrange <04> <05> <DC00> endbfrange"
    )
    assert parse_tounicode_cmap(cmap) == {2: "A", 3: "\U0001F600"}


def test_comments_are_not_tokens():
    cmap = (
        b"% <09> <0058> beginbfchar\n"
        b"2 beginbfchar <01> <0041> % <02> <0058>\n"
        b"<02> <0042> endbfchar % trailing\n"
    )
    assert parse_tounicode_cmap(cmap) == {1: "A", 2: "B"}


def test_cidsysteminfo_dictionary_preamble():
    cmap = (
        b"/CIDInit /ProcSet findresource begin 12 dict begin begincmap\n"
        b"/CIDSystemInfo << /Registry (Adobe) /Ordering (UCS) /Supplement 0 >> def\n"
        b"/CMapName /Adobe-Identity-UCS def /CMapType 2 def\n"
        b"1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
        b"1 beginbfchar <0003> <0020> endbfchar\n"
        b"endcmap CMapName currentdict /CMap defineresource pop end end\n"
    )
    assert parse_tounicode_cmap(cmap) == {3: " "}
    assert parse_byte_mapping(cmap) == ([(2, 0, 0xFFFF)], [])


def test_codespace_cidrange_cidchar():
    cmap = (
        b"2 begincodespacerange <00> <80> <8140> <FFFF> endcodespacerange\n"
        b"1 begincidrange <20> <7e> 1 endcidrange\n"
        b"2 begincidchar <8140> 633 <8141> /junk endcidchar\n"
    )
    assert parse_byte_mapping(cmap) == (
        [(1, 0, 0x80), (2, 0x8140, 0xFFFF)],
        [(0x20, 0x7E, 1), (0x8140, 0x8140, 633), (0x8141, 0x8141, 0)],
    )


def test_empty_cmap_gets_default_codespace():
    assert parse_byte_mapping(b"") == ([(2, 0, 0xFFFF)], [])
    assert parse_tounicode_cmap(b"") == {}


def test_section_missing_its_end_keyword():
    tounicode = (
        b"1 beginbfchar <01> <0041>\n"
        b"1 beginbfrange <02> <03> <0042> endbfrange\n"
    )
    assert parse_tounicode_cmap(tounicode) == {1: "A", 2: "B", 3: "C"}
    encoding = (
        b"1 begincodespacerange <00> <ff>\n"
        b"1 begincidrange <20> <7e> 1 endcidrange\n"
    )
    assert parse_byte_mapping(encoding) == ([(1, 0, 0xFF)], [(0x20, 0x7E, 1)])


def test_bfrange_dictionary_destination_maps_nothing():
    # a dictionary is not a destination string: no entry, not junk text
    cmap = b"1 beginbfrange <20> <21> << /A 1 >> endbfrange"
    assert parse_tounicode_cmap(cmap) == {}


def _doc_with_tounicode(cmap: bytes) -> bytes:
    b = PdfBuilder()
    cm = b.add_stream("", cmap)
    c = b.add_stream("", b"BT /F1 12 Tf 72 720 Td (ABC) Tj ET")
    font = b.add(
        f"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /ToUnicode {cm} 0 R >>"
        .encode("latin-1")
    )
    page = b.add(b"")
    pages = b.add(
        f"<< /Type /Pages /Kids [{page} 0 R] /Count 1 /MediaBox [0 0 612 792] >>"
        .encode("latin-1")
    )
    b.objects[page - 1] = (
        f"<< /Type /Page /Parent {pages} 0 R /Contents {c} 0 R "
        f"/Resources << /Font << /F1 {font} 0 R >> >> >>"
    ).encode("latin-1")
    catalog = b.add(f"<< /Type /Catalog /Pages {pages} 0 R >>".encode("latin-1"))
    return b.build(catalog)


# Runs in a child with a 1 GiB address-space cap and a 10 s timeout, so an
# unbounded expansion fails this test instead of exhausting the host.
_EXTRACT_CHILD = """
import resource, sys, time
resource.setrlimit(resource.RLIMIT_AS, (1 << 30, 1 << 30))
from pdf_extract_spark.extract import extract_spans_flat_from_mem
pdf = sys.stdin.buffer.read()
t0 = time.perf_counter()
error = extract_spans_flat_from_mem(pdf)[5]
print(repr((time.perf_counter() - t0, error)))
"""


def test_hostile_bfrange_costs_one_error_row():
    # ~60 bytes of CMap asking for 2^32 entries of a 1-byte destination
    pdf = _doc_with_tounicode(b"1 beginbfrange <00000000> <FFFFFFFF> <41> endbfrange")
    out = subprocess.run(
        [sys.executable, "-c", _EXTRACT_CHILD], input=pdf, capture_output=True,
        cwd=REPO, timeout=10, check=True,
    )
    elapsed, error = ast.literal_eval(out.stdout.decode())
    assert error is not None and error.startswith("ValueError"), error
    assert elapsed < 2.0, elapsed


def test_full_two_byte_bfrange_is_within_the_bound():
    cmap = b"1 beginbfrange <0000> <FFFF> <0000> endbfrange"
    assert len(parse_tounicode_cmap(cmap)) == 0x10000 - 0x800  # minus surrogates
