"""Seeded inputs for the benchmark workloads.

Every generator here is a pure function of its seed: the same seed gives
byte-identical documents, another seed gives other documents.  Each PDF
carries the outcome the generator expects from a correct extractor, derived
from the device's documented whitespace rules (``device.py``):

* a document starts with rules 1+2 firing (``"\\n\\n"``);
* a new line 14 pt below the last one at a 10-12 pt font size fires rule 2
  only (``"\\n"``);
* a new page starting back at the top fires rules 1+2 (``"\\n\\n"``);
* strings shown one after another on the same line join with no space.

So the expected text of a document is known without running the engine,
and the span count is the number of ``"\\n"``-separated segments.

Planted malformed documents carry the exact error row they must produce.

The seed drives the content (words, fonts, encryption keys).  The shape of
a set -- page counts, which positions hold planted documents -- comes from
a fixed generator, so every seed asks for the same amount of work in the
same partitions and runs with different seeds stay comparable.
"""

from __future__ import annotations

import hashlib
import random
import re
import struct
import zlib
from dataclasses import dataclass

from pdf_extract_spark.fixtures import PdfBuilder, lzw_encode
from pdf_extract_spark.pdfmini.crypt import (
    aes_cbc_encrypt,
    compute_file_key,
    compute_owner_value,
    compute_user_value,
    rc4,
)

# Lowercase words only: no PDF string escapes, same bytes in every
# single-byte encoding used below.
WORDS = (
    "about above across after again against along also among another any "
    "area around asked away back became because become been before began "
    "behind being below best better between big black body book both boy "
    "brought business called came can car case cause certain change child "
    "city class close cold come common could country course cut dark data "
    "day deep did different does done door down during each early earth "
    "east easy either end enough even ever every eye face fact family far "
    "father feel feet few field figure find fire first fish five followed "
    "food form found four free friend from full game gave general given "
    "going gold good got government great green ground group grow half "
    "hand happened hard has have head hear heard heart help here high "
    "himself history hold home horse hot hour house however hundred idea "
    "important inside interest island just keep kind king knew know land "
    "language large last later learn least leave left less letter life "
    "light line list little live long look made main make man many map "
    "mark matter may mean measure men might mile mind money moon more "
    "morning most mother mountain move much music must name near need "
    "never new next night north nothing notice now number object often "
    "old once only open order other outside over own page paper part "
    "pass past people perhaps person picture piece place plan plant play "
    "point poor position possible power present problem product pulled "
    "question quickly rain ran reached read ready real record red region "
    "remember rest river road rock room round rule run said same saw "
    "school science sea second seen sentence set several shall ship short "
    "should show side simple since sing size small snow something song "
    "sound south space special stand star start state still stood stop "
    "story street strong study such summer sun sure surface system table "
    "take talk teacher tell than that their them then there these thing "
    "think those though thought thousand three through time together told "
    "took top toward town tree true turn under unit until upon usually "
    "very voice walk want warm watch water wave week weight well went "
    "were west what wheel where which while white whole why wind winter "
    "with without woman wood word work world would write year young"
).split()

EMPTY_DIGEST = hashlib.sha256(b"").hexdigest()


@dataclass(frozen=True)
class PdfDoc:
    """One generated raw_docs row and the result it must extract to."""

    doc_id: str
    family: str
    content: bytes
    pages: int
    spans: int
    digest: str  # sha256 of the expected plain text
    error: str | None = None


def _expected(doc_id, family, content, text, pages) -> PdfDoc:
    return PdfDoc(
        doc_id,
        family,
        content,
        pages,
        len(text.split("\n")),
        hashlib.sha256(text.encode("utf-8")).hexdigest(),
    )


def _sentence(r: random.Random, lo: int, hi: int) -> str:
    return " ".join(r.choices(WORDS, k=r.randint(lo, hi)))


def _one_page(b: PdfBuilder, content_ref: int, resources: str) -> int:
    """Add Page + Pages + Catalog around an existing content stream;
    returns the catalog object number."""
    page = b.add(b"")
    pages = b.add(
        f"<< /Type /Pages /Kids [{page} 0 R] /Count 1 /MediaBox [0 0 612 792] >>".encode()
    )
    b.objects[page - 1] = (
        f"<< /Type /Page /Parent {pages} 0 R /Contents {content_ref} 0 R "
        f"/Resources {resources} >>"
    ).encode("latin-1")
    return b.add(f"<< /Type /Catalog /Pages {pages} 0 R >>".encode())


def _lines_content(font: str, size: int, shown: list[bytes]) -> bytes:
    """One Tj per line, each line 14 pt below the last."""
    ops = [f"BT /{font} {size} Tf 72 720 Td".encode()]
    for i, s in enumerate(shown):
        if i:
            ops.append(b"0 -14 Td")
        ops.append(s + b" Tj")
    ops.append(b"ET")
    return b" ".join(ops)


def _lit(text: bytes) -> bytes:
    return b"(" + text + b")"


# --------------------------------------------------------------------------
# pdf_pages: multi-page, text-dense, Flate-compressed
# --------------------------------------------------------------------------

PAGE_BUCKETS = ((0.40, 10, 19), (0.30, 20, 39), (0.20, 40, 79), (0.10, 80, 160))
LINES_PER_PAGE = 40
LINE_WORDS = range(5, 12)


def _page_count(r: random.Random) -> int:
    x = r.random()
    for share, lo, hi in PAGE_BUCKETS:
        if x < share:
            return r.randint(lo, hi)
        x -= share
    return PAGE_BUCKETS[-1][2]


def _text_dense_doc(r: random.Random, doc_id: str, n_pages: int) -> PdfDoc:
    """Two shared core fonts, 40 lines a page, each line shown as two
    strings (so the tokenizer and the string path both do real work)."""
    fonts = "<< /F1 << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >> " \
            "/F2 << /Type /Font /Subtype /Type1 /BaseFont /Times-Roman >> >>"
    b = PdfBuilder()
    font_res = b.add(fonts.encode())
    page_texts = []
    contents = []
    for _ in range(n_pages):
        ops = [b"BT /F1 10 Tf 72 760 Td"]
        lines = []
        # the page's words in one draw: 5-11 words a line
        lens = r.choices(LINE_WORDS, k=LINES_PER_PAGE)
        words = r.choices(WORDS, k=sum(lens))
        at = 0
        for i, n in enumerate(lens):
            if i:
                ops.append(b"0 -14 Td")
            if i % 8 == 0:
                ops.append(b"/F%d 10 Tf" % (1 + (i // 8) % 2))
            line = " ".join(words[at:at + n])
            at += n
            cut = line.find(" ", len(line) // 2)
            head, tail = (line, "") if cut < 0 else (line[: cut + 1], line[cut + 1 :])
            ops.append(_lit(head.encode()) + b" Tj")
            if tail:
                ops.append(_lit(tail.encode()) + b" Tj")
            lines.append(line)
        ops.append(b"ET")
        contents.append(b.add_stream("", b" ".join(ops), compress=True))
        page_texts.append("\n".join(lines))
    first_page = len(b.objects) + 1
    pages_num = first_page + n_pages
    for c in contents:
        b.add(
            f"<< /Type /Page /Parent {pages_num} 0 R /Contents {c} 0 R "
            f"/Resources << /Font {font_res} 0 R >> >>".encode()
        )
    kids = " ".join(f"{first_page + i} 0 R" for i in range(n_pages))
    b.add(
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} "
        f"/MediaBox [0 0 612 792] >>".encode()
    )
    catalog = b.add(f"<< /Type /Catalog /Pages {pages_num} 0 R >>".encode())
    text = "\n\n" + "\n\n".join(page_texts)
    return _expected(doc_id, "text_dense", b.build(catalog), text, n_pages)


# --------------------------------------------------------------------------
# pdf_small_mixed: one-page documents cycling the feature families
# --------------------------------------------------------------------------


def _fam_type1_core(r):
    face = r.choice(("Helvetica", "Times-Roman", "Courier"))
    lines = [_sentence(r, 2, 6) for _ in range(r.randint(1, 3))]
    content = _lines_content("F1", 12, [_lit(s.encode()) for s in lines])
    b = PdfBuilder()
    c = b.add_stream("", content, compress=r.random() < 0.5)
    res = f"<< /Font << /F1 << /Type /Font /Subtype /Type1 /BaseFont /{face} >> >> >>"
    return b.build(_one_page(b, c, res)), "\n".join(lines)


_CP1252_EXTRA = (b"\x80", "€"), (b"\xe9", "é"), (b"\xfc", "ü")


def _fam_truetype_winansi_flate(r):
    shown, lines = [], []
    for _ in range(r.randint(1, 3)):
        words = r.choices(WORDS, k=r.randint(2, 6))
        raw, txt = [], []
        for w in words:
            if r.random() < 0.3:
                eb, et = r.choice(_CP1252_EXTRA)
                raw.append(w.encode() + eb)
                txt.append(w + et)
            else:
                raw.append(w.encode())
                txt.append(w)
        shown.append(_lit(b" ".join(raw)))
        lines.append(" ".join(txt))
    b = PdfBuilder()
    c = b.add_stream("", _lines_content("F1", 12, shown), compress=True)
    widths = " ".join(["500"] * 224)
    res = (
        "<< /Font << /F1 << /Type /Font /Subtype /TrueType /BaseFont /Arial "
        f"/FirstChar 32 /LastChar 255 /Widths [{widths}] >> >> >>"
    )
    return b.build(_one_page(b, c, res)), "\n".join(lines)


def _fam_type3_lzw(r):
    lines = [_sentence(r, 2, 5).upper() for _ in range(r.randint(1, 3))]
    b = PdfBuilder()
    proc = b.add_stream("", b"600 0 d0")
    names = " ".join("/" + chr(c) for c in range(65, 91))
    widths = " ".join(["600"] * (90 - 32 + 1))
    font = b.add(
        (
            "<< /Type /Font /Subtype /Type3 /FontBBox [0 0 600 700] "
            "/FontMatrix [0.001 0 0 0.001 0 0] "
            f"/CharProcs << /A {proc} 0 R >> "
            f"/Encoding << /Differences [32 /space 65 {names}] >> "
            f"/FirstChar 32 /LastChar 90 /Widths [{widths}] >>"
        ).encode()
    )
    content = _lines_content("F1", 12, [_lit(s.encode()) for s in lines])
    c = b.add_stream("", lzw_encode(content), filt="/LZWDecode")
    res = f"<< /Font << /F1 {font} 0 R >> >>"
    return b.build(_one_page(b, c, res)), "\n".join(lines)


def _fam_cid_identity_h_hex(r):
    """Type0/Identity-H with two-byte codes, ToUnicode bfrange, content
    stream behind ASCIIHexDecode."""
    lines = [_sentence(r, 2, 6) for _ in range(r.randint(1, 3))]
    tounicode = (
        b"begincmap\n1 begincodespacerange <0000> <ffff> endcodespacerange\n"
        b"1 beginbfrange <0020> <007e> <0020> endbfrange\nendcmap\n"
    )
    b = PdfBuilder()
    cm = b.add_stream("", tounicode)
    desc = b.add(b"<< /Type /FontDescriptor /FontName /BenchCID /Flags 4 >>")
    cid = b.add(
        (
            "<< /Type /Font /Subtype /CIDFontType2 /BaseFont /BenchCID "
            f"/FontDescriptor {desc} 0 R /DW 500 "
            "/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) "
            "/Supplement 0 >> >>"
        ).encode()
    )
    font = b.add(
        (
            "<< /Type /Font /Subtype /Type0 /BaseFont /BenchCID "
            f"/Encoding /Identity-H /DescendantFonts [{cid} 0 R] "
            f"/ToUnicode {cm} 0 R >>"
        ).encode()
    )
    shown = [b"<" + "".join(f"{ord(ch):04x}" for ch in s).encode() + b">" for s in lines]
    content = _lines_content("F1", 12, shown)
    c = b.add_stream("", content.hex().encode() + b">", filt="/ASCIIHexDecode")
    res = f"<< /Font << /F1 {font} 0 R >> >>"
    return b.build(_one_page(b, c, res)), "\n".join(lines)


def _fam_cid_embedded_cmap(r):
    """Type0 with an embedded encoding CMap (cidrange: CID = code + 100)
    and a ToUnicode keyed by CID."""
    lines = [_sentence(r, 2, 6) for _ in range(r.randint(1, 3))]
    encoding = (
        b"begincmap\n1 begincodespacerange <00> <ff> endcodespacerange\n"
        b"1 begincidrange <20> <7e> 100 endcidrange\nendcmap\n"
    )
    tounicode = (
        b"begincmap\n1 begincodespacerange <0000> <ffff> endcodespacerange\n"
        b"1 beginbfrange <0084> <00e2> <0020> endbfrange\nendcmap\n"
    )
    b = PdfBuilder()
    enc = b.add_stream("", encoding)
    tu = b.add_stream("", tounicode)
    desc = b.add(b"<< /Type /FontDescriptor /FontName /BenchCMap /Flags 4 >>")
    cid = b.add(
        (
            "<< /Type /Font /Subtype /CIDFontType0 /BaseFont /BenchCMap "
            f"/FontDescriptor {desc} 0 R /DW 600 "
            "/CIDSystemInfo << /Registry (B) /Ordering (B) /Supplement 0 >> >>"
        ).encode()
    )
    font = b.add(
        (
            "<< /Type /Font /Subtype /Type0 /BaseFont /BenchCMap "
            f"/Encoding {enc} 0 R /DescendantFonts [{cid} 0 R] /ToUnicode {tu} 0 R >>"
        ).encode()
    )
    c = b.add_stream("", _lines_content("F1", 12, [_lit(s.encode()) for s in lines]))
    res = f"<< /Font << /F1 {font} 0 R >> >>"
    return b.build(_one_page(b, c, res)), "\n".join(lines)


def _cff_program(codes_to_names: list[tuple[int, str]]) -> bytes:
    """Minimal CFF (Type1C) font program: header, Name, Top DICT, String
    and Global Subr INDEXes, format-0 charset and encoding, stub
    CharStrings.  Only standard-string glyph names are used."""
    from pdf_extract_spark.pdfmini.cff import STANDARD_STRINGS

    def index(items):
        if not items:
            return struct.pack(">H", 0)
        offs = [1]
        for it in items:
            offs.append(offs[-1] + len(it))
        size = 1 if offs[-1] < 256 else 2
        fmt = ">B" if size == 1 else ">H"
        return (
            struct.pack(">HB", len(items), size)
            + b"".join(struct.pack(fmt, o) for o in offs)
            + b"".join(items)
        )

    def top_dict(charset_off, enc_off, cs_off):
        def i32(v):
            return b"\x1d" + struct.pack(">i", v)

        return i32(charset_off) + b"\x0f" + i32(enc_off) + b"\x10" + i32(cs_off) + b"\x11"

    sids = [STANDARD_STRINGS.index(n) for _c, n in codes_to_names]
    charset = b"\x00" + b"".join(struct.pack(">H", s) for s in sids)
    encoding = bytes([0, len(codes_to_names)]) + bytes(c for c, _n in codes_to_names)
    charstrings = index([b"\x0e"] * (len(codes_to_names) + 1))
    head = b"\x01\x00\x04\x01" + index([b"BenchCFF"])
    tail = index([]) + index([])  # String INDEX, Global Subr INDEX
    base = len(head) + len(index([top_dict(0, 0, 0)])) + len(tail)
    charset_off = base
    enc_off = charset_off + len(charset)
    cs_off = enc_off + len(encoding)
    td = index([top_dict(charset_off, enc_off, cs_off)])
    return head + td + tail + charset + encoding + charstrings


def _fam_cff_fontfile3(r):
    """Embedded Type1C font, no ToUnicode: the unicode map comes from the
    CFF charset + encoding."""
    lines = [_sentence(r, 2, 6) for _ in range(r.randint(1, 3))]
    glyphs = [(32, "space")] + [(c, chr(c)) for c in range(97, 123)]
    b = PdfBuilder()
    ff3 = b.add_stream("/Subtype /Type1C", _cff_program(glyphs))
    desc = b.add(
        f"<< /Type /FontDescriptor /FontName /BenchCFF /Flags 4 /FontFile3 {ff3} 0 R >>".encode()
    )
    widths = " ".join(["500"] * (122 - 32 + 1))
    font = b.add(
        (
            "<< /Type /Font /Subtype /Type1 /BaseFont /BenchCFF "
            f"/FirstChar 32 /LastChar 122 /Widths [{widths}] /FontDescriptor {desc} 0 R >>"
        ).encode()
    )
    c = b.add_stream("", _lines_content("F1", 12, [_lit(s.encode()) for s in lines]))
    res = f"<< /Font << /F1 {font} 0 R >> >>"
    return b.build(_one_page(b, c, res)), "\n".join(lines)


def _fam_tounicode_type1(r):
    """Core Type1 font whose ToUnicode maps lowercase codes to uppercase."""
    lines = [_sentence(r, 2, 6) for _ in range(r.randint(1, 3))]
    tounicode = (
        b"begincmap\n1 begincodespacerange <00> <ff> endcodespacerange\n"
        b"1 beginbfchar <20> <0020> endbfchar\n"
        b"1 beginbfrange <61> <7a> <0041> endbfrange\nendcmap\n"
    )
    b = PdfBuilder()
    cm = b.add_stream("", tounicode, compress=True)
    font = b.add(
        f"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /ToUnicode {cm} 0 R >>".encode()
    )
    c = b.add_stream("", _lines_content("F1", 12, [_lit(s.encode()) for s in lines]))
    res = f"<< /Font << /F1 {font} 0 R >> >>"
    return b.build(_one_page(b, c, res)), "\n".join(s.upper() for s in lines)


def _fam_xref_stream_objstm(r):
    """PDF 1.5 layout: Flate cross-reference stream, catalog/pages/page
    packed in an object stream."""
    lines = [_sentence(r, 2, 6) for _ in range(r.randint(1, 3))]
    content = zlib.compress(_lines_content("F1", 12, [_lit(s.encode()) for s in lines]))
    payload = (
        b"<< /Type /Catalog /Pages 4 0 R >>"
        b"<< /Type /Pages /Kids [5 0 R] /Count 1 /MediaBox [0 0 612 792] >>"
        b"<< /Type /Page /Parent 4 0 R /Contents 1 0 R /Resources << /Font "
        b"<< /F1 << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >> >> >> >>"
    )
    off2 = payload.index(b"<< /Type /Pages")
    off3 = payload.index(b"<< /Type /Page /")
    header = f"3 0 4 {off2} 5 {off3} ".encode()
    stm = header + payload
    out = bytearray(b"%PDF-1.5\n")
    off_content = len(out)
    out += (
        b"1 0 obj\n<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(content)
        + content + b"\nendstream\nendobj\n"
    )
    off_objstm = len(out)
    out += (
        b"2 0 obj\n<< /Type /ObjStm /N 3 /First %d /Length %d >>\nstream\n"
        % (len(header), len(stm))
        + stm + b"\nendstream\nendobj\n"
    )
    xref_pos = len(out)
    rows = [(0, 0, 0), (1, off_content, 0), (1, off_objstm, 0),
            (2, 2, 0), (2, 2, 1), (2, 2, 2), (1, xref_pos, 0)]
    xref = zlib.compress(b"".join(bytes([t]) + o.to_bytes(3, "big") + bytes([g]) for t, o, g in rows))
    out += (
        b"6 0 obj\n<< /Type /XRef /Size 7 /W [1 3 1] /Root 3 0 R /Filter "
        b"/FlateDecode /Length %d >>\nstream\n" % len(xref)
        + xref + b"\nendstream\nendobj\n"
    )
    out += b"startxref\n%d\n%%%%EOF" % xref_pos
    return bytes(out), "\n".join(lines)


def _encrypted(r, cfm: str):
    """One-page document under the standard security handler with an empty
    user password: RC4 (V2/R3) or AESV2 (V4/R4)."""
    lines = [_sentence(r, 2, 6) for _ in range(r.randint(1, 3))]
    doc_id = r.randbytes(16)
    rev = 3 if cfm == "V2" else 4
    o = compute_owner_value(r=rev, n=16)
    key = compute_file_key(b"", o, -1, doc_id, r=rev, n=16)
    u = compute_user_value(key, doc_id, r=rev)
    h = hashlib.md5(key + struct.pack("<I", 1)[:3] + b"\x00\x00")
    if cfm == "AESV2":
        h.update(b"sAlT")
    obj_key = h.digest()[:16]
    content = _lines_content("F1", 12, [_lit(s.encode()) for s in lines])
    body = aes_cbc_encrypt(obj_key, r.randbytes(16), content) if cfm == "AESV2" else rc4(obj_key, content)
    b = PdfBuilder()
    c = b.add_stream("", body)  # the content stream is object 1
    catalog = _one_page(b, c, "<< /Font << /F1 << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >> >> >>")
    if cfm == "V2":
        enc = f"<< /Filter /Standard /V 2 /R 3 /Length 128 /P -1 /O <{o.hex()}> /U <{u.hex()}> >>"
    else:
        enc = (
            f"<< /Filter /Standard /V 4 /R 4 /Length 128 /P -1 /O <{o.hex()}> /U <{u.hex()}> "
            "/CF << /StdCF << /CFM /AESV2 /Length 16 >> >> /StmF /StdCF /StrF /StdCF >>"
        )
    e = b.add(enc.encode())
    pdf = b.build(catalog, extra_trailer=f"/Encrypt {e} 0 R /ID [<{doc_id.hex()}> <{doc_id.hex()}>]")
    return pdf, "\n".join(lines)


def _fam_encrypted_rc4(r):
    return _encrypted(r, "V2")


def _fam_encrypted_aes(r):
    return _encrypted(r, "AESV2")


SMALL_FAMILIES = {
    "type1_core": _fam_type1_core,
    "truetype_winansi_flate": _fam_truetype_winansi_flate,
    "type3_lzw": _fam_type3_lzw,
    "cid_identity_h_hex": _fam_cid_identity_h_hex,
    "cid_embedded_cmap": _fam_cid_embedded_cmap,
    "cff_fontfile3": _fam_cff_fontfile3,
    "tounicode_type1": _fam_tounicode_type1,
    "xref_stream_objstm": _fam_xref_stream_objstm,
    "encrypted_rc4": _fam_encrypted_rc4,
    "encrypted_aes": _fam_encrypted_aes,
}


# --------------------------------------------------------------------------
# Document sets with planted duplicates and malformed documents
# --------------------------------------------------------------------------

# Stated shares of every PDF document set (exact: set sizes are multiples
# of 100).  Error documents must come back as exactly one error row;
# repaired documents have a corrupt startxref and must still extract in
# full through the fallback object scan; padded documents reserve their
# first stream /Length field with trailing spaces, as writers that patch
# lengths in place do, and must extract in full.
DUPLICATE_SHARE = 0.05
ERROR_SHARE = 0.02
REPAIRED_SHARE = 0.01
PADDED_SHARE = 0.02
# The object lexer backtracks exponentially on a whitespace run after an
# integer (about 2**n steps); 16 spaces keep a padded document at roughly
# ten times the cost of a plain one, so the defect shows without
# dominating the pass.
LENGTH_PADDING = 16

ERR_NO_CATALOG = "PdfError: missing document catalog"
ERR_NO_MEDIABOX = "ValueError: MediaBox required"


def _error_doc(doc: PdfDoc, kind: int) -> PdfDoc:
    """A document with a known error outcome, built from a valid one:
    cut off before its catalog object (kind 0), or with the only MediaBox
    key renamed (kind 1; same length, so every xref offset stays valid)."""
    if kind == 0:
        cut = doc.content.rfind(b"<< /Type /Catalog")
        content, error = doc.content[: doc.content.rfind(b"\n", 0, cut) + 1], ERR_NO_CATALOG
    else:
        content, error = doc.content.replace(b"/MediaBox", b"/NoMedia_"), ERR_NO_MEDIABOX
    return PdfDoc(doc.doc_id, doc.family + "+error", content, 0, 0, EMPTY_DIGEST, error)


def _repaired_doc(doc: PdfDoc) -> PdfDoc:
    """Same document, startxref pointing past the end of the file."""
    head, sep, tail = doc.content.rpartition(b"startxref\n")
    num = tail.split(b"\n", 1)[0]
    content = head + sep + b"9" * len(num) + tail[len(num):]
    return PdfDoc(doc.doc_id, doc.family + "+repaired", content, doc.pages, doc.spans, doc.digest)


def _padded_doc(doc: PdfDoc) -> PdfDoc:
    """Same document with its first /Length value followed by spaces;
    the xref is rebuilt by shifting every offset behind the padding."""
    data = doc.content
    at = data.index(b"/Length ") + len(b"/Length ")
    at += len(re.match(rb"\d+", data[at:]).group())
    pad = b" " * LENGTH_PADDING
    head, tail = data[:at], data[at:]
    xref = tail.rindex(b"\nxref\n") + 1
    entries = re.compile(rb"(\d{10}) 00000 n")
    fixed = entries.sub(
        lambda m: b"%010d 00000 n" % (int(m.group(1)) + (len(pad) if int(m.group(1)) >= at else 0)),
        tail[xref:],
    )
    sx = fixed.rindex(b"startxref\n") + len(b"startxref\n")
    old = int(fixed[sx:].split(b"\n", 1)[0])
    fixed = fixed[:sx] + str(old + len(pad)).encode() + fixed[sx + len(str(old)):]
    return PdfDoc(doc.doc_id, doc.family + "+padded", head + pad + tail[:xref] + fixed,
                  doc.pages, doc.spans, doc.digest)


def _plant(docs: list[PdfDoc], classic_xref) -> list[PdfDoc]:
    """Replace fixed shares of `docs` by duplicates, error, repaired and
    padded documents, at fixed positions."""
    n = len(docs)
    r = random.Random(f"plant:{n}")
    shares = (DUPLICATE_SHARE, ERROR_SHARE, REPAIRED_SHARE, PADDED_SHARE)
    n_dup, n_err, n_rep, n_pad = (round(n * s) for s in shares)
    picked = r.sample(range(n), n_dup + n_err + n_rep + n_pad)
    dups = picked[:n_dup]
    errs = picked[n_dup:n_dup + n_err]
    reps = picked[n_dup + n_err:n_dup + n_err + n_rep]
    pads = picked[n_dup + n_err + n_rep:]
    out = list(docs)
    for k, i in enumerate(errs):
        out[i] = _error_doc(docs[i], k % 2)

    def classic_at(i: int) -> PdfDoc:
        """docs[i], or the next document with a classic xref table (the
        fallback scan needs "N G obj" markers), under docs[i]'s id."""
        j = i
        while not classic_xref(docs[j]):
            j = (j + 1) % n
        src = docs[j]
        return PdfDoc(docs[i].doc_id, src.family, src.content, src.pages, src.spans, src.digest)

    for i in reps:
        out[i] = _repaired_doc(classic_at(i))
    for i in pads:
        out[i] = _padded_doc(classic_at(i))
    planted = set(picked)
    sources = r.sample([i for i in range(n) if i not in planted], n_dup)
    for i, j in zip(dups, sources):
        src = docs[j]
        out[i] = PdfDoc(docs[i].doc_id, src.family + "+duplicate", src.content, src.pages, src.spans, src.digest)
    return out


def pdf_pages_docs(seed: int, n_docs: int) -> list[PdfDoc]:
    """Text-dense multi-page documents with skewed page counts."""
    r = random.Random(f"pdf_pages:{seed}")
    shape = random.Random(f"pdf_pages:shape:{n_docs}")
    docs = [_text_dense_doc(r, f"{i:06d}-pages", _page_count(shape)) for i in range(n_docs)]
    return _plant(docs, lambda d: True)


def small_mixed_docs(seed: int, n_docs: int) -> list[PdfDoc]:
    """One-page documents cycling the feature families in SMALL_FAMILIES."""
    r = random.Random(f"pdf_small_mixed:{seed}")
    names = list(SMALL_FAMILIES)
    docs = []
    for i in range(n_docs):
        fam = names[i % len(names)]
        pdf, body = SMALL_FAMILIES[fam](r)
        docs.append(_expected(f"{i:06d}-{fam}", fam, pdf, "\n\n" + body, 1))
    return _plant(docs, lambda d: d.family != "xref_stream_objstm")


def write_raw_docs(docs: list[PdfDoc], path: str) -> None:
    """Write `docs` as a raw_docs parquet table of four files."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    schema = pa.schema([("doc_id", pa.string()), ("content", pa.binary()),
                        ("byte_len", pa.int64()), ("source", pa.string())])
    files = 4
    step = -(-len(docs) // files)
    for k in range(files):
        part = docs[k * step:(k + 1) * step]
        table = pa.table(
            [[d.doc_id for d in part], [d.content for d in part],
             [len(d.content) for d in part], [d.family for d in part]],
            schema=schema,
        )
        pq.write_table(table, os.path.join(path, f"part-{k:03d}.parquet"))


# --------------------------------------------------------------------------
# The curation probe's fixed documents table
# --------------------------------------------------------------------------

# The table does not depend on the run's seed, so its funnel survivors are
# pinned numbers, cross-checked once against the DuckDB oracle of the
# corpus_funnel query.
CURATION_SEED = 20261017
CURATION_DOCS = 2000
CURATION_VOCAB = (
    "the a data spark scan sort hash join group filter table query batch "
    "stream window merge order value key column row part line agg vector "
    "fast slow big small customer index"
).split()


def curation_docs(n_docs: int = CURATION_DOCS, seed: int = CURATION_SEED) -> list[dict]:
    """documents(doc_id, text, lang, source, n_chars) rows: random word
    sequences, with planted short docs (quality), repetitive docs
    (repetition), case/space variants of earlier docs (exact dedup) and
    one-word edits of earlier docs (near dedup)."""
    r = random.Random(f"curation:{seed}")
    langs = ("en", "en", "en", "de", "es", "fr", "zh")
    texts: list[str] = []
    for i in range(n_docs):
        x = r.random()
        if i > 10 and x < 0.03:  # exact duplicate, case and spacing changed
            src = texts[r.randrange(i)].split(" ")
            text = "  ".join(w.upper() if r.random() < 0.2 else w for w in src)
        elif i > 10 and x < 0.10:  # near duplicate: one word swapped
            words = texts[r.randrange(i)].split(" ")
            words[r.randrange(len(words))] = r.choice(CURATION_VOCAB)
            text = " ".join(words)
        elif x < 0.18:  # too short for the quality rules
            text = " ".join(r.choices(CURATION_VOCAB, k=r.randint(5, 19)))
        elif x < 0.22:  # a repeated phrase
            phrase = " ".join(r.choices(CURATION_VOCAB, k=3))
            text = " ".join([phrase] * r.randint(8, 20))
        else:
            text = " ".join(r.choices(CURATION_VOCAB, k=r.randint(20, 100)))
        texts.append(text)
    return [
        {"doc_id": i, "text": t, "lang": r.choice(langs), "source": f"src{i % 20}", "n_chars": len(t)}
        for i, t in enumerate(texts)
    ]


def write_curation_docs(rows: list[dict], path: str) -> None:
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                        ("source", pa.string()), ("n_chars", pa.int64())])
    table = pa.table({k: [row[k] for row in rows] for k in schema.names}, schema=schema)
    pq.write_table(table, os.path.join(path, "documents.parquet"))
