"""PDF document structure: xref tables & streams, trailer, object streams,
page-tree walk with inherited attributes.

Re-implements (from the spec + observed behavior) what the reference gets
from ``lopdf``: ``Document::load_mem`` (/root/reference/src/lib.rs:2263),
``doc.get_pages()`` (lib.rs:2379), inherited-attribute resolution
``get_inherited`` (lib.rs:2352-2362), stream decoding with raw fallback
``get_contents`` (lib.rs:1255-1261), and transparent indirect-reference
chasing ``maybe_deref`` (lib.rs:175-180).
"""

from __future__ import annotations

from .filters import decode_stream
from .objects import Lexer, Name, Ref, Stream


class PdfError(Exception):
    pass


class EncryptedPdfError(PdfError):
    pass


class Document:
    """Parsed PDF: object table + trailer; lazy object loading."""

    def __init__(self, data: bytes, password: bytes = b""):
        self.data = data
        self.trailer: dict = {}
        self._offsets: dict[int, int] = {}          # obj num -> byte offset
        self._in_objstm: dict[int, tuple[int, int]] = {}  # obj num -> (stream obj num, idx)
        self._cache: dict[int, object] = {}
        self._objstm_cache: dict[int, dict[int, object]] = {}
        self._decoded_cache: dict[int, bytes] = {}
        self._decryptor = None
        self._encrypt_num = None
        self._parse_xref_chain()
        if "Encrypt" in self.trailer:
            self._setup_decryption(password)

    def _setup_decryption(self, password: bytes):
        """Empty-password decrypt like the reference's maybe_decrypt
        (lib.rs:2230-2244); password-required surfaces a typed error that
        the pipeline records as a decode_failure."""
        from .crypt import WrongPasswordError, make_decryptor

        enc_ref = self.trailer.get("Encrypt")
        if isinstance(enc_ref, Ref):
            self._encrypt_num = enc_ref.num
        encrypt = self.deref(enc_ref)
        if not isinstance(encrypt, dict):
            raise EncryptedPdfError("malformed Encrypt dictionary")
        doc_id = self.trailer.get("ID")
        first_id = b""
        if isinstance(doc_id, list) and doc_id:
            first = doc_id[0]
            if isinstance(first, (bytes, bytearray)):
                first_id = bytes(first)
        try:
            self._decryptor = make_decryptor(encrypt, first_id, password)
        except WrongPasswordError as e:
            raise EncryptedPdfError(str(e)) from e

    # -- xref --------------------------------------------------------------

    def _parse_xref_chain(self):
        data = self.data
        i = data.rfind(b"startxref")
        if i == -1:
            self._fallback_scan()
            return
        lex = Lexer(data, i + len(b"startxref"))
        lex.skip_ws()
        try:
            start = int(lex.read_regular())
        except ValueError:
            self._fallback_scan()
            return
        seen = set()
        pos = start
        try:
            while pos is not None and pos not in seen and 0 <= pos < len(data):
                seen.add(pos)
                pos = self._parse_xref_section(pos)
        except Exception:
            self._fallback_scan()
        if not self._offsets and not self._in_objstm:
            self._fallback_scan()

    def _parse_xref_section(self, pos: int):
        data = self.data
        lex = Lexer(data, pos)
        lex.skip_ws()
        if data[lex.pos : lex.pos + 4] == b"xref":
            lex.pos += 4
            # classic cross-reference table
            while True:
                lex.skip_ws()
                if data[lex.pos : lex.pos + 7] == b"trailer":
                    lex.pos += 7
                    trailer = lex.read_object()
                    for k, v in trailer.items():
                        self.trailer.setdefault(k, v)
                    prev = trailer.get("Prev")
                    xs = trailer.get("XRefStm")
                    if isinstance(xs, int):
                        self._parse_xref_section(xs)
                    return prev if isinstance(prev, int) else None
                first = int(lex.read_regular())
                lex.skip_ws()
                count = int(lex.read_regular())
                for k in range(count):
                    lex.skip_ws()
                    off = int(lex.read_regular())
                    lex.skip_ws()
                    gen = int(lex.read_regular())
                    lex.skip_ws()
                    kind = lex.read_regular()
                    num = first + k
                    if kind == b"n" and num not in self._offsets and num not in self._in_objstm:
                        self._offsets[num] = off
        else:
            # cross-reference stream (PDF 1.5+)
            num, gen, obj = lex.read_indirect_object()
            if not isinstance(obj, Stream):
                raise PdfError("xref stream expected")
            for k, v in obj.dict.items():
                if k not in ("Length", "Filter", "DecodeParms", "W", "Index", "Type"):
                    self.trailer.setdefault(k, v)
            content = decode_stream(
                obj.raw, obj.dict.get("Filter"), obj.dict.get("DecodeParms")
            )
            w = obj.dict.get("W")
            if not isinstance(w, list) or any(type(x) is not int or x < 0 for x in w) or sum(w) == 0:
                raise PdfError(f"malformed xref stream /W {w!r}")
            size = obj.dict.get("Size", 0)
            index = obj.dict.get("Index", [0, size])
            rowlen = sum(w)
            fields = []
            for p in range(0, len(content) - rowlen + 1, rowlen):
                row = []
                for width in w:
                    row.append(int.from_bytes(content[p : p + width], "big"))
                    p += width
                fields.append(row)
            r = 0
            for ii in range(0, len(index), 2):
                first, count = index[ii], index[ii + 1]
                for k in range(count):
                    if r >= len(fields):
                        break
                    row = fields[r]
                    r += 1
                    ftype = row[0] if w[0] > 0 else 1
                    numk = first + k
                    if numk in self._offsets or numk in self._in_objstm:
                        continue
                    if ftype == 1:
                        self._offsets[numk] = row[1]
                    elif ftype == 2:
                        self._in_objstm[numk] = (row[1], row[2])
            prev = obj.dict.get("Prev")
            return prev if isinstance(prev, int) else None
        return None

    def _fallback_scan(self):
        """Corrupt/missing xref: brute-scan for 'N G obj' markers."""
        import re

        for m in re.finditer(rb"(?m)^[^\S\n]*(\d+)[^\S\n]+(\d+)[^\S\n]+obj\b", self.data):
            self._offsets.setdefault(int(m.group(1)), m.start())
        if not self.trailer:
            t = self.data.rfind(b"trailer")
            if t != -1:
                lex = Lexer(self.data, t + 7)
                try:
                    self.trailer = lex.read_object()
                except Exception:
                    self.trailer = {}
        if "Root" not in self.trailer:
            # find a Catalog object
            for num in list(self._offsets):
                try:
                    obj = self.get_object(num)
                except Exception:
                    continue
                if isinstance(obj, dict) and obj.get("Type") == "Catalog":
                    self.trailer["Root"] = Ref(num, 0)
                    break

    # -- object access -----------------------------------------------------

    def get_object(self, num: int):
        if num in self._cache:
            return self._cache[num]
        obj = None
        if num in self._offsets:
            lex = Lexer(self.data, self._offsets[num])
            gen = 0
            try:
                onum, gen, obj = lex.read_indirect_object()
                if onum != num:
                    obj = self._scan_for(num)
            except Exception:
                obj = self._scan_for(num)
            if self._decryptor is not None and num != self._encrypt_num:
                obj = self._decrypt_object(obj, num, gen)
            if isinstance(obj, Stream) and not isinstance(obj.dict.get("Length"), int):
                length = self.deref(obj.dict.get("Length"))
                if isinstance(length, int) and 0 <= length < len(obj.raw):
                    # re-slice with the resolved Length
                    obj = Stream(obj.dict, obj.raw[:length])
        elif num in self._in_objstm:
            stm_num, _idx = self._in_objstm[num]
            objs = self._load_objstm(stm_num)
            obj = objs.get(num)
        self._cache[num] = obj
        return obj

    def _decrypt_object(self, obj, num: int, gen: int):
        """Recursively decrypt strings and stream bodies of a directly-stored
        object (objects inside object streams are covered by the container's
        encryption; XRef streams are never encrypted)."""
        from .objects import PdfString

        if isinstance(obj, PdfString):
            return PdfString(self._decryptor.decrypt(bytes(obj), num, gen, kind="str"))
        if isinstance(obj, Stream):
            d = {k: self._decrypt_object(v, num, gen) for k, v in obj.dict.items()}
            if obj.dict.get("Type") == "XRef":
                return Stream(d, obj.raw)
            return Stream(d, self._decryptor.decrypt(obj.raw, num, gen, kind="stm"))
        if isinstance(obj, list):
            return [self._decrypt_object(v, num, gen) for v in obj]
        if isinstance(obj, dict):
            return {k: self._decrypt_object(v, num, gen) for k, v in obj.items()}
        return obj

    def _scan_for(self, num: int):
        import re

        for m in re.finditer(rb"(?<![0-9])%d\s+\d+\s+obj\b" % num, self.data):
            try:
                lex = Lexer(self.data, m.start())
                onum, _g, obj = lex.read_indirect_object()
                if onum == num:
                    return obj
            except Exception:
                continue
        return None

    def _load_objstm(self, stm_num: int) -> dict[int, object]:
        if stm_num in self._objstm_cache:
            return self._objstm_cache[stm_num]
        out: dict[int, object] = {}
        stm = self.get_object(stm_num)
        if isinstance(stm, Stream):
            content = self.get_stream_content(stm)
            n = self.deref(stm.dict.get("N", 0)) or 0
            first = self.deref(stm.dict.get("First", 0)) or 0
            hdr = Lexer(content, 0)
            pairs = []
            try:
                for _ in range(n):
                    hdr.skip_ws()
                    onum = int(hdr.read_regular())
                    hdr.skip_ws()
                    off = int(hdr.read_regular())
                    pairs.append((onum, off))
            except Exception:
                pass
            for onum, off in pairs:
                try:
                    lex = Lexer(content, first + off)
                    out[onum] = lex.read_object(resolve_streams=False)
                except Exception:
                    out[onum] = None
        self._objstm_cache[stm_num] = out
        return out

    def deref(self, obj):
        """Transparently chase indirect references (maybe_deref,
        lib.rs:175-180); follows chains like pdfium does."""
        depth = 0
        while isinstance(obj, Ref) and depth < 32:
            obj = self.get_object(obj.num)
            depth += 1
        return obj

    def get(self, d: dict, key: str, default=None):
        if d is None:
            return default
        return self.deref(d.get(key, default))

    # -- streams -----------------------------------------------------------

    def get_stream_content(self, stm: Stream) -> bytes:
        """Decode a stream's filters; on failure fall back to raw bytes
        (parity with lib.rs:1255-1261). Caches by id() to avoid the
        reference's self-documented re-decompression inefficiency
        (lib.rs:1478-1479)."""
        key = id(stm)
        hit = self._decoded_cache.get(key)
        if hit is not None:
            return hit
        filters = self.deref(stm.dict.get("Filter"))
        if isinstance(filters, list):
            filters = [str(self.deref(f)) for f in filters]
        elif filters is not None:
            filters = str(filters)
        parms = self.deref(stm.dict.get("DecodeParms"))
        if isinstance(parms, list):
            parms = [self.deref(p) for p in parms]
        out = decode_stream(stm.raw, filters, parms)
        self._decoded_cache[key] = out
        return out

    # -- page tree ---------------------------------------------------------

    def catalog(self) -> dict:
        root = self.deref(self.trailer.get("Root"))
        if not isinstance(root, dict):
            raise PdfError("missing document catalog")
        return root

    def get_pages(self) -> list[dict]:
        """Depth-first page-tree walk in document order (doc.get_pages())."""
        pages_root = self.deref(self.catalog().get("Pages"))
        out: list[dict] = []
        seen: set[int] = set()

        def walk(node):
            if node is None or len(out) > 100000:
                return
            node = self.deref(node)
            if not isinstance(node, dict):
                return
            nid = id(node)
            if nid in seen:
                return
            seen.add(nid)
            ntype = node.get("Type")
            if ntype == "Page" or ("Kids" not in node and ntype != "Pages"):
                out.append(node)
                return
            kids = self.deref(node.get("Kids")) or []
            for kid in kids:
                walk(kid)

        walk(pages_root)
        return out

    def get_inherited(self, page: dict, key: str):
        """Walk Parent chain for inheritable attributes
        (get_inherited, lib.rs:2352-2362).  Uses the spec's /Parent refs —
        no synthetic back-pointers, which keeps the object graph acyclic
        (refcount-only cleanup; no cyclic-GC load in the hot pipeline)."""
        node = page
        depth = 0
        while isinstance(node, dict) and depth < 64:
            if key in node:
                return self.deref(node[key])
            node = self.deref(node.get("Parent"))
            depth += 1
        return None

    def get_page_content(self, page: dict) -> bytes:
        """Concatenate the page's content stream(s), newline-joined
        (lopdf's get_page_content used at lib.rs:2413)."""
        contents = self.deref(page.get("Contents"))
        if contents is None:
            return b""
        if isinstance(contents, Stream):
            return self.get_stream_content(contents)
        if isinstance(contents, list):
            parts = []
            for c in contents:
                c = self.deref(c)
                if isinstance(c, Stream):
                    parts.append(self.get_stream_content(c))
            return b"\n".join(parts)
        return b""

    def page_count(self) -> int:
        pages_root = self.deref(self.catalog().get("Pages"))
        if isinstance(pages_root, dict):
            cnt = self.deref(pages_root.get("Count"))
            if isinstance(cnt, int):
                return cnt
        return len(self.get_pages())

    def version(self) -> str:
        head = self.data[:16]
        if head.startswith(b"%PDF-"):
            return head[5:8].decode("latin-1", "replace")
        return ""

    def info(self) -> dict:
        info = self.deref(self.trailer.get("Info"))
        return info if isinstance(info, dict) else {}


def load_mem(data: bytes) -> Document:
    """Parse a PDF from bytes (Document::load_mem, lib.rs:2263)."""
    return Document(data)
