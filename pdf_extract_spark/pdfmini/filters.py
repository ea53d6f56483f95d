"""PDF stream filters, implemented from the PDF 1.7 spec (ISO 32000-1 §7.4).

Parity notes vs the reference engine (jrmuizel/pdf-extract):
the reference delegates filter decoding to lopdf and falls back to the
*raw* stream bytes when decoding fails (/root/reference/src/lib.rs:1255-1261);
``decode_stream`` replicates that silent fallback.

Supported: FlateDecode (+ PNG / TIFF predictors), LZWDecode, ASCIIHexDecode,
ASCII85Decode, RunLengthDecode.  DCTDecode/JPXDecode/CCITT are image codecs:
they pass through untouched (the extraction pipeline treats images as opaque
``media`` spans).
"""

from __future__ import annotations

import zlib


def flate_decode(data: bytes, params: dict | None = None) -> bytes:
    # a decompressobj tolerates truncated streams and trailing junk the way
    # most readers do, and gives zlib.decompress's bytes on a complete one
    out = zlib.decompressobj().decompress(data)
    return apply_predictor(out, params)


def asciihex_decode(data: bytes, params: dict | None = None) -> bytes:
    out = bytearray()
    hexbuf = []
    for b in data:
        c = chr(b)
        if c == ">":
            break
        if c.strip() == "":
            continue
        hexbuf.append(c)
    if len(hexbuf) % 2 == 1:
        hexbuf.append("0")
    for i in range(0, len(hexbuf), 2):
        out.append(int(hexbuf[i] + hexbuf[i + 1], 16))
    return bytes(out)


def ascii85_decode(data: bytes, params: dict | None = None) -> bytes:
    # strip whitespace and optional <~ ~> wrappers
    body = bytes(b for b in data if b not in b" \t\r\n\x0c\x00")
    if body.startswith(b"<~"):
        body = body[2:]
    end = body.find(b"~>")
    if end != -1:
        body = body[:end]
    out = bytearray()
    group: list[int] = []
    for b in body:
        if b == ord("z") and not group:
            out += b"\0\0\0\0"
            continue
        group.append(b - 33)
        if len(group) == 5:
            n = 0
            for g in group:
                n = n * 85 + g
            out += n.to_bytes(4, "big")
            group = []
    if group:
        k = len(group)
        group += [84] * (5 - k)
        n = 0
        for g in group:
            n = n * 85 + g
        out += n.to_bytes(4, "big")[: k - 1]
    return bytes(out)


def runlength_decode(data: bytes, params: dict | None = None) -> bytes:
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        length = data[i]
        i += 1
        if length == 128:
            break
        if length < 128:
            out += data[i : i + length + 1]
            i += length + 1
        else:
            out += bytes([data[i]]) * (257 - length)
            i += 1
    return bytes(out)


def lzw_decode(data: bytes, params: dict | None = None) -> bytes:
    """LZW per PDF spec: 9..12-bit variable codes, clear=256, eod=257,
    EarlyChange default 1 (code width bumps one code early)."""
    early = 1
    if params and "EarlyChange" in params:
        early = int(params["EarlyChange"])
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    prev: bytes | None = None
    width = 9
    buf = 0
    nbits = 0
    for byte in data:
        buf = (buf << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (buf >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                width = 9
                prev = None
                continue
            if code == 257:
                return apply_predictor(bytes(out), params)
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            else:
                entry = prev + prev[:1]
                table.append(entry)
            out += entry
            prev = entry
            # EarlyChange=1 (default): bump one code early, i.e. as soon as
            # the NEXT code to assign (len(table)) reaches (1<<width)-early.
            # Matches pdfminer/pdf.js (bump when table length hits 511/1023/
            # 2047 for widths 9/10/11).
            if len(table) + early >= (1 << width) and width < 12:
                width += 1
    return apply_predictor(bytes(out), params)


def apply_predictor(data: bytes, params: dict | None) -> bytes:
    if not params:
        return data
    predictor = int(params.get("Predictor", 1) or 1)
    if predictor <= 1:
        return data
    colors = int(params.get("Colors", 1) or 1)
    bpc = int(params.get("BitsPerComponent", 8) or 8)
    columns = int(params.get("Columns", 1) or 1)
    bpp = max(1, (colors * bpc + 7) // 8)
    rowlen = (colors * bpc * columns + 7) // 8
    if predictor == 2:  # TIFF horizontal differencing (8-bit only here)
        out = bytearray(data)
        for r in range(0, len(out), rowlen):
            for i in range(bpp, rowlen):
                if r + i < len(out):
                    out[r + i] = (out[r + i] + out[r + i - bpp]) & 0xFF
        return bytes(out)
    # PNG predictors: each row prefixed with a filter-type byte
    out = bytearray()
    prior = bytearray(rowlen)
    i = 0
    n = len(data)
    while i + 1 <= n:
        ft = data[i]
        row = bytearray(data[i + 1 : i + 1 + rowlen])
        i += 1 + rowlen
        if ft == 1:  # Sub
            for j in range(bpp, len(row)):
                row[j] = (row[j] + row[j - bpp]) & 0xFF
        elif ft == 2:  # Up
            for j in range(len(row)):
                row[j] = (row[j] + prior[j]) & 0xFF
        elif ft == 3:  # Average
            for j in range(len(row)):
                left = row[j - bpp] if j >= bpp else 0
                row[j] = (row[j] + ((left + prior[j]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for j in range(len(row)):
                a = row[j - bpp] if j >= bpp else 0
                b = prior[j]
                c = prior[j - bpp] if j >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[j] = (row[j] + pred) & 0xFF
        out += row
        prior = row
    return bytes(out)


_DECODERS = {
    "FlateDecode": flate_decode,
    "Fl": flate_decode,
    "LZWDecode": lzw_decode,
    "LZW": lzw_decode,
    "ASCIIHexDecode": asciihex_decode,
    "AHx": asciihex_decode,
    "ASCII85Decode": ascii85_decode,
    "A85": ascii85_decode,
    "RunLengthDecode": runlength_decode,
    "RL": runlength_decode,
}

_PASSTHROUGH = {"DCTDecode", "DCT", "JPXDecode", "CCITTFaxDecode", "CCF", "JBIG2Decode"}


def decode_stream(data: bytes, filters, parms) -> bytes:
    """Apply a filter chain.  On any error, return the bytes decoded so far —
    mirrors the reference's raw-content fallback (lib.rs:1255-1261)."""
    if filters is None:
        return data
    if not isinstance(filters, list):
        filters = [filters]
    if parms is None:
        parms = [None] * len(filters)
    elif not isinstance(parms, list):
        parms = [parms]
    while len(parms) < len(filters):
        parms.append(None)
    cur = data
    for f, p in zip(filters, parms):
        name = f if isinstance(f, str) else getattr(f, "name", str(f))
        if name in _PASSTHROUGH:
            return cur
        dec = _DECODERS.get(name)
        if dec is None:
            return cur
        try:
            cur = dec(cur, p)
        except Exception:
            return cur
    return cur
