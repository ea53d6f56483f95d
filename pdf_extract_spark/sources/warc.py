"""WARC (Web ARChive, ISO 28500) ingest — the container format web-scale
corpora actually arrive in (Common Crawl ships WARC).  A from-scratch
parser: no warcio dependency, no reference-code lineage (the reference
has no web-ingest layer at all; format per the public ISO 28500 /
WARC 1.1 specification).

Format recap (all that matters for ingest):
  record   = version line "WARC/1.0|1.1" CRLF
             named headers (Name: value CRLF) ... CRLF CRLF
             block of exactly Content-Length bytes
             CRLF CRLF
  response records' block = full HTTP response (status line, headers,
  CRLF CRLF, body).

Scale shape: one WARC file is one binary row; `warc_records` is one
per-archive Arrow stage (``map_documents``) over (warc_id, payload) with
the same hash-spread salting as the PDF path — per-record parsing never
crosses an exchange, and a malformed tail degrades to the rows parsed so
far plus a tagged error row (a 100 TB crawl cannot die on one truncated
archive; a NULL payload is one error row).  Downstream the extracted HTTP
bodies feed html_main / the extraction UDFs directly.
"""

from __future__ import annotations

import hashlib

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.extraction import map_documents

_CRLF = b"\r\n"


def _hdecode(raw: bytes) -> str:
    """Header-value bytes -> str: UTF-8 first (what real crawls and
    make_warc emit), latin-1 as the total fallback so a corrupt value
    degrades to readable bytes instead of raising mid-parse."""
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError:
        return raw.decode("latin-1")


def make_warc(records: "list[tuple[str, str, str, bytes]]",
              start_index: int = 0) -> bytes:
    """Deterministic WARC/1.1 bytes from (warc_type, target_uri,
    content_type, body).  Response records get a full HTTP/1.1 200 head
    with the given Content-Type; other types carry the body verbatim.
    Record ids are keyed by archive position (`start_index` lets the
    golden generator compute per-record byte extents by encoding records
    one at a time — concatenation of single-record encodings equals the
    whole-archive encoding, tested).  The fixture side of the oracle —
    parser correctness is judged against the SPEC list that built the
    file, never against the parser."""
    out = bytearray()
    for i, (wtype, uri, ctype, body) in enumerate(records, start=start_index):
        if wtype == "response":
            http = (
                b"HTTP/1.1 200 OK" + _CRLF
                + b"Content-Type: " + ctype.encode() + _CRLF
                + b"Content-Length: " + str(len(body)).encode() + _CRLF
                + _CRLF + body
            )
            block = bytes(http)
            block_type = "application/http; msgtype=response"
        else:
            block = bytes(body)
            block_type = ctype
        rid = hashlib.md5(f"{i}|{wtype}|{uri}".encode()).hexdigest()
        head = (
            b"WARC/1.1" + _CRLF
            + b"WARC-Type: " + wtype.encode() + _CRLF
            + b"WARC-Record-ID: <urn:uuid:" + rid.encode() + b">" + _CRLF
            + (b"WARC-Target-URI: " + uri.encode() + _CRLF if uri else b"")
            + b"Content-Type: " + block_type.encode() + _CRLF
            + b"Content-Length: " + str(len(block)).encode() + _CRLF
            + _CRLF
        )
        out += head + block + _CRLF + _CRLF
    return bytes(out)


def _error_record(idx: int, error: str) -> dict:
    """The error-tagged record that ends a scan at archive position idx."""
    return {"rec_index": idx, "record_type": "", "target_uri": "",
            "record_id": "", "content_type": "", "http_status": 0,
            "body": b"", "error": error}


def parse_warc(payload: bytes) -> "list[dict]":
    """Pure kernel: WARC bytes -> record dicts (rec_index, record_type,
    target_uri, record_id, content_type, http_status, body:bytes,
    error).  A malformed region stops the scan with one final
    error-tagged row; everything parsed before it is kept."""
    rows: list[dict] = []
    pos = 0
    idx = 0
    n = len(payload)
    while pos < n:
        # tolerate inter-record padding
        while pos < n and payload[pos:pos + 2] == _CRLF:
            pos += 2
        if pos >= n:
            break
        end_head = payload.find(_CRLF + _CRLF, pos)
        if not payload.startswith(b"WARC/", pos) or end_head < 0:
            rows.append(_error_record(idx, "bad record header"))
            break
        headers: dict[str, str] = {}
        for line in payload[pos:end_head].split(_CRLF)[1:]:
            k, _, v = line.partition(b":")
            # header values are UTF-8 on real crawls (and from make_warc);
            # latin-1 only as a never-fails fallback for corrupt bytes —
            # decoding UTF-8 values as latin-1 mojibake'd non-ASCII
            # WARC-Target-URIs (and the doc_ids derived from them)
            headers[k.strip().decode("latin-1").lower()] = _hdecode(v.strip())
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            length = -1
        if length < 0:
            # absent OR negative: a negative length would move the scan
            # position backwards and loop forever on a corrupt record
            rows.append(_error_record(idx, "missing content-length"))
            break
        block_start = end_head + 4
        block = payload[block_start:block_start + length]
        if len(block) < length:
            rows.append(_error_record(idx, "truncated block"))
            break
        rtype = headers.get("warc-type", "")
        ctype = headers.get("content-type", "")
        status = 0
        body = block
        if rtype == "response" and block.startswith(b"HTTP/"):
            he = block.find(_CRLF + _CRLF)
            if he >= 0:
                status_line = block[:block.find(_CRLF)].split(b" ")
                try:
                    status = int(status_line[1])
                except (IndexError, ValueError):
                    status = 0
                for hline in block[:he].split(_CRLF)[1:]:
                    hk, _, hv = hline.partition(b":")
                    if hk.strip().lower() == b"content-type":
                        ctype = hv.strip().decode("latin-1")
                body = block[he + 4:]
        rows.append({
            "rec_index": idx,
            "record_type": rtype,
            "target_uri": headers.get("warc-target-uri", ""),
            "record_id": headers.get("warc-record-id", ""),
            "content_type": ctype,
            "http_status": status,
            "body": body,
            "error": "",
        })
        idx += 1
        pos = block_start + length
    return rows


_WARC_SCHEMA = pa.schema([
    ("warc_id", pa.string()), ("rec_index", pa.int64()),
    ("record_type", pa.string()), ("target_uri", pa.string()),
    ("record_id", pa.string()), ("content_type", pa.string()),
    ("http_status", pa.int64()), ("byte_len", pa.int64()),
    ("body_sha256", pa.string()), ("body", pa.binary()), ("error", pa.string()),
])


def _warc_kernel(warc_id, payload):
    """One archive -> its records.  A NULL payload is one error record (it
    must reach the record-level accounting); an empty archive has none."""
    records = [_error_record(0, "null payload")] if payload is None else parse_warc(payload)
    for r in records:
        body = r["body"]
        yield (warc_id, r["rec_index"], r["record_type"], r["target_uri"],
               r["record_id"], r["content_type"], r["http_status"], len(body),
               hashlib.sha256(body).hexdigest(), body, r["error"])


def warc_records(warcs: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """(warc_id, payload) -> one row per contained record.  Archives are
    GB-scale, so hash-spread before the Arrow stage like the PDF path;
    record bodies stay binary for downstream html_main / extraction."""
    spark = warcs.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    arcs = warcs.repartition(num_partitions, F.xxhash64("warc_id")).select("warc_id", "payload")
    return map_documents(arcs, _warc_kernel, _WARC_SCHEMA)


def warc_fixture_spec() -> "list[tuple[str, str, str, bytes]]":
    """The deterministic record spec behind the oracled WARC fixtures:
    a warcinfo record, one HTTP response per HTML fixture family, a
    request record, and a non-HTML response — shared with
    tools/gen_golden_warc.py so expectations derive from THIS list."""
    from ..html_fixtures import html_corpus

    recs: list[tuple[str, str, str, bytes]] = [
        ("warcinfo", "", "application/warc-fields",
         b"software: pdf-extract-spark\r\nformat: WARC/1.1\r\n"),
    ]
    for doc_id, html, _expected in html_corpus(replicas=1):
        recs.append(("response", f"https://example.org/{doc_id}",
                     "text/html; charset=utf-8", html.encode()))
    recs.append(("request", "https://example.org/robots.txt",
                 "application/http; msgtype=request",
                 b"GET /robots.txt HTTP/1.1\r\nHost: example.org\r\n\r\n"))
    recs.append(("response", "https://example.org/logo",
                 "image/x-portable-pixmap", b"P6 1 1 255 \xff\x00\x00"))
    return recs


def warc_block_len(rec: "tuple[str, str, str, bytes]") -> int:
    """Byte length of a record's content block per the make_warc framing
    (shared with the golden generator's extent arithmetic)."""
    wtype, _uri, ctype, body = rec
    if wtype != "response":
        return len(body)
    http_head = (
        f"HTTP/1.1 200 OK\r\nContent-Type: {ctype}\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    )
    return len(http_head) + len(body)


TRUNC_RECORD = 8  # the fixture cut lands 10 bytes into THIS record's block


def warc_fixture_archives() -> "list[tuple[str, bytes]]":
    """(warc_id, payload): the full archive plus a copy cut 10 bytes
    into record TRUNC_RECORD's content block — a deterministic
    truncated-block case proving the parser keeps the parsed prefix and
    tags the tail instead of raising."""
    spec = warc_fixture_spec()
    full = make_warc(spec)
    off = sum(
        len(make_warc([r], start_index=i)) for i, r in enumerate(spec[:TRUNC_RECORD])
    )
    head_len = len(make_warc([spec[TRUNC_RECORD]], start_index=TRUNC_RECORD)) - (
        warc_block_len(spec[TRUNC_RECORD]) + 4
    )
    return [("warc-full", full), ("warc-trunc", full[: off + head_len + 10])]


def wet_records(recs: DataFrame) -> DataFrame:
    """Conversion-record projection of a parsed WARC frame — the
    Common Crawl WET path (WET files are WARC containers whose payload
    records are WARC-Type: conversion with a text/plain block holding
    the pre-extracted page text; reference corpus layout per ISO 28500
    and the commoncrawl.org WET spec).  Media-type match is
    case-insensitive (RFC 9110); the body decodes as UTF-8 text.

    Scale shape: a narrow filter + projection over warc_records'
    already-hash-spread output — no new exchange."""
    return recs.filter(
        (F.col("record_type") == "conversion")
        & F.lower(F.col("content_type")).startswith("text/plain")
    ).select(
        "warc_id",
        "rec_index",
        "target_uri",
        F.col("body").cast("string").alias("text"),
        "byte_len",
        "body_sha256",
    )


def wet_fixture_archive(docs_rows: "list[tuple]") -> bytes:
    """Deterministic WET archive from (doc_id, text) rows: a warcinfo
    record followed by one conversion record per document, URI-keyed
    by doc_id.  Shared by the `wet_text_docs` query and its oracle's
    expectations (the oracle reads the SAME source relation directly —
    the container round-trip must be byte-faithful to match)."""
    spec: list[tuple[str, str, str, bytes]] = [
        ("warcinfo", "", "application/warc-fields",
         b"software: pdf-extract-spark\r\nformat: WARC/1.1 WET\r\n"),
    ]
    for doc_id, text in docs_rows:
        spec.append(
            ("conversion", f"https://wet.test/{doc_id}", "text/plain",
             str(text).encode("utf-8"))
        )
    return make_warc(spec)


# WAT (Web Archive Transformation) support: Common Crawl's metadata
# sibling of WARC/WET — each page surfaces as a WARC-Type: metadata
# record whose application/json body carries an Envelope with the
# page's extracted link list.  The subset parsed here is the
# Links path used by the public CC WAT layout:
#   Envelope.WARC-Header-Metadata.WARC-Target-URI
#   Envelope.Payload-Metadata.HTTP-Response-Metadata
#           .HTML-Metadata.Links[*].url
_WAT_JSON_SCHEMA = (
    "struct<Envelope: struct<"
    "`WARC-Header-Metadata`: struct<`WARC-Target-URI`: string>, "
    "`Payload-Metadata`: struct<`HTTP-Response-Metadata`: struct<"
    "`HTML-Metadata`: struct<Links: array<struct<path: string, url: string>>"
    ">>>>>"
)


def wat_records(recs: DataFrame) -> DataFrame:
    """Metadata-record projection of a parsed WARC frame — the WAT
    path.  Returns (warc_id, rec_index, target_uri, envelope) with the
    JSON body parsed JVM-side by from_json against the documented
    subset schema (no Python in the parse)."""
    return recs.filter(
        (F.col("record_type") == "metadata")
        & F.lower(F.col("content_type")).startswith("application/json")
    ).select(
        "warc_id",
        "rec_index",
        "target_uri",
        F.from_json(F.col("body").cast("string"), _WAT_JSON_SCHEMA).alias(
            "envelope"
        ),
    )


def wat_link_edges(recs: DataFrame) -> DataFrame:
    """WAT records -> distinct (src, dst) link edges: the link graph
    recovered WITHOUT fetching or parsing any HTML — the reason crawls
    ship WAT files at all.  src prefers the envelope's header URI
    (falling back to the record header), dst explodes the Links array;
    both ends canonicalized with the SAME rules the HTML link extractor
    uses, so WAT- and HTML-derived graphs merge.

    Scale shape: narrow filter + JVM JSON parse + explode + one
    distinct — the only exchange is the dedup."""
    from ..functions.urls import canonical_url
    from ..operators.webgraph import resolve_href

    w = wat_records(recs)
    return (
        w.select(
            F.coalesce(
                F.col("envelope.Envelope.`WARC-Header-Metadata`"
                      ".`WARC-Target-URI`"),
                F.col("target_uri"),
            ).alias("src_raw"),
            F.explode(
                F.col("envelope.Envelope.`Payload-Metadata`"
                      ".`HTTP-Response-Metadata`.`HTML-Metadata`.Links")
            ).alias("l"),
        )
        # real WAT records store hrefs AS WRITTEN: resolve root-relative
        # paths against the page base and NULL out mailto:/fragments —
        # the SAME resolve_href + canonical_url chain the HTML link
        # extractor uses, so WAT- and HTML-derived graphs actually merge
        .select(
            canonical_url(F.col("src_raw")).alias("src"),
            canonical_url(
                resolve_href(F.col("l.url"), F.col("src_raw"))
            ).alias("dst"),
        )
        .filter(F.col("dst").isNotNull() & (F.col("dst") != ""))
        .distinct()
    )


def wat_fixture_archive(pages: "list[tuple[str, list[str]]]") -> bytes:
    """Deterministic WAT archive from (url, outlinks) pairs: a warcinfo
    record plus one metadata record per page with the documented
    Envelope JSON shape.  Shared by the `wat_link_edges` query and its
    oracle's expectations (the oracle derives the same edges from the
    spec rule directly — the container + JSON round-trip must be
    faithful to match)."""
    import json as _json

    spec: list[tuple[str, str, str, bytes]] = [
        ("warcinfo", "", "application/warc-fields",
         b"software: pdf-extract-spark\r\nformat: WARC/1.1 WAT\r\n"),
    ]
    for url, links in pages:
        env = {
            "Envelope": {
                "WARC-Header-Metadata": {"WARC-Target-URI": url},
                "Payload-Metadata": {
                    "HTTP-Response-Metadata": {
                        "HTML-Metadata": {
                            "Links": [
                                {"path": "A@/href", "url": l} for l in links
                            ]
                        }
                    }
                },
            }
        }
        spec.append(
            ("metadata", url, "application/json",
             _json.dumps(env, sort_keys=True).encode("utf-8"))
        )
    return make_warc(spec)
