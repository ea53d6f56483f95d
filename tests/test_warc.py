"""WARC ingest (sources/warc.py): framing round-trip, truncation
degradation classes, the single/whole-archive encoding identity the
golden generator's extent arithmetic relies on, and the Spark stage."""

from pdf_extract_spark.sources.warc import (
    make_warc,
    parse_warc,
    warc_fixture_archives,
    warc_fixture_spec,
    warc_records,
)


def test_roundtrip_and_http_peel():
    spec = [
        ("warcinfo", "", "application/warc-fields", b"k: v\r\n"),
        ("response", "https://x.test/a", "text/html", b"<html>hi</html>"),
        ("request", "https://x.test/a", "application/http; msgtype=request",
         b"GET /a HTTP/1.1\r\n\r\n"),
    ]
    rows = parse_warc(make_warc(spec))
    assert [r["record_type"] for r in rows] == ["warcinfo", "response", "request"]
    resp = rows[1]
    assert resp["body"] == b"<html>hi</html>"          # HTTP head peeled
    assert resp["http_status"] == 200
    assert resp["content_type"] == "text/html"          # from the HTTP head
    assert resp["target_uri"] == "https://x.test/a"
    assert rows[0]["body"] == b"k: v\r\n"                # non-response verbatim
    assert all(not r["error"] for r in rows)


def test_concat_identity():
    """Whole-archive encoding == concatenation of single-record encodings
    with position-baked indices (the golden's extent arithmetic)."""
    spec = warc_fixture_spec()
    whole = make_warc(spec)
    parts = b"".join(make_warc([r], start_index=i) for i, r in enumerate(spec))
    assert whole == parts


def test_truncation_classes():
    spec = [("response", "https://x.test/a", "text/html", b"0123456789" * 10)]
    full = make_warc(spec)
    # cut inside the block -> truncated block, nothing kept before it
    rows = parse_warc(full[: len(full) - 30])
    assert [r["error"] for r in rows] == ["truncated block"]
    # cut inside the WARC header -> bad record header
    rows = parse_warc(full[:20])
    assert [r["error"] for r in rows] == ["bad record header"]
    # garbage header with terminator but no Content-Length
    rows = parse_warc(b"WARC/1.1\r\nWARC-Type: response\r\n\r\n")
    assert [r["error"] for r in rows] == ["missing content-length"]
    # two records, second truncated: first survives
    two = make_warc(spec + [("response", "https://x.test/b", "text/html",
                             b"zz" * 40)])
    rows = parse_warc(two[: len(two) - 10])
    assert [r["error"] for r in rows] == ["", "truncated block"]
    assert rows[0]["target_uri"] == "https://x.test/a"


def test_spark_stage_matches_kernel(spark):
    arcs = warc_fixture_archives()
    df = spark.createDataFrame(arcs, "warc_id string, payload binary")
    got = {(r["warc_id"], r["rec_index"]): r
           for r in warc_records(df, num_partitions=3).collect()}
    import hashlib

    for wid, payload in arcs:
        for r in parse_warc(payload):
            g = got[(wid, r["rec_index"])]
            assert g["record_type"] == r["record_type"]
            assert g["body_sha256"] == hashlib.sha256(r["body"]).hexdigest()
            assert bytes(g["body"] or b"") == r["body"]
    assert len(got) == sum(len(parse_warc(p)) for _, p in arcs)


def test_null_payload_is_one_error_row(spark):
    """A NULL archive is one error row the record-level accounting can
    count; an empty archive holds no records."""
    df = spark.createDataFrame(
        [("null", None), ("empty", b"")], "warc_id string, payload binary"
    )
    rows = warc_records(df, num_partitions=2).collect()
    assert [(r["warc_id"], r["rec_index"], r["error"], r["byte_len"]) for r in rows] == [
        ("null", 0, "null payload", 0)
    ]


def test_negative_content_length_terminates():
    """A corrupt negative Content-Length must yield one error row, not
    an infinite re-parse of the same header (review-found hang)."""
    rows = parse_warc(b"WARC/1.1\r\nContent-Length: -33\r\n\r\n")
    assert [r["error"] for r in rows] == ["missing content-length"]


def test_mixed_case_content_type(spark):
    """RFC 9110: media types are case-insensitive — an uppercase
    Content-Type must still reach the HTML extraction path."""
    from pyspark.sql import functions as F

    spec = [("response", "https://x.test/a", "Text/HTML; Charset=UTF-8",
             b"<html><body><p>hello</p></body></html>")]
    df = spark.createDataFrame(
        [("w", make_warc(spec))], "warc_id string, payload binary"
    )
    kept = (
        warc_records(df)
        .filter(
            (F.col("record_type") == "response")
            & F.lower(F.col("content_type")).startswith("text/html")
        )
        .count()
    )
    assert kept == 1


def test_utf8_target_uri_roundtrips():
    """Header values are UTF-8 on real crawls: a non-ASCII
    WARC-Target-URI must round-trip intact (the old latin-1 decode
    turned 'é' into 'Ã©' in target_uri and downstream doc_ids); raw
    non-UTF-8 bytes still degrade readably via the latin-1 fallback
    instead of raising."""
    spec = [("response", "https://x.test/café/中文",
             "text/html", b"<html>ok</html>")]
    rows = parse_warc(make_warc(spec))
    assert rows[0]["target_uri"] == "https://x.test/café/中文"
    assert not rows[0]["error"]

    # invalid UTF-8 in a header value: latin-1 fallback, never a raise
    raw = make_warc(spec)
    broken = raw.replace("café".encode(), b"caf\xe9x")
    rows = parse_warc(broken)
    assert rows[0]["target_uri"].startswith("https://x.test/caf")
    assert not rows[0]["error"]


def test_wet_records_filters_to_conversion(spark):
    from pdf_extract_spark.sources.warc import (
        warc_records,
        wet_fixture_archive,
        wet_records,
    )

    arc = wet_fixture_archive([(1, "alpha beta"), (2, "gamma")])
    arcs = spark.createDataFrame(
        [("w", arc)], "warc_id string, payload binary"
    )
    out = wet_records(warc_records(arcs, num_partitions=2)).collect()
    assert {r["target_uri"] for r in out} == {
        "https://wet.test/1",
        "https://wet.test/2",
    }
    assert {r["text"] for r in out} == {"alpha beta", "gamma"}
    # warcinfo record is filtered, not surfaced as text
    assert all(r["rec_index"] >= 1 for r in out)


def test_wet_truncated_archive_keeps_prefix(spark):
    from pdf_extract_spark.sources.warc import (
        warc_records,
        wet_fixture_archive,
        wet_records,
    )

    arc = wet_fixture_archive([(1, "alpha beta"), (2, "gamma delta")])
    cut = arc[: len(arc) - 8]  # cut inside the LAST record's block
    arcs = spark.createDataFrame(
        [("w", cut)], "warc_id string, payload binary"
    )
    recs = warc_records(arcs, num_partitions=2)
    texts = {r["text"] for r in wet_records(recs).collect()}
    assert "alpha beta" in texts  # parsed prefix survives
    errs = [r for r in recs.collect() if r["error"]]
    assert errs  # the cut tail lands as a tagged error row, no raise


def test_wat_link_edges_roundtrip_and_malformed_json(spark):
    from pdf_extract_spark.sources.warc import (
        make_warc,
        warc_records,
        wat_fixture_archive,
        wat_link_edges,
    )

    arc = wat_fixture_archive(
        [
            ("https://a.test/1", ["https://b.test/2", "https://c.test/3"]),
            # real WAT hrefs are AS WRITTEN: root-relative resolves
            # against the page base; mailto: is dropped (NULLed), same
            # as the HTML link extractor
            ("https://b.test/2", ["https://a.test/1", "/local",
                                  "mailto:x@y.test"]),
        ]
    )
    # append a metadata record with BROKEN JSON: from_json yields null,
    # the explode drops it — no raise, other records unaffected
    arc += make_warc(
        [("metadata", "https://bad.test/x", "application/json",
          b"{not json at all")],
        start_index=99,
    )
    arcs = spark.createDataFrame(
        [("w", arc)], "warc_id string, payload binary"
    )
    edges = {
        (r["src"], r["dst"])
        for r in wat_link_edges(warc_records(arcs, num_partitions=2)).collect()
    }
    assert edges == {
        ("https://a.test/1", "https://b.test/2"),
        ("https://a.test/1", "https://c.test/3"),
        ("https://b.test/2", "https://a.test/1"),
        ("https://b.test/2", "https://b.test/local"),
    }
