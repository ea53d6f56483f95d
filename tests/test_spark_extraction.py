"""Spark-side extraction pipeline tests: distributed correctness, resume,
lineage/metrics, sink layout."""

import pytest
from pyspark.sql import functions as F

from pdf_extract_spark.operators.extraction import (
    extract_documents,
    lineage_rows,
    metrics_rows,
    resume_filter,
    run_metrics,
)
from pdf_extract_spark.sources.raw_docs import (
    fixture_corpus_df,
    golden_spans_df,
    read_spans,
    write_spans,
)


def test_extract_matches_goldens(spark):
    raw = fixture_corpus_df(spark, replicas=3)
    out = extract_documents(raw, num_partitions=8).cache()
    assert out.filter(F.col("error").isNotNull()).count() == 0

    # span-sequence equality (kind, text, media_ref, order) vs goldens —
    # INCLUDING media spans (EXPECTED_MEDIA hand-derivation)
    got = out.select("doc_id", "spans")
    golden = golden_spans_df(spark, replicas=3)
    joined = got.alias("g").join(golden.alias("x"), "doc_id", "inner")
    n = golden.count()
    assert joined.count() == n
    mismatched = joined.filter(F.col("g.spans") != F.col("x.spans"))
    rows = mismatched.limit(3).collect()
    assert not rows, f"span mismatch e.g. {rows[0]['doc_id'] if rows else ''}"


def test_extract_reducer_text_parity(spark):
    """spans -> text via SQL (no Python) equals the fixture expected text."""
    from pdf_extract_spark.fixtures import corpus

    raw = fixture_corpus_df(spark, replicas=1)
    out = extract_documents(raw, num_partitions=4)
    texts = {
        r["doc_id"]: r["txt"]
        for r in out.select(
            "doc_id",
            F.array_join(
                F.expr("transform(filter(spans, s -> s.kind != 'media'), s -> s.text)"),
                "\n",
            ).alias("txt"),
        ).collect()
    }
    for doc_id, _pdf, expected in corpus(1):
        assert texts[doc_id] == expected, doc_id


def test_resume_anti_join(spark):
    raw = fixture_corpus_df(spark, replicas=1)
    out = extract_documents(raw, num_partitions=4)
    lin = lineage_rows(out, run_id="r1").cache()
    assert lin.filter(F.col("status") != "ok").count() == 0
    # resume with half the lineage: only the other half remains
    half = lin.limit(8)
    remaining = resume_filter(raw, half)
    assert remaining.count() == raw.count() - 8
    # full lineage -> nothing left
    assert resume_filter(raw, lin).count() == 0


def test_metrics(spark):
    raw = fixture_corpus_df(spark, replicas=2)
    out = extract_documents(raw, num_partitions=4).cache()
    m = metrics_rows(out)
    assert m.filter(F.col("pages") < 1).count() == 0
    agg = run_metrics(out, "r1").agg(
        F.sum("docs").alias("docs"), F.sum("decode_failures").alias("df")
    ).collect()[0]
    assert agg["docs"] == raw.count()
    assert agg["df"] == 0


def test_corrupt_doc_is_metric_not_failure(spark):
    rows = [("bad-1", b"%PDF-1.4 garbage", 16, "junk"), ("bad-2", b"", 0, "junk")]
    raw = spark.createDataFrame(rows, "doc_id string, content binary, byte_len long, source string")
    out = extract_documents(raw, num_partitions=2).cache()
    assert out.count() == 2
    assert out.filter(F.col("decode_failures") == 1).count() == 2


def test_null_content_surfaces_as_failure_row(spark):
    """NULL content (and NULL byte_len) must not vanish — it must come out
    as a decode-failure row; a large declared byte_len still yields
    exactly one row."""
    rows = [
        ("null-1", None, None, "junk"),
        ("ok-1", b"", 0, "junk"),
        ("big-1", b"%PDF-1.4", 8 * 1024 * 1024, "junk"),
    ]
    raw = spark.createDataFrame(
        rows, "doc_id string, content binary, byte_len long, source string"
    )
    out = extract_documents(raw, num_partitions=2).cache()
    assert out.count() == 3
    got = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert got == {"null-1", "ok-1", "big-1"}
    assert out.filter(F.col("decode_failures") == 1).count() == 3


def test_single_content_exchange_per_path(spark):
    """Plan-quality gate (VERDICT r1 #4): one plan whose PDF bytes cross
    at most ONE Exchange before the extraction UDF, and building it runs
    no Spark job — not even on a source that carries byte_len."""
    raw = fixture_corpus_df(spark, replicas=1)
    assert "byte_len" in raw.columns
    sc = spark.sparkContext
    group = "extract-documents-plan"
    sc.setJobGroup(group, "extract_documents call")
    try:
        out = extract_documents(raw, num_partitions=4)
        submitted = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert submitted == [], submitted
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan[:1500]
    n_exchange = plan.count("Exchange")
    assert n_exchange <= 1, f"{n_exchange} exchanges in plan:\n{plan[:2000]}"


def test_spans_sink_bucketed(spark, tmp_path):
    raw = fixture_corpus_df(spark, replicas=1)
    out = extract_documents(raw, num_partitions=4).select("doc_id", "spans")
    path = str(tmp_path / "documents_spans")
    write_spans(out, path, buckets=8, mode="overwrite")
    back = read_spans(spark, path)
    assert back.count() == raw.count()
    assert set(back.columns) == {"doc_id", "spans"}
    # bucket pruning layout: one parquet file per bucket, written by more
    # than one task (a column-only repartition lets AQE merge the small
    # shuffle into a single writer, every file part-00000)
    import os

    buckets = [d for d in os.listdir(path) if d.startswith("bucket=")]
    assert buckets
    files = {
        d: [f for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet")]
        for d in buckets
    }
    assert all(len(fs) == 1 for fs in files.values()), files
    writers = {fs[0].split("-")[1] for fs in files.values()}
    assert len(writers) >= 2, files


def test_paged_extraction_matches_by_pages(spark):
    """Page-exploded operator == per-doc by-pages API output."""
    from pdf_extract_spark.extract import extract_spans_by_pages
    from pdf_extract_spark.fixtures import corpus
    from pdf_extract_spark.operators.extraction import (
        extract_documents_paged,
        reassemble_doc_spans,
    )

    raw = fixture_corpus_df(spark, replicas=1)
    paged = extract_documents_paged(raw, pages_per_task=1, num_partitions=4).cache()
    got = {
        (r["doc_id"], r["page_num"]): [tuple(s) for s in r["spans"]]
        for r in paged.collect()
    }
    for doc_id, pdf, _exp in corpus(1):
        pages = extract_spans_by_pages(pdf)
        assert len([k for k in got if k[0] == doc_id]) == len(pages)
        for i, spans in enumerate(pages, start=1):
            expect = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]
            assert got[(doc_id, i)] == expect, (doc_id, i)
    # reassembly: one row per doc, spans in page order
    whole = reassemble_doc_spans(paged)
    assert whole.count() == raw.count()


def _paged_by_page(spark, rows):
    from pdf_extract_spark.operators.extraction import extract_documents_paged

    raw = spark.createDataFrame(
        rows, "doc_id string, content binary, byte_len long, source string"
    )
    return {
        (r["doc_id"], r["page_num"]): (len(r["spans"]), r["error"])
        for r in extract_documents_paged(raw, pages_per_task=1, num_partitions=2).collect()
    }


def test_paged_unloadable_document_is_one_error_row(spark):
    """A document whose page count cannot be read is the range (1, 1):
    one row at page 1 with no spans and the load error."""
    got = _paged_by_page(spark, [("garbage", b"%PDF-1.4 garbage", 16, "junk")])
    assert got == {("garbage", 1): (0, "PdfError: missing document catalog")}


def test_paged_failed_range_is_one_error_row(spark):
    """A page range that raises is one row at its first page; the pages
    that extract keep error NULL."""
    from pdf_extract_spark.fixtures import _HELV, PdfBuilder

    b = PdfBuilder()
    font = f"/Resources << /Font {_HELV} >>"
    c1 = b.add_stream("", b"BT /F1 12 Tf 72 720 Td (one) Tj ET")
    c2 = b.add_stream("", b"BT /F1 12 Tf 72 720 Td (two) Tj ET")
    p1 = b.add(f"<< /Type /Page /Parent 5 0 R /MediaBox [0 0 612 792] "
               f"/Contents {c1} 0 R {font} >>".encode())
    p2 = b.add(f"<< /Type /Page /Parent 5 0 R /Contents {c2} 0 R {font} >>".encode())
    pages = b.add(f"<< /Type /Pages /Kids [{p1} 0 R {p2} 0 R] /Count 2 >>".encode())
    pdf = b.build(b.add(f"<< /Type /Catalog /Pages {pages} 0 R >>".encode()))

    got = _paged_by_page(spark, [("no-mediabox", pdf, len(pdf), "junk")])
    assert got == {
        ("no-mediabox", 1): (3, None),
        ("no-mediabox", 2): (0, "ValueError: MediaBox required"),
    }


def test_stage_output_schemas(spark):
    """The Spark schemas derived from each stage's one pa.schema."""
    from pdf_extract_spark.operators.extraction import (
        extract_documents_paged,
        extract_metadata,
    )

    raw = fixture_corpus_df(spark, replicas=1)
    spans = "spans:array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    assert extract_documents(raw, num_partitions=2).schema.simpleString() == (
        f"struct<doc_id:string,{spans},pages:int,n_spans:int,"
        "decode_failures:int,error:string>"
    )
    assert extract_documents_paged(raw, num_partitions=2).schema.simpleString() == (
        f"struct<doc_id:string,page_num:int,{spans},error:string>"
    )
    assert extract_metadata(raw).schema.simpleString() == (
        "struct<doc_id:string,version:string,page_count:int,title:string,"
        "author:string,subject:string,producer:string,creator:string,error:string>"
    )


def test_metadata_is_one_arrow_stage(spark):
    from pdf_extract_spark.operators.extraction import extract_metadata

    plan = extract_metadata(fixture_corpus_df(spark, replicas=1))
    plan = plan._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan
    assert "MapInPandas" not in plan, plan


def test_golden_spans_parquet_current_and_oracle_matches(spark):
    """(a) dist/golden_spans.parquet is regenerable from the fixtures
    (staleness guard for tools/gen_golden_spans.py); (b) the flagship
    extract_pdf_spans query matches it row-for-row — the same compare the
    driver's DuckDB oracle performs."""
    import duckdb
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from gen_golden_spans import OUT, golden_rows

    fresh = golden_rows()
    on_disk = duckdb.sql(
        f"SELECT * FROM read_parquet('{OUT}') ORDER BY doc_id, pos"
    ).fetchall()
    fresh_rows = sorted(zip(*[fresh[k] for k in (
        "doc_id", "pages", "decode_failures", "pos", "kind", "text",
        "media_ref", "offset")]))
    assert [tuple(r) for r in on_disk] == fresh_rows, (
        "dist/golden_spans.parquet is stale — re-run tools/gen_golden_spans.py"
    )

    from pdf_extract_spark.queries import extract_pdf_spans

    got = sorted(tuple(r) for r in extract_pdf_spans(spark, "").collect())
    assert got == fresh_rows


def test_extract_metadata(spark):
    from pdf_extract_spark.operators.extraction import extract_metadata

    raw = fixture_corpus_df(spark, replicas=1)
    m = {r["doc_id"]: r for r in extract_metadata(raw).collect()}
    assert m["multipage-000000"]["page_count"] == 2
    assert m["simple_tj-000000"]["version"].startswith("1.")
    assert all(r["error"] is None for r in m.values())


def test_golden_metadata_parquet_current(spark):
    """dist/golden_metadata.parquet regenerable + doc_metadata query
    matches it (same compare as the driver's DuckDB oracle)."""
    import sys
    from pathlib import Path

    import duckdb

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from gen_golden_meta import OUT, golden_rows

    fresh = golden_rows()
    keys = ("doc_id", "version", "page_count", "title", "author",
            "subject", "producer", "creator", "error")
    fresh_rows = sorted(zip(*[fresh[k] for k in keys]))
    on_disk = duckdb.sql(f"SELECT * FROM read_parquet('{OUT}') ORDER BY doc_id").fetchall()
    assert [tuple(r) for r in on_disk] == fresh_rows, (
        "dist/golden_metadata.parquet stale — re-run tools/gen_golden_meta.py"
    )

    from pdf_extract_spark.queries import doc_metadata_q

    got = sorted(tuple(r) for r in doc_metadata_q(spark, "").collect())
    assert got == fresh_rows


def test_binaryfile_ingest_end_to_end(spark, tmp_path):
    """binaryFile source -> extraction: write fixture PDFs as .pdf files,
    ingest with read_pdf_dir (glob-filtered), extract, verify text parity."""
    from pdf_extract_spark.fixtures import FIXTURES
    from pdf_extract_spark.sources.raw_docs import read_pdf_dir

    expected = {}
    for name in ("simple_tj", "multipage", "encrypted_rc4"):
        pdf, exp = FIXTURES[name]()
        if isinstance(exp, tuple):
            exp = exp[0]
        (tmp_path / f"{name}.pdf").write_bytes(pdf)
        expected[name] = exp
    (tmp_path / "not_a_pdf.txt").write_bytes(b"ignored by the glob")

    raw = read_pdf_dir(spark, str(tmp_path))
    assert raw.count() == 3  # .txt pruned by pathGlobFilter
    assert set(raw.columns) == {"doc_id", "content", "byte_len", "source"}

    out = extract_documents(raw, num_partitions=2)
    texts = {
        r["doc_id"].rsplit("/", 1)[-1].removesuffix(".pdf"): r["txt"]
        for r in out.select(
            "doc_id",
            F.array_join(
                F.expr("transform(filter(spans, s -> s.kind != 'media'), s -> s.text)"),
                "\n",
            ).alias("txt"),
        ).collect()
    }
    assert texts == expected


def test_golden_paged_parquet_current(spark):
    """dist/golden_paged.parquet regenerable + extract_paged_spans matches."""
    import sys
    from pathlib import Path

    import duckdb

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from gen_golden_paged import OUT, golden_rows

    fresh = golden_rows()
    fresh_rows = sorted(zip(fresh["doc_id"], fresh["page_num"], fresh["n_spans"]))
    on_disk = duckdb.sql(
        f"SELECT * FROM read_parquet('{OUT}') ORDER BY doc_id, page_num"
    ).fetchall()
    assert [tuple(r) for r in on_disk] == fresh_rows, (
        "dist/golden_paged.parquet stale — re-run tools/gen_golden_paged.py"
    )

    from pdf_extract_spark.queries import extract_paged_spans

    got = sorted(tuple(r) for r in extract_paged_spans(spark, "").collect())
    assert got == fresh_rows


def test_golden_media_parquet_current(spark):
    """dist/golden_media.parquet regenerable from the media-corpus specs +
    the media_features query matches it (the driver's DuckDB oracle
    compare).  The spec-derived float features must equal the decoder
    outputs bit-for-bit after the float32 cast."""
    import sys
    from pathlib import Path

    import duckdb

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from gen_golden_media import OUT, golden_rows
    import hashlib

    fresh = golden_rows()
    import math

    import numpy as np

    def canon(feat):
        # mirror the query's serialization: float32 -> double,
        # floor(x*1e6+0.5) as long, comma-joined
        return ",".join(
            str(math.floor(float(v) * 1e6 + 0.5))
            for v in np.asarray(feat, dtype=np.float32)
        )

    fresh_rows = sorted(
        (r[0], r[1], len(r[2]), hashlib.sha256(r[2]).hexdigest(), r[3], r[4],
         canon(r[5]), r[6])
        for r in fresh
    )
    on_disk = duckdb.sql(
        f"SELECT * FROM read_parquet('{OUT}') ORDER BY media_id"
    ).fetchall()
    assert sorted(on_disk) == fresh_rows, (
        "dist/golden_media.parquet stale — re-run tools/gen_golden_media.py"
    )

    from pdf_extract_spark.queries import media_features

    got = sorted(tuple(r) for r in media_features(spark, "").collect())
    assert got == fresh_rows


@pytest.mark.parametrize(
    "gen, rows_fn, query",
    [
        ("gen_golden_ann", "ivf_rows", "ann_ivf_topk"),
        ("gen_golden_pq", "pq_rows", "ann_pq_topk"),
        ("gen_golden_ivfpq", "ivfpq_rows", "ann_ivfpq_topk"),
    ],
    ids=["ann_ivf_topk", "ann_pq_topk", "ann_ivfpq_topk"],
)
def test_golden_ann_ivf_parquet_current(spark, gen, rows_fn, query):
    """Each ANN golden parquet (IVF, PQ, IVF-PQ) regenerates identically
    from its independent numpy reimplementation (tools/gen_golden_*.py),
    and the distributed query reproduces the sf0.001 slice exactly
    (driver-harness parity for the other SFs is covered by
    tools/check_oracles.py / the driver itself)."""
    import importlib
    import sys
    from pathlib import Path

    import duckdb

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    golden = importlib.import_module(gen)

    sf_dir = "/root/testdata/sf0.001"
    fp = duckdb.sql(
        golden.FINGERPRINT_SQL.format(src=f"'{sf_dir}/embeddings.parquet'")
    ).fetchone()[0]
    fresh = sorted(getattr(golden, rows_fn)(sf_dir))
    on_disk = sorted(
        tuple(r)
        for r in duckdb.sql(
            f"SELECT query_id, nbr_id, rank FROM read_parquet('{golden.OUT}') "
            f"WHERE corpus_fp = '{fp}'"
        ).fetchall()
    )
    assert on_disk == fresh, f"{golden.OUT} stale — re-run tools/{gen}.py"

    from pdf_extract_spark import queries

    got = sorted(tuple(r) for r in getattr(queries, query)(spark, sf_dir).collect())
    assert got == fresh


def test_golden_svg_parquet_current(spark):
    """dist/golden_svg.parquet is a reviewed SNAPSHOT of the single-node
    SVG device: guard that it regenerates identically, and that the
    distributed render_svg query reproduces it bit-for-bit."""
    import sys
    from pathlib import Path

    import duckdb

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from gen_golden_svg import OUT, golden_rows

    fresh = golden_rows()
    fresh_rows = sorted(zip(*fresh.values()))
    on_disk = duckdb.sql(f"SELECT * FROM read_parquet('{OUT}') ORDER BY doc_id").fetchall()
    assert [tuple(r) for r in on_disk] == fresh_rows, (
        "dist/golden_svg.parquet stale — re-run tools/gen_golden_svg.py"
    )

    from pdf_extract_spark.queries import render_svg

    got = sorted(tuple(r) for r in render_svg(spark, "").collect())
    assert got == fresh_rows


def test_golden_html_parquet_current(spark):
    """dist/golden_html.parquet is a reviewed SNAPSHOT of the single-node
    HTML device: guard that it regenerates identically, and that the
    distributed render_html query reproduces it bit-for-bit."""
    import sys
    from pathlib import Path

    import duckdb

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from gen_golden_html import OUT, golden_rows

    fresh = golden_rows()
    fresh_rows = sorted(zip(*fresh.values()))
    on_disk = duckdb.sql(f"SELECT * FROM read_parquet('{OUT}') ORDER BY doc_id").fetchall()
    assert [tuple(r) for r in on_disk] == fresh_rows, (
        "dist/golden_html.parquet stale — re-run tools/gen_golden_html.py"
    )

    from pdf_extract_spark.queries import render_html

    got = sorted(tuple(r) for r in render_html(spark, "").collect())
    assert got == fresh_rows


def test_render_device_failure_is_tagged_error_row(spark):
    """A document the output device raises on is one row with NULL
    len/md5 and the tagged error, not the digest of the empty string."""
    import hashlib

    from pdf_extract_spark.fixtures import corpus
    from pdf_extract_spark.queries import _render_digests

    def render(data):
        if len(data) % 2:
            raise ValueError("device failed")
        return "<p>"

    ok = (3, hashlib.md5(b"<p>").hexdigest(), None)
    failed = (None, None, "ValueError: device failed")
    want = sorted((doc_id, *(failed if len(pdf) % 2 else ok)) for doc_id, pdf, _ in corpus(1))
    assert {r[1:] for r in want} == {ok, failed}
    got = _render_digests(spark, render, "html")
    assert got.columns == ["doc_id", "html_len", "html_md5", "error"]
    assert sorted(tuple(r) for r in got.collect()) == want
