"""HTML main-content extraction (boilerplate strip via DOM text-density
heuristics): kernel vs hand-derived fixture specs, Spark end-to-end, and
golden-oracle staleness."""

import pytest

from pdf_extract_spark.html_fixtures import FAMILIES, expected_span_rows, html_corpus
from pdf_extract_spark.html_main import extract_main_spans


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_kernel_matches_spec(family):
    html, expected = FAMILIES[family]()
    got = [(k, t, r) for k, t, r, _ in extract_main_spans(html)]
    assert got == expected


def test_kernel_offsets_are_running():
    html, expected = FAMILIES["basic_article"]()
    spans = extract_main_spans(html)
    offset = 0
    for _k, text, _r, off in spans:
        assert off == offset
        offset += len(text) + 1


def test_boilerplate_never_leaks():
    """The template's nav/sidebar/ad/related/footer texts must never appear
    in any family's output, even though several pass the density rule."""
    banned = {"Home", "Log in", "Copyright 2026"}
    for _doc_id, html, _expected in html_corpus(1):
        joined = " ".join(t for _k, t, _r, _o in extract_main_spans(html))
        for b in banned:
            assert b not in joined


def test_spark_end_to_end_matches_spec(spark):
    from pyspark.sql import functions as F

    from pdf_extract_spark.html_main import extract_main_content

    raw = spark.createDataFrame(
        [(d, h) for d, h, _ in html_corpus(1)], "doc_id string, html string"
    )
    out = extract_main_content(raw, num_partitions=4)
    got = sorted(
        (r["doc_id"], r["pos"], r["s"]["kind"], r["s"]["text"],
         r["s"]["media_ref"], r["s"]["offset"])
        for r in out.select(
            "doc_id", F.posexplode("spans").alias("pos", "s")
        ).collect()
    )
    assert got == sorted(expected_span_rows(1))


def test_malformed_html_never_fails(spark):
    """Garbage in -> zero spans out, never a task failure."""
    from pdf_extract_spark.html_main import extract_main_content

    raw = spark.createDataFrame(
        [("a", "<<<%%%"), ("b", ""), ("c", None), ("d", "<p>" + "x" * 30)],
        "doc_id string, html string",
    )
    rows = {
        r["doc_id"]: r["n_spans"]
        for r in extract_main_content(raw, num_partitions=2).collect()
    }
    assert rows["a"] == 0 and rows["b"] == 0 and rows["c"] == 0
    assert rows["d"] == 1  # unclosed but recoverable


def test_golden_html_main_parquet_current():
    import sys
    from pathlib import Path

    import duckdb

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from gen_golden_html_main import OUT

    on_disk = duckdb.sql(
        f"SELECT * FROM read_parquet('{OUT}') ORDER BY doc_id, pos"
    ).fetchall()
    assert [tuple(r) for r in on_disk] == sorted(expected_span_rows(1)), (
        "dist/golden_html_main.parquet stale — re-run tools/gen_golden_html_main.py"
    )


def test_parser_never_raises_fuzz():
    """Byte-soup / tag-soup totality for the HTML tree builder."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(st.text(max_size=2048))
    @settings(max_examples=300, deadline=None)
    def run(s):
        spans = extract_main_spans(s)
        offset = 0
        for _k, text, _r, off in spans:
            assert off == offset
            offset += len(text) + 1

    run()


def test_synthetic_html_corpus_extracts(spark):
    """Scale-bench corpus: deterministic, extracts with expected shape
    (large pages keep their paragraph count + figure media spans)."""
    from pyspark.sql import functions as F

    from pdf_extract_spark.html_main import extract_main_content
    from pdf_extract_spark.sources.raw_docs import synthetic_html_corpus_df

    raw = synthetic_html_corpus_df(spark, 32, num_partitions=4)
    out = extract_main_content(raw, num_partitions=4)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == 32
    # doc 0: large page with 6 paras -> 6 text spans, no figure (i%8==7 never)
    large6 = next(k for k in rows if k.startswith("large6-"))
    assert rows[large6]["n_spans"] == 6
    # large 24-para page: figure after paras 7/15/23 -> 3 x (media+caption)
    large24 = next(k for k in rows if k.startswith("large24-"))
    assert rows[large24]["n_spans"] == 24 + 3 * 2
    # determinism: same id -> same spans
    again = extract_main_content(
        synthetic_html_corpus_df(spark, 32, num_partitions=2), num_partitions=2
    )
    a = {r["doc_id"]: r["spans"] for r in again.collect()}
    assert a[large24] == rows[large24]["spans"]


def test_streaming_html_main_content(spark, tmp_path):
    """The boilerplate-strip stage runs unchanged under Structured
    Streaming (stateless mapInArrow): availableNow file stream over the
    HTML corpus -> same spans as the batch run."""
    from pdf_extract_spark.html_main import extract_main_content
    from pdf_extract_spark.sources.raw_docs import synthetic_html_corpus_df

    src = str(tmp_path / "html_in")
    out = str(tmp_path / "html_spans")
    ckpt = str(tmp_path / "html_ckpt")
    raw = synthetic_html_corpus_df(spark, 24, num_partitions=4)
    raw.write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(src)
    )
    q = (
        extract_main_content(stream, num_partitions=4)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out)
        .start()
    )
    q.awaitTermination(240)

    got = {r["doc_id"]: r["spans"] for r in spark.read.parquet(out).collect()}
    batch = {
        r["doc_id"]: r["spans"]
        for r in extract_main_content(raw, num_partitions=4).collect()
    }
    assert got == batch and len(got) == 24


def test_figure_in_kept_block_emits_media_once():
    """Regression: a figure nested inside a text-bearing kept block must
    emit its media span exactly once (figure acts as a boundary for
    _block_media; _walk's figure branch owns the emission)."""
    spans = extract_main_spans(
        "<td>This sentence is definitely long enough to keep here."
        "<figure><img src='x.png' alt='pic'></figure></td>"
    )
    media = [s for s in spans if s[0] == "media"]
    assert media == [("media", "pic", "x.png", 54)]
