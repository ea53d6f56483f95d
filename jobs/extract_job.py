"""Cluster extraction job — the spark-submit entry point.

Usage (local sandbox):
    python tools/package_pyfiles.py   # builds dist/pdf_extract_spark.zip
    spark-submit --master local[8] \
        --py-files dist/pdf_extract_spark.zip \
        jobs/extract_job.py --input <raw_docs parquet|pdf dir> \
        --output /tmp/out --run-id run1

On a cluster the same invocation runs against Iceberg tables; --input may
be a parquet raw_docs table, a directory of PDFs (binaryFile source),
'synthetic:N' for the deterministic benchmark corpus, or
'warc:<parquet|synthetic>' to ingest crawl containers (WARC archives ->
HTTP text/html bodies -> boilerplate strip) through the SAME
documents_spans / lineage / metrics / resume contract as the PDF path,
or 'wet:<parquet|synthetic>' for Common Crawl WET text archives
(conversion records -> one text span per document, same contract).

The job is checkpoint-resumable: lineage rows from previous runs at
--output/lineage are anti-joined away before extraction.
"""

from __future__ import annotations

import argparse
import sys
import time


def main(argv=None) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--run-id", default=f"run-{int(time.time())}")
    p.add_argument("--num-partitions", type=int, default=None)
    p.add_argument("--buckets", type=int, default=64)
    p.add_argument(
        "--iceberg-table",
        default=None,
        help="catalog-qualified Iceberg table (e.g. cat.db.documents_spans): "
        "with the Iceberg runtime on the classpath the spans sink becomes a "
        "native writeTo + bucket(N, doc_id); without it, parquet fallback",
    )
    p.add_argument("--resume", action="store_true")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from pdf_extract_spark.operators.extraction import (
        SPANS_STRUCT_SQL,
        extract_documents,
        lineage_rows,
        metrics_rows,
        resume_filter,
        run_metrics,
    )
    from pdf_extract_spark.sources.raw_docs import (
        read_pdf_dir,
        synthetic_corpus_df,
        write_spans,
    )

    spark = SparkSession.builder.appName("pdf_extract_spark.extract").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from pyspark.sql import functions as _F

    warc_mode = args.input.startswith("warc:")
    wet_mode = args.input.startswith("wet:")
    if warc_mode or wet_mode:
        # warc:synthetic (the oracled fixture archives) / wet:synthetic
        # (a deterministic WET archive) or {warc,wet}:<parquet of
        # (warc_id, payload)> — crawl containers in, the SAME
        # documents_spans/lineage/metrics contract out.  WET archives
        # carry pre-extracted text (WARC-Type: conversion, text/plain),
        # so the extractable predicate and the span construction differ
        # while all accounting (skips, errors, resume) is shared
        from pdf_extract_spark.sources.warc import (
            warc_fixture_archives,
            warc_records,
            wet_fixture_archive,
        )

        src = args.input.split(":", 1)[1]
        if src == "synthetic":
            if wet_mode:
                arcs = spark.createDataFrame(
                    [("wet-synthetic", wet_fixture_archive(
                        [(i, f"synthetic wet document {i} body text "
                             f"with {i % 7} extra words " + "tok " * (i % 5))
                         for i in range(20)]
                    ))],
                    "warc_id string, payload binary",
                )
            else:
                arcs = spark.createDataFrame(
                    warc_fixture_archives(), "warc_id string, payload binary"
                )
        else:
            arcs = spark.read.parquet(src)
        recs = warc_records(arcs, num_partitions=args.num_partitions)
        if wet_mode:
            # media types are case-insensitive (RFC 9110) and parse_warc
            # preserves the server's casing verbatim
            extractable = (_F.col("record_type") == "conversion") & _F.lower(
                _F.col("content_type")
            ).startswith("text/plain")
        else:
            extractable = (_F.col("record_type") == "response") & _F.lower(
                _F.col("content_type")
            ).startswith("text/html")
        raw = recs.filter(extractable).select(
            _F.concat_ws(
                "#", "warc_id", _F.col("rec_index").cast("string")
            ).alias("doc_id"),
            _F.col("body").cast("string").alias("html"),
        )
        # non-HTML responses and request/warcinfo/metadata records are not
        # extracted, but the record-level accounting must stay auditable —
        # the PDF path surfaces EVERY input doc, and this mode promises the
        # same metrics/lineage contract — so they land as zero-span,
        # zero-failure rows tagged with what was skipped and why
        warc_skipped = recs.filter(
            (_F.col("error") == "") & ~extractable
        ).select(
            _F.concat_ws(
                "#", "warc_id",
                _F.concat(_F.lit("skip"), _F.col("rec_index").cast("string")),
            ).alias("doc_id"),
            _F.concat(
                _F.lit("warc: skipped "),
                _F.col("record_type"),
                _F.lit(" ("),
                _F.col("content_type"),
                _F.lit(")"),
            ).alias("error"),
        )
        # parser error rows (truncated/corrupt archives) must reach the
        # metrics/lineage tables — the PDF path surfaces decode failures,
        # and this mode promises the same contract
        warc_errors = recs.filter(_F.col("error") != "").select(
            _F.concat_ws(
                "#", "warc_id",
                _F.concat(_F.lit("err"), _F.col("rec_index").cast("string")),
            ).alias("doc_id"),
            _F.concat(_F.lit("warc: "), _F.col("error")).alias("error"),
        )
    elif args.input.startswith("synthetic:"):
        raw = synthetic_corpus_df(spark, int(args.input.split(":", 1)[1]))
    elif args.input.endswith(".parquet") or "parquet" in args.input:
        raw = spark.read.parquet(args.input)
    else:
        raw = read_pdf_dir(spark, args.input)

    lineage_path = f"{args.output}/lineage"
    if args.resume:
        try:
            done = spark.read.parquet(lineage_path)
        except Exception:
            done = None
        raw = resume_filter(raw, done)
        if (warc_mode or wet_mode) and done is not None:
            # skipped records are deterministic (a request record never
            # becomes extractable) — resume treats them as done, unlike
            # failures which are retried
            warc_skipped = warc_skipped.join(
                done.filter(_F.col("status") == "skipped")
                .select("doc_id").distinct(),
                "doc_id",
                "left_anti",
            )

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    # free metrics via observe(): no extra pass over the data
    obs = Observation("extract")
    if warc_mode or wet_mode:
        if wet_mode:
            # WET bodies are already extracted text: one text span per
            # record, byte-faithful (no boilerplate strip to re-run)
            ok = raw.select(
                "doc_id",
                F.lit(1).cast("long").alias("n_spans"),
                F.array(
                    F.struct(
                        F.lit("text").alias("kind"),
                        F.col("html").alias("text"),
                        F.lit("").alias("media_ref"),
                        F.lit(0).cast("int").alias("offset"),
                    )
                ).alias("spans"),
                F.lit(1).cast("long").alias("pages"),
                F.lit(0).cast("long").alias("decode_failures"),
                F.lit(None).cast("string").alias("error"),
            )
        else:
            from pdf_extract_spark.html_main import extract_main_content

            ok = (
                extract_main_content(raw, num_partitions=args.num_partitions)
                .withColumn("pages", F.lit(1).cast("long"))
                .withColumn("decode_failures", F.lit(0).cast("long"))
                .withColumn("error", F.lit(None).cast("string"))
            )
        # records that were not extracted: zero spans; a parser error
        # counts as a decode failure, a skipped record does not
        not_extracted = warc_errors.unionByName(warc_skipped).select(
            "doc_id",
            F.lit(0).cast("long").alias("n_spans"),
            F.expr(f"CAST(array() AS {SPANS_STRUCT_SQL})").alias("spans"),
            F.lit(0).cast("long").alias("pages"),
            (~F.col("error").startswith("warc: skipped"))
            .cast("long")
            .alias("decode_failures"),
            "error",
        )
        stage = ok.unionByName(not_extracted)
    else:
        stage = extract_documents(raw, num_partitions=args.num_partitions)
    extracted = (
        stage
        .observe(
            obs,
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_spans").alias("spans"),
            F.sum("decode_failures").alias("failures"),
            # record-level audit: WARC records not extracted (non-HTML
            # responses, request/warcinfo/metadata) — 0 outside warc mode
            F.sum(
                F.when(
                    F.col("error").startswith("warc: skipped"), F.lit(1)
                ).otherwise(F.lit(0))
            ).alias("skipped_records"),
        )
        .cache()
    )
    try:
        sink = write_spans(
            extracted.select("doc_id", "spans"),
            f"{args.output}/documents_spans",
            buckets=args.buckets,
            iceberg_table=args.iceberg_table,
        )
        if args.iceberg_table and sink != "iceberg":
            print(
                f"iceberg runtime not on classpath: wrote parquet fallback "
                f"instead of {args.iceberg_table}"
            )
        metrics_rows(extracted).write.mode("append").parquet(f"{args.output}/metrics")
        # per-partition rollup table + observed (free) totals
        run_metrics(extracted, args.run_id).write.mode("append").parquet(
            f"{args.output}/run_metrics"
        )
        # lineage appends LAST: it is the resume anti-join's "done" marker,
        # so (a) a crash mid-run never marks docs done whose outputs did
        # not land, and (b) no later action can re-evaluate the resume
        # filter against a lineage table that already contains THIS run's
        # rows (that re-scan silently emptied metrics on --resume runs
        # when a cached partition was evicted)
        lineage_rows(extracted, args.run_id).write.mode("append").parquet(lineage_path)
        m = obs.get
        print(
            f"run={args.run_id} docs={m.get('docs', 0)} "
            f"spans={m.get('spans') or 0} "
            f"decode_failures={m.get('failures') or 0} "
            f"skipped_records={m.get('skipped_records') or 0}"
        )
    finally:
        extracted.unpersist()
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
