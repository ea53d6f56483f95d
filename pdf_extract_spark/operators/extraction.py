"""The distributed extraction stage: raw_docs -> documents_spans + metrics.

Spark-first design (SURVEY.md §3 "Our lifecycle"):

    raw_docs --repartition(doc_id)--> map_documents(kernel) --> spans+metrics

  * The reference processes one document at a time, single-threaded
    (/root/reference/src/lib.rs:2374-2416).  ``map_documents`` lifts such a
    per-document function into one ``mapInArrow`` stage: every per-row
    Python stage in the package (the PDF stages here, HTML main content,
    WARC records, media decoders, simhash, winnowing, unigram, the
    synthetic corpora) states only a per-row kernel and one ``pa.schema``;
    the Spark schema is derived from it.  Kernels own their error policy:
    a bad document is a row whose ``error`` is ``"<Type>: <message>"``,
    never a failed task.
  * Skew: documents are hash-spread on doc_id over ``num_partitions``; PDF
    bytes cross exactly one exchange.  A multi-GB document that would be
    a straggler goes through ``extract_documents_paged``, which splits it
    into page ranges that extract as independent tasks.
  * Resume: anti-join against the lineage table of completed doc_ids —
    table-driven checkpointing, no stateful operators needed.
  * Metrics (pages, spans, decode_failures) ride along as columns and are
    aggregated per partition with spark_partition_id() — map-side, no extra
    shuffle.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema, from_arrow_type

from ..extract import (
    doc_metadata,
    error_string,
    extract_spans_flat_from_mem,
    extract_spans_page_range,
    page_count_of,
)

# Spans cross the Arrow boundary as four FLAT arrays — converting python
# list<struct> to Arrow is ~2x slower than flat lists, and the zip back
# into structs happens JVM-side in whole-stage codegen (arrays_zip), off
# the Python critical path.
_SPAN_LISTS = [
    ("kind", pa.list_(pa.string())),
    ("text", pa.list_(pa.string())),
    ("media_ref", pa.list_(pa.string())),
    ("offset", pa.list_(pa.int32())),
]

# The one span struct type, for kernels that emit it whole (html_main) and,
# as SQL, for JVM-side casts.
SPANS_ARROW = pa.list_(pa.struct([(k, t.value_type) for k, t in _SPAN_LISTS]))
SPANS_STRUCT_SQL = from_arrow_type(SPANS_ARROW).simpleString()

_EXTRACT_SCHEMA = pa.schema(
    [("doc_id", pa.string()), *_SPAN_LISTS, ("pages", pa.int32()),
     ("n_spans", pa.int32()), ("decode_failures", pa.int32()), ("error", pa.string())]
)

_RANGE_SCHEMA = pa.schema(
    [("doc_id", pa.string()), ("content", pa.binary()), ("lo", pa.int32()), ("hi", pa.int32())]
)

_PAGED_SCHEMA = pa.schema(
    [("doc_id", pa.string()), ("page_num", pa.int32()), *_SPAN_LISTS, ("error", pa.string())]
)

_METADATA_SCHEMA = pa.schema(
    [("doc_id", pa.string()), ("version", pa.string()), ("page_count", pa.int32())]
    + [(k, pa.string()) for k in ("title", "author", "subject", "producer", "creator")]
    + [("error", pa.string())]
)


def map_documents(df: DataFrame, kernel, schema: pa.Schema) -> DataFrame:
    """One ``mapInArrow`` stage: ``kernel(*row)`` runs on every row of `df`
    (its columns in order, as Python values) and yields output tuples laid
    out as `schema`.  Nothing is caught here — each kernel keeps its own
    error policy."""

    def run(batches):
        for batch in batches:
            rows = []
            for row in zip(*(c.to_pylist() for c in batch.columns)):
                rows.extend(kernel(*row))
            cols = list(zip(*rows)) if rows else [()] * len(schema)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, f.type) for c, f in zip(cols, schema)], schema=schema
            )

    run.__name__ = kernel.__name__  # the plan's MapInArrow node shows it
    return df.mapInArrow(run, from_arrow_schema(schema))


def _documents(raw_docs: DataFrame) -> DataFrame:
    """(doc_id as a string, content) with NULL content read as empty bytes,
    so it surfaces as an error row rather than vanishing."""
    return raw_docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.coalesce("content", F.lit("").cast("binary")).alias("content"),
    )


def _zip_spans(flat: DataFrame) -> DataFrame:
    """JVM-side reassembly of the span structs from the flat UDF output:
    the four adjacent span arrays become one ``spans`` column in place."""
    cols = flat.columns
    i = cols.index("kind")
    return flat.select(
        *cols[:i],
        F.arrays_zip("kind", "text", "media_ref", "offset")
        .cast(SPANS_STRUCT_SQL)
        .alias("spans"),
        *cols[i + 4:],
    )


def _extract_kernel(doc_id, content):
    kinds, texts, media_refs, offsets, pages, error = extract_spans_flat_from_mem(content)
    yield (doc_id, kinds, texts, media_refs, offsets, pages, len(kinds),
           0 if error is None else 1, error)


def extract_documents(raw_docs: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """raw_docs(doc_id, content, ...) -> extraction result frame.

    Returns doc_id, spans, pages, n_spans, decode_failures, error.

    The documents are hash-repartitioned on doc_id over `num_partitions`
    (default ``spark.sql.shuffle.partitions``), so PDF bytes cross exactly
    one exchange — at N_docs >> partitions the per-partition total
    concentrates (Chernoff); an exact size-balanced deal would need a
    second content shuffle, which costs more at scale than the residual
    imbalance it removes.  Building the plan runs no Spark job.  Documents
    large enough to be stragglers on their own (multi-GB) belong on
    ``extract_documents_paged``, which splits them into page ranges.

    NULL content surfaces as a decode-failure row rather than vanishing.
    """
    spark = raw_docs.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    docs = _documents(raw_docs).repartition(num_partitions, F.col("doc_id"))
    return _zip_spans(map_documents(docs, _extract_kernel, _EXTRACT_SCHEMA))


def _extract_range(doc_id, content, lo, hi):
    """Pages lo..hi of one document, one row per page; a range that raises
    is one row at its first page with no spans and the error."""
    try:
        pages = extract_spans_page_range(content, lo, hi)
    except Exception as e:  # noqa: BLE001 - per-range fault isolation
        yield doc_id, lo, [], [], [], [], error_string(e)
        return
    for page_num, spans in pages:
        yield (doc_id, page_num, [s["kind"] for s in spans], [s["text"] for s in spans],
               [s["media_ref"] for s in spans], [s["offset"] for s in spans], None)


def extract_documents_paged(
    raw_docs: DataFrame,
    pages_per_task: int = 16,
    num_partitions: int | None = None,
) -> DataFrame:
    """Page-exploded extraction: (doc_id, page_num, spans, error) with
    by-pages semantics (fresh interpreter per page — extract_text_by_pages
    parity, lib.rs:2295-2307/2396).

    This is the scale path for multi-GB documents: stage 1 splits each doc
    into page RANGES (content bytes replicated once per range, so a
    500-page doc becomes ~32 independent tasks instead of one straggler);
    stage 2 extracts ranges in parallel.  Output granularity is the page,
    so downstream reassembly is an ordered collect_list per doc_id.

    A range that fails is one row at its first page with empty spans and
    ``error`` set; a document that fails to load is the range (1, 1).
    """
    spark = raw_docs.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    def split_ranges(doc_id, content):
        try:
            n = page_count_of(content)
        except Exception:  # noqa: BLE001 - stage 2 reloads it and tags the error
            yield doc_id, content, 1, 1
            return
        for lo in range(1, n + 1, pages_per_task):
            yield doc_id, content, lo, min(lo + pages_per_task - 1, n)

    ranges = map_documents(_documents(raw_docs), split_ranges, _RANGE_SCHEMA)
    ranges = ranges.repartition(num_partitions, F.xxhash64("doc_id", "lo"))
    return _zip_spans(map_documents(ranges, _extract_range, _PAGED_SCHEMA))


def reassemble_doc_spans(paged: DataFrame) -> DataFrame:
    """(doc_id, page_num, spans) -> (doc_id, spans) in page order via
    sort_array over (page_num, spans) structs — ordered reassembly without
    a window (one shuffle, the span-ordering family of SURVEY.md §2.5)."""
    return (
        paged.groupBy("doc_id")
        .agg(
            F.flatten(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("page_num", "spans"))),
                    lambda s: s["spans"],
                )
            ).alias("spans")
        )
    )


def _metadata_kernel(doc_id, content):
    try:
        m, error = doc_metadata(content), None
    except Exception as e:  # noqa: BLE001 - per-doc fault isolation
        m, error = {}, error_string(e)
    yield (doc_id, *(m.get(k) for k in _METADATA_SCHEMA.names[1:-1]), error)


def extract_metadata(raw_docs: DataFrame) -> DataFrame:
    """print_metadata equivalent (lib.rs:2203-2216) as a side-output table:
    doc_id, version, page_count, title/author/subject/producer/creator."""
    return map_documents(_documents(raw_docs), _metadata_kernel, _METADATA_SCHEMA)


def resume_filter(raw_docs: DataFrame, lineage: DataFrame | None) -> DataFrame:
    """Drop docs already extracted OK in a previous run (checkpoint resume):
    left_anti join against lineage — Catalyst picks broadcast when the done
    set is small, sort-merge otherwise."""
    if lineage is None:
        return raw_docs
    done = lineage.filter(F.col("status") == "ok").select("doc_id").distinct()
    return raw_docs.join(done, "doc_id", "left_anti")


def lineage_rows(extracted: DataFrame, run_id: str) -> DataFrame:
    """Per-document lineage (FIXTURES.md §1): run_id, partition_id, doc_id,
    status, finished_at.  partition_id captured map-side, no shuffle."""
    return extracted.select(
        F.lit(run_id).alias("run_id"),
        F.spark_partition_id().alias("partition_id"),
        F.col("doc_id"),
        # three terminal states: ok, skipped (records the job declines to
        # extract — e.g. WARC non-HTML/request records — deterministic, so
        # resume must NOT retry them like failures), failed (decode errors,
        # retried on --resume)
        F.when(F.col("error").isNull(), F.lit("ok"))
        .when(F.col("error").startswith("warc: skipped"), F.lit("skipped"))
        .otherwise(F.lit("failed"))
        .alias("status"),
        F.current_timestamp().alias("finished_at"),
    )


def metrics_rows(extracted: DataFrame) -> DataFrame:
    """Per-document extraction metrics table."""
    return extracted.select(
        "doc_id",
        F.col("pages"),
        F.col("n_spans").alias("spans"),
        F.col("decode_failures"),
    )


def run_metrics(extracted: DataFrame, run_id: str) -> DataFrame:
    """Per-partition rollup for the run dashboard — one map-side agg."""
    return (
        extracted.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(
            F.count("*").alias("docs"),
            F.sum("pages").alias("pages"),
            F.sum("n_spans").alias("spans"),
            F.sum("decode_failures").alias("decode_failures"),
        )
        .withColumn("run_id", F.lit(run_id))
    )
