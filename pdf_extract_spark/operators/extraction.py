"""The distributed extraction stage: raw_docs -> documents_spans + metrics.

Spark-first design (SURVEY.md §3 "Our lifecycle"):

    raw_docs --repartition(doc_id)--> mapInArrow(extract_batch) --> spans+metrics

  * The reference processes one document at a time, single-threaded
    (/root/reference/src/lib.rs:2374-2416); extraction is embarrassingly
    parallel per doc_id, so the whole reference pipeline lives inside an
    Arrow-batched ``mapInArrow`` UDF — no per-row Python at the Spark API
    level (per BASELINE.json input_hint; pandas adds only object-dtype
    overhead for a bytes->flat-lists kernel, so the raw-Arrow variant of
    mapInPandas is used for the hot path).
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

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SPANS_STRUCT_SQL = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"

# UDF boundary schema: spans cross Arrow as four FLAT arrays — converting
# python list<struct> to Arrow is ~2x slower than flat lists, and the
# zip back into structs happens JVM-side in whole-stage codegen
# (arrays_zip), off the Python critical path.
_FLAT_SCHEMA = (
    "doc_id string, "
    "kind array<string>, text array<string>, media_ref array<string>, "
    "offset array<int>, "
    "pages int, n_spans int, decode_failures int, error string"
)

EXTRACT_SCHEMA = (
    "doc_id string, "
    f"spans {SPANS_STRUCT_SQL}, "
    "pages int, n_spans int, decode_failures int, error string"
)

def _extract_batches_arrow(batches):
    """Arrow-native extraction UDF (mapInArrow): builds output columns as
    pyarrow arrays directly — the pandas object-dtype round trip both ways
    costs ~15% of stage wall time at 32 cores (measured), and pandas adds
    nothing here since the kernel consumes raw bytes and emits flat lists."""
    import pyarrow as pa

    from ..extract import extract_spans_flat_from_mem

    out_schema = pa.schema(
        [
            ("doc_id", pa.string()),
            ("kind", pa.list_(pa.string())),
            ("text", pa.list_(pa.string())),
            ("media_ref", pa.list_(pa.string())),
            ("offset", pa.list_(pa.int32())),
            ("pages", pa.int32()),
            ("n_spans", pa.int32()),
            ("decode_failures", pa.int32()),
            ("error", pa.string()),
        ]
    )
    for batch in batches:
        doc_ids = batch.column(batch.schema.get_field_index("doc_id"))
        contents = batch.column(batch.schema.get_field_index("content"))
        kinds, texts, medias, offsets = [], [], [], []
        pages_c, n_spans_c, fails_c, errs = [], [], [], []
        for i in range(batch.num_rows):
            c = contents[i].as_py()
            k, t, m, o, pages, error = extract_spans_flat_from_mem(
                c if c is not None else b""
            )
            kinds.append(k)
            texts.append(t)
            medias.append(m)
            offsets.append(o)
            pages_c.append(pages)
            n_spans_c.append(len(k))
            fails_c.append(0 if error is None else 1)
            errs.append(error)
        yield pa.RecordBatch.from_arrays(
            [
                doc_ids.cast(pa.string()),
                pa.array(kinds, pa.list_(pa.string())),
                pa.array(texts, pa.list_(pa.string())),
                pa.array(medias, pa.list_(pa.string())),
                pa.array(offsets, pa.list_(pa.int32())),
                pa.array(pages_c, pa.int32()),
                pa.array(n_spans_c, pa.int32()),
                pa.array(fails_c, pa.int32()),
                pa.array(errs, pa.string()),
            ],
            schema=out_schema,
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
    return _zip_spans(
        raw_docs.select("doc_id", "content")
        .repartition(num_partitions, F.col("doc_id"))
        .mapInArrow(_extract_batches_arrow, _FLAT_SCHEMA)
    )


PAGE_FLAT_SCHEMA = (
    "doc_id string, page_num int, "
    "kind array<string>, text array<string>, media_ref array<string>, "
    "offset array<int>"
)

PAGE_SCHEMA = f"doc_id string, page_num int, spans {SPANS_STRUCT_SQL}"


def extract_documents_paged(
    raw_docs: DataFrame,
    pages_per_task: int = 16,
    num_partitions: int | None = None,
) -> DataFrame:
    """Page-exploded extraction: (doc_id, page_num, spans) with by-pages
    semantics (fresh interpreter per page — extract_text_by_pages parity,
    lib.rs:2295-2307/2396).

    This is the scale path for multi-GB documents: stage 1 splits each doc
    into page RANGES (content bytes replicated once per range, so a
    500-page doc becomes ~32 independent tasks instead of one straggler);
    stage 2 extracts ranges in parallel.  Output granularity is the page,
    so downstream reassembly is an ordered collect_list per doc_id.
    """
    spark = raw_docs.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    def split_ranges(batches):
        import pyarrow as pa

        from ..extract import page_count_of

        schema = pa.schema(
            [("doc_id", pa.string()), ("content", pa.binary()),
             ("lo", pa.int32()), ("hi", pa.int32())]
        )
        for b in batches:
            ids = b.column(b.schema.get_field_index("doc_id"))
            contents = b.column(b.schema.get_field_index("content"))
            out = {"doc_id": [], "content": [], "lo": [], "hi": []}
            for i in range(b.num_rows):
                c = contents[i].as_py()
                data = c if c is not None else b""
                try:
                    n = page_count_of(data)
                except Exception:
                    n = 0
                lo = 1
                did = ids[i].as_py()
                while lo <= n:
                    hi = min(lo + pages_per_task - 1, n)
                    out["doc_id"].append(did)
                    out["content"].append(data)
                    out["lo"].append(lo)
                    out["hi"].append(hi)
                    lo = hi + 1
            yield pa.RecordBatch.from_pydict(out, schema=schema)

    def extract_ranges(batches):
        import pyarrow as pa

        from ..extract import extract_spans_page_range

        schema = pa.schema(
            [("doc_id", pa.string()), ("page_num", pa.int32()),
             ("kind", pa.list_(pa.string())), ("text", pa.list_(pa.string())),
             ("media_ref", pa.list_(pa.string())),
             ("offset", pa.list_(pa.int32()))]
        )
        for b in batches:
            cols = {k: b.column(b.schema.get_field_index(k)) for k in
                    ("doc_id", "content", "lo", "hi")}
            rows = {
                "doc_id": [], "page_num": [],
                "kind": [], "text": [], "media_ref": [], "offset": [],
            }
            for i in range(b.num_rows):
                try:
                    pages = extract_spans_page_range(
                        cols["content"][i].as_py(),
                        cols["lo"][i].as_py(),
                        cols["hi"][i].as_py(),
                    )
                except Exception:
                    pages = []
                did = cols["doc_id"][i].as_py()
                for page_num, spans in pages:
                    rows["doc_id"].append(did)
                    rows["page_num"].append(page_num)
                    rows["kind"].append([s["kind"] for s in spans])
                    rows["text"].append([s["text"] for s in spans])
                    rows["media_ref"].append([s["media_ref"] for s in spans])
                    rows["offset"].append([s["offset"] for s in spans])
            yield pa.RecordBatch.from_pydict(rows, schema=schema)

    ranges = raw_docs.select("doc_id", "content").mapInArrow(
        split_ranges, "doc_id string, content binary, lo int, hi int"
    )
    flat = (
        ranges.repartition(num_partitions, F.xxhash64("doc_id", "lo"))
        .mapInArrow(extract_ranges, PAGE_FLAT_SCHEMA)
    )
    return _zip_spans(flat)


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


def extract_metadata(raw_docs: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """print_metadata equivalent (lib.rs:2203-2216) as a side-output table:
    doc_id, version, page_count, title/author/subject/producer/creator."""
    spark = raw_docs.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    def meta_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..extract import doc_metadata

        for b in batches:
            rows = {
                "doc_id": [], "version": [], "page_count": [],
                "title": [], "author": [], "subject": [],
                "producer": [], "creator": [], "error": [],
            }
            for doc_id, content in zip(b["doc_id"], b["content"]):
                try:
                    m = doc_metadata(bytes(content) if content is not None else b"")
                    err = None
                except Exception as e:  # noqa: BLE001 - per-doc isolation
                    m = {}
                    err = f"{type(e).__name__}: {e}"
                rows["doc_id"].append(doc_id)
                rows["version"].append(m.get("version"))
                rows["page_count"].append(m.get("page_count"))
                for k in ("title", "author", "subject", "producer", "creator"):
                    rows[k].append(m.get(k))
                rows["error"].append(err)
            yield pd.DataFrame(rows)

    return raw_docs.select("doc_id", "content").mapInPandas(
        meta_batches,
        "doc_id string, version string, page_count int, title string, "
        "author string, subject string, producer string, creator string, "
        "error string",
    )


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
