"""Structured Streaming ingest: continuous extraction over an arriving
stream of raw documents.

Reference has no streaming engine (SURVEY.md §2.10) — but its per-document
single-pass interpreter is embarrassingly parallel, so the streaming build
needs NO stateful operators: readStream -> the same extraction stage ->
foreachBatch sink (spans + lineage + metrics per micro-batch) with
checkpointing.  Exactly-once via the streaming checkpoint + idempotent
bucketed appends keyed by run_id=batch_id.

On a cluster the source is format("iceberg")/Kafka; in the sandbox a file
source (parquet dir) with availableNow=True exercises the identical plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extraction import extract_documents, lineage_rows, metrics_rows
from ..sources.raw_docs import RAW_DOCS_SCHEMA, bucketed


def read_raw_docs_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = spark.readStream.schema(RAW_DOCS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


def make_batch_processor(
    spans_path: str,
    lineage_path: str,
    metrics_path: str,
    num_partitions: int = 8,
):
    """The foreachBatch body, exposed so tests can replay a batch_id.

    Exactly-once TABLE semantics: Structured Streaming guarantees
    foreachBatch is at-least-once (a batch is REPLAYED with the same
    batch_id after a mid-batch failure), so every sink write must be
    idempotent per batch_id.  All three sinks partition by
    run_id=stream-{batch_id} and use DYNAMIC partition overwrite — a
    replayed batch rewrites exactly its own run_id partition instead of
    appending a second copy."""

    def process_batch(batch_df: DataFrame, batch_id: int):
        if batch_df.isEmpty():
            return
        run_id = f"stream-{batch_id}"
        spark = batch_df.sparkSession
        # scope the dynamic-overwrite mode to this batch's writes (a global
        # leak would silently change unrelated overwrite+partitionBy writes
        # in the same session)
        prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        extracted = extract_documents(batch_df, num_partitions=num_partitions).cache()
        try:
            (
                bucketed(extracted.select("doc_id", "spans"), 16)
                .withColumn("run_id", F.lit(run_id))
                .write.mode("overwrite")
                .partitionBy("run_id", "bucket")
                .parquet(spans_path)
            )
            lineage_rows(extracted, run_id=run_id).write.mode("overwrite").partitionBy(
                "run_id"
            ).parquet(lineage_path)
            metrics_rows(extracted).withColumn("run_id", F.lit(run_id)).write.mode(
                "overwrite"
            ).partitionBy("run_id").parquet(metrics_path)
        finally:
            extracted.unpersist()
            if prev_mode is None:
                spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
            else:
                spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)

    return process_batch


def start_extraction_stream(
    stream_df: DataFrame,
    spans_path: str,
    lineage_path: str,
    metrics_path: str,
    checkpoint_path: str,
    num_partitions: int = 8,
    available_now: bool = True,
):
    """Wire the batch extraction stage into foreachBatch (see
    make_batch_processor for the per-batch idempotence contract)."""
    process_batch = make_batch_processor(
        spans_path, lineage_path, metrics_path, num_partitions
    )
    writer = (
        stream_df.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_event_counts(
    events_stream: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming windowed aggregation with late-data watermarking — the
    standard tumbling-window rollup (batch mirror: events_hourly_rollup)."""
    # watermarks require TIMESTAMP (LTZ); session TZ is pinned to UTC so
    # NTZ event times cast losslessly
    if dict(events_stream.dtypes).get("ts") == "timestamp_ntz":
        events_stream = events_stream.withColumn(
            "ts", F.col("ts").cast("timestamp_ltz")
        )
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("sum_value"),
        )
        .select(F.col("w.start").alias("hour"), "event_type", "n", "sum_value")
    )
