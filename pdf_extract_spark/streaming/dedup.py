"""Streaming ingest dedup: drop re-arriving duplicate documents online.

A crawl stream re-delivers the same page (recrawls, mirrors, redirect
aliases); waiting for the batch dedup pass wastes extraction compute on
copies.  This stage drops exact duplicates AT INGEST by content
fingerprint using Spark's built-in streaming state:

  * ``dropDuplicatesWithinWatermark([fingerprint])`` keeps one row per
    fingerprint among events whose event times fall within the watermark
    delay of each other — state is EVICTED once the watermark passes, so
    long-running streams hold bounded state (vs plain ``dropDuplicates``
    on a stream, whose state grows forever).  At 10^12 docs the state
    store shards by fingerprint across executors; eviction is what makes
    the operator deployable.
  * the fingerprint is the SAME md5 normalization the batch exact-dedup
    operator uses (functions/text.py:fingerprint), so stream-time dedup
    and batch dedup agree on what "duplicate" means.

Semantics note (documented trade): duplicates farther apart in event time
than the delay are NOT caught — the scale-bounded online pass removes the
near-in-time bulk (recrawl storms), and the periodic batch dedup_exact
remains the total guarantee.  This is the standard two-tier design.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint


def _require_ltz_event_time(df: DataFrame, ts_col: str) -> None:
    """Watermarks compare instants; a timestamp_ntz column has no
    timezone, and the previous implicit ntz->ltz cast reinterpreted the
    naive value in spark.sql.session.timeZone — silently shifting the
    watermark cutoff (and which late rows drop) across deployments.
    Require the caller to convert explicitly with the timezone THEY
    know the data carries, e.g.
    ``to_utc_timestamp(ts, 'UTC')`` / ``convert_timezone``."""
    if dict(df.dtypes).get(ts_col) == "timestamp_ntz":
        raise TypeError(
            f"event-time column {ts_col!r} is timestamp_ntz; convert it to "
            "timestamp (ltz) with an explicit timezone before streaming "
            "dedup — an implicit cast would shift the watermark cutoff "
            "with spark.sql.session.timeZone"
        )


def dedup_stream(
    docs_stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    delay: str = "30 minutes",
) -> DataFrame:
    """(doc_id, ts, text, ...) stream -> the same rows, minus in-window
    exact duplicates (first arrival per fingerprint wins).  The input
    schema passes through unchanged — the dedup key lives in a temp
    column dropped before return, so downstream sinks never see schema
    drift and a pre-existing ``fingerprint`` column is left untouched."""
    ev = docs_stream
    _require_ltz_event_time(ev, ts_col)
    return (
        ev.withColumn("__dedup_fp", fingerprint(F.col(text_col)))
        .withWatermark(ts_col, delay)
        .dropDuplicatesWithinWatermark(["__dedup_fp"])
        .drop("__dedup_fp")
    )


def dedup_media_stream(
    media_stream: DataFrame,
    ts_col: str = "ts",
    delay: str = "30 minutes",
) -> DataFrame:
    """(media_id, media_kind, payload, ts) image stream -> per-asset
    dhash rows minus in-window PERCEPTUAL duplicates: the first arrival
    per 64-bit difference hash wins, so exact re-deliveries AND
    re-encodes of the same pixels (a PNG of a previously seen image —
    dhash is pixel-derived, hamming 0) are dropped at ingest.  The
    dhash kernel is a per-row Arrow stage and streams as-is.

    Stub-tier rows (undecodable payloads, dhash NULL) are never
    collapsed with each other: their dedup key falls back to the
    media_id, so every stub passes through exactly once and stays
    visible to the downstream quarantine.  Same bounded-state /
    watermark-eviction design as the text dedup_stream above; the batch
    dhash_near_pairs pass remains the total (and near-match) guarantee."""
    from ..operators.multimodal import extract_media_dhash

    ev = media_stream
    _require_ltz_event_time(ev, ts_col)
    # the event time rides THROUGH the Arrow stage (passthrough) — joining
    # it back afterwards would be a stream-stream join
    hashed = extract_media_dhash(ev, passthrough=(ts_col,))
    return (
        hashed.withColumn(
            "__dedup_k",
            F.coalesce(
                F.col("dhash").cast("string"),
                F.concat(F.lit("stub:"), F.col("media_id")),
            ),
        )
        .withWatermark(ts_col, delay)
        .dropDuplicatesWithinWatermark(["__dedup_k"])
        .drop("__dedup_k")
    )
