"""Structured Streaming ingest test: file-source stream -> extraction ->
foreachBatch sinks with checkpoint."""

import os
import time

import pytest
from pyspark.sql import functions as F

from pdf_extract_spark.sources.raw_docs import fixture_corpus_df
from pdf_extract_spark.streaming.pipeline import (
    read_raw_docs_stream,
    start_extraction_stream,
)


def test_streaming_extraction_availablenow(spark, tmp_path):
    src = str(tmp_path / "incoming")
    spans = str(tmp_path / "spans")
    lineage = str(tmp_path / "lineage")
    metrics = str(tmp_path / "metrics")
    ckpt = str(tmp_path / "ckpt")

    raw = fixture_corpus_df(spark, replicas=1)
    n = raw.count()
    raw.write.mode("overwrite").parquet(src)

    stream = read_raw_docs_stream(spark, src, max_files_per_trigger=2)
    q = start_extraction_stream(
        stream, spans, lineage, metrics, ckpt, num_partitions=4, available_now=True
    )
    q.awaitTermination(240)
    assert not q.isActive or q.awaitTermination(60)

    got = spark.read.parquet(spans)
    assert got.select("doc_id").distinct().count() == n
    lin = spark.read.parquet(lineage)
    assert lin.filter(F.col("status") == "ok").count() == n
    met = spark.read.parquet(metrics)
    assert met.count() == n

    # restart on the same checkpoint: no new data -> no duplicate output
    stream2 = read_raw_docs_stream(spark, src)
    q2 = start_extraction_stream(
        stream2, spans, lineage, metrics, ckpt, num_partitions=4, available_now=True
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(spans).select("doc_id").distinct().count() == n
    assert spark.read.parquet(lineage).count() == n


def test_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-running the same batch_id (the
    post-failure replay) must not duplicate spans/lineage/metrics rows."""
    from pdf_extract_spark.streaming.pipeline import make_batch_processor

    spans = str(tmp_path / "spans")
    lineage = str(tmp_path / "lineage")
    metrics = str(tmp_path / "metrics")
    raw = fixture_corpus_df(spark, replicas=1)
    n = raw.count()

    process = make_batch_processor(spans, lineage, metrics, num_partitions=4)
    process(raw, 7)
    process(raw, 7)  # simulated replay after mid-batch failure

    assert spark.read.parquet(spans).count() == n
    assert spark.read.parquet(lineage).count() == n
    assert spark.read.parquet(metrics).count() == n
    # the batch's spans land in one parquet file per bucket
    run_dir = os.path.join(spans, "run_id=stream-7")
    buckets = [d for d in os.listdir(run_dir) if d.startswith("bucket=")]
    assert buckets
    for d in buckets:
        files = [f for f in os.listdir(os.path.join(run_dir, d)) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)
    # a DIFFERENT batch id appends (no cross-batch clobbering)
    process(raw.limit(3), 8)
    assert spark.read.parquet(lineage).count() == n + 3


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Streaming exact-dedup at ingest: duplicate fingerprints arriving
    within the watermark delay collapse to one row (first wins); distinct
    texts all pass; the fingerprint matches the batch dedup operator's."""
    import datetime as dt

    from pdf_extract_spark.streaming.dedup import dedup_stream

    src = str(tmp_path / "docs_in")
    out = str(tmp_path / "docs_out")
    ckpt = str(tmp_path / "ckpt")
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, base, "alpha beta gamma"),
        (2, base + dt.timedelta(minutes=1), "alpha  beta   GAMMA"),  # dup (norm)
        (3, base + dt.timedelta(minutes=2), "something else"),
        (4, base + dt.timedelta(minutes=3), "alpha beta gamma"),     # dup exact
        (5, base + dt.timedelta(minutes=4), "third text"),
    ]
    spark.createDataFrame(
        rows, "doc_id long, ts timestamp, text string"
    ).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema("doc_id long, ts timestamp, text string").parquet(src)
    q = (
        dedup_stream(stream, delay="30 minutes")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    assert not q.isActive or q.awaitTermination(60)
    got = spark.read.parquet(out)
    rows = got.collect()
    # the input schema passes through unchanged — no dedup-key column leak
    assert sorted(got.columns) == ["doc_id", "text", "ts"]
    # one row per distinct normalized fingerprint; deterministic winners
    # are not guaranteed by the state store, but cardinality is
    assert len(rows) == 3
    norm = {" ".join(r["text"].lower().split()) for r in rows}
    assert len(norm) == 3


def test_streaming_windowed_event_counts(spark, tmp_path):
    """Watermarked tumbling-window agg over a streamed events table; result
    must match the batch date_trunc rollup."""
    from pyspark.sql import functions as F

    from pdf_extract_spark.streaming.pipeline import windowed_event_counts

    src = str(tmp_path / "events_in")
    out = str(tmp_path / "events_out")
    ckpt = str(tmp_path / "events_ckpt")
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(events.schema).parquet(src)
    agg = windowed_event_counts(stream, "1 hour", "2 hours")
    q = (
        agg.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out)
        .start()
    )
    q.awaitTermination(240)

    got = spark.read.parquet(out)
    batch = (
        events.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    # append mode emits only windows older than the watermark; every
    # emitted window must match the batch rollup exactly
    assert got.count() > 0
    matched = got.alias("g").join(
        batch.alias("b"), ["hour", "event_type"]
    ).filter(F.col("g.n") != F.col("b.n"))
    assert matched.count() == 0


class _FakeState:
    """Minimal stand-in for GroupState to unit-test the sessionizer."""

    def __init__(self, value=None):
        self._v = value
        self.timeout = None
        self.hasTimedOut = False

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def remove(self):
        self._v = None

    def setTimeoutTimestamp(self, ms):
        self.timeout = ms


def test_sessionizer_buffers_and_sorts_across_chunks():
    """applyInPandasWithState may deliver one group as several Arrow chunks
    with no cross-chunk order; the sessionizer must sort ONCE over the whole
    group, not per chunk."""
    import pandas as pd

    from pdf_extract_spark.streaming.sessionize import make_sessionizer

    fn = make_sessionizer(gap_seconds=60)
    base = pd.Timestamp("2024-01-01 00:00:00")
    # chunk 2 carries EARLIER events than chunk 1
    c1 = pd.DataFrame(
        {"ts": [base + pd.Timedelta(seconds=s) for s in (200, 210)],
         "value": [1.0, 1.0]}
    )
    c2 = pd.DataFrame(
        {"ts": [base + pd.Timedelta(seconds=s) for s in (0, 10)],
         "value": [1.0, 1.0]}
    )
    state = _FakeState()
    out = list(fn((7,), iter([c1, c2]), state))
    # per-chunk sorting would see 200,210,0,10 -> close [200,210] then open
    # [0,10]; the correct global sort closes [0,10] and leaves [200,210] open
    assert len(out) == 1 and len(out[0]) == 1
    row = out[0].iloc[0]
    assert row["n_events"] == 2
    assert row["start_ts"] == base and row["end_ts"] == base + pd.Timedelta(seconds=10)
    start, last, n, _ = state.get
    assert (start, last, n) == (
        int(base.timestamp()) + 200, int(base.timestamp()) + 210, 2
    )


def test_sessionizer_extends_start_backwards():
    """A late-but-in-watermark event older than the open session's start must
    extend start_ts backwards (cur[0] = min)."""
    import pandas as pd

    from pdf_extract_spark.streaming.sessionize import make_sessionizer

    fn = make_sessionizer(gap_seconds=60)
    base = pd.Timestamp("2024-01-01 00:00:00")
    epoch = int(base.timestamp())
    state = _FakeState((epoch + 100, epoch + 100, 1, 5.0))
    pdf = pd.DataFrame({"ts": [base + pd.Timedelta(seconds=90)], "value": [2.0]})
    assert list(fn((7,), iter([pdf]), state)) == []
    start, last, n, value = state.get
    assert start == epoch + 90 and last == epoch + 100
    assert n == 2 and value == 7.0


def test_sessionizer_timezone_epoch():
    """setTimeoutTimestamp expects TRUE epoch millis: naive pandas timestamps
    rendered in a non-UTC session zone must be localized before conversion."""
    import pandas as pd

    from pdf_extract_spark.streaming.sessionize import make_sessionizer

    fn = make_sessionizer(gap_seconds=60, tz="America/New_York")
    naive = pd.Timestamp("2024-01-01 00:00:10")  # 05:00:10 UTC
    true_epoch = int(pd.Timestamp("2024-01-01 05:00:10", tz="UTC").timestamp())
    state = _FakeState()
    out = list(fn((7,), iter([pd.DataFrame({"ts": [naive], "value": [1.0]})]), state))
    assert out == []
    assert state.get[1] == true_epoch
    assert state.timeout == (true_epoch + 60) * 1000
    # timeout path emits the session back in session-zone wall clock
    state.hasTimedOut = True
    (closed,) = list(fn((7,), iter([]), state))
    assert closed.iloc[0]["end_ts"] == naive


def test_stateful_sessionize_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionization: closed sessions emitted by the
    stream must equal the batch sessionization result minus each user's
    final (still-open) session."""
    from pyspark.sql import functions as F

    from pdf_extract_spark.queries import events_sessionize
    from pdf_extract_spark.streaming.sessionize import sessionize_stream

    src = str(tmp_path / "ev_in")
    out = str(tmp_path / "sessions_out")
    ckpt = str(tmp_path / "sess_ckpt")
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    # several time-ordered files -> several triggers -> the watermark
    # advances between batches and timeout-closing is exercised too
    events.orderBy("ts").coalesce(1).withColumn(
        "part", F.ntile(4).over(__import__("pyspark.sql.window", fromlist=["Window"]).Window.orderBy("ts"))
    ).write.partitionBy("part").mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        sessionize_stream(stream)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out)
        .start()
    )
    q.awaitTermination(240)

    got = (
        spark.read.parquet(out)
        .select(
            "user_id",
            F.col("n_events").cast("long").alias("n_events"),
            F.round("session_value", 2).alias("session_value"),
        )
    )
    batch = events_sessionize(spark, "/root/testdata/sf0.001")
    # drop each user's final session (still open in the stream's state)
    w_last = (
        batch.groupBy("user_id").agg(F.max("session_id").alias("last_sid"))
    )
    closed_batch = (
        batch.join(w_last, "user_id")
        .filter(F.col("session_id") != F.col("last_sid"))
        .select("user_id", F.col("n_events").cast("long").alias("n_events"), "session_value")
    )
    all_batch = batch.select(
        "user_id", F.col("n_events").cast("long").alias("n_events"), "session_value"
    )
    # (a) every emitted session is a true batch session (multiset-wise):
    # data-closed ones AND the watermark-timeout-closed final sessions of
    # users who went quiet before stream end
    assert got.exceptAll(all_batch).count() == 0
    # (b) every data-closed (non-final) session was emitted
    assert closed_batch.exceptAll(got).count() == 0
    # (c) the stream emitted at least the data-closed sessions; extras are
    # timeout-closed finals
    assert got.count() >= closed_batch.count()
    assert got.count() > 0


def test_sessionizer_late_burst_merges_into_one_session():
    """Two-plus late events each more than a gap before the open session's
    start but within a gap of EACH OTHER are one batch-parity session, not
    per-event singletons."""
    import pandas as pd

    from pdf_extract_spark.streaming.sessionize import make_sessionizer

    fn = make_sessionizer(gap_seconds=1800)
    base = pd.Timestamp("2024-01-01 12:00:00")
    epoch = int(base.timestamp())
    state = _FakeState((epoch, epoch + 10, 2, 4.0))
    late = [base - pd.Timedelta(seconds=s) for s in (7200, 7000, 6800)]
    (closed,) = list(
        fn((7,), iter([pd.DataFrame({"ts": late, "value": [1.0, 2.0, 3.0]})]), state)
    )
    assert len(closed) == 1
    row = closed.iloc[0]
    assert row["start_ts"] == late[0] and row["end_ts"] == late[2]
    assert row["n_events"] == 3 and row["session_value"] == 6.0
    assert state.get == (epoch, epoch + 10, 2, 4.0)

    # two SEPARATE late chains (gap between them) -> two sessions
    state = _FakeState((epoch, epoch + 10, 2, 4.0))
    late = [base - pd.Timedelta(seconds=s) for s in (20000, 19900, 7200, 7000)]
    (closed,) = list(
        fn((7,), iter([pd.DataFrame({"ts": late, "value": [1.0] * 4})]), state)
    )
    assert len(closed) == 2
    assert closed["n_events"].tolist() == [2, 2]


def test_sessionizer_late_chain_bridges_into_open_session():
    """A late chain that connects to the open session once a bridging event
    extends the session start backwards must MERGE, not close separately."""
    import pandas as pd

    from pdf_extract_spark.streaming.sessionize import make_sessionizer

    fn = make_sessionizer(gap_seconds=60)
    base = pd.Timestamp("2024-01-01 12:00:00")
    epoch = int(base.timestamp())
    state = _FakeState((epoch, epoch + 10, 1, 1.0))
    # -100s is > gap before start; -50s bridges: chain -100 .. -50 .. 0
    ev = [base - pd.Timedelta(seconds=100), base - pd.Timedelta(seconds=50)]
    out = list(fn((7,), iter([pd.DataFrame({"ts": ev, "value": [2.0, 3.0]})]), state))
    assert out == []
    start, last, n, value = state.get
    assert start == epoch - 100 and last == epoch + 10
    assert n == 3 and value == 6.0


def test_sessionizer_offset_style_timezone():
    """Spark accepts offset-style session timeZones ('+08:00', 'GMT+8');
    ZoneInfo raises on them — the sessionizer must map them to a fixed
    offset instead of crashing the stream."""
    import pandas as pd

    from pdf_extract_spark.streaming.sessionize import make_sessionizer, resolve_zone
    import datetime as dt

    for s in ("+08:00", "GMT+8", "UTC+08:00", "-0730"):
        z = resolve_zone(s)
        assert z.utcoffset(None) is not None
    assert resolve_zone("+08:00").utcoffset(None) == dt.timedelta(hours=8)
    assert resolve_zone("-0730").utcoffset(None) == -dt.timedelta(hours=7, minutes=30)
    with pytest.warns(RuntimeWarning):
        assert resolve_zone("not/a-zone").utcoffset(None) == dt.timedelta(0)

    fn = make_sessionizer(gap_seconds=60, tz="+08:00")
    naive = pd.Timestamp("2024-01-01 08:00:10")  # 00:00:10 UTC
    true_epoch = int(pd.Timestamp("2024-01-01 00:00:10", tz="UTC").timestamp())
    state = _FakeState()
    out = list(fn((7,), iter([pd.DataFrame({"ts": [naive], "value": [1.0]})]), state))
    assert out == []
    assert state.get[1] == true_epoch
    assert state.timeout == (true_epoch + 60) * 1000


@pytest.mark.parametrize(
    "tz,ambiguous_wall",
    [
        # fall-back boundaries: the wall time occurs twice; ambiguous=True
        # must resolve (DST side) instead of raising AmbiguousTimeError
        ("America/New_York", "2024-11-03 01:30:00"),
        ("Europe/Berlin", "2024-10-27 02:30:00"),
    ],
)
def test_sessionizer_dst_boundary(tz, ambiguous_wall):
    """Non-UTC session zones across a DST fall-back: ambiguous wall times
    localize deterministically and timeouts stay on true epoch millis."""
    import pandas as pd

    from pdf_extract_spark.streaming.sessionize import make_sessionizer

    fn = make_sessionizer(gap_seconds=600, tz=tz)
    amb = pd.Timestamp(ambiguous_wall)
    ev = [amb, amb + pd.Timedelta(seconds=60)]
    state = _FakeState()
    out = list(fn((7,), iter([pd.DataFrame({"ts": ev, "value": [1.0, 1.0]})]), state))
    assert out == []
    start, last, n, _ = state.get
    assert n == 2 and last - start == 60
    # ambiguous=True = DST side = the FIRST occurrence of the wall time
    expected = int(pd.Timestamp(amb, tz=tz).tz_localize(None).tz_localize(
        tz, ambiguous=True).timestamp())
    assert start == expected
    assert state.timeout == (last + 600) * 1000


def test_sessionizer_very_late_event_is_own_session():
    """Regression: an event more than a gap BEFORE the open session's start
    must close as its own singleton (batch parity), not merge across the
    gap via the extend-backwards rule."""
    import pandas as pd

    from pdf_extract_spark.streaming.sessionize import make_sessionizer

    fn = make_sessionizer(gap_seconds=1800)
    base = pd.Timestamp("2024-01-01 12:00:00")
    epoch = int(base.timestamp())
    state = _FakeState((epoch, epoch + 10, 2, 4.0))
    late = base - pd.Timedelta(seconds=3600)
    (closed,) = list(fn((7,), iter([pd.DataFrame({"ts": [late], "value": [9.0]})]), state))
    assert len(closed) == 1
    row = closed.iloc[0]
    assert row["start_ts"] == late and row["end_ts"] == late
    assert row["n_events"] == 1 and row["session_value"] == 9.0
    # the open session is untouched
    assert state.get == (epoch, epoch + 10, 2, 4.0)


def test_streaming_quality_filter_matches_batch(spark, tmp_path):
    """The corpus pipeline's narrow quality stage (Gopher rules) is pure
    codegen and therefore streams as-is: a file stream filtered by the
    same expressions yields exactly the batch keep-set."""
    from pdf_extract_spark.functions.text import gopher_quality_flags

    src = str(tmp_path / "docs_in")
    out = str(tmp_path / "docs_out")
    ckpt = str(tmp_path / "ckpt")
    good = ("the quick brown fox likes to jump over lazy dogs and it does "
            "that with great patience because they have nothing better to "
            "do today while the sun shines over the quiet meadow")
    rows = [
        (1, good),
        (2, "too short"),
        (3, good + " indeed"),
        (4, " ".join(["zz"] * 40)),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(src)

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    flagged = gopher_quality_flags(stream).filter("keep").select("doc_id")
    q = (
        flagged.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    assert not q.isActive or q.awaitTermination(60)
    stream_ids = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    batch_ids = {
        r["doc_id"]
        for r in gopher_quality_flags(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).filter("keep").select("doc_id").collect()
    }
    assert stream_ids == batch_ids == {1, 3}


def test_streaming_quality_gate_with_pii_scrub(spark, tmp_path):
    """streaming/quality.py: the ingest-time gate (Gopher keep + PII
    rewrite) streams as-is and matches the batch output row-for-row,
    including the redacted text bytes."""
    from pdf_extract_spark.streaming.quality import quality_gate_stream

    src = str(tmp_path / "gate_in")
    out = str(tmp_path / "gate_out")
    ckpt = str(tmp_path / "gate_ckpt")
    good = ("the quick brown fox likes to jump over lazy dogs and it does "
            "that with great patience because they have nothing better to "
            "do today while the sun shines over the quiet meadow")
    rows = [
        (1, good + " write to leak@example.com about it"),
        (2, "too short"),
        (3, good + " from host 10.1.2.3 indeed"),
    ]
    schema = "doc_id long, text string"
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        quality_gate_stream(stream, redact_pii=True)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    assert not q.isActive or q.awaitTermination(60)
    got = {r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()}
    batch = {
        r["doc_id"]: r["text"]
        for r in quality_gate_stream(
            spark.createDataFrame(rows, schema), redact_pii=True
        ).collect()
    }
    assert got == batch and set(got) == {1, 3}
    assert "<EMAIL>" in got[1] and "leak@example.com" not in got[1]
    assert "<IP>" in got[3] and "10.1.2.3" not in got[3]


def test_streaming_windowed_hll_matches_batch_sketch(spark, tmp_path):
    """Streamed watermarked HLL registers, finalized after landing, must
    equal the BATCH hll_distinct estimates for the same windows
    bit-for-bit (same md5 registers), and land within tolerance of the
    exact distinct counts."""
    from pyspark.sql import functions as F

    from pdf_extract_spark.operators.sketch import hll_distinct
    from pdf_extract_spark.streaming.sketch import (
        finalize_windowed_distinct,
        windowed_distinct_registers,
    )

    src = str(tmp_path / "ev_in")
    out = str(tmp_path / "ev_regs")
    ckpt = str(tmp_path / "ev_ckpt")
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(events.schema).parquet(src)
    regs = windowed_distinct_registers(
        stream, "1 hour", "2 hours", key_cols=["event_type"]
    )
    q = (
        regs.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out)
        .start()
    )
    q.awaitTermination(240)

    landed = spark.read.parquet(out)
    assert landed.count() > 0
    got = finalize_windowed_distinct(landed, ["event_type"])

    batch = hll_distinct(
        events.withColumn(
            "window_start", F.date_trunc("hour", "ts")
        ),
        ["window_start", "event_type"],
        "user_id",
    )
    # every streamed (closed) window must match the batch sketch exactly
    diff = got.alias("g").join(
        batch.alias("b"), ["window_start", "event_type"]
    ).filter(F.col("g.approx_distinct") != F.col("b.approx_distinct"))
    assert diff.count() == 0

    # and the estimates track the exact distincts (p=8 -> ~6.5% sigma)
    exact = events.groupBy(
        F.date_trunc("hour", "ts").alias("window_start"), "event_type"
    ).agg(F.countDistinct("user_id").alias("exact"))
    joined = got.join(exact, ["window_start", "event_type"]).collect()
    assert joined
    for r in joined:
        assert abs(r.approx_distinct - r.exact) <= max(3, 0.25 * r.exact)


def test_streaming_media_dedup_perceptual(spark, tmp_path):
    """streaming/dedup.py:dedup_media_stream — exact re-deliveries AND a
    re-encode of the same pixels (dhash hamming 0) are dropped at
    ingest; stub rows pass through exactly once each (never collapsed
    on the NULL hash)."""
    from datetime import datetime

    from pdf_extract_spark.sources.media_corpus import (
        dhash_plant_rows,
        make_bmp,
        synthetic_media_rows,
    )
    from pdf_extract_spark.streaming.dedup import dedup_media_stream

    base = {r[0]: r for r in synthetic_media_rows()}
    plants = {r[0]: r for r in dhash_plant_rows()}
    t0 = datetime(2026, 8, 17, 12, 0, 0)
    rows = [
        # original + exact duplicate re-delivery + pixel-identical
        # re-encode (nd0 is the SAME pattern re-encoded; dhash equal)
        ("png-gray-11x7", "image", base["png-gray-11x7"][2], t0),
        ("png-gray-11x7-dup", "image", base["png-gray-11x7"][2], t0),
        ("png-gray-11x7-nd0", "image", plants["png-gray-11x7-nd0"][2], t0),
        # a genuinely different image survives
        ("bmp-solid-10x6", "image", make_bmp(10, 6, 128), t0),
        # two distinct undecodable stubs: both must pass through
        ("stub-a", "image", b"\xff\xd8garbage-a", t0),
        ("stub-b", "image", b"\xff\xd8garbage-b", t0),
    ]
    src = str(tmp_path / "media_in")
    out = str(tmp_path / "media_out")
    ckpt = str(tmp_path / "media_ckpt")
    schema = "media_id string, media_kind string, payload binary, ts timestamp"
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        dedup_media_stream(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    assert not q.isActive or q.awaitTermination(60)
    got = {r["media_id"]: r for r in spark.read.parquet(out).collect()}
    # exactly one of the three perceptually-identical arrivals survives
    trio = {"png-gray-11x7", "png-gray-11x7-dup", "png-gray-11x7-nd0"}
    assert len(trio & set(got)) == 1
    assert "bmp-solid-10x6" in got
    assert {"stub-a", "stub-b"} <= set(got)
    assert got["stub-a"]["dhash"] is None and got["stub-a"]["decoder"] == "stub"
    # the event time rode through the Arrow stage
    assert got["bmp-solid-10x6"]["ts"] is not None


def test_streaming_dedup_rejects_ntz_event_time(spark):
    """timestamp_ntz event time must be rejected with guidance, not
    silently cast: the implicit ntz->ltz cast reinterpreted naive
    timestamps in the session timezone, shifting the watermark cutoff
    across deployments."""
    import pytest
    from pyspark.sql import functions as F

    from pdf_extract_spark.streaming.dedup import dedup_media_stream, dedup_stream

    docs = spark.createDataFrame(
        [("d1", "2024-01-01 12:00:00", "text")],
        "doc_id string, raw string, text string",
    ).withColumn("ts", F.to_timestamp_ntz("raw"))
    with pytest.raises(TypeError, match="timestamp_ntz"):
        dedup_stream(docs)
    media = spark.createDataFrame(
        [("m1", "image", bytearray(b"x"), "2024-01-01 12:00:00")],
        "media_id string, media_kind string, payload binary, raw string",
    ).withColumn("ts", F.to_timestamp_ntz("raw"))
    with pytest.raises(TypeError, match="timestamp_ntz"):
        dedup_media_stream(media)


def test_streaming_frontier_gate_matches_batch(spark, tmp_path):
    """Streaming URL discovery: in-window re-discoveries dedup away, the
    per-micro-batch robots gate produces EXACTLY the batch
    robots_decisions rows for the surviving URLs, and a replayed batch_id
    overwrites only its own partition (idempotence)."""
    import datetime as dt

    from pdf_extract_spark.operators.robots import (
        parse_robots,
        robots_decisions,
    )
    from pdf_extract_spark.streaming.frontier import (
        make_frontier_batch_processor,
        start_frontier_stream,
    )

    robots = parse_robots(
        spark.createDataFrame(
            [("h.test", "User-agent: *\nDisallow: /private\nAllow: /private/ok")],
            "host string, robots_txt string",
        )
    ).localCheckpoint(eager=True)

    src = str(tmp_path / "urls_in")
    out = str(tmp_path / "frontier")
    ckpt = str(tmp_path / "ckpt")
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        ("https://h.test/a", base),
        ("https://h.test/a", base),                            # in-window dup
        ("https://h.test/private/x", base),                    # blocked
        ("https://h.test/private/ok/y", base),                 # allowed
        ("https://other.test/z", base),                        # no robots
    ]
    spark.createDataFrame(rows, "url string, ts timestamp").write.mode(
        "overwrite"
    ).parquet(src)

    stream = spark.readStream.schema("url string, ts timestamp").parquet(src)
    q = start_frontier_stream(
        stream, robots, "TrainBot", out, ckpt, available_now=True
    )
    q.awaitTermination(240)
    assert not q.isActive or q.awaitTermination(60)

    got = spark.read.parquet(out)
    urls = spark.createDataFrame(
        [(u,) for u in {r[0] for r in rows}], "url string"
    )
    want = {
        (r.url, r.host, r.allowed, r.rule, r.rule_path)
        for r in robots_decisions(robots, urls, "TrainBot").collect()
    }
    assert {
        (r.url, r.host, r.allowed, r.rule, r.rule_path)
        for r in got.collect()
    } == want
    assert got.filter(F.col("url") == "https://h.test/private/x").collect()[
        0
    ].allowed is False

    # replaying a batch_id must overwrite its own partition, not append
    proc = make_frontier_batch_processor(robots, "TrainBot", out)
    bid = int(
        spark.read.parquet(out)
        .select(F.regexp_extract("run_id", r"stream-(\d+)", 1).cast("int"))
        .first()[0]
    )
    proc(urls, bid)
    assert spark.read.parquet(out).count() == len(want)


def test_caption_aligner_buffers_then_emits_on_timeout():
    """Spans arrive across two batches out of order; nothing emits until
    the timeout fires, then the full sorted alignment emits once."""
    import pandas as pd

    from pdf_extract_spark.streaming.captions import make_caption_aligner

    fn = make_caption_aligner(gap_seconds=60, max_words=2)
    base = pd.Timestamp("2024-01-01 00:00:00")
    state = _FakeState()
    # batch 1: the tail of the doc (text after the media span)
    b1 = pd.DataFrame(
        {"pos": [3, 4], "kind": ["text", "text"], "text": ["big", "cat"],
         "media_ref": ["", ""], "ts": [base] * 2}
    )
    assert list(fn((7,), iter([b1]), state)) == []
    # batch 2: the head (text before media, then the media span)
    b2 = pd.DataFrame(
        {"pos": [0, 1, 2], "kind": ["text", "text", "media"],
         "text": ["a", "b", ""], "media_ref": ["", "", "img-7-0"],
         "ts": [base + pd.Timedelta(seconds=30)] * 3}
    )
    assert list(fn((7,), iter([b2]), state)) == []
    assert state.timeout == (int(base.timestamp()) + 30 + 60) * 1000
    # watermark passes: timeout delivery has no data
    state.hasTimedOut = True
    out = list(fn((7,), iter([]), state))
    assert len(out) == 1
    row = out[0].iloc[0]
    assert (row["doc_id"], row["media_ref"], row["media_pos"]) == ("7", "img-7-0", 2)
    assert row["caption"] == "big cat" and row["caption_words"] == 2
    assert not state.exists  # state cleared after emission


def test_caption_stream_batch_parity(spark, tmp_path):
    """Stream replay of the synthetic interleaved corpus emits exactly
    the batch operator's rows once every doc goes quiet."""
    import datetime

    from pyspark.sql import functions as F

    from pdf_extract_spark.operators.interleave import (
        media_captions,
        synth_interleaved,
    )
    from pdf_extract_spark.streaming.captions import caption_stream

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .orderBy("doc_id")
        .limit(12)
    )
    spans = synth_interleaved(docs).withColumn(
        "ts",
        (F.lit(1704067200) + F.col("pos")).cast("timestamp"),
    )
    expected = sorted(
        (str(r["doc_id"]), r["media_ref"], r["media_pos"], r["caption"],
         r["caption_words"])
        for r in media_captions(spans, max_words=6, min_words=0).collect()
    )
    # a far-future flush row advances the final watermark past every doc
    flush = spark.createDataFrame(
        [("__flush__", 0, "text", "", "", datetime.datetime(2024, 3, 1))],
        "doc_id string, pos long, kind string, text string, "
        "media_ref string, ts timestamp",
    )
    src = str(tmp_path / "spans_src")
    spans.select(
        F.col("doc_id").cast("string"), "pos", "kind", "text", "media_ref", "ts"
    ).unionByName(flush).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(
        "doc_id string, pos long, kind string, text string, "
        "media_ref string, ts timestamp"
    ).parquet(src)
    out_dir, ckpt = str(tmp_path / "pairs"), str(tmp_path / "ckpt")
    q = (
        caption_stream(stream, gap_seconds=60, min_words=0,
                       watermark="1 minute")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    got = sorted(
        (r["doc_id"], r["media_ref"], r["media_pos"], r["caption"],
         r["caption_words"])
        for r in spark.read.parquet(out_dir).collect()
        if r["doc_id"] != "__flush__"
    )
    assert got == expected


def test_caption_stream_rejects_ntz(spark, tmp_path):
    import datetime

    from pdf_extract_spark.streaming.captions import caption_stream

    src = str(tmp_path / "ntz_src")
    spark.createDataFrame(
        [("1", 0, "text", "w", "", datetime.datetime(2024, 1, 1))],
        "doc_id string, pos long, kind string, text string, "
        "media_ref string, ts timestamp_ntz",
    ).write.mode("overwrite").parquet(src)
    df = spark.readStream.schema(
        "doc_id string, pos long, kind string, text string, "
        "media_ref string, ts timestamp_ntz"
    ).parquet(src)
    with pytest.raises(TypeError, match="timestamp_ntz"):
        caption_stream(df)


def test_align_captions_matches_batch_semantics_random():
    """Property: align_captions (the streaming aligner's core) agrees
    with a direct reimplementation of the batch grouping rule on random
    interleaved span lists, regardless of arrival order."""
    import random

    from pdf_extract_spark.streaming.captions import align_captions

    rng = random.Random(7)
    for _ in range(50):
        n = rng.randint(0, 30)
        spans = []
        for pos in range(n):
            if rng.random() < 0.25:
                spans.append((pos, "media", "", f"img-{pos}"))
            else:
                spans.append((pos, "text", f"w{pos}", ""))
        shuffled = spans[:]
        rng.shuffle(shuffled)
        got = align_captions(shuffled, max_words=3, min_words=0)
        # reference: walk in order, collect up to 3 texts per media group
        media, caps, g = [], {}, 0
        for pos, kind, text, ref in spans:
            if kind == "media":
                g += 1
                media.append((g, ref, pos))
            elif g >= 1 and len(caps.setdefault(g, [])) < 3:
                caps[g].append(text)
        want = [(ref, pos, " ".join(caps.get(grp, [])), len(caps.get(grp, [])))
                for grp, ref, pos in media]
        assert got == want
