"""Benchmark harness: runs the headline queries + the extraction pipeline
at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints two JSON lines: the full record,
then a compact summary

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

value = total wall time over the headline set (lower is better).
The extraction benchmark replicates the deterministic fixture corpus so
that extraction work scales with sf (sf0.1 -> ~4800 docs).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _sf_from_dir(sf_dir: str) -> float:
    import re

    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.0


def extraction_replicas(sf: float) -> int:
    # sf0.1 -> 300 replicas x 16 fixtures = 4800 docs
    return max(1, int(sf * 3000))


def _spin_control() -> float:
    """Single-thread busy-loop timed at a fixed work size: a host-steal
    indicator.  On an idle host this is ~constant; inflation between the
    start and end samples means another tenant stole CPU mid-run, and the
    absolute level calibrates cross-round comparisons (r3's 'extraction
    regression' turned out to be unconfirmable because no such control was
    recorded)."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(5_000_000):
        acc += i * i
    return round(time.perf_counter() - t0, 3)


def _spin_worker(_):
    t0 = time.perf_counter()
    acc = 0
    for i in range(5_000_000):
        acc += i * i
    return time.perf_counter() - t0


def _spin_control_parallel(k: int = 8) -> float:
    """MANY-CORE steal indicator: mean per-task time of k concurrent
    busy-loops.  The single-thread control under-reports contention when
    other tenants load most-but-not-all cores (observed: scalar spin 0.34
    — clean — while a 32-way spin averaged 0.99 vs the ~0.30 idle
    reference, i.e. the host was effectively ~1/3 of its cores); this
    control makes that visible in the recorded evidence."""
    import multiprocessing as mp

    with mp.Pool(k) as p:
        times = p.map(_spin_worker, range(k))
    return round(sum(times) / len(times), 3)


def _unpersist_all(spark) -> None:
    """Unpersist every lingering cached/localCheckpointed RDD — called
    OUTSIDE the timed regions.  Several operators lazily localCheckpoint
    narrow frames (classifier ranks, pack prefix sums, BPE rounds);
    across a 70+ query bench those blocks pile up and the accumulated
    heap pressure taxes later entries (extraction sampled 1,195 vs
    1,570 docs/s on the identical kernel before this hygiene).  Each
    query's OWN timing still pays its own checkpoint cost."""
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for jrdd in list(jmap.values()):
            try:
                jrdd.unpersist(False)
            except Exception:
                pass
    except Exception:
        pass


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = _sf_from_dir(sf_dir)
    spin_start = _spin_control()
    spin_par_start = _spin_control_parallel(cpus)

    from pdf_extract_spark.operators.extraction import extract_documents
    from pdf_extract_spark.plans.session import get_spark
    from pdf_extract_spark.queries import HEADLINE, QUERIES
    from pdf_extract_spark.sources.raw_docs import synthetic_corpus_df

    spark = get_spark(
        app_name="bench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )

    timings: dict[str, float] = {}

    # Warm-up (untimed): r1 measured q1 at 14.6s vs 1.1s for q6 on the same
    # table — JVM/codegen/Arrow/python-worker init, not plan cost.  Touch
    # every runtime surface once so the timed loop measures steady state:
    # parquet scan + agg (q1), and a python-worker mapInPandas round trip.
    QUERIES["q1_pricing_summary"](spark, sf_dir).count()
    warm = synthetic_corpus_df(spark, 64)
    extract_documents(warm, num_partitions=cpus).count()

    # Throughput metrics run FIRST (right after warm-up): extraction is
    # the north-star number, and measuring it after 75 queries' worth of
    # session state (checkpoint blocks, codegen cache churn, GC debt)
    # taxed it ~25% in the r5 wave-3 record even with per-query
    # unpersist hygiene.  Order disclosed in BASELINE.md.
    # extraction throughput: deterministic mixed corpus (5% multi-page
    # docs for skew), generated executor-side, scaled by sf.  min-of-3
    # with EVERY sample recorded: the host suffers intermittent multi-x
    # CPU steal, and per-sample spread (plus the spin control) is the
    # evidence that separates a real regression from a stolen window.
    n_target = extraction_replicas(sf) * 16
    raw = synthetic_corpus_df(spark, n_target, pct_large=0.05).cache()
    n_docs = raw.count()  # materialize input outside the timed region
    # TWO untimed full-size warmup passes: moving this stage before the
    # query loop (r5) stripped the JVM/Arrow/python-worker warmup those
    # queries used to provide, and the clean-window number fell
    # 1,517->1,194 docs/s with no kernel change — the 64-doc warmup above
    # touches the code path but not the full-parallelism task set,
    # codegen, or Arrow batch sizes.  Measured plateau: rep0 1,011 ->
    # rep1 1,655 -> rep2+ ~1,800-1,900 docs/s on the identical kernel,
    # so one pass still under-measures JIT steady state.
    for _ in range(2):
        extract_documents(raw, num_partitions=cpus).groupBy().sum(
            "n_spans", "decode_failures"
        ).collect()
    extract_samples = []
    # num_partitions = cpus (the operator's own default), NOT cpus*2: the
    # normal+giant split fans out to 5x num_partitions tasks total, and at
    # this corpus size the 2x override made tasks so small that per-task
    # Arrow/python-worker overhead dominated (measured: 2,254 docs/s at
    # cpus vs ~1,650 at cpus*2 on the same warmed kernel)
    for _ in range(3):
        t0 = time.perf_counter()
        out = extract_documents(raw, num_partitions=cpus)
        agg = out.groupBy().sum("n_spans", "decode_failures").collect()[0]
        extract_samples.append(round(time.perf_counter() - t0, 3))
    dt = min(extract_samples)
    timings["extract_pdf_spans"] = dt
    docs_per_sec = round(n_docs / dt, 1)
    spans_per_sec = round((agg[0] or 0) / dt, 1)
    raw.unpersist()

    # HTML boilerplate-strip throughput (the north rule's HTML half):
    # deterministic executor-side corpus, same scale rule as the PDF bench
    from pdf_extract_spark.html_main import extract_main_content
    from pdf_extract_spark.sources.raw_docs import synthetic_html_corpus_df

    html_raw = synthetic_html_corpus_df(spark, n_target).cache()
    n_html = html_raw.count()
    # same untimed full-size warmup + partitions=cpus rationale as the
    # PDF stage above (measured: 6,342 docs/s at cpus vs 4,443 at cpus*2)
    for _ in range(2):
        extract_main_content(html_raw, num_partitions=cpus).groupBy().sum(
            "n_spans"
        ).collect()
    html_samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        hagg = (
            extract_main_content(html_raw, num_partitions=cpus)
            .groupBy().sum("n_spans").collect()[0]
        )
        html_samples.append(round(time.perf_counter() - t0, 3))
    hdt = min(html_samples)
    timings["extract_html_main"] = hdt
    html_docs_per_sec = round(n_html / hdt, 1)
    html_spans_per_sec = round((hagg[0] or 0) / hdt, 1)
    html_raw.unpersist()

    # headline relational/dedup/similarity queries — each timed TWICE and
    # reported as the min: the sandbox VM suffers intermittent CPU steal
    # (observed 2-10x swings between consecutive minutes), and min-of-2
    # recovers the steady-state plan cost the number is meant to measure
    for name in HEADLINE:
        fn = QUERIES[name]
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.count()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
        _unpersist_all(spark)

    # Forced-evaluation pass: count() lets Catalyst prune columns (and
    # even eliminate a left join against a provably-unique aggregate),
    # so for a few queries the count() number under-measures the real
    # work (r5 found doc_decontaminate at 0.27s counted vs 18s forced,
    # pre-optimization).  This pass forces every output column through
    # an xxhash64 aggregate — full computation, no driver transfer.
    # `queries` stays count()-based for round-over-round comparability;
    # `queries_forced` is the honest total-work number.
    timings_forced: dict[str, float] = {}
    forced_fallbacks: list[str] = []
    from pyspark.sql import functions as _F

    for name in HEADLINE:
        fn = QUERIES[name]
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            try:
                # bit_xor, not sum: summing 64-bit hashes overflows
                # under ANSI mode; columns backtick-quoted
                cols = ", ".join(f"`{c}`" for c in df.columns)
                df.agg(_F.expr(f"bit_xor(xxhash64({cols}))")).collect()
            except Exception:
                # recorded: a fallback timing is count()-pruned, NOT a
                # forced number — don't let it masquerade as one
                if name not in forced_fallbacks:
                    forced_fallbacks.append(name)
                df.count()
            best = min(best, time.perf_counter() - t0)
        timings_forced[name] = round(best, 3)
        _unpersist_all(spark)


    # composed corpus pipeline (quality -> exact -> near-dup CC ->
    # decontaminate), timed end-to-end as a MACRO metric: it re-runs work
    # the per-operator entries already measure, so it is reported beside
    # the headline total rather than inside it
    t0 = time.perf_counter()
    funnel = {
        r["stage"]: r["n_docs"]
        for r in QUERIES["corpus_funnel"](spark, sf_dir).collect()
    }
    corpus_pipeline_sec = round(time.perf_counter() - t0, 3)
    # the pipeline query caches its stage frames internally; drop them so
    # the macro metric leaves no cached partitions behind
    spark.catalog.clearCache()

    # BPE training at 100 merges — the production-vocab viability probe
    # for the incremental pair-count loop (a MACRO metric like the corpus
    # pipeline: the 12-merge bpe_merges entry already times the operator,
    # this measures how per-round cost scales with round count)
    from pdf_extract_spark.functions.bpe import bpe_train
    from pdf_extract_spark.queries import load as _load

    _bpe_docs = _load(spark, sf_dir, "documents")
    t0 = time.perf_counter()
    _bpe_df, _bpe_rules = bpe_train(_bpe_docs, 100)
    _bpe_df.count()
    bpe100_sec = round(time.perf_counter() - t0, 3)
    bpe100_rounds = len(_bpe_rules)
    _unpersist_all(spark)

    total = round(sum(timings.values()), 3)
    spin_end = _spin_control()
    spin_par_end = _spin_control_parallel(cpus)
    full = {
        "metric": "headline_queries_plus_extraction_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_forced": timings_forced,
        "queries_forced_fallback": forced_fallbacks,
        "sf": sf,
        "extract_docs": n_docs,
        "extract_docs_per_sec": docs_per_sec,
        "extract_spans_per_sec": spans_per_sec,
        "html_docs": n_html,
        "html_docs_per_sec": html_docs_per_sec,
        "html_spans_per_sec": html_spans_per_sec,
        "extract_samples_sec": extract_samples,
        "html_samples_sec": html_samples,
        "corpus_pipeline_sec": corpus_pipeline_sec,
        "corpus_funnel": funnel,
        "bpe_train_100_sec": bpe100_sec,
        "bpe_train_100_rounds": bpe100_rounds,
        "bpe_train_sec_per_round": round(bpe100_sec / max(1, bpe100_rounds), 3),
        "spin_control_sec": {"start": spin_start, "end": spin_end},
        "spin_parallel_sec": {"start": spin_par_start, "end": spin_par_end},
        "cpus": cpus,
    }
    # full record first (for archives/humans), then a COMPACT summary as
    # the very LAST line: the driver keeps only a ~2 KB tail of stdout, so
    # r5's single full-dict line lost its head and parsed as null.  The
    # compact line carries the headline metric, throughputs, and both
    # steal controls, and always fits inside the kept tail.
    print(json.dumps(full))
    print(
        json.dumps(
            {
                "metric": "headline_queries_plus_extraction_wall_sec",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "queries": {"total_sec": total, "n": len(timings)},
                "extract_docs_per_sec": docs_per_sec,
                "extract_spans_per_sec": spans_per_sec,
                "extract_samples_sec": extract_samples,
                "html_docs_per_sec": html_docs_per_sec,
                "corpus_pipeline_sec": corpus_pipeline_sec,
                "bpe_train_100_sec": bpe100_sec,
                "spin_control_sec": {"start": spin_start, "end": spin_end},
                "spin_parallel_sec": {
                    "start": spin_par_start,
                    "end": spin_par_end,
                },
                "cpus": cpus,
                "full_record": "preceding line",
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
