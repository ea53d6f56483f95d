"""Benchmark of PDF extraction and corpus curation.

One run:

    python3 perfbench/run.py --workload pdf_pages --seed 1 --seconds 15 --trace 0

With ``--trace 0`` the run measures the end-to-end metrics with tracing
off; with ``--trace 1`` it measures the per-layer metrics instead and
writes its span tree and metrics under ``.perfbench_out/``.
``--workload all`` runs every workload in turn, each in its own process.

The run prints its full record as one JSON line and then, as the last
line, ``{"correct", "attempted", "failed", "metrics"}``.  It exits 1 when
an output check failed, 2 when the program is not next to the benchmark.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

# name -> unit of every metric a run prints; BENCHMARK.json lists the same.
END_TO_END = {
    "pass_s": "s",
    "docs_per_s": "1/s",
    "setup_s": "s",
    "ok_share": "ratio",
    "worker_peak_rss_mb": "MB",
}
WORKLOADS = ("pdf_pages", "pdf_small_mixed")
FUNNEL_STAGES = ("ingested", "quality", "exact_dedup", "near_dedup", "decontaminated", "final")
PER_LAYER = {
    "session.start_s": "s",
    "input.generate_s": "s",
    "warmup_s": "s",
    "trace.overhead_s": "s",
    "kernel.doc_ms_p50": "ms",
    "kernel.doc_ms_p99": "ms",
    "kernel.docs": "count",
    "kernel.pages": "count",
    "pdfmini.load_mem_s": "s",
    "pdfmini.get_pages_s": "s",
    "pdfmini.page_content_s": "s",
    "pdfmini.decode_content_s": "s",
    "pdfmini.content_ops": "count",
    "fonts.make_font_s": "s",
    "fonts.make_font_calls": "count",
    "interpreter.self_s": "s",
    "device.self_s": "s",
    "device.spans": "count",
    "extraction.boundary_s": "s",
    "extraction.plan_s": "s",
    "extraction.run_s": "s",
    "extraction.jobs": "count",
    "extraction.stages": "count",
    "extraction.tasks": "count",
    "extraction.shuffle_write_bytes": "bytes",
    "extraction.gc_s": "s",
    "extraction.task_max_over_median": "ratio",
    "extraction.python_total_s": "s",
    "extraction.python_boot_s": "s",
    "extraction.python_bytes_sent": "bytes",
    "extraction.python_bytes_received": "bytes",
    "sink.write_spans_s": "s",
    "sink.lineage_s": "s",
    "sink.jobs": "count",
    "sink.bytes_written": "bytes",
    "sink.files_written": "count",
    "pipeline.quality_s": "s",
    "pipeline.exact_dedup_s": "s",
    "pipeline.near_dedup_s": "s",
    "pipeline.decontaminate_s": "s",
    "pipeline.funnel_count_s": "s",
    "pipeline.jobs": "count",
    "pipeline.stages": "count",
    "pipeline.near_dedup_jobs": "count",
    "pipeline.shuffle_write_bytes": "bytes",
    "pipeline.spill_bytes": "bytes",
    **{f"pipeline.survivors.{s}": "count" for s in FUNNEL_STAGES},
}

# Passes run before timing starts: the first pass of a session is 3-4x
# slower than a settled one, and the JVM side keeps speeding up until
# the JIT has seen enough rows (after two passes of this size the timed
# passes still got faster from one to the next; after three they do not).
WARMUP_PASSES = 3
GENERATIONS = 3  # input generation is repeated and its median reported
CONTROL_DOCS = 300  # size of the host-speed control loop (seed 0 small docs)
KERNEL_PAGES = 1000  # page budget of the in-process kernel sub-layer loops
# Traced curation passes the pipeline.* metrics come from (their median),
# after one cold pass: the first pass takes about twice a settled one.
CURATION_SETTLED = ("curation-1", "curation-2")


def _median(values):
    return statistics.median(values) if values else 0.0


def _set_up(name: str, seed: int, work: Path, tracer, event_log: bool = False):
    """Session start, input generation (repeated) and warm-up; returns the
    session, the workload and the seconds of each part."""
    from perfbench import harness, workloads

    wl = workloads.WORKLOADS[name]()
    with tracer.span("session.start") as s:
        spark = harness.start_session(work, event_log=event_log)
    parts = {"session_start_s": s["end"] - s["start"], "generate_s": []}
    for _ in range(GENERATIONS):
        with tracer.span("input.generate") as s:
            wl.generate(seed, work)
        parts["generate_s"].append(s["end"] - s["start"])
    with tracer.span("warmup") as s:
        parts["warmup_pass_s"] = [wl.run_pass(spark, f"warm{i}") for i in range(WARMUP_PASSES)]
    parts["warmup_s"] = s["end"] - s["start"]
    return spark, wl, parts


def plain_run(name: str, seed: int, seconds: float, work: Path):
    """End-to-end metrics with tracing off."""
    from perfbench import harness, inputs, tracing

    control = inputs.small_mixed_docs(0, CONTROL_DOCS)
    control_before = harness.host_control(control)
    spark, wl, parts = _set_up(name, seed, work, tracing.Tracer("setup"))
    try:
        times = harness.timed_passes(lambda i: wl.run_pass(spark, i), seconds)
        rss = harness.worker_peak_rss_mb(spark)
    finally:
        harness.stop_session()
    control_after = harness.host_control(control)
    pass_s = _median(times)
    metrics = {
        "pass_s": pass_s,
        "docs_per_s": wl.n_docs / pass_s,
        "setup_s": parts["session_start_s"] + _median(parts["generate_s"]) + parts["warmup_s"],
        "ok_share": wl.ok_share(),
        "worker_peak_rss_mb": rss,
    }
    record = {
        "passes": harness.summary(times),
        "pass_times_s": times,
        "setup": parts,
        "host_control_s": {"before": control_before, "after": control_after, "docs": CONTROL_DOCS},
        "input_docs": wl.n_docs,
    }
    return metrics, record, [wl.check]


def traced_run(name: str, seed: int, seconds: float, work: Path, out: Path):
    """Per-layer metrics, from one session with the event log on: the
    plain run's set-up and passes, then as many traced passes, then
    probes of the curation layer (a cold and two settled passes) and of
    the Arrow boundary."""
    from perfbench import harness, tracing, workloads

    tracer = tracing.Tracer(f"{name}-{seed}-{os.getpid()}")
    spark, wl, _ = _set_up(name, seed, work, tracer, event_log=True)
    tracer.spark = spark
    checks = [wl.check]
    untraced, traced = [], []

    def pass_pair(i):
        """One plain and one traced pass, interleaved so both see the
        same host conditions."""
        untraced.append(wl.run_pass(spark, f"u{i}"))
        tracer.pass_id = str(i)
        traced.append(wl.run_pass(spark, f"t{i}", tracer))
        return untraced[-1] + traced[-1]

    try:
        harness.timed_passes(pass_pair, seconds, min_passes=2)
        # the curation layer over the fixed table: a cold pass, then the
        # settled passes its metrics come from
        cur = workloads.CurationPass()
        cur.generate(work / "curation")
        for pass_id in ("curation-cold", *CURATION_SETTLED):
            tracer.pass_id = pass_id
            cur.run_pass(spark, pass_id, tracer)
        checks.append(cur.check)
        tracer.pass_id = "boundary"
        boundary = [tracing.noop_boundary(spark, wl.raw_path) for _ in range(3)]
    finally:
        harness.stop_session()
    groups = tracing.read_event_log(work / "eventlog")
    kernel = tracing.kernel_layers(_kernel_docs(wl.docs))

    def span(n, passes=None):
        return _median(tracer.per_pass(n, passes))

    def grp(prefix, key, scale=1.0, passes=None):
        return _median(tracing.group_totals(groups, prefix, key, passes)) * scale

    def cur_span(n):
        return span(n, CURATION_SETTLED)

    def cur_grp(prefix, key):
        return grp(prefix, key, passes=CURATION_SETTLED)

    def mean_grp(prefix, key, scale=1.0):
        vals = tracing.group_totals(groups, prefix, key)
        return sum(vals) / len(vals) * scale if vals else 0.0

    metrics = {
        "session.start_s": span("session.start"),
        "input.generate_s": _median(tracer.durations("input.generate")),
        "warmup_s": span("warmup"),
        "trace.overhead_s": _median(traced) - _median(untraced),
        **kernel,
        "extraction.boundary_s": _median(boundary),
        "extraction.plan_s": span("extraction.plan"),
        "extraction.run_s": span("extraction.run"),
        "extraction.jobs": grp("extraction.", "jobs"),
        "extraction.stages": grp("extraction.", "stages"),
        "extraction.tasks": grp("extraction.", "tasks"),
        "extraction.shuffle_write_bytes": grp("extraction.", "shuffle_write_bytes"),
        "extraction.gc_s": mean_grp("extraction.", "gc_ms", 1e-3),
        "extraction.task_max_over_median": grp("extraction.", "python_task_max_over_median"),
        "extraction.python_total_s": grp("extraction.", "python_total_ms", 1e-3),
        # workers are reused, so they boot during warm-up: the run's total
        "extraction.python_boot_s": sum(g.get("python_boot_ms", 0.0) for g in groups.values()) * 1e-3,
        "extraction.python_bytes_sent": grp("extraction.", "python_bytes_sent"),
        "extraction.python_bytes_received": grp("extraction.", "python_bytes_received"),
        "sink.write_spans_s": span("sink.write_spans"),
        "sink.lineage_s": span("sink.lineage"),
        "sink.jobs": grp("sink.", "jobs"),
        "sink.bytes_written": _median([b for _f, b in wl.sink_stats]),
        "sink.files_written": _median([f for f, _b in wl.sink_stats]),
        "pipeline.quality_s": cur_span("pipeline.quality"),
        "pipeline.exact_dedup_s": cur_span("pipeline.exact_dedup"),
        "pipeline.near_dedup_s": cur_span("pipeline.near_dedup"),
        "pipeline.decontaminate_s": cur_span("pipeline.decontaminate"),
        "pipeline.funnel_count_s": cur_span("pipeline.funnel_count"),
        "pipeline.jobs": cur_grp("pipeline.", "jobs"),
        "pipeline.stages": cur_grp("pipeline.", "stages"),
        "pipeline.near_dedup_jobs": cur_grp("pipeline.near_dedup", "jobs"),
        "pipeline.shuffle_write_bytes": cur_grp("pipeline.", "shuffle_write_bytes"),
        "pipeline.spill_bytes": cur_grp("pipeline.", "spill_bytes"),
        **{f"pipeline.survivors.{s}": cur.survivors.get(s, 0) for s in FUNNEL_STAGES},
    }
    out.mkdir(parents=True, exist_ok=True)
    tracer.write(out / "spans.jsonl")
    record = {
        "untraced_passes": harness.summary(untraced),
        "traced_passes": harness.summary(traced),
        "event_log_groups": groups,
    }
    with open(out / "layers.json", "w") as f:
        json.dump({"metrics": metrics, **record}, f, indent=1, sort_keys=True)
    return metrics, record, checks


def _kernel_docs(docs):
    """The workload's first documents, up to KERNEL_PAGES pages."""
    picked, pages = [], 0
    for d in docs:
        if pages >= KERNEL_PAGES:
            break
        picked.append(d)
        pages += max(d.pages, 1)
    return picked


def run_all(args) -> int:
    """Every workload in turn, each in a child process."""
    worst = 0
    for name in WORKLOADS:
        cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        worst = max(worst, subprocess.run(cmd, check=False).returncode)
    return worst


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not (ROOT / "pdf_extract_spark").is_dir():
        print(f"perfbench: no pdf_extract_spark/ package under {ROOT}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    sys.path.insert(0, str(ROOT))
    from perfbench import harness

    harness.adopt_orphans()
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    work.mkdir(parents=True)
    try:
        if args.trace:
            out = ROOT / ".perfbench_out" / f"{args.workload}-seed{args.seed}"
            metrics, record, checks = traced_run(args.workload, args.seed, args.seconds, work, out)
            units = PER_LAYER
        else:
            metrics, record, checks = plain_run(args.workload, args.seed, args.seconds, work)
            units = END_TO_END
    finally:
        harness.stop_session()  # a no-op unless the run failed with a session up
        harness.reap_children()  # the JVM and its Python workers
        shutil.rmtree(work, ignore_errors=True)
    attempted = sum(c.attempted for c in checks)
    failed = sum(c.failed for c in checks)
    record.update(workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
                  check_notes=[n for c in checks for n in c.notes])
    print(json.dumps(record, sort_keys=True, default=str))
    result = {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
