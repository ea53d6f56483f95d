"""The traced run's instruments: spans around calls into the program's
public functions, Spark job groups, the local event log, and the
in-process timing of the extraction kernel's sub-layers.

Spans are kept in memory and written out when the run ends.  A span has
a name, start, end, parent, the pass it belongs to and the run id; a span
opened with ``group=True`` also labels the Spark jobs started inside it
with ``<name>#<pass>``, so the event log attributes jobs, stages and
tasks to it.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spark = None  # job groups are set only once a session is given
        self.spans: list[dict] = []
        self.pass_id = "setup"
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, group: bool = False):
        sc = self.spark.sparkContext if group else None
        if sc is not None:
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(f"{name}#{self.pass_id}", name)
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "pass": self.pass_id, "run_id": self.run_id, "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", prev)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def per_pass(self, name: str, passes=None) -> list[float]:
        """Total seconds of the spans called `name`, one value per pass
        (of those in `passes`, when given)."""
        tot: dict = defaultdict(float)
        for s in self.spans:
            if s["name"] == name and (passes is None or s["pass"] in passes):
                tot[s["pass"]] += s["end"] - s["start"]
        return list(tot.values())

    @contextmanager
    def pipeline_stages(self, pipeline):
        """Time the curation stages from outside: before each stage
        function receives the previous (cached) stage frame, that frame is
        materialized under the previous stage's span and job group."""
        # stage function -> (span of the frame it receives, its own span)
        spans = {
            "exact_dedup_stage": ("pipeline.quality", "pipeline.exact_dedup"),
            "near_dedup_stage": ("pipeline.exact_dedup", "pipeline.near_dedup"),
            "decontaminate": ("pipeline.near_dedup", "pipeline.decontaminate"),
        }
        orig = {k: getattr(pipeline, k) for k in spans}

        def wrap(key):
            before, own = spans[key]

            def call(df, *a, **k):
                with self.span(before, group=True):
                    df.count()
                with self.span(own, group=True):
                    return orig[key](df, *a, **k)
            return call

        for k in orig:
            setattr(pipeline, k, wrap(k))
        try:
            yield
        finally:
            for k, f in orig.items():
                setattr(pipeline, k, f)

    def write(self, path: Path) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# --------------------------------------------------------------------------
# Event log
# --------------------------------------------------------------------------

PY_METRICS = {  # Spark's Python SQL metrics; the timings are in ms
    "time to run Python workers": "python_total_ms",
    "time to start Python workers": "python_boot_ms",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
}


def read_event_log(directory: Path) -> dict[str, dict]:
    """Per job group: jobs, stages run, tasks, shuffle bytes written,
    spill, JVM GC time, task run times per stage and the Python worker
    SQL metrics, from the Spark event log files in `directory`."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    stage_python: set[int] = set()
    for path in sorted(directory.iterdir()):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "unlabelled"
                    groups[g]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    groups[stage_group.get(sid, "unlabelled")]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    g = groups[stage_group.get(sid, "unlabelled")]
                    m = ev.get("Task Metrics") or {}
                    g["tasks"] += 1
                    g["gc_ms"] += m.get("JVM GC Time", 0)
                    g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    stage_tasks[sid].append(m.get("Executor Run Time", 0))
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        key = PY_METRICS.get(acc.get("Name"))
                        if key:
                            g[key] += float(acc.get("Update") or 0)
                            stage_python.add(sid)
    for sid in stage_python:
        runs = stage_tasks[sid]
        g = groups[stage_group.get(sid, "unlabelled")]
        med = statistics.median(runs)
        if med > 0:
            g["python_task_max_over_median"] = max(g["python_task_max_over_median"], max(runs) / med)
    return {k: dict(v) for k, v in groups.items()}


def group_totals(groups: dict[str, dict], prefix: str, key: str, passes=None) -> list[float]:
    """`key` summed over the groups whose span name starts with `prefix`,
    one value per pass (of those in `passes`, when given)."""
    per: dict = defaultdict(float)
    for g, vals in groups.items():
        name, _, pass_id = g.partition("#")
        if name.startswith(prefix) and (passes is None or pass_id in passes):
            per[pass_id] += vals.get(key, 0.0)
    return list(per.values())


# --------------------------------------------------------------------------
# Extraction kernel sub-layers, timed in this process
# --------------------------------------------------------------------------


class NoopDevice:
    """The device surface the interpreter drives, doing nothing; the
    string-level path stays on (output_string is present)."""

    def begin_page(self, page_num, media_box):
        pass

    def end_page(self):
        pass

    def begin_word(self):
        pass

    def end_word(self):
        pass

    def end_line(self):
        pass

    def output_character(self, trm, width, spacing, font_size, char):
        pass

    def output_string(self, trm, text, last_w0, font_size, dx_last, dy_last):
        pass

    def media(self, name):
        pass


@contextmanager
def _timed_calls(owner, attr: str, accs: list, name: str, count=None):
    """Replace owner.attr by a wrapper adding its wall time to
    acc[name + '_s'] and its calls (or count(result)) to acc[name], where
    acc is the dict at accs[0] when the call is made."""
    orig = getattr(owner, attr)

    def call(*a, **k):
        t0 = time.perf_counter()
        out = orig(*a, **k)
        acc = accs[0]
        acc[name + "_s"] += time.perf_counter() - t0
        acc[name] += count(out) if count else 1
        return out

    setattr(owner, attr, call)
    try:
        yield
    finally:
        setattr(owner, attr, orig)


KERNEL_REPEATS = 3  # paired no-op/real device loops; the metrics are medians


def kernel_layers(docs) -> dict[str, float]:
    """Time the kernel's sub-layers over `docs` in this process.

    After one warm-up loop, a plain ``extract_spans_flat_from_mem`` loop
    gives per-document latency.  Then KERNEL_REPEATS loops run ``load_mem``
    + ``output_doc`` over every document twice in a row, once with a
    no-op device and once with the real ``PlainTextSpanDevice``, with the
    parse, tokenizer and font entry points wrapped.  Running the two
    devices back to back on each document lets both see the same host
    speed.  The device's self time is the difference of the two runs; the
    interpreter's is the no-op run minus its children.  Each metric is
    the median over the loops.
    """
    from pdf_extract_spark import extract, interpreter
    from pdf_extract_spark.device import PlainTextSpanDevice
    from pdf_extract_spark.pdfmini.document import Document

    flat = extract.extract_spans_flat_from_mem
    for d in docs:  # warm-up: imports, font cache
        flat(d.content)
    doc_ms, pages = [], 0
    for d in docs:
        t0 = time.perf_counter()
        out = flat(d.content)
        doc_ms.append((time.perf_counter() - t0) * 1000.0)
        pages += out[4]

    def run(d, device, acc):
        t0 = time.perf_counter()
        try:
            doc = extract.load_mem(d.content)
        except Exception:  # noqa: BLE001 - planted malformed documents
            acc["load_mem_s"] += time.perf_counter() - t0
            return
        t1 = time.perf_counter()
        acc["load_mem_s"] += t1 - t0
        try:
            interpreter.output_doc(doc, device)
            if hasattr(device, "finish_flat"):
                acc["spans"] += len(device.finish_flat()[0])
        except Exception:  # noqa: BLE001 - planted malformed documents
            pass
        acc["output_doc_s"] += time.perf_counter() - t1

    loops = []
    current: list = [None]
    with _timed_calls(Document, "get_pages", current, "get_pages"), \
            _timed_calls(Document, "get_page_content", current, "page_content"), \
            _timed_calls(interpreter, "decode_content", current, "content_ops", count=len), \
            _timed_calls(interpreter, "make_font", current, "make_font"):
        for _ in range(KERNEL_REPEATS):
            noop: dict = defaultdict(float)
            real: dict = defaultdict(float)
            for d in docs:
                current[0] = noop
                run(d, NoopDevice(), noop)
                current[0] = real
                run(d, PlainTextSpanDevice(), real)
            loops.append((noop, real))

    def med(f):
        return statistics.median(f(noop, real) for noop, real in loops)

    children = ("get_pages_s", "page_content_s", "content_ops_s", "make_font_s")
    q = statistics.quantiles(doc_ms, n=100) if len(doc_ms) > 1 else doc_ms * 99
    return {
        "kernel.doc_ms_p50": statistics.median(doc_ms),
        "kernel.doc_ms_p99": q[98],
        "kernel.docs": len(docs),
        "kernel.pages": pages,
        "pdfmini.load_mem_s": med(lambda n, r: n["load_mem_s"]),
        "pdfmini.get_pages_s": med(lambda n, r: n["get_pages_s"]),
        "pdfmini.page_content_s": med(lambda n, r: n["page_content_s"]),
        "pdfmini.decode_content_s": med(lambda n, r: n["content_ops_s"]),
        "pdfmini.content_ops": med(lambda n, r: n["content_ops"]),
        "fonts.make_font_s": med(lambda n, r: n["make_font_s"]),
        "fonts.make_font_calls": med(lambda n, r: n["make_font"]),
        "interpreter.self_s": med(lambda n, r: n["output_doc_s"] - sum(n[c] for c in children)),
        "device.self_s": med(lambda n, r: r["output_doc_s"] - n["output_doc_s"]),
        "device.spans": med(lambda n, r: r["spans"]),
    }


def noop_boundary(spark, raw_path: str) -> float:
    """Seconds of the extraction stage's shape — byte_len-free scan,
    doc_id repartition, mapInArrow — with a kernel that returns empty
    results: the Arrow boundary's cost without the kernel's."""
    from pyspark.sql import functions as F

    from perfbench.harness import EXTRACT_TASKS

    t0 = time.perf_counter()
    (
        spark.read.parquet(raw_path)
        .select("doc_id", "content")
        .repartition(EXTRACT_TASKS, F.col("doc_id"))
        .mapInArrow(_noop_batches, NOOP_SCHEMA)
        .write.format("noop").mode("overwrite").save()
    )
    return time.perf_counter() - t0


# the extraction stage's flat UDF output schema
NOOP_SCHEMA = (
    "doc_id string, kind array<string>, text array<string>, media_ref array<string>, "
    "offset array<int>, pages int, n_spans int, decode_failures int, error string"
)


def _noop_batches(batches):
    import pyarrow as pa

    for b in batches:
        n = b.num_rows
        empty_s = pa.array([[]] * n, pa.list_(pa.string()))
        zeros = pa.array([0] * n, pa.int32())
        yield pa.RecordBatch.from_arrays(
            [b.column(b.schema.get_field_index("doc_id")).cast(pa.string()),
             empty_s, empty_s, empty_s, pa.array([[]] * n, pa.list_(pa.int32())),
             zeros, zeros, zeros, pa.nulls(n, pa.string())],
            names=["doc_id", "kind", "text", "media_ref", "offset", "pages", "n_spans",
                   "decode_failures", "error"],
        )
