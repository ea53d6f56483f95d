"""The workloads: what each pass runs and how its output is checked.

A pass is timed from the input table to the complete written (PDF
workloads) or collected (curation probe) result.  Its output check runs
after the timed region; every pass is checked.
"""

from __future__ import annotations

import shutil
import time
from contextlib import nullcontext
from pathlib import Path

from perfbench import inputs
from perfbench.harness import EXTRACT_TASKS

# Input of one pass of each PDF workload: multiples of 100, so the
# planted shares are exact, and large enough for a 5-8 s pass.
PAGES_DOCS = 200
SMALL_DOCS = 4000

# Funnel survivors of the fixed curation table, stage by stage; pinned
# against the corpus_funnel DuckDB oracle (perfbench/tests).
FUNNEL_STAGES = ("ingested", "quality", "exact_dedup", "near_dedup", "decontaminated", "final")
FUNNEL_SURVIVORS = (2000, 1431, 1384, 1263, 1229, 1229)


class Check:
    """Counts of checked operations and of those whose output was wrong."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def add(self, ok: bool, note: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.notes) < 10:
                self.notes.append(note)


class PdfWorkload:
    """raw_docs parquet -> extract_documents -> write_spans + lineage_rows,
    the path of jobs/extract_job.py, over the `n_docs` documents that
    `make_docs(seed, n_docs)` generates."""

    def __init__(self, make_docs, n_docs: int):
        self.make_docs = make_docs
        self.n_docs = n_docs
        self.check = Check()
        self.error_rows = 0
        self.checked_rows = 0
        self.sink_stats: list[tuple[int, int]] = []  # (files, bytes) per pass

    def generate(self, seed: int, work: Path) -> None:
        self.work = work
        self.docs = self.make_docs(seed, self.n_docs)
        self.raw_path = str(work / "raw_docs")
        inputs.write_raw_docs(self.docs, self.raw_path)
        self.expected = {d.doc_id: (d.pages, d.spans, d.digest, d.error) for d in self.docs}

    def run_pass(self, spark, i: int, tracer=None) -> float:
        from pdf_extract_spark.operators.extraction import extract_documents, lineage_rows
        from pdf_extract_spark.sources.raw_docs import write_spans

        span = tracer.span if tracer else (lambda *a, **k: nullcontext())
        out = self.work / f"out-{i}"
        t0 = time.perf_counter()
        with span("extraction.plan", group=True):
            raw = spark.read.parquet(self.raw_path)
            extracted = extract_documents(raw, num_partitions=EXTRACT_TASKS).cache()
        if tracer:
            # materialize the extraction so the sink spans time the sink
            # alone (the plain pass runs it inside the write_spans job)
            with span("extraction.run", group=True):
                extracted.count()
        with span("sink.write_spans", group=True):
            write_spans(extracted.select("doc_id", "spans"), str(out / "documents_spans"))
        with span("sink.lineage", group=True):
            lineage_rows(extracted, f"pass-{i}").write.mode("append").parquet(str(out / "lineage"))
        elapsed = time.perf_counter() - t0
        try:
            self._check(extracted, out)
        finally:
            extracted.unpersist()
            shutil.rmtree(out, ignore_errors=True)
        return elapsed

    def _check(self, extracted, out: Path) -> None:
        """Every document's pages, span count, text digest and error must
        equal the generator's; both sink tables must hold one row per
        document."""
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        text = F.concat_ws(
            "\n", F.transform(F.filter("spans", lambda s: s["kind"] != "media"), lambda s: s["text"])
        )
        rows = extracted.select(
            "doc_id", "pages", "n_spans", "error", F.sha2(text, 256).alias("digest")
        ).collect()
        seen = set()
        errors = 0
        for r in rows:
            got = (r["pages"], r["n_spans"], r["digest"], r["error"])
            want = self.expected.get(r["doc_id"])
            self.check.add(got == want and r["doc_id"] not in seen, f"{r['doc_id']}: {got} != {want}")
            seen.add(r["doc_id"])
            errors += r["error"] is not None
        for missing in set(self.expected) - seen:
            self.check.add(False, f"{missing}: no output row")
        for table in ("documents_spans", "lineage"):
            n = sum(pq.ParquetFile(p).metadata.num_rows for p in (out / table).rglob("*.parquet"))
            self.check.add(n == self.n_docs, f"{table}: {n} rows for {self.n_docs} documents")
        files = list(out.rglob("*.parquet"))
        self.sink_stats.append((len(files), sum(f.stat().st_size for f in files)))
        self.error_rows += errors
        self.checked_rows += len(rows)

    def ok_share(self) -> float:
        return 1.0 - self.error_rows / self.checked_rows


class CurationPass:
    """corpus_pipeline(min_stopwords=1) + funnel_frame over a fixed
    documents table, traced; the stage frames are released after every
    pass.  The traced run's probe of the curation layer."""

    def __init__(self):
        self.check = Check()
        self.survivors: dict = {}

    def generate(self, work: Path) -> None:
        self.path = str(work / "documents")
        inputs.write_curation_docs(inputs.curation_docs(), self.path)

    def run_pass(self, spark, i, tracer) -> None:
        from pdf_extract_spark import pipeline

        try:
            docs = spark.read.parquet(self.path)
            with tracer.pipeline_stages(pipeline):
                stages = pipeline.corpus_pipeline(docs, min_stopwords=1)
                with tracer.span("pipeline.decontaminate", group=True):
                    stages["decontaminated"].count()
                with tracer.span("pipeline.funnel_count", group=True):
                    rows = pipeline.funnel_frame(stages).collect()
        except Exception as e:  # noqa: BLE001 - a pass that raises is a failed operation
            self.check.add(False, f"pass {i} raised {type(e).__name__}: {e}")
            return
        pipeline.release_stages(stages)
        got = tuple((r["stage"], r["n_docs"]) for r in rows)
        want = tuple(zip(FUNNEL_STAGES, FUNNEL_SURVIVORS))
        self.check.add(got == want, f"pass {i}: funnel {got} != {want}")
        self.survivors = dict(got)


WORKLOADS = {
    "pdf_pages": lambda: PdfWorkload(inputs.pdf_pages_docs, PAGES_DOCS),
    "pdf_small_mixed": lambda: PdfWorkload(inputs.small_mixed_docs, SMALL_DOCS),
}
