"""Tests of the benchmark itself: its inputs, its names and its event-log
reader.  Run from the repository root:

    python -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import collections
import hashlib
import json
import re
import subprocess
import sys
from pathlib import Path

import pytest

from perfbench import inputs, run, tracing, workloads

ROOT = Path(__file__).resolve().parents[2]
NAME = re.compile(r"[A-Za-z0-9_.-]+")


GENERATORS = {"pages": (inputs.pdf_pages_docs, 100), "small": (inputs.small_mixed_docs, 1000)}


@pytest.fixture(scope="module")
def sets():
    return {(part, seed): make(seed, n) for part, (make, n) in GENERATORS.items() for seed in (7, 8)}


@pytest.mark.parametrize("part", list(GENERATORS))
def test_same_seed_same_bytes(sets, part):
    make, n = GENERATORS[part]
    again = make(7, n)
    assert [d.content for d in again] == [d.content for d in sets[part, 7]]
    assert [(d.doc_id, d.digest, d.error) for d in again] == [
        (d.doc_id, d.digest, d.error) for d in sets[part, 7]
    ]


@pytest.mark.parametrize("part", list(GENERATORS))
def test_other_seed_other_bytes(sets, part):
    a, b = sets[part, 7], sets[part, 8]
    assert [d.doc_id for d in a] == [d.doc_id for d in b]
    assert all(x.content != y.content for x, y in zip(a, b))
    # the shape does not depend on the seed: same page counts, same plants
    assert [(d.pages, d.family) for d in a] == [(d.pages, d.family) for d in b]


def test_curation_table_is_fixed():
    assert inputs.curation_docs() == inputs.curation_docs()
    assert len(inputs.curation_docs()) == inputs.CURATION_DOCS


@pytest.mark.parametrize("part", list(GENERATORS))
def test_planted_shares_are_exact(sets, part):
    docs = sets[part, 7]
    n = len(docs)
    kinds = collections.Counter(d.family.partition("+")[2] for d in docs)
    assert kinds["duplicate"] == n * inputs.DUPLICATE_SHARE
    assert kinds["error"] == n * inputs.ERROR_SHARE
    assert kinds["repaired"] == n * inputs.REPAIRED_SHARE
    assert kinds["padded"] == n * inputs.PADDED_SHARE
    # every duplicate has exactly one byte-identical twin; all other
    # documents are unique
    by_bytes = collections.Counter(d.content for d in docs)
    assert sorted(by_bytes.values(), reverse=True)[: kinds["duplicate"] + 1] == [2] * kinds["duplicate"] + [1]
    assert all(by_bytes[d.content] == 2 for d in docs if d.family.endswith("+duplicate"))
    errors = [d for d in docs if d.error]
    assert {d.error for d in errors} == {inputs.ERR_NO_CATALOG, inputs.ERR_NO_MEDIABOX}
    assert all(d.pages == 0 and d.digest == inputs.EMPTY_DIGEST for d in errors)


def test_expected_outcomes_hold_on_the_kernel():
    """Every generated document extracts to exactly what the generator
    states: pages, span count, text digest, error row."""
    from pdf_extract_spark.extract import extract_spans_flat_from_mem

    docs = inputs.pdf_pages_docs(3, 100) + inputs.small_mixed_docs(3, 500)
    for d in docs:
        kinds, texts, _m, _o, pages, error = extract_spans_flat_from_mem(d.content)
        text = "\n".join(t for k, t in zip(kinds, texts) if k != "media")
        got = (pages, len(kinds), hashlib.sha256(text.encode()).hexdigest(), error)
        assert got == (d.pages, d.spans, d.digest, d.error), d.doc_id


def test_pinned_funnel_matches_duckdb_oracle(tmp_path):
    """The pinned curation survivors equal the corpus_funnel DuckDB oracle
    over the same table."""
    duckdb = pytest.importorskip("duckdb")
    from pdf_extract_spark.queries import ORACLES

    inputs.write_curation_docs(inputs.curation_docs(), str(tmp_path))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{tmp_path / 'documents.parquet'}'")
    rows = con.execute(ORACLES["corpus_funnel"]).fetchall()
    assert [(stage, int(n)) for _i, stage, n in rows] == list(
        zip(workloads.FUNNEL_STAGES, workloads.FUNNEL_SURVIVORS)
    )


def test_names_agree_with_benchmark_json():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    names = [*run.WORKLOADS, *run.END_TO_END, *run.PER_LAYER]
    assert all(NAME.fullmatch(n) for n in names)
    assert len(set(names)) == len(names)
    assert run.FUNNEL_STAGES == workloads.FUNNEL_STAGES


def test_kernel_layers_cover_their_names():
    docs = inputs.small_mixed_docs(5, 100)[:40]
    got = tracing.kernel_layers(docs)
    assert set(got) <= set(run.PER_LAYER)
    assert got["kernel.docs"] == 40
    assert got["device.spans"] == sum(d.spans for d in docs if not d.error)


def test_event_log_reader(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "extraction.run#0"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        *[
            {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
             "Task Info": {"Accumulables": [{"Name": "data sent to Python workers", "Update": 10}]},
             "Task Metrics": {"Executor Run Time": rt, "JVM GC Time": 5,
                              "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}}}
            for rt in (100, 100, 300)
        ],
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    groups = tracing.read_event_log(tmp_path)
    g = groups["extraction.run#0"]
    assert (g["jobs"], g["stages"], g["tasks"]) == (1, 2, 3)
    assert (g["shuffle_write_bytes"], g["gc_ms"], g["python_bytes_sent"]) == (21, 15, 30)
    assert g["python_task_max_over_median"] == 3.0
    assert groups["unlabelled"]["jobs"] == 1
    assert tracing.group_totals(groups, "extraction.", "jobs") == [1.0]


def test_reap_children_waits_for_orphans():
    """A process whose parent ended before it (a Python worker under the
    JVM) is re-parented to the run and has ended when reap_children
    returns."""
    script = (
        "import os, subprocess\n"
        "from perfbench import harness\n"
        "harness.adopt_orphans()\n"
        "out = subprocess.run(['sh', '-c', 'sleep 1 >/dev/null & echo $!'],\n"
        "                     capture_output=True, text=True, check=True).stdout\n"
        "harness.reap_children(grace=30)\n"
        "print(os.path.exists(f'/proc/{int(out)}'))\n"
    )
    out = subprocess.run([sys.executable, "-c", script], cwd=ROOT, capture_output=True, text=True, check=True)
    assert out.stdout.strip() == "False"
