"""Generate dist/golden_html.parquet — the DuckDB oracle for the
`render_html` query.

Unlike the spans/metadata/media goldens (fixture-spec derived), the HTML
device output depends on full interpreter geometry (trm positions), so this
golden is a REVIEWED SNAPSHOT: it runs `extract_html_from_mem` single-node
(no Spark) over the fixture corpus and records per-doc length + md5, or the
device's tagged error with NULL length and md5.  The oracle compare then
proves (a) the distributed map_documents path reproduces the single-node
device bit-for-bit and (b) any regression in the device or interpreter
changes a committed artifact that must be consciously re-blessed.

Usage: python tools/gen_golden_html.py  (re-run + review the diff whenever
fixtures or the HTML device change; tests guard staleness).
"""

from __future__ import annotations

import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pdf_extract_spark.extract import extract_html_from_mem, render_digest  # noqa: E402
from pdf_extract_spark.fixtures import corpus  # noqa: E402

OUT = Path(__file__).resolve().parent.parent / "dist" / "golden_html.parquet"


def golden_rows(replicas: int = 1):
    cols = {"doc_id": [], "html_len": [], "html_md5": [], "error": []}
    for doc_id, pdf, _expected in corpus(replicas):
        row = (doc_id, *render_digest(extract_html_from_mem, pdf))
        for col, v in zip(cols.values(), row):
            col.append(v)
    return cols


def main():
    cols = golden_rows()
    table = pa.table(
        {
            "doc_id": pa.array(cols["doc_id"], pa.string()),
            "html_len": pa.array(cols["html_len"], pa.int64()),
            "html_md5": pa.array(cols["html_md5"], pa.string()),
            "error": pa.array(cols["error"], pa.string()),
        }
    )
    OUT.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, OUT)
    print(f"wrote {OUT} ({table.num_rows} rows)")


if __name__ == "__main__":
    main()
