"""Generate dist/golden_svg.parquet — the DuckDB oracle for the
`render_svg` query.

Like golden_html.parquet, a REVIEWED SNAPSHOT: runs `extract_svg_from_mem`
single-node (no Spark) over the fixture corpus and records per-doc length
+ md5, or the device's tagged error with NULL length and md5.  The oracle
compare then proves (a) the distributed map_documents path reproduces the
single-node SVG device bit-for-bit and (b) any device or interpreter
regression changes a committed artifact that must be consciously
re-blessed.

Usage: python tools/gen_golden_svg.py  (re-run + review the diff whenever
fixtures or the SVG device change; tests guard staleness).
"""

from __future__ import annotations

import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pdf_extract_spark.extract import extract_svg_from_mem, render_digest  # noqa: E402
from pdf_extract_spark.fixtures import corpus  # noqa: E402

OUT = Path(__file__).resolve().parent.parent / "dist" / "golden_svg.parquet"


def golden_rows(replicas: int = 1):
    cols = {"doc_id": [], "svg_len": [], "svg_md5": [], "error": []}
    for doc_id, pdf, _expected in corpus(replicas):
        row = (doc_id, *render_digest(extract_svg_from_mem, pdf))
        for col, v in zip(cols.values(), row):
            col.append(v)
    return cols


def main():
    cols = golden_rows()
    table = pa.table(
        {
            "doc_id": pa.array(cols["doc_id"], pa.string()),
            "svg_len": pa.array(cols["svg_len"], pa.int64()),
            "svg_md5": pa.array(cols["svg_md5"], pa.string()),
            "error": pa.array(cols["error"], pa.string()),
        }
    )
    OUT.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, OUT)
    print(f"wrote {OUT} ({table.num_rows} rows)")


if __name__ == "__main__":
    main()
