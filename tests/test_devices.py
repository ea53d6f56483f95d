"""HTML / SVG device tests (reference HTMLOutput lib.rs:1891-1993 and
SVGOutput lib.rs:1995-2087 behaviors)."""

from pdf_extract_spark.devices_html import insert_nbsp
from pdf_extract_spark.extract import extract_html_from_mem, extract_svg_from_mem
from pdf_extract_spark.fixtures import (
    _HELV,
    PdfBuilder,
    _simple_doc,
    fx_rotated_text,
    fx_simple_tj,
)


def test_insert_nbsp_reference_semantics():
    # one-char lookahead, exactly like lib.rs:1900-1918
    assert insert_nbsp("a b") == "a b"
    assert insert_nbsp(" a") == "&nbsp;a"
    assert insert_nbsp("a ") == "a&nbsp;"
    assert insert_nbsp("a  b") == "a&nbsp;&nbsp;b"
    assert insert_nbsp("ab cd") == "ab cd"
    assert insert_nbsp("  ") == "&nbsp;&nbsp;"


def test_html_output_runs_and_structure():
    pdf, _ = fx_simple_tj()
    html = extract_html_from_mem(pdf)
    assert "<div id='page1'" in html
    # run coalescing: contiguous same-line chars form one non-red div
    assert ">Hello&nbsp;World</div>" in html or ">Hello World</div>" in html
    assert ">Second line</div>" in html or ">Second&nbsp;line</div>" in html
    # per-char debug divs exist (reference emits them unconditionally)
    assert html.count("color: red") == len("Hello World") + len("Second line")
    assert html.rstrip().endswith("</div>")


def test_html_run_breaks_on_moved_text():
    # two Tj at different x with a gap -> separate runs
    content = b"BT /F1 12 Tf 72 720 Td (ab) Tj 50 0 Td (cd) Tj ET"
    pdf = _simple_doc([(content, f"<< /Font {_HELV} >>")])
    html = extract_html_from_mem(pdf)
    assert ">ab</div>" in html
    assert ">cd</div>" in html


def test_html_rotated_text_prints_nan_font_size():
    # a 90-degree text matrix gives a negative vx*vy, so the size is NaN;
    # Rust's Display prints it as "NaN" rather than failing the page
    pdf, _ = fx_rotated_text()
    html = extract_html_from_mem(pdf)
    assert "font-size: NaNpx'>Rot</div>" in html
    assert html.rstrip().endswith("</div>")


def test_svg_paths():
    content = (
        b"1 0 0 1 10 20 cm 72 72 m 144 72 l 144 144 l h S "
        b"200 200 50 40 re f"
    )
    pdf = _simple_doc([(content, f"<< /Font {_HELV} >>")])
    svg = extract_svg_from_mem(pdf)
    assert svg.startswith("<svg")
    assert "stroke='black'" in svg  # S -> stroked path
    # cm translation applied: 72+10=82, re at 200+10=210
    assert "M82 92" in svg
    assert "M210 220" in svg
    assert svg.rstrip().endswith("</svg>")


def test_svg_curves_v_y_complete_cubics():
    content = b"10 10 m 20 20 30 30 v 40 40 50 50 y h f"
    pdf = _simple_doc([(content, f"<< /Font {_HELV} >>")])
    svg = extract_svg_from_mem(pdf)
    # v: current point doubles as first control; y: end doubles as c2
    assert "C10 10 20 20 30 30" in svg
    assert "C40 40 50 50 50 50" in svg
