"""Every per-row Python stage is one ``map_documents`` Arrow stage.

Each converted stage plans exactly one MapInArrow and no MapInPandas, and
keeps the output schema it had as a hand-written mapInPandas/mapInArrow
loop.  Unpickling its kernel imports the package, so a Python worker that
runs it installs ``zipcache`` and stops re-reading zip directories on every
task.  A source scan keeps new per-row stages from bringing a hand-written
loop back."""

import ast
import datetime
import importlib
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "pdf_extract_spark"
# modules that call map_documents (queries.py imports it at call time)
CALLERS = ["html_main", "sources.warc", "operators.multimodal", "operators.dedup",
           "sources.raw_docs", "functions.unigram", "operators.extraction"]
SPANS = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"


def _media(spark, ts=False):
    rows = [("m1", "image", b"x", datetime.datetime(2024, 1, 1)),
            ("a1", "audio", b"y", datetime.datetime(2024, 1, 1))]
    df = spark.createDataFrame(
        rows, "media_id string, media_kind string, payload binary, ts timestamp"
    )
    return df if ts else df.drop("ts")


def _docs(spark):
    return spark.createDataFrame(
        [(1, "one two three two"), (2, "")], "doc_id long, text string"
    )


def _html_main(spark, mp, tmp, built):
    from pdf_extract_spark.html_main import extract_main_content

    raw = spark.createDataFrame([("h1", "<p>text</p>")], "doc_id string, html string")
    return extract_main_content(raw, num_partitions=2)


def _warc(spark, mp, tmp, built):
    from pdf_extract_spark.sources.warc import warc_records

    arcs = spark.createDataFrame([("w1", b"")], "warc_id string, payload binary")
    return warc_records(arcs, num_partitions=2)


def _features(spark, mp, tmp, built):
    from pdf_extract_spark.operators.multimodal import extract_media_features

    return extract_media_features(_media(spark), num_partitions=2)


def _dhash(spark, mp, tmp, built):
    from pdf_extract_spark.operators.multimodal import extract_media_dhash

    return extract_media_dhash(_media(spark, ts=True), num_partitions=2, passthrough=("ts",))


def _audio_fp(spark, mp, tmp, built):
    from pdf_extract_spark.operators.multimodal import extract_audio_fp

    return extract_audio_fp(_media(spark), num_partitions=2)


def _simhash(spark, mp, tmp, built):
    from pdf_extract_spark.operators.dedup import simhash

    return simhash(_docs(spark))


def _winnow(spark, mp, tmp, built):
    from pdf_extract_spark.queries import doc_winnow_fingerprints

    _docs(spark).write.parquet(str(tmp / "documents.parquet"))
    return doc_winnow_fingerprints(spark, str(tmp))


def _synthetic_pdf(spark, mp, tmp, built):
    from pdf_extract_spark.sources.raw_docs import synthetic_corpus_df

    return synthetic_corpus_df(spark, 4, num_partitions=2)


def _synthetic_html(spark, mp, tmp, built):
    from pdf_extract_spark.sources.raw_docs import synthetic_html_corpus_df

    return synthetic_html_corpus_df(spark, 4, num_partitions=2)


def _unigram_stages(spark, mp, built):
    """(E-step frame, segmentation frame) of the distributed unigram path."""
    import pdf_extract_spark.functions.unigram as ug

    mp.setattr(ug, "_DRIVER_VOCAB_MAX", 0)
    docs = _docs(spark)
    _, pieces = ug.unigram_train(docs, vocab_size=16, rounds=1)
    ug.unigram_segment(docs, pieces)
    assert len(built) == 2
    return [df for df, _ in built]


def _unigram_estep(spark, mp, tmp, built):
    return _unigram_stages(spark, mp, built)[0]


def _unigram_seg(spark, mp, tmp, built):
    return _unigram_stages(spark, mp, built)[1]


STAGES = {
    "html_main": (_html_main, f"struct<doc_id:string,n_spans:bigint,spans:{SPANS}>"),
    "warc": (_warc, "struct<warc_id:string,rec_index:bigint,record_type:string,"
             "target_uri:string,record_id:string,content_type:string,"
             "http_status:bigint,byte_len:bigint,body_sha256:string,body:binary,"
             "error:string>"),
    "media_features": (_features, "struct<media_id:string,media_kind:string,"
                       "byte_len:bigint,sha256:string,width:int,height:int,"
                       "feature:array<float>,decoder:string>"),
    "media_dhash": (_dhash, "struct<media_id:string,width:bigint,height:bigint,"
                    "dhash:bigint,decoder:string,ts:timestamp>"),
    "media_audio_fp": (_audio_fp, "struct<media_id:string,sample_rate:bigint,"
                       "n_channels:bigint,audio_fp:bigint,decoder:string>"),
    "simhash": (_simhash, "struct<doc_id:bigint,simhash:bigint>"),
    "winnow": (_winnow, "struct<doc_id:bigint,fp:string>"),
    "synthetic_pdf": (_synthetic_pdf, "struct<doc_id:string,content:binary,"
                      "byte_len:bigint,source:string>"),
    "synthetic_html": (_synthetic_html, "struct<doc_id:string,html:string>"),
    "unigram_estep": (_unigram_estep, "struct<piece:string,cnt:bigint>"),
    "unigram_seg": (_unigram_seg, "struct<word:string,n_pieces:bigint>"),
}


def _unpickling_imports_package(kernel) -> bool:
    from pyspark import cloudpickle

    child = subprocess.run(
        [sys.executable, "-c", "import pickle, sys; pickle.loads(sys.stdin.buffer.read()); "
         "print('pdf_extract_spark' in sys.modules)"],
        input=cloudpickle.dumps(kernel), cwd=REPO, capture_output=True, timeout=120,
    )
    assert child.returncode == 0, child.stderr.decode()
    return child.stdout.decode().strip() == "True"


@pytest.mark.parametrize("name", sorted(STAGES))
def test_stage_is_one_arrow_stage(spark, monkeypatch, tmp_path, name):
    from pdf_extract_spark.operators import extraction

    built = []  # (frame, kernel) of every map_documents call

    def record(df, kernel, schema, real=extraction.map_documents):
        built.append((real(df, kernel, schema), kernel))
        return built[-1][0]

    for module in CALLERS:
        mod = importlib.import_module(f"pdf_extract_spark.{module}")
        monkeypatch.setattr(mod, "map_documents", record, raising=False)
    build, schema = STAGES[name]
    df = build(spark, monkeypatch, tmp_path, built)
    assert df.schema.simpleString() == schema
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan
    assert "MapInPandas" not in plan, plan
    assert built
    for _, kernel in built:
        assert _unpickling_imports_package(kernel), kernel


# mapInPandas stays only where a kernel computes over a whole batch at once
# (matrix products over an embedding batch): a per-row loop there is slower.
BATCH_MATRIX_MODULES = {"operators/similarity.py", "operators/semdedup.py"}


def _map_in_calls():
    """(module path, enclosing function, method) of every mapInPandas /
    mapInArrow call in the package sources."""
    found = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        tree = ast.parse(path.read_text(encoding="utf-8"))
        funcs = [n for n in ast.walk(tree)
                 if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("mapInPandas", "mapInArrow")):
                owner = max(
                    (f for f in funcs if f.lineno <= node.lineno <= f.end_lineno),
                    key=lambda f: f.lineno, default=None,
                )
                found.append((rel, owner.name if owner else None, node.func.attr))
    return found


def test_per_row_python_stages_use_map_documents():
    calls = _map_in_calls()
    assert ("operators/extraction.py", "map_documents", "mapInArrow") in calls
    stray = [
        c for c in calls
        if not (c[2] == "mapInPandas" and c[0] in BATCH_MATRIX_MODULES)
        and c != ("operators/extraction.py", "map_documents", "mapInArrow")
    ]
    assert not stray, (
        "per-row Python stages go through operators/extraction.map_documents; "
        f"hand-written batch loops found: {stray}"
    )


# MapInPandas stages per ANN plan (and the knobs that fit a 64 x 16 table):
# IVF assigns cells; PQ and IVF-PQ share one encoder and one ADC scan (flat
# PQ is IVF-PQ with one zero centroid).
ANN_STAGES = {
    "ivf_topk": (1, {"n_centroids": 4, "n_probe": 2}),
    "pq_topk": (2, {"m": 8, "ksub": 4}),
    "ivfpq_topk": (2, {"n_centroids": 4, "n_probe": 2, "m": 8, "ksub": 4}),
}


@pytest.mark.parametrize("name", sorted(ANN_STAGES))
def test_ann_plan_stage_count(spark, name):
    from pdf_extract_spark.operators import similarity

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(16)]) for i in range(64)],
        "vec_id long, embedding array<float>",
    )
    stages, knobs = ANN_STAGES[name]
    df = getattr(similarity, name)(emb, query_ids=[0, 1], k=3, **knobs)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == stages, plan
    assert df.count() == 6
