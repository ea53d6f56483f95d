"""Tests for dedup / similarity / text-analysis / multimodal operators."""

import math

from pyspark.sql import functions as F

from pdf_extract_spark.functions.text import document_stats
from pdf_extract_spark.operators.dedup import (
    dedup_exact,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)
from pdf_extract_spark.operators.multimodal import extract_media_features
from pdf_extract_spark.operators.similarity import brute_force_topk, lsh_topk


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup
        (4, "completely different content with other words here"),
        (5, "El rapido zorro marron salta sobre el perro y la que de"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_exact(spark):
    out = dedup_exact(_docs(spark)).collect()
    groups = {r["fp"]: r for r in out}
    assert len(groups) == 4  # 1&2 collapse
    dup = [r for r in out if r["n_dups"] == 2]
    assert len(dup) == 1 and dup[0]["canonical_doc_id"] == 1


def test_dedup_exact_normalizes_whitespace_and_case(spark):
    rows = [(1, "Hello  World"), (2, "hello world"), (3, "other")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup_exact(df).collect()
    assert len(out) == 2


def test_minhash_lsh_finds_near_dups(spark):
    pairs = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_candidates(_docs(spark)).collect()}
    assert (1, 2) in pairs  # identical docs always collide
    assert (1, 3) in pairs or (2, 3) in pairs  # near-dup likely shares a band
    assert (1, 4) not in pairs and (4, 5) not in pairs


def test_ngram_jaccard(spark):
    out = {
        (r["doc_a"], r["doc_b"]): r["jaccard_x1000"]
        for r in ngram_jaccard_pairs(_docs(spark), threshold_x1000=100).collect()
    }
    assert out[(1, 2)] == 1000  # identical
    assert 100 <= out[(1, 3)] < 1000  # near dup
    assert (1, 4) not in out


def test_simhash_distance_orders_similarity(spark):
    from pdf_extract_spark.operators.dedup import simhash

    out = {r["doc_id"]: r["simhash"] for r in simhash(_docs(spark)).collect()}

    def ham(a, b):
        return bin((a ^ b) & (2**64 - 1)).count("1")

    assert ham(out[1], out[2]) == 0  # identical docs
    assert ham(out[1], out[3]) < ham(out[1], out[4])  # near-dup closer


def test_simhash_near_pairs(spark):
    # banding (4x16-bit) guarantees recall only for <=3 differing bits:
    # exact dups always pair; far docs never do
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_pairs(_docs(spark), max_hamming=16).collect()
    }
    assert pairs[(1, 2)] == 0
    assert (1, 4) not in pairs and (1, 5) not in pairs


def test_simhash_null_or_tokenless_text_is_null(spark):
    from pdf_extract_spark.operators.dedup import simhash

    docs = spark.createDataFrame(
        [(1, None), (2, "None"), (3, ""), (4, "  ")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert out[2] is not None
    assert [out[d] for d in (1, 3, 4)] == [None, None, None]
    assert simhash_near_pairs(docs, max_hamming=64).count() == 0


def _emb(spark, n=40, dim=8):
    import random

    rnd = random.Random(42)
    rows = []
    for i in range(n):
        rows.append((i, [rnd.uniform(-1, 1) for _ in range(dim)]))
    # vec 100: exact copy of vec 0 -> must be rank-1 neighbor of 0
    rows.append((100, list(rows[0][1])))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk_exact_copy_is_rank1(spark):
    out = brute_force_topk(_emb(spark), query_ids=[0], k=3).collect()
    assert out[0]["rank"] == 1 and out[0]["nbr_id"] == 100
    assert len(out) == 3


def test_brute_force_matches_python_reference(spark):
    emb = _emb(spark)
    rows = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in emb.collect()}
    q = rows[0]

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

    expected = sorted(
        ((cos(q, v), k) for k, v in rows.items() if k != 0),
        key=lambda t: (-t[0], t[1]),
    )[:5]
    got = brute_force_topk(emb, query_ids=[0], k=5).orderBy("rank").collect()
    assert [r["nbr_id"] for r in got] == [k for _, k in expected]


def test_lsh_topk_subset_of_brute_force_universe(spark):
    emb = _emb(spark)
    got = lsh_topk(emb, query_ids=[0], k=3, n_planes=2).collect()
    # identical vector always lands in the same bucket -> present at rank 1
    assert got and got[0]["nbr_id"] == 100 and got[0]["rank"] == 1


def test_document_stats_shapes(spark):
    out = {r["doc_id"]: r for r in document_stats(_docs(spark)).collect()}
    assert out[1]["n_tokens"] == 9
    assert out[1]["lang_pred"] == "en"
    assert out[5]["lang_pred"] == "es"
    assert out[4]["lang_pred"] == "und" or out[4]["lang_pred"] in ("en",)
    assert out[1]["fingerprint"] == out[2]["fingerprint"]


def test_document_stats_lang_pred_is_langid(spark):
    """doc_stats and doc_langid share one language-ID algorithm: 'la' is in
    the French profile and 'in' in the English one."""
    from pdf_extract_spark.functions.langid import identify_language

    docs = spark.createDataFrame([(1, "la la in"), (2, "Der Hund und das")],
                                 "doc_id long, text string")
    stats = {r["doc_id"]: r["lang_pred"] for r in document_stats(docs).collect()}
    ids = {r["doc_id"]: r["lang_pred"] for r in identify_language(docs).collect()}
    assert stats == ids == {1: "fr", 2: "de"}


def test_media_features_deterministic(spark):
    rows = [("m1", "image", b"\x01\x02\x03"), ("m2", "image", b"\x01\x02\x03"), ("m3", "image", b"other")]
    media = spark.createDataFrame(rows, "media_id string, media_kind string, payload binary")
    out = {r["media_id"]: r for r in extract_media_features(media, num_partitions=2).collect()}
    assert out["m1"]["sha256"] == out["m2"]["sha256"]
    assert out["m1"]["width"] == out["m2"]["width"]
    assert out["m1"]["sha256"] != out["m3"]["sha256"]
    assert out["m1"]["byte_len"] == 3


def test_simhash_kernel_reference_value(spark):
    """The vectorized kernel must produce bit-identical simhashes to the
    definitional per-token loop (md5-top-8-bytes bit votes)."""
    import hashlib

    from pdf_extract_spark.operators.dedup import simhash

    text = "the quick brown fox the quick brown dog"
    out = {r["doc_id"]: r["simhash"] for r in simhash(
        spark.createDataFrame([("d1", text)], "doc_id string, text string")
    ).collect()}

    acc = [0] * 64
    for t in text.lower().split():
        h = int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big")
        for b in range(64):
            acc[b] += 1 if (h >> b) & 1 else -1
    expect = sum(1 << b for b in range(64) if acc[b] > 0)
    if expect >= 1 << 63:
        expect -= 1 << 64
    assert out["d1"] == expect


def test_ngram_jaccard_df_cap(spark):
    """A stop-shingle present in every doc must be excluded from the
    candidate join when its document frequency exceeds the cap."""
    rows = [(f"d{i}", "common shingle text unique%d tail%d here" % (i, i))
            for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    # cap below the stop-shingle's df: "common shingle text" df=6 > 3 ->
    # dropped; remaining shingles are unique -> no candidate pairs at all
    out = ngram_jaccard_pairs(docs, threshold_x1000=1, max_shingle_df=3)
    assert out.count() == 0
    # without the cap the stop-shingle creates candidates
    out2 = ngram_jaccard_pairs(docs, threshold_x1000=1, max_shingle_df=None)
    assert out2.count() > 0


def test_all_pairs_cosine_no_driver_collect(spark):
    """embedding_near_dup's kernel is distributed: matches a numpy
    reference exactly and its plan contains no driver-side materialization
    (pure DataFrame lineage -> FlatMapGroupsInPandas node)."""
    import numpy as np

    from pdf_extract_spark.operators.similarity import all_pairs_cosine

    rng = np.random.RandomState(7)
    mat = rng.randn(40, 8).astype(np.float64)
    rows = [(i, [float(x) for x in mat[i]]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["id_a"], r["id_b"]): r["cos_x1000"]
        for r in all_pairs_cosine(emb, min_cos=0.2, num_blocks=4).collect()
    }
    norms = np.sqrt((mat * mat).sum(axis=1))
    sims = (mat @ mat.T) / np.outer(norms, norms)
    expect = {}
    for i in range(40):
        for j in range(i + 1, 40):
            if sims[i, j] >= 0.2:
                expect[(i, j)] = int(np.floor(sims[i, j] * 1000))
    assert got == expect
    plan = all_pairs_cosine(emb, min_cos=0.2)._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan


def test_lsh_topk_recall_gate(spark):
    """ANN recall vs exact brute force on the sf0.001 embeddings: the
    SRP-bucketed path must keep recall >= 0.8 at its default settings
    (documents the LSH trade with a number, VERDICT r1 #7)."""
    from pdf_extract_spark.operators.similarity import brute_force_topk, lsh_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qids = list(range(20))
    exact = brute_force_topk(emb, qids, k=5)
    approx = lsh_topk(emb, qids, k=5, dim=64)
    e = {(r["query_id"], r["nbr_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["nbr_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    print(f"lsh_topk recall@5 over 20 queries: {recall:.3f}")
    assert recall >= 0.8, recall


def test_connected_components_and_dedup_clusters(spark):
    """Min-label propagation: two chains + a singleton; cluster_id is the
    component minimum, singletons are their own cluster."""
    from pdf_extract_spark.operators.graph import connected_components, dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (12, 11)],
        "doc_a long, doc_b long",
    )
    comp = {r["doc_id"]: r["cluster_id"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}

    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 12, 99]], "doc_id long")
    clusters = {
        r["cluster_id"]: (r["cluster_size"], r["canonical_doc_id"])
        for r in dedup_clusters(docs, pairs).collect()
    }
    assert clusters == {1: (4, 1), 10: (3, 10), 99: (1, 99)}


def test_connected_components_deep_chain_pointer_jump(spark):
    """A 120-vertex path has diameter 119: plain neighbor-min propagation
    cannot close it in 25 rounds, pointer jumping (default) must."""
    from pdf_extract_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(120)], "doc_a long, doc_b long"
    )
    comp = {r["doc_id"]: r["cluster_id"] for r in connected_components(pairs).collect()}
    assert set(comp.values()) == {0} and len(comp) == 121


def test_connected_components_warns_on_nonconvergence(spark):
    """Without pointer jumping a deep chain exhausts the round budget: the
    operator must warn instead of silently returning split components."""
    import pytest

    from pdf_extract_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "doc_a long, doc_b long"
    )
    with pytest.warns(RuntimeWarning, match="did not reach fixpoint"):
        out = connected_components(pairs, max_iterations=3, pointer_jump=False)
        labels = {r["cluster_id"] for r in out.collect()}
    assert len(labels) > 1  # honest: unconverged result is split


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir switches the loop to reliable checkpoint(): result
    unchanged and checkpoint blocks land in the directory (the artifact a
    lost-executor recovery would replay from)."""
    import os

    from pdf_extract_spark.operators.graph import connected_components

    ckpt = str(tmp_path / "cc_ckpt")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    comp = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(pairs, checkpoint_dir=ckpt).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    found = [f for _, _, fs in os.walk(ckpt) for f in fs]
    assert found, "reliable checkpoint wrote no blocks"
    # restore local-mode default for the rest of the session
    jsc = spark.sparkContext._jsc.sc()
    getattr(jsc, "checkpointDir_$eq")(spark.sparkContext._jvm.scala.Option.empty())
    assert spark.sparkContext.getCheckpointDir() is None


def _make_ppm(w, h):
    # horizontal gradient: pixel value = x * 255 // (w-1), all channels
    body = bytearray()
    for _y in range(h):
        for x in range(w):
            v = x * 255 // (w - 1)
            body += bytes([v, v, v])
    return b"P6\n# test\n%d %d\n255\n" % (w, h) + bytes(body)


def _make_bmp(w, h, value=128):
    import struct

    stride = (w * 3 + 3) & ~3
    img = bytearray()
    for _y in range(h):
        row = bytearray()
        for _x in range(w):
            row += bytes([value, value, value])
        row += b"\x00" * (stride - len(row))
        img += row
    data_off = 14 + 40
    size = data_off + len(img)
    hdr = b"BM" + struct.pack("<IHHI", size, 0, 0, data_off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(img), 2835, 2835, 0, 0)
    return hdr + info + bytes(img)


def _make_wav(rate=8000, seconds=0.1, amp=0.5):
    import io
    import math
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        n = int(rate * seconds)
        frames = b"".join(
            struct.pack("<h", int(amp * 32767 * math.sin(2 * math.pi * 440 * i / rate)))
            for i in range(n)
        )
        wf.writeframes(frames)
    return buf.getvalue()


def test_real_image_decoders():
    from pdf_extract_spark.operators.multimodal import decode_image_real

    w, h, feat = decode_image_real(_make_ppm(16, 8))
    assert (w, h) == (16, 8)
    assert len(feat) == 16
    # horizontal gradient: each thumbnail row increases left->right
    for r in range(4):
        row = feat[r * 4 : r * 4 + 4]
        assert row == sorted(row) and row[0] < row[3]
    w, h, feat = decode_image_real(_make_bmp(10, 6, value=128))
    assert (w, h) == (10, 6)
    assert all(abs(v - 128 / 255) < 1e-9 for v in feat)
    import pytest as _pytest

    # PNG now decodes for real: a truncated payload is a decode FAILURE
    # (ValueError), not an unimplemented format
    with _pytest.raises(ValueError):
        decode_image_real(b"\x89PNG\r\n\x1a\nxxxx")
    # lossless WebP decodes for real now; lossy VP8 stays unimplemented
    with _pytest.raises(NotImplementedError):
        decode_image_real(
            b"RIFF\x28\x00\x00\x00WEBPVP8 \x1c\x00\x00\x00"
            b"fake-vp8-frame-payload-0003\x00"
        )
    # a WebP container cut off before any image chunk is a decode FAILURE
    with _pytest.raises(ValueError):
        decode_image_real(b"RIFF\x00\x00\x00\x00WEBPVP8 ")


def test_real_audio_decoder():
    from pdf_extract_spark.operators.multimodal import decode_audio_real

    rate, nch, feat, decoder = decode_audio_real(_make_wav(amp=0.5))
    assert rate == 8000 and nch == 1 and decoder == "wav"
    assert len(feat) == 16
    # RMS of a 0.5-amp sine is ~0.3536
    assert all(abs(v - 0.3536) < 0.02 for v in feat)


def test_media_features_mixed_decoders(spark):
    """Real formats decode for real; unsupported formats fall back to the
    deterministic stub — per-row, inside one Arrow batch."""
    from pdf_extract_spark.sources.media_corpus import make_png, png_pixel

    rows = [
        ("ppm1", "image", _make_ppm(8, 8)),
        ("bmp1", "image", _make_bmp(5, 5)),
        ("wav1", "audio", _make_wav()),
        ("jpg1", "image", b"\xff\xd8\xff\xe0 fake jpeg"),
        ("png1", "image", make_png(9, 6, color_type=2)),
        ("pngx", "image", b"\x89PNG\r\n\x1a\ngarbage-after-signature"),
    ]
    media = spark.createDataFrame(rows, "media_id string, media_kind string, payload binary")
    out = {r["media_id"]: r for r in extract_media_features(media, num_partitions=2).collect()}
    assert out["ppm1"]["decoder"] == "ppm" and out["ppm1"]["width"] == 8
    assert out["bmp1"]["decoder"] == "bmp" and out["bmp1"]["height"] == 5
    assert out["wav1"]["decoder"] == "wav" and out["wav1"]["width"] == 8000
    assert out["jpg1"]["decoder"] == "stub"
    # real PNG decode: 6 rows cover all 5 scanline filter types (y % 5);
    # features equal the closed-form pixel spec, never the stub
    assert out["png1"]["decoder"] == "png"
    assert (out["png1"]["width"], out["png1"]["height"]) == (9, 6)
    xs = [min(i * 9 // 4, 8) for i in range(4)]
    ys = [min(i * 6 // 4, 5) for i in range(4)]
    expect = [png_pixel(x, y) / 255.0 for y in ys for x in xs]
    got = out["png1"]["feature"]
    assert all(abs(a - b) < 1e-6 for a, b in zip(got, expect))
    # valid signature + garbage chunks -> decode failure -> tagged stub
    assert out["pngx"]["decoder"] == "stub"


def test_asof_join_tiebreak_deterministic(spark):
    """Multiple right rows sharing (key, ts): without a tiebreak the
    winner is shuffle-order luck (the sf0.1 oracle caught Spark and
    DuckDB disagreeing); with tiebreak the max-tiebreak row always wins,
    independent of input partitioning."""
    from pdf_extract_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 100, 10)], "event_id long, user_id long, ts long"
    )
    right = spark.createDataFrame(
        [(100, 5, 11, 50.0), (100, 5, 22, 99.0), (100, 5, 17, 70.0)],
        "user_id long, o_ts long, okey long, price double",
    )
    for nparts in (1, 3):
        got = asof_join(
            left, right.repartition(nparts), on="user_id", left_ts="ts",
            right_ts="o_ts", right_cols=["okey", "price"], tiebreak="okey",
        ).collect()
        assert len(got) == 1
        assert got[0]["okey"] == 22 and got[0]["price"] == 99.0


def test_media_features_real_jpeg(spark):
    """Baseline JPEG decodes for real in the Spark pipeline; features equal
    the closed-form grid expectation (DC-only blocks: pixel = F00/8+128)."""
    from pdf_extract_spark.sources.media_corpus import make_jpeg

    grid = [[0, 64, 128, 255], [255, 128, 64, 0]]
    rows = [("j1", "image", make_jpeg(grid)),
            ("j420", "image", make_jpeg([[10, 20], [30, 40]], subsample420=True))]
    media = spark.createDataFrame(rows, "media_id string, media_kind string, payload binary")
    out = {r["media_id"]: r for r in extract_media_features(media, num_partitions=2).collect()}
    assert out["j1"]["decoder"] == "jpeg"
    assert (out["j1"]["width"], out["j1"]["height"]) == (32, 16)
    xs = [min(i * 32 // 4, 31) for i in range(4)]
    ys = [min(i * 16 // 4, 15) for i in range(4)]
    expect = [grid[y // 8][x // 8] / 255.0 for y in ys for x in xs]
    assert all(abs(a - b) < 1e-6 for a, b in zip(out["j1"]["feature"], expect))
    assert out["j420"]["decoder"] == "jpeg" and out["j420"]["width"] == 16


def test_ivf_topk_recall_gate(spark):
    """IVF coarse-quantizer ANN vs exact brute force: recall@5 >= 0.8 at
    n_probe=4 of 16 cells (a 4x scan reduction even on this weakly
    clustered synthetic table)."""
    from pdf_extract_spark.operators.similarity import brute_force_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qids = list(range(20))
    exact = brute_force_topk(emb, qids, k=5)
    approx = ivf_topk(emb, qids, k=5, n_centroids=16, n_probe=4)
    e = {(r["query_id"], r["nbr_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["nbr_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    print(f"ivf_topk recall@5 n_probe=4/16: {recall:.3f}")
    assert recall >= 0.8, recall


def test_gopher_quality_flags(spark):
    """Rule-by-rule spot checks on crafted docs."""
    from pdf_extract_spark.functions.text import gopher_quality_flags

    good = ("the quick brown fox likes to jump over lazy dogs and it does that "
            "with great patience because they have nothing better to do today "
            "while the sun shines over the quiet meadow near town")
    docs = spark.createDataFrame(
        [
            (1, good),                                    # passes all rules
            (2, "short text"),                            # word count
            (3, ("## ## %% @@ " * 10) + good),            # symbol ratio
            (4, " ".join(["zz"] * 60)),                   # stopwords + mean len
            (5, " ".join(["12345"] * 30) + " the of"),    # alpha ratio
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in gopher_quality_flags(docs).collect()}
    assert rows[1]["keep"] is True
    assert rows[2]["keep"] is False and rows[2]["rule_word_count"] is False
    assert rows[3]["keep"] is False and rows[3]["rule_symbol_ratio"] is False
    assert rows[4]["keep"] is False and rows[4]["rule_stopwords"] is False
    assert rows[5]["keep"] is False and rows[5]["rule_alpha_ratio"] is False


def test_repetition_signals(spark):
    """Hand-computable repetition fractions on crafted docs."""
    from pdf_extract_spark.functions.text import repetition_signals

    docs = spark.createDataFrame(
        [
            (1, "a b a b a b a b"),        # one bigram dominates
            (2, "one two three four five six seven"),  # all grams unique
            (3, "x"),                       # too short for any gram
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_signals(docs).collect()}
    # doc 1: bigrams = [ab, ba, ab, ba, ab, ba, ab] -> top 'a b' = 4 of 7
    assert rows[1]["n_bigrams"] == 7 and rows[1]["top_bigram_cnt"] == 4
    # trigrams: [aba x3, bab x3] -> all 6 occurrences are duplicates
    assert rows[1]["dup_trigram_cnt"] == 6 and rows[1]["keep"] is False
    assert rows[2]["top_bigram_cnt"] == 1 and rows[2]["dup_trigram_cnt"] == 0
    assert rows[2]["keep"] is True
    # short doc: zero grams, vacuously keeps
    assert rows[3]["n_bigrams"] == 0 and rows[3]["keep"] is True


def test_span_dedup_stats(spark):
    """Duplicated 13-gram across docs: exactly one keeper survives."""
    from pdf_extract_spark.functions.text import span_dedup_stats

    boiler = " ".join(f"w{i}" for i in range(13))  # exactly one 13-gram
    docs = spark.createDataFrame(
        [
            (1, boiler + " extra tail words here"),
            (2, boiler),                       # same span again -> dup
            (3, "totally different words " + " ".join(f"u{i}" for i in range(13))),
            (4, "too short"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in span_dedup_stats(docs).collect()}
    # doc 1 owns the keeper occurrence (min doc_id, pos 0)
    assert rows[1]["n_spans"] == 5 and rows[1]["n_dup_spans"] == 0
    assert rows[2]["n_spans"] == 1 and rows[2]["n_dup_spans"] == 1
    assert rows[2]["is_clean"] is False
    assert rows[3]["is_clean"] is True
    assert rows[4]["n_spans"] == 0 and rows[4]["is_clean"] is True


def test_decontaminate(spark):
    """A training doc sharing an 8-gram with an eval-bucket doc is flagged."""
    from pdf_extract_spark.functions.text import decontaminate, hash_bucket

    # find one id in the eval bucket (<3) and two outside it
    ids = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    bk = {
        r["doc_id"]: r["bk"]
        for r in ids.select("doc_id", hash_bucket(F.col("doc_id")).alias("bk")).collect()
    }
    ev = next(i for i in sorted(bk) if bk[i] < 3)
    tr1, tr2 = [i for i in sorted(bk) if bk[i] >= 3][:2]
    shared = " ".join(f"s{i}" for i in range(8))
    docs = spark.createDataFrame(
        [
            (ev, shared + " eval only tail"),
            (tr1, "prefix words " + shared),       # contaminated
            (tr2, " ".join(f"c{i}" for i in range(12))),  # clean
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in decontaminate(docs).collect()}
    assert ev not in rows  # eval docs are not scored
    assert rows[tr1]["contaminated"] is True and rows[tr1]["n_hits"] == 1
    assert rows[tr2]["contaminated"] is False and rows[tr2]["n_hits"] == 0

    # external-benchmark form: passing the eval slice as its own frame must
    # yield verdicts identical to the equivalent internal md5 slice, and
    # score EVERY doc in the training frame
    train_docs = docs.filter(F.col("doc_id") != ev)
    eval_frame = docs.filter(F.col("doc_id") == ev).select("text")
    ext = {
        r["doc_id"]: r
        for r in decontaminate(train_docs, eval_docs=eval_frame).collect()
    }
    assert set(ext) == {tr1, tr2}
    for i in (tr1, tr2):
        assert (
            ext[i]["contaminated"] == rows[i]["contaminated"]
            and ext[i]["n_hits"] == rows[i]["n_hits"]
            and ext[i]["n_grams"] == rows[i]["n_grams"]
        )


def test_span_dedup_apply_rewrites_text(spark):
    """Non-keeper duplicate spans are cut from the text; the keeper and
    clean docs are untouched (modulo normalization)."""
    from pdf_extract_spark.functions.text import span_dedup_apply

    boiler = " ".join(f"w{i}" for i in range(13))
    docs = spark.createDataFrame(
        [
            (1, boiler + " tail one"),
            (2, "Head words " + boiler),   # dup: its 13-gram span is cut
            (3, "short doc"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in span_dedup_apply(docs).collect()}
    assert rows[1]["clean_text"] == boiler + " tail one"
    assert rows[1]["n_tokens_removed"] == 0
    assert rows[2]["clean_text"] == "head words"     # normalized remainder
    assert rows[2]["n_tokens_removed"] == 13
    assert rows[3]["clean_text"] == "short doc" and rows[3]["n_tokens_removed"] == 0


def test_span_dedup_stats_apply_consistency(spark):
    """Randomized (seeded) corpora from a tiny vocabulary: the stats and
    apply operators must agree — a doc loses tokens iff it has non-keeper
    duplicate spans, and clean docs pass through unchanged (modulo
    lowercase/space normalization)."""
    import random

    from pdf_extract_spark.functions.text import span_dedup_apply, span_dedup_stats

    rng = random.Random(42)
    vocab = [f"tok{i}" for i in range(12)]
    for case in range(4):
        docs = []
        for d in range(12):
            n = rng.randint(3, 40)
            docs.append((d, " ".join(rng.choice(vocab) for _ in range(n))))
        # inject guaranteed cross-doc duplication: doc 12 repeats doc 0
        docs.append((12, docs[0][1]))
        df = spark.createDataFrame(docs, "doc_id long, text string")
        stats = {r["doc_id"]: r for r in span_dedup_stats(df).collect()}
        applied = {r["doc_id"]: r for r in span_dedup_apply(df).collect()}
        norm = {d: " ".join(t.lower().split()) for d, t in docs}
        for d, _t in docs:
            has_dups = stats[d]["n_dup_spans"] > 0
            removed = applied[d]["n_tokens_removed"] > 0
            assert has_dups == removed, (case, d)
            if not has_dups:
                assert applied[d]["clean_text"] == norm[d], (case, d)
        if len(norm[0].split()) >= 13:
            # the copy (higher doc_id) loses its spans, the keeper doesn't
            assert applied[0]["clean_text"] == norm[0]
            assert applied[12]["n_tokens_removed"] > 0


def test_corpus_ops_match_pure_python_reference(spark):
    """Seeded random corpora vs from-scratch pure-Python reference
    implementations (Counter/set/dict based — no Spark, no SQL): catches
    HOF/groupBy/join mistakes the crafted-doc tests are too small to hit."""
    import random
    from collections import Counter

    from pdf_extract_spark.functions.text import (
        decontaminate,
        hash_bucket,
        repetition_signals,
        span_dedup_stats,
    )

    rng = random.Random(99)
    vocab = [f"w{i}" for i in range(9)]
    rows = []
    for d in range(40):
        n = rng.randint(0, 50)
        rows.append((d, " ".join(rng.choice(vocab) for _ in range(n))))
    rows.append((40, rows[3][1]))     # exact copy
    rows.append((41, ""))             # empty text
    df = spark.createDataFrame(rows, "doc_id long, text string")
    toks = {d: t.lower().split() for d, t in rows}

    def grams(ts, n):
        return [" ".join(ts[i:i + n]) for i in range(len(ts) - n + 1)]

    # --- repetition_signals vs Counter reference
    got = {r["doc_id"]: r for r in repetition_signals(df).collect()}
    for d, ts in toks.items():
        bg, tg = Counter(grams(ts, 2)), Counter(grams(ts, 3))
        assert got[d]["n_bigrams"] == sum(bg.values()), d
        assert got[d]["top_bigram_cnt"] == (max(bg.values()) if bg else 0), d
        assert got[d]["dup_trigram_cnt"] == sum(c for c in tg.values() if c > 1), d

    # --- span_dedup_stats vs dict reference (keeper = min (doc, pos))
    occ: dict[str, list] = {}
    for d in sorted(toks):
        for p, g in enumerate(grams(toks[d], 13)):
            occ.setdefault(g, []).append((d, p))
    exp_dups = Counter()
    for g, places in occ.items():
        if len(places) > 1:
            for place in sorted(places)[1:]:
                exp_dups[place[0]] += 1
    got = {r["doc_id"]: r for r in span_dedup_stats(df).collect()}
    for d, ts in toks.items():
        assert got[d]["n_spans"] == len(grams(ts, 13)), d
        assert got[d]["n_dup_spans"] == exp_dups[d], d

    # --- decontaminate vs set reference (same md5 bucketing)
    bk = {
        r["doc_id"]: r["bk"]
        for r in df.select("doc_id", hash_bucket(F.col("doc_id")).alias("bk")).collect()
    }
    eval_grams = set()
    for d, ts in toks.items():
        if bk[d] < 3:
            eval_grams |= set(grams(ts, 8))
    got = {r["doc_id"]: r for r in decontaminate(df).collect()}
    for d, ts in toks.items():
        if bk[d] < 3:
            assert d not in got
            continue
        gs = set(grams(ts, 8))
        assert got[d]["n_grams"] == len(gs), d
        assert got[d]["n_hits"] == len(gs & eval_grams), d


def test_pii_redact(spark):
    """Emails, IPv4s, and both phone forms are replaced with typed tokens
    and counted; clean docs pass through byte-identical."""
    from pdf_extract_spark.functions.text import pii_redact

    docs = spark.createDataFrame(
        [
            (1, "reach me at jo.doe+spam@sub.example.org today"),
            (2, "server 192.168.1.254 then 10.0.0.1 up"),
            (3, "call 555-123-4567 or +1 800 555 0199 now"),
            (4, "no pii here at all"),
            (5, "mixed a@b.co 1.2.3.4 555-000-1111"),
            (6, "call +1 800 555 01999 now"),   # 5-digit tail: NOT a phone
            (7, "mail admin@192.168.1.1.example.com x"),  # IP inside email host
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in pii_redact(docs).collect()}
    assert rows[1]["redacted"] == "reach me at <EMAIL> today"
    assert rows[1]["n_emails"] == 1 and rows[1]["has_pii"] is True
    assert rows[2]["redacted"] == "server <IP> then <IP> up"
    assert rows[2]["n_ips"] == 2
    assert rows[3]["redacted"] == "call <PHONE> or <PHONE> now"
    assert rows[3]["n_phones"] == 2
    assert rows[4]["redacted"] == "no pii here at all"
    assert rows[4]["has_pii"] is False
    assert rows[5]["redacted"] == "mixed <EMAIL> <IP> <PHONE>"
    # no partial-prefix redaction: a 5-digit tail breaks the word boundary,
    # so the text passes through UNREDACTED and counted as 0 (never
    # '<PHONE>9' — a half-redacted number is worse than none)
    assert rows[6]["redacted"] == "call +1 800 555 01999 now"
    assert rows[6]["n_phones"] == 0
    # an IPv4 inside an email host is redacted AND counted as the email
    # only: counts must equal placeholder tokens inserted
    assert rows[7]["redacted"] == "mail <EMAIL> x"
    assert rows[7]["n_emails"] == 1 and rows[7]["n_ips"] == 0


def test_canonical_url(spark):
    """Scheme/host lowering, default-port strip (scheme-aware), fragment
    drop, tracking-param drop, query sort, empty-path normalization."""
    from pdf_extract_spark.functions.urls import canonical_url

    cases = [
        ("HTTP://WWW.Example.COM:80/Path/X?b=2&utm_source=f&a=1#frag",
         "http://www.example.com/Path/X?a=1&b=2"),
        ("https://Host.org:443", "https://host.org/"),
        ("https://host.org:8443/x", "https://host.org:8443/x"),  # non-default kept
        ("http://h.io/?gclid=abc&fbclid=z", "http://h.io/"),
        ("http://h.io/p?z=9", "http://h.io/p?z=9"),
        ("ftp://Mixed.Case/file", "ftp://mixed.case/file"),  # unknown scheme: port rules off
        # a '?' inside the fragment is NOT a query
        ("http://h.io/p#a?b=1", "http://h.io/p"),
        # schemeless/relative/junk URLs keep their verbatim form (never
        # collapse onto a shared ':///' key)
        ("example.com/a", "example.com/a"),
        ("/relative/path", "/relative/path"),
        ("not a url at all", "not a url at all"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r["c"] for r in df.select(canonical_url(F.col("url")).alias("c")).collect()]
    for (u, want), g in zip(cases, got):
        assert g == want, (u, g, want)


def test_url_dedup_groups(spark):
    """Docs whose URLs differ only by case/port/tracking/fragment share a
    canonical key; keeper = min doc_id; group sizes reported."""
    from pdf_extract_spark.functions.urls import url_dedup

    docs = spark.createDataFrame(
        [
            (1, "http://a.com/x?id=1&utm_source=f"),
            (2, "HTTP://A.COM:80/x?id=1#top"),
            (3, "http://a.com/x?id=2"),
        ],
        "doc_id long, url string",
    )
    rows = {r["doc_id"]: r for r in url_dedup(docs).collect()}
    assert rows[1]["canonical_url"] == rows[2]["canonical_url"]
    assert rows[1]["is_canonical"] is True and rows[2]["is_canonical"] is False
    assert rows[1]["n_dups"] == 2 and rows[3]["n_dups"] == 1
    assert rows[3]["is_canonical"] is True


def test_wav_8bit_pcm_decodes():
    """The 8-bit unsigned PCM branch of decode_audio_real: bytes centered
    at 128, normalized by 128 — amplitude 64 either side gives RMS 0.5
    exactly in every window."""
    import io
    import wave

    from pdf_extract_spark.operators.multimodal import decode_audio_real

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(1)
        wf.setframerate(8000)
        wf.writeframes(bytes([192] * 64 + [64] * 64))
    rate, nch, feat, dec = decode_audio_real(buf.getvalue())
    assert (rate, nch, dec) == (8000, 1, "wav")
    assert len(feat) == 16
    assert all(abs(f - 0.5) < 1e-12 for f in feat), feat


def test_approx_count_distinct_within_tolerance(spark):
    """The HLL++ sketch path (approx_count_distinct) must land within its
    configured relative error of the exact distinct count — the sketch a
    100 TB profiling pass uses where exact distinct would shuffle the
    universe."""
    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    exact = ev.select(F.countDistinct("user_id")).collect()[0][0]
    approx = ev.select(
        F.approx_count_distinct("user_id", rsd=0.02)
    ).collect()[0][0]
    assert abs(approx - exact) <= max(3, 0.05 * exact), (approx, exact)


# ---------------------------------------------------------------------------
# Ranked retrieval (BM25 / inverted index)
# ---------------------------------------------------------------------------


def test_bm25_matches_hand_computation(spark):
    """Score a 3-doc corpus by hand with the same non-negative-idf BM25
    and check both values and ranking."""
    from pdf_extract_spark.operators.retrieval import bm25_topk

    rows = [
        (1, "spark spark join"),
        (2, "spark window"),
        (3, "window window window merge"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r.score
        for r in bm25_topk(docs, ["spark", "merge"], k=3).collect()
    }

    def idf(dfreq, n=3):
        return math.log(1 + (n - dfreq + 0.5) / (dfreq + 0.5))

    def tf_part(tf, dl, avgdl=3.0, k1=1.2, b=0.75):
        return tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    exp = {
        1: round(idf(2) * tf_part(2, 3), 4),
        2: round(idf(2) * tf_part(1, 2), 4),
        3: round(idf(1) * tf_part(1, 4), 4),
    }
    assert out == exp
    # doc 3's single rare 'merge' outranks doc 2's single common 'spark'
    ranked = sorted(exp, key=lambda d: (-exp[d], d))
    assert [r for r in ranked] == sorted(out, key=lambda d: (-out[d], d))


def test_bm25_no_match_is_empty_and_k_bounds(spark):
    from pdf_extract_spark.operators.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], "doc_id long, text string"
    )
    assert bm25_topk(docs, ["zzz"], k=5).count() == 0
    assert bm25_topk(docs, ["alpha"], k=1).count() == 1


def test_inverted_index_stats(spark):
    from pdf_extract_spark.operators.retrieval import inverted_index_stats

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a c"), (3, "b b b")], "doc_id long, text string"
    )
    out = {
        r.term: (r.doc_freq, r.coll_freq, r.max_tf)
        for r in inverted_index_stats(docs).collect()
    }
    assert out == {"a": (2, 3, 2), "b": (2, 4, 3), "c": (1, 1, 1)}
    filtered = {r.term for r in inverted_index_stats(docs, min_df=2).collect()}
    assert filtered == {"a", "b"}


def test_bm25_plan_is_jvm_only_with_broadcast_stats(spark):
    """The retrieval plan must stay in codegen (no Python UDF) and join
    the tiny df/corpus-stats frames broadcast."""
    from pdf_extract_spark.operators.retrieval import bm25_topk

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        bm25_topk(docs, ["spark", "window"], k=10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# Corpus mixing / chunking / linearization
# ---------------------------------------------------------------------------


def test_temperature_mix_rates_and_determinism(spark):
    """T=0.5 up-weights the minority source: its keep RATE must exceed
    the majority's, thresholds must follow the exact integer formula,
    and the retained set must be identical on re-run (hash-determined,
    no RNG)."""
    from pdf_extract_spark.functions.text import temperature_mix

    rows = [(i, "maj" if i < 400 else "min", "x") for i in range(500)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = temperature_mix(docs, budget=100, temperature=0.5)
    got = {r.doc_id for r in out.collect()}
    assert got == {r.doc_id for r in out.collect()}  # deterministic

    import math

    w = {"maj": int(math.sqrt(400) * 1000), "min": int(math.sqrt(100) * 1000)}
    sumw = w["maj"] + w["min"]
    rate = {
        s: min(1_000_000, (100 * w[s] * 1_000_000) // (n * sumw))
        for s, n in (("maj", 400), ("min", 100))
    }
    # sqrt weighting: minority keep-rate strictly higher
    assert rate["min"] > rate["maj"]
    import hashlib

    def ppm(doc_id):
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % 1_000_000

    exp = {
        i for i in range(500)
        if ppm(i) < rate["maj" if i < 400 else "min"]
    }
    assert got == exp


def test_temperature_mix_budget_caps_at_full_corpus(spark):
    from pdf_extract_spark.functions.text import temperature_mix

    docs = spark.createDataFrame(
        [(i, "s", "x") for i in range(20)], "doc_id long, source string, text string"
    )
    # budget >= corpus: rate clamps to 1e6 ppm -> everything kept
    assert temperature_mix(docs, budget=1000).count() == 20


def test_chunk_sliding_layout(spark):
    """Hand-checked chunk layout: 10 tokens, window 4, stride 3 ->
    starts 0,3,6 (the last window already covers the final token, so no
    redundant tail chunk); 11 tokens -> an extra short tail at 9."""
    from pdf_extract_spark.functions.text import chunk_sliding

    text = " ".join(f"t{i}" for i in range(10))
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = sorted(
        (r.chunk_id, r.n_tokens, r.chunk_text)
        for r in chunk_sliding(docs, window=4, stride=3).collect()
    )
    assert out == [
        (0, 4, "t0 t1 t2 t3"),
        (1, 4, "t3 t4 t5 t6"),
        (2, 4, "t6 t7 t8 t9"),
    ]
    text11 = " ".join(f"t{i}" for i in range(11))
    docs11 = spark.createDataFrame([(3, text11)], "doc_id long, text string")
    out11 = sorted(
        (r.chunk_id, r.n_tokens, r.chunk_text)
        for r in chunk_sliding(docs11, window=4, stride=3).collect()
    )
    assert out11 == [
        (0, 4, "t0 t1 t2 t3"),
        (1, 4, "t3 t4 t5 t6"),
        (2, 4, "t6 t7 t8 t9"),
        (3, 2, "t9 t10"),
    ]
    # short doc: exactly one (possibly short) chunk
    short = spark.createDataFrame([(2, "a b")], "doc_id long, text string")
    rows = chunk_sliding(short, window=4, stride=3).collect()
    assert len(rows) == 1 and rows[0].chunk_text == "a b"


def test_chunk_sliding_no_shuffle(spark):
    from pdf_extract_spark.functions.text import chunk_sliding

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        chunk_sliding(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan[:1200]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_linearize_spans_order_and_sentinels(spark):
    """Spans arrive UNORDERED; linearization must emit offset order with
    sentinel/media tokens substituted."""
    from pdf_extract_spark.operators.linearize import linearize_spans

    rows = [
        ("pdf", 1, 2, "text", "world", ""),
        ("pdf", 1, 0, "para", "", ""),
        ("pdf", 1, 1, "text", "hello", ""),
        ("pdf", 1, 3, "media", "", "img#7"),
        ("pdf", 2, 0, "heading", "Title", ""),
    ]
    spans = spark.createDataFrame(
        rows, "source_format string, doc_id long, pos long, kind string, "
              "text string, media_ref string"
    )
    out = {r.doc_id: r for r in linearize_spans(spans).collect()}
    assert out[1].train_text == "<p> hello world <media:img#7>"
    assert (out[1].n_spans, out[1].n_media) == (4, 1)
    assert out[2].train_text == "<h>" and out[2].n_media == 0


def test_hll_distinct_accuracy_both_branches(spark):
    """Portable HLL: small key (linear counting branch) and large key
    (raw-estimate branch, all-but-few registers hit) must both land
    within ~3 sigma of the exact count (p=8 -> sigma ~ 6.5%)."""
    from pdf_extract_spark.operators.sketch import hll_distinct

    rows = [("small", i) for i in range(80)] + [
        ("large", 1000 + i) for i in range(5000)
    ]
    df = spark.createDataFrame(rows, "grp string, user_id long")
    out = {r.grp: r.approx_distinct for r in
           hll_distinct(df, ["grp"], "user_id").collect()}
    assert abs(out["small"] - 80) <= 0.2 * 80 + 3
    assert abs(out["large"] - 5000) <= 0.2 * 5000
    # dup rows must not change the sketch
    out2 = {r.grp: r.approx_distinct for r in
            hll_distinct(df.union(df), ["grp"], "user_id").collect()}
    assert out == out2


def test_hll_register_sum_matches_python_reference(spark):
    """Exactness gate: the register table and integer register sum must
    equal an independent Python md5 reimplementation bit-for-bit."""
    import hashlib

    from pdf_extract_spark.operators.sketch import _K, _WBITS, hll_distinct

    vals = list(range(300))
    df = spark.createDataFrame([("g", v) for v in vals],
                               "grp string, user_id long")
    regs = {}
    for v in vals:
        h = hashlib.md5(str(v).encode()).hexdigest()
        j = int(h[:2], 16)
        w = int(h[2:2 + _WBITS // 4], 16)
        rho = (_WBITS + 1) if w == 0 else (_WBITS + 1 - w.bit_length())
        regs[j] = max(regs.get(j, 0), rho)
    s_present = sum(1 << (_K - r) for r in regs.values())
    got = hll_distinct(df, ["grp"], "user_id")
    m = 256
    v_empty = m - len(regs)
    s = s_present + v_empty * (1 << _K)
    alpha = 0.7213 / (1.0 + 1.079 / m)
    e_raw = (alpha * m * m) * float(1 << _K) / float(s)
    import math

    if e_raw <= 2.5 * m and v_empty > 0:
        exp = round(m * math.log(m / v_empty))
    else:
        exp = round(e_raw)
    assert got.collect()[0].approx_distinct == exp


def test_bloom_decontaminate_agrees_with_exact_on_true_hits(spark):
    """Bloom verdicts must include every EXACT hit (no false negatives);
    with a roomy bitmap the synthetic corpus should produce no false
    positives either, so verdicts match the exact operator."""
    from pdf_extract_spark.functions.text import decontaminate, decontaminate_bloom

    rows = []
    for i in range(40):
        rows.append((i, " ".join(f"w{i}_{j}" for j in range(12))))
    # two docs sharing an 8-gram with doc 0 (doc 0 may land in the eval slice)
    rows.append((100, " ".join(f"w0_{j}" for j in range(12))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {r.doc_id: r.contaminated
             for r in decontaminate(docs, eval_pct=20).collect()}
    bloom = {r.doc_id: r.contaminated
             for r in decontaminate_bloom(docs, eval_pct=20,
                                          mbits=1 << 14).collect()}
    assert set(bloom) == set(exact)
    for d, c in exact.items():
        if c:
            assert bloom[d], f"false negative for doc {d}"
    assert bloom == exact  # no FPs at this load factor


def test_bloom_membership_matches_python_reference(spark):
    """The bitmap build + k-position probe must equal an independent
    Python md5/Kirsch-Mitzenmacher reimplementation on crafted grams."""
    import hashlib

    from pdf_extract_spark.functions.text import decontaminate_bloom

    mbits, k, n = 1 << 10, 4, 2
    text_eval = "alpha beta gamma"          # grams: 'alpha beta','beta gamma'
    text_hit = "alpha beta something"       # shares 'alpha beta'
    text_miss = "delta epsilon zeta"
    # md5 buckets: doc 1 -> 60, doc 2 -> 5, doc 3 -> 10; eval_pct=8
    # puts exactly doc 2 (the eval text) in the eval slice
    docs = spark.createDataFrame(
        [(2, text_eval), (1, text_hit), (3, text_miss)],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.n_hits, r.contaminated)
           for r in decontaminate_bloom(docs, n=n, eval_pct=8,
                                        mbits=mbits, k=k).collect()}

    def positions(gram):
        h = hashlib.md5(gram.encode()).hexdigest()
        h1, h2 = int(h[:8], 16), int(h[8:16], 16)
        return [(h1 + i * h2) % mbits for i in range(k)]

    bits = set()
    for g in ["alpha beta", "beta gamma"]:
        bits.update(positions(g))
    expect = {}
    for doc_id, text in ((1, text_hit), (3, text_miss)):
        toks = text.split()
        grams = [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
        nh = sum(1 for g in set(grams) if all(p in bits for p in positions(g)))
        expect[doc_id] = (nh, nh > 0)
    assert out == expect
    assert out[1][1] and not out[3][1]


def test_temperature_mix_null_key_rows_dropped(spark):
    """A NULL stratum key must not crash the driver; NULL-key rows form
    no stratum and are dropped (matching the oracle's inner join)."""
    from pdf_extract_spark.functions.text import temperature_mix

    rows = [(1, "a", "x"), (2, None, "x"), (3, "a", "x")]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r.doc_id for r in temperature_mix(docs, budget=10).collect()}
    assert 2 not in got and got <= {1, 3}


def test_bm25_query_terms_case_insensitive(spark):
    from pdf_extract_spark.operators.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [(1, "Spark is fast"), (2, "other words")], "doc_id long, text string"
    )
    assert bm25_topk(docs, ["SPARK"], k=5).count() == 1


def test_count_min_never_underestimates_and_is_exact_when_sparse(spark):
    """CM guarantees est >= true; with w >> distinct values collisions
    are absent and estimates are exact, including 0 for absent probes."""
    from pdf_extract_spark.operators.sketch import count_min_freq

    rows = [("a",)] * 7 + [("b",)] * 3 + [("c",)] * 1
    df = spark.createDataFrame(rows, "v string")
    out = {r.probe: r.est_count for r in
           count_min_freq(df, "v", ["a", "b", "c", "zz"], w=1 << 12).collect()}
    assert out == {"a": 7, "b": 3, "c": 1, "zz": 0}
    # tiny width forces collisions: still never under the true count
    tight = {r.probe: r.est_count for r in
             count_min_freq(df, "v", ["a", "b", "c", "zz"], w=2).collect()}
    assert tight["a"] >= 7 and tight["b"] >= 3 and tight["c"] >= 1


def test_chunk_sliding_property_random_layouts(spark):
    """Randomized window/stride/doc-length sweep vs a Python reference:
    chunk starts, lengths, and contents must match exactly, every token
    covered, no empty chunks."""
    import random

    rnd = random.Random(1234)
    from pdf_extract_spark.functions.text import chunk_sliding

    cases = []
    for case in range(20):
        n_tok = rnd.randint(1, 60)
        cases.append((case, " ".join(f"c{case}t{j}" for j in range(n_tok))))
    for window, stride in [(4, 3), (8, 8), (16, 5), (5, 1)]:
        docs = spark.createDataFrame(cases, "doc_id long, text string")
        got = {}
        for r in chunk_sliding(docs, window=window, stride=stride).collect():
            got.setdefault(r.doc_id, []).append((r.chunk_id, r.chunk_text))
        for doc_id, text in cases:
            toks = text.split()
            n = len(toks)
            n_chunks = 1 + max(0, (n - window + stride - 1)) // stride
            exp = [
                (i, " ".join(toks[i * stride:i * stride + window]))
                for i in range(n_chunks)
            ]
            assert sorted(got[doc_id]) == exp, (doc_id, window, stride)
            covered = set()
            for i, _ in exp:
                covered.update(range(i * stride, min(i * stride + window, n)))
            assert covered == set(range(n))


def test_temperature_mix_budget_expectation(spark):
    """With uniform hashing the retained count should land near the
    budget (binomial concentration): within 25% for a 400-doc corpus."""
    from pdf_extract_spark.functions.text import temperature_mix

    rows = [(i, f"s{i % 4}", "x") for i in range(400)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = temperature_mix(docs, budget=120).count()
    assert 90 <= got <= 150, got


def test_hll_register_union_merge_refinalize(spark):
    """The documented merge workflow: union register tables from two
    runs, re-finalize, and get exactly the single-run estimate of the
    combined data (registers re-reduced per (key, reg) first)."""
    from pdf_extract_spark.operators.sketch import (
        hll_distinct,
        hll_finalize,
        hll_registers,
    )

    a = spark.createDataFrame([("g", i) for i in range(200)],
                              "grp string, user_id long")
    b = spark.createDataFrame([("g", i) for i in range(100, 300)],
                              "grp string, user_id long")
    combined = a.union(b)
    merged = hll_finalize(
        hll_registers(a, ["grp"], "user_id").union(
            hll_registers(b, ["grp"], "user_id")
        ),
        ["grp"],
    ).collect()[0].approx_distinct
    single = hll_distinct(combined, ["grp"], "user_id").collect()[0].approx_distinct
    assert merged == single
    assert merged > 0


def test_pq_topk_recall_gate(spark):
    """PQ-ADC recall vs exact brute force on the sf0.001 embeddings:
    m=8 x ksub=16 codes with a 96-candidate exact re-rank must keep
    recall >= 0.8 at the query defaults (the documented quantization
    trade — raw random vectors are the PQ worst case, which is why the
    shortlist is deeper than IVF's probe set)."""
    from pdf_extract_spark.operators.similarity import (
        brute_force_topk,
        pq_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qids = list(range(20))
    exact = brute_force_topk(emb, qids, k=5)
    approx = pq_topk(emb, qids, k=5, m=8, ksub=16, shortlist=96)
    e = {(r["query_id"], r["nbr_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["nbr_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    print(f"pq_topk recall@5 over 20 queries: {recall:.3f}")
    assert recall >= 0.8, recall


def test_pq_codebooks_shape_and_guards(spark):
    import pytest

    from pdf_extract_spark.operators.similarity import train_pq_codebooks

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = train_pq_codebooks(emb, m=8, ksub=16)
    assert books.shape == (8, 16, 8)
    with pytest.raises(ValueError, match="not divisible"):
        train_pq_codebooks(emb, m=7, ksub=16)


def test_fuzzy_decontaminate_catches_paraphrase(spark):
    """A train doc that is a trimmed copy of an eval doc (no exact
    8-gram needed — minhash bands match on shared 3-gram shingles) must
    flag; an unrelated train doc must not.  doc_id 1 hashes into the
    <5%% eval bucket on this fixture (asserted), 7/8 into train."""
    from pdf_extract_spark.functions.text import hash_bucket
    from pdf_extract_spark.operators.dedup import fuzzy_decontaminate

    base = ("the quick brown fox jumps over the lazy dog near the old "
            "river bank every single morning before dawn")
    rows = [
        (10, base),                                  # eval (asserted below)
        (7, base + " extra tail words appended"),    # near-dup of eval
        (8, "completely different text about distributed query engines "
            "and shuffle partitioning strategies at scale"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bks = {r["doc_id"]: r["bk"] for r in docs.select(
        "doc_id", hash_bucket(F.col("doc_id")).alias("bk")).collect()}
    assert bks[10] < 5 and bks[7] >= 5 and bks[8] >= 5, bks
    out = {r["doc_id"]: r["contaminated"]
           for r in fuzzy_decontaminate(docs).collect()}
    assert 10 not in out            # eval side gets no verdict
    assert out[7] is True           # paraphrase caught
    assert out[8] is False


def test_ivfpq_topk_recall_gate(spark):
    """IVF-PQ residual recall vs brute force: probe=4/16 cells with
    m=8 x ksub=16 residual codes and a 64-candidate exact re-rank must
    keep recall >= 0.8 (residual quantization is finer than flat PQ at
    the same code budget — why the shortlist here is shallower)."""
    from pdf_extract_spark.operators.similarity import (
        brute_force_topk,
        ivfpq_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qids = list(range(20))
    exact = brute_force_topk(emb, qids, k=5)
    approx = ivfpq_topk(emb, qids, k=5)
    e = {(r["query_id"], r["nbr_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["nbr_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    print(f"ivfpq_topk recall@5 over 20 queries: {recall:.3f}")
    assert recall >= 0.8, recall
