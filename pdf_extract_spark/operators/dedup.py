"""Deduplication operators over the documents table.

Four families, scale-ranked:
  * exact          — hash-groupBy on a normalized fingerprint; one shuffle,
                     map-side partial agg. The 100 TB workhorse.
  * minhash + LSH  — shingle -> minhash signature -> banded bucket join.
                     Signatures/buckets via md5 (cross-engine portable, so
                     the DuckDB oracle can replicate them exactly). The
                     band self-join is an equi-join on (band, bucket key):
                     sort-merge at scale, no O(n^2).
  * n-gram Jaccard — inverted-index candidate generation (explode shingles,
                     self-join on shingle, count common) then exact Jaccard;
                     candidate blocking bounds the pair space.
  * simhash        — 64-bit fingerprint per document in one Arrow stage
                     (numpy); hamming-near pairs within LSH-style prefix
                     buckets.

All Spark-side logic is built-in functions except the simhash kernel
(per-document Arrow stage, numpy bit-ops — the documented slow path).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type

from ..functions.text import fingerprint, tokens
from .extraction import map_documents


def dedup_exact(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: groups by normalized-text fingerprint, keeps the
    lexicographically-smallest doc_id as canonical.  One hash shuffle with
    map-side combine; at 100 TB this is the cheapest full-corpus pass."""
    return (
        docs.select(fingerprint(F.col(text_col)).alias("fp"), F.col("doc_id"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").cast("long").alias("n_dups"),
        )
    )


def _spread(docs: DataFrame) -> DataFrame:
    """Round-robin the docs over all cores when the scan yields fewer
    splits than parallelism (small files): the shingling/hash kernels are
    CPU-bound map work that otherwise runs serially before the first
    shuffle.  No-op at real scale where the scan already has >= cores
    splits."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        return docs.repartition(par)
    return docs


def word_shingles(col, n: int = 3):
    """Distinct word n-gram shingles of the lowercased text (array column).

    Built by zipping n SHIFTED SLICES of the token array (shingle i =
    toks[i] + toks[i+1] + ... joined with ' ') — stays in codegen, no UDF,
    and O(words) per document.  The previous transform-over-positions form
    evaluated F.slice(toks, i, n) inside the lambda: Catalyst does not CSE
    outer expressions referenced in HOF lambdas, so the token SPLIT re-ran
    per position and the slice copy made it O(words^2) per doc — measured
    ~2x slower at 100-word docs and unboundedly worse on long ones."""
    toks = tokens(F.lower(col))
    k = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    parts = [F.slice(toks, i + 1, k) for i in range(n)]
    acc = parts[-1]
    for p in reversed(parts[:-1]):
        # all slices have the same length k, so zip_with never null-pads
        acc = F.zip_with(p, acc, lambda a, b: F.concat_ws(" ", a, b))
    return F.array_distinct(acc)


def minhash_signature(docs: DataFrame, text_col: str = "text", n: int = 3,
                      num_hashes: int = 8) -> DataFrame:
    """MinHash signature columns h0..h{k-1}: hash function i is the i-th
    8-hex-char (32-bit) chunk of md5((i // 4) || ':' || shingle) — the
    chunks of one md5 are independent uniform values, so string-min per
    chunk is a valid minhash family at TWO md5 calls per shingle instead
    of eight (md5 dominates this stage's CPU).  Portable to any engine
    with md5/substr (the DuckDB oracle mirrors it chunk-for-chunk).

    Plan shape: explode shingles to rows, hash, min-agg per doc — one
    map-side-combined shuffle.  This beats nested array-of-array HOF
    expressions ~10x (no per-row array churn) and is the shape that
    distributes at corpus scale."""
    assert num_hashes % 4 == 0, "num_hashes must be a multiple of 4 (md5 chunks)"
    sh = _spread(docs).select(
        F.col("doc_id"),
        F.explode(word_shingles(F.col(text_col), n)).alias("shingle"),
    )
    digests = [
        F.md5(F.encode(F.concat(F.lit(f"{g}:"), F.col("shingle")), "utf-8"))
        for g in range(num_hashes // 4)
    ]
    hashed = sh.select(
        "doc_id",
        *[
            F.substring(digests[i // 4], (i % 4) * 8 + 1, 8).alias(f"h{i}")
            for i in range(num_hashes)
        ],
    )
    return hashed.groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(num_hashes)]
    )


def minhash_lsh_candidates(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Banded LSH: docs sharing any band bucket become a candidate pair.

    Pipeline: signature -> band keys -> self-equi-join on (band, key) ->
    distinct pairs.  The join is shuffle-hash/sort-merge on the bucket key;
    bucket sizes are bounded by near-dup cluster sizes, not corpus size, so
    this survives the 100x scale-up."""
    rows_per_band = num_hashes // bands
    sig = minhash_signature(docs, text_col, n, num_hashes)
    banded = sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.md5(
                        F.encode(
                            F.concat_ws(
                                "|",
                                *[
                                    F.col(f"h{b * rows_per_band + j}")
                                    for j in range(rows_per_band)
                                ],
                            ),
                            "utf-8",
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold_x1000: int = 800,
    max_shingle_df: int | None = 128,
) -> DataFrame:
    """Near-dup pairs by word-n-gram Jaccard >= threshold.

    Inverted-index join: explode distinct shingles, self-join on shingle
    (the candidate generator — only docs sharing >=1 shingle ever meet),
    group to common-count, then |A∪B| = |A|+|B|-common.  Jaccard is
    integer-scaled (x1000, floored) for exact cross-engine comparison.

    Scale guard: a shingle appearing in k docs yields k^2 join rows, so a
    single stop-shingle ("terms and conditions apply") would dominate the
    shuffle at corpus scale.  Shingles with document frequency >
    `max_shingle_df` are dropped from the UNIVERSE (index, sizes and
    common counts alike — so Jaccard stays a true Jaccard over the capped
    shingle set; standard CCNet/Gopher practice).  The oracle SQL mirrors
    the same cap."""
    docs = _spread(docs)
    # distinct per-doc shingles hashed to int64 BEFORE the explode (8-byte
    # keys instead of ~30-byte strings everywhere downstream).  A 64-bit
    # collision merges two posting lists (P ~ n_shingles^2 / 2^65 — ~1e-7
    # at 2M distinct shingles); that trade is universal to shingling dedup
    # (minhash incl.).  The shingle expression is evaluated exactly TWICE
    # across the whole query (hot-set count + cold rows) — every other
    # quantity derives from the posting lists, which round 3's shape
    # recomputed the shingling 5x for (sizes x2, n_hot, postings, hot):
    # measured 1.8x query speedup from eliminating those evals.
    sh = docs.select(
        F.col("doc_id"),
        F.explode(
            F.transform(word_shingles(F.col(text_col), n), lambda s: F.xxhash64(s))
        ).alias("shingle"),
    )
    if max_shingle_df is not None:
        # df-cap INVERTED: drop the hot set (df > cap) with an ANTI-join
        # rather than equi-joining the huge rare set.  The df-count is
        # map-side combined with no arrays, so a mega-hot shingle never
        # materializes a posting list before being dropped, and the drop
        # happens MAP-SIDE (before the postings exchange), so a 10^9-df
        # stop-shingle never even lands in one reducer's partition.  No
        # explicit broadcast hint: shingle df is heavy-tailed, so the >cap
        # set GROWS with corpus size (and shrinks with a user-supplied
        # cap) — AQE sees the aggregate's true runtime size and picks
        # broadcast-anti when it fits (the common case, asserted in
        # test_plans.py) or a shuffle anti-join when it doesn't, instead
        # of a forced broadcast OOMing the driver at 100 TB.
        hot = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_shingle_df)
            .select("shingle")
        )
        sh_cold = sh.join(hot, "shingle", "left_anti")
    else:
        sh_cold = sh
    # Pair generation from BOUNDED posting lists (df <= cap guarantees the
    # array size): collect the doc list per shingle, then emit ordered
    # pairs in-partition by double-explode.  Capped-universe doc sizes
    # come from the SAME posting lists (explode + doc-keyed count of
    # small int rows) — no re-evaluation of the shingling, no extra join
    # against the doc table.
    postings = sh_cold.groupBy("shingle").agg(F.collect_list("doc_id").alias("ds"))
    sizes = (
        postings.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_sh"))
    )
    common = (
        postings.select(F.explode("ds").alias("doc_a"), "ds")
        .select(
            "doc_a",
            F.explode(F.filter("ds", lambda d: d > F.col("doc_a"))).alias("doc_b"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        common.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.floor(
                F.col("common") * 1000 / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("common"))
            ).cast("long").alias("jaccard_x1000"),
        )
        .filter(F.col("jaccard_x1000") >= threshold_x1000)
    )


# ----------------------------------------------------------------------------
# SimHash (per-document Arrow stage — numpy bit kernel)
# ----------------------------------------------------------------------------


_SHIFTS = np.arange(64, dtype=np.uint64)


def _simhash_value(text, cache: dict[str, int]) -> int | None:
    """Signed 64-bit simhash of one text: md5 once per UNIQUE token (kept
    in `cache` across documents), accumulation as one (uniq_tokens x 64)
    numpy matmul weighted by token counts — identical output to the
    per-token loop it replaces, ~10x fewer hash calls on natural text.
    NULL, empty or whitespace-only text has no tokens and no simhash
    (NULL), so it pairs with nothing — as in SIMHASH_SQL, which drops
    such documents."""
    toks = (text or "").lower().split()
    if not toks:
        return None
    uniq, counts = np.unique(np.array(toks, dtype=object), return_counts=True)
    hs = np.empty(len(uniq), dtype=np.uint64)
    for i, tok in enumerate(uniq):
        h = cache.get(tok)
        if h is None:
            h = cache[tok] = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
        hs[i] = h
    bits = ((hs[:, None] >> _SHIFTS[None, :]) & np.uint64(1)).astype(np.int64)
    acc = ((bits * 2 - 1) * counts[:, None].astype(np.int64)).sum(axis=0)
    sim = int(((acc > 0).astype(np.uint64) << _SHIFTS).sum())
    return sim - (1 << 64) if sim >= (1 << 63) else sim


def _simhash_kernel():
    """Per-document simhash kernel whose token-hash cache lives for one
    task.  It calls the module-level `_simhash_value`, so a worker that
    unpickles it imports this package (and with it `zipcache`)."""
    cache: dict[str, int] = {}

    def simhash_doc(doc_id, text):
        yield doc_id, _simhash_value(text, cache)

    return simhash_doc


def simhash(docs: DataFrame, text_col: str = "text") -> DataFrame:
    schema = pa.schema(
        [("doc_id", to_arrow_type(docs.schema["doc_id"].dataType)), ("simhash", pa.int64())]
    )
    texts = _spread(docs).select("doc_id", F.col(text_col).alias("text"))
    return map_documents(texts, _simhash_kernel(), schema)


def simhash_near_pairs(docs: DataFrame, text_col: str = "text", max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by simhash hamming distance, blocked on 16-bit prefix
    bands (4 bands; <=3 differing bits guarantees >=1 identical band)."""
    sh = simhash(docs, text_col)
    banded = sh.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(*[F.shiftrightunsigned(F.col("simhash"), 16 * i).bitwiseAND(F.lit(0xFFFF)) for i in range(4)])
        ).alias("band", "key"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


def fuzzy_decontaminate(
    docs: DataFrame,
    text_col: str = "text",
    eval_pct: int = 5,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Fuzzy benchmark decontamination: flag training documents that are
    NEAR-duplicates of the held-out slice — the MinHash-band sibling of
    the exact 8-gram overlap (functions/text.py:decontaminate), catching
    paraphrased/trimmed eval leaks that share no exact 8-gram.

    The held-out side is the deterministic md5-bucket < eval_pct slice
    (same rule as the exact path); both sides get the SAME banded
    signature as minhash_lsh_candidates, and a train doc is contaminated
    iff it shares any (band, bucket) with an eval doc.

    Scale shape: signature = one map-side-combined shuffle per side
    (built from ONE shared pass over the corpus, split scan-side by the
    hash bucket); the flag is a semi join on the band-bucket key —
    bucket sizes are bounded by near-dup family sizes, never corpus
    size.  Output: one verdict row per TRAIN doc (zero-shingle docs
    surface as contaminated=false via the spine join)."""
    from ..functions.text import hash_bucket

    rows_per_band = num_hashes // bands
    bk = hash_bucket(F.col("doc_id"))
    train = docs.filter(bk >= eval_pct)
    eval_side = docs.filter(bk < eval_pct)

    def band_keys(side: DataFrame) -> DataFrame:
        sig = minhash_signature(side, text_col, n, num_hashes)
        return sig.select(
            "doc_id",
            F.posexplode(
                F.array(
                    *[
                        F.md5(
                            F.encode(
                                F.concat_ws(
                                    "|",
                                    *[
                                        F.col(f"h{b * rows_per_band + j}")
                                        for j in range(rows_per_band)
                                    ],
                                ),
                                "utf-8",
                            )
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("band", "bucket"),
        )

    hits = (
        band_keys(train)
        .join(
            band_keys(eval_side).select("band", "bucket").distinct(),
            ["band", "bucket"],
            "left_semi",
        )
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return train.select("doc_id").join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce("contaminated", F.lit(False)).alias("contaminated"),
    )
