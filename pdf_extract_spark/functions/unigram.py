"""Distributed unigram-LM (SentencePiece-style) tokenizer training.

The second of the two tokenizer families an LLM data pipeline trains
(Kudo 2018; the BPE sibling lives in functions/bpe.py).  Same
corpus-scale discipline as BPE: the corpus is scanned EXACTLY ONCE for
the word histogram (explode -> groupBy(word), map-side combined); the
seed-vocabulary pass, every EM round, and the final segmentation all
run at vocabulary scale (10^6-10^8 distinct words for web text, vs
10^12 documents).

Algorithm (hard-EM / Viterbi-EM over the word histogram):
  1. Seed: all code-point substrings of length 1..max_piece_len of each
     distinct word, occurrence-counted (overlapping) weighted by word
     frequency — one JVM-side explode over the histogram.  Keep the
     top ``seed_max`` multi-char pieces by (count DESC, piece ASC) with
     count >= 2, plus ALL single code points (coverage guarantee: every
     corpus word stays segmentable).
  2. E-step: Viterbi-best segmentation of each distinct word under the
     current piece counts with Laplace smoothing, prob(piece) =
     (count+1)/(T+V).  Scoring is EXACT INTEGER arithmetic: a candidate
     with pieces (c_1..c_k) has probability prod(c_i+1)/(T+V)^k, and
     two candidates compare via big-int cross-multiplication
     prod1*(T+V)^k2 <=> prod2*(T+V)^k1 — no float log-sums, so the
     distributed run and the independent pure-Python golden
     (tools/gen_golden_unigram.py) can never diverge on rounding.
     Ties break on fewer pieces, then the lexicographic piece list.
     Runs as ONE per-word Arrow stage (``map_documents``) over the
     histogram with the bounded piece table broadcast in the closure.
  3. M-step: piece counts re-estimated from the Viterbi segmentations
     (weighted by word frequency, one map-side-combined groupBy), then
     pruned to ``vocab_size`` by (count DESC, piece ASC), single code
     points always retained.
  4. After ``rounds`` iterations the final (rank, piece, piece_count)
     table is emitted; segmentation joins word -> n_pieces back onto
     the corpus token stream exactly like bpe_segment.

Driver-side state, disclosed and bounded like the IVF trainer
(operators/similarity.py): the piece-count table collected per round is
<= seed_max + |alphabet| rows (a few hundred), never corpus- or even
vocabulary-sized; everything word-shaped stays distributed.

Why hard-EM instead of full forward-backward: the soft E-step's
fractional expected counts are float sums whose value depends on
reduction order — unreproducible across engines by construction.
Viterbi counts are integers; the trade (slightly greedier convergence)
buys an exact cross-engine oracle, the same bargain the repo's other
operators make (x100 integer stats, cents-scaled deviations).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.extraction import map_documents
from .bpe import (
    _DRIVER_VOCAB_CHAR_MAX,
    _DRIVER_VOCAB_MAX,
    word_histogram,
)

_PIECE_COUNTS = pa.schema([("piece", pa.string()), ("cnt", pa.int64())])
_WORD_PIECES = pa.schema([("word", pa.string()), ("n_pieces", pa.int64())])


def _seed_counts_driver(
    hist: "list[tuple[str, int]]", max_piece_len: int, seed_max: int
) -> "list[tuple[str, int]]":
    """Local mirror of _seed_counts over a collected histogram: same
    overlapping substring counts weighted by word frequency, same
    (count DESC, piece ASC) ordering and >=2 multi-char floor.  Python
    slicing and Spark substring both index code points, and Python's
    string order equals Spark's UTF-8 byte order, so the seed list is
    bit-identical to the distributed pass."""
    counts: dict[str, int] = {}
    for word, wc in hist:
        n = len(word)
        for s in range(n):
            for l in range(1, min(max_piece_len, n - s) + 1):
                p = word[s : s + l]
                counts[p] = counts.get(p, 0) + wc
    singles = sorted(
        ((p, c) for p, c in counts.items() if len(p) == 1),
        key=lambda t: (-t[1], t[0]),
    )
    multis = sorted(
        ((p, c) for p, c in counts.items() if len(p) > 1 and c >= 2),
        key=lambda t: (-t[1], t[0]),
    )[:seed_max]
    return singles + multis


def _seed_counts(
    hist: DataFrame, max_piece_len: int, seed_max: int, spark
) -> list[tuple[str, int]]:
    """Substring seed counts from the word histogram — one explode at
    vocabulary scale, then a bounded top-K collect (<= seed_max rows
    plus the alphabet)."""
    # all (start, len) substrings up to max_piece_len, JVM-side:
    # sequence over starts x lengths, flattened and exploded
    subs = hist.select(
        "wcount",
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(
                        F.lit(1), F.length("word"), F.lit(1)
                    ),  # 1-based start
                    lambda s: F.filter(
                        F.transform(
                            F.sequence(
                                F.lit(1), F.lit(max_piece_len), F.lit(1)
                            ),
                            lambda l: F.substring(F.col("word"), s, l),
                        ),
                        # substring() pads nothing: a start+len past the
                        # end yields a SHORT piece already covered by an
                        # earlier (start,len) — drop those duplicates by
                        # requiring the exact requested length
                        lambda p, i: F.length(p) == i + 1,
                    ),
                )
            )
        ).alias("piece"),
    )
    counts = subs.groupBy("piece").agg(
        F.sum("wcount").cast("long").alias("cnt")
    )
    singles = (
        counts.filter(F.length("piece") == 1)
        .orderBy(F.desc("cnt"), F.asc("piece"))
        .collect()
    )
    multis = (
        counts.filter((F.length("piece") > 1) & (F.col("cnt") >= 2))
        .orderBy(F.desc("cnt"), F.asc("piece"))
        .limit(seed_max)
        .collect()
    )
    return [(r["piece"], int(r["cnt"])) for r in singles] + [
        (r["piece"], int(r["cnt"])) for r in multis
    ]


# Hostile-input guard: the exact-integer DP carries products whose bit
# length grows with position, so a crawl-artifact "word" (a 100 KB
# base64 blob survives whitespace tokenization intact) would cost
# O(n^2.6) bit operations — minutes of one executor core for one token,
# the same stalled-task class as a decompression bomb.  Words longer
# than this are segmented per independent block: identical result in
# any engine (the golden generator mirrors the rule), bounded cost.
MAX_VITERBI_WORD = 256


def viterbi_pieces(
    word: str, counts: dict[str, int], denom: int, max_piece_len: int
) -> list[str]:
    """Exact-integer Viterbi segmentation (module docstring step 2).
    ``denom`` = T + V.  Shared verbatim by the Spark E-step closure and
    importable for tests; the golden generator reimplements it
    independently.  Words beyond MAX_VITERBI_WORD chars are segmented
    in independent blocks (see the guard note above)."""
    if len(word) > MAX_VITERBI_WORD:
        out: list[str] = []
        for i in range(0, len(word), MAX_VITERBI_WORD):
            out.extend(
                viterbi_pieces(
                    word[i : i + MAX_VITERBI_WORD], counts, denom,
                    max_piece_len,
                )
            )
        return out
    n = len(word)
    # memoized powers of denom: the cross-multiplication needs
    # denom**k for k up to the piece count — computing each power from
    # scratch per candidate made the E-step's dominant cost repeated
    # big-int exponentiation; one incremental table per call computes
    # each power once (pure arithmetic identity, results unchanged)
    pows: list[int] = [1]

    def powd(k: int) -> int:
        while len(pows) <= k:
            pows.append(pows[-1] * denom)
        return pows[k]

    # best[i] = (prod, k, pieces) for word[:i]
    best: list[tuple[int, int, tuple[str, ...]] | None] = [None] * (n + 1)
    best[0] = (1, 0, ())
    for i in range(1, n + 1):
        cand_best = None
        for l in range(1, min(max_piece_len, i) + 1):
            prev = best[i - l]
            if prev is None:
                continue
            piece = word[i - l : i]
            if len(piece) > 1 and piece not in counts:
                continue  # unseeded multi-char pieces are not in the model
            w = counts.get(piece, 0) + 1
            prod, k, seq = prev[0] * w, prev[1] + 1, prev[2] + (piece,)
            if cand_best is None:
                cand_best = (prod, k, seq)
                continue
            bprod, bk, bseq = cand_best
            # prob compare: prod/denom^k vs bprod/denom^bk
            lhs, rhs = prod * powd(bk), bprod * powd(k)
            if lhs > rhs or (
                lhs == rhs and (k < bk or (k == bk and seq < bseq))
            ):
                cand_best = (prod, k, seq)
        best[i] = cand_best
    assert best[n] is not None  # single chars always present
    return list(best[n][2])


def unigram_train(
    docs: DataFrame,
    vocab_size: int = 96,
    rounds: int = 2,
    max_piece_len: int = 4,
    seed_max: int = 192,
    text_col: str = "text",
) -> tuple[DataFrame, list[tuple[str, int]]]:
    """Train the unigram vocab; returns (vocab_df, pieces) where
    vocab_df is (rank, piece, piece_count) and pieces the same as a
    Python list for composition (segmentation, packing)."""
    spark = docs.sparkSession
    # lazy checkpoint: the guard probe (or the first seed job) is what
    # materializes the ONE corpus-scale pass either way
    hist = word_histogram(docs, text_col).localCheckpoint(eager=False)
    # Same guarded driver path as functions/bpe.py: the histogram is
    # vocab-sized; when it fits under the bounded collect, the seed pass
    # and the EM rounds (whose per-round piece table is already
    # driver-collected even in the distributed shape) run locally and
    # skip ~4 vocabulary-scale Spark jobs.  Larger vocabs fall back to
    # the distributed loop unchanged; both paths share viterbi_pieces
    # and the identical integer arithmetic, so results are bit-equal.
    hist_rows: "list[tuple[str, int]] | None" = None
    if _DRIVER_VOCAB_MAX > 0:
        probe = hist.limit(_DRIVER_VOCAB_MAX + 1).collect()
        if len(probe) <= _DRIVER_VOCAB_MAX and (
            sum(len(r[0]) for r in probe) <= _DRIVER_VOCAB_CHAR_MAX
        ):
            hist_rows = [(r[0], int(r[1])) for r in probe]
    if hist_rows is not None:
        pieces = _seed_counts_driver(hist_rows, max_piece_len, seed_max)
    else:
        pieces = _seed_counts(hist, max_piece_len, seed_max, spark)

    for _ in range(rounds):
        counts = dict(pieces)
        denom = sum(counts.values()) + len(counts)
        mpl = max_piece_len

        if hist_rows is not None:
            observed = {}
            for word, wc in hist_rows:
                for p in viterbi_pieces(word, counts, denom, mpl):
                    observed[p] = observed.get(p, 0) + wc
        else:
            def estep(word, wc):
                for p in viterbi_pieces(word, counts, denom, mpl):
                    yield p, wc

            new = (
                map_documents(hist, estep, _PIECE_COUNTS)
                .groupBy("piece")
                .agg(F.sum("cnt").cast("long").alias("cnt"))
                .collect()  # bounded: <= current vocab size rows
            )
            observed = {r["piece"]: int(r["cnt"]) for r in new}
        # singles always retained (coverage); unobserved pieces count 0
        singles = [(p, observed.get(p, 0)) for p, _ in pieces if len(p) == 1]
        multis = sorted(
            (
                (p, observed.get(p, 0))
                for p, _ in pieces
                if len(p) > 1 and observed.get(p, 0) > 0
            ),
            key=lambda t: (-t[1], t[0]),
        )[: max(0, vocab_size - len(singles))]
        pieces = sorted(singles + multis, key=lambda t: (-t[1], t[0]))

    rows = [
        (i, p, c) for i, (p, c) in enumerate(pieces)
    ]
    vocab_df = spark.createDataFrame(
        rows, "rank long, piece string, piece_count long"
    )
    return vocab_df, pieces


def unigram_segment(
    docs: DataFrame,
    pieces: list[tuple[str, int]],
    max_piece_len: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """Per-doc unigram token counts (doc_id, n_words, n_unigram_tokens)
    under a trained vocab — Viterbi over the DISTINCT-WORD table only,
    then a vocabulary-sized join back onto the corpus token stream
    (AQE-chosen strategy, same rationale as bpe_segment)."""
    from .text import tokens

    counts = dict(pieces)
    denom = sum(counts.values()) + len(counts)
    mpl = max_piece_len

    toks = docs.select(
        "doc_id", F.explode(tokens(F.lower(F.col(text_col)))).alias("word")
    ).filter(F.col("word") != "")
    vocab_words = toks.select("word").distinct()

    npieces = None
    if _DRIVER_VOCAB_MAX > 0:
        # guarded driver path (bpe_segment discipline): Viterbi over the
        # collected distinct-word table, shipped back as a broadcast-
        # sized local relation; large vocabs fall back to one Arrow stage
        probe = vocab_words.limit(_DRIVER_VOCAB_MAX + 1).collect()
        if len(probe) <= _DRIVER_VOCAB_MAX and (
            sum(len(r[0]) for r in probe) <= _DRIVER_VOCAB_CHAR_MAX
        ):
            rows = [
                (r[0], len(viterbi_pieces(r[0], counts, denom, mpl)))
                for r in probe
            ]
            npieces = docs.sparkSession.createDataFrame(
                rows, "word string, n_pieces long"
            )
    if npieces is None:
        def seg(word):
            yield word, len(viterbi_pieces(word, counts, denom, mpl))

        npieces = map_documents(vocab_words, seg, _WORD_PIECES)
    per_doc = (
        toks.join(npieces, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_pieces").cast("long").alias("n_unigram_tokens"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
            F.coalesce("n_unigram_tokens", F.lit(0))
            .cast("long")
            .alias("n_unigram_tokens"),
        )
    )
