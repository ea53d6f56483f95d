"""Text-analysis functions for the documents table — all expressed as
JVM-side Spark SQL expressions (no Python in the hot path) so each has an
exact DuckDB oracle and stays inside whole-stage codegen.

Operators: token counting, quality scoring, language ID (functions/langid),
document fingerprinting.  Deterministic by construction: integer/string
outputs wherever possible (value-hash-stable across engines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .langid import langid


def tokens(col) -> Column:
    """Whitespace tokenizer (split on runs of spaces, trimmed)."""
    return F.split(F.trim(col), r"\s+")


def token_count(col) -> Column:
    return F.size(tokens(col)).cast("long")


def char_count(col) -> Column:
    return F.length(col).cast("long")


def avg_token_len_x100(col) -> Column:
    """Average token length scaled to int (x100, floored) — integer output
    keeps the cross-engine hash exact."""
    return F.floor(
        F.aggregate(tokens(col), F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
        * 100
        / F.greatest(F.size(tokens(col)), F.lit(1))
    ).cast("long")


def quality_score_x1000(col) -> Column:
    """Composite quality heuristic in [0,1000]: rewards 4-6 char mean token
    length and penalizes very short docs. Integer-scaled for stability."""
    atl = avg_token_len_x100(col)  # x100
    ntok = token_count(col)
    len_component = F.greatest(
        F.lit(0).cast("long"),
        F.lit(500) - F.abs(atl - F.lit(500)),
    )  # peak at mean token len 5.0
    size_component = F.least(ntok * 25, F.lit(500))
    return (len_component + size_component).cast("long")


def fingerprint(col) -> Column:
    """Normalized content fingerprint: md5 of lowercased, space-collapsed
    text (cross-engine exact)."""
    return F.md5(F.encode(F.regexp_replace(F.lower(F.trim(col)), r"\s+", " "), "utf-8"))


GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def _gopher_rules(text_col: str, min_words: int, max_words: int,
                  min_stopwords: int):
    """The five Gopher rule columns (plus the word count) as pure codegen
    expressions — shared by gopher_quality_flags (which reports them) and
    gopher_keep_expr (which conjoins them into a scan-side predicate)."""
    c = F.col(text_col)
    toks = tokens(c)
    ltoks = tokens(F.lower(c))
    n = F.size(toks)
    mean_len_x100 = avg_token_len_x100(c)
    n_symbol = F.size(F.filter(toks, lambda t: t.rlike("[^A-Za-z0-9]")))
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    n_stop = F.size(
        F.array_distinct(F.filter(ltoks, lambda t: t.isin(GOPHER_STOPWORDS)))
    )
    rule_words = (n >= min_words) & (n <= max_words)
    rule_mean_len = (mean_len_x100 >= 300) & (mean_len_x100 <= 1000)
    rule_symbols = n_symbol * 5 < n  # < 20%
    rule_stop = n_stop >= min_stopwords
    rule_alpha = n_alpha * 10 >= n * 7  # >= 70%
    return rule_words, rule_mean_len, rule_symbols, rule_stop, rule_alpha, n


def gopher_keep_expr(text_col: str = "text", min_words: int = 20,
                     max_words: int = 100_000, min_stopwords: int = 2) -> Column:
    """The Gopher keep verdict as a single boolean expression, for use as
    a narrow filter directly on the corpus scan (no flag frame, no join):
    the shape a pipeline wants when it only needs the verdict."""
    rw, rm, rs, rst, ra, _ = _gopher_rules(
        text_col, min_words, max_words, min_stopwords
    )
    return rw & rm & rs & rst & ra


def gopher_quality_flags(docs: DataFrame, text_col: str = "text",
                         min_words: int = 20, max_words: int = 100_000,
                         min_stopwords: int = 2) -> DataFrame:
    """Gopher-style document quality filter (Rae et al. 2021 §A1.1, as
    popularized by CCNet/Dolma pipelines) — the rule chain a pretraining
    corpus runs before dedup.  All rules are JVM-side codegen expressions
    with an exact DuckDB oracle:

      * word count within [min_words, max_words]
      * mean word length within [3, 10] chars
      * < 20% of words contain a non-alphanumeric symbol (#, $, %, ...)
      * at least 2 distinct Gopher stopwords present
      * alpha ratio: >= 70% of words contain at least one letter

    Emits one row per doc with the individual rule booleans and the
    conjunction `keep` — keep the flags, not just the verdict, so a 100 TB
    run can report WHY documents were dropped (the rule histogram is the
    standard pipeline health metric)."""
    rule_words, rule_mean_len, rule_symbols, rule_stop, rule_alpha, n = (
        _gopher_rules(text_col, min_words, max_words, min_stopwords)
    )
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_words"),
        rule_words.alias("rule_word_count"),
        rule_mean_len.alias("rule_mean_word_len"),
        rule_symbols.alias("rule_symbol_ratio"),
        rule_stop.alias("rule_stopwords"),
        rule_alpha.alias("rule_alpha_ratio"),
        (rule_words & rule_mean_len & rule_symbols & rule_stop & rule_alpha).alias(
            "keep"
        ),
    )


def repetition_signals(docs: DataFrame, text_col: str = "text",
                       top_bigram_pct: int = 20,
                       dup_trigram_pct: int = 30) -> DataFrame:
    """Gopher-style intra-document repetition filter (Rae et al. 2021
    §A1.1: 'fraction of characters in the most common n-gram' and
    'fraction of characters in duplicate n-grams') — ours uses gram-count
    fractions rather than char fractions (documented variant; integer
    outputs keep the cross-engine hash exact):

      * rule_top_bigram: the most frequent bigram accounts for <=
        `top_bigram_pct`% of all bigram occurrences
      * rule_dup_trigram: trigram occurrences whose gram appears more than
        once account for <= `dup_trigram_pct`% of trigram occurrences

    Scale shape: explode -> groupBy(doc_id, gram) with map-side combine ->
    re-agg per doc.  The (doc_id, gram) key is fine-grained, so no skew;
    a repetitive 10^6-token doc costs one reducer O(distinct grams), not
    O(occurrences).  A left join restores docs too short to have grams
    (vacuously passing)."""
    bg = _gram_stream(docs, text_col, 2, ("doc_id",))
    tg = _gram_stream(docs, text_col, 3, ("doc_id",))
    bg_doc = (
        bg.groupBy("doc_id", "g").count()
        .groupBy("doc_id")
        .agg(
            F.max("count").cast("long").alias("top_bigram_cnt"),
            F.sum("count").cast("long").alias("n_bigrams"),
        )
    )
    tg_doc = (
        tg.groupBy("doc_id", "g").count()
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("count") > 1, F.col("count")).otherwise(0))
            .cast("long").alias("dup_trigram_cnt"),
            F.sum("count").cast("long").alias("n_trigrams"),
        )
    )
    out = (
        docs.select("doc_id")
        .join(bg_doc, "doc_id", "left")
        .join(tg_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("top_bigram_cnt", F.lit(0)).alias("top_bigram_cnt"),
            F.coalesce("n_trigrams", F.lit(0)).alias("n_trigrams"),
            F.coalesce("dup_trigram_cnt", F.lit(0)).alias("dup_trigram_cnt"),
        )
    )
    rule_top = F.col("top_bigram_cnt") * 100 <= F.col("n_bigrams") * top_bigram_pct
    rule_dup = F.col("dup_trigram_cnt") * 100 <= F.col("n_trigrams") * dup_trigram_pct
    return out.select(
        "doc_id", "n_bigrams", "top_bigram_cnt", "n_trigrams", "dup_trigram_cnt",
        rule_top.alias("rule_top_bigram"),
        rule_dup.alias("rule_dup_trigram"),
        (rule_top & rule_dup).alias("keep"),
    )


def _span_occurrences_judged(docs: DataFrame, text_col: str, n: int) -> DataFrame:
    """Shared core of the C4-style span dedup pair: every overlapping
    `n`-gram occurrence as (doc_id, pos, is_dup), where is_dup marks a
    non-keeper occurrence of a corpus-duplicated gram (keeper = global
    min (doc_id, pos)).  One groupBy on the md5 gram key with map-side
    combine + one join back — the single source of truth for the keeper
    rule, so the stats and apply operators (and their SQL oracles) cannot
    drift apart."""
    grams = _gram_stream(docs, text_col, n, ("doc_id",), with_pos=True).select(
        "doc_id", "pos", F.md5(F.encode("g", "utf-8")).alias("h")
    )
    stats = grams.groupBy("h").agg(
        F.count("*").alias("occ"),
        F.min(F.struct("doc_id", "pos")).alias("keeper"),
    )
    return grams.join(stats, "h").select(
        "doc_id",
        "pos",
        (
            (F.col("occ") > 1)
            & ~(
                (F.col("keeper.doc_id") == F.col("doc_id"))
                & (F.col("keeper.pos") == F.col("pos"))
            )
        ).alias("is_dup"),
    )


def span_dedup_stats(docs: DataFrame, text_col: str = "text",
                     n: int = 13) -> DataFrame:
    """C4-style cross-corpus span dedup (Raffel et al. 2020 §2.2: drop any
    repeated three-sentence span, keeping one occurrence).  Ours operates
    on overlapping word `n`-grams (n=13 ~ C4's span length) and reports,
    per document, how many of its spans are corpus-duplicates that would
    be removed — the keeper is the globally minimal (doc_id, pos)
    occurrence, so exactly one copy of every duplicated span survives and
    the decision is independent of scan order.

    Scale shape: posexplode grams -> groupBy(md5 gram key) with map-side
    combine computing (count, min keeper) -> shuffle join back on the
    same key -> per-doc re-agg.  Hot grams (the boilerplate this operator
    exists to kill) collapse map-side in the agg; the join fans the
    verdict back out.  No windows over corpus-size partitions, no
    collects."""
    judged = _span_occurrences_judged(docs, text_col, n)
    per_doc = judged.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_spans"),
        F.sum(F.col("is_dup").cast("long")).cast("long").alias("n_dup_spans"),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            (F.coalesce("n_dup_spans", F.lit(0)) == 0).alias("is_clean"),
        )
    )


def span_dedup_apply(docs: DataFrame, text_col: str = "text",
                     n: int = 13) -> DataFrame:
    """C4-style span REMOVAL: rewrite each document with every token
    covered by a non-keeper duplicate `n`-gram occurrence dropped (the
    keeper — global min (doc_id, pos) — keeps its text, so exactly one
    copy of every duplicated span survives corpus-wide).

    Scale shape: the dup-occurrence verdict is span_dedup_stats' plan
    (gram hash groupBy with map-side combine + join back); the REWRITE
    avoids a corpus-wide token explode — duplicate start positions
    collect into one bounded per-doc array, and the token drop happens
    inside a higher-order filter over the doc's own token array (Python
    never sees a row).  The per-doc array is bounded by the doc's dup
    span count; a document that is mostly duplicates is exactly the one
    the pipeline drops wholesale anyway.

    `clean_text` is the normalized token stream (lowercased,
    single-space-joined) — the same text space the dedup keys live in,
    so removal offsets are exact."""
    base = docs.select("doc_id", tokens(F.lower(F.col(text_col))).alias("ts"))
    dup_pos = (
        _span_occurrences_judged(docs, text_col, n)
        .filter("is_dup")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("dups"))
    )
    joined = base.join(dup_pos, "doc_id", "left")
    covered = lambda i: F.exists(  # noqa: E731 — readability of the HOF pair
        F.col("dups"), lambda p: (i >= p) & (i < p + n)
    )
    kept = F.when(
        F.col("dups").isNull(), F.col("ts")
    ).otherwise(F.filter(F.col("ts"), lambda t, i: ~covered(i)))
    return joined.select(
        "doc_id",
        # coalesce: NULL text (upstream extraction failure) must yield ''
        # exactly like the DuckDB oracle, not a NULL clean_text
        F.coalesce(F.array_join(kept, " "), F.lit("")).alias("clean_text"),
        F.coalesce(F.size("ts") - F.size(kept), F.lit(0))
        .cast("long").alias("n_tokens_removed"),
    )


def _gram_stream(df: DataFrame, text_col: str, n: int,
                 id_cols: tuple[str, ...],
                 with_pos: bool = False) -> DataFrame:
    """Exploded word n-gram stream (duplicates included) built WITHOUT
    higher-order functions: explode the start indexes, then one codegen
    slice+concat per row.  The HOF form (transform + array_distinct)
    evaluates its lambda interpreted — measured 10-16x slower at sf0.1 —
    so dedup is left to the downstream aggregation, which combines
    map-side anyway (each doc's grams are born in one partition).
    `with_pos` adds the 0-based gram start index as `pos` (identical to
    what posexplode over the gram array produced)."""
    toks = tokens(F.lower(F.col(text_col)))
    idx = df.select(*id_cols, toks.alias("__ts")).select(
        *id_cols,
        "__ts",
        F.explode(
            # the `when` guard matters: sequence(0, -1) would DESCEND,
            # not produce an empty array
            F.when(
                F.size("__ts") >= n,
                F.sequence(F.lit(0), F.size("__ts") - n),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("__i"),
    )
    g = F.concat_ws(" ", F.slice("__ts", F.col("__i") + 1, n)).alias("g")
    if with_pos:
        return idx.select(*id_cols, F.col("__i").alias("pos"), g)
    return idx.select(*id_cols, g)


def _decontam_split(docs: DataFrame, text_col: str, n: int, eval_pct: int,
                    eval_docs: DataFrame | None):
    """Shared scaffolding for both decontamination variants: the train
    doc-id spine, the train gram stream, and the eval gram stream —
    the eval side is either an EXTERNAL benchmark frame or the
    deterministic md5-bucket slice of the corpus itself.  One definition
    so the gram construction and the eval-slice rule cannot drift
    between the exact and Bloom paths."""
    bk = hash_bucket(F.col("doc_id"))
    if eval_docs is not None:
        train_src, eval_src = docs, eval_docs
    else:
        train_src = docs.filter(bk >= eval_pct)
        eval_src = docs.filter(bk < eval_pct)
    return (
        train_src.select("doc_id"),
        _gram_stream(train_src, text_col, n, ("doc_id",)),
        _gram_stream(eval_src, text_col, n, ()),
    )


def decontaminate(docs: DataFrame, text_col: str = "text", n: int = 8,
                  eval_pct: int = 3,
                  eval_docs: DataFrame | None = None) -> DataFrame:
    """Benchmark decontamination (GPT-3 appendix C / PaLM-style n-gram
    overlap): flag training documents sharing any word `n`-gram with a
    held-out evaluation set.

    Two ways to name the eval set:
      * `eval_docs` — an EXTERNAL benchmark corpus (any frame with a
        `text_col` column).  This is the production call: the benchmark
        corpus is small (MBs), so broadcasting its distinct gram hashes is
        the real plan, not a test shortcut.  Every doc in `docs` is then a
        training doc and gets a verdict.
      * otherwise the deterministic md5-bucket slice
        `hash_bucket(doc_id) < eval_pct` of `docs` itself plays the
        benchmark (self-contained mode for tests/oracles); the slice is
        excluded from the verdicts.

    Scale shape (identical either way): eval grams -> distinct md5 keys
    -> broadcast; ONE training gram build (codegen index-explode) ->
    per-doc distinct via (doc_id, h) dedup (combined map-side) ->
    broadcast LEFT OUTER membership join -> a single per-doc aggregate
    producing n_grams and n_hits together; the doc-id spine joined back
    restores zero-gram docs without touching text.  The contamination
    verdict never moves the corpus."""
    train_ids, train_stream, eval_stream = _decontam_split(
        docs, text_col, n, eval_pct, eval_docs
    )
    eval_grams = eval_stream.select(
        F.md5(F.encode("g", "utf-8")).alias("h")
    ).distinct()
    # ONE gram build: per-doc distinct grams via a (doc_id, h) dedup
    # (combined map-side — each doc's grams are born in one partition),
    # then a broadcast left join flags eval membership and a single
    # per-doc aggregate counts grams and flags together.  The doc-id
    # spine joined back at the end restores zero-gram docs; its
    # projection needs no text, so the corpus is tokenized exactly once.
    train_grams = train_stream.select(
        "doc_id", F.md5(F.encode("g", "utf-8")).alias("h")
    ).distinct()
    per_doc = (
        train_grams.join(
            F.broadcast(eval_grams.withColumn("__hit", F.lit(1))), "h", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(F.coalesce("__hit", F.lit(0))).cast("long").alias("n_hits"),
        )
    )
    return (
        train_ids.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def decontaminate_bloom(docs: DataFrame, text_col: str = "text", n: int = 8,
                        eval_pct: int = 3,
                        eval_docs: DataFrame | None = None,
                        mbits: int = 1 << 17, k: int = 4) -> DataFrame:
    """Bloom-filter variant of `decontaminate`: identical verdict
    semantics (modulo the filter's deterministic false positives), but
    the eval set travels as a FIXED-SIZE bitmap instead of its distinct
    gram hashes.  At 100 TB this is the difference between broadcasting
    a constant ~16 KB-2 MB bitmap and broadcasting an eval-gram table
    that grows with the benchmark suite — and the membership test is a
    narrow per-row expression, so the corpus side needs only its ONE
    per-doc aggregation shuffle (no semi join at all).

    Portability: positions are Kirsch-Mitzenmacher double hashing over
    the gram md5 (h1 = first 8 hex digits, h2 = next 8; pos_i =
    (h1 + i*h2) mod mbits), laid out as NIBBLES — position pos lives in
    hex character pos//4 (0-based) at bit value 1 << (pos % 4) — all
    exact integer arithmetic, so the DuckDB oracle rebuilds the same
    bitmap bit-for-bit and reproduces every false positive.

    The bitmap is built distributed (explode -> nibble-level bit_or) and
    collected once — <= mbits/4 nibble values (guarded), the bounded
    driver-collect pattern the IVF trainer set — then ships as one hex
    STRING literal: a string literal is a true plan constant, unlike
    F.lit(list) whose CreateArray is rebuilt per row."""
    assert mbits <= (1 << 22), "bitmap above 128 KiB hex — raise deliberately"
    assert mbits % 32 == 0 and k >= 1
    train_ids, train_stream, eval_stream = _decontam_split(
        docs, text_col, n, eval_pct, eval_docs
    )

    h = F.md5(F.encode("g", "utf-8"))
    h1 = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    pos = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda i: (h1 + i.cast("long") * h2) % mbits,
        )
    ).alias("pos")
    # Bitmap laid out as NIBBLES so it can travel as one hex STRING
    # literal: position pos lives in hex char pos//4 (0-based) at bit
    # value 1<<(pos%4).  A string literal is a true plan constant —
    # unlike F.lit(list), whose CreateArray is rebuilt per row (measured
    # 20x slower at sf0.1) — and substr-probing it is a narrow codegen
    # expression.
    nibbles = (
        eval_stream.select(pos)
        .select(
            (F.col("pos") / 4).cast("int").alias("ni"),
            F.expr("shiftleft(1, CAST(pos % 4 AS INT))").alias("m"),
        )
        .groupBy("ni")
        .agg(F.expr("bit_or(m)").alias("nv"))
        .collect()
    )
    nib = [0] * (mbits // 4)
    for r in nibbles:
        nib[r["ni"]] = r["nv"]
    bm_hex = "".join("0123456789abcdef"[v] for v in nib)

    # hash each gram ONCE, then probe the k positions off (h1, h2)
    p1 = "CAST(conv(substr(__h, 1, 8), 16, 10) AS BIGINT)"
    p2 = "CAST(conv(substr(__h, 9, 8), 16, 10) AS BIGINT)"
    terms = []
    for i in range(k):
        p = f"((__h1 + {i} * __h2) % {mbits})"
        terms.append(
            f"(CAST(conv(substr(__bm, CAST({p} DIV 4 AS INT) + 1, 1), 16, 10)"
            f" AS INT) & shiftleft(1, CAST({p} % 4 AS INT))) != 0"
        )
    hit = F.expr(" AND ".join(terms))

    # one gram build: n_grams and n_hits from the same exploded stream
    # (see decontaminate); the probe is a narrow expression, so this
    # variant's corpus side has NO join at all before the spine restore
    per_doc = (
        train_stream.select(
            "doc_id", F.md5(F.encode("g", "utf-8")).alias("__h")
        )
        .distinct()  # per-doc distinct grams, combined map-side
        .select("doc_id", F.expr(p1).alias("__h1"), F.expr(p2).alias("__h2"))
        .withColumn("__bm", F.lit(bm_hex))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(hit.cast("long")).alias("n_hits"),
        )
    )
    return (
        train_ids.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


# PII patterns: constructs restricted to the RE2/Java common subset so
# the Spark expressions and the DuckDB oracle match byte-for-byte
PII_EMAIL_RE = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
PII_IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE_RE = r"\b\d{3}[\-]\d{3}[\-]\d{4}\b|\+\d{1,2}[ ]\d{3}[ ]\d{3}[ ]\d{4}\b"


def pii_redact_expr(c: Column) -> Column:
    """The full redaction chain as ONE column expression (no counts) —
    for callers that only want the scrubbed text as a narrow scan-side
    rewrite (e.g. corpus_pipeline's final stage), with no join."""
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(c, PII_EMAIL_RE, "<EMAIL>"),
            PII_IP_RE, "<IP>",
        ),
        PII_PHONE_RE, "<PHONE>",
    )


def pii_redact(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """PII scrubbing (the CCNet/Dolma-style pre-release pass): replace
    emails, IPv4 addresses, and phone numbers with typed placeholder
    tokens, and report per-doc match counts so a pipeline can publish a
    redaction histogram.  Each count is taken on the text AFTER the
    previous replacements, so counts equal the placeholder tokens
    actually inserted (an IPv4 inside an email host is redacted — and
    counted — as part of the email, not double-counted as an IP).

    Pure codegen (regexp_count + chained regexp_replace): runs scan-side
    at full scan speed, no shuffle, no Python — the only acceptable shape
    for a pass that must touch every byte of a 100 TB corpus."""
    c = F.col(text_col)
    n_emails = F.regexp_count(c, F.lit(PII_EMAIL_RE)).cast("long")
    after_email = F.regexp_replace(c, PII_EMAIL_RE, "<EMAIL>")
    n_ips = F.regexp_count(after_email, F.lit(PII_IP_RE)).cast("long")
    after_ip = F.regexp_replace(after_email, PII_IP_RE, "<IP>")
    n_phones = F.regexp_count(after_ip, F.lit(PII_PHONE_RE)).cast("long")
    redacted = pii_redact_expr(c)
    return docs.select(
        "doc_id",
        redacted.alias("redacted"),
        n_emails.alias("n_emails"),
        n_ips.alias("n_ips"),
        n_phones.alias("n_phones"),
        ((n_emails + n_ips + n_phones) > 0).alias("has_pii"),
    )


def hash_bucket(col, buckets: int = 100) -> Column:
    """Deterministic engine-portable hash bucket in [0, buckets): the top
    32 bits of md5 of the value's string form.  Unlike rand()/sampleBy this
    is reproducible run-over-run AND recomputable by any engine that has
    md5 — the property a training-data pipeline needs so a sample drawn
    today can be re-derived (or audited) years later."""
    h = F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("long")
    return (h % buckets).cast("int")


def stratified_sample(docs: DataFrame, rates: dict[str, int],
                      default_pct: int = 0, key_col: str = "source",
                      id_col: str = "doc_id") -> DataFrame:
    """Deterministic per-stratum sampling: keep a doc iff its md5 hash
    bucket < the stratum's percentage.  The workhorse of corpus mixing
    (e.g. 'keep 10% of commoncrawl, 100% of wikipedia'): one narrow
    codegen pass, no shuffle, no RNG state, exact DuckDB oracle."""
    rate = F.lit(default_pct)
    for k, pct in sorted(rates.items()):
        rate = F.when(F.col(key_col) == k, F.lit(pct)).otherwise(rate)
    return docs.filter(hash_bucket(F.col(id_col)) < rate)


def source_quota_cap(docs: DataFrame, cap: int, key_col: str = "source",
                     id_col: str = "doc_id", buckets: int = 32) -> DataFrame:
    """Per-source document quota: keep at most `cap` docs per source,
    chosen by deterministic hash priority (NOT first-seen order, which
    depends on scan parallelism).  Standard anti-domination step for web
    corpora; the hash-priority rank makes the retained set stable under
    re-partitioning and resumable re-runs.

    Skew-safe two-phase rank.  Web corpora are exactly the skewed case —
    one source is routinely >50% of the corpus, so a single
    ``Window.partitionBy(source)`` would push a 50 TB stratum through one
    task.  Phase 1 salts the window key with a deterministic md5 bucket of
    the doc id, ranks within ``(source, bucket)`` and keeps at most `cap`
    per bucket — every task sees at most ~1/buckets of any source.  Phase 2
    ranks the ≤ buckets×cap survivors per source exactly.  Identical
    output: any doc in a source's true top-`cap` is also in its bucket's
    top-`cap` (ranking over a subset can only rank it better), so phase 1
    never drops a keeper, and phase 2 is the exact order over a superset
    of the answer.  Phase 2's per-source input is bounded by buckets×cap
    regardless of corpus size."""
    # md5 priority, id tiebreak: total order, engine-portable
    prio = F.md5(F.col(id_col).cast("string"))
    w1 = F.row_number().over(
        Window.partitionBy(key_col, "__qb").orderBy(prio, F.col(id_col))
    )
    w2 = F.row_number().over(
        Window.partitionBy(key_col).orderBy(prio, F.col(id_col))
    )
    return (
        docs.withColumn("__qb", hash_bucket(F.col(id_col), buckets))
        .withColumn("__rk", w1)
        .filter(F.col("__rk") <= cap)
        .withColumn("__rk", w2)
        .filter(F.col("__rk") <= cap)
        .drop("__rk", "__qb")
    )


def corpus_summary(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-(lang, source) corpus composition report: doc/char/token totals
    and extremes — the table a pipeline run publishes after every stage.
    Integer-only outputs (value-hash exact across engines); map-side
    combined aggregation, one shuffle on the tiny group key."""
    c = F.col(text_col)
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(char_count(c)).alias("total_chars"),
            F.sum(token_count(c)).alias("total_tokens"),
            F.min(token_count(c)).alias("min_tokens"),
            F.max(token_count(c)).alias("max_tokens"),
        )
    )


def document_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    c = F.col(text_col)
    return docs.select(
        "doc_id",
        token_count(c).alias("n_tokens"),
        char_count(c).alias("n_chars2"),
        avg_token_len_x100(c).alias("avg_token_len_x100"),
        quality_score_x1000(c).alias("quality_x1000"),
        langid(c).alias("lang_pred"),
        fingerprint(c).alias("fingerprint"),
    )


def temperature_mix(
    docs: DataFrame,
    budget: int,
    temperature: float = 0.5,
    weight_scale: int = 1000,
    key_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-weighted source mixing: sample the corpus down to
    ~`budget` docs with per-source rates proportional to n_s^temperature
    / n_s — the standard up-weighting of small high-quality sources (and
    down-weighting of the dominant crawl) used when composing LLM
    training mixes.  temperature=1 reproduces natural proportions;
    temperature->0 approaches uniform-per-source.

    Determinism: per-source keep thresholds are computed on the driver
    in EXACT Python integer arithmetic from the per-source counts (a
    bounded collect — one row per source, same pattern as the IVF
    trainer), quantized to parts-per-million, and a doc is kept iff its
    md5 ppm-bucket clears its source's threshold.  For the default
    temperature=0.5 the weight floor(sqrt(n)*scale) is exactly
    reproducible by ANY IEEE-754 engine (sqrt is correctly rounded by
    the standard, unlike pow), so an external auditor can re-derive the
    retained set bit-for-bit; other temperatures use pow() and are
    best-effort-portable.

    Scale shape: one map-side-combined count agg (tiny result), then a
    single narrow scan-side filter — no shuffle of the corpus itself,
    no window, no RNG state."""
    # NULL-key rows form no stratum and are dropped (matching the
    # oracle's inner JOIN on the rates table, which drops NULL keys)
    counts = {
        r[0]: r[1]
        for r in docs.groupBy(key_col).agg(F.count("*").alias("n")).collect()
        if r[0] is not None
    }
    if not counts:
        return docs.filter(F.lit(False))
    import math

    def weight(n: int) -> int:
        if temperature == 0.5:
            return int(math.sqrt(n) * weight_scale)
        return int(math.pow(n, temperature) * weight_scale)

    weights = {s: weight(n) for s, n in counts.items()}
    sum_w = sum(weights.values())
    rate_ppm = {
        s: min(
            1_000_000,
            (budget * weights[s] * 1_000_000) // (counts[s] * sum_w),
        )
        for s in counts
    }
    thresh = F.lit(0)
    for s in sorted(rate_ppm):
        thresh = F.when(F.col(key_col) == s, F.lit(rate_ppm[s])).otherwise(thresh)
    return docs.filter(hash_bucket(F.col(id_col), 1_000_000) < thresh)


def chunk_sliding(
    docs: DataFrame,
    window: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window token chunking: split each document into training
    chunks of `window` whitespace tokens advancing by `stride` (overlap
    = window - stride carries context across chunk boundaries).  Every
    doc yields at least one chunk; the final chunk may be short.

    Pure narrow built-ins (sequence/transform/slice + one explode) —
    zero shuffle, no Python; chunk counts derive from integer
    arithmetic so the layout is engine-reproducible."""
    assert 0 < stride <= window, "need 0 < stride <= window"
    toks = tokens(F.col(text_col))
    n = F.size("__toks").cast("long")
    n_chunks = 1 + F.floor(
        (F.greatest(n - window, F.lit(0)) + (stride - 1)) / stride
    ).cast("long")
    chunk = F.slice(
        F.col("__toks"), F.col("__i").cast("int") * stride + 1, window
    )
    return (
        docs.select(F.col(id_col), toks.alias("__toks"))
        .select(
            id_col,
            "__toks",
            F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias("__i"),
        )
        .select(
            id_col,
            F.col("__i").alias("chunk_id"),
            F.size(chunk).cast("long").alias("n_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


def blocklist_flags(
    docs: DataFrame,
    terms: "list[str]",
    text_col: str = "text",
) -> DataFrame:
    """C4-style blocklist filter: per-doc hit count against a term list
    (single words match on word boundaries, multi-word phrases match
    literally) and the keep verdict `n_blocked == 0`.

    Scale shape: the list compiles to ONE case-insensitive alternation
    regex evaluated scan-side (codegen `regexp_count`) — no broadcast
    table, no shuffle, no UDF; the blocklist is pattern state, exactly
    how C4 ran its badwords filter.  The emitted regex subset (\\b,
    literal alternation, no lookaround) is Java/RE2-common FOR ASCII
    TERMS — (?i) case folding differs between the engines outside
    ASCII, so non-ASCII terms belong in a per-language variant, not
    here.  Terms are regex-escaped ('_' stays literal: escaping it is
    invalid in RE2); a \\b anchor is added only where the term edge is
    a word character, so punctuation-edged terms ('c++') remain
    matchable instead of being killed by an unsatisfiable boundary."""
    def _word(ch: str) -> bool:
        return ch.isalnum() or ch == "_"

    parts = []
    # strip BEFORE the truthiness guard: a whitespace-only term like ' '
    # would otherwise survive and compile to the alternation branch '[ ]',
    # marking every document containing a space as blocked
    for t in sorted({t.strip().lower() for t in terms if t and t.strip()}):
        esc = "".join("\\" + ch if not _word(ch) and ch != " " else ch
                      for ch in t)
        esc = esc.replace(" ", "[ ]")
        lead = r"\b" if _word(t[0]) else ""
        tail = r"\b" if _word(t[-1]) else ""
        parts.append(f"{lead}{esc}{tail}")
    if not parts:
        # empty blocklist blocks nothing (an empty alternation would
        # instead match at every position)
        return docs.select(
            "doc_id",
            F.lit(0).cast("long").alias("n_blocked"),
            F.lit(True).alias("keep"),
        )
    pattern = "(?i)(" + "|".join(parts) + ")"
    n = F.regexp_count(F.col(text_col), F.lit(pattern)).cast("long")
    return docs.select(
        "doc_id",
        n.alias("n_blocked"),
        (n == 0).alias("keep"),
    )


def source_token_quota(
    docs: DataFrame,
    cap_tokens: int,
    key_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    num_parts: int | None = None,
) -> DataFrame:
    """Token-BUDGET source quota: keep each source's md5-priority
    prefix of documents whose EXCLUSIVE cumulative token count is
    below ``cap_tokens`` — the doc that crosses the cap is the last
    one kept (standard budget semantics: the cap may overshoot by at
    most one document).  The doc-count quota (source_quota_cap)
    balances document mixes; this balances what training actually
    consumes — tokens.

    Scale shape: the per-source cumulative sum is the GROUPED
    two-phase distributed prefix (same pattern as fetch_waves /
    the ppl buckets): range-partition on (source, md5-priority),
    per-partition local cumsum — fully parallel — then an exclusive
    prefix over the P-row per-(source, partition) totals broadcast
    back.  No source ever serializes onto one task, so a mega-source
    (the crawl's head domain) cannot straggle the stage.  NULL sources
    group together via a never-null struct key (the null-unsafe join
    guard shared with the siblings).

    Returns (doc_id, source, n_tok, tokens_before, keep), one row per
    input doc."""
    spark = docs.sparkSession
    parts = num_parts or int(spark.conf.get("spark.sql.shuffle.partitions"))
    sk = F.struct(
        F.col(key_col).isNull().alias("n"),
        F.coalesce(F.col(key_col).cast("string"), F.lit("")).alias("k"),
    )
    d = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.col(key_col).alias("source"),
            token_count(F.col(text_col)).alias("n_tok"),
        )
        .withColumn("__sk", sk)
        .withColumn("ord", F.md5(F.col("doc_id").cast("string")))
        .repartitionByRange(parts, "__sk", "ord", "doc_id")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w_local = Window.partitionBy("pid", "__sk").orderBy("ord", "doc_id")
    local = d.withColumn("local_sum", F.sum("n_tok").over(w_local))
    totals = d.groupBy("pid", "__sk").agg(F.sum("n_tok").alias("ptok"))
    w_off = (
        Window.partitionBy("__sk")
        .orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.withColumn(
        "poffset", F.coalesce(F.sum("ptok").over(w_off), F.lit(0)).cast("long")
    )
    return (
        local.join(
            F.broadcast(offsets.select("pid", "__sk", "poffset")),
            ["pid", "__sk"],
        )
        .withColumn(
            "tokens_before",
            (F.col("local_sum") - F.col("n_tok") + F.col("poffset")).cast(
                "long"
            ),
        )
        .select(
            "doc_id",
            "source",
            F.col("n_tok").cast("long").alias("n_tok"),
            "tokens_before",
            (F.col("tokens_before") < F.lit(int(cap_tokens))).alias("keep"),
        )
    )


def vocab_coverage(
    docs: DataFrame,
    ks: "list[int]" = (10, 100, 1000),
    text_col: str = "text",
    num_parts: int | None = None,
) -> DataFrame:
    """Vocabulary coverage curve: for each K, the fraction of corpus
    TOKEN OCCURRENCES covered by the K most frequent words — the
    diagnostic that sizes tokenizer vocabularies and stopword lists
    (a steep curve says a small vocab suffices; a flat one says the
    corpus is long-tailed and subword units are mandatory).

    Scale shape: ONE corpus scan builds the word histogram (map-side
    combined); the frequency ranking and the cumulative occurrence
    count are the two-phase distributed prefix pattern run in
    (count DESC, word) order — range-partition the histogram, local
    rank+cumsum per partition, exclusive prefix over the P-row totals
    broadcast back.  No vocabulary-sized single-task window.  The K
    thresholds are plan literals; output is len(ks) rows.

    Returns (k, covered_tokens, total_tokens, coverage_ppm) with
    coverage_ppm = covered * 10^6 div total (exact BIGINT)."""
    spark = docs.sparkSession
    parts = num_parts or int(spark.conf.get("spark.sql.shuffle.partitions"))
    hist = (
        docs.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    d = (
        hist.repartitionByRange(parts, F.col("cnt").desc(), F.col("w"))
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w_local = Window.partitionBy("pid").orderBy(F.desc("cnt"), F.asc("w"))
    local = d.withColumn("lrank", F.row_number().over(w_local)).withColumn(
        "lcum", F.sum("cnt").over(w_local)
    )
    totals = d.groupBy("pid").agg(
        F.count(F.lit(1)).alias("pcnt"), F.sum("cnt").alias("ptok")
    )
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "pid",
        F.coalesce(F.sum("pcnt").over(w_off), F.lit(0)).cast("long").alias(
            "roff"
        ),
        F.coalesce(F.sum("ptok").over(w_off), F.lit(0)).cast("long").alias(
            "toff"
        ),
    )
    ranked = local.join(F.broadcast(offsets), "pid").select(
        (F.col("lrank") + F.col("roff")).alias("rank"),
        (F.col("lcum") + F.col("toff")).alias("cum"),
    )
    # total tokens from the checkpointed per-partition totals, NOT from
    # `hist`: aggregating the un-materialized hist re-ran the corpus
    # explode + groupBy a second time (ADVICE r6 finding — the ONE
    # corpus scan contract now actually holds)
    total = totals.agg(F.sum("ptok").cast("long").alias("total_tokens"))
    rows = None
    for k in ks:
        cov = (
            ranked.filter(F.col("rank") <= int(k))
            .agg(F.max("cum").cast("long").alias("covered_tokens"))
            .select(
                F.lit(int(k)).cast("long").alias("k"), "covered_tokens"
            )
        )
        rows = cov if rows is None else rows.unionByName(cov)
    return (
        rows.crossJoin(F.broadcast(total))
        .select(
            "k",
            F.coalesce("covered_tokens", F.lit(0)).cast("long").alias(
                "covered_tokens"
            ),
            "total_tokens",
            F.expr(
                "coalesce(covered_tokens, 0L) * 1000000L div total_tokens"
            ).alias("coverage_ppm"),
        )
        .orderBy("k")
    )
