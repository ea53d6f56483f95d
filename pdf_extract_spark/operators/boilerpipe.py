"""Densitometric boilerplate classification — the second, fully
DECLARATIVE algorithm for the north rule's "HTML boilerplate strip":
Kohlschuetter et al.'s shallow-text-features block classifier
("Boilerplate Detection Using Shallow Text Features", WSDM 2010 —
the published NumWordsRulesClassifier decision rules), re-expressed as
pure DataFrame operations.

Where ``html_main.py`` is a readability-style DOM kernel running inside
a per-document Arrow stage, this operator keeps EVERYTHING in the JVM:

1. Non-content subtrees (script/style/noscript/template, comments) are
   removed scan-side with non-greedy regexes (no backreferences — the
   oracle engine's RE2 has none).
2. The document is segmented into text blocks by rewriting every
   block-level tag to a \\x01 sentinel and splitting — the classic
   densitometric segmentation (block-level tags delimit visual blocks;
   inline tags do not).
3. Per block, two scan-side numbers: total words and words inside
   anchor elements (computed as total minus words-after-removing-<a>
   subtrees, so no nested extraction pass is needed).
4. The WSDM'10 decision rules classify each block from (prev, curr,
   next) word counts and link densities — lag/lead window functions
   over the in-document block order.  All thresholds are evaluated by
   INTEGER cross-multiplication (3*link <= words, 1e6*link <= 555556 *
   words) so no float division can diverge between engines.

100-TB shape: steps 1-3 are a single narrow projection (regex in
whole-stage codegen, posexplode — zero shuffles); step 4 is ONE window
shuffle keyed by doc (blocks of one document are never split across
tasks, and documents are the natural parallel unit).  No Python touches
the hot path at all — this is the boilerplate algorithm Catalyst can
push filters through, unlike any UDF kernel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# block-level elements delimit densitometric blocks (inline tags like
# <a>/<b>/<span> do not); br/hr are visual separators and count too
BLOCK_TAG_RE = (
    r"(?i)</?(?:p|div|h[1-6]|ul|ol|li|table|thead|tbody|tr|td|th|"
    r"blockquote|pre|section|article|main|header|footer|nav|aside|form|"
    r"figure|figcaption|br|hr)\b[^>]*>"
)

# each non-content subtree gets its own non-greedy pattern: RE2 (the
# oracle engine) has no backreferences, so no </\1> trick
DROP_SUBTREE_RES = (
    r"(?is)<head\b[^>]*>.*?</head>",
    r"(?is)<script\b[^>]*>.*?</script>",
    r"(?is)<style\b[^>]*>.*?</style>",
    r"(?is)<noscript\b[^>]*>.*?</noscript>",
    r"(?is)<template\b[^>]*>.*?</template>",
    r"(?s)<!--.*?-->",
)

ANCHOR_SUBTREE_RE = r"(?is)<a\b[^>]*>.*?</a>"
TAG_RE = r"<[^>]*>"

# WSDM'10 NumWordsRulesClassifier thresholds; densities are compared by
# integer cross-multiplication: link/words <= 0.333333... -> 3*link <=
# words; prev_density <= 0.555556 -> 10^6*link <= 555556*words
CURR_MAX_LINK_NUM, CURR_MAX_LINK_DEN = 1, 3
PREV_LINK_NUM, PREV_LINK_DEN = 555_556, 1_000_000


def _word_count(col):
    return F.size(F.regexp_extract_all(F.regexp_replace(col, TAG_RE, " "),
                                       F.lit(r"\S+"), F.lit(0)))


def segment_blocks(pages: DataFrame, url_col: str = "url",
                   html_col: str = "html") -> DataFrame:
    """(url, html) -> one row per non-empty text block:
    (url, pos, text, words, link_words), pos = in-document order."""
    cleaned = F.col(html_col)
    for pat in DROP_SUBTREE_RES:
        cleaned = F.regexp_replace(cleaned, pat, " ")
    parts = F.split(F.regexp_replace(cleaned, BLOCK_TAG_RE, "\x01"), "\x01")
    blocks = pages.select(
        F.col(url_col).alias("url"),
        F.posexplode(parts).alias("pos", "raw"),
    )
    return (
        blocks.select(
            "url",
            "pos",
            F.trim(
                F.regexp_replace(
                    F.regexp_replace("raw", TAG_RE, " "), r"\s+", " "
                )
            ).alias("text"),
            _word_count(F.col("raw")).alias("words"),
            (
                _word_count(F.col("raw"))
                - _word_count(F.regexp_replace("raw", ANCHOR_SUBTREE_RE, " "))
            ).alias("link_words"),
        )
        .where(F.col("words") > 0)
    )


def classify_blocks(blocks: DataFrame) -> DataFrame:
    """Apply the published decision rules over (prev, curr, next) block
    features; one doc-keyed window shuffle, integer-only comparisons.

    Rules (CONTENT iff):
      curr link density <= 1/3 AND
        prev density <= 0.555556:
          curr words > 16, OR next words > 15, OR prev words > 4
        prev density  > 0.555556:
          curr words > 40, OR next words > 17
    """
    w = Window.partitionBy("url").orderBy("pos")
    feat = blocks.select(
        "url", "pos", "text", "words", "link_words",
        F.coalesce(F.lag("words").over(w), F.lit(0)).alias("p_words"),
        F.coalesce(F.lag("link_words").over(w), F.lit(0)).alias("p_link"),
        F.coalesce(F.lead("words").over(w), F.lit(0)).alias("n_words"),
    )
    curr_ok = (
        F.col("link_words") * CURR_MAX_LINK_DEN
        <= F.col("words") * CURR_MAX_LINK_NUM
    )
    prev_low = F.col("p_link") * PREV_LINK_DEN <= F.col("p_words") * PREV_LINK_NUM
    content = curr_ok & F.when(
        prev_low,
        (F.col("words") > 16) | (F.col("n_words") > 15) | (F.col("p_words") > 4),
    ).otherwise((F.col("words") > 40) | (F.col("n_words") > 17))
    return feat.select(
        "url",
        F.row_number().over(w).alias("block_ord"),
        F.col("words").cast("long").alias("words"),
        F.col("link_words").cast("long").alias("link_words"),
        F.when(content, F.lit("content")).otherwise(F.lit("boilerplate")).alias(
            "label"
        ),
        "text",
    )


def densitometric_blocks(pages: DataFrame, url_col: str = "url",
                         html_col: str = "html") -> DataFrame:
    """Full pipeline: segment -> feature -> classify."""
    return classify_blocks(segment_blocks(pages, url_col, html_col))
