"""Heuristic language identification — the classic profile-scoring
method (Cavnar & Trenkle '94 family) specialized to the word-level
n=1 profile: count each language's highest-frequency function words
(tokenized case-insensitively on non-letter boundaries) plus a Han
codepoint count for Chinese, and take the arg-max.

Function-word counting beats raw character n-grams for the
Latin-script languages here because the profiles are tiny (8 words
each), exact-integer, and collision-free under tokenization, while
char n-grams need hundreds of entries and a ranked-distance metric to
reach the same separation — the wrong trade for a scan-side operator
whose whole point is running inside whole-stage codegen at 100 TB.

Everything is pure JVM codegen — ONE tokenization (`split` on a
Unicode letter class) shared by all four Latin profiles via
higher-order `filter`s, one `regexp_extract_all` for the Han count,
and a deterministic CASE arg-max (ties broken by language code order,
all-zero scores map to 'und').  Zero shuffle, zero UDF; the exact
DuckDB counterpart (list_filter over regexp_split_to_array) makes
every score value-hash-checkable.

100-TB shape: a narrow per-row projection on the document scan — the
cost is one pass over the text bytes per profile; Catalyst prunes to
(doc_id, text) at the parquet reader.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 8 highest-frequency function words per language — public-knowledge
# stopword cores.  Overlapping entries (que, de) are fine: arg-max
# integrates over the whole profile.
PROFILES: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "und", "das", "nicht", "ist", "ein", "mit"),
    "en": ("the", "and", "of", "to", "is", "that", "in", "it"),
    "es": ("el", "los", "las", "es", "una", "que", "de", "y"),
    "fr": ("le", "la", "les", "et", "est", "que", "des", "une"),
}

# CJK Unified Ideographs (BMP block) — counted per CODEPOINT, since
# Chinese has no word boundaries to tokenize on
_HAN_RE = "[一-鿿]"

# deterministic tiebreak order for the arg-max CASE chain
LANGS = ("de", "en", "es", "fr", "zh")


def _tokens(text: Column) -> Column:
    return F.filter(
        F.split(F.lower(text), r"[^\p{L}]+"), lambda t: t != ""
    )


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language integer evidence scores for one text column."""
    toks = _tokens(text)
    scores: dict[str, Column] = {}
    for lang, words in PROFILES.items():
        scores[lang] = F.size(
            F.filter(toks, lambda t: t.isin(*words))
        ).cast("long")
    scores["zh"] = F.size(
        F.regexp_extract_all(text, F.lit(_HAN_RE), F.lit(0))
    ).cast("long")
    return scores


def _arg_max(s: dict[str, Column]) -> Column:
    best = F.greatest(*[s[lang] for lang in LANGS])
    pred = F.when(best == 0, F.lit("und"))
    for lang in LANGS:
        pred = pred.when(s[lang] == best, F.lit(lang))
    return pred


def langid(text: Column) -> Column:
    """The arg-max language code of `text`: 'und' when no profile scores
    at all, ties broken by code order."""
    return _arg_max(lang_scores(text))


def identify_language(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, score_de..score_zh, lang_pred) — lang_pred is `langid`
    over the same scores."""
    s = lang_scores(F.col(text_col))
    cols = [F.col(id_col)]
    cols += [s[lang].alias(f"score_{lang}") for lang in LANGS]
    cols.append(_arg_max(s).alias("lang_pred"))
    return docs.select(*cols)
