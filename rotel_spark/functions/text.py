"""Text-analysis functions for training-data pipelines.

Not present in the reference (rotel is telemetry ETL); these are the
large-scale corpus-processing ops the task brief requires as
first-class components: token counting, quality scoring, language-ID
heuristic, document fingerprinting. All pure JVM expressions —
codegen'd, no Python — and each has a dialect-portable SQL twin used
by the DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# small stopword list per language for the n-gram/stopword lang-id heuristic
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "die", "und", "das", "ist"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "et", "les", "des"],
}


def token_count(text: Column) -> Column:
    """Whitespace tokenization count (0 for empty/blank)."""
    trimmed = F.trim(text)
    return F.when(trimmed == "", F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def token_count_sql(col: str) -> str:
    """DuckDB oracle twin of token_count."""
    return (
        f"CASE WHEN trim({col}) = '' THEN 0 "
        f"ELSE len(regexp_split_to_array(trim({col}), '\\s+')) END"
    )


BPE_ISH_PATTERN = r"\w+|[^\w\s]+"


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish count: word runs + punctuation runs (a cheap BPE
    stand-in). RE2-compatible pattern (no lookaround) so the DuckDB
    oracle can use the identical regex."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), F.lit(0)))


def bpe_ish_token_count_sql(col: str) -> str:
    return f"len(regexp_extract_all({col}, '{BPE_ISH_PATTERN}'))"


def punct_ratio(text: Column) -> Column:
    clean = F.regexp_replace(text, r"[^!-/:-@\[-`{-~]", "")
    return F.length(clean) / F.greatest(F.length(text), F.lit(1))


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    words = F.split(F.lower(text), r"\s+")
    stops = F.filter(words, lambda w: w.isin(STOPWORDS[lang]))
    return F.size(stops) / F.greatest(F.size(words), F.lit(1))


def quality_score(text: Column) -> Column:
    """Heuristic doc quality in [0,1]: length band + low punctuation.

    score = 0.5 * min(1, n_chars/400) + 0.5 * (1 - min(1, 4*punct_ratio))
    """
    len_part = F.least(F.length(text) / F.lit(400.0), F.lit(1.0))
    punct_part = F.lit(1.0) - F.least(punct_ratio(text) * 4, F.lit(1.0))
    return (F.lit(0.5) * len_part + F.lit(0.5) * punct_part).alias(
        "quality_score"
    )


def _occ(text: Column, needle: str) -> Column:
    """Occurrences of needle in ' '+lower(text)+' ' (substring count)."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("int")


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language stopword occurrence counts."""
    return {
        lang: sum(
            (_occ(text, f" {w} ") for w in words), start=F.lit(0)
        )
        for lang, words in STOPWORDS.items()
    }


def lang_id_heuristic(text: Column) -> Column:
    """Stopword-vote language ID over {en,de,es,fr}; 'und' if no vote.

    Rule (fixed priority on ties: en > de > es > fr): first language in
    priority order whose score is positive and >= all others. Exactly
    mirrored by lang_id_sql() for the DuckDB oracle.
    """
    s = lang_scores(text)
    order = ["en", "de", "es", "fr"]
    expr = F.lit("und")
    for lang in reversed(order):
        others = [s[o] for o in order if o != lang]
        cond = s[lang] > 0
        for o in others:
            cond = cond & (s[lang] >= o)
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


def lang_scores_sql(col: str) -> dict[str, str]:
    """Dialect-portable SQL twins of lang_scores (length/replace/lower
    arithmetic — identical semantics in Spark SQL and DuckDB)."""
    out = {}
    pad = f"(' ' || lower({col}) || ' ')"
    for lang, words in STOPWORDS.items():
        terms = [
            f"CAST((length({pad}) - length(replace({pad}, ' {w} ', '')))"
            f" / {len(w) + 2} AS INT)"
            for w in words
        ]
        out[lang] = "(" + " + ".join(terms) + ")"
    return out


def lang_id_case_sql(scores: dict[str, str]) -> str:
    """CASE expression over precomputed score columns/exprs, mirroring
    lang_id_heuristic's tie rule."""
    order = ["en", "de", "es", "fr"]
    whens = []
    for lang in order:
        conds = [f"{scores[lang]} > 0"] + [
            f"{scores[lang]} >= {scores[o]}" for o in order if o != lang
        ]
        whens.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return "CASE " + " ".join(whens) + " ELSE 'und' END"


def shingles(text: Column, k: int = 3) -> Column:
    """Word k-shingles as an array<string> (for MinHash/Jaccard)."""
    words = F.split(F.lower(F.trim(text)), r"\s+")
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.when(n < k, F.array(F.array_join(words, " "))).otherwise(
        F.transform(
            idx, lambda i: F.array_join(F.slice(words, i + 1, k), " ")
        )
    )
