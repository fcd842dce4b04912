"""Text-analysis column functions for the training-data pipeline surface.

All pure Catalyst expressions (JVM-side, codegen'd) — no Python UDFs in the
hot path. Each function has an exactly-equivalent ANSI-SQL spelling used by
the DuckDB oracle (kept adjacent as ``*_sql`` so the two can't drift).

These extend the reference's surface (the reference has no text operators —
SURVEY.md §2 bottom note); they are the engine-roadmap operators a 100 TB
LLM-data pipeline needs: token counting, language ID, quality scoring,
document fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny deterministic English stopword list for the n-gram/stopword heuristic
# language ID. Order matters only for readability; membership is what counts.
EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"]


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def token_count(text: Column | str) -> Column:
    """Whitespace token count (long)."""
    return F.size(F.split(F.trim(_col(text)), r"\s+")).cast("long")


def token_count_sql(expr: str) -> str:
    return f"CAST(len(string_split_regex(trim({expr}), '\\s+')) AS BIGINT)"


def stopword_ratio(text: Column | str) -> Column:
    """Fraction of whitespace tokens that are EN stopwords (double)."""
    toks = F.split(F.trim(_col(text)), r"\s+")
    hits = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
    return (hits.cast("double") / F.size(toks).cast("double"))


def stopword_ratio_sql(expr: str) -> str:
    inlist = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    toks = f"string_split_regex(trim({expr}), '\\s+')"
    return (
        f"CAST(len(list_filter({toks}, t -> t IN ({inlist}))) AS DOUBLE)"
        f" / CAST(len({toks}) AS DOUBLE)"
    )


def language_id(text: Column | str, threshold: float = 0.05) -> Column:
    """Heuristic language ID: 'en' if stopword ratio >= threshold else 'und'."""
    return F.when(stopword_ratio(text) >= F.lit(threshold), F.lit("en")).otherwise(
        F.lit("und")
    )


def language_id_sql(expr: str, threshold: float = 0.05) -> str:
    return (
        f"CASE WHEN {stopword_ratio_sql(expr)} >= {threshold} "
        "THEN 'en' ELSE 'und' END"
    )


def alpha_ratio(text: Column | str) -> Column:
    """Fraction of characters that are ascii letters or space (double)."""
    c = _col(text)
    kept = F.length(F.regexp_replace(c, "[^a-zA-Z ]", ""))
    return kept.cast("double") / F.length(c).cast("double")


def alpha_ratio_sql(expr: str) -> str:
    return (
        f"CAST(length(regexp_replace({expr}, '[^a-zA-Z ]', '', 'g')) AS DOUBLE)"
        f" / CAST(length({expr}) AS DOUBLE)"
    )


def quality_score_cols(text: Column | str) -> dict[str, Column]:
    """Quality-signal bundle: n_tokens, mean token length, stopword ratio,
    alpha ratio, and a composite score in [0,1]."""
    c = _col(text)
    n_tokens = token_count(c)
    mean_tok = (F.length(c) - (n_tokens - 1)).cast("double") / n_tokens.cast("double")
    sw = stopword_ratio(c)
    ar = alpha_ratio(c)
    # Composite: reward en-like stopword presence and clean alphabetic text,
    # clamp the token-length signal to [0,1] around a 3-8 char sweet spot.
    len_sig = F.when((mean_tok >= 3) & (mean_tok <= 8), F.lit(1.0)).otherwise(F.lit(0.5))
    score = F.least(F.lit(1.0), (sw * 2 + ar + len_sig) / 4.0)
    return {
        "n_tokens": n_tokens,
        "mean_token_len": mean_tok,
        "stopword_ratio": sw,
        "alpha_ratio": ar,
        "quality_score": score,
    }


def quality_score_sql(expr: str) -> dict[str, str]:
    n_tokens = token_count_sql(expr)
    mean_tok = (
        f"CAST(length({expr}) - ({n_tokens} - 1) AS DOUBLE) / CAST({n_tokens} AS DOUBLE)"
    )
    sw = stopword_ratio_sql(expr)
    ar = alpha_ratio_sql(expr)
    len_sig = f"CASE WHEN ({mean_tok}) >= 3 AND ({mean_tok}) <= 8 THEN 1.0 ELSE 0.5 END"
    score = f"least(1.0, (({sw}) * 2 + ({ar}) + ({len_sig})) / 4.0)"
    return {
        "n_tokens": n_tokens,
        "mean_token_len": mean_tok,
        "stopword_ratio": sw,
        "alpha_ratio": ar,
        "quality_score": score,
    }


def doc_fingerprint(text: Column | str) -> Column:
    """Deterministic content fingerprint (md5 hex) for exact dedup/lineage."""
    return F.md5(_col(text).cast("binary"))


def doc_fingerprint_sql(expr: str) -> str:
    return f"md5({expr})"
