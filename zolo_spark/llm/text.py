"""Text-analysis operators: language ID, quality, tokens, fingerprint.

All pure ``pyspark.sql.functions`` expressions — the hot path stays in
whole-stage codegen; no Python touches a row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..ops.partitioning import fan_out

# BPE-ish pretokenizer: letter runs, digit runs, single non-space symbols
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# tiny per-language stopword panels for the n-gram/stopword heuristic;
# scoring is array_contains-based so engines agree exactly
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "die"],
    "fr": ["le", "et", "les"],
    "es": ["el", "y", "los"],
    "zh": ["de", "shi", "le"],
}


def tokens(col) -> Column:
    """Whitespace tokens of lowercased text."""
    return F.split(F.lower(col), " ")


def token_count_ws(col) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col))


def token_count_bpe(col) -> Column:
    """BPE-ish token count via the pretokenizer regex."""
    return F.size(F.regexp_extract_all(col, F.lit(TOKEN_REGEX), 0))


def punct_ratio(col) -> Column:
    """Punctuation chars / total chars (0 for empty text)."""
    n_punct = F.size(F.regexp_extract_all(col, F.lit(r"[^A-Za-z0-9\s]"), 0))
    return n_punct / F.greatest(F.length(col), F.lit(1))


def stopword_ratio(col, stopwords: list[str] | None = None) -> Column:
    """English-stopword tokens / total tokens."""
    sw = stopwords or ["the", "a", "and", "of", "to", "in", "is"]
    t = tokens(col)
    hits = F.size(F.filter(t, lambda x: x.isin(*sw)))
    return hits / F.greatest(F.size(t), F.lit(1))


def mean_token_len(col) -> Column:
    t = tokens(col)
    return F.aggregate(
        t, F.lit(0.0), lambda acc, x: acc + F.length(x).cast("double")
    ) / F.greatest(F.size(t), F.lit(1))


def quality_score(col) -> Column:
    """Composite heuristic quality in [0,1]: long enough, low punct,
    sane stopword density. Weights are engine policy, not learned."""
    length_ok = F.least(F.length(col).cast("double") / 200.0, F.lit(1.0))
    low_punct = 1.0 - F.least(punct_ratio(col) * 5.0, F.lit(1.0))
    sw = stopword_ratio(col)
    sw_ok = F.when((sw >= 0.05) & (sw <= 0.6), F.lit(1.0)).otherwise(F.lit(0.3))
    return F.round(0.4 * length_ok + 0.3 * low_punct + 0.3 * sw_ok, 4)


def lang_scores(col) -> list[tuple[str, Column]]:
    t = tokens(col)
    out = []
    for lang, words in LANG_STOPWORDS.items():
        score = sum(
            (F.array_contains(t, w).cast("int") for w in words), F.lit(0)
        )
        out.append((lang, score))
    return out


def lang_id(col) -> Column:
    """Stopword-panel language guess; deterministic first-wins tie
    order (the dict order of LANG_STOPWORDS)."""
    scores = lang_scores(col)
    best_score = F.greatest(*[s for _, s in scores])
    expr = F.lit("und")
    for lang, score in reversed(scores):
        expr = F.when((score == best_score) & (best_score > 0), F.lit(lang)).otherwise(expr)
    return expr


def normalized(col) -> Column:
    """Normalization for fingerprinting: lowercase, strip non-alnum
    (keeping spaces), collapse whitespace."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^a-z0-9\s]", "")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def fingerprint(col) -> Column:
    """Content fingerprint: md5 of normalized text (rolling-hash role;
    md5 keeps it portable to the oracle engine)."""
    return F.md5(normalized(col))


def text_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One-pass document statistics table."""
    c = F.col(text_col)
    return fan_out(df).select(
        id_col,
        F.length(c).alias("n_chars"),
        token_count_ws(c).alias("n_tokens_ws"),
        token_count_bpe(c).alias("n_tokens_bpe"),
        F.round(punct_ratio(c), 4).alias("punct_ratio"),
        F.round(stopword_ratio(c), 4).alias("stopword_ratio"),
        F.round(mean_token_len(c), 4).alias("mean_token_len"),
        quality_score(c).alias("quality"),
        lang_id(c).alias("lang_guess"),
        fingerprint(c).alias("fingerprint"),
    )


# ------------------------------------------------------------ PII ops

# Patterns restricted to the syntax subset Java regex and RE2 treat
# identically (no alternation, no lookaround): masking is therefore
# engine-portable and oracle-able.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\b\d{3}-\d{4}\b"


def pii_counts(col) -> list[tuple[str, Column]]:
    """(name, count) per PII class — count BEFORE masking."""
    return [
        ("n_emails", F.size(F.regexp_extract_all(col, F.lit(PII_EMAIL), 0))),
        ("n_ips", F.size(F.regexp_extract_all(col, F.lit(PII_IPV4), 0))),
        ("n_phones", F.size(F.regexp_extract_all(col, F.lit(PII_PHONE), 0))),
    ]


def mask_pii(col) -> Column:
    """Redact emails → <EMAIL>, IPv4s → <IP>, phones → <PHONE>.

    Order matters and is fixed: emails first (their local part may
    embed digits), then IPs (dotted digits would otherwise be eaten by
    a later numeric pass), then phones. A training pipeline runs this
    before tokenization; everything is whole-stage-codegen
    ``regexp_replace``, no Python in the row path."""
    c = F.regexp_replace(col, PII_EMAIL, "<EMAIL>")
    c = F.regexp_replace(c, PII_IPV4, "<IP>")
    c = F.regexp_replace(c, PII_PHONE, "<PHONE>")
    return c


def pii_redact(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Per-doc PII counts + the redacted text."""
    c = F.col(text_col)
    return fan_out(df).select(
        id_col,
        *[cnt.alias(name) for name, cnt in pii_counts(c)],
        mask_pii(c).alias("masked_text"),
    )


# ----------------------------------------------- repetition signals

def _grams(t, n: int) -> Column:
    """Word n-grams WITH multiplicity (repetition analysis needs
    occurrence counts, unlike the dedup shingles which are distinct)."""
    idx = F.sequence(F.lit(0), F.size(t) - n)
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(t, (i + j + 1)) for j in range(n)]
        ),
    )
    return F.when(F.size(t) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def repetition_stats(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition quality signals per document: unique
    token ratio, most-frequent token / bigram fractions, duplicate
    trigram fraction. The classic cheap filters for degenerate or
    boilerplate-heavy training text. Shape: explode → two-level
    aggregation (gram counts, then per-doc max/total) — distributed
    partial aggregation, no per-doc maps held in memory, so a 100 TB
    corpus streams through. All ratios are exact integer divisions.
    """
    base = fan_out(df).select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("t")
    )

    def top_agg(col: Column, name: str) -> DataFrame:
        counts = (
            base.select("doc_id", F.explode(col).alias("g"))
            .groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
        )
        return counts.groupBy("doc_id").agg(
            F.sum("c").alias(f"{name}_total"),
            F.count(F.lit(1)).alias(f"{name}_uniq"),
            F.max("c").alias(f"{name}_top"),
        )

    toks = top_agg(F.col("t"), "tok")
    bis = top_agg(_grams(F.col("t"), 2), "bi")
    tris = top_agg(_grams(F.col("t"), 3), "tri")

    def frac(num: Column, den: Column) -> Column:
        return F.when(den > 0, num.cast("double") / den.cast("double"))

    out = (
        base.select("doc_id", F.size("t").alias("n_tokens"))
        .join(toks, "doc_id", "left")
        .join(bis, "doc_id", "left")
        .join(tris, "doc_id", "left")
    )
    return out.select(
        "doc_id", "n_tokens",
        frac(F.col("tok_uniq"), F.col("tok_total"))
        .alias("uniq_token_ratio"),
        frac(F.col("tok_top"), F.col("tok_total"))
        .alias("top_token_fraction"),
        frac(F.col("bi_top"), F.col("bi_total"))
        .alias("top_bigram_fraction"),
        frac(F.col("tri_total") - F.col("tri_uniq"), F.col("tri_total"))
        .alias("dup_trigram_fraction"),
    )
