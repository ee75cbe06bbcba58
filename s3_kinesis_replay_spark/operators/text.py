"""Text-analysis operators for training-data pipelines (north-star §2.I9):
language-ID, quality scoring, token counting, document fingerprinting.

Everything is codegen expressions over the documents table — no Python in
the row path; each scales as a single narrow projection (no shuffle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# Tiny per-language marker lexicons (n-gram heuristic): public-knowledge
# stopword fragments. Real language ID would be a fastText-style model —
# the operator's *shape* (score-per-language, argmax) is what scales.
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in"],
    "de": ["der", "die", "und", "das", "ist"],
    "es": ["el", "la", "de", "que", "los"],
    "fr": ["le", "la", "et", "les", "des"],
    "zh": ["的", "是", "了", "在", "我"],
}

STOPWORDS = sorted({w for ws in LANG_MARKERS.values() for w in ws if w.isascii()})


def token_count(text: Column) -> Column:
    """Whitespace token count (BPE-ish heuristic: ~words + punct runs)."""
    return F.size(F.split(F.trim(text), r"\s+"))


# Match-based (not split-based) so the pattern needs no lookarounds and is
# identical under Java regex (Spark) and RE2 (DuckDB): tokens are maximal
# runs of lowercase alpha OR of non-alpha-non-space — the same boundaries
# the old lookaround split produced (verified 0 diffs on fixtures).
BPE_ISH_TOKEN_RE = r"[a-z]+|[^a-z\s]+"


def bpe_ish_token_count(text: Column) -> Column:
    """Regex sub-word segmentation count: alpha runs, digit runs, punct."""
    return F.size(
        F.regexp_extract_all(F.lower(text), F.lit(BPE_ISH_TOKEN_RE), F.lit(0))
    )


def language_scores(text: Column) -> list[Column]:
    """Marker-hit count per language over the token set.

    Literal-space tokenization (review r8: was ``\\s+``, while the t1
    oracle splits on ' ' — a tab/newline-separated token would flip a
    score cross-engine; t5/t7/t10/i3b already use the literal split)."""
    toks = F.split(F.lower(text), " ")
    out = []
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        out.append(F.size(F.array_intersect(F.array_distinct(toks), arr)).alias(f"score_{lang}"))
    return out


def quality_features(text: Column, n_chars: Column) -> dict[str, Column]:
    """Length / punctuation / stopword-ratio features (public heuristics).
    Literal-space tokenization for t2-oracle parity (see
    language_scores)."""
    toks = F.split(F.lower(text), " ")
    n_tok = F.size(toks)
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    n_punct = F.length(text) - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    return {
        "n_tokens": n_tok.cast("int"),
        "avg_token_len": F.round(
            (F.length(text) - (n_tok - 1)).cast("double") / n_tok, 6
        ),
        "stopword_ratio": F.round(n_stop.cast("double") / n_tok, 6),
        "punct_ratio": F.round(n_punct.cast("double") / F.length(text), 6),
        "len_matches_meta": F.length(text) == n_chars,
    }


def bigram_repetition(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition features over word 2-grams: how much of the
    document is repeated phrasing. ``rep_ratio`` = duplicate-bigram
    fraction; heavily templated/spammy docs score high.

    Built as CHAINED projections so every HOF lambda sees a bare column
    attribute: lambdas re-evaluate embedded expression trees per element,
    so inlining split/transform/sort into element_at would go quadratic
    (measured: hang at 5k docs). Distinct counting is sort + one
    adjacent-compare pass — array_distinct on string arrays is quadratic
    in comparisons. Map-only codegen; no shuffle, no Python."""
    toks = F.split(F.lower(F.col(text_col)), " ")
    with_toks = df.select("*", toks.alias("_toks"))
    n = F.size(F.col("_toks"))
    # element_at is 1-based; sequence(1, n-1) pairs i with i+1. Guard the
    # single-token doc: Spark's sequence(1, 0) would DESCEND ([1, 0]),
    # not return empty — DuckDB's range(1, 1) is empty.
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("_toks"), i),
                F.element_at(F.col("_toks"), i + 1),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    with_sorted = (
        with_toks.select("*", bigrams.alias("_bigrams"))
        .select(
            "*",
            F.size(F.col("_bigrams")).alias("_n_bi"),
            F.array_sort(F.col("_bigrams")).alias("_sorted"),
        )
        .drop("_toks", "_bigrams")
    )
    n_bi = F.col("_n_bi")
    n_dup = F.when(
        n_bi >= 2,
        F.size(
            F.filter(
                F.sequence(F.lit(2), n_bi),
                lambda i: F.element_at(F.col("_sorted"), i)
                == F.element_at(F.col("_sorted"), i - 1),
            )
        ),
    ).otherwise(F.lit(0))
    return with_sorted.select(
        "*",
        n_bi.cast("int").alias("n_bigrams"),
        (n_bi - n_dup).cast("int").alias("n_distinct_bigrams"),
        F.when(n_bi > 0, F.round(n_dup.cast("double") / n_bi, 6)).alias(
            "rep_ratio"
        ),
    ).drop("_n_bi", "_sorted")


# Patterns chosen to behave identically under Java regex (Spark) and RE2
# (DuckDB): no lookarounds, no backrefs — plain character classes.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_LONG_DIGITS_RE = r"[0-9]{6,}"


def pii_redact(text: Column) -> dict[str, Column]:
    """Mask email addresses and long digit runs (id/phone-shaped) — the
    training-data privacy scrub. Counts are emitted alongside the masked
    text so a pipeline can quarantine high-PII sources. Per-row codegen
    regex; at 100 TB this is a map-only pass fused into the scan stage."""
    n_email = F.size(F.regexp_extract_all(text, F.lit(PII_EMAIL_RE), F.lit(0)))
    masked_email = F.regexp_replace(text, PII_EMAIL_RE, "<EMAIL>")
    n_digits = F.size(
        F.regexp_extract_all(masked_email, F.lit(PII_LONG_DIGITS_RE), F.lit(0))
    )
    masked = F.regexp_replace(masked_email, PII_LONG_DIGITS_RE, "<NUM>")
    return {
        "masked_text": masked,
        "n_emails": n_email.cast("int"),
        "n_long_digit_runs": n_digits.cast("int"),
    }


def rolling_fingerprint(text: Column, base: int = 257, mod: int = 1_000_000_007) -> Column:
    """Deterministic polynomial rolling hash of the character stream —
    document fingerprint usable as a cheap content key.

    h = Σ code(c_i)·base^i mod p, folded with integer ops only (exact in
    both engines; declared oracle mirrors the same fold).
    """
    codes = F.transform(F.split(text, ""), lambda c: F.ascii(c).cast("bigint"))
    return F.aggregate(
        codes,
        F.struct(F.lit(0).cast("bigint").alias("h"), F.lit(1).cast("bigint").alias("p")),
        lambda acc, c: F.struct(
            ((acc.getField("h") + c * acc.getField("p")) % mod).alias("h"),
            ((acc.getField("p") * base) % mod).alias("p"),
        ),
        lambda acc: acc.getField("h"),
    )
