"""Text-analysis operators over a document table (LLM-data-pipeline
surface; no reference analog — SURVEY §2.6 north-star row).

Everything here is built-in-expression Spark (codegen-friendly, no
Python in the hot path): tokenization is ``split`` on a whitespace
regex, ratios are ``regexp_count``-style length arithmetic, language
ID is a stopword-score argmax over lambda expressions, and the
document fingerprint is ``md5`` of a canonical normalization. At
100 TB these are embarrassingly parallel single-pass scans — no
shuffle at all until an aggregation is requested.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Tiny per-language stopword lists for the heuristic language ID.
#: Deliberately small + deterministic so the score is SQL-expressible
#: and oracle-checkable; swap in real profiles for production use.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "that"],
    "fr": ["le", "la", "et", "de", "un", "une", "est", "que"],
    "es": ["el", "la", "y", "de", "un", "una", "es", "que"],
    "de": ["der", "die", "das", "und", "von", "ein", "ist", "nicht"],
}

_WS = r"\s+"


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization (empty-safe)."""
    return F.filter(F.split(F.trim(text), _WS), lambda x: x != "")


def token_count(text: Column) -> Column:
    return F.size(tokens_col(text))


def normalize_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse runs of
    whitespace to single spaces, trim."""
    return F.trim(F.regexp_replace(F.lower(text), _WS, " "))


def fingerprint_md5(text: Column) -> Column:
    """Deterministic document fingerprint = md5 of the normalization
    (portable across engines — DuckDB md5 produces the identical hex)."""
    return F.md5(normalize_text(text))


#: BPE-ish pre-tokenization pattern: letter runs, digit runs, single
#: non-space symbols — the lookahead-free core of the GPT-2 pattern
#: (RE2-safe, so the DuckDB oracle can run the identical regex).
BPE_ISH = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_ish_tokens(text: Column) -> Column:
    """Subword-style pre-tokens via ``regexp_extract_all`` (JVM-side,
    no UDF): letter runs / digit runs / single symbols."""
    return F.regexp_extract_all(text, F.lit(BPE_ISH), 0)


def winnow_fingerprints(
    df: DataFrame,
    k: int = 5,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD 2003
    — the MOSS algorithm): hash every character k-gram of the
    normalized text, slide a window of ``w`` consecutive hashes, keep
    the minimum per window, emit the distinct selected hashes.

    Guarantees: any shared substring of length ≥ k+w-1 contributes at
    least one common fingerprint, so containment/overlap detection
    needs only an equi-join on the fingerprint — never an all-pairs
    comparison. The gram hash is the first 16 hex chars of md5, so
    the min-selection is engine-portable (lexicographic min over
    fixed-width hex == numeric min) and the DuckDB oracle reproduces
    it exactly.

    Pure-JVM array-lambda projection (transform/slice/array_min), zero
    Python in the plan, behind
    :func:`~trendengine_spark.operators.util.fan_out` — the r8 finding
    was that the whole corpus hashed on ONE core whenever the scan was
    a single row group; widening was worth 8× (4.9 → 0.6 s compute at
    sf0.1). ``tests/test_llm_ops.py`` cross-checks it against a
    plain-Python hashlib reference.
    """
    from trendengine_spark.operators.util import fan_out

    # materialize each stage as a projected column: a lambda re-evaluates
    # any outer EXPRESSION once per element, so referencing the raw
    # regexp_replace inside transform() would re-run it per gram —
    # column references are evaluated once per row.
    # fan_out: ~L md5 calls per row (one per character k-gram) is
    # CPU-dense per byte — a single-row-group scan (or a few-partition
    # warm cache) must widen or the whole corpus hashes on one core
    normed = fan_out(df.select(F.col(id_col), F.col(text_col)), cpu_dense=True).select(
        F.col(id_col), normalize_text(F.col(text_col)).alias("_norm")
    )
    norm = F.col("_norm")
    n = F.length(norm)
    grams = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(0), n - k), lambda i: norm.substr(i + 1, F.lit(k))
        ),
    ).otherwise(F.array().cast("array<string>"))
    hashed = normed.select(
        F.col(id_col),
        F.transform(grams, lambda g: F.substring(F.md5(g), 1, 16)).alias("_hs"),
    )
    hashes = F.col("_hs")
    nh = F.size(hashes)
    wins = (
        F.when(
            nh >= w,
            F.transform(
                F.sequence(F.lit(0), nh - w),
                lambda j: F.array_min(F.slice(hashes, j + 1, w)),
            ),
        )
        .when(nh > 0, F.array(F.array_min(hashes)))
        .otherwise(F.array().cast("array<string>"))
    )
    return hashed.select(
        F.col(id_col), F.explode(F.array_distinct(wins)).alias("fingerprint")
    )


def char_class_ratio(text: Column, pattern: str) -> Column:
    """len(matches of char class) / len(text), 0-safe."""
    n = F.length(text)
    kept = F.length(F.regexp_replace(text, pattern, ""))
    return F.when(n > 0, (n - kept) / n.cast("double")).otherwise(F.lit(0.0))


def stopword_score(text: Column, words: list[str]) -> Column:
    """Number of tokens that are in ``words`` (the language-ID scoring
    primitive; a lambda filter over the token array — JVM-side)."""
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens_col(text), lambda x: F.array_contains(arr, F.lower(x))))


def quality_features(
    df: DataFrame, text_col: str = "text", decimals: int = 6
) -> DataFrame:
    """Per-document quality features: length, token stats, punctuation
    / digit / uppercase ratios, English-stopword ratio. One projection
    pass over the scan (no shuffle)."""
    text = F.col(text_col)
    toks = tokens_col(text)
    n_tok = F.size(toks)
    avg_tok = F.when(
        n_tok > 0,
        F.aggregate(toks, F.lit(0).cast("double"), lambda acc, x: acc + F.length(x))
        / n_tok.cast("double"),
    ).otherwise(F.lit(0.0))
    sw = stopword_score(text, LANG_STOPWORDS["en"])
    return df.withColumns(
        {
            "n_chars_c": F.length(text),
            "n_tokens": n_tok,
            "avg_token_len": F.round(avg_tok, decimals),
            "punct_ratio": F.round(char_class_ratio(text, r"[.,;:!?'\"()\[\]{}-]"), decimals),
            "digit_ratio": F.round(char_class_ratio(text, r"[0-9]"), decimals),
            "upper_ratio": F.round(char_class_ratio(text, r"[A-Z]"), decimals),
            "stopword_ratio": F.round(
                F.when(n_tok > 0, sw / n_tok.cast("double")).otherwise(F.lit(0.0)),
                decimals,
            ),
        }
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: argmax of per-language stopword scores,
    'und' (undetermined) when every score is 0. Deterministic
    tie-break by language code order."""
    text = F.col(text_col)
    scores = {lang: stopword_score(text, words) for lang, words in LANG_STOPWORDS.items()}
    best_lang = F.lit("und")
    best_score = F.lit(0)
    # iterate in sorted order; strict > keeps the earliest max (deterministic)
    for lang in sorted(scores):
        s = scores[lang]
        is_better = s > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, s).otherwise(best_score)
    out = df
    for lang in sorted(scores):
        out = out.withColumn(f"score_{lang}", scores[lang])
    return out.withColumn("lang_pred", best_lang)


#: PII patterns — RE2-safe (no lookaround, no backreferences) so the
#: DuckDB oracle can run the IDENTICAL regex; ASCII corpus keeps Java
#: and RE2 word-boundary semantics aligned.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

#: Replacement order is load-bearing: emails first (their domains can
#: contain dotted digit runs the IPv4 pattern would otherwise bite),
#: then phones, then bare IPv4s.
PII_RULES: list[tuple[str, str]] = [
    (PII_EMAIL_RE, "<EMAIL>"),
    (PII_PHONE_RE, "<PHONE>"),
    (PII_IPV4_RE, "<IP>"),
]


def redact_pii(text: Column) -> Column:
    """Scrub emails / phone numbers / IPv4s to typed placeholders —
    pure JVM ``regexp_replace`` chain (codegen, no UDF): at 100 TB PII
    scrubbing is an embarrassingly parallel scan whose cost is the
    regex automaton, so the patterns above are all DFA-friendly."""
    out = text
    for pat, repl in PII_RULES:
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-document PII hit counts (pre-redaction), one codegen
    ``regexp_count`` per class."""
    return {
        "n_emails": F.regexp_count(text, F.lit(PII_EMAIL_RE)),
        "n_phones": F.regexp_count(text, F.lit(PII_PHONE_RE)),
        "n_ips": F.regexp_count(text, F.lit(PII_IPV4_RE)),
    }
