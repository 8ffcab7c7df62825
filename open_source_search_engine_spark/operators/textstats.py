"""Text analytics for training-data pipelines (language-ID heuristic,
quality scoring, token counting, document fingerprinting).

Reference analogs: Language.cpp/Lang.cpp n-gram language id (SURVEY.md
§2.8 X7), Spam.cpp repetition scoring (X13), getContentHash32 (X12).
Everything here is a pure column expression (whole-stage codegen) so it
runs at scan speed over 100 TB; nothing drops to Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# tiny embedded stopword list — the StopWords.cpp analog (X4); used as the
# English signal for the language-ID heuristic
EN_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "on", "for", "with", "as", "at", "by", "from", "that", "this",
]


def tokens_simple(col: Column) -> Column:
    return F.regexp_extract_all(F.lower(col), F.lit("[a-z0-9]+"), F.lit(0))


def token_count(tokens: Column) -> Column:
    return F.size(tokens)


def distinct_token_count(tokens: Column) -> Column:
    return F.size(F.array_distinct(tokens))


def stopword_ratio(tokens: Column) -> Column:
    """fraction of tokens that are English stopwords (quality + lang-ID)."""
    sw = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    n_sw = F.size(F.filter(tokens, lambda t: F.array_contains(sw, t)))
    return F.when(F.size(tokens) > 0, n_sw / F.size(tokens)).otherwise(F.lit(0.0))


def avg_token_len(tokens: Column) -> Column:
    total = F.aggregate(
        F.transform(tokens, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    )
    return F.when(F.size(tokens) > 0, total / F.size(tokens)).otherwise(F.lit(0.0))


def repetition_ratio(tokens: Column) -> Column:
    """1 - distinct/total: the Spam.cpp word-repetition signal (X13)."""
    return F.when(
        F.size(tokens) > 0,
        F.lit(1.0) - F.size(F.array_distinct(tokens)) / F.size(tokens),
    ).otherwise(F.lit(0.0))


def quality_score(tokens: Column) -> Column:
    """composite quality in [0,1]: length band + diversity + stopword
    presence (heuristic weights; deterministic, oracle-expressible)."""
    n = F.size(tokens)
    len_ok = F.when((n >= 10) & (n <= 10000), F.lit(1.0)).otherwise(F.lit(0.0))
    diversity = F.lit(1.0) - repetition_ratio(tokens)
    has_sw = F.when(stopword_ratio(tokens) > 0.05, F.lit(1.0)).otherwise(F.lit(0.0))
    return F.round(F.lit(0.4) * len_ok + F.lit(0.4) * diversity + F.lit(0.2) * has_sw, 4)


# --------------------------------------------------------------- multi-lang
# X7 full-strength: the reference ships per-language n-gram/charset
# profiles (Language.cpp/Lang.cpp); the Spark rebuild scores space-padded
# function-word grams per language with the length/replace occurrence
# count — a pure codegen expression (no UDF, no explode) that both Spark
# and an ANSI-SQL oracle evaluate identically.  Profiles are ASCII-only
# (the normalizer folds everything else to spaces), ten distinctive
# function words per language.  Scoring is integer gram counts; argmax
# with a deterministic alphabetical first-match tie-break.
LANG_PROFILES: dict[str, list[str]] = {
    "de": ["der", "die", "und", "nicht", "das", "ist", "ein", "mit", "zu", "auf"],
    "en": ["the", "and", "of", "to", "is", "that", "it", "for", "with", "on"],
    "es": ["el", "los", "que", "es", "una", "con", "por", "para", "del", "las"],
    "fr": ["le", "la", "les", "et", "est", "une", "dans", "que", "pour", "pas"],
    "it": ["il", "che", "di", "per", "non", "gli", "sono", "della", "anche", "come"],
    "nl": ["de", "het", "een", "niet", "van", "dat", "met", "voor", "zijn", "ook"],
    "pt": ["um", "uma", "os", "mais", "mas", "dos", "das", "sem", "como", "nao"],
}


def lang_tokens(col: Column) -> Column:
    """Lowercase LETTER-run tokens for language scoring ([a-z]+ — digits
    break words, matching the profiles' pure-alpha function words)."""
    return F.regexp_extract_all(F.lower(col), F.lit("[a-z]+"), F.lit(0))


def lang_score_tokens(toks: Column, lang: str) -> Column:
    """Integer profile score: how many tokens are profile words."""
    words = F.array(*[F.lit(w) for w in LANG_PROFILES[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(words, t))).cast(
        "long"
    )


def langid_multi_tokens(toks: Column, min_hits: int = 1) -> Column:
    """Multi-language ID over a pre-extracted `lang_tokens` array —
    argmax of per-language profile scores, ``'other'`` when the best
    score is under ``min_hits`` (or the array is NULL, i.e. NULL text).
    Ties break to the alphabetically first language — array_position
    returns the FIRST max index, replayed verbatim by the SQL oracle's
    list_position.  Token membership (ONE extraction + 7 array filters)
    replaced the first-cut per-gram length/replace counting, which
    rescanned the full text 70x; a per-language CASE chain before that
    inlined every score into every branch (~630 regexp subtrees, an
    8.9 MiB task binary).  ``langid_multi`` extracts the tokens from raw
    text itself, so a caller that also tokenizes the row (training_mix,
    whose ``lang_tokens`` [a-z]+ split differs from TOKEN_RE) scans the
    text twice."""
    langs = sorted(LANG_PROFILES)
    scores = F.array(*[lang_score_tokens(toks, lg) for lg in langs])
    names = F.array(*[F.lit(lg) for lg in langs])
    mx = F.array_max(scores)
    return F.when(toks.isNull() | (mx < min_hits), F.lit("other")).otherwise(
        F.element_at(names, F.array_position(scores, mx).cast("int"))
    )


def langid_multi(col: Column, min_hits: int = 1) -> Column:
    """Multi-language ID over raw text (X7) — see `langid_multi_tokens`."""
    return langid_multi_tokens(lang_tokens(col), min_hits)


def langid_multi_sql(text_expr: str, min_hits: int = 1) -> str:
    """The DuckDB replay of `langid_multi` over the SQL expression
    ``text_expr`` — generated from the SAME profile table so the oracle
    can never drift from the engine."""
    langs = sorted(LANG_PROFILES)

    def score(lg: str) -> str:
        words = ", ".join(f"'{w}'" for w in LANG_PROFILES[lg])
        return (
            f"CAST(len(list_filter(__t, t -> t IN ({words}))) AS BIGINT)"
        )

    lst = "[" + ", ".join(score(lg) for lg in langs) + "]"
    names = "[" + ", ".join(f"'{lg}'" for lg in langs) + "]"
    # tokens extracted ONCE, scores list built ONCE (correlated scalar
    # subquery) — the same build-once shape as the engine's array form
    return (
        f"(SELECT CASE WHEN __t IS NULL THEN 'other' "
        f"WHEN list_aggregate(__s, 'max') < {min_hits} THEN 'other' "
        f"ELSE ({names})[list_position(__s, list_aggregate(__s, 'max'))] "
        f"END FROM (SELECT __t, {lst} AS __s FROM (SELECT "
        f"regexp_extract_all(lower({text_expr}), '[a-z]+') AS __t) __lt) "
        f"__langid)"
    )


def fingerprint(tokens: Column) -> Column:
    """Polynomial rolling-hash document fingerprint (X12 content-hash
    analog): left fold of h = (h*31 + len(tok)*7 + ascii(tok[0])) mod p.
    Uses only arithmetic both Spark and DuckDB evaluate identically."""
    p = F.lit(1_000_000_007).cast("long")
    return F.aggregate(
        tokens,
        F.lit(0).cast("long"),
        lambda h, t: (h * 31 + F.length(t) * 7 + F.ascii(t)) % p,
    )


# GPT-2-style pre-tokenizer pattern (BPE-ish), restricted to constructs
# Java regex and RE2 evaluate identically (no lookahead): contractions,
# optionally space-prefixed letter runs, digit runs, symbol runs.
BPE_TOKEN_RE = r"'(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"


def bpe_tokens(col: Column) -> Column:
    """BPE-ish pre-tokens of raw text (NOT lowercased — BPE vocabularies
    are case-sensitive); the token-count proxy a training-data pipeline
    budgets documents with."""
    return F.regexp_extract_all(col, F.lit(BPE_TOKEN_RE), F.lit(0))


def punct_ratio(col: Column) -> Column:
    """fraction of non-space characters that are not letters/digits —
    a boilerplate/markup quality signal."""
    nonspace = F.length(F.regexp_replace(col, r"\s+", ""))
    alnum = F.length(F.regexp_replace(col, r"[^\p{L}\p{N}]+", ""))
    return F.when(nonspace > 0, (nonspace - alnum) / nonspace).otherwise(F.lit(0.0))


def word_ngrams(tokens: Column, n: int) -> Column:
    """Word n-grams of a token array (space-joined), JVM-side: one
    transform over a bounded index sequence, no UDF.  Empty array when
    the doc has fewer than n tokens.

    PERF: pass a materialized column reference (project the tokenizer
    output with .alias() first), NOT an inline regexp/tokenizer
    expression — `tokens` is referenced once per element inside the
    lambda, and an inline expression would be re-evaluated O(tokens)
    times per row (measured 25x slowdown on ~1k-token docs)."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    idx = F.sequence(F.lit(1), F.greatest(F.lit(1), F.size(tokens) - (n - 1)))

    def make(i: Column) -> Column:
        return F.concat_ws(" ", *[F.element_at(tokens, i + j) for j in range(n)])

    return F.when(F.size(tokens) >= n, F.transform(idx, make)).otherwise(
        F.array().cast("array<string>")
    )


def dup_ngram_counts(tokens: Column, n: int) -> tuple[Column, Column]:
    """(duplicated n-gram count, total n-gram count) — the Gopher-rule
    repetition signal (Rae et al. 2021 §A1.1: 'fraction of duplicate
    n-grams') kept as an INTEGER pair so downstream aggregation and the
    threshold test stay float-free and bit-replayable: the fraction is
    dup/total, and 'fraction > 1/2' is exactly 'total < 2*dup'."""
    g = word_ngrams(tokens, n)
    total = F.size(g).cast("long")
    dup = (total - F.size(F.array_distinct(g))).cast("long")
    return dup, total


def dup_ngram_fraction(tokens: Column, n: int) -> Column:
    """Gopher duplicate n-gram fraction in [0,1] (0 for docs shorter
    than n tokens)."""
    dup, total = dup_ngram_counts(tokens, n)
    return F.when(total > 0, dup / total).otherwise(F.lit(0.0))
