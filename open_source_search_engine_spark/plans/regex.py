"""Indexed regex search — grep-at-scale through the stored termlists.

The reference engine has no regex operator; this is the classic
code-search capability (Google Code Search's trigram prefilter, Cox
2012; Zoekt's shard prefilter) re-expressed over this engine's WORD
termlists, which is the natural granule for a word tokenizer
(``[a-z0-9_]+`` in simple mode; code-aware mode adds camel subtokens
but always emits the whole word too):

1. **Extract required literal tokens** from the pattern: a conservative
   literal-run scanner keeps only word fragments (the index tokenizer's
   ``[A-Za-z0-9_]`` charset) that occur in every possible match (see
   ``required_literal_tokens``).  Soundness, not completeness, is the
   contract — returning FEWER tokens only widens the candidate set.
2. **Candidates from the index**: the required tokens' termlists are
   read through the pushed-filter postings scan every query plan uses
   and intersected with one ``groupBy(doc_id)`` whose distinct-term
   count must equal the token count.  A required token
   missing from the dictionary proves zero matches without touching
   the corpus.
3. **Verify on candidates only**: the candidate set semi-joins the
   source corpus table (the titledb/Msg22 blob-store analog is the
   source-of-truth content table) and the actual regex runs as a
   codegen `rlike`/`regexp_count` over that slice.  Tombstoned docs are
   excluded by the same distributed anti-join the exhaustive plan uses.

At 100 TB the plan is: tiny pruned termlist scan -> one candidate
shuffle (keyed by doc_id, sized by the rarest required token, NOT the
corpus) -> point semi-join into the corpus -> regex over the survivors.
A pattern with no safe literal (e.g. ``[0-9]+``) honestly degrades to
the full corpus scan — exactly what Code Search did — and the caller
can see which mode ran via ``required_literal_tokens``.

Patterns must stay in the Java-regex ∩ RE2 subset (same contract as
``operators/scrub.py``) so the DuckDB oracle replays them exactly.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.build import Index

# the index word charset (functions/tokenize._WORD_RE): underscore is a
# TOKEN character in both simple and code-aware modes (whole words are
# always emitted; camel subtokens are additive), so fragments must keep
# it — splitting at '_' would require a token the dictionary never
# stores and break the prefilter's 100%-recall contract
_ALNUM_FRAG = re.compile(r"[a-zA-Z0-9_]+")


def _skip_class(pattern: str, i: int) -> int:
    """i points AT '['; return index just past the closing ']'."""
    i += 1
    if i < len(pattern) and pattern[i] == "^":
        i += 1
    if i < len(pattern) and pattern[i] == "]":  # literal ']' first
        i += 1
    while i < len(pattern) and pattern[i] != "]":
        if pattern[i] == "\\":
            i += 1
        i += 1
    return i + 1


def _literal_runs(pattern: str) -> list[str] | None:
    """Maximal literal-character runs that occur in EVERY match.

    Returns None when nothing can be required (top-level alternation).
    Conservative by construction: groups and classes are opaque (they
    terminate the current run), ``*``/``?``/``{m,n}`` drop the previous
    character from the run (optional or repeat-separated), ``+`` keeps
    it (one occurrence is guaranteed contiguous) but ends the run.
    """
    runs: list[str] = []
    cur: list[str] = []

    def flush() -> None:
        if cur:
            runs.append("".join(cur))
            cur.clear()

    i, n = 0, len(pattern)
    while i < n:
        c = pattern[i]
        if c == "\\":
            i += 1
            if i >= n:
                break
            esc = pattern[i]
            if esc.isalnum():
                # \d \w \s \b \1 ... : a metacharacter, not a literal
                flush()
            else:
                cur.append(esc)  # escaped punctuation is literal
            i += 1
        elif c == "[":
            flush()
            i = _skip_class(pattern, i)
        elif c == "(":
            # opaque group: skip to the matching close (classes inside
            # may contain unbalanced parens)
            flush()
            depth = 1
            i += 1
            while i < n and depth:
                if pattern[i] == "\\":
                    i += 2
                    continue
                if pattern[i] == "[":
                    i = _skip_class(pattern, i)
                    continue
                if pattern[i] == "(":
                    depth += 1
                elif pattern[i] == ")":
                    depth -= 1
                i += 1
        elif c == "|":
            # top-level alternation: no literal is required by all branches
            return None
        elif c in "*?":
            if cur:
                cur.pop()
            flush()
            i += 1
        elif c == "{":
            # {m,n} quantifier: conservatively treat like '*' (drop the
            # quantified char).  A brace that opens no quantifier is
            # still skipped — dropping literals is always sound.
            if cur:
                cur.pop()
            flush()
            while i < n and pattern[i] != "}":
                i += 1
            i += 1
        elif c == "+":
            # one-or-more: the previous char IS required and contiguous
            # to its left context; repetition may separate it from what
            # follows, so the run ends here but keeps the char
            flush()
            i += 1
        elif c in ".^$)":
            flush()
            i += 1
        else:
            cur.append(c)
            i += 1
    flush()
    return runs


def required_literal_tokens(pattern: str) -> list[str]:
    """Lowercased full tokens guaranteed to appear in every match.

    Only word fragments (``[A-Za-z0-9_]+`` — the index tokenizer's
    charset, underscore included) bounded on BOTH sides by literal
    non-word characters inside a run qualify: a fragment touching a run
    boundary may be a prefix/suffix of a longer token in the document
    (pattern ``def ret`` must NOT require token ``ret`` — it matches
    "def return").  Sorted for deterministic plans.
    """
    runs = _literal_runs(pattern)
    if not runs:
        return []
    toks: set[str] = set()
    for run in runs:
        for m in _ALNUM_FRAG.finditer(run):
            if m.start() > 0 and m.end() < len(run):
                toks.add(m.group(0).lower())
    return sorted(toks)


def regex_search(
    spark: SparkSession,
    index: Index,
    corpus: DataFrame,
    pattern: str,
    id_col: str = "doc_id",
    text_col: str = "content",
    limit: int | None = None,
) -> DataFrame:
    """(doc_id, n_matches) for every live doc whose text matches.

    ``corpus`` is the source-of-truth content table carrying ``id_col``
    (the ids ``build_index`` preserved/derived) and ``text_col``; the
    index supplies the candidate prefilter and the tombstone set.
    Results order by (n_matches desc, doc_id) — grep-style density
    ranking — with an optional limit.
    """
    from ..operators.merge import drop_deleted
    from .query import terms_plan
    from .reindex import match_docs

    toks = required_literal_tokens(pattern)
    index = index.view()  # one manifest version for stats, postings, deletes
    if toks:
        # candidates: the live docs holding every required token
        cand = match_docs(spark, index, terms_plan(toks))
        cand = cand.withColumnRenamed("doc_id", id_col)
        base = corpus.join(cand, id_col, "left_semi")
    else:
        # no safe required literal — honest full scan of the live docs
        # (the Code Search fallback); the regex is still one codegen pass
        base = drop_deleted(spark, index, corpus, id_col)

    out = (
        base.select(
            F.col(id_col),
            F.regexp_count(F.col(text_col), F.lit(pattern))
            .cast("long")
            .alias("n_matches"),
        )
        .filter(F.col("n_matches") > 0)
    )
    out = out.orderBy(F.desc("n_matches"), id_col)
    return out.limit(int(limit)) if limit is not None else out


def regex_rules_scan(
    docs: DataFrame,
    rules: list[tuple[int, str]],
    id_col: str = "doc_id",
    text_col: str = "content",
) -> DataFrame:
    """Multi-pattern regex scan: match every doc against a TABLE of
    regex rules in one pass — the policy/PII-audit shape (N patterns x
    100 TB must not be N corpus scans).

    Per rule the same required-literal prefilter as ``regex_search``
    applies, but doc-side: one tokenize pass feeds a broadcast join
    against the (rule_id, token) relation, a (doc, rule) candidate
    survives when it carries ALL the rule's required tokens, and the
    regex itself (a COLUMN, not a literal — both Spark and the DuckDB
    oracle evaluate non-constant patterns) runs only on candidate
    pairs re-joined to the text.  Rules with no safe literal fall back
    to every doc (the honest cross product for those rules only).

    Output: (id, rule_id, n_matches > 0).  Plan: one tokenize scan, one
    text re-join keyed by candidate doc ids, broadcast-only rule joins;
    the candidate shuffle is proportional to token hits, not
    |docs| x |rules|.
    """
    from ..functions.tokenize import SIMPLE_TOKEN_RE

    spark = docs.sparkSession
    req_rows: list[tuple[int, str]] = []
    meta_rows: list[tuple[int, str, int]] = []
    for rid, pat in rules:
        toks = required_literal_tokens(pat)
        meta_rows.append((int(rid), pat, len(toks)))
        for t in toks:
            req_rows.append((int(rid), t))
    meta_df = spark.createDataFrame(
        meta_rows, "rule_id long, pattern string, n_req int"
    )

    full_scan_ids = [r for (r, _p, n) in meta_rows if n == 0]
    text = docs.select(F.col(id_col), F.col(text_col))

    cand_parts = []
    if req_rows:
        req_df = spark.createDataFrame(req_rows, "rule_id long, term string")
        toks = docs.select(
            F.col(id_col),
            F.explode(
                F.array_distinct(
                    F.regexp_extract_all(
                        F.lower(F.col(text_col)),
                        F.lit(SIMPLE_TOKEN_RE),
                        F.lit(0),
                    )
                )
            ).alias("_tok"),
        )
        hits = toks.join(
            F.broadcast(req_df), toks["_tok"] == req_df["term"]
        ).select(id_col, "rule_id", "term")
        cand_parts.append(
            hits.groupBy(id_col, "rule_id")
            .agg(F.countDistinct("term").alias("_nt"))
            .join(F.broadcast(meta_df.select("rule_id", "n_req")), "rule_id")
            .filter(F.col("_nt") == F.col("n_req"))
            .select(id_col, "rule_id")
        )
    if full_scan_ids:
        fs = spark.createDataFrame(
            [(int(r),) for r in full_scan_ids], "rule_id long"
        )
        cand_parts.append(
            docs.select(id_col).crossJoin(F.broadcast(fs))
        )
    if not cand_parts:
        return spark.createDataFrame(
            [], f"{id_col} long, rule_id long, n_matches long"
        )
    cand = cand_parts[0]
    for p in cand_parts[1:]:
        cand = cand.unionByName(p)

    return (
        cand.join(text, id_col)
        .join(F.broadcast(meta_df.select("rule_id", "pattern")), "rule_id")
        .select(
            F.col(id_col),
            F.col("rule_id"),
            F.expr(f"regexp_count({text_col}, pattern)")
            .cast("long")
            .alias("n_matches"),
        )
        .filter(F.col("n_matches") > 0)
    )
