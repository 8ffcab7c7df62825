"""More-like-this: index-backed related-document retrieval.

The reference exposes "related pages" through its query surface by
reusing the stored index twice: pick the source doc's most distinctive
terms (tf x idf over the doc's own token stream — Gigablast's gigabits
scorer applied to a single document instead of a result sample,
SURVEY.md §2.4 A7) and run them as a disjunctive match-any query
(Msg40 with boolean OR semantics, SURVEY §2.7 U1).  Spark shape:

  1-row pruned scan / caller-supplied text          = Msg22 title-rec get
  driver-side tokenize of ONE doc (same kernel fn)  = cheap by design
  termstats pruned IN scan via the stat cache       = Msg2 termlist stats
  exec.search(match_mode='any') over top-m terms    = Msg40 OR query

Nothing here is a new physical operator: term selection is O(doclen)
driver work on a single document, and retrieval is the standard
pruned-scan + decode + one-aggregation plan — the whole thing stays one
Spark job warm regardless of corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.bm25 import py_idf
from ..functions.tokenize import _tokenize_one
from ..operators.build import Index
from .query import terms_plan


def doc_top_terms(
    spark: SparkSession,
    index: Index,
    text: str,
    m_terms: int = 5,
    code_aware: bool | None = None,
) -> list[str]:
    """The ``m_terms`` most distinctive terms of ``text`` by tf x idf
    against the STORED collection stats (no corpus scan — the termstats
    lookup is a pruned IN filter through the per-snapshot stat cache).

    Ties break (tf*idf desc, term asc) so selection is deterministic and
    reproducible in a SQL oracle.  Terms absent from the index dictionary
    retrieve nothing and are skipped.
    """
    from .exec import _stats_cached

    if code_aware is None:
        code_aware = bool(index.features().get("code_aware", True))
    toks = _tokenize_one(text or "", code_aware)
    if not toks:
        return []
    tf: dict[str, int] = {}
    for t in toks:
        tf[t] = tf.get(t, 0) + 1
    n_docs, _avgdl, df_by_term = _stats_cached(spark, index, sorted(tf))
    scored = [
        (tf[t] * py_idf(df_by_term[t][1], n_docs), t)
        for t in tf
        if t in df_by_term
    ]
    scored.sort(key=lambda p: (-p[0], p[1]))
    return [t for _s, t in scored[:m_terms]]


def more_like_this(
    spark: SparkSession,
    index: Index,
    doc_id: int,
    k: int = 10,
    m_terms: int = 5,
    text: str | None = None,
    corpus: DataFrame | None = None,
    enrich: bool = False,
    code_aware: bool | None = None,
) -> DataFrame:
    """Top-k documents most similar to ``doc_id`` under BM25 over its
    ``m_terms`` most distinctive terms (source doc excluded).

    The source text comes from ``text`` if given, else a 1-row pruned
    scan of ``corpus`` (any DataFrame with doc_id + content/text).  The
    retrieval query is built as a QueryPlan directly — selected terms are
    data, not query syntax, so none of them may be re-parsed as an
    operator (a doc whose top term is literally ``or`` must still work).
    """
    from .exec import search

    if text is None:
        if corpus is None:
            raise ValueError("more_like_this needs text= or corpus=")
        if "doc_id" not in corpus.columns:
            # raw (repo,path,commit,lang,content) source: derive the same
            # xxhash64 ids the build derived
            from ..operators.build import derive_ids

            corpus = derive_ids(corpus)
        col = "content" if "content" in corpus.columns else "text"
        rows = (
            corpus.filter(F.col("doc_id") == int(doc_id))
            .select(col)
            .limit(1)
            .collect()
        )
        if not rows:
            raise ValueError(f"doc_id {doc_id} not found in corpus")
        text = rows[0][0]

    terms = doc_top_terms(spark, index, text, m_terms, code_aware=code_aware)
    if not terms:
        from ..operators.topk import _empty_result

        return _empty_result(spark, enrich)
    res = search(
        spark, index, terms_plan(terms), k=k + 1, enrich=enrich, match_mode="any"
    )
    # the source doc can occupy at most one of the k+1 slots, so top-k of
    # (results minus source) == first k of (top k+1 minus source)
    return (
        res.filter(F.col("doc_id") != int(doc_id))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
