"""Serp post-processing (SURVEY.md §3.1 stages 8-10): site clustering,
facets over matches, snippets/highlighting for the top-k.

Reference analogs: Msg40/Msg51 collapse results to <=2 per site (W1),
QueryTerm facet hash tables merged by Msg3a (A4), Title/Summary/Highlight
build the serp entries from TitleRecs fetched per result (Msg20, X15).
All of it is post-top-k work over tiny DataFrames, so these run as cheap
window/join/column steps on the search output.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.build import Index
from ..operators.merge import drop_deleted, term_postings
from .exec import _stats_cached
from .query import parse_query

# snippet best-window candidates are bounded: one per distinct positive
# query term, capped so the candidate cross-score stays O(cap^2) columns
_MAX_SNIPPET_TERMS = 4


def cluster_per_repo(results: DataFrame, max_per_repo: int = 2) -> DataFrame:
    """W1: keep the best ``max_per_repo`` results per repo, flagging
    overflow ('more from this site')."""
    w = Window.partitionBy("repo").orderBy(F.desc("score"), F.asc("doc_id"))
    counts = results.groupBy("repo").agg(F.count("*").alias("_n_in_repo"))
    return (
        results.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_per_repo)
        .join(F.broadcast(counts), "repo")
        .withColumn("more_from_repo", F.col("_n_in_repo") > max_per_repo)
        .drop("_rn", "_n_in_repo")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def facets_for_query(
    spark: SparkSession,
    index: Index,
    query: str,
    fields: list[str] | None = None,
) -> DataFrame:
    """A4: facet counts over ALL matching docs of a conjunctive query
    (not just the top-k) — gbfacetstr semantics: per-shard partial counts
    merged by the final hash agg (the Msg3a facet merge, free in Spark).
    """
    fields = fields or ["lang", "repo"]
    plan = parse_query(query)
    # group -> OR'd member terms (the match set must agree with search):
    # an OR-group matches on ANY member; a quoted phrase contributes its
    # member TOKENS conjunctively (facet counts run on the token-match
    # superset — positional adjacency is not re-verified here, the
    # gbfacet cost/precision tradeoff)
    groups: list[list[str]] = []
    for g in plan.groups:
        if len(g.members) == 1 and len(g.members[0].phrase) > 1:
            groups.extend([tok] for tok in g.members[0].phrase)
        else:
            groups.append([m.text for m in g.members])
    terms = sorted({t for gs in groups for t in gs})
    index = index.view()  # one manifest version for stats, postings, deletes
    stats = _stats_cached(spark, index, terms)[2]
    live_groups: list[list[str]] = []
    for gs in groups:
        present = [t for t in gs if t in stats]
        if not present:
            # a group with no dictionary member can match nothing
            return spark.createDataFrame([], "field string, value string, n long")
        live_groups.append(present)
    ids = sorted({stats[t][0] for gs in live_groups for t in gs})
    rows = term_postings(spark, index, ids)
    mapping = [
        (stats[t][0], gi) for gi, gs in enumerate(live_groups) for t in gs
    ]
    map_df = F.broadcast(
        spark.createDataFrame(mapping, "term_id long, gid int")
    )
    matched = (
        rows.join(map_df, "term_id")
        .groupBy("doc_id")
        .agg(F.countDistinct("gid").alias("ng"))
        .filter(F.col("ng") == len(live_groups))
        .select("doc_id")
    )
    # merge-on-read tombstones: facet counts must match search results'
    # doc visibility between delete_docs and compaction (ADVICE_r01)
    matched = drop_deleted(spark, index, matched)
    docs = index.docstats.read(spark).join(matched, "doc_id")
    out = None
    for f in fields:
        part = docs.groupBy(F.col(f)).agg(F.count("*").alias("n")).select(
            F.lit(f).alias("field"), F.col(f).cast("string").alias("value"), "n"
        )
        out = part if out is None else out.unionByName(part)
    return out.orderBy("field", F.desc("n"), "value")


def dedup_results(
    results: DataFrame,
    source_docs: DataFrame,
    mode: str = "exact",
    simhash_bits: int = 3,
    id_col: str = "doc_id",
    text_col: str = "content",
) -> DataFrame:
    """W3: query-time result dedup (Msg40 dedupResultsByDefault /
    percentSimilarDedupResult): among near-identical results keep only
    the best-ranked one.

    mode='exact'   — identical content (md5), the reference's default;
    mode='simhash' — near-dup: drop a result whose simhash is within
                     ``simhash_bits`` hamming distance of a better-ranked
                     result (percent-similar analog).

    Physical shape: the result set is tiny (top-k), so this is a
    broadcast join against the doc blobs (the Msg20 fetch the reference
    performs anyway) + an O(k^2) self-join on k rows — corpus-size
    independent."""
    joined = F.broadcast(results).join(
        source_docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_txt")),
        "doc_id",
    )
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    ranked = joined.withColumn("_rank", F.row_number().over(w))
    if mode == "exact":
        keyed = ranked.withColumn("_sig", F.md5(F.col("_txt")))
        keep = (
            keyed.withColumn(
                "_best", F.min("_rank").over(Window.partitionBy("_sig"))
            )
            .filter(F.col("_rank") == F.col("_best"))
            .drop("_sig", "_best", "_rank", "_txt")
        )
        return keep.orderBy(F.desc("score"), F.asc("doc_id"))
    if mode != "simhash":
        raise ValueError(f"unknown dedup mode {mode!r}")
    from ..operators.dedup import simhash_signatures

    sigs = simhash_signatures(
        ranked.select("doc_id", "_txt"), "doc_id", "_txt"
    ).withColumnRenamed("id", "doc_id")
    r = ranked.join(sigs, "doc_id").drop("_txt")
    l_, r_ = r.alias("l"), r.alias("r")
    # pairs (better rank l, worse rank r) within the hamming threshold
    close = (
        l_.join(
            r_,
            (F.col("l._rank") < F.col("r._rank"))
            & (
                F.bit_count(
                    F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
                )
                <= simhash_bits
            ),
        )
        .select(F.col("r.doc_id").alias("doc_id"))
        .distinct()
    )
    return (
        r.join(close, "doc_id", "left_anti")
        .drop("_rank", "simhash")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def snippets(
    spark: SparkSession,
    index: Index,
    results: DataFrame,
    source_docs: DataFrame,
    query: str,
    width: int = 80,
) -> DataFrame:
    """X15: snippet + title for the top-k only — broadcast the tiny result
    set against the source table (the Msg20 per-result TitleRec fetch),
    then pure column ops pick the BEST query-term window and bold every
    query term in it.

    Best-window rule (Summary.cpp's best-sentence behavior, r4 verdict
    task 7): each distinct positive query term anchors one candidate
    window at its first occurrence; candidates score by how many
    DISTINCT query terms the window contains; argmax wins, ties to the
    earliest window start.  Candidate windows are anchored ONLY at each
    term's first occurrence, so a passage where several terms co-occur
    away from every term's first hit is never a candidate (Summary.cpp
    scores every sentence).  The whole selection is one array_max over
    (score, -start, window) structs — pure codegen, no UDF, bounded by
    the first ``_MAX_SNIPPET_TERMS`` terms."""
    plan = parse_query(query) if isinstance(query, str) else query
    terms: list[str] = []
    for g in plan.groups:
        for m in g.members:
            t = (m.phrase[0] if m.phrase else m.text).split(":")[-1]
            if t and t not in terms:
                terms.append(t)
    terms = terms[:_MAX_SNIPPET_TERMS]
    # reuse the corpus's own doc_id when it has one — derive_ids preserves
    # pre-existing ids (external corpora), so recomputing the hash here
    # would join against ids the index never used
    if "doc_id" in source_docs.columns:
        src = source_docs.select("doc_id", "content")
    else:
        from ..functions.hashing import doc_id_col

        src = source_docs.select(
            doc_id_col(
                F.col("repo"), F.col("path"), F.col("commit")
            ).alias("doc_id"),
            "content",
        )
    joined = F.broadcast(results).join(src, "doc_id")
    lower = F.lower(F.col("content"))
    cands = []
    for t in terms:
        pos = F.locate(t, lower)
        start = F.greatest(pos - width // 2, F.lit(1))
        win = F.substring(F.col("content"), start, width)
        win_l = F.substring(lower, start, width)
        score = sum(
            (F.instr(win_l, u) > 0).cast("int") for u in terms
        )
        # invalid candidate (term absent) sorts below every valid one
        cands.append(
            F.when(
                pos > 0,
                F.struct(
                    score.alias("s"),
                    (-start).alias("negpos"),
                    win.alias("w"),
                ),
            ).otherwise(
                F.struct(
                    F.lit(-1).alias("s"),
                    F.lit(0).alias("negpos"),
                    F.substring(F.col("content"), 1, width).alias("w"),
                )
            )
        )
    snippet = F.array_max(F.array(*cands))["w"]
    # \Q...\E-quote each term: raw interpolation would let regex
    # metacharacters ('c++', 'get(') break or mis-highlight the pattern
    quoted = "|".join(
        "\\Q" + t.replace("\\E", "\\E\\\\E\\Q") + "\\E" for t in terms
    )
    return joined.select(
        "doc_id",
        "score",
        "repo",
        "path",
        # title = the path's basename (code corpus: Title.cpp analog)
        F.element_at(F.split(F.col("path"), "/"), -1).alias("title"),
        F.regexp_replace(
            snippet, f"(?i)({quoted})", "**$1**"
        ).alias("snippet"),
    ).orderBy(F.desc("score"), F.asc("doc_id"))
