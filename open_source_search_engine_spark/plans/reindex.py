"""Query-based delete and reindex (SURVEY.md §2 S11/F-surface extension).

Reference analog: Gigablast's "query reindex" admin page
(PageReindex.cpp / Msg1c): run a query, harvest EVERY matching docId —
not top-k — and feed them to the spider queue as forced re-spiders or
deletes.  The Spark rebuild keeps the whole pipeline declarative and
distributed:

- ``match_docs``: ALL doc_ids matching a query plan (the Msg1c docid
  harvest).  Same pruned termlist scan and slot-coverage intersection
  the scoring paths use, minus BM25 and minus the global top-k sort —
  the match set never collects to the driver, so a query matching a
  billion docs stays a DataFrame.
- ``delete_by_query``: match set -> distributed tombstone append
  (merge-on-read delete, physically annihilated at next compaction).
- ``reindex_by_query``: match set -> (repo, path) -> current rows from
  a source table -> delete-then-re-add diff.  Unchanged docs (same
  (repo, path, commit) triple => same doc_id) are left untouched; docs
  that vanished from the source are tombstoned (the re-spider of a 404
  page deletes it).

Scale notes: segments are doc-complete (a build/add shard's segment
carries ALL termlists of its docs), so the bloom-pruned read keyed on
the POSITIVE member ids is sufficient for negation and phrase verify —
the same invariant the scoring paths rely on.  Slot coverage is one
hash aggregation (count_distinct over <= n_slots values per doc);
tombstone exclusion and negation are anti-joins AQE resolves to
broadcast when small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.build import Index
from .query import QueryPlan, parse_query


def match_docs(
    spark: SparkSession,
    index: Index,
    query: str | QueryPlan,
    match_mode: str = "all",
) -> DataFrame:
    """Every live doc_id matching the query — no scoring, no top-k.

    Supports the full conjunctive query surface: AND of OR-groups,
    quoted phrases (bigram-pair fast path when the index carries pair
    termlists, positional member verify otherwise), negative terms,
    fielded terms, merge-on-read tombstone exclusion.  ``match_mode``
    follows plans.exec.search: 'all' = every group present (default),
    'any' = at least one group present (a phrase counts as present only
    where its positional adjacency holds).

    NOTE: this mirrors exec.search's slot/phrase/negation plumbing minus
    scoring (the scoring plan can't simply run with k=infinity — the
    global top-k sort is the thing a billion-doc match set must avoid).
    Any semantic change to exec.search's group handling must land here
    too; tests/test_reindex.py::test_match_docs_equals_search_match_set
    pins the parity across the query shapes.
    """
    from ..operators.merge import decode_to_postings
    from .exec import _phrase_ok_docs, _stats_cached

    plan = parse_query(query) if isinstance(query, str) else query
    if not plan.groups:
        raise ValueError("query has no positive terms")
    if match_mode not in ("all", "any"):
        raise ValueError(f"match_mode must be 'all' or 'any', got {match_mode!r}")

    # one slot per AND-group; a phrase group is ONE presence unit whose
    # membership is positional adjacency, not token co-occurrence
    term_rows: list[tuple[str, int]] = []  # (term, slot) — OR within slot
    phrase_slots: dict[int, tuple[str, ...]] = {}  # slot -> tokens
    for slot, g in enumerate(plan.groups):
        if len(g.members) == 1 and g.members[0].phrase:
            phrase_slots[slot] = g.members[0].phrase
        else:
            for m in g.members:
                term_rows.append((m.text, slot))
    n_slots = len(plan.groups)
    neg_terms = [t.text for t in plan.negatives]

    use_bigrams = bool(phrase_slots) and index.features().get("bigrams", False)
    phrase_chains: dict[int, list[str]] = {}  # slot -> chain terms to verify
    for slot, toks in phrase_slots.items():
        phrase_chains[slot] = (
            [f"{toks[j]} {toks[j + 1]}" for j in range(len(toks) - 1)]
            if use_bigrams
            else list(toks)
        )

    all_terms = sorted(
        {t for t, _s in term_rows}
        | set(neg_terms)
        | {c for chain in phrase_chains.values() for c in chain}
    )
    index = index.view()  # one manifest version for stats, postings, deletes
    _n_docs, _avgdl, df_by_term = _stats_cached(spark, index, all_terms)

    # slot liveness: an OR slot lives if any member is in the corpus; a
    # phrase slot lives only if its whole chain is (an absent pair/token
    # makes the phrase unmatchable)
    live_term_rows = [(t, s) for (t, s) in term_rows if t in df_by_term]
    live_or_slots = {s for _t, s in live_term_rows}
    live_phrase_slots = {
        s
        for s, chain in phrase_chains.items()
        if all(c in df_by_term for c in chain)
    }
    n_live = len(live_or_slots | live_phrase_slots)
    if (match_mode == "all" and n_live < n_slots) or n_live == 0:
        return spark.createDataFrame([], "doc_id long")

    pos_ids = sorted({df_by_term[t][0] for t, _s in live_term_rows})
    chain_ids = sorted(
        {df_by_term[c][0] for s in live_phrase_slots for c in phrase_chains[s]}
    )
    blocks = index.postings.read_pruned(spark, pos_ids + chain_ids)

    pres = None
    if live_term_rows:
        qterms = spark.createDataFrame(
            [(df_by_term[t][0], s) for t, s in live_term_rows],
            "term_id long, slot int",
        ).distinct()
        pres = (
            decode_to_postings(
                blocks.filter(F.col("term_id").isin(pos_ids)),
                with_positions=False,
            )
            .join(F.broadcast(qterms), "term_id")
            .select("doc_id", "slot")
        )
    if live_phrase_slots:
        adj_meta: dict[int, list[tuple[int, int]]] = {}
        adj_specs: list[tuple[int, int]] = []
        for s in sorted(live_phrase_slots):
            chain = phrase_chains[s]
            for seq, c in enumerate(chain):
                adj_meta.setdefault(df_by_term[c][0], []).append((s, seq))
            adj_specs.append((s, len(chain)))
        ok = _phrase_ok_docs(blocks, adj_meta, adj_specs).select(
            "doc_id", F.col("phrase_id").alias("slot")
        )
        pres = ok if pres is None else pres.unionByName(ok)

    cov = pres.groupBy("doc_id").agg(F.count_distinct("slot").alias("_ns"))
    if match_mode == "all":
        matched = cov.filter(F.col("_ns") == n_slots).select("doc_id")
    else:
        matched = cov.select("doc_id")  # >=1 slot by construction

    neg_ids = [df_by_term[t][0] for t in neg_terms if t in df_by_term]
    if neg_ids:
        neg_docs = (
            decode_to_postings(
                blocks.filter(F.col("term_id").isin(neg_ids)),
                with_positions=False,
            )
            .select("doc_id")
            .distinct()
        )
        matched = matched.join(neg_docs, "doc_id", "left_anti")

    ddf = index.deletes.read(spark)
    if ddf is not None:
        matched = matched.join(
            ddf.select("doc_id").distinct(), "doc_id", "left_anti"
        )
    return matched


def delete_by_query(
    spark: SparkSession,
    index: Index,
    query: str | QueryPlan,
    match_mode: str = "all",
) -> int:
    """PageReindex 'delete' mode: tombstone every live doc matching the
    query.  Returns the number of tombstones written.  Idempotent: a
    second run matches nothing (match_docs excludes tombstoned docs)."""
    from ..operators.merge import delete_docs_df

    return delete_docs_df(spark, index, match_docs(spark, index, query, match_mode))


def reindex_by_query(
    spark: SparkSession,
    index: Index,
    query: str | QueryPlan,
    source: DataFrame,
    match_mode: str = "all",
    **add_kwargs,
) -> dict:
    """PageReindex 'reindex' mode: re-ingest the CURRENT source rows of
    every doc matching the query.

    ``source`` is the current corpus table (one row per (repo, path) at
    its head commit — the shape build_index ingests).  The diff per
    matched doc, keyed on the (repo, path, commit) triple the stored
    docstats carries (NOT on recomputed hash ids — an index built over a
    corpus with its own external ``doc_id`` column must diff the same
    way):

    - source row unchanged (same (repo, path, commit)): untouched —
      tombstoning it would kill the identical re-add.
    - source row changed: old doc_id tombstoned, new row added (the
      XmlDoc::getMetaList delete-old-keys-then-add diff).
    - source row gone: old doc_id tombstoned (re-spider of a dead URL).

    A re-add whose doc_id is ALREADY live in the index (e.g. both an old
    and the head version of a path were indexed and only the old one
    matched the query) is skipped — re-ingesting it would duplicate its
    postings in every termlist.

    Returns ``{"matched": n, "deleted": d, "added": a}``.  Extra kwargs
    flow to add_documents (salt_target, block_size, ...; tokenizer and
    feature flags inherit from the index's feature markers there).
    """
    from ..functions.hashing import doc_id_col
    from ..operators.merge import delete_docs_df
    from ..streaming.incremental import add_documents

    matched = match_docs(spark, index, query, match_mode)
    docstats = index.docstats.read(spark)
    if docstats is None:
        raise FileNotFoundError(f"docstats snapshot absent under {index.root!r}")
    old = (
        docstats.select("doc_id", "repo", "path", "commit")
        .join(matched, "doc_id", "left_semi")
        # doc_id is unique in docstats; distinct guards double-counting
        # if a caller hands a hand-built index with replayed segments
        .distinct()
        # the heavy plan (pruned scan + decode + coverage agg) executes
        # ONCE here; the delete write, the add, and the counts all reuse
        # the materialized match set
        .persist()
    )
    n_matched = old.count()
    triple = ["repo", "path", "commit"]
    cur = source.join(old.select("repo", "path").distinct(), ["repo", "path"], "left_semi")
    unchanged = old.join(cur.select(*triple), triple, "left_semi").select("doc_id")
    to_delete = old.select("doc_id").join(unchanged, "doc_id", "left_anti")
    to_add = cur.join(old.select(*triple), triple, "left_anti")

    # liveness guard: never re-add an id that still has live postings.
    # live = everything in docstats minus prior tombstones minus the ids
    # this very call is deleting (computed BEFORE the delete commits so
    # the plan is pinned either way)
    add_id = (
        F.col("doc_id")
        if "doc_id" in to_add.columns
        else doc_id_col(F.col("repo"), F.col("path"), F.col("commit"))
    )
    live = docstats.select("doc_id").join(to_delete, "doc_id", "left_anti")
    ddf = index.deletes.read(spark)
    if ddf is not None:
        live = live.join(ddf.select("doc_id").distinct(), "doc_id", "left_anti")
    to_add = (
        to_add.withColumn("_add_id", add_id)
        .join(live.withColumnRenamed("doc_id", "_add_id"), "_add_id", "left_anti")
        .drop("_add_id")
        .persist()
    )
    try:
        n_added = to_add.count()
        n_deleted = delete_docs_df(spark, index, to_delete)
        if n_added:
            add_documents(spark, index, to_add, **add_kwargs)
    finally:
        old.unpersist()
        to_add.unpersist()
    return {"matched": n_matched, "deleted": n_deleted, "added": n_added}
