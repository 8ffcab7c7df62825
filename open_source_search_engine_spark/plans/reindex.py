"""Query-based delete and reindex (SURVEY.md §2 S11/F-surface extension).

Reference analog: Gigablast's "query reindex" admin page
(PageReindex.cpp / Msg1c): run a query, harvest EVERY matching docId —
not top-k — and feed them to the spider queue as forced re-spiders or
deletes.  The Spark rebuild keeps the whole pipeline declarative and
distributed:

- ``match_docs``: ALL doc_ids matching a query plan (the Msg1c docid
  harvest): ``plans.exec.search``'s own match plan (``_scored``) with
  its scores dropped instead of ranked — no global top-k sort, so the
  match set never collects to the driver and a query matching a
  billion docs stays a DataFrame.
- ``delete_by_query``: match set -> distributed tombstone append
  (merge-on-read delete, physically annihilated at next compaction).
- ``reindex_by_query``: match set -> (repo, path) -> current rows from
  a source table -> delete-then-re-add diff.  Unchanged docs (same
  (repo, path, commit) triple => same doc_id) are left untouched; docs
  that vanished from the source are tombstoned (the re-spider of a 404
  page deletes it).

The termlist read and the tombstone rule are ``operators.merge``'s
``term_postings`` and ``drop_deleted``, as in every query plan.
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
    """Every live doc_id matching the query — no top-k.

    The match set of ``plans.exec.search`` under the same ``match_mode``
    ('all' = every group present, the default; 'any' = at least one,
    a phrase counting only where its adjacency holds): the same plan,
    with its scores dropped before any global sort, so a billion-doc
    match set stays a DataFrame."""
    from .exec import _check_plan, _scored

    plan = parse_query(query) if isinstance(query, str) else query
    _check_plan(plan, match_mode)
    # one manifest version for stats, postings and deletes
    scored, _slots = _scored(spark, index.view(), plan, match_mode)
    if scored is None:
        return spark.createDataFrame([], "doc_id long")
    return scored.select("doc_id")


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
    from ..operators.merge import delete_docs_df, drop_deleted
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
    live = drop_deleted(spark, index, live)
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
