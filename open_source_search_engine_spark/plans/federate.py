"""Multi-collection federated search (SURVEY.md §1 "collections").

Reference analog: Gigablast collections are fully independent index
namespaces — each gets its own set of Rdbs (``Collectiondb.cpp``,
``CollectionRec``) — and a query may address several at once
(``&c=coll1+coll2``): Msg40 runs the query against every named
collection and merges the per-collection result sets into one SERP.

Spark rebuild: a collection is simply an independent ``Index`` root
(its own postings/stats/deletes snapshot tables — the namespace IS the
path prefix, exactly SURVEY §1's mapping).  Federated search fans the
query out to each collection's own pruned plan and merges the bounded
per-collection top-k lists into a global top-k:

- each collection is scored with its OWN statistics (df/cf/N/avgdl),
  matching the reference — collections share nothing, so a term rare in
  a small collection legitimately outscores the same term in a large
  one.  No cross-collection stat blending (Gigablast does none either).
- the scatter is embarrassingly parallel: per-collection searches are
  independent jobs over disjoint segment sets (submitted from driver
  threads so local/cluster schedulers interleave their stages), and the
  gather is a union of c bounded k-row DataFrames — O(c*k) rows, a
  driver-scale merge no matter how big each collection is.  This is the
  same two-level topology as the per-shard WAND scatter (Msg39) one
  level up: shard -> collection.

At 100 TB: collections map to separate table roots (per-tenant, per-
crawl, per-language corpora); the federated plan never shuffles corpus
data — only the c*k merged result rows move.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.build import Index
from ..operators.topk import search_wand


def search_collections(
    spark: SparkSession,
    collections: dict[str, Index],
    query: str,
    k: int = 10,
    per_collection_k: int | None = None,
    enrich: bool = False,
    lang_boost: tuple[str, float] | None = None,
    parallel: bool = True,
) -> DataFrame:
    """Top-k over several collections in one call (the ``&c=a+b`` SERP).

    Returns (collection, doc_id, score[, enrich cols]) — the global
    top-``k`` by score over the union of per-collection top-k lists,
    each scored against its own collection's statistics.  Ties break by
    (collection, doc_id) so the merge is deterministic.

    ``per_collection_k`` defaults to ``k``: a doc in the global top-k is
    necessarily in its collection's top-k, so fetching k from each
    collection loses nothing (fetch more only to over-provision a
    downstream rounded re-rank).
    """
    if not collections:
        raise ValueError("search_collections needs at least one collection")
    per_k = k if per_collection_k is None else per_collection_k
    if per_k < k:
        # a doc in the global top-k need NOT be in its collection's
        # top-(k-1): fetching fewer than k per collection silently
        # returns wrong global results when one collection dominates
        raise ValueError(
            f"per_collection_k ({per_k}) must be >= k ({k}) — the global "
            "top-k is only correct when each collection contributes its "
            "own full top-k"
        )

    def one(item: tuple[str, Index]) -> DataFrame:
        name, idx = item
        res = search_wand(
            spark, idx, query, k=per_k, enrich=enrich, lang_boost=lang_boost
        )
        return res.withColumn("collection", F.lit(name))

    items = sorted(collections.items())
    if parallel and len(items) > 1:
        # scatter from driver threads (the Msg40 multicast): each
        # collection's jobs are independent; interleaving them fills
        # scheduler gaps exactly like build_index's shard_parallelism
        with ThreadPoolExecutor(max_workers=min(8, len(items))) as ex:
            parts = list(ex.map(one, items))
    else:
        parts = [one(it) for it in items]
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    front = ["collection", "doc_id", "score"]
    cols = front + [c for c in merged.columns if c not in front]
    return (
        merged.select(*cols)
        .orderBy(F.desc("score"), F.asc("collection"), F.asc("doc_id"))
        .limit(k)
    )


def search_collections_batch(
    spark: SparkSession,
    collections: dict[str, Index],
    queries: list,
    k: int = 10,
    enrich: bool = False,
    lang_boost: tuple[str, float] | None = None,
) -> DataFrame:
    """N queries × C collections, C Spark jobs total — the resident-
    server shape across namespaces.  Each collection answers the WHOLE
    batch in its one-job plan (``search_wand_batch``, which shares
    ``search_wand``'s planner: one pruned union scan, the kernel re-run
    per query in each shard's task, a per-query top-k window, and with
    ``enrich`` the driver-side docmeta rows).  A per-query window then
    merges the bounded C×k lists into global top-k per query.

    Output: (query, collection, doc_id, score[, enrich cols]), top-k
    per query across all collections; ties break by (collection,
    doc_id).  The merge input is ≤ C·N·k rows regardless of index size.
    """
    if not collections:
        raise ValueError("search_collections_batch needs at least one collection")
    if not queries:
        raise ValueError("empty query batch")
    from pyspark.sql import Window

    items = sorted(collections.items())

    def one(item: tuple[str, Index]) -> DataFrame:
        name, idx = item
        from ..operators.topk import search_wand_batch

        res = search_wand_batch(
            spark, idx, queries, k=k, enrich=enrich, lang_boost=lang_boost
        )
        return res.withColumn("collection", F.lit(name))

    if len(items) > 1:
        with ThreadPoolExecutor(max_workers=min(8, len(items))) as ex:
            parts = list(ex.map(one, items))
    else:
        parts = [one(items[0])]
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    w = Window.partitionBy("query").orderBy(
        F.desc("score"), F.asc("collection"), F.asc("doc_id")
    )
    front = ["query", "collection", "doc_id", "score"]
    cols = front + [c for c in merged.columns if c not in front]
    return (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
        .select(*cols)
        .orderBy("query", F.desc("score"), F.asc("collection"), F.asc("doc_id"))
    )


def _conjunctive_hits(spark: SparkSession, idx: Index, terms: list[str]) -> int:
    """Exact live hit count of a plain AND query (A6): the size of its
    match set, with the same tombstones the SERP honours."""
    from .query import terms_plan
    from .reindex import match_docs

    return match_docs(spark, idx, terms_plan(terms)).count() if terms else 0


def collection_total_hits(
    spark: SparkSession, collections: dict[str, Index], terms: list[str]
) -> DataFrame:
    """Per-collection exact hit counts of a conjunctive query (the SERP's
    per-collection result-count line): one row (collection, total_hits)
    per namespace, each from that collection's own pruned termlist scan.
    The independent per-collection count jobs scatter from driver
    threads like search_collections — serial dispatch would pay the
    per-job floor C times in wall-clock for no reason."""
    items = sorted(collections.items())
    if len(items) > 1:
        with ThreadPoolExecutor(max_workers=min(8, len(items))) as ex:
            hits = list(
                ex.map(lambda it: _conjunctive_hits(spark, it[1], terms), items)
            )
    else:
        hits = [_conjunctive_hits(spark, items[0][1], terms)]
    rows = [(name, h) for (name, _idx), h in zip(items, hits)]
    return spark.createDataFrame(rows, "collection string, total_hits long")
