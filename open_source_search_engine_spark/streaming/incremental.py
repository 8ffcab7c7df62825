"""Incremental index maintenance (SURVEY.md §2.9 R1-R6).

Reference semantics: a continuously updating index — new docs become
searchable as soon as their keys land in RdbTree (memtable), dumps write
sorted runs at memory thresholds, background merge compacts, re-spidered
docs are updated via delete-then-re-add diffs, and Msg4's ACKed idempotent
adds give exactly-once-ish ingestion.

Spark mapping:
- ``add_documents``      one micro-batch: tokenize -> encode -> append an
                         immutable delta segment + stats partials and the
                         refreshed stats in one manifest commit.  Queries
                         see base ∪ delta the moment it lands (R1/R2).
- ``update_documents``   delete-then-re-add (R4): old doc_ids tombstoned
                         (doc_id = hash(repo,path,commit) so the new
                         version never collides), new version appended.
- ``stream_documents``   Structured Streaming ``foreachBatch`` glue: each
                         micro-batch runs add_documents; the checkpoint
                         dir + deterministic doc_ids + run_id-tagged
                         manifest commits give R6 exactly-once-ish semantics.
- compaction (R3) lives in operators.merge.compact_postings.

Each delta segment gets a fresh WAND shard id: a document's postings are
wholly contained in its batch, so per-shard DAAT stays complete per doc.
"""

from __future__ import annotations

import uuid

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.build import (
    Index,
    derive_ids,
    encode_blocks,
    finalize_stats,
)
from ..functions.tokenize import tokenize_to_postings
from ..sources.tables import Manifest


def add_documents(
    spark: SparkSession,
    idx: Index,
    docs: DataFrame,
    code_aware: bool | None = None,
    field_terms: bool = True,
    bigram_terms: bool | None = None,
    numeric_fields: tuple | None = None,
    salt_target: int = 50_000,
    block_size: int = 4096,
    refresh_stats: bool = True,
    run_id: str | None = None,
) -> None:
    """Append one delta segment for ``docs`` (R1: searchable on commit),
    committed with its stats refresh as one manifest version.

    ``code_aware=None`` / ``bigram_terms=None`` / ``numeric_fields=None``
    inherit the index's feature markers (a delta tokenized differently —
    or without pair or num: termlists — in an index that has them would
    make lookups silently incomplete); an explicit mismatch raises."""
    run_id = run_id or uuid.uuid4().hex[:8]
    view = idx.view()
    has_bigrams = idx.features().get("bigrams", False)
    has_numeric = list(idx.features().get("numeric_fields", []))
    has_code_aware = idx.features().get("code_aware", None)
    fresh = view.postings.latest() is None
    if code_aware is None:
        # inherit the build's tokenizer: a delta tokenized differently
        # splits the same text into different terms, so lookups would
        # silently miss delta docs
        code_aware = has_code_aware if has_code_aware is not None else True
    elif has_code_aware is None:
        if fresh:
            # delta-created index: record the tokenizer so later deltas
            # inherit instead of defaulting
            idx.write_features(code_aware=code_aware)
    elif has_code_aware is not None and code_aware != has_code_aware:
        if fresh:
            idx.write_features(code_aware=code_aware)
        else:
            raise ValueError(
                f"index at {idx.root} has code_aware={has_code_aware}; "
                "deltas must match (tokenization would diverge between "
                "base and delta segments)"
            )
    if bigram_terms is None:
        bigram_terms = has_bigrams
    elif bigram_terms != has_bigrams:
        if fresh:
            idx.write_features(bigrams=bigram_terms)
        else:
            raise ValueError(
                f"index at {idx.root} has bigrams={has_bigrams}; deltas "
                "must match (phrase pair-termlist lookups would miss docs)"
            )
    if numeric_fields is None:
        numeric_fields = tuple(has_numeric)
    elif sorted(numeric_fields) != has_numeric:
        if fresh:
            idx.write_features(numeric_fields=sorted(numeric_fields))
        else:
            raise ValueError(
                f"index at {idx.root} has numeric_fields={has_numeric}; "
                "deltas must match (num: termlist lookups would miss docs)"
            )
    # a fresh shard id above every id the index ever used
    shard_id = view.max_shard + 1
    d = derive_ids(docs)
    posts = tokenize_to_postings(
        d,
        code_aware=code_aware,
        field_terms=field_terms,
        bigram_terms=bigram_terms,
    )
    if numeric_fields:
        from ..operators.build import numeric_postings

        num = numeric_postings(d, numeric_fields)
        if num is not None:
            posts = posts.unionByName(num)
    posts = posts.persist(StorageLevel.MEMORY_AND_DISK)
    dict_df = (
        posts.filter(F.col("term").isNotNull()).select("term_id", "term").distinct()
    )
    td_seg = idx.termdict.write_segment(dict_df.coalesce(4), label=f"delta{shard_id}")
    # groupBy-max, not distinct: numeric lookup postings carry doclen 0
    # alongside the doc's real doclen
    doclens = posts.groupBy("doc_id").agg(F.max("doclen").alias("doclen"))
    docstats = d.select(
        "doc_id", "repo", "path", "commit", "lang", "content_sha256"
    ).join(doclens, "doc_id")
    ds_seg = idx.docstats.write_segment(docstats, label=f"delta{shard_id}")
    blocks = encode_blocks(
        posts.select("term_id", "doc_id", "doclen", "tf", "pos_enc"),
        salt_target=salt_target,
        block_size=block_size,
    ).persist(StorageLevel.MEMORY_AND_DISK)
    blocks_sorted = (
        blocks.withColumn("shard", F.lit(shard_id))
        .repartitionByRange("term_id")
        .sortWithinPartitions("term_id", "salt", "block_id")
    )
    po_seg = idx.postings.write_segment(
        blocks_sorted, label=f"delta{shard_id}", bloom_col="term_id"
    )
    ts_partial = blocks.groupBy("term_id").agg(
        F.sum("n_docs").alias("df"),
        F.sum("sum_tf").alias("cf"),
        F.count("*").alias("n_blocks"),
    )
    tsp_seg = idx.termstats_partial.write_segment(
        ts_partial.coalesce(4), label=f"delta{shard_id}"
    )
    blocks.unpersist()
    posts.unpersist()
    # one commit for the whole batch: its segments and (refresh_stats)
    # the stats over them land together, so a reader sees the index
    # before the batch or after it, and a batch that dies before the
    # commit leaves nothing visible — re-running it is a clean add
    staged = view.stage(
        {
            "docstats": ([ds_seg], []),
            "termdict": ([td_seg], []),
            "termstats_partial": ([tsp_seg], []),
            "postings": ([po_seg], []),
        },
        operation="append",
        meta={"run_id": run_id},
        max_shard=shard_id,
    )
    if refresh_stats:
        finalize_stats(spark, staged, run_id)
    else:
        staged.commit()


def committed_run_ids(idx: Index) -> set[str]:
    """run_ids whose commit landed — the replay-detection ledger (R6).
    Driver-side manifest reads only; no Spark job."""
    return {
        rec["meta"]["run_id"]
        for rec in Manifest(idx.root).records(idx.version)
        if rec.get("meta", {}).get("run_id")
    }


def update_documents(
    spark: SparkSession,
    idx: Index,
    old_doc_ids: list[int],
    new_docs: DataFrame,
    **kwargs,
) -> None:
    """R4: delete-then-re-add diff of a re-crawled/re-committed file."""
    from ..operators.merge import delete_docs

    delete_docs(spark, idx, old_doc_ids)
    add_documents(spark, idx, new_docs, **kwargs)


def stream_documents(
    spark: SparkSession,
    idx: Index,
    stream: DataFrame,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
    **add_kwargs,
) -> StreamingQuery:
    """Wire a streaming documents source into the index via foreachBatch.

    Structured Streaming's checkpoint gives at-least-once batch delivery;
    the manifest log upgrades that to exactly-once at the segment level:
    each micro-batch commits under run_id ``stream-<batch_id>`` and a
    replayed batch whose run_id already appears in the manifest history
    is skipped BEFORE writing anything — no duplicate delta
    segment, no double-counted df/cf — the Msg4-ACK analog R6.
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        run_id = f"stream-{batch_id}"
        if run_id in committed_run_ids(idx):
            return  # replayed micro-batch: already durably committed
        add_documents(spark, idx, batch_df, run_id=run_id, **add_kwargs)

    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
