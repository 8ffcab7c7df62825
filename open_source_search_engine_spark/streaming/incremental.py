"""Incremental index maintenance (SURVEY.md §2.9 R1-R6).

Reference semantics: a continuously updating index — new docs become
searchable as soon as their keys land in RdbTree (memtable), dumps write
sorted runs at memory thresholds, background merge compacts, re-spidered
docs are updated via delete-then-re-add diffs, and Msg4's ACKed idempotent
adds give exactly-once-ish ingestion.

Spark mapping:
- ``add_documents``      one micro-batch through the build's batch writer:
                         tokenize -> encode -> an immutable delta segment
                         + docstats + its termstats run, and its delta
                         to the manifest's collection totals, in one
                         manifest commit; no O(index) stats refresh.
                         Queries see base ∪ delta the moment it lands
                         (R1/R2).
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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.build import Index, _resolve_features, _write_batch, derive_ids
from ..sources.tables import Manifest


def add_documents(
    spark: SparkSession,
    idx: Index,
    docs: DataFrame,
    code_aware: bool | None = None,
    field_terms: bool | None = None,
    bigram_terms: bool | None = None,
    numeric_fields: tuple | None = None,
    salt_target: int = 50_000,
    block_size: int = 4096,
    run_id: str | None = None,
) -> None:
    """Append one delta segment for ``docs`` (R1: searchable on commit),
    written by the batch writer every build shard shares
    (``operators.build._write_batch``) under a fresh WAND shard id, and
    committed with its termstats run and its ``(n_docs, sum_doclen)``
    delta to the manifest's collection totals as one manifest version.
    The work is O(batch): nothing rescans the index, and two concurrent
    adds commute (each delta is re-applied on a rebase).

    ``code_aware=None`` / ``field_terms=None`` / ``bigram_terms=None`` /
    ``numeric_fields=None`` inherit the index's feature markers (a delta
    tokenized differently — or without field, pair or num: termlists —
    in an index that has them would make lookups silently incomplete); an explicit mismatch raises, and
    into a root with no postings the given values are recorded."""
    run_id = run_id or uuid.uuid4().hex[:8]
    view = idx.view()
    features = _resolve_features(
        view,
        code_aware=code_aware,
        field_terms=field_terms,
        bigram_terms=bigram_terms,
        numeric_fields=numeric_fields,
    )
    # a fresh shard id above every id the index ever used, and claimed:
    # a concurrent add from the same view takes the next one
    shard_id = Manifest(idx.root).claim_shards(view.max_shard + 1)
    # one commit for the whole batch: its segments, its termstats run
    # and its totals delta land together, so a reader sees the index
    # before the batch or after it, and a batch that dies before the
    # commit leaves nothing visible — re-running it is a clean add
    _write_batch(
        spark,
        view,
        derive_ids(docs),
        shard_id,
        f"delta{shard_id}",
        features,
        salt_target,
        block_size,
        operation="append",
        meta={"run_id": run_id},
        max_shard=shard_id,
    ).commit()


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
