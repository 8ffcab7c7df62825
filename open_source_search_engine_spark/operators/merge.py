"""Segment compaction + tombstone maintenance (SURVEY.md §2.9 R3/R4, U4).

Reference analog: RdbBase::attemptMerge k-way-merges sorted runs and
annihilates delbit tombstone pairs; Msg5 resolves tree+files on the fly
until then.  The Spark rebuild:

- incremental adds append immutable segments (streaming/incremental.py);
  deletes append doc_id tombstones to the ``deletes`` table (merge-on-read);
- ``compact_postings`` rewrites all live segments into one
  term_id-range-sorted segment, dropping tombstoned docs, then atomically
  swaps the snapshot (and clears consumed tombstones) — the LSM merge.

Updates never collide on doc_id: doc_id = hash(repo, path, commit), so a
changed file arrives under a new commit => new doc_id, and the old
doc_id is tombstoned (the reference's 'delete old TitleRec keys then add
new' diff, XmlDoc::getMetaList).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import MEMO, Manifest, segment_bytes
from .build import Index, _write_docstats, _write_postings, _write_tiny_segment

# tombstone count above which compaction stops collecting the dead set to
# the driver for a broadcast anti-join and instead anti-joins against the
# deletes table directly (distributed).  Mirrors topk.MAX_DEAD_INLINE.
DEAD_BROADCAST_CAP = 100_000


def delete_docs(spark: SparkSession, idx: Index, doc_ids: list[int]) -> None:
    """Append tombstones (merge-on-read): queries exclude these doc_ids
    until the next compaction physically drops them.  An empty list
    commits nothing (same no-churn contract as delete_docs_df)."""
    if not doc_ids:
        return
    pdf = pd.DataFrame({"doc_id": np.asarray(doc_ids, dtype=np.int64)})
    t = idx.deletes
    seg = _write_tiny_segment(t, pdf, "del")
    t.commit(add=[seg], operation="delete", meta={"n": len(doc_ids)})


def delete_docs_df(spark: SparkSession, idx: Index, doc_ids: DataFrame) -> int:
    """Distributed tombstone append (PageReindex-scale delete batches):
    the match set is written as a delete segment straight from the
    executors — nothing collects to the driver.  Returns the tombstone
    count, read back from the WRITTEN segment so the upstream plan never
    re-executes.  An empty match set commits nothing (no snapshot churn,
    no cache invalidation)."""
    import shutil

    t = idx.deletes
    df = doc_ids.select(F.col("doc_id").cast("long")).distinct()
    seg = t.write_segment(df, "del")
    n = int(spark.read.parquet(seg).count())
    if n == 0:
        shutil.rmtree(seg, ignore_errors=True)
        return 0
    t.commit(add=[seg], operation="delete", meta={"n": n})
    return n


def deleted_doc_ids(
    spark: SparkSession,
    idx: Index,
    version: int | None = None,
    cap: int | None = None,
) -> np.ndarray | None:
    """Sorted DISTINCT live tombstones (small between compactions by
    design), memoized per deletes segment list.  The WAND kernel needs
    the dead set as a driver-side array (it must exclude dead docs
    BEFORE the bounded heap so survivors are true local top-k), and
    collecting it per query was a Spark job on the hot path.  Dedup
    matters: delete_docs appends without checking prior segments, and a
    repeated delete must not inflate the count toward MAX_DEAD_INLINE.
    ``version`` pins a manifest version (compaction uses this so the set
    it annihilates is exactly the set whose segments it clears).

    ``cap``: when given, returns ``None`` if the DISTINCT tombstone
    count exceeds it — and decides that WITHOUT ever materializing more
    than ``cap + 1`` ids on the driver (distinct + ``limit(cap+1)`` runs
    server-side): collecting the whole deletes table and THEN comparing
    ``len()`` to the cap would kill the driver at bulk-delete scale
    inside the very collect the cap exists to prevent.  Callers that
    hit ``None`` must take their distributed path (anti-join against the
    deletes table).  The memo holds either the array or an ("over", cap)
    marker recording that the distinct count is known to exceed cap."""
    view = idx.view(version)
    key = ("dead", view.key("deletes"))
    hit = MEMO.get(key)
    if hit is not None:
        if isinstance(hit, np.ndarray):
            if cap is not None and hit.size > cap:
                return None
            return hit
        # a tighter or equal cap is answered from the marker; a looser
        # cap (or a full materialization request) must re-probe
        if cap is not None and cap <= hit[1]:
            return None
    df = view.deletes.read(spark)
    if df is None:
        out = np.empty(0, dtype=np.int64)
    elif cap is not None:
        rows = df.select("doc_id").distinct().limit(cap + 1).collect()
        if len(rows) > cap:
            MEMO.put(key, ("over", cap))
            return None
        out = _sorted_dead(rows)
    else:
        out = _sorted_dead(df.collect())
    return MEMO.put(key, out)


def _sorted_dead(rows) -> np.ndarray:
    """Collected rows -> sorted DISTINCT int64 dead-doc array.
    np.unique's ascending SIGNED order is exactly what the WAND
    kernel's unsigned-shifted searchsorted needs: x -> x + 2^63 in
    uint64 space is monotone in signed x, so no re-sort is required."""
    return np.unique(np.array([r["doc_id"] for r in rows], dtype=np.int64))


def decode_to_postings(blocks: DataFrame, with_positions: bool = True) -> DataFrame:
    """Stored blocks -> posting rows (term_id, doc_id, doclen, tf
    [, pos_enc]) — the exact inverse of the encode kernel, so a
    compaction round-trips through the same fast Arrow path.

    The per-doc position streams are NOT decoded: the wire format is
    per-doc self-contained inside a block, so each doc's byte range is
    recovered from varint continuation bits + tf counts and re-sliced
    zero-copy.  ``with_positions=False`` skips the positions column
    entirely (never read from parquet, never scanned for continuation
    bits) — the scoring paths use this mode."""
    import pyarrow as pa

    from ..functions import codec

    cols = ["term_id", "n_docs", "doc_ids_enc", "tfs_enc", "doclens_enc"]
    if with_positions:
        cols.append("positions_enc")

    def decode(batches):
        for batch in batches:
            c = {n: batch.column(i) for i, n in enumerate(batch.schema.names)}
            t_out, d_out, l_out, f_out = [], [], [], []
            pos_chunks: list[np.ndarray] = []
            row_pos_lens: list[np.ndarray] = []
            for i in range(batch.num_rows):
                nd = int(c["n_docs"][i].as_py())
                d, tf, _pos, _b = codec.decode_postings_block(
                    c["doc_ids_enc"][i].as_py(), c["tfs_enc"][i].as_py(), b"", nd
                )
                dl = codec.decode_varint(c["doclens_enc"][i].as_py(), nd)
                if with_positions:
                    raw = np.frombuffer(c["positions_enc"][i].as_py(), dtype=np.uint8)
                    # per-value byte length from continuation bits -> per-doc
                    # byte lengths by summing tf consecutive value lengths
                    if raw.size:
                        vends = np.flatnonzero((raw & 0x80) == 0) + 1
                        tfcum = np.cumsum(tf)
                        doc_byte_end = vends[tfcum - 1]
                        doc_byte_start = np.empty(nd, dtype=np.int64)
                        doc_byte_start[0] = 0
                        doc_byte_start[1:] = doc_byte_end[:-1]
                        lens = doc_byte_end - doc_byte_start
                    else:
                        lens = np.zeros(nd, dtype=np.int64)
                    pos_chunks.append(raw)
                    row_pos_lens.append(lens)
                t_out.append(np.full(nd, c["term_id"][i].as_py(), dtype=np.int64))
                d_out.append(d)
                l_out.append(dl.astype(np.int32))
                f_out.append(tf.astype(np.int32))
            if not t_out:
                continue
            arrays = [
                pa.array(np.concatenate(t_out)),
                pa.array(np.concatenate(d_out)),
                pa.array(np.concatenate(l_out)),
                pa.array(np.concatenate(f_out)),
            ]
            names = ["term_id", "doc_id", "doclen", "tf"]
            if with_positions:
                values = (
                    np.concatenate(pos_chunks) if pos_chunks else np.empty(0, np.uint8)
                )
                lens_all = np.concatenate(row_pos_lens)
                total_b = int(lens_all.sum())
                assert total_b < 2**31, (
                    f"pos stream {total_b}B overflows int32 Arrow offsets"
                )
                offs = np.zeros(len(lens_all) + 1, dtype=np.int32)
                np.cumsum(lens_all, out=offs[1:])
                arrays.append(
                    pa.BinaryArray.from_buffers(
                        pa.binary(),
                        len(lens_all),
                        [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(values.tobytes())],
                    )
                )
                names.append("pos_enc")
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    schema = "term_id long, doc_id long, doclen int, tf int"
    if with_positions:
        schema += ", pos_enc binary"
    return blocks.select(*cols).mapInArrow(decode, schema)


def compact_deltas(
    spark: SparkSession,
    idx: Index,
    keep_largest: int = 2,
    salt_target: int = 50_000,
    block_size: int = 4096,
    run_id: str = "minor",
) -> int:
    """Tiered (minor) merge — the RdbBase 'merge a SUBSET of files'
    mode: rewrite all but the ``keep_largest`` biggest postings segments
    into ONE sorted, shard-pure segment.  Cost is O(merged deltas), not
    O(index) — the steady-state maintenance op for an index taking
    continuous small adds, with ``compact_postings`` as the major
    compaction that also annihilates tombstones.

    Semantics: pure merge.  Tombstones are NOT consumed (they stay in
    the deletes table and both query paths keep honoring them);
    docstats, termstats and the collection totals are untouched (no
    postings are added or dropped, so df/cf/N/avgdl are unchanged by
    construction).
    The merged segment takes FRESH shard ids (max existing + 1 ...)
    disjoint from every kept segment's, preserving the per-(shard,term)
    salt-modulus invariant the WAND probe routing relies on; docs from
    different add-batches never collide because each batch owns its
    doc_ids.

    Returns the number of segments merged (0 = no-op).
    """
    from pyspark import StorageLevel

    view = idx.view()
    segments = view.segments("postings")
    if len(segments) <= keep_largest + 1:
        return 0

    by_size = sorted(segments, key=segment_bytes, reverse=True)
    merge_these = by_size[keep_largest:]
    blocks_df = spark.read.parquet(*merge_these)
    n_sub = max(int(blocks_df.select("shard").distinct().count()), 1)
    # fresh, claimed shard ids above every id the index ever used (the
    # manifest carries the highest) — scanning every live segment for
    # max(shard) would make the 'O(merged deltas)' minor merge pay an
    # O(index) parquet scan just to pick an id
    first_shard = Manifest(idx.root).claim_shards(view.max_shard + 1, n_sub)
    # persist: the encode reads its input twice (heavy-term df, then
    # the salted shuffle), and the decode should run once
    posts = decode_to_postings(blocks_df).withColumn(
        "shard",
        (F.lit(int(first_shard)) + F.pmod(F.col("doc_id"), F.lit(n_sub))).cast(
            "int"
        ),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    seg, _ = _write_postings(idx, posts, "minor", salt_target, block_size)
    posts.unpersist()
    view.stage(
        {"postings": ([seg], list(merge_these))},
        max_shard=int(first_shard) + n_sub - 1,
    ).commit(
        "minor-merge", {"run_id": run_id, "merged_segments": len(merge_these)}
    )
    return len(merge_these)


def compact_postings(
    spark: SparkSession,
    idx: Index,
    salt_target: int = 50_000,
    block_size: int = 4096,
    run_id: str = "compact",
    n_shards: int | None = None,
) -> None:
    """Rewrite all live postings segments into one merged, tombstone-free,
    term_id-range-sorted segment and swap snapshots atomically (R3).

    Doc-shard parallelism is PRESERVED (r3 verdict #1): the compacted
    segment re-shards every posting by ``pmod(doc_id, n_shards)`` — one
    sorted shard-pure run per doc-partition, all encoded in a single
    shuffle — so post-compaction WAND queries still scatter one kernel
    task per shard (Msg39; RdbBase keeps per-host file sets through its
    merges too).  ``n_shards`` defaults to the number of distinct shard
    ids in the pre-compaction snapshot (incremental adds allocate fresh
    ids per batch, so this also renormalizes shard proliferation back to
    the index's steady-state width).

    Postings, docstats and stats are rebuilt (the termstats runs fold
    into one) and the consumed tombstones cleared in ONE manifest
    commit — a crash before it leaves the old index, after it the
    compacted one.  When tombstones drop docs, the docstats rewrite
    observes its own ``(n_docs, sum_doclen)`` and the commit adds the
    difference to the view's totals; with none, the totals stay.
    """
    from pyspark import StorageLevel

    # one view for the whole merge: the segments it rewrites and the
    # tombstones it annihilates are exactly the ones the commit removes;
    # a delete or add committed meanwhile is rebased over, not lost
    view = idx.view()
    prev_segs = view.segments("postings")
    if not prev_segs:
        return
    blocks_df = view.postings.read(spark)
    del_segs = view.segments("deletes")
    if n_shards is None:
        n_shards = max(int(blocks_df.select("shard").distinct().count()), 1)
    dead = (
        deleted_doc_ids(spark, view, cap=DEAD_BROADCAST_CAP)
        if del_segs
        else np.empty(0, dtype=np.int64)
    )
    if dead is None:
        # bulk-delete scale: the tombstone set never touches the driver —
        # the anti-joins below run against the deletes table itself
        # (sort-merge/shuffled hash under AQE; a broadcast of this side
        # would be exactly the OOM the cap guards against)
        dead_df = (
            view.deletes.read(spark)
            .select(F.col("doc_id").cast("long"))
            .distinct()
        )
        n_dead = int(dead_df.count())
    else:
        dead_df = (
            F.broadcast(
                spark.createDataFrame(
                    pd.DataFrame({"doc_id": dead.astype(np.int64)})
                )
            )
            if len(dead)
            else None
        )
        n_dead = int(len(dead))
    posts = decode_to_postings(blocks_df)
    if dead_df is not None:
        posts = posts.join(dead_df, "doc_id", "left_anti")
    posts = posts.withColumn(
        "shard", F.pmod(F.col("doc_id"), F.lit(n_shards)).cast("int")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # fold: one termstats run from the compacted blocks replaces every
    # run, each surviving term keeping the string the runs carry
    terms = view.termstats.read(spark).select("term_id", "term")
    seg, ts_seg = _write_postings(
        idx, posts, "compacted", salt_target, block_size, terms=terms
    )
    posts.unpersist()
    changes = {
        "postings": ([seg], prev_segs),
        "termstats": ([ts_seg], view.segments("termstats")),
    }
    coll = None
    if dead_df is not None:
        # docstats physically drops tombstoned docs, and the tombstone
        # segments whose ids were annihilated are cleared
        live = view.docstats.read(spark).join(dead_df, "doc_id", "left_anti")
        ds_seg, (n, s) = _write_docstats(view, live, "compacted")
        n0, s0 = view.coll or (0, 0)
        coll = (n - n0, s - s0)
        changes["docstats"] = ([ds_seg], view.segments("docstats"))
        changes["deletes"] = ([], del_segs)
    view.stage(
        changes,
        operation="compact",
        meta={
            "run_id": run_id,
            "tombstones_dropped": n_dead,
            "n_shards": int(n_shards),
        },
        # a later add_documents allocates shard ids ABOVE this: the
        # compacted segment occupies 0..n_shards-1, and a colliding
        # delta shard id would break the per-(shard,term) salt-modulus
        # invariant the WAND probe routing relies on
        max_shard=int(n_shards) - 1,
        coll=coll,
    ).commit()
