"""Index build pipeline (SURVEY.md §3.2 — the XmlDoc::hashAll ->
Msg4 route -> Rdb store chain, rebuilt as one DataFrame program).

Shape:
    documents -> derive(doc_id, content_sha256, doclen, tokens)
              -> posexplode -> groupBy(term, doc_id) agg(tf, positions)   # A1
              -> shard-local df per term -> salted repartition            # skew
              -> mapInArrow encode (sorted, delta+varint blocks)          # X10/T5
                 over doc ordinals, plus each shard's doc dictionary
              -> repartitionByRange(term_id) sorted segment write         # S4
    + docstats / one termstats run per batch / checkpoints / metrics, and
      the batch's (n_docs, sum_doclen) added to the manifest's totals.

Scale design (100 TB story):
- The corpus is processed in ``n_shards`` doc-hash shards, each an
  independent job writing an immutable sorted segment — exactly posdb's
  document-partitioned sharding (Hostdb::getShardNum on docId) and the LSM
  dump of one sorted run (RdbDump).  A failed run resumes by skipping
  shards whose checkpoint row exists (north-rule resumability; Repair.cpp
  analog S11).
- Heavy terms (zipf head) are salted: a term whose shard-local df exceeds
  ``salt_target`` is split into ceil(df/salt_target) sub-lists keyed by
  (term, pmod(doc_id, n_salts)) before the encode groupBy, so no single
  task materializes a monster termlist.  Salt is a build-time partitioning
  device only — queries match blocks by term_id and never see salts.
- Each shard of a segment carries a doc dictionary, its sorted doc ids
  and their doclens, stored once as the termlist of a reserved term
  (``schemas.DICT_TERM_ID``).  Termlist blocks store each doc as its
  ordinal, its rank in that dictionary: dense small deltas where the
  xxhash64 ids differ by random 64-bit gaps (posdb's docId prefix
  compression), and the doclen comes from the dictionary, so scoring
  never joins docstats and no doclen is stored per posting.
- Everything shuffles on term or doc_id.  The one thing that collects to
  the driver is a written batch's doc dictionaries (``_doc_dicts``,
  about 16 B per doc of the batch), which reach the encode tasks as one
  broadcast; a compaction's batch is every doc it rewrites.
"""

from __future__ import annotations

import os
import time
import uuid

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions import codec
from ..functions.hashing import content_sha256, doc_id_col, term_hash_py
from ..functions.tokenize import tokenize_to_postings
from ..schemas import DICT_TERM_ID, TABLES
from ..sources.tables import MEMO, PARQUET_CODEC, Index, IndexView


def docmeta_cached(spark: SparkSession, index: Index) -> DataFrame:
    """Cached ``(doc_id, repo, path, lang)`` projection of the docstats
    segments at the index's view — the title-rec cache analog (Msg20/
    Msg22 keep doc metadata resident instead of re-reading it per
    query).  Without it every enriched query pays a fresh parquet scan of
    docstats; with it the broadcast top-k probes in-memory columnar
    partitions.  Spark's .cache() spills per-partition, so the same code
    holds on a cluster where docstats exceeds executor memory.  Keyed by
    the Spark application id too: a cached DataFrame belongs to one
    SparkContext."""
    view = index.view()
    key = ("docmeta", spark.sparkContext.applicationId, view.key("docstats"))
    df = MEMO.get(key)
    if df is None:
        base = view.docstats.read(spark)
        if base is None:
            raise RuntimeError(
                f"docstats snapshot absent under {index.root!r} — build the "
                "index (build_index / add_documents) before querying"
            )
        df = MEMO.put(key, base.select("doc_id", "repo", "path", "lang").cache())
    return df


def derive_ids(docs: DataFrame) -> DataFrame:
    """documents -> + doc_id, content_sha256 (cheap JVM columns only —
    computed BEFORE any shard filter so shard pruning costs nothing).

    A pre-existing ``doc_id`` column is preserved — external corpora with
    their own stable ids (e.g. the driver fixture tables) index under
    those ids, so query results join back without an id-mapping table."""
    if "doc_id" not in docs.columns:
        docs = docs.withColumn(
            "doc_id", doc_id_col(F.col("repo"), F.col("path"), F.col("commit"))
        )
    return docs.withColumn("content_sha256", content_sha256(F.col("content")))


# the encode kernel's output columns: the stored block layout, whose
# last column, ``shard``, rides along only when the input carries it
_BLOCK_COLS = TABLES["postings"].fieldNames()[:-1]


def _encode_sorted_postings(
    term_ids: np.ndarray,
    salts: np.ndarray,
    n_salts_arr: np.ndarray,
    doc_ids: np.ndarray,
    doclens: np.ndarray,
    tfs: np.ndarray,
    pos_values: np.ndarray,
    pos_offsets: np.ndarray,
    block_size: int,
    shards: np.ndarray | None = None,
    ordinals: np.ndarray | None = None,
    dict_doclens: np.ndarray | None = None,
) -> pa.RecordBatch:
    """Encode posting rows sorted by (term_id, salt, doc_id) into termlist
    blocks — ONE numpy pass, primitives + pre-encoded position bytes.

    Positions arrive already delta+varint encoded per doc (tokenizer
    kernel), and the wire format is per-doc self-contained, so a block's
    positions stream is a pure byte-range concat: zero-copy via the input
    binary column's values buffer + offset vector.  The id stream holds
    ``ordinals`` (each row's rank in its shard's doc dictionary) when
    given, else the absolute ids (a dictionary's own blocks, or an encode
    with no dictionary); its deltas reset to absolute at each block
    boundary.  No doclen is stored per posting: a block whose rows all
    carry doclen 0 (a ``num:`` or ``anchor:`` lookup termlist) is flagged
    ``lookup`` and scores with 0, and every other row must carry its
    doc's dictionary doclen (``dict_doclens``, given with ``ordinals``),
    which decoders read back.  ``doclens`` also bound the block
    (``min_doclen``).  All varint streams are encoded globally with per-value lengths and
    sliced via offset vectors — no per-block python beyond assembling
    the Arrow arrays.
    """
    nd = len(term_ids)

    # ---- block boundaries: new (term,salt) group, or block_size docs ----
    # (multi-shard mode additionally breaks at shard changes so a block
    # never spans doc-partitions — the WAND kernel's per-shard scatter
    # depends on blocks being shard-pure)
    change = np.empty(nd, dtype=bool)
    change[0] = True
    np.not_equal(term_ids[1:], term_ids[:-1], out=change[1:])
    change[1:] |= salts[1:] != salts[:-1]
    if shards is not None:
        change[1:] |= shards[1:] != shards[:-1]
    group_starts = np.flatnonzero(change)
    group_sizes = np.diff(np.append(group_starts, nd))
    within = np.arange(nd) - np.repeat(group_starts, group_sizes)
    block_mask = change | (within % block_size == 0)
    bstarts = np.flatnonzero(block_mask)
    bends = np.append(bstarts[1:], nd)
    block_id = (within[bstarts] // block_size).astype(np.int64)

    # ---- doc keys (ordinals, or shifted-uint64 ids): deltas, reset to
    # absolute per block ----
    if ordinals is None:
        u = doc_ids.astype(np.uint64) + np.uint64(1 << 63)
    else:
        u = ordinals.astype(np.uint64)
    # sorted-run invariant: within a (term, salt[, shard]) group doc ids
    # must be STRICTLY ascending.  A duplicate (term, doc) would double-
    # count df and break per-doc probes; fail loudly instead of writing
    # a corrupt block.
    if nd > 1:
        dup = (~change[1:]) & (u[1:] == u[:-1])
        if dup.any():
            i = int(np.flatnonzero(dup)[0]) + 1
            raise ValueError(
                "duplicate (term_id, doc_id) posting in encode input: "
                f"term_id={int(term_ids[i])} doc_id={int(doc_ids[i])} — "
                "the doc is indexed twice.  Either add_documents re-added "
                "a doc that is already live (same repo, path and commit, "
                "so the same doc_id; delete it before re-adding), or "
                "injected extra_postings used a term the document's own "
                "content produces (prefix them, e.g. 'anchor:')"
            )
    ddelta = np.empty(nd, dtype=np.uint64)
    ddelta[0] = u[0]
    np.subtract(u[1:], u[:-1], out=ddelta[1:])
    ddelta[bstarts] = u[bstarts]
    doc_bytes, doc_nb = codec.encode_varint_with_lengths(ddelta)
    doc_off = np.zeros(nd + 1, dtype=np.int64)
    np.cumsum(doc_nb, out=doc_off[1:])

    tf_bytes, tf_nb = codec.encode_varint_with_lengths(tfs.astype(np.uint64))
    tf_off = np.zeros(nd + 1, dtype=np.int64)
    np.cumsum(tf_nb, out=tf_off[1:])

    # ---- per-block metadata + WAND bounds (§4.1 getMaxPossibleScore):
    # impact(tf,dl) is monotone up in tf / down in dl, so the query-time
    # bound idf*impact(max_tf, min_doclen) dominates every doc in a block.
    max_tf = np.maximum.reduceat(tfs, bstarts)
    min_dl = np.minimum.reduceat(doclens, bstarts)
    lookup = np.maximum.reduceat(doclens, bstarts) == 0
    if dict_doclens is not None:
        # a decoder gives a non-lookup row its dictionary doclen, so a
        # row whose own doclen differs (a lookup posting in a scoring
        # termlist) would score differently once stored
        bad = (doclens != dict_doclens) & ~np.repeat(lookup, bends - bstarts)
        if bad.any():
            i = int(np.flatnonzero(bad)[0])
            raise ValueError(
                f"posting term_id={int(term_ids[i])} doc_id={int(doc_ids[i])} "
                f"has doclen {int(doclens[i])}, but its doc's doclen is "
                f"{int(dict_doclens[i])}: a termlist must hold either only "
                "doclen-0 lookup postings or only postings with their doc's "
                "doclen"
            )
    sum_tf = np.add.reduceat(tfs, bstarts).astype(np.int64)  # -> cf (A2)
    n_docs = (bends - bstarts).astype(np.int64)

    def bin_col(stream: np.ndarray, value_off: np.ndarray) -> pa.Array:
        # pa.binary() carries int32 offsets: a >2 GiB encoded stream in one
        # Arrow batch would wrap silently on the cast below.  Batches are
        # sized well under this (maxRecordsPerBatch), so fail loudly rather
        # than corrupt blocks if a pathological carry-run ever exceeds it.
        assert stream.nbytes < 2**31, (
            f"encoded stream {stream.nbytes}B overflows int32 Arrow offsets; "
            "lower spark.sql.execution.arrow.maxRecordsPerBatch"
        )
        offs = np.empty(len(bstarts) + 1, dtype=np.int32)
        offs[:-1] = value_off[bstarts]
        offs[-1] = value_off[bends[-1]] if len(bends) else 0
        return pa.BinaryArray.from_buffers(
            pa.binary(),
            len(bstarts),
            [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(stream.tobytes())],
        )

    arrays = [
        pa.array(term_ids[bstarts]),
        pa.array(salts[bstarts].astype(np.int32)),
        pa.array(n_salts_arr[bstarts].astype(np.int32)),
        pa.array(block_id.astype(np.int32)),
        pa.array(n_docs.astype(np.int32)),
        pa.array(sum_tf),
        pa.array(doc_ids[bstarts]),
        pa.array(doc_ids[bends - 1]),
        pa.array(max_tf.astype(np.int32)),
        pa.array(min_dl.astype(np.int32)),
        pa.array(lookup),
        bin_col(doc_bytes, doc_off),
        bin_col(tf_bytes, tf_off),
        bin_col(pos_values, pos_offsets),
    ]
    names = list(_BLOCK_COLS)
    if shards is not None:
        arrays.append(pa.array(shards[bstarts].astype(np.int32)))
        names.append("shard")
    return pa.RecordBatch.from_arrays(arrays, names=names)


def encode_blocks(
    postings: DataFrame,
    salt_target: int = 50_000,
    block_size: int = 4096,
) -> DataFrame:
    """Salted repartition + sorted varint-block encode (S4/T5/X10).

    Input: posting rows (term_id, doc_id, doclen, tf, pos_enc) — fixed
    width primitives + one small binary column.  Physical shape: ONE
    shuffle keyed by (term_id, salt) with a partition-local sort, then a
    streaming Arrow encode.  A straddle buffer carries the trailing
    (term_id, salt) run across Arrow batches so batch boundaries never
    split a termlist — the RdbDump 'write one sorted run' loop, vectorized.

    Salting: a term whose df exceeds ``salt_target`` splits into
    ceil(df/salt_target) doc-hash sub-lists, so the zipf head cannot pin a
    single task (north-rule explicit skew handling).  The stats join rides
    the same hash key as the repartition.

    When the input also carries a ``shard`` column (the doc-partition
    id, as in every ``_write_postings`` write), blocks come out
    shard-pure with the shard in the output schema — a compaction
    encodes every doc-partition's sorted run in the SAME single shuffle
    (RdbBase keeps per-host file sets; one merge rewrites them all).
    Salting then uses shard-local df, matching what a per-shard build
    would have produced.

    Sharded input is written in the stored layout: the call collects each
    shard's doc dictionary (``_doc_dicts``, one Spark job) and
    broadcasts it, each row is encoded as its ordinal in it
    (``_ordinals``), and the dictionaries' own blocks (``_dict_batch``)
    come out beside the termlist blocks.  Without a shard column the
    blocks hold absolute ids and no dictionary is written.
    """
    sharded = "shard" in postings.columns
    if sharded:
        dicts = _doc_dicts(postings)
        docs = postings.sparkSession.sparkContext.broadcast(dicts)
    n_row = 7 if sharded else 6  # leading fixed-width row arrays per batch
    shard_key = ["shard"] if sharded else []
    # only the zipf head needs salting: aggregate df per term, keep just
    # the heavy terms (df > salt_target) and broadcast THAT — a few
    # hundred rows — instead of joining the full per-term stats (a ~1M-row
    # broadcast serialized on the driver cost ~10 s flat regardless of
    # cluster size).  Light terms default to n_salts = 1.
    heavy = (
        postings.groupBy(*shard_key, "term_id")
        .agg(F.count("*").alias("df_local"))
        .filter(F.col("df_local") > salt_target)
    )
    salted = (
        postings.join(F.broadcast(heavy), shard_key + ["term_id"], "left")
        .withColumn(
            "n_salts",
            F.coalesce(
                F.ceil(F.col("df_local") / F.lit(salt_target)), F.lit(1)
            ).cast("int"),
        )
        .withColumn("salt", F.pmod(F.col("doc_id"), F.col("n_salts")).cast("int"))
        .select(
            *shard_key,
            "term_id", "salt", "n_salts", "doc_id", "doclen", "tf", "pos_enc",
        )
    )
    part = salted.repartition(*shard_key, "term_id", "salt").sortWithinPartitions(
        *shard_key, "term_id", "salt", "doc_id"
    )

    def _extract(batch: pa.RecordBatch):
        cols = {name: batch.column(i) for i, name in enumerate(batch.schema.names)}
        pe = cols["pos_enc"]
        # binary column -> (values uint8, per-row byte offsets len n+1);
        # offsets may not start at 0 for sliced arrays — rebase
        offs = np.frombuffer(pe.buffers()[1], dtype=np.int32, count=len(pe) + 1 + pe.offset)[
            pe.offset :
        ].astype(np.int64)
        data = np.frombuffer(pe.buffers()[2], dtype=np.uint8)
        values = data[offs[0] : offs[-1]].copy()
        offs = offs - offs[0]
        rows = (
            cols["term_id"].to_numpy(zero_copy_only=False).astype(np.int64),
            cols["salt"].to_numpy(zero_copy_only=False).astype(np.int64),
            cols["n_salts"].to_numpy(zero_copy_only=False).astype(np.int64),
            cols["doc_id"].to_numpy(zero_copy_only=False).astype(np.int64),
            cols["doclen"].to_numpy(zero_copy_only=False).astype(np.int64),
            cols["tf"].to_numpy(zero_copy_only=False).astype(np.int64),
        )
        if sharded:
            rows += (cols["shard"].to_numpy(zero_copy_only=False).astype(np.int64),)
        return rows + (values, offs)

    def _concat(a, b):
        # first n_row are row arrays; then the byte stream; then offsets
        rows = tuple(np.concatenate([x, y]) for x, y in zip(a[:n_row], b[:n_row]))
        values = np.concatenate([a[n_row], b[n_row]])
        offs = np.concatenate([a[n_row + 1][:-1], b[n_row + 1] + a[n_row + 1][-1]])
        return rows + (values, offs)

    def _slice(arrs, lo, hi):
        blo, bhi = arrs[n_row + 1][lo], arrs[n_row + 1][hi]
        return tuple(x[lo:hi] for x in arrs[:n_row]) + (
            arrs[n_row][blo:bhi],
            arrs[n_row + 1][lo : hi + 1] - blo,
        )

    def _encode(arrs) -> pa.RecordBatch:
        ords = dict_dls = None
        if sharded:
            ords, dict_dls = _ordinals(docs.value, arrs[6], arrs[3])
        return _encode_sorted_postings(
            *arrs[:6],
            arrs[n_row],
            arrs[n_row + 1],
            block_size,
            shards=arrs[6] if sharded else None,
            ordinals=ords,
            dict_doclens=dict_dls,
        )

    def encode_stream(batches):
        carry = None
        for batch in batches:
            if batch.num_rows == 0:
                continue
            arrs = _extract(batch)
            if carry is not None:
                arrs = _concat(carry, arrs)
                carry = None
            term_ids, salts = arrs[0], arrs[1]
            n = len(term_ids)
            # hold back the trailing (shard,term_id,salt) run — it may
            # continue in the next Arrow batch (runs are contiguous in
            # sorted input)
            same = (term_ids == term_ids[-1]) & (salts == salts[-1])
            if sharded:
                same &= arrs[6] == arrs[6][-1]
            n_tail = int(same[::-1].cumprod().sum())
            if n_tail == n:
                carry = arrs
                continue
            split = n - n_tail
            head = _slice(arrs, 0, split)
            carry = _slice(arrs, split, n)
            yield _encode(head)
        if carry is not None and len(carry[0]):
            yield _encode(carry)

    schema = StructType(TABLES["postings"].fields[: len(_BLOCK_COLS) + sharded])
    blocks = part.mapInArrow(encode_stream, schema)
    if not sharded:
        return blocks

    def encode_dicts(batches):
        for b in batches:
            for s in b.column("shard").to_pylist():
                yield _dict_batch(s, *docs.value[s], block_size)

    shard_ids = postings.sparkSession.createDataFrame(
        [(s,) for s in sorted(dicts)], "shard int"
    )
    return blocks.unionByName(shard_ids.mapInArrow(encode_dicts, schema))


def _ordinals(
    docs: dict, shards: np.ndarray, doc_ids: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Each row's (ordinal, doclen) in its shard's doc dictionary
    ``docs`` (``{shard: (sorted doc ids, doclens)}``)."""
    ords = np.empty(len(doc_ids), dtype=np.int64)
    doclens = np.empty(len(doc_ids), dtype=np.int64)
    for s in np.unique(shards).tolist():
        sel = shards == s
        ids, lens = docs[s]
        o = np.searchsorted(ids, doc_ids[sel])
        if (o >= len(ids)).any() or (ids[o.clip(max=len(ids) - 1)] != doc_ids[sel]).any():
            raise ValueError(
                f"a posting's doc_id is absent from shard {s}'s doc dictionary"
            )
        ords[sel] = o
        doclens[sel] = lens[o]
    return ords, doclens


def _doc_maxima(shards, doc_ids, doclens):
    """One row per (shard, doc_id), sorted by both, with its max doclen."""
    o = np.lexsort((doc_ids, shards))
    s, d, dl = shards[o], doc_ids[o], doclens[o]
    if not len(s):
        return s, d, dl
    new = np.ones(len(s), dtype=bool)
    new[1:] = (s[1:] != s[:-1]) | (d[1:] != d[:-1])
    starts = np.flatnonzero(new)
    return s[starts], d[starts], np.maximum.reduceat(dl, starts)


def _doc_dicts(posts: DataFrame) -> dict[int, tuple[np.ndarray, np.ndarray]]:
    """Each shard's doc dictionary ``{shard: (sorted doc ids, doclens)}``
    from posting rows that carry their shard — one Spark job: each task
    keeps one row per doc, and the driver merges them.  A doc's doclen
    is the max over its rows, as docstats takes it (``num:`` and
    ``anchor:`` lookup rows carry 0)."""
    names = ["shard", "doc_id", "doclen"]

    def per_task(batches):
        for b in batches:
            cols = [b.column(n).to_numpy(zero_copy_only=False) for n in names]
            yield pa.RecordBatch.from_arrays(
                [pa.array(c) for c in _doc_maxima(*cols)], names=names
            )

    got = (
        posts.select(*names)
        .mapInArrow(per_task, "shard int, doc_id long, doclen int")
        .toArrow()
    )
    s, d, dl = _doc_maxima(
        *(got.column(n).to_numpy().astype(np.int64) for n in names)
    )
    cuts = np.flatnonzero(np.diff(s)) + 1
    starts = np.concatenate([[0], cuts]).astype(np.int64)
    ends = np.concatenate([cuts, [len(s)]]).astype(np.int64)
    return {
        int(s[a]): (d[a:b], dl[a:b]) for a, b in zip(starts, ends) if b > a
    }


def _dict_batch(
    shard: int, ids: np.ndarray, lens: np.ndarray, block_size: int
) -> pa.RecordBatch:
    """One shard's doc dictionary as stored blocks: its sorted doc ids as
    the termlist of ``DICT_TERM_ID`` in absolute form, the doclen in the
    tf slot, no positions, never salted."""
    n = len(ids)
    zero = np.zeros(n, dtype=np.int64)
    return _encode_sorted_postings(
        np.full(n, DICT_TERM_ID, dtype=np.int64), zero, zero + 1,
        ids, lens, lens, np.empty(0, dtype=np.uint8),
        np.zeros(n + 1, dtype=np.int64), block_size,
        shards=np.full(n, shard, dtype=np.int64),
    )


def numeric_postings(d: DataFrame, numeric_fields) -> DataFrame | None:
    """F7/T4 numeric field terms (posdb packs sortby/facet values into key
    bits — Posdb.h getFloat/getInt, SURVEY §2.2): one posting per doc under
    term ``num:<field>`` whose tf slot carries the non-negative int32 field
    value and whose position stream is empty.  Block metadata ``max_tf``
    then bounds the value per block, so ``gbminint``-style range predicates
    and descending top-k prune whole blocks without decoding.  These are
    lookup termlists, not scoring lists: doclen is 0, positions are absent,
    and search paths never decode positions for them.  Null or negative
    values are dropped (no posting for that doc)."""
    out = None
    for fld in numeric_fields:
        p = d.select(
            F.lit(term_hash_py(f"num:{fld}")).cast("long").alias("term_id"),
            "doc_id",
            F.lit(0).cast("int").alias("doclen"),
            F.col(fld).cast("int").alias("tf"),
            F.lit(b"").alias("pos_enc"),
            F.lit(f"num:{fld}").alias("term"),
        ).filter(F.col("tf").isNotNull() & (F.col("tf") >= 0))
        out = p if out is None else out.unionByName(p)
    return out


# the tokenizer features every segment of an index must share:
# parameter -> (_features.json key, value when unrecorded, normalizer,
# what a mixed index would silently get wrong)
_FEATURES = {
    "code_aware": ("code_aware", True, bool,
                   "the same text would split into different terms"),
    "field_terms": ("field_terms", True, bool,
                    "lang:/repo: termlist lookups would miss docs"),
    "bigram_terms": ("bigrams", False, bool,
                     "phrase pair-termlist lookups would miss docs"),
    "numeric_fields": ("numeric_fields", [], sorted,
                       "num: termlist lookups would miss docs"),
}


def _resolve_features(view: IndexView, **given) -> dict:
    """The tokenizer features a batch is written with, checked against
    the index's feature markers: ``None`` inherits the marker, a root
    with no postings records the given values, and any other mismatch
    raises ValueError naming the feature."""
    stored = view.features()
    fresh = not view.segments("postings")
    out = {}
    for name, value in given.items():
        key, default, norm, why = _FEATURES[name]
        have = stored.get(key, default)
        value = have if value is None else norm(value)
        if value != have and not fresh:
            raise ValueError(
                f"index at {view.root} has {key}={have!r}; a batch with "
                f"{name}={value!r} cannot join it ({why})"
            )
        out[name] = value
    if fresh:
        view.write_features(**{_FEATURES[n][0]: v for n, v in out.items()})
    return out


def _write_postings(
    idx: Index,
    posts: DataFrame,
    label: str,
    salt_target: int,
    block_size: int,
) -> str:
    """Posting rows that carry their WAND ``shard`` -> one uncommitted
    postings segment: encoded shard-pure over each shard's doc
    dictionary, the dictionaries' own blocks included (``encode_blocks``),
    range-sorted on term_id, and no sidecar (a termlist read narrows by
    the row-group statistics of that sort).  The one postings writer of
    build shards, adds and both compactions.  Returns the segment path."""
    # persist encoded blocks: repartitionByRange's boundary-sampling
    # pass would otherwise run the whole encode twice
    blocks = encode_blocks(
        posts, salt_target=salt_target, block_size=block_size
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # range-partition + sort by term_id so query-time term lookups prune
    # to a handful of row groups (RdbMap sparse-index seek analog, S2).
    # The shard column marks the doc-partition each block belongs to —
    # WAND runs one task per shard over doc-disjoint lists (Msg39).
    # NOTE (r5 encode profile): raising
    # spark.sql.execution.arrow.maxRecordsPerBatch to 64k for this
    # materialization measured ~8% on the 8-core encode stage (the
    # stage is shuffle+Arrow-transfer bound; kernel compute is fully
    # overlapped).  It is NOT applied: the conf is session-global,
    # and a concurrent block-READING kernel in another driver thread
    # (compaction decode, federated maintenance) would receive 64k
    # batches of KB-sized block rows — hundreds of MB per Arrow
    # transfer.  A per-plan batch-size knob would make this safe;
    # Spark has none today.
    seg = idx.postings.write_segment(
        blocks.repartitionByRange("term_id").sortWithinPartitions(
            "term_id", "salt", "block_id"
        ),
        label=label,
    )
    blocks.unpersist()
    return seg


def _write_termstats(
    idx: Index, posts: DataFrame, label: str, terms: DataFrame | None = None
) -> str:
    """Posting rows -> one uncommitted termstats run, the aggregate
    ``groupBy(term_id)``: df = posting count, cf = sum of tf (what
    Posdb::getTermFreq reads off the termlist).  The term string is the
    rows' own ``term`` (a batch's tokenizer output sets it on at least
    one row per term), or, for decoded postings, which carry none, the
    one ``terms`` pairs ``(term_id, term)`` give; a term with no row
    gets no run row.  The run stores no term_id (readers hash the
    term).  Readers sum the run with every other run."""
    stats = [F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf")]
    if terms is None:
        run = posts.groupBy("term_id").agg(*stats, F.max("term").alias("term"))
    else:
        run = posts.groupBy("term_id").agg(*stats).join(terms, "term_id")
    # one file per run: a cold stats lookup opens every run's files.
    # Sorted by term, the run's bytes do not follow shuffle timing, and
    # the lookup's ``term IN (...)`` filter can skip row groups
    return idx.termstats.write_segment(
        run.select(*TABLES["termstats"].fieldNames())
        .coalesce(1)
        .sortWithinPartitions("term"),
        label=label,
    )


def _write_docstats(
    view: IndexView, docstats: DataFrame, label: str
) -> tuple[str, tuple[int, int]]:
    """Write one uncommitted docstats segment -> ``(segment, (n_docs,
    sum_doclen))``.  The totals are observed on the write's own job
    (``Dataset.observe``), so they cost no extra Spark job."""
    obs = Observation()
    seg = view.docstats.write_segment(
        docstats.observe(
            obs, F.count(F.lit(1)).alias("n"), F.sum("doclen").alias("s")
        ),
        label=label,
    )
    got = obs.get
    return seg, (int(got["n"]), int(got["s"] or 0))


def _write_batch(
    spark: SparkSession,
    view: IndexView,
    docs: DataFrame,
    shard: int,
    label: str,
    features: dict,
    salt_target: int,
    block_size: int,
    extra_postings: DataFrame | None = None,
    **stage,
) -> IndexView:
    """One batch of documents (with ``derive_ids`` columns) -> its
    docstats segment, its termstats run (one aggregate of the batch's
    posting rows, ``_write_termstats``) and its postings segment in WAND
    shard ``shard``, staged on ``view`` with ``stage`` (operation, meta,
    max_shard) and the batch's ``(n_docs, sum_doclen)`` delta, and left
    for the caller to commit, so the batch's term and collection stats
    always land with its postings.  The one write path
    of a build shard and an add: Gigablast routes bulk and injected
    documents through the same hash/emit -> Msg4 -> RdbDump steps."""
    # the kernel emits posting primitives directly (term hashed
    # in-kernel; positions pre-encoded; term string non-null only on
    # first occurrence per partition), so no array column ever crosses
    # Arrow.  Persist = the RdbTree memtable analog, one batch's worth,
    # spills to disk.
    posts = tokenize_to_postings(
        docs,
        code_aware=features["code_aware"],
        field_terms=features["field_terms"],
        bigram_terms=features["bigram_terms"],
    )
    if features["numeric_fields"]:
        posts = posts.unionByName(
            numeric_postings(docs, features["numeric_fields"])
        )
    if extra_postings is not None:
        posts = posts.unionByName(
            extra_postings.select("term_id", "doc_id", "doclen", "tf", "pos_enc", "term")
        )
    posts = posts.persist(StorageLevel.MEMORY_AND_DISK)
    # groupBy-max, not distinct: numeric lookup postings carry doclen 0
    # alongside the doc's real doclen, and distinct would emit both rows
    # (duplicating the doc in docstats)
    doclens = posts.groupBy("doc_id").agg(F.max("doclen").alias("doclen"))
    # LEFT join: a doc producing zero postings (empty content with
    # field_terms=False) must still exist in docstats — dropping it
    # would skew n_docs/avgdl vs the true corpus and lose its
    # content_sha256 row (the north-rule per-row invariant)
    docstats = (
        docs.select("doc_id", "repo", "path", "commit", "lang", "content_sha256")
        .join(doclens, "doc_id", "left")
        .withColumn("doclen", F.coalesce(F.col("doclen"), F.lit(0)).cast("int"))
    )
    ds_seg, coll = _write_docstats(view, docstats, label)
    ts_seg = _write_termstats(view, posts, label)
    po_seg = _write_postings(
        view, posts.withColumn("shard", F.lit(shard)), label, salt_target, block_size
    )
    posts.unpersist()
    return view.stage(
        {
            "docstats": ([ds_seg], []),
            "postings": ([po_seg], []),
            "termstats": ([ts_seg], []),
        },
        coll=coll,
        **stage,
    )


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    index_root: str,
    run_id: str | None = None,
    n_shards: int = 4,
    code_aware: bool = True,
    field_terms: bool = True,
    bigram_terms: bool = False,
    numeric_fields: tuple = (),
    salt_target: int = 50_000,
    block_size: int = 4096,
    resume: bool = True,
    fail_after_shard: int | None = None,
    shard_parallelism: int = 2,
    extra_postings: DataFrame | None = None,
    extra_label: str = "",
) -> Index:
    """Full resumable build: ``n_shards`` doc-hash shards, each written
    by the batch writer every add shares (``_write_batch``) and
    committed with its checkpoint, its termstats run and its delta to
    the collection totals.

    A resume (postings already in the root) must match the root's
    sharding, its tokenizer features (``code_aware``, ``field_terms``,
    ``bigram_terms``, ``numeric_fields``) and its ``extra_postings``
    source; a mismatch raises ValueError before anything is written.

    ``extra_postings`` injects externally-derived posting rows (schema
    ``term_id long, doc_id long, doclen int, tf int, pos_enc binary,
    term string``) into the build — the Msg4-injected-termlist analog:
    Gigablast's link-text indexer hashes INBOUND anchor words into the
    target doc's posdb lists (XmlDoc::hashLinkInfo), terms the doc's own
    content never produced.  Rows are routed to the target doc's shard
    (same ``pmod(doc_id, n_shards)`` as the corpus) so doc-disjoint WAND
    sharding still holds.  ``extra_label`` names the source in the index
    features for the resume-configuration guard.

    Shards are independent jobs; ``shard_parallelism`` > 1 submits them
    from concurrent driver threads so Spark interleaves their stages and
    fills scheduler gaps (snapshot commits are optimistic-retry safe).
    ``fail_after_shard`` injects a crash after that shard commits
    (checkpoint/resume test hook, FIXTURES.md §7) and forces sequential
    execution for determinism.
    """
    idx = Index(index_root)
    run_id = run_id or uuid.uuid4().hex[:12]
    if extra_postings is not None and not extra_label:
        raise ValueError(
            "extra_postings requires a non-empty extra_label: the label is "
            "what lets a resume verify the same injected posting source "
            "(an empty label makes that guard vacuous)"
        )
    done = _completed_shards(spark, idx)
    view = idx.view()
    fresh = not view.segments("postings")

    # Guard against appending a second full build into a non-empty root:
    # re-used shard ids would mix blocks with different per-(shard,term)
    # salt moduli and silently mis-route WAND candidate probes.  Legal
    # paths into an existing root are (a) resume of THIS sharding (some
    # checkpoints with matching n_shards exist) and (b) incremental
    # add_documents, which allocates fresh shard ids.
    if not fresh:
        if not resume:
            raise ValueError(
                f"index root {index_root} already has postings; "
                "build with resume=True to finish an interrupted run, use "
                "streaming.incremental.add_documents to append, or start a "
                "fresh root"
            )
        if not any(ns == n_shards for _s, ns in done):
            # a shard's data and its checkpoint land in one commit, so
            # postings without a matching checkpoint come from another
            # build, an add or a compaction — never from this sharding
            raise ValueError(
                f"index root {index_root} has postings from a different "
                f"build configuration (no completed shards for n_shards="
                f"{n_shards}); start a fresh root"
            )
    features = _resolve_features(
        view,
        code_aware=code_aware,
        field_terms=field_terms,
        bigram_terms=bigram_terms,
        numeric_fields=numeric_fields,
    )
    extra = extra_label if extra_postings is not None else ""
    if fresh:
        idx.write_features(n_shards=n_shards, extra_postings=extra)
    elif idx.features().get("extra_postings", "") != extra:
        raise ValueError(
            f"index root {index_root} was built with extra_postings="
            f"{idx.features().get('extra_postings', '')!r}; a resume "
            "must supply the same posting source (mixed segments would "
            "make the injected termlists incomplete)"
        )

    # a small source parquet may expose fewer splits than cores, capping
    # the tokenizer stage's parallelism — round-robin repartition so every
    # core gets work regardless of the input's file layout
    target_parts = max(2 * spark.sparkContext.defaultParallelism, 16)
    if docs.rdd.getNumPartitions() < target_parts:
        docs = docs.repartition(target_parts)
    ids = derive_ids(docs).withColumn(
        "shard", F.pmod(F.col("doc_id"), F.lit(n_shards)).cast("int")
    )

    def build_shard(shard: int) -> None:
        t0 = time.time()
        # shard filter BEFORE the tokenizer kernel — each shard job
        # tokenizes only its 1/n_shards of the corpus
        extra_rows = None
        if extra_postings is not None:
            extra_rows = extra_postings.filter(
                F.pmod(F.col("doc_id"), F.lit(n_shards)).cast("int") == F.lit(shard)
            )
        staged = _write_batch(
            spark,
            idx.view(),
            ids.filter(F.col("shard") == shard),
            shard,
            f"shard{shard}",
            features,
            salt_target,
            block_size,
            extra_postings=extra_rows,
            operation="build_shard",
            meta={"shard": shard, "n_shards": n_shards, "run_id": run_id},
            max_shard=n_shards - 1,
        )
        _checkpoint(spark, staged, run_id, shard, n_shards, time.time() - t0)

    todo = [s for s in range(n_shards) if not (resume and (s, n_shards) in done)]
    if fail_after_shard is not None or shard_parallelism <= 1 or len(todo) <= 1:
        for shard in todo:
            build_shard(shard)
            if fail_after_shard is not None and shard == fail_after_shard:
                raise RuntimeError(f"injected failure after shard {shard}")
    else:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=shard_parallelism) as ex:
            list(ex.map(build_shard, todo))
    return idx


def finalize_stats(spark: SparkSession, idx: Index, run_id: str) -> None:
    """Recount the collection totals (A3) from docstats: one aggregate,
    and a commit of the difference to the manifest's ``(n_docs,
    sum_doclen)`` only when it is non-zero.  No write path needs it —
    every batch commits its own delta — so it is the repair for the
    mismatch ``operators.stats.fsck_index`` reports (a docstats segment
    committed outside the batch writer, or a tree without totals)."""
    view = idx.view()
    ds = view.docstats.read(spark)
    recount = (0, 0)
    if ds is not None:
        row = ds.agg(
            F.count(F.lit(1)).alias("n"), F.sum("doclen").alias("s")
        ).collect()[0]
        recount = (int(row["n"]), int(row["s"] or 0))
    if view.coll != recount:
        n, s = view.coll or (0, 0)
        view.stage({}, coll=(recount[0] - n, recount[1] - s)).commit(
            "recount", {"run_id": run_id}
        )


def _write_tiny_segment(table, pdf: pd.DataFrame, label: str) -> str:
    """Driver-side parquet write for operational rows (checkpoints,
    metrics, lineage): a handful of rows the driver already holds — a
    Spark job per write cost seconds of pure scheduling overhead."""
    import pyarrow.parquet as pq

    path = table.new_segment_path(label)
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(pdf),
        os.path.join(path, "part-0.parquet"),
        compression=PARQUET_CODEC,
        # Spark cannot read TIMESTAMP(NANOS) parquet
        coerce_timestamps="us",
        allow_truncated_timestamps=True,
    )
    return path


def _completed_shards(spark: SparkSession, idx: Index) -> set[tuple[int, int]]:
    df = idx.checkpoints.read(spark)
    if df is None:
        return set()
    rows = df.filter(F.col("status") == "done").select("partition_id", "rows_out").collect()
    return {(r["partition_id"], int(r["rows_out"])) for r in rows}


def _checkpoint(
    spark: SparkSession,
    staged: IndexView,
    run_id: str,
    shard: int,
    n_shards: int,
    secs: float,
) -> int:
    """Commit a shard: its staged table segments plus its checkpoint,
    metrics and lineage rows, as one manifest version."""
    import shutil

    # rows_out carries n_shards so a resume with a different shard count
    # never wrongly skips (lineage of the partitioning itself).
    now = pd.Timestamp.utcnow().tz_localize(None)
    ck = pd.DataFrame(
        {
            "run_id": [run_id],
            "stage": ["build_shard"],
            "partition_id": np.array([shard], dtype=np.int32),
            "status": ["done"],
            "rows_out": np.array([n_shards], dtype=np.int64),
            "ts": [now],
        }
    )
    mt = pd.DataFrame(
        {
            "run_id": [run_id] * 2,
            "stage": ["build_shard"] * 2,
            "metric": ["wall_secs", "shard"],
            "value": [float(secs), float(shard)],
            "ts": [now] * 2,
        }
    )
    ck_seg = _write_tiny_segment(staged.checkpoints, ck, f"ck{shard}")
    m_seg = _write_tiny_segment(staged.metrics, mt, f"m{shard}")
    staged = staged.stage({"checkpoints": ([ck_seg], []), "metrics": ([m_seg], [])})
    written: list[str] = []

    def lineage(version: int) -> dict:
        # lineage: which manifest version this shard's commit produced,
        # from which logical input (north rule: per-partition lineage;
        # Repair.cpp's rebuild bookkeeping analog).  The version is only
        # known per commit attempt, so a lost race rewrites the rows.
        for seg in written:
            shutil.rmtree(seg, ignore_errors=True)
        ln = pd.DataFrame(
            [
                {
                    "run_id": run_id,
                    "output_table": tname,
                    "input_table": "documents",
                    "input_snapshot": f"shard={shard}/{n_shards}",
                    "transform": "build_shard",
                    "ts": now,
                    "output_snapshot": str(version),
                }
                for tname in ("postings", "docstats", "termstats")
            ]
        )
        written[:] = [_write_tiny_segment(staged.lineage, ln, f"l{shard}")]
        return {"lineage": (written[:], [])}

    return staged.commit(stage=lineage)

