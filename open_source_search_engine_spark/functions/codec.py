"""Delta + varint postings codec (SURVEY.md §2.8 X10).

Reference analog: posdb's key prefix compression — 18-byte full keys shrink
to 12B (same termId) and 6B (same termId+docId) inside an RdbList
(Posdb.h key-format comment; RdbList.cpp addRecord/constrain).  Here the
same redundancy is removed explicitly: within one termlist block, docs
are ascending, so we store varint(delta(doc keys)); tfs are small ints ->
varint; positions are stored as varint(delta) per doc, length-prefixed by tf.

All encode/decode is numpy-vectorized (no per-element Python loops beyond
byte assembly) and runs inside Arrow-batched pandas UDFs / applyInPandas —
never row-at-a-time (input_hint mandate).

Wire format (little-endian LEB128 varints), layout manifest-v5:
  doc_ids_enc  : a termlist block: varint(o0), varint(o1-o0), ... over
                 ordinals, each doc's rank in its shard's doc dictionary;
                 a dictionary block (schemas.DICT_TERM_ID): varint(u0),
                 varint(u1-u0), ... over the absolute ids shifted to
                 uint64 (``delta_encode``)
  tfs_enc      : varint(tf0), varint(tf1), ...; a dictionary block holds
                 each doc's doclen here
  positions_enc: for each doc in order: varint(p0), varint(p1-p0), ...
                 (count of positions for doc i == tf_i, so no length prefix)
Deltas restart from an absolute value at every block.  A shard's
dictionary maps ordinals back to ``(doc_id, doclen)`` (``DocDict``), so a
doclen is stored once per doc, not once per posting; a block flagged
``lookup`` (a ``num:`` or ``anchor:`` lookup termlist) scores its postings
with doclen 0 instead.
"""

from __future__ import annotations

import numpy as np

_MASK = 0x7F


def encode_varint_with_lengths(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128-encode a non-negative uint64 array, fully vectorized.

    Returns (byte_array uint8, per-value byte lengths) so callers can slice
    the stream at arbitrary value boundaries — the whole-batch encode path
    uses this to encode millions of termlists in one numpy pass.
    """
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    # byte length per value: ceil(bitlength/7), min 1.  log2-on-float is
    # unsafe past 2^53, so count 7-bit groups with a shift loop (<=10
    # iterations, each fully vectorized).
    tmp = v.copy()
    nbytes = np.ones(v.shape, dtype=np.int64)
    tmp >>= np.uint64(7)
    while tmp.any():
        nbytes[tmp > 0] += 1
        tmp >>= np.uint64(7)
    total = int(nbytes.sum())
    out = np.empty(total, dtype=np.uint8)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    # for each of up to 10 groups, write byte k of every value with nbytes>k
    shifted = v.copy()
    max_groups = int(nbytes.max())
    for k in range(max_groups):
        sel = nbytes > k
        idx = starts[sel] + k
        byte = (shifted[sel] & np.uint64(_MASK)).astype(np.uint8)
        cont = (nbytes[sel] > k + 1).astype(np.uint8) << 7
        out[idx] = byte | cont
        shifted >>= np.uint64(7)
    return out, nbytes


def encode_varint(values: np.ndarray) -> bytes:
    """LEB128-encode a non-negative int64/uint64 array -> bytes."""
    out, _ = encode_varint_with_lengths(np.asarray(values, dtype=np.uint64))
    return out.tobytes()


def decode_varint(buf: bytes, count: int | None = None) -> np.ndarray:
    """Decode LEB128 buffer into an int64 array — vectorized.

    Finds value boundaries from continuation bits, then folds 7-bit groups.
    """
    raw = np.frombuffer(buf, dtype=np.uint8)
    if raw.size == 0:
        return np.empty(0, dtype=np.int64)
    is_end = (raw & 0x80) == 0
    ends = np.flatnonzero(is_end)
    n = ends.size
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    vals = np.zeros(n, dtype=np.uint64)
    max_len = int(lengths.max())
    payload = (raw & _MASK).astype(np.uint64)
    for k in range(max_len):
        sel = lengths > k
        vals[sel] |= payload[starts[sel] + k] << np.uint64(7 * k)
    out = vals.astype(np.int64)
    if count is not None and out.size != count:
        raise ValueError(f"decoded {out.size} varints, expected {count}")
    return out


_SHIFT = np.uint64(1 << 63)


def delta_encode(sorted_vals: np.ndarray) -> np.ndarray:
    """Delta-encode an ascending int64 array.

    doc_ids are xxhash64 values spanning the whole signed-int64 range, so
    gaps can overflow int64; we map through the order-preserving bijection
    x -> uint64(x) + 2^63 and diff in uint64 (never overflows for
    ascending input).  Returns uint64 deltas.
    """
    a = np.asarray(sorted_vals, dtype=np.int64)
    if a.size == 0:
        return a.astype(np.uint64)
    u = a.astype(np.uint64) + _SHIFT  # wraps: two's-complement shift
    if (u[1:] < u[:-1]).any():
        raise ValueError("delta_encode requires ascending input")
    d = np.empty_like(u)
    d[0] = u[0]
    np.subtract(u[1:], u[:-1], out=d[1:])
    return d


def delta_decode(deltas: np.ndarray) -> np.ndarray:
    """Inverse of :func:`delta_encode` -> int64 array."""
    du = np.asarray(deltas).astype(np.uint64)
    s = np.cumsum(du)  # telescopes back to shifted values, no overflow
    return (s - _SHIFT).astype(np.int64)


def encode_postings_block(
    doc_ids: np.ndarray, tfs: np.ndarray, positions_concat: np.ndarray,
    pos_doc_boundaries: np.ndarray,
) -> tuple[bytes, bytes, bytes]:
    """Encode one block with absolute ids — the inverse of
    ``decode_postings_block`` without a dictionary (a dictionary block's
    form; termlist blocks come from ``operators.build``'s batch encoder).

    positions_concat: all docs' position lists concatenated in doc order;
    pos_doc_boundaries: start offset of each doc's positions (len == n_docs),
    used to delta-encode positions per doc without a Python loop: subtract
    the previous position except at each doc's first position.
    """
    doc_enc = encode_varint(delta_encode(doc_ids))
    tf_enc = encode_varint(np.asarray(tfs, dtype=np.int64))
    pos = np.asarray(positions_concat, dtype=np.int64)
    if pos.size:
        deltas = np.empty_like(pos)
        deltas[0] = pos[0]
        np.subtract(pos[1:], pos[:-1], out=deltas[1:])
        # reset delta at each doc's first position to the absolute value
        firsts = np.asarray(pos_doc_boundaries, dtype=np.int64)
        deltas[firsts] = pos[firsts]
        pos_enc = encode_varint(deltas)
    else:
        pos_enc = b""
    return doc_enc, tf_enc, pos_enc


class DocDict:
    """One shard's doc dictionary: the blocks of its reserved termlist,
    in ordinal order, each holding a run of consecutive ordinals (ids in
    ``doc_ids_enc``, doclens in ``tfs_enc``).  ``lookup`` maps ordinals to
    ``(doc_id, doclen)`` and decodes only the blocks its ordinals fall
    in, once each.  Picklable, so a Spark closure can carry it."""

    def __init__(self, block_ids, n_docs, doc_encs, tf_encs):
        order = np.argsort(np.asarray(block_ids, dtype=np.int64), kind="stable")
        self.n_docs = np.asarray(n_docs, dtype=np.int64)[order]
        self.doc_encs = [bytes(doc_encs[i]) for i in order]
        self.tf_encs = [bytes(tf_encs[i]) for i in order]
        # first ordinal of each block
        self.starts = np.zeros(len(order), dtype=np.int64)
        np.cumsum(self.n_docs[:-1], out=self.starts[1:])
        self._decoded: dict[int, tuple[np.ndarray, np.ndarray]] = {}

    def __len__(self) -> int:
        return int(self.n_docs.sum())

    def __getstate__(self):
        # a pickled copy (a Spark closure) carries the encoded blocks only
        return {**self.__dict__, "_decoded": {}}

    def _block(self, b: int) -> tuple[np.ndarray, np.ndarray]:
        """Block ``b`` -> (doc_ids, doclens)."""
        hit = self._decoded.get(b)
        if hit is None:
            nd = int(self.n_docs[b])
            hit = self._decoded[b] = (
                delta_decode(decode_varint(self.doc_encs[b], nd)),
                decode_varint(self.tf_encs[b], nd),
            )
        return hit

    def lookup(self, ords: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Ordinals -> (doc_ids, doclens); ValueError if one is out of
        range."""
        ords = np.asarray(ords, dtype=np.int64)
        if ords.size and (ords.min() < 0 or ords.max() >= len(self)):
            raise ValueError(
                f"ordinal out of range [0, {len(self)}) of the doc dictionary"
            )
        ids = np.empty(ords.size, dtype=np.int64)
        dls = np.empty(ords.size, dtype=np.int64)
        which = np.searchsorted(self.starts, ords, side="right") - 1
        for b in np.unique(which).tolist():
            sel = which == b
            b_ids, b_dls = self._block(b)
            local = ords[sel] - self.starts[b]
            ids[sel] = b_ids[local]
            dls[sel] = b_dls[local]
        return ids, dls


def decode_ordinals(doc_enc: bytes, n_docs: int) -> np.ndarray:
    """A termlist block's ``doc_ids_enc`` -> its int64 ordinals."""
    return np.cumsum(decode_varint(doc_enc, n_docs))


def decode_postings_block(
    doc_enc: bytes, tf_enc: bytes, pos_enc: bytes, n_docs: int,
    docs: DocDict | None = None, lookup: bool = False,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray | None]:
    """Decode one block -> (doc_ids, tfs, positions_concat, boundaries,
    doclens).  With ``docs`` (the block's shard dictionary) the id stream
    holds ordinals, mapped to ids and doclens — all 0 in a ``lookup``
    block; without it the stream holds absolute ids (a dictionary block)
    and doclens is None."""
    if docs is None:
        doc_ids, doclens = delta_decode(decode_varint(doc_enc, n_docs)), None
    else:
        doc_ids, doclens = docs.lookup(decode_ordinals(doc_enc, n_docs))
        if lookup:
            doclens = np.zeros(n_docs, dtype=np.int64)
    tfs = decode_varint(tf_enc, n_docs)
    boundaries = np.zeros(n_docs, dtype=np.int64)
    if n_docs:
        np.cumsum(tfs[:-1], out=boundaries[1:])
    pos_deltas = decode_varint(pos_enc)
    if pos_deltas.size:
        # segmented cumsum: cumsum within each doc's slice.  Standard trick:
        # global cumsum, then subtract the running total at each segment start.
        g = np.cumsum(pos_deltas)
        offsets = np.zeros(pos_deltas.size, dtype=np.int64)
        seg_starts = boundaries[tfs > 0] if n_docs else boundaries
        # value to subtract for segment i = g[start_i - 1] (0 for first seg)
        nonfirst = seg_starts[seg_starts > 0]
        offsets[nonfirst] = g[nonfirst - 1]
        # propagate per-segment offsets forward with a cummax
        offsets = np.maximum.accumulate(offsets)
        positions = g - offsets
    else:
        positions = pos_deltas
    return doc_ids, tfs.astype(np.int64), positions, boundaries, doclens
