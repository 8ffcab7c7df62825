"""Block-max WAND top-k (SURVEY.md §4.1 / M5).

Reference analog: PosdbTable::intersectLists10_r drives the intersection
from the rarest termlist, rejects docs whose getMaxPossibleScore can't
beat the TopTree minimum, and keeps a bounded per-shard heap merged by
Msg3a.  The Spark rebuild expresses the same physical shape, and a
single query and a batch share every step but the merge (a single query
is a batch of one, as Msg39 serves both):

  _plan_wand: fallback checks, tombstone probe,  (Msg39 request set-up)
    one qmeta per query, one pruned scan of
    postings blocks by the union of term_ids     (Catalyst pushdown)
  _run_queries(shard table, qmetas)              (per-doc-shard DAAT task,
    in one coalesced mapInArrow task when the     one kernel run per query)
    stats bound the scan, else one
    groupBy(shard) applyInArrow task per shard
  orderBy(score desc, doc_id).limit(k), or a     (Msg3a k-way merge)
    per-query_idx window for a batch
  _enrich: driver-side docmeta rows              (Msg20 title recs)

Kernel strategy (conjunctive queries — the reference's default semantics):
- candidates can only come from the rarest term's blocks (AND), so those
  blocks are processed in DESCENDING upper-bound order; once the top-k
  heap holds k docs with min score θ, any remaining block with
  ub_rarest(b) + Σ_other global_max_ub < θ is skipped WITHOUT decoding —
  that is exactly the block-max WAND prune, sound for AND because a doc
  absent from the rarest list cannot match.
- membership/tf lookup of candidates in the other terms' lists is fully
  vectorized: candidates are routed to the right salt sub-list by
  pmod(doc_id, n_salts) (the salt function is deterministic, so the
  sub-list holding a doc is computable, not searched) and located with
  np.searchsorted galloping.

Per-block upper bound = idf * impact(max_tf, min_doclen): impact is
monotone increasing in tf and decreasing in doclen, so it dominates every
doc in the block (metadata written at build time, build.py).
"""

from __future__ import annotations

import heapq
import math

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import codec
from ..functions.bm25 import K1, B, py_idf
from ..sources.tables import MEMO
from .build import Index, docmeta_cached

# total scanned-postings bound (Σ df over queried termlists) under which
# a single kernel task beats per-shard fan-out: the pruned scan is a few
# MB, and eliding the shard exchange saves a whole stage of scheduler
# round-trip on the dispatch-floor-bound single-query path
SINGLE_TASK_POSTINGS = 2_000_000

# tombstone count above which search_wand stops shipping the dead set
# inside qmeta and falls back to the exhaustive plan's anti-join
MAX_DEAD_INLINE = 100_000

# the kernel's per-shard prune counters, carried on every kernel row
_PRUNE_COLS = ["blocks_scored", "blocks_skipped", "other_blocks_decoded"]
_KERNEL_SCHEMA = (
    "doc_id long, score double, blocks_scored int, blocks_skipped int, "
    "other_blocks_decoded int, query_idx int"
)


def _run_queries(
    tbl: pa.Table, qmetas: list[dict | None], k: int, docs: codec.DocDict
) -> pa.Table:
    """One shard's task: the kernel reruns once per query over the
    shard's already-loaded blocks and its doc dictionary ``docs``, each
    query's local top-k tagged with its position in ``query_idx``.
    ``None`` marks a query no doc can match (the planner passes at least
    one live query)."""
    outs = []
    for qi, qm in enumerate(qmetas):
        if qm is not None:
            t = _wand_kernel(tbl, qm, k, docs)
            outs.append(
                t.append_column(
                    "query_idx", pa.array(np.full(t.num_rows, qi, dtype=np.int32))
                )
            )
    return pa.concat_tables(outs)


def _impact(tf: np.ndarray | float, dl: np.ndarray | float, avgdl: float):
    return tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))


_U63 = np.uint64(1 << 63)


def _wand_kernel(
    blocks: pa.Table,
    qmeta: dict,
    k: int,
    docs: codec.DocDict,
) -> pa.Table:
    """One doc-shard's DAAT intersection + block-max pruning.

    Query shape: AND of slots; each slot is an OR-group of weighted
    members {term_id: weight*idf} (a single term is a 1-member slot) —
    the QueryTermInfo synonym-group structure (U3).  Slot score = max
    member contribution; doc score = Σ slot scores; a doc must match
    every slot.

    Lazy decode: only the rarest slot's blocks are decoded as candidate
    sources.  Other slots' blocks are indexed by their stored
    [min_doc_id, max_doc_id] metadata and decoded ON DEMAND when a probe
    routes candidates into their range (then memoized) — a frequent
    second term no longer costs a full-termlist decode up front.

    ``docs`` is the shard's doc dictionary: a decoded block's ordinals
    map to doc ids and doclens through it, decoding only the dictionary
    blocks they hit (a ``lookup`` block's postings score with doclen 0).
    """
    slots: list[dict[int, float]] = qmeta["slots"]
    rarest_slot: int = qmeta["rarest_slot"]
    avgdl = qmeta["avgdl"]
    neg_ids = qmeta.get("neg_ids", [])
    # J4 phrase chains: each chain is the ordered bigram-pair term_ids of
    # one quoted phrase; a candidate doc must have a common start position
    # across the chain (pair_j at p+j).  Pair tids also appear as
    # zero-weight presence slots, so the positional verify below only runs
    # on docs already known to contain every pair somewhere.
    phrases: list[list[int]] = qmeta.get("phrases", [])
    dead = qmeta.get("dead", np.empty(0, dtype=np.int64))
    # F8 soft lang preference: docs present in the boost term's (lang:xx
    # field) postings score at boost_factor; block bounds scale by the
    # factor so pruning stays sound (factor >= 1)
    boost_tid = qmeta.get("boost_tid")
    boost_factor = float(qmeta.get("boost_factor", 1.0))
    # T3 keyset paging: admit only docs ranking strictly AFTER the cursor
    # in (score desc, doc asc) order; heap keys are (score, -doc), so the
    # check is one tuple compare.  Block pruning is untouched: theta is a
    # LOWER bound on admissible scores and still rises from admitted docs
    # (a deep page is never more expensive than page 1).
    after = qmeta.get("after")
    after_key = (float(after[0]), -int(after[1])) if after is not None else None
    term_ids = blocks.column("term_id").to_numpy()
    salts = blocks.column("salt").to_numpy()
    n_salts_col = blocks.column("n_salts").to_numpy()
    n_docs_col = blocks.column("n_docs").to_numpy()
    max_tf = blocks.column("max_tf").to_numpy()
    min_dl = blocks.column("min_doclen").to_numpy()
    min_doc = blocks.column("min_doc_id").to_numpy()
    max_doc = blocks.column("max_doc_id").to_numpy()
    d_enc = blocks.column("doc_ids_enc")
    t_enc = blocks.column("tfs_enc")
    lookup = blocks.column("lookup").to_numpy(zero_copy_only=False)
    # positions are shipped ONLY in phrase mode, and only the pair
    # termlists' rows carry real bytes (word rows are null) — the scan
    # never reads position bytes for scoring termlists
    p_enc = (
        blocks.column("positions_enc")
        if "positions_enc" in blocks.schema.names
        else None
    )

    # term -> MAX weight*idf across slots.  A term can appear in more
    # than one slot with different weights (mutual synonym expansion, a
    # bigram pair that is both a zero-weight phrase-presence slot and an
    # OR member) — taking the max keeps every bound below an upper bound;
    # actual scoring always uses the owning slot's own weight.
    widf: dict[int, float] = {}
    for s in slots:
        for t, w in s.items():
            widf[t] = max(widf.get(t, 0.0), w)

    # per-block impact bound and weighted upper bound (0 for
    # negative-only terms: never candidates) — vectorized: in batch mode
    # the kernel reruns per query over the UNION of all queries' blocks,
    # so per-row Python here multiplies across the whole batch
    imp_block = _impact(
        max_tf.astype(np.float64), min_dl.astype(np.float64), avgdl
    )
    wt_block = np.zeros(len(term_ids))
    for t, w in widf.items():
        wt_block[term_ids == t] = w
    ub_block = wt_block * imp_block
    # slot upper bounds over this shard, each with the SLOT'S OWN member
    # weights; a slot with no member present here kills the AND for the
    # whole shard
    slot_ub = np.zeros(len(slots))
    for si, s in enumerate(slots):
        sel = np.isin(term_ids, np.array(list(s), dtype=np.int64))
        if not sel.any():
            return _empty_out()
        w_sel = np.array([s[int(t)] for t in term_ids[sel].tolist()])
        slot_ub[si] = float((w_sel * imp_block[sel]).max())
    ub_other = float(slot_ub.sum() - slot_ub[rarest_slot])

    # ---- lazy probe index: per (term, salt) -> block rows sorted by
    # min_doc; blocks of ONE (term,salt) sub-list are doc-disjoint sorted
    # ranges (one sorted run per segment; shard ids are per-segment), so a
    # candidate's potential block is found by searchsorted on min_doc.
    n_salts: dict[int, int] = {}
    probe_blocks: dict[tuple[int, int], tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
    lookup_terms = set(widf) | set(neg_ids)
    if boost_tid is not None:
        lookup_terms.add(boost_tid)
    for i in np.flatnonzero(
        np.isin(term_ids, np.array(list(lookup_terms) or [0], dtype=np.int64))
    ):
        key = (int(term_ids[i]), int(salts[i]))
        n_salts[int(term_ids[i])] = int(n_salts_col[i])
        probe_blocks.setdefault(key, []).append(i)  # type: ignore[arg-type]
    for key, rows in list(probe_blocks.items()):
        rows = np.asarray(rows, dtype=np.int64)
        lo = min_doc[rows].astype(np.uint64) + _U63
        hi = max_doc[rows].astype(np.uint64) + _U63
        o = np.argsort(lo)
        probe_blocks[key] = (lo[o], hi[o], rows[o])
    # block row -> (shifted doc ids, tf, doclen)
    decoded: dict[int, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
    other_decodes = 0

    def decode_row(i: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        hit = decoded.get(i)
        if hit is None:
            d, t, _p, _b, dl = codec.decode_postings_block(
                d_enc[i].as_py(), t_enc[i].as_py(), b"", int(n_docs_col[i]),
                docs, lookup[i],
            )
            hit = decoded[i] = (d.astype(np.uint64) + _U63, t, dl)
        return hit

    # ---- candidate blocks: the rarest slot's members, desc upper bound
    r_terms = np.array(list(slots[rarest_slot]), dtype=np.int64)
    r_idx = np.flatnonzero(np.isin(term_ids, r_terms))
    order = r_idx[np.argsort(-ub_block[r_idx], kind="mergesort")]
    heap: list[tuple[float, int]] = []  # (score, -doc) min-heap of top-k
    scored_blocks = 0
    skipped_blocks = 0
    results: dict[int, float] = {}

    def _route(t: int, cd: np.ndarray, cu: np.ndarray, mask=None):
        """Route candidates to term t's block rows — the ONE copy of the
        salt-computation + range-metadata lookup both probes share:
        sub-list = pmod(doc, n_salts) (computed, not searched), block =
        searchsorted on the sorted [min_doc, max_doc] ranges.  Yields
        (block_row, global_candidate_idx, shifted_doc_ids) per block
        holding >=1 candidate (restricted to mask-true candidates)."""
        ns = n_salts.get(t, 1)
        salt_of = np.mod(cd, ns)  # numpy mod is non-negative for ns>0
        base = (
            mask if mask is not None else np.ones(len(cd), dtype=bool)
        )
        for s in np.unique(salt_of[base]).tolist():
            m = base & (salt_of == s)
            meta = probe_blocks.get((t, int(s)))
            if meta is None:
                continue
            lo, hi, rows = meta
            midx = np.flatnonzero(m)
            cu_m = cu[midx]
            bpos = np.searchsorted(lo, cu_m, side="right") - 1
            valid = (bpos >= 0) & (
                cu_m <= hi[np.clip(bpos, 0, len(hi) - 1)]
            )
            if not valid.any():
                continue
            for b in np.unique(bpos[valid]).tolist():
                sel = valid & (bpos == b)
                yield int(rows[b]), midx[sel], cu_m[sel]

    def probe(
        t: int, cd: np.ndarray, cu: np.ndarray, mask: np.ndarray | None = None
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(tf, doclen, present) of candidates in term t's salt sub-lists
        (routing via ``_route``); decoded lazily.  doclen comes from the
        probed termlist's own decode (anchor:/num: lists carry 0).
        ``mask`` restricts routing to still-alive candidates (review
        r4-s2): probing only dead candidates would lazily decode blocks
        whose work can never reach the heap."""
        nonlocal other_decodes
        tf_t = np.zeros(len(cd), dtype=np.float64)
        dl_t = np.zeros(len(cd), dtype=np.float64)
        present = np.zeros(len(cd), dtype=bool)
        for row, gidx, cvals in _route(t, cd, cu, mask):
            was_new = row not in decoded
            d_arr, t_arr, l_arr = decode_row(row)
            if was_new:
                other_decodes += 1
            pos = np.searchsorted(d_arr, cvals)
            pos_c = np.clip(pos, 0, len(d_arr) - 1)
            found = d_arr[pos_c] == cvals
            idxs = gidx[found]
            present[idxs] = True
            tf_t[idxs] = t_arr[pos_c[found]]
            dl_t[idxs] = l_arr[pos_c[found]]
        return tf_t, dl_t, present

    # lazy per-block POSITION decode (phrase mode only): pair termlists
    # are tiny (df of an adjacent pair), so decoding their position
    # streams on demand is cheap; word termlists never reach this path
    pos_decoded: dict[int, tuple] = {}

    def decode_row_pos(i: int):
        hit = pos_decoded.get(i)
        if hit is None:
            nd = int(n_docs_col[i])
            d, _tf, pos, bounds, _dl = codec.decode_postings_block(
                d_enc[i].as_py(), t_enc[i].as_py(), p_enc[i].as_py(), nd,
                docs, lookup[i],
            )
            ends = np.empty(nd, dtype=np.int64)
            if nd:
                ends[:-1] = bounds[1:]
                ends[-1] = len(pos)
            hit = pos_decoded[i] = (d.astype(np.uint64) + _U63, pos, bounds, ends)
        return hit

    def probe_positions(t: int, cd: np.ndarray, cu: np.ndarray, mask: np.ndarray):
        """Per-candidate position arrays of term t (None where absent),
        computed only for mask-true candidates (routing via ``_route``)."""
        out: list = [None] * len(cd)
        for row, gidx, cvals in _route(t, cd, cu, mask):
            d_u, pos, bounds, ends = decode_row_pos(row)
            p = np.searchsorted(d_u, cvals)
            pc = np.clip(p, 0, len(d_u) - 1)
            found = d_u[pc] == cvals
            for gi, pi in zip(gidx[found].tolist(), pc[found].tolist()):
                out[gi] = pos[bounds[pi] : ends[pi]]
        return out

    def verify_phrases(cd: np.ndarray, cu: np.ndarray, alive: np.ndarray) -> None:
        """In-place AND of positional adjacency for every phrase chain:
        doc survives iff each chain has a common start p with pair_j at
        p+j.  Runs only over still-alive candidates (pair presence slots
        have already filtered), so the per-doc numpy intersects touch a
        handful of tiny arrays."""
        for chain in phrases:
            if not alive.any():
                return
            plists = [probe_positions(t, cd, cu, alive) for t in chain]
            for gi in np.flatnonzero(alive).tolist():
                common = None
                for j, pl in enumerate(plists):
                    arr = pl[gi]
                    if arr is None or not len(arr):
                        common = None
                        break
                    shifted = arr - j
                    common = (
                        shifted
                        if common is None
                        else np.intersect1d(common, shifted)
                    )
                    if not len(common):
                        common = None
                        break
                if common is None:
                    alive[gi] = False

    for i in order.tolist():
        theta = heap[0][0] if len(heap) >= k else -math.inf
        # strict <: a block whose bound ties θ could still win on doc_id
        if (ub_block[i] + ub_other) * boost_factor < theta:
            skipped_blocks += 1
            continue  # no doc first-found in this block can reach top-k
        scored_blocks += 1
        cd, ct, _p, _bnd, cl = codec.decode_postings_block(
            d_enc[i].as_py(), t_enc[i].as_py(), b"", int(n_docs_col[i]),
            docs, lookup[i],
        )
        cu = cd.astype(np.uint64) + _U63
        this_term = int(term_ids[i])
        alive = np.ones(len(cd), dtype=bool)
        if len(dead):  # merge-on-read tombstones (U4)
            du = dead.astype(np.uint64) + _U63
            pos_d = np.clip(np.searchsorted(du, cu), 0, len(dead) - 1)
            alive &= dead[pos_d] != cd
        # a doc already fully scored via an earlier block of a sibling
        # OR-member must not be re-scored (it would duplicate heap entries)
        if results and len(slots[rarest_slot]) > 1:
            seen = np.fromiter(results.keys(), dtype=np.int64, count=len(results))
            su = np.sort(seen.astype(np.uint64) + _U63)
            pos_s = np.clip(np.searchsorted(su, cu), 0, len(su) - 1)
            alive &= su[pos_s] != cu

        # rarest-slot score: max over members, each with the OWNING slot's
        # weight (this block's tf for its own term; lazy probes for
        # sibling members).  Probes score with the PROBED termlist's own
        # doclens, not this block's: doclen is a per-doc constant for
        # word termlists (identical either way) but anchor:/num: lookup
        # termlists score with doclen 0 (their blocks are ``lookup``),
        # and the exhaustive plan scores each posting row with its own
        # doclen — the two paths must agree on mixed queries.
        imp = _impact(ct.astype(np.float64), cl.astype(np.float64), avgdl)
        score = slots[rarest_slot][this_term] * imp
        # every probe below is masked to still-alive candidates (review
        # r4-s2): dead candidates can never reach the heap, and an
        # unmasked probe would lazily decode blocks only they route into
        for t, w in slots[rarest_slot].items():
            if t == this_term:
                continue
            tf_t, dl_t, present = probe(t, cd, cu, alive)
            contrib = np.where(
                present, w * _impact(tf_t, dl_t, avgdl), 0.0
            )
            score = np.maximum(score, contrib)

        for si, s in enumerate(slots):
            if si == rarest_slot:
                continue
            slot_score = np.zeros(len(cd))
            slot_present = np.zeros(len(cd), dtype=bool)
            for t, w in s.items():
                tf_t, dl_t, present = probe(t, cd, cu, alive)
                slot_present |= present
                slot_score = np.maximum(
                    slot_score,
                    np.where(
                        present, w * _impact(tf_t, dl_t, avgdl), 0.0
                    ),
                )
            alive &= slot_present
            if not alive.any():
                break
            score += np.where(alive, slot_score, 0.0)
        for t in neg_ids:  # F3: drop docs present in any negative list
            if alive.any():
                _tf, _dl, present = probe(t, cd, cu, alive)
                alive &= ~present
        if phrases and alive.any():
            verify_phrases(cd, cu, alive)  # J4 positional adjacency
        if boost_tid is not None and alive.any():
            _tf, _dl, present = probe(boost_tid, cd, cu, alive)
            score = np.where(present, score * boost_factor, score)
        # push survivors into the heap; entry (score, -doc) makes heap[0]
        # the WORST by the canonical (score desc, doc asc) order
        for doc, sc in zip(cd[alive].tolist(), score[alive].tolist()):
            if after_key is not None and (sc, -doc) >= after_key:
                continue  # at or before the cursor: belongs to earlier pages
            if len(heap) < k:
                heapq.heappush(heap, (sc, -doc))
                results[doc] = sc
            elif (sc, -doc) > heap[0]:
                old = heapq.heappushpop(heap, (sc, -doc))
                results.pop(-old[1], None)
                results[doc] = sc

    if not results:
        return _empty_out()
    docs = np.fromiter(results.keys(), dtype=np.int64, count=len(results))
    scores = np.fromiter(results.values(), dtype=np.float64, count=len(results))
    return pa.Table.from_arrays(
        [
            pa.array(docs),
            pa.array(scores),
            pa.array(np.full(len(docs), scored_blocks, dtype=np.int32)),
            pa.array(np.full(len(docs), skipped_blocks, dtype=np.int32)),
            pa.array(np.full(len(docs), other_decodes, dtype=np.int32)),
        ],
        names=[
            "doc_id",
            "score",
            "blocks_scored",
            "blocks_skipped",
            "other_blocks_decoded",
        ],
    )


def _empty_out() -> pa.Table:
    return pa.Table.from_arrays(
        [
            pa.array([], type=pa.int64()),
            pa.array([], type=pa.float64()),
            pa.array([], type=pa.int32()),
            pa.array([], type=pa.int32()),
            pa.array([], type=pa.int32()),
        ],
        names=[
            "doc_id",
            "score",
            "blocks_scored",
            "blocks_skipped",
            "other_blocks_decoded",
        ],
    )


# bound on one docstats segment list's doc metadata rows — the Msg20
# title-rec cache analog holds (repo, path, lang) for docs that appeared
# in some top-k
_DOCMETA_ROW_MAX = 200_000


def _docmeta_rows(
    spark: SparkSession, index: Index, doc_ids: list[int]
) -> dict[int, tuple]:
    """{doc_id: (repo, path, lang)} for the given ids; misses are fetched
    in ONE pushed-filter scan of the cached docmeta projection."""
    view = index.view()
    key = ("rows", view.key("docstats"))
    cache = MEMO.get(key)
    if cache is None:
        cache = MEMO.put(key, {})
    # answer from a local copy: a size-bound reset (or another driver
    # thread's) must never make a requested id vanish from the result
    # (a dropped top-k row)
    out = {d: v for d in doc_ids if (v := cache.get(d)) is not None}
    missing = [int(d) for d in doc_ids if d not in out]
    if missing:
        if len(cache) + len(missing) > _DOCMETA_ROW_MAX:
            cache.clear()
        for r in (
            docmeta_cached(spark, view)
            .filter(F.col("doc_id").isin(missing))
            .collect()
        ):
            out[r["doc_id"]] = cache[r["doc_id"]] = (r["repo"], r["path"], r["lang"])
    return {d: out[d] for d in doc_ids if d in out}


def _enrich(spark: SparkSession, index: Index, merged: DataFrame) -> DataFrame:
    """J5 enrich via the driver-side title-rec cache (Msg20/Msg22: the
    reference keeps doc metadata resident next to the serp builder) —
    the one enrich of search_wand, search_wand_batch and plans.exec.search.

    ``merged`` is an already-merged top-k, so its collect is the query's
    own action, and a warm docmeta probe costs no Spark job (a join to
    docstats would cost a broadcast-exchange job plus a join scan).
    (repo, path, lang) land right after ``score``, row order is kept, and
    rows with no docmeta are dropped, as an inner join would.  pandas
    input plans as LocalTableScan, so collecting the returned frame
    dispatches no job (python-row input would build an ExistingRDD plan
    costing one)."""
    import pandas as pd

    rows = merged.collect()
    meta = _docmeta_rows(spark, index, [r["doc_id"] for r in rows])
    names = merged.columns
    at = names.index("score") + 1
    cols = names[:at] + ["repo", "path", "lang"] + names[at:]
    fields = [f"{f.name} {f.dataType.simpleString()}" for f in merged.schema]
    schema = fields[:at] + ["repo string", "path string", "lang string"] + fields[at:]
    out = [
        tuple(r[:at]) + meta[r["doc_id"]] + tuple(r[at:])
        for r in rows
        if r["doc_id"] in meta
    ]
    return spark.createDataFrame(pd.DataFrame(out, columns=cols), ", ".join(schema))


def _empty_result(
    spark: SparkSession,
    enrich: bool,
    with_prune_stats: bool = False,
    batch: bool = False,
) -> DataFrame:
    """An empty result with the non-empty path's exact columns, in order
    ([query,] doc_id, score[, repo, path, lang][, prune counters]), so
    callers can union matched and unmatched queries' results."""
    cols = (["query string"] if batch else []) + ["doc_id long", "score double"]
    if enrich:
        cols += ["repo string", "path string", "lang string"]
    if with_prune_stats:
        cols += [f"{c} int" for c in _PRUNE_COLS]
    return spark.createDataFrame([], ", ".join(cols))


def _check_negated_phrases(plan) -> None:
    """Refuse negated phrases longer than an indexed adjacent pair — the
    same loud contract as plans.exec.search (review r4-s2: the WAND
    paths previously looked the 3+-token phrase text up in the term
    dictionary, missed, and silently DROPPED the negation, returning
    docs the user excluded).  2-token negated phrases are sound here:
    their pair termlist IS in the dictionary on a bigram index (and a
    bigram-less index never reaches this path — has_phrase falls back to
    the exhaustive plan, which applies its own identical guard)."""
    for t in plan.negatives:
        ph = getattr(t, "phrase", ()) or ()
        if len(ph) > 2:
            raise NotImplementedError(
                "negated phrases are supported only as 2-token adjacent "
                f"pairs on a bigram-terms index; got {' '.join(ph)!r}"
            )


def _positive_terms(plan) -> list[str]:
    """All dictionary terms a plan's positive side needs stats for:
    singleton phrase groups contribute their tokens AND bigram pair
    terms; everything else contributes its member text."""
    out: list[str] = []
    for g in plan.groups:
        if len(g.members) == 1 and len(g.members[0].phrase) > 1:
            toks, pairs = _phrase_terms(g.members[0])
            out.extend(toks)
            out.extend(pairs)
        else:
            out.extend(m.text for m in g.members)
    return out


def _wand_blocks(
    spark: SparkSession, index: Index, word_ids: list[int], pair_ids: list[int]
) -> DataFrame:
    """Postings scan for the WAND kernel: the live segments with the
    ``term_id`` filter pushed down.  positions_enc (the largest column)
    is read ONLY for the bigram pair termlists a phrase chain needs —
    scoring termlists ride a scan that never touches the position bytes
    (two pushed-filter scans unioned; the pair side is tiny by
    construction)."""
    base = index.postings.read(spark)
    _pair_set = set(pair_ids)
    word_ids = [t for t in word_ids if t not in _pair_set]
    scan = base.filter(F.col("term_id").isin(word_ids)).drop("positions_enc")
    if not pair_ids:
        return scan
    return scan.withColumn(
        "positions_enc", F.lit(None).cast("binary")
    ).unionByName(base.filter(F.col("term_id").isin(pair_ids)))


def _plan_wand(
    spark: SparkSession,
    index: Index,
    plans: list,
    k: int,
    lang_boost: tuple[str, float] | None,
    after: tuple[float, int] | None = None,
) -> tuple[str | None, DataFrame | None]:
    """The one block-max WAND planner of search_wand and search_wand_batch
    (a single query is a batch of one).

    Returns ``(reason, None)`` when the exhaustive plan must answer
    instead (``reason`` is what search_wand raises under
    ``with_prune_stats``), ``(None, None)`` when no plan can match, else
    ``(None, per_shard)``: every plan's per-shard local top-k rows with
    the kernel's prune counters, tagged with the plan's ``query_idx``.
    Negation and tombstones are applied in-kernel, so the caller's merge
    only orders and limits."""
    from ..plans.exec import _stats_cached
    from .merge import deleted_doc_ids, doc_dicts_broadcast

    feats = index.features()
    has_phrase = any(
        len(m.phrase) > 1 for p in plans for g in p.groups for m in g.members
    ) or any(len(t.phrase) > 1 for p in plans for t in p.negatives)
    if has_phrase and not feats.get("bigrams", False):
        # no pair termlists in this index: the general plan's positional
        # scan over member termlists is the only exact path
        return (
            "phrase queries on a bigram-less index run via "
            "plans.exec.search (no WAND prune-stats available)"
        ), None
    if lang_boost is not None and float(lang_boost[1]) < 1.0:
        return (
            "lang_boost factor < 1.0 is unsound for the WAND prune "
            "bound; use plans.exec.search for de-boosting"
        ), None
    if lang_boost is not None and not feats.get("field_terms", True):
        # the kernel boosts through the lang:xx field-term postings; an
        # index built without them boosts only through docstats' lang
        return (
            "lang_boost on an index without field terms runs via "
            "plans.exec.search (no lang: termlists to boost through)"
        ), None
    pos_terms = [_positive_terms(p) for p in plans]
    if not all(pos_terms):
        raise ValueError("query has no positive terms")
    for p in plans:
        _check_negated_phrases(p)
    boost_term = f"lang:{lang_boost[0].lower()}" if lang_boost else None
    terms = {t for ts in pos_terms for t in ts}
    terms |= {t.text for p in plans for t in p.negatives}
    if boost_term:
        terms.add(boost_term)
    n_docs, avgdl, stats = _stats_cached(spark, index, sorted(terms))
    boost_tid = stats[boost_term][0] if boost_term in stats else None

    qmetas: list[dict | None] = []
    for p in plans:
        built = _build_slots(p, stats, n_docs)
        if built is None:  # some mandatory slot has no indexed member
            qmetas.append(None)
            continue
        slots, rarest, chains = built
        qm = {
            "slots": slots,
            "rarest_slot": rarest,
            "avgdl": avgdl,
            "neg_ids": [stats[t.text][0] for t in p.negatives if t.text in stats],
            "phrases": chains,
        }
        if after is not None:
            qm["after"] = (float(after[0]), int(after[1]))
        if boost_tid is not None:
            qm["boost_tid"] = boost_tid
            qm["boost_factor"] = float(lang_boost[1])
        qmetas.append(qm)
    live = [qm for qm in qmetas if qm is not None]
    if not live:
        return None, None

    # cap-aware probe: over MAX_DEAD_INLINE tombstones this returns None
    # WITHOUT collecting the deletes table (distinct+limit server-side) —
    # the r4 verdict's driver-OOM shape was collect-then-len-check
    dead = deleted_doc_ids(spark, index, cap=MAX_DEAD_INLINE)
    if dead is None:
        # shipping that many tombstone ids in every task closure would
        # blow up task serialization; the exhaustive plan's distributed
        # anti-join handles any delete volume (compaction is the real fix)
        return (
            f"tombstones exceed the WAND inline bound "
            f"({MAX_DEAD_INLINE}); compact the index or query without "
            "with_prune_stats"
        ), None
    for qm in live:
        qm["dead"] = dead
    pair_ids = sorted({t for qm in live for c in qm["phrases"] for t in c})
    word_ids = {t for qm in live for s in qm["slots"] for t in s}
    word_ids |= {t for qm in live for t in qm["neg_ids"]}
    if boost_tid is not None:
        word_ids.add(boost_tid)
    blocks = _wand_blocks(spark, index, sorted(word_ids), pair_ids)

    # dispatch-floor fast path (r5): when the stored stats bound the
    # scanned volume (Σ df over every scanned termlist), run the kernel in
    # ONE task over the pruned scan — coalesce(1) removes the shard
    # exchange, so the whole query is a single stage instead of
    # scan→shuffle→kernel.  The task holds EVERY scanned block, so each
    # shard's sub-table is complete and every per-shard invariant holds
    # (local top-k, negation, positional verify).  Large termlists keep
    # the per-shard parallel plan — at 100-TB scale the shard fan-out IS
    # the latency win and the exchange is noise.
    df_of = {tid: df for tid, df, _cf in stats.values()}
    est_postings = sum(df_of.get(t, 0) for t in word_ids | set(pair_ids))
    # each shard's doc dictionary rides one broadcast per segment set
    # (built once per commit), so the scan reads only the query's terms
    docs = doc_dicts_broadcast(spark, index.segments("postings"))
    if est_postings <= SINGLE_TASK_POSTINGS:

        def run(batches):
            import pyarrow.compute as pc

            got = [b for b in batches if b.num_rows]
            if not got:
                return
            tbl = pa.Table.from_batches(got)
            for s in sorted(pc.unique(tbl.column("shard")).to_pylist()):
                shard = tbl.filter(pc.equal(tbl.column("shard"), s))
                yield from _run_queries(
                    shard, qmetas, k, docs.value[s]
                ).to_batches()

        return None, blocks.coalesce(1).mapInArrow(run, _KERNEL_SCHEMA)

    def per_shard(_key, tbl):
        return _run_queries(
            tbl, qmetas, k, docs.value[tbl.column("shard")[0].as_py()]
        )

    return None, blocks.groupBy("shard").applyInArrow(per_shard, _KERNEL_SCHEMA)


def search_wand(
    spark: SparkSession,
    index: Index,
    query,
    k: int = 10,
    enrich: bool = True,
    with_prune_stats: bool = False,
    synonyms: bool | dict = False,
    lang_boost: tuple[str, float] | None = None,
    use_cache: bool = False,
    after: tuple[float, int] | None = None,
) -> DataFrame:
    """BM25 top-k via per-shard block-max WAND: ``_plan_wand`` over a
    batch of one, then the Msg3a merge ``orderBy(score desc,
    doc_id).limit(k)`` and, with ``enrich``, the driver-side ``_enrich``.
    With ``enrich=False`` the result is a lazy frame.

    ``after=(score, doc_id)``: keyset deep paging (T3 at scale) — the
    cursor is an admission predicate on the kernel heap, so every page
    costs one O(k)-memory kernel pass regardless of depth (an offset(n)
    page must merge n+k rows).  The cursor compares EXACT scores; pass
    the previous page's last (score, doc_id) verbatim.

    Supports AND queries of terms AND of OR-groups (slot-max member
    scoring, incl. weighted synonym members — U3), fielded terms,
    ``-neg`` terms (excluded inside the kernel), and — on a bigram index
    — quoted phrases natively (J4, r3 verdict #4): pair termlists join
    the intersect loop as zero-weight slots (the rarest pair is the
    candidate source, exactly PosdbTable evaluating quoted terms inside
    intersectLists) and survivors are positionally verified in-kernel
    before they can enter the heap, so the block-max prune bound stays
    sound.  Only a bigram-less index falls back to the general plan.

    ``lang_boost`` factors must be >= 1.0 on this path: the block prune
    bound scales by the factor, which is only an upper bound for
    factor >= 1 (a factor < 1 shrinks the bound and silently drops valid
    top-k docs).  Factors < 1 fall back to the exhaustive plan, which
    applies the multiplier after scoring and has no such constraint.

    Tombstone bound: the kernel excludes merge-on-read deletes from a
    driver-collected array shipped in qmeta — fine between compactions,
    wrong for a huge delete batch.  Above ``MAX_DEAD_INLINE`` tombstones
    the query falls back to the exhaustive plan's distributed anti-join
    (or compact the index).

    Every fallback runs ``plans.exec.search``; under ``with_prune_stats``
    (the kernel's per-shard block counters on each row) it raises
    ValueError instead, since no WAND pruning would run.
    """
    from ..plans.exec import search as _exhaustive_search
    from ..plans.query import parse_query

    if k <= 0:
        # the kernel's heap threshold would index an empty heap; the
        # exhaustive plan answers k<=0 with an empty frame — match it
        return _empty_result(spark, enrich, with_prune_stats)
    # one view for the whole query: stats, postings, tombstones and
    # docmeta all come from the same manifest version
    index = index.view()
    plan = parse_query(query) if isinstance(query, str) else query
    if synonyms:
        from ..functions.synonyms import expand_plan

        plan = expand_plan(plan, None if synonyms is True else synonyms)
    if use_cache:
        # cache check BEFORE the fallback branches (r3 advice: a repeated
        # phrase / de-boost query must hit the serp cache too — the
        # compute lambda re-enters with use_cache=False and takes
        # whatever plan shape applies)
        from ..plans.exec import cached_result
        from ..plans.query import plan_key

        extra = (plan_key(plan), k, enrich, with_prune_stats, lang_boost, after)
        return cached_result(
            spark,
            index,
            "wand",
            extra,
            lambda: search_wand(
                spark, index, plan, k=k, enrich=enrich,
                with_prune_stats=with_prune_stats, lang_boost=lang_boost,
                after=after,
            ),
        )
    reason, per_shard = _plan_wand(spark, index, [plan], k, lang_boost, after)
    if reason is not None:
        if with_prune_stats:
            raise ValueError(reason)
        return _exhaustive_search(
            spark, index, plan, k=k, enrich=enrich, lang_boost=lang_boost,
            after=after,
        )
    if per_shard is None:
        return _empty_result(spark, enrich, with_prune_stats)
    # negation already applied inside the kernel (same shard's neg lists),
    # so each shard's k survivors are true local top-k — Msg3a merge:
    topk = (
        per_shard.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", "score", *(_PRUNE_COLS if with_prune_stats else []))
    )
    return _enrich(spark, index, topk) if enrich else topk


def _phrase_terms(m) -> tuple[list[str], list[str]]:
    """(tokens, bigram pair terms) of a phrase member."""
    toks = list(m.phrase)
    return toks, [f"{toks[j]} {toks[j + 1]}" for j in range(len(toks) - 1)]


def _build_slots(plan, stats, n_docs):
    """Query plan -> WAND slot structure.

    slots: {term_id: weight*idf}; an OR-group survives if ANY member is
    present, a 1-member slot (plain AND term) must be present.  Returns
    (slots, rarest_slot_index, phrase_chains) or None when some slot has
    no member in the dictionary (the AND can never match).

    A singleton quoted-phrase group (J4) expands to:
    - one SCORING slot per token (sum of token BM25 contributions — the
      same scoring the general plan gives phrases);
    - one ZERO-WEIGHT presence slot per adjacent bigram pair termlist
      (vectorized pre-filter; also lets the rarest-slot candidate source
      be a pair list, which is both sound — every phrase match contains
      the pair — and far tighter than any token list);
    - an entry in phrase_chains: the ordered pair tids the kernel
      positionally verifies (common start p, pair_j at p+j).
    A missing token OR pair term makes the phrase (hence the AND query)
    unsatisfiable — parity with plans.exec.search's bigram branch.
    Phrase members inside multi-member OR-groups score as the pair term
    itself (exact parity with the general plan's non-singleton branch).
    """
    slots: list[dict[int, float]] = []
    slot_dfs: list[int] = []
    phrase_chains: list[list[int]] = []

    def idf(df_: int) -> float:
        return py_idf(df_, n_docs)

    for g in plan.groups:
        if len(g.members) == 1 and len(g.members[0].phrase) > 1:
            toks, pairs = _phrase_terms(g.members[0])
            if any(t not in stats for t in toks + pairs):
                return None
            # a user weight on the quoted phrase ('"a b"^W') scales every
            # member token's idf — same place single-term weights apply
            pw = getattr(g.members[0], "weight", 1.0)
            for t in toks:
                st = stats[t]
                slots.append({st[0]: pw * idf(st[1])})
                slot_dfs.append(st[1])
            chain = []
            for b in pairs:
                sb = stats[b]
                slots.append({sb[0]: 0.0})
                slot_dfs.append(sb[1])
                chain.append(sb[0])
            phrase_chains.append(chain)
            continue
        slot: dict[int, float] = {}
        df_sum = 0
        for m in g.members:
            if len(getattr(m, "phrase", ()) or ()) > 2:
                # a 3+-token phrase has no single stored termlist; its
                # 'a b c' text would silently read as an absent term
                raise NotImplementedError(
                    "3+-token phrases inside OR groups are not supported; "
                    "quote the phrase as its own group"
                )
            st = stats.get(m.text)
            if st is None:
                continue
            w = getattr(m, "weight", 1.0)
            slot[st[0]] = max(slot.get(st[0], 0.0), w * idf(st[1]))
            df_sum += st[1]
        if not slot:
            return None
        slots.append(slot)
        slot_dfs.append(df_sum)
    rarest = int(min(range(len(slots)), key=lambda i: slot_dfs[i]))
    return slots, rarest, phrase_chains


def search_wand_batch(
    spark: SparkSession,
    index: Index,
    queries: list,
    k: int = 10,
    enrich: bool = False,
    lang_boost: tuple[str, float] | None = None,
) -> DataFrame:
    """N queries answered in ONE Spark job.

    The reference is a resident process whose per-query floor is a network
    round-trip; local Spark pays a job-dispatch floor (~0.5 s on this VM)
    per action instead.  Batching amortizes it: the batch runs through the
    same ``_plan_wand`` as ``search_wand`` — all queries' termlists come
    from a single pruned scan (``In(term_id, union)``), each doc-shard
    task runs the block-max WAND kernel once per query over its
    already-loaded Arrow table — and one window over ``query_idx`` takes
    per-query top-k, so a 32-query batch costs one job, not 32 (Msg39
    multicast analog: one scatter serves many queries).  ``enrich`` adds
    (repo, path, lang) through the same driver-side ``_enrich`` as
    ``search_wand``, so a warm enriched batch costs no more jobs than a
    plain one; with ``enrich=False`` the result is a lazy frame.

    Same semantics as ``search_wand`` per query: AND of slots, OR-groups
    slot-max, ``-neg`` terms, quoted phrases (bigram-index kernel slots +
    in-kernel positional verify), merge-on-read tombstones, and a batch-
    wide ``lang_boost`` (factor >= 1 rides the kernel's boost tid).
    Queries whose mandatory slot has no indexed member simply yield no
    rows.  States the kernel can't serve — more tombstones than fit in
    qmeta, lang_boost < 1, phrases without a bigram index — DEGRADE to a
    per-query exhaustive union instead of raising (r3 verdict #3: the
    resident-server analog must not throw on states the single-query path
    handles).  Output: (query, doc_id, score[, enrich cols]), top-k per
    query, ordered by query, then score descending, then doc_id.
    """
    from pyspark.sql import Window

    from ..plans.query import parse_query

    index = index.view()
    plans = [parse_query(q) if isinstance(q, str) else q for q in queries]
    qlabels = [q if isinstance(q, str) else str(q) for q in queries]
    if not plans:
        raise ValueError("empty query batch")
    if k <= 0:  # same contract as search_wand: empty frame, full schema
        return _empty_result(spark, enrich, batch=True)
    reason, per_shard = _plan_wand(spark, index, plans, k, lang_boost)
    if reason is not None:
        # graceful degradation: correctness over the one-job plan shape
        return _batch_exhaustive_fallback(
            spark, index, plans, qlabels, k, enrich, lang_boost
        )
    if per_shard is None:
        return _empty_result(spark, enrich, batch=True)
    # per-shard rows are true local top-k per query (negation + deletes
    # already applied in-kernel); the global per-query merge is a window
    # over <= n_shards * k rows per query
    w = Window.partitionBy("query_idx").orderBy(F.desc("score"), F.asc("doc_id"))
    labeled = (
        per_shard.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(
            F.element_at(
                F.array(*[F.lit(s) for s in qlabels]), F.col("query_idx") + 1
            ).alias("query"),
            "doc_id",
            "score",
        )
        # deterministic row order (callers read ranks / cursors off it)
        .orderBy("query", F.desc("score"), F.asc("doc_id"))
    )
    return _enrich(spark, index, labeled) if enrich else labeled


def _batch_exhaustive_fallback(
    spark: SparkSession,
    index: Index,
    plans: list,
    qlabels: list[str],
    k: int,
    enrich: bool,
    lang_boost: tuple[str, float] | None,
) -> DataFrame:
    """Degraded batch mode: union of per-query exhaustive plans.  Used
    when the kernel can't serve the batch (huge tombstone sets ride the
    exhaustive plan's distributed anti-join; lang_boost < 1 applies after
    scoring; phrases without pair termlists need the positional scan).
    Costs one job per query instead of one total — correct under any
    state, the way search_wand degrades (R3's compaction is the real
    fix)."""
    from ..plans.exec import search as _exhaustive_search

    out = None
    for label, p in zip(qlabels, plans):
        r = _exhaustive_search(
            spark, index, p, k=k, enrich=enrich, lang_boost=lang_boost
        ).withColumn("query", F.lit(label))
        cols = ["query", "doc_id", "score"] + (
            ["repo", "path", "lang"] if enrich else []
        )
        r = r.select(*cols)
        out = r if out is None else out.unionByName(r)
    order = ["query", F.desc("score"), F.asc("doc_id")]
    return out.orderBy(*order)

