"""Property test of the WAND kernel against a brute-force Python model —
no SparkSession needed: blocks are hand-encoded in the stored layout
(``blockkit.shard_table``: ordinals over the shard's doc dictionary),
the kernel runs directly on the Arrow table.

Covers randomized combinations of: multiple slots (AND), OR-group members
with weights, salted sub-lists, negatives, tombstones, block-size splits,
and full-range signed doc_ids (the uint64-shift ordering).
"""

import math

import numpy as np
import pytest
from blockkit import shard_table

from open_source_search_engine_spark.operators import topk as T

AVGDL = 120.0


def _u(x: np.ndarray) -> np.ndarray:
    return x.astype(np.uint64) + np.uint64(1 << 63)


def _blocks_for(term_id, doc_tf, n_salts, block_size):
    """doc_tf: {doc_id: tf} -> block specs for ``blockkit.shard_table``
    (salted, split)."""
    blocks = []
    docs = np.array(sorted(doc_tf), dtype=np.int64)
    salts = np.mod(docs, n_salts)
    for s in range(n_salts):
        sd = docs[salts == s]
        for bid, lo in enumerate(range(0, len(sd), block_size)):
            chunk = sd[lo : lo + block_size]
            tfs = [doc_tf[int(d)] for d in chunk]
            blocks.append((term_id, s, n_salts, bid, chunk, tfs))
    return blocks


def _brute_force(slots, term_docs, doclens, neg_docs, dead, k):
    """Reference scorer: doc matches iff >=1 member of EVERY slot holds
    it; score = sum of slot-max weighted impacts."""
    all_docs = set()
    for s in slots:
        for t in s:
            all_docs |= set(term_docs.get(t, {}))
    out = []
    for d in sorted(all_docs):
        if d in dead or d in neg_docs:
            continue
        score = 0.0
        ok = True
        for s in slots:
            best = None
            for t, w in s.items():
                tf = term_docs.get(t, {}).get(d)
                if tf is not None:
                    c = w * T._impact(float(tf), float(doclens[d]), AVGDL)
                    best = c if best is None else max(best, c)
            if best is None:
                ok = False
                break
            score += best
        if ok:
            out.append((d, score))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


@pytest.mark.parametrize("seed", range(8))
def test_kernel_matches_brute_force(seed):
    rng = np.random.default_rng(seed)
    n_docs = 120
    # full-range signed doc ids incl. negatives
    docs = rng.choice(
        np.arange(-(2**62), 2**62, (2**63) // n_docs, dtype=np.int64),
        size=n_docs,
        replace=False,
    )
    doclens = {int(d): int(rng.integers(20, 400)) for d in docs}
    terms = [11, 22, 33, 44, 55]
    term_docs = {}
    for t in terms:
        sel = docs[rng.random(n_docs) < rng.uniform(0.2, 0.8)]
        term_docs[t] = {int(d): int(rng.integers(1, 9)) for d in sel}
    # random slot structure: 2 slots, second may be an OR-group
    slots = [
        {11: 1.0},
        {22: 1.0, 33: float(rng.uniform(0.3, 1.0))}
        if rng.random() < 0.6
        else {22: 1.0},
    ]
    neg_ids = [44] if rng.random() < 0.5 else []
    neg_docs = set(term_docs[44]) if neg_ids else set()
    dead = (
        np.sort(_u(np.array(list(term_docs[11])[:5], dtype=np.int64))).astype(np.uint64)
        if rng.random() < 0.5
        else np.empty(0, dtype=np.uint64)
    )
    dead_signed = (dead - np.uint64(1 << 63)).astype(np.int64)

    blocks = []
    for t in terms:
        if not term_docs[t]:
            continue
        blocks.extend(
            _blocks_for(
                t,
                term_docs[t],
                n_salts=int(rng.integers(1, 4)),
                block_size=int(rng.integers(3, 17)),
            )
        )
    tbl, docs = shard_table(blocks, doclens, block_size=int(rng.integers(3, 17)))
    k = int(rng.integers(1, 15))
    qmeta = {
        "slots": [
            {t: w * _idf(len(term_docs[t])) for t, w in s.items()} for s in slots
        ],
        "rarest_slot": 0,
        "avgdl": AVGDL,
        "neg_ids": neg_ids,
        "dead": dead_signed[np.argsort(dead)] if len(dead) else np.empty(0, np.int64),
    }
    out = T._wand_kernel(tbl, qmeta, k, docs)
    got = sorted(
        zip(out.column("doc_id").to_pylist(), out.column("score").to_pylist()),
        key=lambda x: (-x[1], x[0]),
    )

    widf_slots = qmeta["slots"]
    expect = _brute_force(
        widf_slots, term_docs, doclens, neg_docs, set(dead_signed.tolist()), k
    )
    assert [d for d, _ in got] == [d for d, _ in expect]
    for (dg, sg), (de, se) in zip(got, expect):
        assert sg == pytest.approx(se, rel=1e-12)


def _idf(df):
    return math.log(1.0 + (500 - df + 0.5) / (df + 0.5))
