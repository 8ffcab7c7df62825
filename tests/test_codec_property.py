"""Property-based codec tests (SURVEY.md §5.2.3) — pure python, no Spark."""

import numpy as np
import pytest

from open_source_search_engine_spark.functions import codec

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    HAVE_HYP = True
except ImportError:  # pragma: no cover
    HAVE_HYP = False

pytestmark = pytest.mark.skipif(not HAVE_HYP, reason="hypothesis unavailable")


@given(
    st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        min_size=0,
        max_size=300,
    )
)
@settings(max_examples=200, deadline=None)
def test_delta_roundtrip_any_int64(vals):
    a = np.array(sorted(set(vals)), dtype=np.int64)
    # canonical sorted order == shifted-uint64 order
    u = a.astype(np.uint64) + np.uint64(1 << 63)
    a = a[np.argsort(u)]
    enc = codec.encode_varint(codec.delta_encode(a))
    dec = codec.delta_decode(codec.decode_varint(enc, len(a)))
    assert np.array_equal(dec, a)


@given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=200))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip_unsigned(vals):
    a = np.array(vals, dtype=np.uint64)
    out = codec.decode_varint(codec.encode_varint(a), len(a))
    assert np.array_equal(out.astype(np.uint64), a)


@given(
    st.integers(min_value=1, max_value=60),
    st.integers(min_value=1, max_value=8),
    st.integers(min_value=0, max_value=10_000),
)
@settings(max_examples=100, deadline=None)
def test_postings_block_roundtrip_prop(n_docs, max_tf, seed):
    rng = np.random.default_rng(seed)
    doc_ids = np.sort(
        rng.choice(2**40, size=n_docs, replace=False).astype(np.int64)
    )
    tfs = rng.integers(1, max_tf + 1, size=n_docs)
    bounds = np.zeros(n_docs, dtype=np.int64)
    np.cumsum(tfs[:-1], out=bounds[1:])
    pos = np.concatenate([np.sort(rng.integers(0, 4000, size=t)) for t in tfs])
    d_enc, t_enc, p_enc = codec.encode_postings_block(doc_ids, tfs, pos, bounds)
    d2, t2, p2, b2, _dl = codec.decode_postings_block(d_enc, t_enc, p_enc, n_docs)
    assert np.array_equal(d2, doc_ids)
    assert np.array_equal(t2, tfs)
    assert np.array_equal(p2, pos)
    assert np.array_equal(b2, bounds)


@given(st.integers(min_value=0, max_value=2**32 - 1))
@settings(max_examples=8, deadline=None)
def test_ordinal_blocks_roundtrip_through_the_encoder(seed):
    """Termlist blocks store ordinals in their shard's doc dictionary:
    the build encoder's blocks decode, through the dictionary's own
    blocks, back to every (term, salt, doc_id, tf, doclen) row — with
    int64-extreme ids, termlists straddling the 4096-doc block boundary,
    salted sub-lists (``n_salts`` from a tiny salt target), and a lookup
    termlist whose postings carry doclen 0."""
    from open_source_search_engine_spark.operators.build import (
        _dict_batch,
        _encode_sorted_postings,
        _ordinals,
    )

    rng = np.random.default_rng(seed)
    bs = 4096
    extremes = [-(2**63), -(2**63) + 1, -1, 0, 1, 2**63 - 2, 2**63 - 1]
    ids = np.unique(
        np.concatenate(
            [
                np.array(extremes, dtype=np.int64),
                rng.integers(-(2**63), 2**63 - 1, size=9000, dtype=np.int64),
            ]
        )
    )
    doclens = rng.integers(0, 5000, size=len(ids))
    # (df, salt target): unsalted lists at the block boundary, then the
    # whole shard and a short list split by tiny salt targets
    terms = [(1, 10**9), (bs - 1, 10**9), (bs, 10**9), (bs + 1, 10**9),
             (2 * bs + 1, 10**9), (len(ids), 3000), (60, 3), (bs + 7, 10**9)]
    lookup_term = len(terms)  # its postings carry doclen 0
    cols = []
    for t, (df, target) in enumerate(terms, start=1):
        docs = rng.choice(ids, size=df, replace=False)
        n_salts = -(-df // target) if df > target else 1
        cols.append(
            (np.full(df, t), np.mod(docs, n_salts), np.full(df, n_salts), docs,
             rng.integers(1, 50, size=df))
        )
    term_ids, salts, n_salts, docs, tfs = (np.concatenate(c) for c in zip(*cols))
    o = np.lexsort((docs, salts, term_ids))
    term_ids, salts, n_salts, docs, tfs = (
        x[o].astype(np.int64) for x in (term_ids, salts, n_salts, docs, tfs)
    )
    shards = np.zeros(len(docs), dtype=np.int64)
    dicts = {0: (ids, doclens)}
    ords, dls = _ordinals(dicts, shards, docs)
    own = np.where(term_ids == lookup_term, 0, dls)
    batch = _encode_sorted_postings(
        term_ids, salts, n_salts, docs, own, tfs, np.empty(0, dtype=np.uint8),
        np.zeros(len(docs) + 1, dtype=np.int64), bs, shards=shards, ordinals=ords,
        dict_doclens=dls,
    )
    d = _dict_batch(0, ids, doclens, bs).to_pydict()
    dictionary = codec.DocDict(d["block_id"], d["n_docs"], d["doc_ids_enc"], d["tfs_enc"])
    assert len(d["n_docs"]) == -(-len(ids) // bs)
    got_ids, got_lens = dictionary.lookup(np.arange(len(ids)))
    assert np.array_equal(got_ids, ids) and np.array_equal(got_lens, doclens)

    got = []
    for row in batch.to_pylist():
        n = row["n_docs"]
        b_ids, b_tfs, _p, _b, b_lens = codec.decode_postings_block(
            row["doc_ids_enc"], row["tfs_enc"], b"", n, dictionary, row["lookup"]
        )
        assert row["lookup"] or row["term_id"] != lookup_term
        assert n <= bs
        assert (b_ids[0], b_ids[-1]) == (row["min_doc_id"], row["max_doc_id"])
        assert row["min_doclen"] == b_lens.min()
        got += zip([row["term_id"]] * n, [row["salt"]] * n, b_ids.tolist(),
                   b_tfs.tolist(), b_lens.tolist())
    want = zip(term_ids.tolist(), salts.tolist(), docs.tolist(), tfs.tolist(),
               own.tolist())
    assert got == list(want)
