"""X10 codec: varint/delta round-trip + frozen golden wire format
(FIXTURES.md §5)."""

import numpy as np
import pytest

from open_source_search_engine_spark.functions import codec


@pytest.mark.parametrize("n", [0, 1, 2, 1000, 100_000])
def test_varint_delta_roundtrip(n):
    rng = np.random.default_rng(42 + n)
    gaps = rng.integers(1, 2**40, size=n)
    vals = np.cumsum(gaps).astype(np.int64)
    enc = codec.encode_varint(codec.delta_encode(vals))
    dec = codec.delta_decode(codec.decode_varint(enc, n))
    assert np.array_equal(dec, vals)


def test_full_signed_range():
    """doc_ids are xxhash64: full signed-int64 range, gaps can exceed
    int64 — the uint64-shift bijection must survive all of it."""
    vals = np.array(
        [-(2**63), -(2**62), -1, 0, 1, 2**62, 2**63 - 1], dtype=np.int64
    )
    enc = codec.encode_varint(codec.delta_encode(vals))
    assert np.array_equal(codec.delta_decode(codec.decode_varint(enc, len(vals))), vals)


def test_non_ascending_raises():
    with pytest.raises(ValueError):
        codec.delta_encode(np.array([3, 2, 5], dtype=np.int64))


def test_postings_block_roundtrip():
    rng = np.random.default_rng(7)
    n = 1000
    doc_ids = np.sort(rng.choice(2**50, size=n, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 30, size=n)
    bounds = np.zeros(n, dtype=np.int64)
    np.cumsum(tfs[:-1], out=bounds[1:])
    pos = np.concatenate([np.sort(rng.integers(0, 5000, size=t)) for t in tfs])
    d_enc, t_enc, p_enc = codec.encode_postings_block(doc_ids, tfs, pos, bounds)
    d2, t2, p2, b2, _dl = codec.decode_postings_block(d_enc, t_enc, p_enc, n)
    assert np.array_equal(d2, doc_ids)
    assert np.array_equal(t2, tfs)
    assert np.array_equal(p2, pos)
    assert np.array_equal(b2, bounds)


def test_golden_wire_format():
    """Pin the LEB128 wire bytes so refactors can't silently change the
    on-disk format (the Posdb.h key-layout-comment analog)."""
    vals = np.array([0, 1, 127, 128, 300], dtype=np.int64)
    enc = codec.encode_varint(vals.astype(np.uint64))
    assert enc.hex() == "00017f8001ac02"
    deltas = codec.delta_encode(np.array([10, 20, 400], dtype=np.int64))
    # shifted first value = 10 + 2^63, then gaps 10, 380
    assert codec.decode_varint(codec.encode_varint(deltas), 3).astype(np.uint64)[0] == (
        np.uint64(10) + np.uint64(1 << 63)
    )


def test_compression_density():
    """~7 bytes/posting at 40-bit gaps — must beat the reference's raw
    18B/key and be in its compressed 6-12B band (BASELINE.md)."""
    rng = np.random.default_rng(1)
    vals = np.cumsum(rng.integers(1, 2**40, size=10_000)).astype(np.int64)
    enc = codec.encode_varint(codec.delta_encode(vals))
    assert len(enc) / len(vals) < 12
