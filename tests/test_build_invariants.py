"""Build invariants: sorted segments (T5), salting equivalence,
checkpoint resume (R6/S11), snapshot semantics (U4 analog)."""

import numpy as np
import pytest
from blockkit import block_doc_ids
from pyspark.sql import functions as F

from open_source_search_engine_spark.operators.build import build_index
from open_source_search_engine_spark.operators.merge import (
    decode_to_postings,
    doc_dicts,
)
from open_source_search_engine_spark.plans.exec import search
from open_source_search_engine_spark.sources.corpus import synth_documents


@pytest.fixture(scope="module")
def tiny_docs(spark):
    return synth_documents(spark, 40, partitions=4)


def _postings_rows_set(spark, idx):
    rows = decode_to_postings(
        idx.postings.read(spark), idx.view().segments("postings"),
        with_positions=False,
    ).collect()
    return sorted((r["term_id"], r["doc_id"], r["tf"], r["doclen"]) for r in rows)


def test_sorted_block_invariant(spark, micro_index):
    """Every decoded block is ascending in doc_id; blocks of one term are
    disjoint per salt (the RdbList::checkList_r analog)."""
    blocks = micro_index.postings.read(spark).collect()
    docs = doc_dicts(micro_index.view().segments("postings"))
    for b in blocks:
        ids = block_doc_ids(b, docs)
        # ascending in signed-int64 order == ascending after the uint64
        # shift (int64 diffs overflow when gaps exceed 2^63)
        u = ids.astype(np.uint64) + np.uint64(1 << 63)
        assert np.all(u[1:] > u[:-1])
        assert ids[0] == b["min_doc_id"] and ids[-1] == b["max_doc_id"]


def test_salting_equivalence(spark, tiny_docs, tmp_path):
    """North-rule skew handling: heavily salted build (salt_target=5 forces
    multi-salt termlists) must produce identical postings and identical
    query results to an unsalted build."""
    a = build_index(
        spark, tiny_docs, str(tmp_path / "a"), n_shards=1, salt_target=10**9,
        block_size=8,
    )
    b = build_index(
        spark, tiny_docs, str(tmp_path / "b"), n_shards=1, salt_target=5,
        block_size=8,
    )
    assert _postings_rows_set(spark, a) == _postings_rows_set(spark, b)
    qa = [(r["doc_id"], round(r["score"], 9)) for r in search(spark, a, "def return", 10).collect()]
    qb = [(r["doc_id"], round(r["score"], 9)) for r in search(spark, b, "def return", 10).collect()]
    assert qa == qb
    # and salting actually happened
    assert b.postings.read(spark).filter(F.col("salt") > 0).count() > 0


def test_checkpoint_resume_identical(spark, tiny_docs, tmp_path):
    """FIXTURES.md §7: kill between shards -> resume -> identical index
    to an uninterrupted build."""
    full = build_index(spark, tiny_docs, str(tmp_path / "full"), n_shards=3)
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(
            spark, tiny_docs, str(tmp_path / "resumed"), n_shards=3,
            fail_after_shard=1,
        )
    resumed = build_index(spark, tiny_docs, str(tmp_path / "resumed"), n_shards=3)
    assert _postings_rows_set(spark, full) == _postings_rows_set(spark, resumed)
    # resume skipped shards 0..1: checkpoints show exactly 3 done rows
    ck = resumed.checkpoints.read(spark)
    assert ck.filter(F.col("status") == "done").count() == 3


def test_resume_rejects_other_code_aware(spark, tiny_docs, tmp_path):
    """A resume tokenizing differently from the shards already committed
    raises before it writes anything."""
    from open_source_search_engine_spark.sources.tables import Manifest

    root = str(tmp_path / "ca")
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(
            spark, tiny_docs, root, n_shards=2, code_aware=True,
            fail_after_shard=0,
        )
    head = Manifest(root).head()
    with pytest.raises(ValueError, match="code_aware"):
        build_index(spark, tiny_docs, root, n_shards=2, code_aware=False)
    assert Manifest(root).head() == head


def test_shard_count_equivalence(spark, tiny_docs, tmp_path):
    """merge(union of shard segments) == build(full): 1-shard and 3-shard
    builds resolve to the same logical postings (S1/U4)."""
    one = build_index(spark, tiny_docs, str(tmp_path / "one"), n_shards=1)
    three = build_index(spark, tiny_docs, str(tmp_path / "three"), n_shards=3)
    assert _postings_rows_set(spark, one) == _postings_rows_set(spark, three)


def test_snapshot_time_travel(spark, micro_index):
    t = micro_index.postings
    versions = t.history()
    assert len(versions) >= 1
    snap = t.at(versions[-1])
    assert snap.segments
    # every snapshot lists only existing segment dirs
    import os

    for seg in snap.segments:
        assert os.path.isdir(seg)
